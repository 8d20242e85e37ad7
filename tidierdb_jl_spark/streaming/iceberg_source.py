"""Structured-Streaming SOURCE over jar-free Iceberg v2 tables via the
PySpark Python DataSource API — the Iceberg twin of
:mod:`.delta_source`.

    register_iceberg_stream_source(spark)
    df = (spark.readStream.format("iceberg_jarfree")
          .option("path", "/corpus/docs").load())

Offsets are SNAPSHOT SEQUENCE NUMBERS: a micro-batch is the data files
ADDED by the snapshots whose sequence number falls in ``(start, end]``
(spec: every snapshot carries a monotonically increasing
``sequence-number``; added manifest entries inherit it).  Spark
checkpoints the offsets, giving exactly-once with an idempotent sink.

Semantics (matching the iceberg-spark streaming source):

- ``append`` snapshots stream their added files.
- ``replace`` snapshots (rewriteDataFiles compaction) are SKIPPED
  automatically — rows did not change, streaming their output would
  duplicate every compacted row.
- ``overwrite`` / ``delete`` snapshots raise by default —
  ``.option("skipChangeCommits", "true")`` skips them wholesale.
- ``startingSequence`` option: an int streams snapshots with sequence
  number >= it; ``"latest"`` streams only snapshots after stream
  start.  Expired (no longer retained) snapshots inside the requested
  range refuse loudly — the add-set is no longer reconstructible.

All metadata and data IO is PURE PYTHON (through
:func:`~..sources.fsio.arrow_fs`; Avro manifests through
the in-repo :func:`~..sources.avro_lite.decode_avro_container`),
because DataSource hooks run in Python workers with no JVM handle.
Source columns live IN Iceberg data files (identity and transformed
partitioning both keep them — spec), so no partition re-attachment is
needed; files are projected by name with a loud gate on absent
columns (a rename without ids is indistinguishable from a drop).
"""

from __future__ import annotations

import json

from ..sources.fsio import arrow_fs, list_names, read_bytes

__all__ = ["register_iceberg_stream_source",
           "read_stream_iceberg_source"]

_FORMAT_NAME = "iceberg_jarfree"

_ICE_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "long",
    "float": "float", "double": "double", "date": "date",
    "string": "string", "binary": "binary",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
}

_ICE_TO_ARROW = {
    "boolean": "bool_", "int": "int32", "long": "int64",
    "float": "float32", "double": "float64", "date": "date32",
    "string": "string", "binary": "binary",
}


def _latest_meta(root: str) -> dict:
    """Latest metadata json, pure-python (version-hint fast path, full
    listing fallback — same contract as the JVM reader's)."""
    mdir = f"{root}/metadata"
    names = list_names(mdir)
    if names is None:
        raise ValueError(f"{root} is not an Iceberg table "
                         "(no metadata/)")

    def ver(n: str) -> int:
        head = n[: -len(".metadata.json")]
        return int(head[1:] if head.startswith("v")
                   else head.split("-", 1)[0])

    cands = [n for n in names if n.endswith(".metadata.json")]
    if not cands:
        raise ValueError(f"{root}: no metadata.json files")
    best = max(cands, key=ver)
    return json.loads(read_bytes(f"{mdir}/{best}").decode("utf-8"))


def _resolve(root: str, p: str) -> str:
    """Absolute path for a metadata-recorded location, re-rooted when
    the table moved (mirrors the reader's _resolve_path contract for
    the hadoop layout)."""
    if "/metadata/" in p:
        return f"{root}/metadata/" + p.rsplit("/metadata/", 1)[-1]
    if "/data/" in p:
        return f"{root}/data/" + p.rsplit("/data/", 1)[-1]
    return p if "://" in p or p.startswith("/") else f"{root}/{p}"


def _current_fields(meta: dict) -> list[dict]:
    sch = next(s for s in meta["schemas"]
               if s.get("schema-id") == meta.get("current-schema-id", 0))
    return sch["fields"]


def _ddl_of(meta: dict) -> str:
    parts = []
    for f in _current_fields(meta):
        t = f["type"]
        if not isinstance(t, str):
            raise NotImplementedError(
                f"streaming source: nested column {f['name']!r}")
        if t.startswith("decimal"):
            spark_t = t
        elif t in _ICE_TO_SPARK:
            spark_t = _ICE_TO_SPARK[t]
        else:
            raise NotImplementedError(
                f"streaming source: iceberg type {t!r}")
        parts.append(f"`{f['name']}` {spark_t}")
    return ", ".join(parts)


def _added_files(root: str, snap: dict) -> list[str]:
    """Data files ADDED by this snapshot (status 1, snapshot id
    explicit or inherited from the manifest-list entry)."""
    from ..sources.avro_lite import decode_avro_container

    sid = snap["snapshot-id"]
    out = []
    _meta, mlist = decode_avro_container(
        read_bytes(_resolve(root, snap["manifest-list"])))
    for m in mlist:
        if int(m.get("content") or 0) != 0:
            continue  # delete manifests gate at snapshot level
        if m.get("added_snapshot_id") not in (None, sid) and \
                int(m.get("added_data_files_count") or 0) == 0:
            continue  # carried manifest with nothing added
        _h, entries = decode_avro_container(
            read_bytes(_resolve(root, m["manifest_path"])))
        for e in entries:
            if int(e.get("status") or 0) != 1:
                continue
            esid = e.get("snapshot_id")
            if esid is None:
                esid = m.get("added_snapshot_id")
            if esid == sid:
                out.append(_resolve(
                    root, e["data_file"]["file_path"]))
    return out


def _snap_has_deletes(root: str, snap: dict) -> bool:
    from ..sources.avro_lite import decode_avro_container

    _h, mlist = decode_avro_container(
        read_bytes(_resolve(root, snap["manifest-list"])))
    sid = snap["snapshot-id"]
    return any(int(m.get("content") or 0) == 1
               and m.get("added_snapshot_id") == sid for m in mlist)


def _make_stream_reader(options):
    from pyspark.sql.datasource import (DataSourceStreamReader,
                                        InputPartition)

    class _Part(InputPartition):
        def __init__(self, payload):
            self.payload = payload

    class IcebergStreamReader(DataSourceStreamReader):
        def __init__(self, opts):
            self.root = str(opts.get("path", "")).rstrip("/")
            if not self.root:
                raise ValueError(
                    f"{_FORMAT_NAME}: .option('path', <table root>) is "
                    "required")
            self.skip_change = str(
                opts.get("skipchangecommits",
                         opts.get("skipChangeCommits",
                                  "false"))).lower() == "true"
            self.starting = opts.get("startingsequence",
                                     opts.get("startingSequence"))
            meta = _latest_meta(self.root)
            if int(meta.get("format-version", 1)) != 2:
                raise NotImplementedError(
                    f"{self.root}: streaming supports format-version 2")
            self.fields = _current_fields(meta)

        def _snaps(self):
            meta = _latest_meta(self.root)
            return sorted(meta.get("snapshots") or [],
                          key=lambda s: s.get("sequence-number") or 0)

        def initialOffset(self):
            snaps = self._snaps()
            if self.starting is not None and \
                    str(self.starting).lower() == "latest":
                return {"seq": (snaps[-1].get("sequence-number") or 0)
                        if snaps else 0}
            start = 1 if self.starting is None else int(self.starting)
            if snaps and min(s.get("sequence-number") or 0
                             for s in snaps) > start:
                raise ValueError(
                    f"{self.root}: snapshots below sequence "
                    f"{min(s.get('sequence-number') or 0 for s in snaps)} "
                    "were expired — their add-sets are gone; pass "
                    "startingSequence explicitly or 'latest'"
                )
            return {"seq": start - 1}

        def latestOffset(self):
            snaps = self._snaps()
            return {"seq": (snaps[-1].get("sequence-number") or 0)
                    if snaps else 0}

        def partitions(self, start, end):
            lo, hi = int(start["seq"]), int(end["seq"])
            by_seq = {s.get("sequence-number") or 0: s
                      for s in self._snaps()}
            out = []
            for seq in range(lo + 1, hi + 1):
                snap = by_seq.get(seq)
                if snap is None:
                    raise ValueError(
                        f"{self.root}: snapshot with sequence {seq} "
                        "expired mid-stream — its add-set is no longer "
                        "reconstructible"
                    )
                op = (snap.get("summary") or {}).get("operation",
                                                     "append")
                if op == "replace":
                    continue  # compaction: rows unchanged
                if op != "append" or _snap_has_deletes(self.root, snap):
                    if self.skip_change:
                        continue
                    raise ValueError(
                        f"{self.root}: snapshot seq {seq} is "
                        f"{op!r} (data changed) — an append stream "
                        "cannot express it; set .option("
                        "'skipChangeCommits', 'true') to skip"
                    )
                for fp in _added_files(self.root, snap):
                    out.append(_Part((fp, json.dumps(self.fields))))
            if not out:
                out.append(_Part(None))
            return out

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            if partition.payload is None:
                return iter(())
            url, fields_json = partition.payload
            fields = json.loads(fields_json)
            filesystem, pth = arrow_fs(url)
            table = pq.read_table(pth, filesystem=filesystem)

            def pa_type(t: str):
                if t.startswith("decimal"):
                    p, s = t[t.index("(") + 1:-1].split(",")
                    return pa.decimal128(int(p), int(s))
                if t == "timestamptz":
                    return pa.timestamp("us", tz="UTC")
                if t == "timestamp":
                    return pa.timestamp("us")
                if t in _ICE_TO_ARROW:
                    return getattr(pa, _ICE_TO_ARROW[t])()
                raise NotImplementedError(
                    f"streaming source: iceberg type {t!r}")

            cols = {}
            have = set(table.column_names)
            for f in fields:
                if f["name"] not in have:
                    raise ValueError(
                        f"{url}: column {f['name']!r} absent from the "
                        "data file — a rename without footer-id "
                        "resolution; use the batch reader"
                    )
                cols[f["name"]] = table.column(f["name"]).cast(
                    pa_type(f["type"]))
            yield from pa.table(cols).to_batches()

        def commit(self, end):
            pass

    return IcebergStreamReader(options)


def register_iceberg_stream_source(spark):
    """Register the ``iceberg_jarfree`` streaming format on this
    session (idempotent)."""
    from pyspark.sql.datasource import DataSource

    class IcebergJarfree(DataSource):
        @classmethod
        def name(cls):
            return _FORMAT_NAME

        def schema(self):
            root = str(self.options.get("path", "")).rstrip("/")
            if not root:
                raise ValueError(
                    f"{_FORMAT_NAME}: .option('path', <table root>) is "
                    "required")
            return _ddl_of(_latest_meta(root))

        def streamReader(self, schema):
            return _make_stream_reader(self.options)

    spark.dataSource.register(IcebergJarfree)
    return _FORMAT_NAME


def read_stream_iceberg_source(spark, path: str, **options):
    """Convenience wrapper: register + readStream over the Iceberg
    table at ``path``; returns a streaming TidyFrame."""
    from ..core import TidyFrame

    register_iceberg_stream_source(spark)
    reader = spark.readStream.format(_FORMAT_NAME).option("path",
                                                          str(path))
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return TidyFrame(reader.load())
