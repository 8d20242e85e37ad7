"""Structured-Streaming SOURCE over jar-free Delta tables via the
PySpark Python DataSource API.

Beyond-reference (the reference has no streaming at all;
``/root/reference/src/TidierDB.jl`` is a batch SQL transpiler) — the
READ side of the incremental lakehouse story whose write side is
:func:`~.stream.write_stream_delta`:

    register_delta_stream_source(spark)
    df = (spark.readStream.format("delta_jarfree")
          .option("path", "/corpus/docs").load())

is a real Spark streaming source: offsets are Delta LOG VERSIONS, a
micro-batch is the set of files ADDED by the commits in
``(start, end]``, and Spark's own checkpointing of the offsets gives
end-to-end exactly-once when paired with an idempotent sink.  This is
Spark-first by construction — the engine drives `latestOffset` /
`partitions` / `read` planning, one executor task per added file, the
Arrow batch path for rows.

Semantics (matching delta-spark's streaming source):

- Appends stream.  A commit that REMOVES data with ``dataChange=true``
  (overwrite / DELETE / MERGE / RESTORE) is NOT expressible as an
  append stream: it raises by default — set
  ``.option("skipChangeCommits", "true")`` to skip those commits
  (their adds too, matching delta-spark), or consume exact row-level
  changes through :func:`~.delta_cdf.read_delta_cdf` instead.
  OPTIMIZE commits (``dataChange=false``) are skipped automatically.
- ``startingVersion`` option: an int streams commits FROM that
  version (inclusive); ``"latest"`` streams only commits after stream
  start.  Default 0 — refused loudly when the JSON prefix is
  checkpoint-truncated, because the add-per-commit replay is no longer
  reconstructible (pass ``startingVersion`` explicitly, or start
  ``latest``).

The log and data files are read with PURE-PYTHON IO through
:func:`~..sources.fsio.arrow_fs` (the opener the Iceberg writer's
executor tasks use too), because DataSource hooks run in Python workers
with no JVM handle.

Loud gates: protocol minReaderVersion > 1 features (column mapping,
DVs) refuse at planning time rather than emit wrong rows.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

from ..sources.fsio import arrow_fs, list_names, read_bytes

__all__ = ["DeltaJarfreeDataSource", "register_delta_stream_source",
           "read_stream_delta_source"]

_FORMAT_NAME = "delta_jarfree"


# ---- pure-python log access (no JVM in DataSource hooks) -------------

def _list_log(root: str) -> list[str]:
    """Basenames under ``_delta_log/`` (pure python)."""
    names = list_names(f"{root}/_delta_log")
    if names is None:
        raise ValueError(f"{root} is not a Delta table (no _delta_log/)")
    return sorted(names)


def _log_versions(root: str) -> list[int]:
    out = []
    for name in _list_log(root):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _read_commit(root: str, version: int) -> list[dict]:
    raw = read_bytes(f"{root}/_delta_log/{version:020d}.json")
    return [json.loads(line) for line in raw.decode("utf-8").splitlines()
            if line.strip()]


def _table_meta(root: str) -> dict:
    """Latest metaData action (scanning commits newest-first) — the
    schema source for the stream."""
    vs = _log_versions(root)
    if not vs:
        raise ValueError(
            f"{root}: no readable JSON commits — a checkpoint-only log "
            "cannot seed the streaming source's schema"
        )
    for v in reversed(vs):
        for act in _read_commit(root, v):
            if act.get("protocol"):
                p = act["protocol"]
                if int(p.get("minReaderVersion", 1)) > 1 or \
                        p.get("readerFeatures"):
                    raise NotImplementedError(
                        f"{root}: protocol {p} — the streaming source "
                        "reads raw parquet and supports reader v1 "
                        "tables only (no column mapping / DVs)"
                    )
            if act.get("metaData", {}).get("schemaString"):
                return act["metaData"]
    raise ValueError(f"{root}: no metaData action found in the log")


_SPARK_PART_CAST = {
    "string": str, "long": int, "integer": int, "short": int,
    "byte": int, "double": float, "float": float, "boolean":
    lambda s: s.lower() == "true",
}


def _ddl_of(meta: dict) -> str:
    fields = json.loads(meta["schemaString"])["fields"]
    parts = []
    for f in fields:
        t = f["type"]
        if not isinstance(t, str):
            raise NotImplementedError(
                f"streaming source: nested column {f['name']!r} — "
                "primitive columns only"
            )
        parts.append(f"`{f['name']}` {t}")
    return ", ".join(parts)


class _AddFilePartition:
    """One added data file = one input partition (picklable)."""

    def __init__(self, url: str, pvals: dict, schema_json: str,
                 part_cols: list):
        self.url = url
        self.pvals = pvals
        self.schema_json = schema_json
        self.part_cols = part_cols


def _make_stream_reader(options):
    """Build the DataSourceStreamReader lazily so pyspark import stays
    at call time."""
    from pyspark.sql.datasource import (DataSourceStreamReader,
                                        InputPartition)

    class _Part(InputPartition):
        def __init__(self, payload):
            self.payload = payload

    class DeltaStreamReader(DataSourceStreamReader):
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
            self.starting = opts.get("startingversion",
                                     opts.get("startingVersion"))
            self.cdf = str(opts.get("readchangefeed",
                                    opts.get("readChangeFeed",
                                             "false"))).lower() == "true"
            self.meta = _table_meta(self.root)
            self.part_cols = list(self.meta.get("partitionColumns") or [])

        def initialOffset(self):
            vs = _log_versions(self.root)
            if self.starting is not None and \
                    str(self.starting).lower() == "latest":
                return {"version": max(vs) if vs else -1}
            start = 0 if self.starting is None else int(self.starting)
            if not vs or min(vs) > start:
                raise ValueError(
                    f"{self.root}: commit {start} is not in the log "
                    f"(earliest JSON commit: "
                    f"{min(vs) if vs else 'none'}) — the JSON prefix "
                    "was checkpoint-truncated; pass startingVersion "
                    "explicitly or 'latest'"
                )
            return {"version": start - 1}

        def latestOffset(self):
            vs = _log_versions(self.root)
            return {"version": max(vs) if vs else -1}

        def partitions(self, start, end):
            lo, hi = int(start["version"]), int(end["version"])
            out = []
            for v in range(lo + 1, hi + 1):
                acts = _read_commit(self.root, v)
                ts = next((a["commitInfo"].get("timestamp")
                           for a in acts if "commitInfo" in a), None)
                data_removed = any(
                    a.get("remove", {}).get("dataChange", True)
                    for a in acts if "remove" in a)
                adds = [a["add"] for a in acts
                        if "add" in a and a["add"].get("dataChange",
                                                       True)]
                cdc = [a["cdc"] for a in acts if "cdc" in a]
                if self.cdf and cdc:
                    # exact row-level changes: the cdc files carry
                    # their own _change_type column (add/remove
                    # actions of the commit are ignored — protocol)
                    for c in cdc:
                        out.append(_Part((
                            f"{self.root}/{unquote(c['path'])}",
                            dict(c.get("partitionValues") or {}),
                            self.meta["schemaString"],
                            self.part_cols, "cdc", v, ts)))
                    continue
                if data_removed:
                    if self.skip_change:
                        continue  # skip the whole commit, adds included
                    raise ValueError(
                        f"{self.root}: commit {v} removed data "
                        "(overwrite/DELETE/MERGE/RESTORE) "
                        + ("and wrote no cdc files — enable "
                           "delta.enableChangeDataFeed on the table so "
                           "row ops write exact changes, use the batch "
                           "read_delta_cdf(), or set .option("
                           "'skipChangeCommits', 'true')"
                           if self.cdf else
                           "— an append stream cannot express it.  Set "
                           ".option('skipChangeCommits', 'true') to "
                           "skip such commits, or consume row-level "
                           "changes via read_delta_cdf()")
                    )
                for a in adds:
                    if a.get("deletionVector"):
                        raise NotImplementedError(
                            f"{self.root}: commit {v} adds a DV-bearing "
                            "file — streaming source reads raw parquet"
                        )
                    out.append(_Part((
                        f"{self.root}/{unquote(a['path'])}",
                        dict(a.get("partitionValues") or {}),
                        self.meta["schemaString"],
                        self.part_cols,
                        "insert" if self.cdf else None, v, ts)))
            # Spark requires >=1 partition; an empty range yields an
            # empty batch through a no-op partition
            if not out:
                out.append(_Part(None))
            return out

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            if partition.payload is None:
                return iter(())
            (url, pvals, schema_json, part_cols,
             ctype, version, ts) = partition.payload
            fields = json.loads(schema_json)["fields"]

            def pa_type(t: str):
                # arrow types matching Spark's reader expectations —
                # the vectorized accessor is typed per the DECLARED
                # schema, so an int64 array under an `int` column
                # fails at getInt; cast everything explicitly
                m = {"string": pa.string(), "long": pa.int64(),
                     "integer": pa.int32(), "short": pa.int16(),
                     "byte": pa.int8(), "double": pa.float64(),
                     "float": pa.float32(), "boolean": pa.bool_(),
                     "date": pa.date32(), "binary": pa.binary(),
                     "timestamp": pa.timestamp("us", tz="UTC"),
                     "timestamp_ntz": pa.timestamp("us")}
                if t in m:
                    return m[t]
                if t.startswith("decimal"):
                    p, s = t[t.index("(") + 1:-1].split(",")
                    return pa.decimal128(int(p), int(s))
                raise NotImplementedError(
                    f"streaming source: column type {t!r}")
            filesystem, pth = arrow_fs(url)
            table = pq.read_table(pth, filesystem=filesystem)
            n = table.num_rows
            cols = []
            for f in fields:
                name, t = f["name"], f["type"]
                if name in part_cols:
                    raw = pvals.get(name)
                    if raw is None:
                        val = None
                    elif t == "date":
                        import datetime

                        val = datetime.date.fromisoformat(raw)
                    elif t in _SPARK_PART_CAST:
                        val = _SPARK_PART_CAST[t](raw)
                    else:
                        raise NotImplementedError(
                            f"partition column {name!r} of type {t!r}")
                    cols.append(pa.array([val] * n, type=pa_type(t)))
                else:
                    cols.append(table.column(name).cast(pa_type(t)))
            names = [f["name"] for f in fields]
            if ctype is not None:
                # CDF mode: _change_type from the cdc file itself, or
                # the derived literal; version/timestamp as constants
                if ctype == "cdc":
                    cols.append(table.column("_change_type")
                                .cast(pa.string()))
                else:
                    cols.append(pa.array([ctype] * n, type=pa.string()))
                cols.append(pa.array([int(version)] * n,
                                     type=pa.int64()))
                tsv = None if ts is None else int(ts) * 1000
                cols.append(pa.array(
                    [tsv] * n, type=pa.timestamp("us", tz="UTC")))
                names += ["_change_type", "_commit_version",
                          "_commit_timestamp"]
            yield from pa.table(dict(zip(names, cols))).to_batches()

        def commit(self, end):
            pass  # offsets live in Spark's checkpoint

    return DeltaStreamReader(options)


def _register(spark):
    from pyspark.sql.datasource import DataSource

    class DeltaJarfree(DataSource):
        @classmethod
        def name(cls):
            return _FORMAT_NAME

        def schema(self):
            root = str(self.options.get("path", "")).rstrip("/")
            if not root:
                raise ValueError(
                    f"{_FORMAT_NAME}: .option('path', <table root>) is "
                    "required")
            ddl = _ddl_of(_table_meta(root))
            if str(self.options.get(
                    "readchangefeed",
                    self.options.get("readChangeFeed",
                                     "false"))).lower() == "true":
                ddl += (", `_change_type` string, "
                        "`_commit_version` long, "
                        "`_commit_timestamp` timestamp")
            return ddl

        def streamReader(self, schema):
            return _make_stream_reader(self.options)

    spark.dataSource.register(DeltaJarfree)
    return DeltaJarfree


# public alias for __all__ stability (the class itself is built lazily
# against the live pyspark import inside _register)
DeltaJarfreeDataSource = None


def register_delta_stream_source(spark):
    """Register the ``delta_jarfree`` streaming format on this session
    (idempotent).  After this, ``spark.readStream.format(
    'delta_jarfree').option('path', root).load()`` tails the table."""
    global DeltaJarfreeDataSource
    DeltaJarfreeDataSource = _register(spark)
    return _FORMAT_NAME


def read_stream_delta_source(spark, path: str, **options):
    """Convenience wrapper: register + readStream over the Delta table
    at ``path``; returns a streaming TidyFrame.  ``options`` pass
    through (``startingVersion``, ``skipChangeCommits``)."""
    from ..core import TidyFrame

    register_delta_stream_source(spark)
    reader = spark.readStream.format(_FORMAT_NAME).option("path",
                                                          str(path))
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return TidyFrame(reader.load())
