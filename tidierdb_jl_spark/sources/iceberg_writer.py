"""Apache Iceberg v2 table WRITER without connector jars.

Beyond-reference (the reference is read-only on Iceberg:
``/root/reference/src/TidierDB.jl:161-165`` scans via DuckDB's
iceberg_scan) — the WRITE side of the public table spec
(https://iceberg.apache.org/spec/) for hadoop-layout tables:

- **Data files**: parquet written EXECUTOR-side with pyarrow (one file
  per non-empty Spark partition, uuid names under ``data/``), each
  top-level column carrying its ``PARQUET:field_id`` — what real
  Iceberg readers (and this repo's field-id resolver) key on.
- **Manifests / manifest lists**: Avro files emitted by the in-repo
  spec-written encoder (:func:`.avro_lite.encode_avro_container` —
  verified against the independent test encoder and the spec's zigzag
  vectors).  Append reuses the previous snapshot's manifests and adds
  one; overwrite references only the new manifest (history stays
  time-travelable through the retained snapshots).
- **Metadata**: ``metadata/v<N>.metadata.json`` committed with
  ``create(overwrite=False)`` (the hadoop-catalog optimistic protocol;
  losers re-read and retry) + ``version-hint.text`` best-effort (the
  reader falls back to listing and picks the highest version, so a
  stale hint cannot roll the table back).

Scope (loud gates, never guesses): v2 tables with primitive columns,
unpartitioned or partitioned with IDENTITY (int/long/string/date),
BUCKET[N] (int/long/string — spec-exact murmur3_x86_32 via
:mod:`.murmur3`, verified against the spec's Appendix-B vectors) and
TRUNCATE[W] (int/long/string) and YEAR/MONTH/DAY/HOUR (date/timestamp
epoch ordinals) transforms (r12 — each data_file carries the spec's
``partition`` struct, field 102, and the metadata carries the
partition spec; other transforms refuse); append / overwrite / error
modes; :func:`expire_snapshots_iceberg` reference-counted snapshot
expiration; schema and
partition-spec changes refuse (Iceberg evolution is field-id surgery —
widen through a new table or a connector jar).  Row-level deletes and
format v3 features are read-side only in this repo.

Spec conformance of the Avro metadata (r12, the r11-ADVICE item): the
manifest/manifest-list schemas carry the spec's ``field-id`` properties
on every field, the required ``partition`` struct (record ``r102``),
and the six v2-required count fields on manifest_file entries — the
resolution keys java Iceberg and pyiceberg reject tables without.

Readable back by :mod:`.iceberg` (developed two rounds earlier against
hand-built spec fixtures — independent of this writer), which is the
roundtrip evidence; structural spec conformance (field ids, sequence
numbers, snapshot log) is asserted in the tests.
"""

from __future__ import annotations

import json
import time
import uuid

__all__ = ["write_iceberg", "snapshots_iceberg",
           "expire_snapshots_iceberg", "last_streaming_batch"]

_MAX_COMMIT_RETRIES = 20

_SPARK_TO_ICEBERG = {
    "boolean": "boolean", "integer": "int", "long": "long",
    "float": "float", "double": "double", "date": "date",
    "string": "string", "binary": "binary",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
}

# partition-source types this writer accepts per transform; the Avro
# type of the r102 partition field follows the Iceberg->Avro mapping
_PART_AVRO = {"int": "int", "long": "long", "string": "string",
              "date": {"type": "int", "logicalType": "date"}}
# spec "Partition Transforms": bucket = (murmur3_x86_32(bytes) &
# Integer.MAX_VALUE) % N over the single-value byte form (ints hash as
# 8-byte LE longs, strings as UTF-8); truncate = W*floor(v/W) for
# integers, first-W-chars for strings; year/month/day/hour = calendar
# ordinals since the 1970 epoch (floor semantics — the session is
# UTC-pinned, so pandas-naive timestamps ARE the UTC instants the spec
# buckets on)
_TRANSFORM_SOURCES = {
    "identity": set(_PART_AVRO),
    "bucket": {"int", "long", "string"},
    "truncate": {"int", "long", "string"},
    "year": {"date", "timestamp", "timestamptz"},
    "month": {"date", "timestamp", "timestamptz"},
    "day": {"date", "timestamp", "timestamptz"},
    "hour": {"timestamp", "timestamptz"},
}


def _parse_partition_by(partition_by, by_name, root: str) -> list[dict]:
    """Normalize ``partition_by`` entries — ``"col"`` (identity),
    ``"bucket(N, col)"``, ``"truncate(W, col)"``, ``"year(col)"`` /
    ``"month(col)"`` / ``"day(col)"`` / ``"hour(col)"`` — into
    partition-field dicts
    {name, transform, param, source, ice_type, field-id}."""
    import re

    entries = ([partition_by] if isinstance(partition_by, str)
               else list(partition_by or []))
    out = []
    for i, e in enumerate(entries):
        e = str(e).strip()
        m = re.fullmatch(r"(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)", e)
        mt = re.fullmatch(r"(year|month|day|hour)\(\s*(\w+)\s*\)", e)
        if m:
            transform, param, src = m.group(1), int(m.group(2)), m.group(3)
            if param < 1:
                raise ValueError(
                    f"write_iceberg: {transform} needs a positive "
                    f"parameter, got {e!r}"
                )
        elif mt:
            transform, param, src = mt.group(1), None, mt.group(2)
        else:
            transform, param, src = "identity", None, e
        if src not in by_name:
            raise ValueError(
                f"write_iceberg: partition_by column {src!r} not in "
                "columns"
            )
        ice_t = by_name[src]["type"]
        if ice_t not in _TRANSFORM_SOURCES[transform]:
            raise NotImplementedError(
                f"write_iceberg: partition transform {transform!r} on "
                f"type {ice_t} — supported source types: "
                f"{sorted(_TRANSFORM_SOURCES[transform])}"
            )
        suffix = {"identity": None, "bucket": "bucket",
                  "truncate": "trunc", "year": "year", "month": "month",
                  "day": "day", "hour": "hour"}[transform]
        name = src if suffix is None else f"{src}_{suffix}"
        out.append({"name": name, "transform": transform, "param": param,
                    "source": src, "ice_type": ice_t,
                    "field-id": 1000 + i})
    if len({pf["name"] for pf in out}) != len(out):
        raise ValueError(
            f"write_iceberg: duplicate partition field names at {root}")
    return out


def _transform_values(pf: dict, s):
    """Apply one partition transform to a pandas Series (executor-side,
    vectorized for the numeric-bucket hot path); returns an object
    Series with None for null inputs (spec: null partitions as null)."""
    import numpy as np
    import pandas as pd

    t = pf["transform"]
    if t == "identity":
        return s
    if t == "bucket":
        from tidierdb_jl_spark.sources.murmur3 import (
            murmur3_32, murmur3_32_long_vec,
        )

        n = pf["param"]
        if pf["ice_type"] in ("int", "long"):
            mask = s.isna()
            h = murmur3_32_long_vec(s.fillna(0).astype("int64").to_numpy())
            out = pd.Series(((h.astype(np.int64) & 0x7FFFFFFF) % n),
                            index=s.index).astype("object")
            out[mask.to_numpy()] = None
            return out
        return s.map(lambda v: None if v is None else
                     (murmur3_32(str(v).encode("utf-8")) & 0x7FFFFFFF) % n)
    if t == "truncate":
        w = pf["param"]
        if pf["ice_type"] in ("int", "long"):
            mask = s.isna()
            vals = s.fillna(0).astype("int64").to_numpy()
            out = pd.Series(vals - np.mod(vals, w),
                            index=s.index).astype("object")
            out[mask.to_numpy()] = None
            return out
        return s.map(lambda v: None if v is None else str(v)[:w])
    if t in ("year", "month", "day", "hour"):
        mask = s.isna()
        dt = pd.to_datetime(s[~mask])
        if t == "year":
            vals = dt.dt.year - 1970
        elif t == "month":
            vals = (dt.dt.year - 1970) * 12 + (dt.dt.month - 1)
        elif t == "day":
            vals = (dt.dt.normalize().astype("int64")
                    // 86_400_000_000_000)
        else:  # hour
            vals = dt.astype("int64") // 3_600_000_000_000
        out = pd.Series([None] * len(s), index=s.index, dtype="object")
        out[~mask.to_numpy()] = [int(v) for v in vals]
        return out
    raise NotImplementedError(f"transform {t!r}")


def _manifest_entry_schema(part_fields: list[dict]) -> dict:
    """The v2 ``manifest_entry`` Avro schema WITH the spec's field-id
    properties and the required ``partition`` struct (field 102, record
    name ``r102`` — one field per partition-spec field, ids 1000+) —
    what java Iceberg / pyiceberg key their schema resolution on
    (https://iceberg.apache.org/spec/#manifests)."""
    r102 = {"type": "record", "name": "r102", "fields": [
        {"name": pf["name"], "field-id": pf["field-id"],
         "type": ["null", _PART_AVRO[pf["ice_type"]]], "default": None}
        for pf in part_fields
    ]}
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "field-id": 0, "type": "int"},
            {"name": "snapshot_id", "field-id": 1,
             "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "field-id": 3,
             "type": ["null", "long"], "default": None},
            {"name": "file_sequence_number", "field-id": 4,
             "type": ["null", "long"], "default": None},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "field-id": 134, "type": "int"},
                    {"name": "file_path", "field-id": 100,
                     "type": "string"},
                    {"name": "file_format", "field-id": 101,
                     "type": "string"},
                    {"name": "partition", "field-id": 102, "type": r102},
                    {"name": "record_count", "field-id": 103,
                     "type": "long"},
                    {"name": "file_size_in_bytes", "field-id": 104,
                     "type": "long"},
                ]}},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    # spec "Manifest Lists": field ids 500-519; the six count fields are
    # REQUIRED in v2 (java Iceberg rejects manifest lists without them)
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "field-id": 500, "type": "string"},
        {"name": "manifest_length", "field-id": 501, "type": "long"},
        {"name": "partition_spec_id", "field-id": 502, "type": "int"},
        {"name": "content", "field-id": 517, "type": "int"},
        {"name": "sequence_number", "field-id": 515, "type": "long"},
        {"name": "min_sequence_number", "field-id": 516, "type": "long"},
        {"name": "added_snapshot_id", "field-id": 503, "type": "long"},
        {"name": "added_data_files_count", "field-id": 504,
         "type": "int"},
        {"name": "existing_data_files_count", "field-id": 505,
         "type": "int"},
        {"name": "deleted_data_files_count", "field-id": 506,
         "type": "int"},
        {"name": "added_rows_count", "field-id": 512, "type": "long"},
        {"name": "existing_rows_count", "field-id": 513, "type": "long"},
        {"name": "deleted_rows_count", "field-id": 514, "type": "long"},
    ],
}


def _iceberg_schema(df_schema, path: str) -> list[dict]:
    """Spark StructType -> iceberg schema fields.  Top-level columns
    get ids 1..n; NESTED ids (struct children, list element-ids — r12,
    the embeddings-table shape ``array<float>``) are allocated in DFS
    order after the top level.  Any unique deterministic numbering is
    spec-legal; appends re-derive the same numbering, so the schema-key
    equality check stays exact.  Maps refuse (no corpus table keys on
    them; evolution would be id surgery)."""
    from pyspark.sql import types as T

    top = list(df_schema.fields)
    counter = [len(top)]

    def next_id() -> int:
        counter[0] += 1
        return counter[0]

    def conv(t, col: str):
        if isinstance(t, T.DecimalType):
            return f"decimal({t.precision}, {t.scale})"
        prim = _SPARK_TO_ICEBERG.get(t.typeName())
        if prim is not None:
            return prim
        if isinstance(t, T.ArrayType):
            eid = next_id()
            return {"type": "list", "element-id": eid,
                    "element": conv(t.elementType, col),
                    "element-required": not t.containsNull}
        if isinstance(t, T.StructType):
            fields = []
            for f in t.fields:
                fid = next_id()
                fields.append({"id": fid, "name": f.name,
                               "required": not f.nullable,
                               "type": conv(f.dataType, col)})
            return {"type": "struct", "fields": fields}
        raise NotImplementedError(
            f"write_iceberg: column {col!r} has type "
            f"{t.simpleString()} — primitive, array and struct "
            "columns only"
        )

    out = []
    for i, f in enumerate(top, start=1):
        out.append({"id": i, "name": f.name, "required": False,
                    "type": conv(f.dataType, f.name)})
    return out


def _arrow_type(ice_t):
    """Arrow type for an iceberg type (nested field-ids ride the child
    field metadata — what parquet-cpp writes into the footer)."""
    import pyarrow as pa

    if isinstance(ice_t, dict):
        if ice_t.get("type") == "list":
            elem = pa.field(
                "element", _arrow_type(ice_t["element"]),
                nullable=not ice_t.get("element-required", False),
                metadata={b"PARQUET:field_id":
                          str(ice_t["element-id"]).encode()})
            return pa.list_(elem)
        if ice_t.get("type") == "struct":
            return pa.struct([
                pa.field(f["name"], _arrow_type(f["type"]),
                         nullable=not f.get("required", False),
                         metadata={b"PARQUET:field_id":
                                   str(f["id"]).encode()})
                for f in ice_t["fields"]
            ])
        raise NotImplementedError(f"iceberg type {ice_t!r}")
    m = {"boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
         "float": pa.float32(), "double": pa.float64(),
         "date": pa.date32(), "string": pa.string(),
         "binary": pa.binary(),
         "timestamptz": pa.timestamp("us", tz="UTC"),
         "timestamp": pa.timestamp("us")}
    if ice_t in m:
        return m[ice_t]
    if ice_t.startswith("decimal"):
        p, s = ice_t[ice_t.index("(") + 1:-1].split(",")
        return pa.decimal128(int(p), int(s))
    raise NotImplementedError(f"iceberg type {ice_t!r}")


def _schema_key(fields: list[dict]):
    return [(f["id"], f["name"], f["type"]) for f in fields]


def _write_data_files(df, root: str, fields: list[dict],
                      pfields: list[dict],
                      sort_cols: list | None = None) -> list[tuple]:
    """Distributed pyarrow write: one parquet file per non-empty input
    partition AND partition-value tuple under ``data/`` (partitioned
    tables get conventional ``data/k=v/`` dirs), every column stamped
    with its PARQUET:field_id.  SOURCE columns stay IN the data files
    (what java Iceberg writes too — the reader scans them back
    directly).  Transforms are computed executor-side (murmur3 bucket /
    truncate / identity, :func:`_transform_values`) into a ``__pv``
    tuple column FIRST, and the frame is repartitioned by it — so every
    partition value lands in exactly ONE task and writes ONE file, the
    100 TB layout even for bucket transforms no JVM expression can
    compute.  Returns
    [(file_path, record_count, size, partition_values_json)] —
    driver-resident manifest metadata, never row data.  Every written
    file seeds the reader's footer memo (:mod:`.iceberg`) with the
    stamped top-level fields, so reading it back probes no footer."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    names = [f["name"] for f in fields]
    ids = {f["name"]: f["id"] for f in fields}
    if pfields:
        pnames = [pf["name"] for pf in pfields]

        @pandas_udf("string", PandasUDFType.SCALAR)
        def pv_json(*cols):
            import json as _json

            import pandas as pd

            vals = [_transform_values(pf, s)
                    for pf, s in zip(pfields, cols)]
            def row(i):
                d = {}
                for nm, s in zip(pnames, vals):
                    v = s.iloc[i]
                    if pd.isna(v):
                        v = None
                    elif hasattr(v, "item"):
                        v = v.item()
                    d[nm] = v
                return _json.dumps(d)
            return pd.Series([row(i) for i in range(len(cols[0]))])

        df = df.withColumn(
            "__pv", pv_json(*[F.col(pf["source"]) for pf in pfields]))
        df = df.repartition("__pv")
    if sort_cols:
        # within-task clustering (e.g. the Z-order rewrite): pandas
        # groupby(sort=True) below preserves within-group row order, so
        # the sorted layout reaches the parquet row groups
        df = df.sortWithinPartitions(*sort_cols)

    def task(batches):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        from tidierdb_jl_spark.sources.fsio import arrow_fs

        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        groups = ([("{}", pdf)] if not pfields else
                  [(k, g) for k, g in pdf.groupby("__pv", dropna=False,
                                                  sort=True)])
        out_rows = []
        # target schema built from the ICEBERG fields (not inferred):
        # nested field-ids ride child-field metadata, and the cast pins
        # arrow types to the declared schema (float32 embeddings stay
        # float32 instead of pandas' float64 inference)
        sch = pa.schema([
            pa.field(f["name"], _arrow_type(f["type"]),
                     nullable=True,
                     metadata={b"PARQUET:field_id":
                               str(ids[f["name"]]).encode()})
            for f in fields
        ])
        for pv_key, g in groups:
            g = g[names].reset_index(drop=True)
            # build each column AGAINST the declared type (never infer
            # and cast: pandas dicts infer struct fields alphabetically,
            # and a struct cast cannot reorder fields)
            table = pa.Table.from_arrays(
                [pa.Array.from_pandas(g[fld.name], type=fld.type)
                 for fld in sch],
                schema=sch)
            pv = _json.loads(pv_key)
            seg = "".join(f"{k}={'null' if v is None else v}/"
                          for k, v in pv.items())
            rel = f"data/{seg}{uuid.uuid4().hex}.parquet"
            url = f"{root}/{rel}"
            filesystem, pth = arrow_fs(url)
            if isinstance(filesystem, pafs.LocalFileSystem):
                # object stores have no directories to make
                filesystem.create_dir(pth.rsplit("/", 1)[0],
                                      recursive=True)
            with filesystem.open_output_stream(pth) as out:
                pq.write_table(table, out)
            size = filesystem.get_file_info(pth).size
            out_rows.append((url, len(g), int(size), pv_key))
        yield pd.DataFrame(out_rows, columns=["path", "n", "size", "pv"])

    from .iceberg import _memo_footers

    rows = df.mapInPandas(
        task, "path string, n long, size long, pv string").collect()
    # the top-level (name, id) list every file carries — the same
    # fields ``sch`` stamps, shared by all entries of this write
    top = tuple((f["name"], int(f["id"])) for f in fields)
    _memo_footers(((r["path"], int(r["size"])), top) for r in rows)
    return [(r["path"], int(r["n"]), int(r["size"]),
             json.loads(r["pv"])) for r in rows]


def last_streaming_batch(spark, path: str, app_id: str) -> int:
    """Highest ``streaming-batch-id`` committed by ``app_id`` across
    the RETAINED snapshots' summaries, or -1 — the Iceberg-side
    idempotent-writer check (the real iceberg-spark sink stamps commit
    summaries the same way; Delta's equivalent is the ``txn`` action,
    :func:`~.delta_writer.last_txn_version`).  Snapshot expiration can
    only forget watermarks older than the retained window — Structured
    Streaming never replays batches that old (its own checkpoint moves
    strictly forward)."""
    from .fsio import fs_exists, join_path, read_text
    from .iceberg import _latest_metadata

    root = str(path).rstrip("/")
    if not fs_exists(spark, join_path(root, "metadata")):
        return -1
    try:
        meta = json.loads(read_text(spark, _latest_metadata(spark, root)))
    except ValueError:
        return -1
    best = -1
    for s in meta.get("snapshots", []):
        summ = s.get("summary") or {}
        if summ.get("streaming-app-id") == app_id:
            try:
                best = max(best, int(summ.get("streaming-batch-id")))
            except (TypeError, ValueError):
                continue
    return best


def write_iceberg(tf, path: str, mode: str = "append",
                  partition_by=None,
                  summary_extra: dict | None = None) -> int:
    """Commit ``tf`` to the Iceberg table at ``path``; returns the new
    snapshot id.  Module docstring has the scope contract.

    ``partition_by`` (r12): entries are ``"col"`` (identity),
    ``"bucket(N, col)"`` (murmur3 hash bucket — the high-cardinality
    key layout) or ``"truncate(W, col)"`` (range prefix) — the corpus
    layouts a 100 TB documents table actually uses.  The spec's
    partition spec (spec-id 0, partition field ids 1000+) goes into the
    metadata, each data_file's ``partition`` struct (field 102) carries
    the TRANSFORMED tuple, and the source columns stay in the data
    files (what java Iceberg writes).  Repartitioning an existing table
    refuses — that is spec evolution."""
    from .fsio import (fs_exists, fs_mkdirs, hadoop_fs, join_path,
                       read_text, write_text_atomic)
    from .iceberg import _latest_metadata
    from .avro_lite import encode_avro_container

    if mode not in ("append", "overwrite", "error"):
        raise ValueError(f"write_iceberg: mode {mode!r} "
                         "(append|overwrite|error)")
    df = tf.df if hasattr(tf, "df") else tf
    spark = df.sparkSession
    root = str(path).rstrip("/")
    fields = _iceberg_schema(df.schema, root)
    by_name = {f["name"]: f for f in fields}

    pfields = _parse_partition_by(partition_by, by_name, root)
    spec_fields, part_fields = [], []
    for pf in pfields:
        t = pf["transform"]
        # result types per spec "Partition Transforms": bucket and the
        # yearly/monthly/hourly ordinals are ints, day is a date, the
        # rest carry the source type
        if t == "bucket" or t in ("year", "month", "hour"):
            res_t = "int"
        elif t == "day":
            res_t = "date"
        else:
            res_t = pf["ice_type"]
        spec_fields.append({
            "name": pf["name"],
            "transform": (t if pf["param"] is None
                          else f"{t}[{pf['param']}]"),
            "source-id": by_name[pf["source"]]["id"],
            "field-id": pf["field-id"],
        })
        part_fields.append({
            "name": pf["name"], "field-id": pf["field-id"],
            "ice_type": res_t,
        })
    entry_schema = _manifest_entry_schema(part_fields)

    mdir = join_path(root, "metadata")
    exists = fs_exists(spark, mdir)
    if exists and mode == "error":
        raise ValueError(
            f"write_iceberg: {root} already exists (mode=error)")
    fs_mkdirs(spark, mdir)
    fs_mkdirs(spark, join_path(root, "data"))

    files = _write_data_files(df, root, fields, pfields)
    if not files:  # empty batch: still a valid (possibly empty) commit
        files = []

    def _create(spark_, p: str, data: bytes) -> bool:
        fs, hp = hadoop_fs(spark_, p)
        try:
            stream = fs.create(hp, False)
        except Exception:  # noqa: BLE001 — already exists: lost the race
            return False
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True

    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_version = None, -1
        if fs_exists(spark, mdir):
            try:
                mpath = _latest_metadata(spark, root)
            except ValueError:
                mpath = None
            if mpath is not None:
                meta = json.loads(read_text(spark, mpath))
                name = mpath.rsplit("/", 1)[-1]
                head = name[:-len(".metadata.json")]
                meta_version = int(head[1:] if head.startswith("v")
                                   else head.split("-", 1)[0])
        if meta is not None:
            cur_fields = next(
                s for s in meta["schemas"]
                if s.get("schema-id") == meta.get("current-schema-id", 0)
            )["fields"]
            if _schema_key(cur_fields) != _schema_key(fields):
                raise ValueError(
                    f"write_iceberg: batch schema does not match the "
                    f"table schema at {root} — Iceberg evolution is "
                    "field-id surgery this jar-free writer refuses"
                )
            cur_spec = next(
                (s for s in meta.get("partition-specs", [])
                 if s.get("spec-id") == meta.get("default-spec-id", 0)),
                {"fields": []})
            old_keys = [(f.get("name"), f.get("transform"),
                         f.get("source-id"))
                        for f in cur_spec.get("fields", [])]
            new_keys = [(f["name"], f["transform"], f["source-id"])
                        for f in spec_fields]
            if old_keys != new_keys:
                raise ValueError(
                    f"write_iceberg: table is partitioned by {old_keys}, "
                    f"write requested {new_keys} — partition-spec "
                    "evolution is connector-jar territory"
                )

        seq = int(meta.get("last-sequence-number", 0)) + 1 if meta else 1
        snap_id = int(time.time() * 1000) * 1000 + seq
        uid = uuid.uuid4().hex

        entries = [{"status": 1, "snapshot_id": snap_id,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {"content": 0, "file_path": p,
                                  "file_format": "PARQUET",
                                  "partition": pv,
                                  "record_count": n,
                                  "file_size_in_bytes": sz}}
                   for p, n, sz, pv in files]
        man_rel = f"metadata/manifest-{uid}.avro"
        man_bytes = encode_avro_container(
            entry_schema, entries,
            extra_meta={
                "schema": json.dumps({"type": "struct",
                                      "schema-id": 0, "fields": fields}),
                "schema-id": "0",
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": "0",
                "format-version": "2",
                "content": "data",
            })
        if not _create(spark, join_path(root, man_rel), man_bytes):
            raise RuntimeError("write_iceberg: manifest name collision")

        list_entries = [{
            "manifest_path": f"{root}/{man_rel}",
            "manifest_length": len(man_bytes),
            "partition_spec_id": 0, "content": 0,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_data_files_count": len(files),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": sum(n for _p, n, _s, _pv in files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }]
        if mode == "append" and meta is not None:
            prev = next((s for s in meta.get("snapshots", [])
                         if s.get("snapshot-id")
                         == meta.get("current-snapshot-id")), None)
            if prev is not None:
                from .avro_lite import read_avro_file
                from .iceberg import _resolve_path

                for m in read_avro_file(
                        spark, _resolve_path(root, prev["manifest-list"])):
                    list_entries.append({
                        "manifest_path": _resolve_path(
                            root, m["manifest_path"]),
                        "manifest_length": int(
                            m.get("manifest_length") or 0),
                        "partition_spec_id": 0,
                        "content": int(m.get("content") or 0),
                        # v2 requires these non-null: a reused manifest
                        # keeps its original values (0-fill only for
                        # pre-r12 lists that lacked the count fields)
                        "sequence_number": int(
                            m.get("sequence_number") or 0),
                        "min_sequence_number": int(
                            m.get("min_sequence_number") or 0),
                        "added_snapshot_id": int(
                            m.get("added_snapshot_id") or snap_id),
                        "added_data_files_count": int(
                            m.get("added_data_files_count") or 0),
                        "existing_data_files_count": int(
                            m.get("existing_data_files_count") or 0),
                        "deleted_data_files_count": int(
                            m.get("deleted_data_files_count") or 0),
                        "added_rows_count": int(
                            m.get("added_rows_count") or 0),
                        "existing_rows_count": int(
                            m.get("existing_rows_count") or 0),
                        "deleted_rows_count": int(
                            m.get("deleted_rows_count") or 0),
                    })
        mlist_rel = f"metadata/snap-{snap_id}-{uid}.avro"
        mlist_bytes = encode_avro_container(
            _MANIFEST_FILE_SCHEMA, list_entries,
            extra_meta={"format-version": "2",
                        "snapshot-id": str(snap_id),
                        "sequence-number": str(seq)})
        if not _create(spark, join_path(root, mlist_rel), mlist_bytes):
            raise RuntimeError("write_iceberg: manifest-list collision")

        snapshots = list(meta.get("snapshots", [])) if meta else []
        snapshots.append({
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": f"{root}/{mlist_rel}",
            "summary": dict(
                {"operation":
                 "append" if mode == "append" else "overwrite"},
                **{str(k): str(v)
                   for k, v in (summary_extra or {}).items()}),
        })
        new_meta = {
            "format-version": 2,
            "table-uuid": (meta or {}).get("table-uuid",
                                           str(uuid.uuid4())),
            "location": root,
            "last-sequence-number": seq,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": len(fields),
            "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": fields}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "current-snapshot-id": snap_id,
            "snapshots": snapshots,
        }
        if meta and meta.get("refs"):
            # named tags/branches survive ordinary commits
            new_meta["refs"] = dict(meta["refs"])
        next_v = max(1, meta_version + 1)
        vpath = join_path(mdir, f"v{next_v}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            # best-effort pointer: readers fall back to listing, which
            # picks the highest version, so a stale hint is harmless
            write_text_atomic(spark,
                              join_path(mdir, "version-hint.text"),
                              str(next_v))
            return snap_id
        # lost the metadata race: re-read and retry with fresh state
    raise RuntimeError(
        f"write_iceberg: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )


def expire_snapshots_iceberg(spark, path: str,
                             older_than_ms: int | None = None,
                             retain_last: int = 1,
                             delete_files: bool = True) -> list[str]:
    """Iceberg table maintenance (the ``expireSnapshots`` operation —
    the Iceberg-side parallel of Delta VACUUM): drop snapshots from the
    metadata and garbage-collect the data files / manifests /
    manifest lists ONLY they referenced.  A snapshot is RETAINED when
    it is the current one, among the ``retain_last`` most recent, or
    newer than ``older_than_ms`` (epoch millis; None = expire
    everything not otherwise retained).  Time travel to expired
    snapshots stops working — exactly the connector behavior.  Returns
    the deleted paths (``delete_files=False`` = metadata-only
    expiration, files become unreferenced orphans).

    Scale shape: one driver pass over the snapshots' manifest chains —
    O(files) METADATA, the same footprint as planning a scan; no row
    data is read.  Reference-counted deletion: a file listed by any
    retained snapshot (manifest reuse on append is the norm) is never
    touched."""
    from .avro_lite import read_avro_file
    from .fsio import fs_delete, read_text, write_text_atomic, join_path
    from .iceberg import _latest_metadata, _resolve_path

    root = str(path).rstrip("/")
    mpath = _latest_metadata(spark, root)
    meta = json.loads(read_text(spark, mpath))
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: -(s.get("timestamp-ms") or 0))
    cur = meta.get("current-snapshot-id")
    keep_ids = {s["snapshot-id"] for s in snaps[:max(1, retain_last)]}
    keep_ids.add(cur)
    # named refs (tags/branches) PIN their snapshots — spec
    # expireSnapshots semantics; drop the ref to release them
    for r in (meta.get("refs") or {}).values():
        if r.get("snapshot-id") is not None:
            keep_ids.add(int(r["snapshot-id"]))
    if older_than_ms is not None:
        keep_ids |= {s["snapshot-id"] for s in snaps
                     if (s.get("timestamp-ms") or 0) >= older_than_ms}
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return []

    def refs(snapshot) -> set[str]:
        out = set()
        ml = _resolve_path(root, snapshot["manifest-list"])
        out.add(ml)
        for m in read_avro_file(spark, ml):
            mp = _resolve_path(root, m["manifest_path"])
            out.add(mp)
            for entry in read_avro_file(spark, mp):
                df_ = entry.get("data_file") or {}
                if df_.get("file_path"):
                    out.add(_resolve_path(root, df_["file_path"]))
        return out

    kept_refs: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            kept_refs |= refs(s)
    victims: set[str] = set()
    for s in expired:
        victims |= refs(s)
    victims -= kept_refs
    # never reach outside the table root
    victims = {v for v in victims if v.startswith(root + "/")}

    new_meta = dict(meta)
    new_meta["snapshots"] = [s for s in snaps
                             if s["snapshot-id"] in keep_ids]
    if "snapshot-log" in new_meta:
        new_meta["snapshot-log"] = [
            e for e in new_meta["snapshot-log"]
            if e.get("snapshot-id") in keep_ids
        ]
    from .fsio import hadoop_fs

    name = mpath.rsplit("/", 1)[-1]
    head = name[:-len(".metadata.json")]
    ver = int(head[1:] if head.startswith("v") else head.split("-", 1)[0])
    vpath = join_path(root, "metadata", f"v{ver + 1}.metadata.json")
    fs, hp = hadoop_fs(spark, vpath)
    if fs.exists(hp):
        raise RuntimeError(
            f"expire_snapshots_iceberg: {vpath} already exists — a "
            "concurrent committer won; re-run against the new metadata"
        )
    write_text_atomic(spark, vpath, json.dumps(new_meta))
    write_text_atomic(spark, join_path(root, "metadata",
                                       "version-hint.text"), str(ver + 1))
    if delete_files:
        for v in sorted(victims):
            fs_delete(spark, v, recursive=False)
    return sorted(victims)


def snapshots_iceberg(spark, path: str) -> list[dict]:
    """Snapshot log, newest first: snapshot-id, sequence-number,
    timestamp-ms, operation summary, and whether it is current — the
    time-travel discovery surface (pair with
    ``read_iceberg(snapshot_id=...)``).  Driver-side metadata only."""
    from .fsio import read_text
    from .iceberg import _latest_metadata

    root = str(path).rstrip("/")
    meta = json.loads(read_text(spark, _latest_metadata(spark, root)))
    cur = meta.get("current-snapshot-id")
    out = [{
        "snapshot_id": s.get("snapshot-id"),
        "sequence_number": s.get("sequence-number"),
        "timestamp_ms": s.get("timestamp-ms"),
        "operation": (s.get("summary") or {}).get("operation"),
        "is_current": s.get("snapshot-id") == cur,
    } for s in meta.get("snapshots", [])]
    return sorted(out, key=lambda d: -(d["timestamp_ms"] or 0))
