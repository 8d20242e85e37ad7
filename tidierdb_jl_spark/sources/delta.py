"""Delta Lake snapshot reader without connector jars.

Reference parity: the reference scans Delta tables through DuckDB's
``delta_scan`` extension (``/root/reference/src/TidierDB.jl:166-169,
209-212``).  The Spark-native route is the delta-spark connector jar —
absent from this image — so this module implements the READ side of the
public Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) directly:

- ``_delta_log/<version>.json``: newline-delimited actions
  (``add`` / ``remove`` / ``metaData`` / ``protocol``; ``txn``
  watermarks tracked for idempotent writers, ``commitInfo`` ignored).
- ``_delta_log/<version>.checkpoint[.part.N].parquet`` + the
  ``_last_checkpoint`` pointer: the same actions as parquet struct
  columns, replacing the JSON prefix.

Snapshot = replay: start from the newest checkpoint at or below the
target version, apply later JSON commits in order; a file is live if its
last action was ``add``.  The live-file list is driver-resident (it must
be — the driver plans the scan; same design as delta-standalone and
Spark's own file index: ~100 bytes/file, millions of files fit).

The scan itself is ONE distributed parquet read of exactly the live
files — no directory listing, which is the point of a Delta log at
100 TB on object storage (list = one small dir, not the data tree) —
with partition columns re-attached from the log's ``partitionValues``
via a broadcast join on the file name (Delta data-file names embed a
GUID, so the basename is unique per table; the reader errors loudly on
a collision rather than guessing).  All metadata I/O goes through
:mod:`.fsio`, so ``file://`` / ``hdfs://`` / ``s3a://`` behave the same.

Deletion vectors (modern writers enable them by default): an ``add``
may carry a ``deletionVector`` descriptor — a roaring bitmap of deleted
physical row indexes stored in a ``.bin`` sidecar (or inline, Z85).
The reader decodes them with :mod:`.dvectors` (public formats: Z85,
RoaringFormatSpec, PROTOCOL.md DV framing) in a DISTRIBUTED
``mapInPandas`` over the descriptors — the driver never holds row data
— and applies them as a ``(file, _metadata.row_index)`` left-anti join
against the scan, broadcast when the log's summed ``cardinality`` says
the deleted set is small (it almost always is — DVs exist precisely
because deletes are sparse relative to the file).

Column mapping (r10, nested r11): ``name``/``id``-mode tables resolve
physical column names from the schemaString's per-field
``delta.columnMapping.physicalName`` metadata (both modes write it and
the parquet files use those names at EVERY nesting depth) — the scan
reads the fully-physical nested schema, and logical names are restored
with one positional struct cast per top-level column (struct-to-struct
casts rename fields at every depth, JVM-side, values untouched).

V2 checkpoints (r10): uuid-named checkpoint manifests (json or
parquet) with their ``_sidecars/`` parquet files replay exactly like
classic checkpoints — see :func:`_replay_checkpoint`.

Protocol gate (loud, not silent): ``minReaderVersion`` 1-2 fully
supported; 3 is supported when ``readerFeatures`` need nothing beyond
``timestampNtz`` / ``deletionVectors`` / ``columnMapping`` /
``v2Checkpoint`` — an unknown feature could change row visibility or
file layout and MUST fail rather than return wrong rows.  The WRITE
side (r11, beyond the read-only reference) lives in
:mod:`.delta_writer`.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

from pyspark.sql import functions as F

from ..core import TidyFrame
from .fsio import fs_exists, hadoop_fs, join_path, read_text

__all__ = ["read_delta"]

_LOG = "_delta_log"
# reader features this module implements or that do not change what a
# parquet scan of the live files (minus their DVs) returns.
# columnMapping (r10, nested r11): physical->logical renames resolved
# from the schemaString's per-field delta.columnMapping.physicalName
# metadata, recursively through struct/array/map types.
# v2Checkpoint (r10): uuid manifests + sidecars, see _replay_checkpoint
_SAFE_READER_FEATURES = {
    "timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
}
# broadcast the deleted-row set below this many rows (log-declared
# cardinality sum — known BEFORE any decode); above it, a shuffle
# anti-join is the honest plan
_DV_BROADCAST_ROWS = 4_000_000


def _log_entries(spark, log_dir: str):
    """(version, kind, filename) for every commit/checkpoint file in the
    log directory, sorted by version.  kind: 'json' | 'checkpoint'.
    A COMMIT is exactly ``<20 digits>.json`` — a v2 checkpoint manifest
    like ``<v>.checkpoint.<uuid>.json`` must NOT classify as one."""
    fs, hpath = hadoop_fs(spark, log_dir)
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        head = name.split(".", 1)[0]
        if not (len(head) == 20 and head.isdigit()):
            continue
        v = int(head)
        if name == head + ".json":
            out.append((v, "json", name))
        elif ".checkpoint" in name and name.endswith((".parquet", ".json")):
            out.append((v, "checkpoint", name))
    return sorted(out)


def _gate_protocol(proto: dict, path: str) -> None:
    r = int(proto.get("minReaderVersion", 1))
    feats = set(proto.get("readerFeatures") or [])
    unsupported = feats - _SAFE_READER_FEATURES
    if r <= 2:
        # 2 = column mapping, resolved from the schema metadata below
        return
    if r == 3 and not unsupported:
        return
    raise NotImplementedError(
        f"Delta table at {path} requires reader version {r}"
        + (f" with features {sorted(unsupported)}" if unsupported else "")
        + " — this jar-free reader supports versions 1-2 (and 3 with only "
        f"{sorted(_SAFE_READER_FEATURES)}); an unknown feature could "
        "change row visibility or file layout and would return WRONG "
        "rows if ignored.  Add the delta-spark connector jar for full "
        "protocol support"
    )


def _fold_action(d: dict, live: dict, meta, path: str,
                 txns: dict | None = None, extras: dict | None = None):
    """Apply one action dict to the live set; returns the (possibly
    updated) metaData.  Within a checkpoint there is at most one action
    per data-file path (spec), so fold order does not matter there; in
    commits the caller iterates in line order, which does.  ``txns``
    (when given) collects setTransaction watermarks: appId -> highest
    version seen (the idempotent-writer protocol — PROTOCOL.md
    "Transaction Identifiers").  ``extras`` (when given, r12 — the
    writer-side maintenance ops need replay state the live map alone
    does not carry) collects:

    - ``extras["adds"]``: path -> the FULL add action dict for every
      live file (size / modificationTime / deletionVector — checkpoints
      must carry the real values, PROTOCOL.md requires ``size``);
    - ``extras["removes"]``: path -> the latest remove action dict seen
      (its ``deletionTimestamp`` is what VACUUM retention keys on — a
      file's own mtime says when it was WRITTEN, not when it became
      unreferenced);
    - ``extras["protocol"]``: the last protocol action verbatim (a
      checkpoint must not downgrade the table's protocol).
    """
    if d.get("protocol"):
        _gate_protocol(d["protocol"], path)
        if extras is not None:
            extras["protocol"] = d["protocol"]
    if d.get("metaData") and d["metaData"].get("schemaString"):
        meta = d["metaData"]
    if d.get("add") and d["add"].get("path"):
        p = unquote(d["add"]["path"])
        live[p] = (
            d["add"].get("partitionValues") or {},
            d["add"].get("deletionVector"),
        )
        if extras is not None:
            extras.setdefault("adds", {})[p] = d["add"]
            # a re-add supersedes any earlier tombstone for the path
            extras.setdefault("removes", {}).pop(p, None)
    if d.get("remove") and d["remove"].get("path"):
        p = unquote(d["remove"]["path"])
        live.pop(p, None)
        if extras is not None:
            extras.setdefault("removes", {})[p] = d["remove"]
            extras.setdefault("adds", {}).pop(p, None)
    if txns is not None and d.get("txn") and d["txn"].get("appId"):
        app = d["txn"]["appId"]
        v = int(d["txn"].get("version", -1))
        if v > txns.get(app, -1):
            txns[app] = v
    return meta


def _is_v2_manifest(name: str) -> bool:
    """``<v>.checkpoint.parquet`` and ``<v>.checkpoint.<i>.<n>.parquet``
    are CLASSIC; anything else after ``.checkpoint.`` (a uuid, possibly
    ``.json``) is a V2 checkpoint manifest."""
    mid = name.split(".checkpoint.", 1)[1]
    segs = mid.split(".")
    body = segs[:-1]  # drop the extension
    return bool(body) and not all(s.isdigit() for s in body)


def _replay_checkpoint(spark, path, log_dir, parts, live, txns=None,
                       extras=None):
    """Fold one checkpoint (classic single/multipart parquet, or a V2
    manifest + its sidecar files) into ``live``; returns metaData.

    V2 (PROTOCOL.md "V2 Checkpoint Table Feature"): the uuid-named
    manifest (json action lines or parquet) carries protocol/metaData
    (+ optionally add/remove) plus ``sidecar`` actions pointing at
    parquet files under ``_delta_log/_sidecars/`` that hold the bulk
    add/remove set.  When classic and V2 checkpoints coexist for the
    same version each is complete on its own — exactly one is read
    (the lexicographically last manifest, deterministic) to avoid
    folding the same state twice."""
    meta = None
    v2 = sorted(n for n in parts if _is_v2_manifest(n))
    if v2:
        manifest = v2[-1]
        mpath = join_path(log_dir, manifest)
        if manifest.endswith(".json"):
            rows = [json.loads(ln)
                    for ln in read_text(spark, mpath).splitlines()
                    if ln.strip()]
        else:
            mdf = spark.read.parquet(mpath)
            take = [c for c in ("add", "remove", "metaData", "protocol",
                                "sidecar", "txn") if c in mdf.columns]
            rows = [r.asDict(recursive=True)
                    for r in mdf.select(*take).collect()]
        sidecars = []
        for d in rows:
            meta = _fold_action(d, live, meta, path, txns, extras)
            sc = d.get("sidecar")
            if sc and sc.get("path"):
                p = sc["path"]
                sidecars.append(
                    p if ("://" in p or p.startswith("/"))
                    else join_path(log_dir, "_sidecars", p)
                )
        if sidecars:
            sdf = spark.read.parquet(*sidecars)
            take = [c for c in ("add", "remove", "txn")
                    if c in sdf.columns]
            for r in sdf.select(*take).collect():
                meta = _fold_action(r.asDict(recursive=True), live, meta,
                                    path, txns, extras)
        return meta
    cdf = spark.read.parquet(*[join_path(log_dir, n) for n in parts])
    take = [c for c in ("add", "remove", "metaData", "protocol", "txn")
            if c in cdf.columns]
    for row in cdf.select(*take).collect():
        meta = _fold_action(row.asDict(recursive=True), live, meta, path,
                            txns, extras)
    return meta


def _snapshot(spark, path: str, version: int | None,
              txns: dict | None = None, extras: dict | None = None):
    """Replay the log: returns (live_adds: {path: (partitionValues,
    deletionVector-or-None)}, metaData dict, snapshot_version).
    ``extras`` (optional dict) additionally collects the full add
    actions, remove tombstones and last protocol action — see
    :func:`_fold_action`."""
    log_dir = join_path(path, _LOG)
    if not fs_exists(spark, log_dir):
        raise ValueError(f"{path} is not a Delta table (no {_LOG}/)")
    entries = _log_entries(spark, log_dir)
    json_vs = [v for v, k, _ in entries if k == "json"]
    ckpt_vs = sorted({v for v, k, _ in entries if k == "checkpoint"})
    if not json_vs and not ckpt_vs:
        raise ValueError(f"{path}: empty {_LOG}/ — no commits")
    latest = max(json_vs + ckpt_vs)
    target = latest if version is None else int(version)
    if target > latest or target < 0:
        raise ValueError(
            f"versionAsOf={target} out of range for {path} "
            f"(latest committed version is {latest})"
        )

    base = [v for v in ckpt_vs if v <= target]
    start_after = -1
    live: dict[str, dict] = {}
    meta: dict | None = None
    if base:
        cv = max(base)
        parts = [n for v, k, n in entries if k == "checkpoint" and v == cv]
        meta = _replay_checkpoint(spark, path, log_dir, parts, live,
                                  txns, extras)
        start_after = cv

    need = [(v, n) for v, k, n in entries
            if k == "json" and start_after < v <= target]
    if not base and json_vs and min(json_vs) > 0:
        raise ValueError(
            f"{path}: log is truncated before version {min(json_vs)} and no "
            f"checkpoint at or below versionAsOf={target} survives — that "
            "snapshot is no longer reconstructible"
        )
    # the replay is only correct if EVERY commit after the checkpoint is
    # present: a mid-range gap (0,1,3 — lost or never-synced commit file)
    # silently skipped would drop that commit's add/remove actions and
    # return wrong rows, violating the module's loud-gate contract
    expect = list(range(start_after + 1, target + 1))
    if [v for v, _ in need] != expect:
        missing = sorted(set(expect) - {v for v, _ in need})
        raise ValueError(
            f"{path}: transaction log has gaps — commit version(s) "
            f"{missing} missing between checkpoint {start_after} and "
            f"versionAsOf={target}; refusing to replay an incomplete log"
        )
    for v, name in need:
        # _fold_action percent-decodes add/remove paths (RFC 2396) so
        # partition dirs with spaces/special chars resolve
        for line in read_text(spark, join_path(log_dir, name)).splitlines():
            if not line.strip():
                continue
            meta = _fold_action(json.loads(line), live, meta, path,
                                txns, extras)
    if meta is None:
        raise ValueError(f"{path}: no metaData action found in the log")
    return live, meta, target


def _physical_names(meta: dict, schema, path: str):
    """(logical -> physical top-level names, logical -> PHYSICAL nested
    DataType) per PROTOCOL.md Column Mapping.

    Mode ``none``: identity.  Modes ``name``/``id``: every StructField
    at EVERY nesting depth carries ``delta.columnMapping.physicalName``
    metadata in the schemaString (both modes write it; parquet files use
    those names at every level, so resolving by physicalName serves
    id-mode tables too).  Nested structs (incl. inside arrays/maps) are
    handled by building the fully-physical nested type here; the caller
    reads with it and restores logical names with one positional
    struct cast (r11 — closes the r10 nested gate).  A mapped field
    missing its physicalName at any depth is a malformed table and
    raises with the full field path."""
    from pyspark.sql import types as T

    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in (None, "", "none"):
        return ({f.name: f.name for f in schema.fields},
                {f.name: f.dataType for f in schema.fields})
    if mode not in ("name", "id"):
        raise NotImplementedError(
            f"{path}: delta.columnMapping.mode={mode!r} — name/id only"
        )

    def _pn(f, where: str) -> str:
        pn = (f.metadata or {}).get("delta.columnMapping.physicalName")
        if not pn:
            raise ValueError(
                f"{path}: columnMapping mode={mode} but field {where} "
                "has no delta.columnMapping.physicalName metadata — "
                "malformed table"
            )
        return pn

    def _to_physical(t, where: str):
        if isinstance(t, T.StructType):
            return T.StructType([
                T.StructField(
                    _pn(f, f"{where}.{f.name}"),
                    _to_physical(f.dataType, f"{where}.{f.name}"),
                    f.nullable,
                )
                for f in t.fields
            ])
        if isinstance(t, T.ArrayType):
            return T.ArrayType(
                _to_physical(t.elementType, where + "[]"), t.containsNull
            )
        if isinstance(t, T.MapType):
            return T.MapType(
                _to_physical(t.keyType, where + "<key>"),
                _to_physical(t.valueType, where + "<value>"),
                t.valueContainsNull,
            )
        return t

    names, ptypes = {}, {}
    for f in schema.fields:
        names[f.name] = _pn(f, repr(f.name))
        ptypes[f.name] = _to_physical(f.dataType, repr(f.name))
    return names, ptypes


def _deleted_rows_df(spark, root: str, dv_of: dict[str, dict]):
    """(``__file``, ``__ridx``) DataFrame of every deleted physical row,
    decoded EXECUTOR-side: the driver only ships the descriptors (one
    small row per DV'd file); each task fetches its sidecar bytes and
    expands the roaring bitmap — at 100 TB with millions of DV'd files
    the decode parallelizes and no row list ever lands on the driver."""
    from .dvectors import dv_file_relpath

    descs = []
    for fname, dv in dv_of.items():
        st = dv.get("storageType")
        p = dv.get("pathOrInlineDv") or ""
        off = int(dv["offset"]) if dv.get("offset") is not None else 1
        size = int(dv["sizeInBytes"])
        card = int(dv["cardinality"])
        if st == "u":
            descs.append((fname, join_path(root, dv_file_relpath(p)),
                          None, off, size, card))
        elif st == "p":
            descs.append((fname, p, None, off, size, card))
        elif st == "i":
            descs.append((fname, None, p, -1, size, card))
        else:
            raise NotImplementedError(
                f"deletion vector storageType {st!r} (expected u/p/i)"
            )
    ddf = spark.createDataFrame(
        descs,
        "fname string, url string, inline string, off long, "
        "size long, card long",
    )
    if len(descs) > 1:
        ddf = ddf.repartition(min(len(descs), 64))

    def expand(batches):
        import pandas as pd

        from tidierdb_jl_spark.sources.dvectors import (
            decode_dv_blob, read_dv_from_bytes, z85_decode,
        )
        from tidierdb_jl_spark.sources.fsio import read_bytes

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                if r.inline is not None:
                    # inline Z85 payload is padded to a 4-byte multiple;
                    # sizeInBytes is the true bitmap length
                    data = z85_decode(r.inline)[:int(r.size)]
                    idx = decode_dv_blob(data, int(r.card))
                else:
                    blob = read_bytes(r.url)
                    idx = read_dv_from_bytes(
                        blob, int(r.off), int(r.size), int(r.card)
                    )
                if len(idx):
                    yield pd.DataFrame(
                        {"__file": r.fname, "__ridx": idx.astype("int64")}
                    )

    return ddf.mapInPandas(expand, "__file string, __ridx long")


def read_delta(
    spark,
    path: str,
    version: int | None = None,
    partition_filter: str | None = None,
    _file_col: str | None = None,
    _ridx_col: str | None = None,
) -> TidyFrame:
    """Read a Delta table snapshot as a TidyFrame (jar-free log replay —
    module docstring has the protocol-support contract).  ``version``
    is time travel (``versionAsOf``); default = latest.

    ``partition_filter`` is a SQL predicate over PARTITION columns only
    (e.g. ``"lang = 'en' AND dt >= '2026-01'"``), applied to the log's
    ``partitionValues`` BEFORE the scan is built — static partition
    pruning.  It exists because a ``.filter()`` on the returned frame
    cannot prune files: the file list is fixed at plan time and the
    partition columns are re-attached by a post-scan join, so Catalyst
    has nothing to push into.  With the filter, non-matching files never
    enter the plan at all (the 100 TB path: prune from the log, list
    nothing).  Semantics are exact — the predicate is evaluated by
    Spark itself over the typed partition values.

    ``_file_col`` (internal — the copy-on-write row-level ops in
    :mod:`.delta_writer`) appends each row's data-file BASENAME under
    that name; ``_ridx_col`` appends the PHYSICAL row index
    (``_metadata.row_index`` — what deletion vectors address; r12, the
    merge-on-read DELETE's discovery hook)."""
    from pyspark.sql import types as T

    live, meta, _ = _snapshot(spark, str(path), version)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    # column mapping: data files and partitionValues use PHYSICAL names
    # at every nesting depth; the caller sees logical ones (identity map
    # when mode is none).  The scan reads the fully-physical nested
    # schema; _logical restores logical names with a positional struct
    # cast (same values, renamed fields, JVM-side, no shuffle).
    phys, ptypes = _physical_names(meta, schema, path)
    data_schema = T.StructType([
        T.StructField(phys[f.name], ptypes[f.name], f.nullable)
        for f in schema.fields if f.name not in part_cols
    ])

    def _logical(f):
        c = F.col(phys[f.name])
        if ptypes[f.name] != f.dataType:  # nested physical names differ
            c = c.cast(f.dataType)
        return c.alias(f.name)
    if partition_filter is not None:
        if not part_cols:
            raise ValueError(
                f"partition_filter on an unpartitioned table at {path}"
            )
        types = {f.name: f.dataType for f in schema.fields}
        pv_schema = T.StructType(
            [T.StructField("__path", T.StringType())]
            + [T.StructField(c, T.StringType()) for c in part_cols]
        )
        pv_rows = [(p, *[pv.get(phys[c]) for c in part_cols])
                   for p, (pv, _dv) in live.items()]
        pv = spark.createDataFrame(pv_rows, pv_schema).select(
            "__path", *[F.col(c).cast(types[c]).alias(c) for c in part_cols]
        )
        keep = {r[0] for r in pv.where(F.expr(partition_filter))
                .select("__path").collect()}
        live = {p: v for p, v in live.items() if p in keep}
    if not live:
        return TidyFrame(spark.createDataFrame([], schema))

    files = [join_path(str(path), p) for p in live]
    df = spark.read.schema(data_schema).parquet(*files)
    dv_of = {p.rsplit("/", 1)[-1]: dv for p, (_pv, dv) in live.items() if dv}
    if part_cols or dv_of or _file_col or _ridx_col:
        # both partition re-attach and DV anti-filter key per-row work by
        # the data file's basename (Delta basenames embed a GUID — verify
        # uniqueness rather than assume it); input_file_name() is URL-
        # encoded, the log keys are decoded — decode JVM-side, with
        # literal '+' pre-escaped (URLDecoder turns bare '+' into space)
        if len({p.rsplit("/", 1)[-1] for p in live}) != len(live):
            raise ValueError(
                f"{path}: duplicate data-file basenames in the live set — "
                "cannot key per-file metadata by file name; use the delta "
                "connector jar for this table"
            )
        df = df.withColumn(
            "__file",
            F.url_decode(F.regexp_replace(
                F.element_at(F.split(F.input_file_name(), "/"), -1),
                r"\+", "%2B",
            )),
        )
    if _ridx_col:
        df = df.withColumn(_ridx_col, F.col("_metadata.row_index"))
    if dv_of:
        # deletion vectors: anti-join the scan against the decoded
        # (file, physical row index) deleted set.  Decode is distributed
        # (mapInPandas over the descriptors); broadcast when the log's
        # summed cardinality says the deleted set is small — DVs exist
        # because deletes are sparse, so this is the common case and the
        # fact scan never shuffles
        deleted = _deleted_rows_df(spark, str(path), dv_of)
        total = sum(int(d.get("cardinality") or 0) for d in dv_of.values())
        if total <= _DV_BROADCAST_ROWS:
            deleted = F.broadcast(deleted)
        df = (
            df.withColumn("__ridx", F.col("_metadata.row_index"))
            .join(deleted, ["__file", "__ridx"], "left_anti")
            .drop("__ridx")
        )
    extra = ([F.col("__file").alias(_file_col)] if _file_col else [])
    if _ridx_col:
        extra.append(F.col(_ridx_col))
    if not part_cols:
        return TidyFrame(df.select(*[_logical(f) for f in schema.fields],
                                   *extra))

    # re-attach partition columns from the log's partitionValues: one
    # broadcast map of basename -> values joined against the scan
    base_of = {p.rsplit("/", 1)[-1]: pv for p, (pv, _dv) in live.items()}
    rows = [(b, *[None if pv.get(phys[c]) is None else str(pv.get(phys[c]))
                  for c in part_cols]) for b, pv in base_of.items()]
    msch = T.StructType(
        [T.StructField("__file", T.StringType())]
        + [T.StructField(f"__pv_{c}", T.StringType()) for c in part_cols]
    )
    mapping = spark.createDataFrame(rows, msch).withColumn(
        "__pv_hit", F.lit(True)
    )
    types = {f.name: f.dataType for f in schema.fields}
    out = (
        # LEFT join + loud raise_error on a miss: a basename/encoding
        # mismatch must fail the job, not silently drop every row of
        # the mismatched file.
        df.join(F.broadcast(mapping), "__file", "left")
        .withColumn(
            "__pv_hit",
            F.when(F.col("__pv_hit").isNull(), F.raise_error(F.concat(
                F.lit(f"delta reader at {path}: scanned file "),
                F.col("__file"),
                F.lit(" has no partitionValues entry in the log — "
                      "basename/encoding mismatch"),
            ))).otherwise(F.col("__pv_hit")),
        )
        .where(F.col("__pv_hit"))
        .select(
            *[
                _logical(f) if f.name not in part_cols
                else F.col(f"__pv_{f.name}").cast(types[f.name]).alias(f.name)
                for f in schema.fields
            ],
            *extra,
        )
    )
    return TidyFrame(out)
