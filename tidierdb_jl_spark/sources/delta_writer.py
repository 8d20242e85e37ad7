"""Delta Lake transaction-log WRITER without connector jars.

Beyond-reference (the reference — and this repo until r11 — is
read-only on Delta: ``/root/reference/src/TidierDB.jl:166-169`` scans
via DuckDB's delta extension).  A training-data pipeline wants
VERSIONED corpus snapshots: append today's crawl, overwrite a cleaned
partition, time-travel an experiment to last week's table — so this
module implements the WRITE side of the public protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) at
protocol (1, 2): parquet data files plus JSON commits, readable by this
repo's :mod:`.delta` reader and by any standard Delta reader.

How a commit works (the protocol's optimistic concurrency):

1. Spark writes the batch as ordinary parquet into a staging directory
   INSIDE the table root (same filesystem ⇒ rename is cheap on
   HDFS/POSIX; copy+delete on object stores — the files land under
   uuid-fresh names either way, so a crashed attempt leaves only
   unreferenced garbage, never a torn table).
2. Each part file moves to its final partition directory; its add
   action records the RFC-2396-encoded relative path, partition values
   parsed from the staging layout, size, and modification time.
3. The commit file ``_delta_log/<version>.json`` is created with
   ``overwrite=False`` — atomic on POSIX/HDFS, check-then-create on
   object stores.  A concurrent writer losing the race re-snapshots and
   retries with the next version (appends always compose; an overwrite
   recomputes its remove set against the new snapshot).

Modes: ``append`` (new table or existing), ``overwrite`` (remove every
live file, keep history — time travel still reaches old versions),
``error`` (refuse if the table exists).  Schema is enforced EXACTLY
against the table's metaData on append — silent column reordering or
type drift is how lakehouse tables rot; widen explicitly with
``overwrite`` + ``overwrite_schema=True``.

Maintenance: :func:`checkpoint_delta` writes classic parquet
checkpoints (incl. ``txn`` watermark rows, so exactly-once streaming
survives JSON-prefix truncation) + ``_last_checkpoint``;
:func:`optimize_delta` compacts small files per partition with
``dataChange=false`` commits — the streaming-sink steady state would
otherwise degrade a 100 TB table into millions of tiny files.

Row-level ops by COPY-ON-WRITE: :func:`delete_delta` (rewrite matching
files without the matching rows) and :func:`merge_delta` (upsert —
``WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *``); both touch
only the files containing matches, so work scales with the change set,
not the table.  DV-bearing tables work (r12): the survivor scan goes
through the DV-subtracting reader, so the rewrite materializes the
deletes and retires the descriptor with its file.  Column-mapped
tables with FLAT schemas work (r12): new files carry the table's
physical names plus ``parquet.field.id`` footer ids, serving both
name-mode and id-mode resolvers.

NOT implemented (loud): schema evolution / row ops on NESTED
column-mapped schemas (per-depth field-id stamping), id-mode OPTIMIZE,
writing NEW tables with mapping/DV features enabled.
"""

from __future__ import annotations

import json
import time
import uuid
from urllib.parse import quote, unquote

__all__ = ["write_delta", "last_txn_version", "checkpoint_delta",
           "optimize_delta", "delete_delta", "update_delta", "merge_delta",
           "vacuum_delta",
           "restore_delta", "describe_history", "describe_detail",
           "convert_to_delta"]

_MAX_COMMIT_RETRIES = 20
# merge_delta broadcasts the distinct update keys below this count —
# ~4M short keys is tens of MB broadcast, safely inside executor memory;
# above it the semi/anti joins shuffle (the honest plan for backfills)
_MERGE_BROADCAST_KEYS = 4_000_000


def last_txn_version(spark, path: str, app_id: str) -> int:
    """Highest ``txn`` version committed for ``app_id`` (PROTOCOL.md
    "Transaction Identifiers"), or -1 — the idempotent-writer check:
    a streaming sink replaying micro-batch N after a crash sees
    ``last_txn_version(...) >= N`` and skips the duplicate commit."""
    from .delta import _snapshot
    from .fsio import fs_exists, join_path

    if not fs_exists(spark, join_path(str(path).rstrip("/"), "_delta_log")):
        return -1
    txns: dict = {}
    _snapshot(spark, str(path).rstrip("/"), None, txns)
    return txns.get(app_id, -1)


def _schema_fingerprint(schema_json: str):
    """(name, normalized type) list — order-sensitive, metadata-free."""
    fields = json.loads(schema_json)["fields"]
    return [(f["name"], json.dumps(f["type"], sort_keys=True))
            for f in fields]


def _list_staged(spark, staging: str, part_cols):
    """Walk the staging dir: [(relpath, size, mtime, partitionValues)].
    Partition values come from the ``k=v`` directory segments Spark
    wrote (``__HIVE_DEFAULT_PARTITION__`` ⇒ null), URL-unescaped the
    same way Spark escaped them."""
    from .fsio import hadoop_fs

    fs, hroot = hadoop_fs(spark, staging)
    out = []
    stack = [hroot]
    while stack:
        d = stack.pop()
        for st in fs.listStatus(d):
            p = st.getPath()
            if st.isDirectory():
                stack.append(p)
                continue
            name = p.getName()
            if not name.endswith(".parquet") or name.startswith("_"):
                continue
            rel = p.toString()[len(fs.makeQualified(hroot).toString()):] \
                .lstrip("/")
            segs = rel.split("/")[:-1]
            pv = {}
            for seg in segs:
                if "=" not in seg:
                    raise ValueError(
                        f"write_delta: unexpected staging dir {seg!r}"
                    )
                k, v = seg.split("=", 1)
                pv[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                         else unquote(v))
            missing = [c for c in part_cols if c not in pv]
            if missing:
                raise ValueError(
                    f"write_delta: staged file {rel!r} lacks partition "
                    f"dirs for {missing}"
                )
            out.append((rel, st.getLen(), st.getModificationTime(), pv))
    return out


def _stage_batch(spark, root: str, df, part_cols,
                 prefix: str = "") -> list[dict]:
    """Write ``df`` as parquet into a staging dir inside the table root
    and move each file to its final uuid-fresh name; returns the add
    actions.  Names get a FRESH uuid per file (what delta-spark does):
    Spark reuses one job uuid across partition dirs, so staged basenames
    collide across dirs — and readers (this repo's included) key
    per-file metadata by the uuid-unique basename.  ``prefix`` places
    the final files under a subdirectory (``_change_data/`` for cdc
    files) — it is part of the action's relative path."""
    from .fsio import fs_delete, fs_mkdirs, fs_rename, join_path

    staging = join_path(root, f"_staging_{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    staged = _list_staged(spark, staging, part_cols)
    # an empty UNPARTITIONED batch stages a single 0-row parquet file —
    # a legal add (the commit still creates/extends the table with its
    # schema).  An empty PARTITIONED batch stages NOTHING (Spark emits
    # no partition dirs for 0 rows) — that is a legal metadata-only
    # commit (r12: a streaming sink's empty micro-batch must still
    # advance its txn watermark), so return no adds rather than raise.
    if not staged:
        fs_delete(spark, staging, recursive=True)
        if part_cols:
            return []
        raise ValueError("write_delta: the staged write produced no files")
    adds = []
    for i, (rel, size, mtime, pv) in enumerate(staged):
        parent_rel = rel.rsplit("/", 1)[0] if "/" in rel else ""
        fname = f"part-{i:05d}-{uuid.uuid4()}.snappy.parquet"
        final_rel = f"{parent_rel}/{fname}" if parent_rel else fname
        final_rel = prefix + final_rel
        dest = join_path(root, final_rel)
        fs_mkdirs(spark, dest.rsplit("/", 1)[0])
        fs_rename(spark, join_path(staging, rel), dest)
        adds.append({
            "path": quote(final_rel, safe="/=-"),
            "partitionValues": pv,
            "size": int(size),
            "modificationTime": int(mtime),
            "dataChange": True,
        })
    fs_delete(spark, staging, recursive=True)
    return adds


def _try_create(spark, path: str, text: str) -> bool:
    """create(overwrite=False) + full write; False if it already
    exists (the optimistic-concurrency loser)."""
    from .fsio import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    try:
        stream = fs.create(hpath, False)
    except Exception:  # noqa: BLE001 — FileAlreadyExists et al.
        return False
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    return True


def write_delta(
    tf,
    path: str,
    mode: str = "append",
    partition_by=None,
    overwrite_schema: bool = False,
    txn: tuple | None = None,
    configuration: dict | None = None,
    partition_overwrite: str = "static",
) -> int:
    """Commit ``tf`` to the Delta table at ``path``; returns the
    committed version number.  Module docstring has the protocol
    contract.

    ``partition_overwrite`` (with ``mode="overwrite"``):
    ``"static"`` (default) removes every live file;
    ``"dynamic"`` removes only files in the partitions the BATCH
    writes (delta-spark's ``partitionOverwriteMode=dynamic``) — the
    corpus-refresh shape: re-clean one language, leave the rest.
    Requires a partitioned write.

    ``configuration`` sets table properties on a NEW table (e.g.
    ``{"delta.enableChangeDataFeed": "true"}`` so the row-level ops
    emit cdc files readable by :func:`~.delta_cdf.read_delta_cdf`);
    an existing table keeps its own configuration.

    ``txn=(app_id, version)`` stamps the commit with a setTransaction
    action and makes it IDEMPOTENT: if the table already records a
    ``txn`` watermark >= ``version`` for ``app_id``, the write is a
    no-op returning the current table version — the exactly-once
    building block for streaming sinks replaying a micro-batch after a
    crash (see :func:`last_txn_version` and
    :func:`~tidierdb_jl_spark.streaming.stream.write_stream_delta`).
    The check re-runs inside the optimistic-commit loop, so losing a
    race to a duplicate of yourself stays exactly-once."""
    from .delta import _snapshot
    from .fsio import fs_exists, fs_mkdirs, join_path

    def _snapshot_for(sp, r):
        return _snapshot(sp, r, None)

    if mode not in ("append", "overwrite", "error"):
        raise ValueError(f"write_delta: mode {mode!r} "
                         "(append|overwrite|error)")
    if partition_overwrite not in ("static", "dynamic"):
        raise ValueError(f"write_delta: partition_overwrite "
                         f"{partition_overwrite!r} (static|dynamic)")
    df = tf.df if hasattr(tf, "df") else tf
    spark = df.sparkSession
    root = str(path).rstrip("/")
    part_cols = ([partition_by] if isinstance(partition_by, str)
                 else list(partition_by or []))
    bad = [c for c in part_cols if c not in df.columns]
    if bad:
        raise ValueError(f"write_delta: partition_by {bad} not in columns")

    if txn is not None:
        txn = (str(txn[0]), int(txn[1]))

    log_dir = join_path(root, "_delta_log")
    exists = fs_exists(spark, log_dir)
    if exists and mode == "error":
        raise ValueError(f"write_delta: {root} already exists (mode=error)")
    if exists and txn is not None:
        done = last_txn_version(spark, root, txn[0])
        if done >= txn[1]:
            # replayed batch: the table already contains this commit
            _, _, version = _snapshot_for(spark, root)
            return version

    # column-mapped tables (r12): stage with PHYSICAL names + parquet
    # field ids; the metaData fingerprint below still compares logical
    # schemas.  Schema evolution on a mapped table is id surgery — refuse.
    stage_df, stage_parts = df, part_cols
    if exists:
        _live0, meta0, _v0 = _snapshot_for(spark, root)
        if mode == "overwrite":
            _gate_append_only(meta0, root, "write_delta(overwrite)")
        _check_constraints(df, meta0, root, "write_delta")
        cm_mode = (meta0.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none")
        if cm_mode not in (None, "", "none"):
            if overwrite_schema:
                raise NotImplementedError(
                    f"write_delta: {root} is column-mapped — schema "
                    "evolution needs field-id assignment (connector-jar "
                    "territory)"
                )
            _cow_guard(meta0, {}, root, "write_delta", part_cols)
            stage_df, phys0 = _to_physical_df(df, meta0, root,
                                              "write_delta")
            stage_parts = [phys0[c] for c in part_cols]

    if not exists and configuration:
        # a NEW table may declare constraints in its own configuration —
        # the very first batch must already satisfy them
        _check_constraints(df, {"configuration": dict(configuration),
                                "schemaString": df.schema.json()}, root,
                           "write_delta")

    # 1+2. stage the data inside the table root and move each file to
    # its uuid-fresh final name, collecting the add actions
    adds = _stage_batch(spark, root, stage_df, stage_parts)

    schema_json = df.schema.json()
    new_meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_json,
        "partitionColumns": part_cols,
        "configuration": dict(configuration or {}),
        "createdTime": int(time.time() * 1000),
    }

    # 3. optimistic commit loop
    for _attempt in range(_MAX_COMMIT_RETRIES):
        txns: dict = {}
        if fs_exists(spark, log_dir):
            live, meta, version = _snapshot(spark, root, None, txns)
        else:
            live, meta, version = {}, None, -1
        if txn is not None and txns.get(txn[0], -1) >= txn[1]:
            # a concurrent duplicate of this very batch won the race:
            # exactly-once means we drop ours (the moved files stay as
            # unreferenced garbage, never table rows)
            return version

        actions = []
        if meta is None:
            # a new table's protocol must DECLARE the writer features
            # its configuration relies on, so writers that cannot
            # enforce them refuse instead of corrupting the table:
            # CHECK constraints = writer v3, change data feed = v4
            # (PROTOCOL.md feature table); base is v2 (appendOnly /
            # invariants enforcement, which this writer implements)
            min_writer = 2
            cfg = new_meta.get("configuration") or {}
            if any(k.startswith("delta.constraints.") for k in cfg):
                min_writer = 3
            if str(cfg.get("delta.enableChangeDataFeed",
                           "false")).lower() == "true":
                min_writer = 4
            actions.append({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": min_writer}})
            actions.append({"metaData": new_meta})
        else:
            old_parts = list(meta.get("partitionColumns") or [])
            if old_parts != part_cols:
                raise ValueError(
                    f"write_delta: table is partitioned by {old_parts}, "
                    f"write requested {part_cols} — repartitioning an "
                    "existing table needs overwrite of a NEW location"
                )
            if _schema_fingerprint(meta["schemaString"]) != \
                    _schema_fingerprint(schema_json):
                if mode == "overwrite" and overwrite_schema:
                    # schema evolves; identity and table properties stay
                    actions.append({"metaData": dict(
                        new_meta, id=meta.get("id", new_meta["id"]),
                        configuration=dict(meta.get("configuration")
                                           or {}),
                    )})
                else:
                    raise ValueError(
                        f"write_delta: batch schema does not match the "
                        f"table schema at {root} — schema drift must be "
                        "explicit (mode='overwrite', "
                        "overwrite_schema=True)"
                    )
        if mode == "overwrite":
            if partition_overwrite == "dynamic":
                if not part_cols:
                    raise ValueError(
                        f"write_delta: partition_overwrite='dynamic' "
                        f"on an unpartitioned table at {root}"
                    )
                batch_parts = {tuple(sorted(a["partitionValues"]
                                            .items())) for a in adds}
                doomed = [p for p, (pv, _dv) in live.items()
                          if tuple(sorted(pv.items())) in batch_parts]
            else:
                doomed = sorted(live)
            now_ms = int(time.time() * 1000)
            for p in sorted(doomed):
                actions.append({"remove": {
                    "path": quote(p, safe="/=-"),
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }})
        actions.extend({"add": a} for a in adds)
        if txn is not None:
            actions.append({"txn": {
                "appId": txn[0], "version": txn[1],
                "lastUpdated": int(time.time() * 1000),
            }})
        actions.append({"commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": "WRITE",
            "operationParameters": {"mode": mode.upper()},
            "engineInfo": "tidierdb_jl_spark jar-free writer",
        }})

        commit = join_path(log_dir, f"{version + 1:020d}.json")
        if not fs_exists(spark, log_dir):
            fs_mkdirs(spark, log_dir)
        text = "\n".join(json.dumps(a, separators=(",", ":"))
                         for a in actions) + "\n"
        if _try_create(spark, commit, text):
            return version + 1
        # lost the race: re-snapshot (new live set, new version) and retry
    raise RuntimeError(
        f"write_delta: lost the commit race {_MAX_COMMIT_RETRIES} times "
        f"at {root} — a writer storm; back off and retry"
    )


def checkpoint_delta(spark, path: str,
                     tombstone_retain_hours: float = 168.0) -> int:
    """Write a CLASSIC checkpoint for the table's current version
    (PROTOCOL.md "Checkpoints"): one parquet file
    ``<version>.checkpoint.parquet`` holding the replayed state —
    the table's protocol action VERBATIM (a checkpoint must never
    downgrade reader/writer requirements), metaData, every live add
    with its REAL ``size``/``modificationTime`` (standard readers plan
    parquet splits from ``add.size`` — a zero would make them scan
    zero bytes) and its deletionVector descriptor when present, the
    unexpired remove tombstones (VACUUM retention must survive the
    JSON prefix being truncated), and one ``txn`` row per application
    watermark (so exactly-once streaming survives too) — plus the
    ``_last_checkpoint`` pointer.  Readers (this repo's and standard
    ones) then replay from the checkpoint instead of every JSON commit:
    the difference between O(commits) and O(1) metadata reads on a
    long-lived streaming table.  Returns the checkpointed version.

    ``tombstone_retain_hours`` bounds which remove tombstones are
    carried: ones older than the window have already passed every
    VACUUM cutoff that could ever consult them (mirrors
    ``delta.deletedFileRetentionDuration``, default 1 week)."""
    from pyspark.sql import types as T

    from .delta import _snapshot
    from .fsio import (fs_delete, fs_rename, hadoop_fs, join_path,
                       write_text_atomic)

    root = str(path).rstrip("/")
    txns: dict = {}
    extras: dict = {}
    live, meta, version = _snapshot(spark, root, None, txns, extras)
    proto = extras.get("protocol")
    if proto is None:
        raise ValueError(
            f"checkpoint_delta: no protocol action found replaying {root} "
            "— writing a checkpoint would have to invent one and could "
            "downgrade the table's reader/writer requirements; refusing"
        )

    dv_type = T.StructType([
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ])
    schema = T.StructType([
        T.StructField("protocol", T.StructType([
            T.StructField("minReaderVersion", T.IntegerType()),
            T.StructField("minWriterVersion", T.IntegerType()),
            T.StructField("readerFeatures", T.ArrayType(T.StringType())),
            T.StructField("writerFeatures", T.ArrayType(T.StringType())),
        ])),
        T.StructField("metaData", T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("format", T.StructType([
                T.StructField("provider", T.StringType()),
                T.StructField("options",
                              T.MapType(T.StringType(), T.StringType())),
            ])),
            T.StructField("schemaString", T.StringType()),
            T.StructField("partitionColumns",
                          T.ArrayType(T.StringType())),
            T.StructField("configuration",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("createdTime", T.LongType()),
        ])),
        T.StructField("add", T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues",
                          T.MapType(T.StringType(), T.StringType(),
                                    True)),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            T.StructField("deletionVector", dv_type),
        ])),
        T.StructField("remove", T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("deletionTimestamp", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
        ])),
        T.StructField("txn", T.StructType([
            T.StructField("appId", T.StringType()),
            T.StructField("version", T.LongType()),
        ])),
    ])
    rows = [
        ((int(proto.get("minReaderVersion", 1)),
          int(proto.get("minWriterVersion", 2)),
          (list(proto["readerFeatures"])
           if proto.get("readerFeatures") is not None else None),
          (list(proto["writerFeatures"])
           if proto.get("writerFeatures") is not None else None)),
         None, None, None, None),
        (None, (meta.get("id"),
                ((meta.get("format") or {}).get("provider", "parquet"),
                 dict((meta.get("format") or {}).get("options") or {})),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                dict(meta.get("configuration") or {}),
                meta.get("createdTime")), None, None, None),
    ]
    adds = extras.get("adds", {})
    fs, hroot = hadoop_fs(spark, root)
    for p, (pv, dv) in sorted(live.items()):
        a = adds.get(p, {})
        size = int(a.get("size") or 0)
        mtime = int(a.get("modificationTime") or 0)
        if not size:
            # the replayed add lacked a real size (a pre-r12 checkpoint
            # wrote zeros): stat the file rather than propagate the lie
            st = fs.getFileStatus(
                spark._jvm.org.apache.hadoop.fs.Path(join_path(root, p)))
            size, mtime = int(st.getLen()), int(st.getModificationTime())
        dv_row = None
        if dv is not None:
            dv_row = (dv.get("storageType"), dv.get("pathOrInlineDv"),
                      (int(dv["offset"]) if dv.get("offset") is not None
                       else None),
                      int(dv["sizeInBytes"]), int(dv["cardinality"]))
        rows.append((None, None,
                     (quote(p, safe="/=-"), dict(pv), size, mtime,
                      False, dv_row), None, None))
    tomb_cutoff_ms = (time.time() - tombstone_retain_hours * 3600.0) * 1e3
    for p, r in sorted(extras.get("removes", {}).items()):
        ts = r.get("deletionTimestamp")
        if ts is not None and float(ts) < tomb_cutoff_ms:
            continue  # expired: no future VACUUM cutoff can consult it
        rows.append((None, None, None,
                     (quote(p, safe="/=-"),
                      int(ts) if ts is not None else None,
                      bool(r.get("dataChange", True))), None))
    for app, v in sorted(txns.items()):
        rows.append((None, None, None, None, (app, int(v))))

    log_dir = join_path(root, "_delta_log")
    tmp = join_path(log_dir, f".ckpt_tmp_{uuid.uuid4().hex}")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    fs, htmp = hadoop_fs(spark, tmp)
    part = next(
        st.getPath() for st in fs.listStatus(htmp)
        if st.getPath().getName().startswith("part-")
    )
    dest = join_path(log_dir, f"{version:020d}.checkpoint.parquet")
    fs_rename(spark, part.toString(), dest)
    fs_delete(spark, tmp, recursive=True)
    write_text_atomic(
        spark, join_path(log_dir, "_last_checkpoint"),
        json.dumps({"version": version, "size": len(rows)}),
    )
    return version


def _zorder_key_udf(df, cols: list[str], sample_rows: int = 100_000):
    """Column of interleaved-bits Z-values over ``cols`` (r12, the
    OPTIMIZE ZORDER clustering key).  Each column is rank-normalized to
    ``63 // n_cols``-bit bucket ids against cut points taken from a
    bounded SAMPLE (order statistics need no exact quantiles — a
    misplaced cut only blurs the clustering, never correctness), then
    the bucket bits interleave column-major: rows close in every
    dimension land close in Z-order, so parquet row-group/file min-max
    envelopes shrink in ALL the z-ordered dimensions at once — the
    data-skipping property.  Works for any orderable type (numbers,
    strings, dates): cut comparison happens in pandas/numpy."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    bits = max(1, min(16, 63 // max(1, len(cols))))
    n_cuts = (1 << bits) - 1
    sample = (df.select(*cols)
              .sample(False, 1.0, seed=7).limit(sample_rows).toPandas())
    cuts: dict[str, list] = {}
    for c in cols:
        vals = sorted(v for v in sample[c].tolist() if v is not None)
        if not vals:
            cuts[c] = []
            continue
        step = max(1, len(vals) // (n_cuts + 1))
        cuts[c] = sorted(set(vals[step::step][:n_cuts]))

    bcuts = {c: cuts[c] for c in cols}

    # explicit SCALAR function type: the type-hint inferrer does not
    # accept a varargs signature, and the column count is dynamic here
    @pandas_udf("long", PandasUDFType.SCALAR)
    def zkey(*series):
        import numpy as np
        import pandas as pd

        buckets = []
        for c, s in zip(cols, series):
            cp = bcuts[c]
            if not cp:
                buckets.append(np.zeros(len(s), dtype=np.int64))
                continue
            b = np.searchsorted(np.array(cp, dtype=object), s.to_numpy(),
                                side="right").astype(np.int64)
            b[s.isna().to_numpy()] = 0  # nulls cluster first
            buckets.append(b)
        out = np.zeros(len(series[0]), dtype=np.int64)
        for bit in range(bits):
            for ci, b in enumerate(buckets):
                out |= ((b >> bit) & 1) << (bit * len(buckets) + ci)
        return pd.Series(out)

    return zkey(*[F.col(c) for c in cols])


def optimize_delta(spark, path: str, min_files: int = 2,
                   zorder_by=None,
                   max_file_bytes: int = 128 * 1024 * 1024) -> int | None:
    """Compact small files (the OPTIMIZE operation): for every
    partition holding at least ``min_files`` live data files, rewrite
    them as one file and commit the swap with ``dataChange=false`` —
    streams tailing the table see no new data, history stays
    time-travelable, and the next scan reads one file per partition
    instead of one per micro-batch (the streaming-sink steady state
    that otherwise degrades a 100 TB table into millions of tiny
    files).  Returns the committed version, or None when nothing
    qualified.  The rewrite reads ONLY the affected files — work scales
    with compactable bytes, not table size.

    ``zorder_by`` (r12 — OPTIMIZE ZORDER BY): rewrite every qualifying
    partition CLUSTERED on the interleaved-bits Z-value of the named
    columns.  Rows close in all dimensions land in the same parquet
    row groups and files, so min-max data skipping prunes on EVERY
    z-ordered column at once — the 100 TB answer to "we filter this
    corpus by language AND date AND quality score".  Output splits at
    ``max_file_bytes`` (estimated from the inputs) via a range
    partition on the Z-value, each range sorted within; with zorder
    the per-partition minimum is 1 file (re-clustering one big file is
    useful; plain compaction still needs ``min_files``)."""
    from .delta import _snapshot, read_delta
    from .fsio import fs_delete, fs_exists, fs_mkdirs, fs_rename, join_path

    root = str(path).rstrip("/")
    live, meta, version = _snapshot(spark, root, None)
    if (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode") == "id":
        raise NotImplementedError(
            f"optimize_delta: {root} uses id-mode column mapping — the "
            "compaction rewrite reads raw parquet and cannot carry the "
            "per-file field ids forward (connector-jar territory)"
        )
    zcols = ([zorder_by] if isinstance(zorder_by, str)
             else list(zorder_by or []))
    if zcols:
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        part_set = set(meta.get("partitionColumns") or [])
        bad = [c for c in zcols
               if c not in {f.name for f in schema.fields} or c in part_set]
        if bad:
            raise ValueError(
                f"optimize_delta: zorder_by {bad} must be non-partition "
                "table columns"
            )
        from .delta import _physical_names

        phys_all, _pt = _physical_names(meta, schema, root)
        zphys = [phys_all[c] for c in zcols]
    # DV'd files are excluded from compaction, not a refusal (r12): the
    # rewrite reads raw parquet, which would resurrect DV-deleted rows —
    # run delete_delta/merge_delta (they materialize DVs) or leave them;
    # the DV-free steady-state small files still compact
    by_part: dict[tuple, list] = {}
    sizes: dict[str, int] = {}
    extras: dict = {}
    live, meta, version = _snapshot(spark, root, None, None, extras)
    for p, (pv, dv) in live.items():
        if dv is None:
            by_part.setdefault(tuple(sorted(pv.items())), []).append(p)
            sizes[p] = int((extras.get("adds", {}).get(p) or {})
                           .get("size") or 0)
    min_n = 1 if zcols else max(2, min_files)
    todo = {k: sorted(v) for k, v in by_part.items() if len(v) >= min_n}
    if not todo:
        return None

    part_cols = list(meta.get("partitionColumns") or [])
    adds, removes = [], []
    for pv_items, files in sorted(todo.items()):
        pv = dict(pv_items)
        src = spark.read.parquet(*[join_path(root, p) for p in files])
        if zcols:
            from pyspark.sql import functions as F

            total = sum(sizes[p] for p in files)
            n_out = max(1, -(-total // max_file_bytes))
            keyed = src.withColumn("__zkey",
                                   _zorder_key_udf(src, zphys))
            src = (keyed.repartitionByRange(n_out, "__zkey")
                   .sortWithinPartitions("__zkey").drop("__zkey"))
        else:
            src = src.coalesce(1)
        staging = join_path(root, f"_staging_{uuid.uuid4().hex}")
        src.write.mode("overwrite").parquet(staging)
        staged = _list_staged(spark, staging, [])
        if not staged or (not zcols and len(staged) != 1):
            fs_delete(spark, staging, recursive=True)
            raise RuntimeError(
                f"optimize_delta: unexpected staged file count "
                f"{len(staged)}"
            )
        seg = "/".join(
            f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else quote(str(v), safe='')}"
            for k, v in ((c, pv.get(c)) for c in part_cols)
        )
        for i, (rel, size, mtime, _) in enumerate(staged):
            fname = f"part-{i:05d}-{uuid.uuid4()}.snappy.parquet"
            final_rel = f"{seg}/{fname}" if seg else fname
            dest = join_path(root, final_rel)
            fs_mkdirs(spark, dest.rsplit("/", 1)[0])
            fs_rename(spark, join_path(staging, rel), dest)
            adds.append({"path": quote(final_rel, safe="/=-"),
                         "partitionValues": pv, "size": int(size),
                         "modificationTime": int(mtime),
                         "dataChange": False})
        fs_delete(spark, staging, recursive=True)
        removes.extend(files)

    for _attempt in range(_MAX_COMMIT_RETRIES):
        live_now, _meta, version = _snapshot(spark, root, None)
        gone = [p for p in removes if p not in live_now]
        if gone:
            raise RuntimeError(
                f"optimize_delta: {len(gone)} file(s) were removed "
                "concurrently (e.g. an overwrite) — aborting the compaction "
                "commit; the staged files are unreferenced garbage"
            )
        now_ms = int(time.time() * 1000)
        actions = [{"remove": {"path": quote(p, safe="/=-"),
                               "deletionTimestamp": now_ms,
                               "dataChange": False}}
                   for p in sorted(removes)]
        actions.extend({"add": a} for a in adds)
        actions.append({"commitInfo": {
            "timestamp": now_ms, "operation": "OPTIMIZE",
            "operationParameters": (
                {"zOrderBy": json.dumps(zcols)} if zcols else {}),
            "engineInfo": "tidierdb_jl_spark jar-free writer",
        }})
        commit = join_path(root, "_delta_log", f"{version + 1:020d}.json")
        text = "\n".join(json.dumps(a, separators=(",", ":"))
                         for a in actions) + "\n"
        if _try_create(spark, commit, text):
            return version + 1
    raise RuntimeError(
        f"optimize_delta: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )


def _cow_guard(meta, live, root: str, op: str, part_cols):
    """Copy-on-write preconditions.  Deletion vectors are FINE (r12):
    the survivor scan goes through :func:`~.delta.read_delta`, which
    already subtracts each touched file's DV — the rewrite materializes
    the deletes and the remove action retires the DV descriptor with
    its file.  Column mapping is handled for FLAT schemas by writing
    physical names + parquet field ids (see :func:`_to_physical_df`);
    NESTED mapped schemas still refuse (per-depth field ids cannot be
    attached through the DataFrame writer)."""
    from pyspark.sql import types as T

    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode in (None, "", "none"):
        return
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    nested = [f.name for f in schema.fields
              if isinstance(f.dataType,
                            (T.StructType, T.ArrayType, T.MapType))]
    if nested:
        raise NotImplementedError(
            f"{op}: {root} uses column mapping with NESTED columns "
            f"{nested} — copy-on-write writes can stamp physical names "
            "and parquet field ids on top-level columns only; nested "
            "per-depth ids are connector-jar territory"
        )


def _to_physical_df(df, meta, root: str, op: str, extra=()):
    """For a column-mapped table (PROTOCOL.md Column Mapping), rename a
    logical-named DataFrame to the table's PHYSICAL column names and
    stamp each column with its ``delta.columnMapping.id`` as the
    parquet field id (Spark's parquet writer emits field ids from the
    ``parquet.field.id`` column-metadata key) — so the new files are
    readable by BOTH name-mode and id-mode resolvers.  Returns
    ``(physical_df, logical->physical name map)``; identity when the
    table is unmapped.  Flat schemas only — nested mapped schemas are
    refused upstream by :func:`_cow_guard`."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode in (None, "", "none"):
        return df, {c: c for c in df.columns}
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys, cols = {}, []
    for f in schema.fields:
        md = f.metadata or {}
        pn = md.get("delta.columnMapping.physicalName")
        fid = md.get("delta.columnMapping.id")
        if not pn or fid is None:
            raise ValueError(
                f"{op}: {root} is column-mapped but field {f.name!r} "
                "lacks physicalName/id metadata — malformed table"
            )
        phys[f.name] = pn
        cols.append(F.col(f.name).alias(
            pn, metadata={"parquet.field.id": int(fid)}))
    cols.extend(F.col(c) for c in extra)  # passthrough (e.g. _change_type)
    # field ids only reach the footer when the writer flag is on
    # (default true since Spark 3.3 — set explicitly, cheap and local)
    df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true")
    return df.select(*cols), phys


def _gate_append_only(meta, root: str, op: str) -> None:
    """PROTOCOL.md "Append-only Tables" (writer feature ``appendOnly``):
    when ``delta.appendOnly=true``, commits must not remove table data —
    overwrite / DELETE / MERGE refuse.  (OPTIMIZE's removes carry
    ``dataChange=false`` and stay legal: the DATA is never removed.)"""
    if str((meta.get("configuration") or {}).get(
            "delta.appendOnly", "false")).lower() == "true":
        raise ValueError(
            f"{op}: {root} is an append-only table "
            "(delta.appendOnly=true) — removing or rewriting data is "
            "prohibited by the table's own configuration"
        )


def _check_constraints(df, meta, root: str, op: str) -> None:
    """Enforce the table's CHECK constraints
    (``delta.constraints.<name>`` configuration keys, PROTOCOL.md
    "CHECK Constraints") and per-column invariants (the
    ``delta.invariants`` field metadata, "Column Invariants") on the
    rows being ADDED.  SQL CHECK semantics: a row violates only when
    the expression is FALSE (NULL passes).  One limit-1 probe per
    constraint — work bounded by the batch, and the violating row is
    named in the error instead of silently corrupting the table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    checks: list[tuple[str, str]] = []
    for k, v in (meta.get("configuration") or {}).items():
        if k.startswith("delta.constraints.") and v:
            checks.append((k[len("delta.constraints."):], str(v)))
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    for f in schema.fields:
        inv = (f.metadata or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError):
            raise ValueError(
                f"{op}: {root} column {f.name!r} carries a malformed "
                f"delta.invariants payload {inv!r}"
            )
        checks.append((f"invariant({f.name})", expr))
    # generated columns (PROTOCOL.md "Generated Columns", writer v4):
    # the stored value must equal the generation expression — verified
    # null-safely; this writer's exact-schema contract means the column
    # is always present, so verification (not computation) is the duty
    for f in schema.fields:
        gen = (f.metadata or {}).get("delta.generationExpression")
        if gen:
            checks.append((f"generated({f.name})",
                           f"`{f.name}` <=> ({gen})"))
    for name, expr in checks:
        bad = df.where(F.expr(expr) == F.lit(False)).limit(1).collect()
        if bad:
            raise ValueError(
                f"{op}: CHECK constraint {name!r} ({expr}) violated by "
                f"row {bad[0].asDict()} — refusing the commit"
            )


def _cdf_enabled(meta) -> bool:
    return str((meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed", "false")).lower() == "true"


def _stage_cdc(spark, root: str, meta, cdc_df, part_cols) -> list[dict]:
    """Stage a change-data frame (table columns + ``_change_type``)
    under ``_change_data/`` and return the ``cdc`` actions
    (PROTOCOL.md "Add CDC File"; ``dataChange`` is false by spec —
    streams tailing the table's data must not see cdc rows).  Written
    only when the table sets ``delta.enableChangeDataFeed=true``, so
    :func:`~.delta_cdf.read_delta_cdf` gets EXACT row-level changes
    even for copy-on-write commits whose add/remove actions alone
    cannot express them."""
    body, phys = _to_physical_df(cdc_df, meta, root, "cdc",
                                 extra=("_change_type",))
    staged = _stage_batch(spark, root, body,
                          [phys[c] for c in part_cols],
                          prefix="_change_data/")
    return [{"cdc": {"path": a["path"], "partitionValues":
                     a["partitionValues"], "size": a["size"],
                     "dataChange": False}} for a in staged]


def _commit_actions(spark, root: str, build_actions) -> int:
    """Optimistic commit loop shared by the row-level ops:
    ``build_actions(live, meta, version) -> list`` is re-invoked per
    attempt against a fresh snapshot."""
    from .delta import _snapshot
    from .fsio import join_path

    for _attempt in range(_MAX_COMMIT_RETRIES):
        live, meta, version = _snapshot(spark, root, None)
        actions = build_actions(live, meta, version)
        commit = join_path(root, "_delta_log", f"{version + 1:020d}.json")
        text = "\n".join(json.dumps(a, separators=(",", ":"))
                         for a in actions) + "\n"
        if _try_create(spark, commit, text):
            return version + 1
    raise RuntimeError(
        f"lost the commit race {_MAX_COMMIT_RETRIES} times at {root}"
    )


_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}


def _dv_upgrade_protocol(proto: dict) -> dict | None:
    """Protocol action adding the deletionVectors table feature, or
    None when already declared.  Upgrading a legacy protocol to the
    table-features versions (3, 7) must ENUMERATE the features the old
    minReader/minWriter implied (PROTOCOL.md "Table Features") — a
    bare upgrade would silently drop appendOnly/invariants/... from
    the contract."""
    proto = proto or {}
    wf = set(proto.get("writerFeatures") or [])
    rf = set(proto.get("readerFeatures") or [])
    if "deletionVectors" in wf and "deletionVectors" in rf:
        return None
    if proto.get("writerFeatures") is None:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if int(proto.get("minWriterVersion", 2)) >= v:
                wf |= set(feats)
    if proto.get("readerFeatures") is None and \
            int(proto.get("minReaderVersion", 1)) >= 2:
        rf.add("columnMapping")
    wf.add("deletionVectors")
    rf.add("deletionVectors")
    return {"minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(rf), "writerFeatures": sorted(wf)}


def _encode_dv_sidecar(spark, root: str, matched, live) -> dict:
    """Encode matched rows (DF with ``__mor_file`` basename +
    ``__mor_ridx`` physical index columns) into DELETION VECTORS:
    per-file roaring bitmaps built EXECUTOR-side (an existing DV
    unions in — the discovery scan already excluded its rows, so the
    sets are disjoint), packed into ONE sidecar ``.bin`` (version
    byte 1; per DV: BE size, data, BE CRC-32 — the exact layout
    :func:`~.dvectors.read_dv_from_bytes` verifies).  Returns
    {basename: DV descriptor}, empty when nothing matched.  Driver
    traffic is the encoded blobs — bounded by bitmap structure, never
    row count."""
    import struct as _struct
    import zlib as _zlib

    from .fsio import hadoop_fs, join_path

    old_dv_json = {p.rsplit("/", 1)[-1]: json.dumps(dv)
                   for p, (_pv, dv) in live.items() if dv}
    bc = matched.sparkSession.sparkContext.broadcast(old_dv_json)
    root_b = root

    def enc(key, pdf):
        import numpy as np
        import pandas as pd

        from tidierdb_jl_spark.sources.dvectors import (
            dv_file_relpath, encode_roaring_array, read_dv_from_bytes,
            z85_decode,
        )
        from tidierdb_jl_spark.sources.fsio import read_bytes

        b = key[0]
        idx = np.unique(pdf["__mor_ridx"].to_numpy(dtype="int64"))
        desc_s = bc.value.get(b)
        if desc_s:
            d = json.loads(desc_s)
            st = d.get("storageType")
            if st == "i":
                from tidierdb_jl_spark.sources.dvectors import (
                    decode_dv_blob,
                )

                old = decode_dv_blob(
                    z85_decode(d["pathOrInlineDv"]),
                    d.get("cardinality"))
            else:
                url = (d["pathOrInlineDv"] if st == "p" else
                       f"{root_b}/{dv_file_relpath(d['pathOrInlineDv'])}")
                old = read_dv_from_bytes(
                    read_bytes(url), int(d.get("offset") or 1),
                    int(d["sizeInBytes"]), d.get("cardinality"))
            idx = np.union1d(idx, old.astype("int64"))
        blob = encode_roaring_array(idx)
        return pd.DataFrame({"file": [b], "blob": [blob.hex()],
                             "card": [int(len(idx))]})

    rows = (matched.select("__mor_file", "__mor_ridx")
            .groupBy("__mor_file")
            .applyInPandas(enc, "file string, blob string, card long")
            .collect())
    if not rows:
        return {}

    dv_uuid = uuid.uuid4()
    sidecar_rel = f"deletion_vector_{dv_uuid}.bin"
    buf = bytearray(b"\x01")
    descs: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: r["file"]):
        data = bytes.fromhex(r["blob"])
        off = len(buf)
        buf += _struct.pack(">i", len(data))
        buf += data
        buf += _struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF)
        from .dvectors import z85_encode

        descs[r["file"]] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(dv_uuid.bytes),
            "offset": off,
            "sizeInBytes": len(data),
            "cardinality": int(r["card"]),
        }
    fs, hp = hadoop_fs(spark, join_path(root, sidecar_rel))
    stream = fs.create(hp, False)
    try:
        stream.write(bytearray(buf))
    finally:
        stream.close()
    return descs


def _delete_mor(spark, root: str, predicate: str, meta,
                part_cols) -> int | None:
    """Merge-on-read DELETE: encode the matching rows into DELETION
    VECTORS instead of rewriting files (what delta-spark does by
    default since 2.4) — each touched file's add action is re-committed
    with a DV descriptor pointing into one new sidecar ``.bin``.  The
    row data never moves: work scales with the MATCH COUNT (bitmap
    encode + metadata), the cheapest possible delete at 100 TB.
    Protocol upgrades to the deletionVectors table feature on first
    use, enumerating the legacy-implied features."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    extras: dict = {}
    live, meta, _version = _snapshot(spark, root, None, None, extras)
    if not live:
        return None
    tf = read_delta(spark, root, _file_col="__mor_file",
                    _ridx_col="__mor_ridx")
    matched = tf.df.where(F.expr(predicate))
    descs = _encode_dv_sidecar(spark, root, matched, live)
    if not descs:
        return None
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}

    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        deleted = (matched.drop("__mor_file", "__mor_ridx")
                   .withColumn("_change_type", F.lit("delete")))
        cdc_acts = _stage_cdc(spark, root, meta, deleted, part_cols)

    touched_paths = sorted(by_base[b] for b in descs)
    adds_info = extras.get("adds", {})

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"delete_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; the sidecar is unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = []
        up = _dv_upgrade_protocol(extras.get("protocol"))
        if up is not None:
            acts.append({"protocol": up})
        acts.extend(cdc_acts)
        for p in touched_paths:
            b = p.rsplit("/", 1)[-1]
            old_add = dict(adds_info.get(p) or {})
            acts.append({"remove": {"path": quote(p, safe="/=-"),
                                    "deletionTimestamp": now_ms,
                                    "dataChange": True}})
            new_add = dict(old_add)
            new_add["path"] = quote(p, safe="/=-")
            new_add["deletionVector"] = descs[b]
            new_add["dataChange"] = True
            acts.append({"add": new_add})
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "DELETE",
            "operationParameters": {"predicate": predicate,
                                    "mode": "merge-on-read"},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def delete_delta(spark, path: str, predicate: str,
                 mode: str = "copy-on-write") -> int | None:
    """Row-level DELETE.  ``mode="copy-on-write"`` (default): files
    containing rows matching ``predicate`` are rewritten WITHOUT those
    rows; untouched files stay (work scales with matching files, not
    table size — the predicate is pushed into the touched-file
    discovery scan).  ``mode="merge-on-read"``: matching rows are
    encoded into DELETION VECTORS instead — no data file is rewritten,
    work scales with the match count (what delta-spark does by default;
    see :func:`_delete_mor`).  Returns the committed version, or None
    when nothing matched.  History is preserved either way: time
    travel before the delete still sees the rows."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    root = str(path).rstrip("/")
    live, meta, _version = _snapshot(spark, root, None)
    part_cols = list(meta.get("partitionColumns") or [])
    _gate_append_only(meta, root, "delete_delta")
    if mode == "merge-on-read":
        return _delete_mor(spark, root, predicate, meta, part_cols)
    if mode != "copy-on-write":
        raise ValueError(
            f"delete_delta: mode {mode!r} (copy-on-write|merge-on-read)")
    _cow_guard(meta, live, root, "delete_delta", part_cols)
    if not live:
        return None

    tf = read_delta(spark, root, _file_col="__cow_file")
    touched = [r[0] for r in tf.df.where(F.expr(predicate))
               .select("__cow_file").distinct().collect()]
    if not touched:
        return None
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}
    touched_paths = sorted(by_base[b] for b in touched)

    survivors = (
        tf.df.where(F.col("__cow_file").isin(touched))
        .where(~F.expr(predicate))
        .drop("__cow_file")
    )
    # DV-bearing touched files: read_delta already subtracted each DV, so
    # the survivor rewrite materializes the deletes; the remove action
    # below retires the DV descriptor together with its file (r12)
    survivors, phys = _to_physical_df(survivors, meta, root,
                                      "delete_delta")
    adds = _stage_batch(spark, root, survivors,
                        [phys[c] for c in part_cols])
    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        deleted = (tf.df.where(F.col("__cow_file").isin(touched))
                   .where(F.expr(predicate)).drop("__cow_file")
                   .withColumn("_change_type", F.lit("delete")))
        cdc_acts = _stage_cdc(spark, root, meta, deleted, part_cols)

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"delete_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; staged files are unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = list(cdc_acts)
        acts.extend({"remove": {"path": quote(p, safe="/=-"),
                                "deletionTimestamp": now_ms,
                                "dataChange": True}}
                    for p in touched_paths)
        acts.extend({"add": a} for a in adds)
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "DELETE",
            "operationParameters": {"predicate": predicate},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def _update_mor(spark, root: str, predicate: str, set: dict, meta,
                part_cols) -> int | None:
    """Merge-on-read UPDATE: the matched rows DV-delete in place and
    their TRANSFORMED images append as new files — no touched file is
    rewritten, so work scales with the match count plus the changed
    rows (delta-spark's DV-update shape)."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    extras: dict = {}
    live, meta, _version = _snapshot(spark, root, None, None, extras)
    if not live:
        return None
    tf = read_delta(spark, root, _file_col="__mor_file",
                    _ridx_col="__mor_ridx")
    matched = tf.df.where(F.expr(predicate))
    descs = _encode_dv_sidecar(spark, root, matched, live)
    if not descs:
        return None
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}

    data_cols = [c for c in tf.df.columns
                 if c not in ("__mor_file", "__mor_ridx")]
    transformed = matched.select(
        *[(F.expr(set[c]).alias(c) if c in set else F.col(c))
          for c in data_cols])
    _check_constraints(transformed, meta, root, "update_delta")
    body, phys = _to_physical_df(transformed, meta, root,
                                 "update_delta")
    adds = _stage_batch(spark, root, body,
                        [phys[c] for c in part_cols])

    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        pre = (matched.select(*data_cols)
               .withColumn("_change_type", F.lit("update_preimage")))
        post = transformed.withColumn("_change_type",
                                      F.lit("update_postimage"))
        cdc_acts = _stage_cdc(spark, root, meta,
                              pre.unionByName(post), part_cols)

    touched_paths = sorted(by_base[b] for b in descs)
    adds_info = extras.get("adds", {})

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"update_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; staged files are unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = []
        up = _dv_upgrade_protocol(extras.get("protocol"))
        if up is not None:
            acts.append({"protocol": up})
        acts.extend(cdc_acts)
        for p in touched_paths:
            b = p.rsplit("/", 1)[-1]
            old_add = dict(adds_info.get(p) or {})
            acts.append({"remove": {"path": quote(p, safe="/=-"),
                                    "deletionTimestamp": now_ms,
                                    "dataChange": True}})
            new_add = dict(old_add)
            new_add["path"] = quote(p, safe="/=-")
            new_add["deletionVector"] = descs[b]
            new_add["dataChange"] = True
            acts.append({"add": new_add})
        acts.extend({"add": a} for a in adds)
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "UPDATE",
            "operationParameters": {"predicate": predicate,
                                    "mode": "merge-on-read"},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def update_delta(spark, path: str, predicate: str,
                 set: dict, mode: str = "copy-on-write") -> int | None:
    """Row-level UPDATE (``UPDATE ... SET col = expr WHERE
    predicate``; expressions evaluate against the PRE-update row).
    ``mode="copy-on-write"`` (default): files containing matching rows
    are rewritten with those rows transformed; untouched files stay,
    so work scales with matching files.  ``mode="merge-on-read"``:
    matched rows DV-delete in place and their transformed images
    append — no file rewrites (see :func:`_update_mor`).  On
    CDF-enabled tables exact update_preimage/update_postimage cdc rows
    are emitted either way.  Returns the committed version, or None
    when nothing matched."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    root = str(path).rstrip("/")
    live, meta, _version = _snapshot(spark, root, None)
    part_cols = list(meta.get("partitionColumns") or [])
    _gate_append_only(meta, root, "update_delta")
    if not live:
        return None
    bad = [c for c in set if c not in
           [f["name"] for f in json.loads(meta["schemaString"])["fields"]]]
    if bad:
        raise ValueError(f"update_delta: set targets {bad} not in the "
                         "table schema")
    if mode == "merge-on-read":
        return _update_mor(spark, root, predicate, set, meta, part_cols)
    if mode != "copy-on-write":
        raise ValueError(
            f"update_delta: mode {mode!r} (copy-on-write|merge-on-read)")
    _cow_guard(meta, live, root, "update_delta", part_cols)

    tf = read_delta(spark, root, _file_col="__cow_file")
    touched = [r[0] for r in tf.df.where(F.expr(predicate))
               .select("__cow_file").distinct().collect()]
    if not touched:
        return None
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}
    touched_paths = sorted(by_base[b] for b in touched)

    scope = tf.df.where(F.col("__cow_file").isin(touched))
    hit = F.expr(predicate)
    cols = [
        (F.when(hit, F.expr(set[c])).otherwise(F.col(c)).alias(c)
         if c in set else F.col(c))
        for c in tf.df.columns if c != "__cow_file"
    ]
    rewritten = scope.select(*cols)
    _check_constraints(rewritten, meta, root, "update_delta")
    body, phys = _to_physical_df(rewritten, meta, root, "update_delta")
    adds = _stage_batch(spark, root, body, [phys[c] for c in part_cols])

    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        pre = (scope.where(hit).drop("__cow_file")
               .withColumn("_change_type", F.lit("update_preimage")))
        post_cols = [F.expr(set[c]).alias(c) if c in set else F.col(c)
                     for c in tf.df.columns if c != "__cow_file"]
        post = (scope.where(hit).select(*post_cols)
                .withColumn("_change_type", F.lit("update_postimage")))
        cdc_acts = _stage_cdc(spark, root, meta,
                              pre.unionByName(post), part_cols)

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"update_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; staged files are unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = list(cdc_acts)
        acts.extend({"remove": {"path": quote(p, safe="/=-"),
                                "deletionTimestamp": now_ms,
                                "dataChange": True}}
                    for p in touched_paths)
        acts.extend({"add": a} for a in adds)
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "UPDATE",
            "operationParameters": {"predicate": predicate},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def _merge_mor(spark, root: str, updates, keys, meta,
               part_cols) -> int:
    """Merge-on-read MERGE: matched rows are DELETED via deletion
    vectors (no file rewrites — :func:`_encode_dv_sidecar`) and the
    WHOLE update batch appends as new files.  The CDC-upsert shape at
    100 TB: work scales with the match count plus the batch, never
    with touched-file sizes."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    extras: dict = {}
    live, meta, _version = _snapshot(spark, root, None, None, extras)
    tf = (read_delta(spark, root, _file_col="__mor_file",
                     _ridx_col="__mor_ridx") if live else None)
    ukeys = updates.select(*keys).distinct()
    n_keys = ukeys.count()
    hint = (F.broadcast if n_keys <= _MERGE_BROADCAST_KEYS
            else (lambda d: d))
    matched = (tf.df.join(hint(ukeys), keys, "left_semi")
               if tf is not None else None)
    descs = (_encode_dv_sidecar(spark, root, matched, live)
             if matched is not None else {})
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}

    stage_df, phys = _to_physical_df(updates, meta, root, "merge_delta")
    adds = _stage_batch(spark, root, stage_df,
                        [phys[c] for c in part_cols])

    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        if matched is not None:
            pre = matched.drop("__mor_file", "__mor_ridx")
            mkeys = pre.select(*keys).distinct()
            post = updates.join(hint(mkeys), keys, "left_semi")
            inserts = updates.join(hint(mkeys), keys, "left_anti")
            cdc_df = (
                pre.withColumn("_change_type",
                               F.lit("update_preimage"))
                .unionByName(post.withColumn(
                    "_change_type", F.lit("update_postimage")))
                .unionByName(inserts.withColumn(
                    "_change_type", F.lit("insert")))
            )
        else:
            cdc_df = updates.withColumn("_change_type", F.lit("insert"))
        cdc_acts = _stage_cdc(spark, root, meta, cdc_df, part_cols)

    touched_paths = sorted(by_base[b] for b in descs)
    adds_info = extras.get("adds", {})

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"merge_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; staged files are unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = []
        if descs:
            up = _dv_upgrade_protocol(extras.get("protocol"))
            if up is not None:
                acts.append({"protocol": up})
        acts.extend(cdc_acts)
        for p in touched_paths:
            b = p.rsplit("/", 1)[-1]
            old_add = dict(adds_info.get(p) or {})
            acts.append({"remove": {"path": quote(p, safe="/=-"),
                                    "deletionTimestamp": now_ms,
                                    "dataChange": True}})
            new_add = dict(old_add)
            new_add["path"] = quote(p, safe="/=-")
            new_add["deletionVector"] = descs[b]
            new_add["dataChange"] = True
            acts.append({"add": new_add})
        acts.extend({"add": a} for a in adds)
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "MERGE",
            "operationParameters": {"matchedPredicate": ",".join(keys),
                                    "mode": "merge-on-read"},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def merge_delta(spark, path: str, updates_tf, key,
                mode: str = "copy-on-write") -> int:
    """UPSERT (the MERGE ``WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT *`` shape): rows whose ``key`` matches an update are
    replaced by it, new keys append.  ``mode="copy-on-write"``
    (default): only files containing matched keys are rewritten —
    discovery is one size-aware semi-join of the distinct update keys
    against the scan, so work scales with the matched files plus the
    update batch, never the table.  ``mode="merge-on-read"``: matched
    rows are deleted via DELETION VECTORS and the batch appends — no
    file rewrites at all (see :func:`_merge_mor`).  The update batch
    must be unique per key (checked — an ambiguous MERGE must not pick
    a winner silently) and schema-identical to the table.  Returns the
    committed version."""
    from pyspark.sql import functions as F

    from .delta import _snapshot, read_delta

    root = str(path).rstrip("/")
    live, meta, _version = _snapshot(spark, root, None)
    part_cols = list(meta.get("partitionColumns") or [])
    _gate_append_only(meta, root, "merge_delta")
    keys = [key] if isinstance(key, str) else list(key)
    updates = updates_tf.df if hasattr(updates_tf, "df") else updates_tf
    _check_constraints(updates, meta, root, "merge_delta")
    if _schema_fingerprint(meta["schemaString"]) != \
            _schema_fingerprint(updates.schema.json()):
        raise ValueError(
            f"merge_delta: update batch schema does not match the table "
            f"schema at {root}"
        )
    dup = (updates.groupBy(*keys).count().where("count > 1").limit(1)
           .collect())
    if dup:
        raise ValueError(
            f"merge_delta: update batch has duplicate keys (e.g. "
            f"{tuple(dup[0][k] for k in keys)}) — an ambiguous MERGE "
            "must not pick a winner silently"
        )
    if mode == "merge-on-read":
        return _merge_mor(spark, root, updates, keys, meta, part_cols)
    if mode != "copy-on-write":
        raise ValueError(
            f"merge_delta: mode {mode!r} (copy-on-write|merge-on-read)")
    _cow_guard(meta, live, root, "merge_delta", part_cols)

    tf = read_delta(spark, root, _file_col="__cow_file")
    ukeys = updates.select(*keys).distinct()
    # size-aware join strategy (r12, same deterministic smallness rule
    # as the iceberg equality-delete hint): broadcast the distinct
    # update keys only when the batch is provably small — a 10⁸-key
    # backfill merge must shuffle, not OOM every executor on a
    # broadcast table.  The count is one pass over the update batch,
    # which the duplicate-key check above already paid for.
    n_keys = ukeys.count()
    hint = F.broadcast if n_keys <= _MERGE_BROADCAST_KEYS else (lambda d: d)
    touched = [r[0] for r in
               tf.df.join(hint(ukeys), keys, "left_semi")
               .select("__cow_file").distinct().collect()]
    by_base = {p.rsplit("/", 1)[-1]: p for p in live}
    touched_paths = sorted(by_base[b] for b in touched)

    survivors = (
        tf.df.where(F.col("__cow_file").isin(touched))
        .join(hint(ukeys), keys, "left_anti")
        .drop("__cow_file")
        if touched else None
    )
    new_data = (survivors.unionByName(updates) if survivors is not None
                else updates)
    new_data, phys = _to_physical_df(new_data, meta, root, "merge_delta")
    adds = _stage_batch(spark, root, new_data,
                        [phys[c] for c in part_cols])
    cdc_acts: list[dict] = []
    if _cdf_enabled(meta):
        # matched rows: pre/post images; unmatched update keys: inserts
        pre = (tf.df.where(F.col("__cow_file").isin(touched))
               .join(hint(ukeys), keys, "left_semi").drop("__cow_file")
               if touched else None)
        if pre is not None:
            matched_keys = pre.select(*keys).distinct()
            # matched_keys is a subset of the update keys — reuse the
            # same size-aware broadcast decision
            post = updates.join(hint(matched_keys), keys, "left_semi")
            inserts = updates.join(hint(matched_keys), keys, "left_anti")
            cdc_df = (
                pre.withColumn("_change_type",
                               F.lit("update_preimage"))
                .unionByName(post.withColumn(
                    "_change_type", F.lit("update_postimage")))
                .unionByName(inserts.withColumn(
                    "_change_type", F.lit("insert")))
            )
        else:
            cdc_df = updates.withColumn("_change_type", F.lit("insert"))
        cdc_acts = _stage_cdc(spark, root, meta, cdc_df, part_cols)

    def build(live_now, _meta, _version):
        gone = [p for p in touched_paths if p not in live_now]
        if gone:
            raise RuntimeError(
                f"merge_delta: {len(gone)} touched file(s) changed "
                "concurrently — aborting; staged files are unreferenced "
                "garbage"
            )
        now_ms = int(time.time() * 1000)
        acts = list(cdc_acts)
        acts.extend({"remove": {"path": quote(p, safe="/=-"),
                                "deletionTimestamp": now_ms,
                                "dataChange": True}}
                    for p in touched_paths)
        acts.extend({"add": a} for a in adds)
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "MERGE",
            "operationParameters": {"matchedPredicate": ",".join(keys)},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def _list_table_files(spark, root: str):
    """All (relpath, mtime_ms) under ``root`` excluding ``_delta_log/``.

    The top-level entries are listed on the driver; each subdirectory
    tree is then walked in a DISTRIBUTED Spark job when the table lives
    on a filesystem the executors' Python can reach (``file://`` /
    bare paths — the local-mount case; object stores go through the
    driver's Hadoop FS since executors have no JVM handle).  A 100 TB
    partitioned table has 10⁵-10⁷ files across 10³+ partition dirs —
    per-dir listing is the parallelizable unit and no row data is ever
    read either way."""
    from .fsio import hadoop_fs

    fs, hroot = hadoop_fs(spark, root)
    qroot = fs.makeQualified(hroot).toString()
    # Hadoop qualifies local paths as file:/x (single slash)
    scheme = qroot.split(":", 1)[0] if ":" in qroot else "file"

    top_files, top_dirs = [], []
    for st in fs.listStatus(hroot):
        p = st.getPath()
        rel = p.toString()[len(qroot):].lstrip("/")
        if rel == "_delta_log" or rel.startswith("_delta_log/"):
            continue
        if st.isDirectory():
            top_dirs.append(rel)
        else:
            top_files.append((rel, int(st.getModificationTime())))

    if scheme != "file" or not top_dirs:
        # driver-side Hadoop walk (object stores; or nothing to fan out)
        out = list(top_files)
        pending = [d for d in top_dirs]
        while pending:
            rel_dir = pending.pop()
            hp = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/{rel_dir}")
            for st in fs.listStatus(hp):
                p = st.getPath()
                rel = p.toString()[len(qroot):].lstrip("/")
                if st.isDirectory():
                    pending.append(rel)
                else:
                    out.append((rel, int(st.getModificationTime())))
        return out

    local_root = qroot
    for pre in ("file://", "file:"):
        if local_root.startswith(pre):
            local_root = local_root[len(pre):]
            break

    def walk(dirs_iter):
        import os

        for rel_dir in dirs_iter:
            base = os.path.join(local_root, rel_dir)
            for cur, _dns, fns in os.walk(base):
                crel = os.path.relpath(cur, local_root)
                for fn in fns:
                    st = os.stat(os.path.join(cur, fn))
                    yield (os.path.join(crel, fn).replace(os.sep, "/"),
                           int(st.st_mtime * 1000))

    n = min(len(top_dirs), 64)
    listed = (spark.sparkContext.parallelize(sorted(top_dirs), n)
              .mapPartitions(lambda it: walk(it)).collect())
    return top_files + [(rel, mt) for rel, mt in listed]


def vacuum_delta(spark, path: str, retain_hours: float = 168.0,
                 dry_run: bool = False) -> list:
    """Garbage-collect data files no longer referenced by the CURRENT
    snapshot (standard VACUUM semantics): a candidate is deleted when it
    is (a) not live, (b) not inside ``_delta_log``, and (c) older than
    ``retain_hours``.  "Older" is judged by the file's remove
    tombstone's ``deletionTimestamp`` — when the file became
    UNREFERENCED — exactly as connector-jar VACUUM does: a file written
    months ago but removed minutes ago (overwrite / OPTIMIZE / DELETE /
    MERGE) is still inside the window that protects in-flight readers
    of recent versions and time travel.  Files with no tombstone in the
    replayable log (crashed writers' staging leftovers, commits whose
    tombstone expired out of its checkpoint) fall back to filesystem
    mtime — for true orphans that IS when they became unreferenced, and
    an expired tombstone means every timestamp involved predates any
    admissible cutoff anyway.  Time travel PAST the window stops
    working for vacuumed versions.  Returns the deleted (or, with
    ``dry_run``, the would-be-deleted) relative paths.

    Listing is distributed per partition directory on locally-reachable
    filesystems (see :func:`_list_table_files`); only O(files) metadata
    ever reaches the driver, never row data."""
    import time as _time

    from .delta import _snapshot
    from .fsio import fs_delete

    root = str(path).rstrip("/")
    extras: dict = {}
    live, _meta, _version = _snapshot(spark, root, None, None, extras)
    keep = {p for p in live}
    # DV sidecar .bin files never appear as add/remove actions — protect
    # every sidecar the CURRENT snapshot references (same rule as
    # delta-spark VACUUM; unreferenced sidecars age out by mtime)
    from .dvectors import dv_file_relpath

    for _p, (_pv, dv) in live.items():
        if dv and dv.get("storageType") == "u":
            keep.add(dv_file_relpath(dv.get("pathOrInlineDv") or ""))
        elif dv and dv.get("storageType") == "p":
            ap = str(dv.get("pathOrInlineDv") or "")
            if ap.startswith(root + "/"):
                keep.add(ap[len(root) + 1:])
    cutoff_ms = (_time.time() - retain_hours * 3600.0) * 1000.0
    tombstone_ms = {
        p: r.get("deletionTimestamp")
        for p, r in extras.get("removes", {}).items()
    }

    victims = []
    for rel, mtime_ms in _list_table_files(spark, root):
        if rel in keep:
            continue
        ts = tombstone_ms.get(rel)
        ref_ms = float(ts) if ts is not None else float(mtime_ms)
        if ref_ms >= cutoff_ms:
            continue  # within retention — may still be read/committed
        victims.append(rel)
    if not dry_run:
        for rel in victims:
            fs_delete(spark, f"{root}/{rel}", recursive=False)
    return sorted(victims)


def convert_to_delta(spark, path: str, partition_by=None) -> int:
    """In-place migration of a plain parquet directory to a Delta table
    (delta-spark's ``CONVERT TO DELTA``): commits version 0 whose add
    actions reference the EXISTING files — no data moves, no rewrite;
    the directory simply gains a ``_delta_log``.  Hive-style ``k=v``
    partition directories are parsed into partitionValues;
    ``partition_by`` declares the expected partition columns (refused
    on mismatch — guessing a layout corrupts every downstream
    partition-pruned read).  The schema is Spark's own inference over
    the directory (partition columns typed from the directory values,
    exactly what a scan would see).  Refuses if the table already has
    a log.  Returns 0, the committed version.

    Metadata-sized: one distributed listing + one footer-schema read;
    row data is never touched."""
    from urllib.parse import unquote as _unquote

    from .fsio import fs_exists, fs_mkdirs, join_path

    root = str(path).rstrip("/")
    if not fs_exists(spark, root):
        raise ValueError(f"convert_to_delta: no parquet files under {root}")
    log_dir = join_path(root, "_delta_log")
    if fs_exists(spark, log_dir):
        raise ValueError(
            f"convert_to_delta: {root} already has a _delta_log/ — "
            "it is already a Delta table"
        )
    part_cols = ([partition_by] if isinstance(partition_by, str)
                 else list(partition_by or []))

    files = [(rel, mtime) for rel, mtime in _list_table_files(spark, root)
             if rel.endswith(".parquet")
             and not rel.rsplit("/", 1)[-1].startswith((".", "_"))]
    if not files:
        raise ValueError(f"convert_to_delta: no parquet files under {root}")

    adds = []
    from .fsio import hadoop_fs

    fs, _hroot = hadoop_fs(spark, root)
    for rel, mtime in sorted(files):
        segs = rel.split("/")[:-1]
        pv = {}
        for seg in segs:
            if "=" not in seg:
                raise ValueError(
                    f"convert_to_delta: directory segment {seg!r} under "
                    f"{root} is not k=v hive layout — cannot derive "
                    "partitionValues"
                )
            k, v = seg.split("=", 1)
            pv[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                     else _unquote(v))
        if sorted(pv) != sorted(part_cols):
            raise ValueError(
                f"convert_to_delta: file {rel!r} lives under partition "
                f"dirs {sorted(pv)} but partition_by={sorted(part_cols)} "
                "— declare the actual layout"
            )
        st = fs.getFileStatus(
            spark._jvm.org.apache.hadoop.fs.Path(join_path(root, rel)))
        # uuid-fresh basenames: Spark reuses one job uuid across
        # partition dirs, so original basenames COLLIDE across
        # partitions — and readers (this repo's included) key per-file
        # metadata by unique basename.  A rename is a metadata move on
        # the same filesystem; row data never rewrites.
        parent = rel.rsplit("/", 1)[0] if "/" in rel else ""
        fname = f"part-{len(adds):05d}-{uuid.uuid4()}.snappy.parquet"
        new_rel = f"{parent}/{fname}" if parent else fname
        from .fsio import fs_rename

        fs_rename(spark, join_path(root, rel), join_path(root, new_rel))
        adds.append({"path": quote(new_rel, safe="/=-"),
                     "partitionValues": pv, "size": int(st.getLen()),
                     "modificationTime": int(st.getModificationTime()),
                     "dataChange": True})

    # Spark's own inference = what a scan sees (partition columns typed
    # from the directory values and placed after the data columns)
    schema_json = spark.read.parquet(root).schema.json()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }},
    ]
    actions.extend({"add": a} for a in adds)
    actions.append({"commitInfo": {
        "timestamp": int(time.time() * 1000), "operation": "CONVERT",
        "operationParameters": {"numFiles": str(len(adds))},
        "engineInfo": "tidierdb_jl_spark jar-free writer"}})
    fs_mkdirs(spark, log_dir)
    text = "\n".join(json.dumps(a, separators=(",", ":"))
                     for a in actions) + "\n"
    if not _try_create(spark, join_path(log_dir, f"{0:020d}.json"), text):
        raise ValueError(
            f"convert_to_delta: lost the race creating version 0 at "
            f"{root} — another converter won"
        )
    return 0


def restore_delta(spark, path: str, version: int) -> int:
    """RESTORE the table to an earlier version (delta-spark's
    ``RESTORE TABLE ... TO VERSION AS OF``): commits a NEW version
    whose live set and metaData equal the target's — re-adding files
    the target references that are no longer live, removing files
    added since.  History is preserved (a restore is itself a commit;
    time travel still reaches every version), and the operation
    REFUSES when a referenced file has been vacuumed away — exactly
    delta-spark's behavior, the loud alternative to committing a
    corrupt table.  Returns the committed version.

    Metadata-sized work: two log replays plus one existence probe per
    re-added file; no row data moves."""
    from .delta import _snapshot
    from .fsio import fs_exists, join_path

    root = str(path).rstrip("/")
    target_extras: dict = {}
    live_t, meta_t, v_t = _snapshot(spark, root, int(version), None,
                                    target_extras)

    def build(live_now, meta_now, v_now):
        if v_now == v_t:
            raise ValueError(
                f"restore_delta: {root} is already at version {v_t}")
        _gate_append_only(meta_now, root, "restore_delta")
        re_add = sorted(p for p in live_t if p not in live_now)
        missing = [p for p in re_add
                   if not fs_exists(spark, join_path(root, p))]
        if missing:
            raise ValueError(
                f"restore_delta: {len(missing)} file(s) version "
                f"{v_t} references were removed from disk (e.g. "
                f"{missing[0]!r}) — vacuumed past the retention "
                "window; that version is no longer restorable"
            )
        now_ms = int(time.time() * 1000)
        acts = []
        if _schema_fingerprint(meta_now["schemaString"]) != \
                _schema_fingerprint(meta_t["schemaString"]) or \
                (meta_now.get("configuration") or {}) != \
                (meta_t.get("configuration") or {}):
            # restore rolls the schema/properties back too
            acts.append({"metaData": meta_t})
        for p in sorted(p for p in live_now if p not in live_t):
            acts.append({"remove": {"path": quote(p, safe="/=-"),
                                    "deletionTimestamp": now_ms,
                                    "dataChange": True}})
        adds_t = target_extras.get("adds", {})
        for p in re_add:
            a = dict(adds_t.get(p) or {})
            a["path"] = quote(p, safe="/=-")
            a["dataChange"] = True
            acts.append({"add": a})
        acts.append({"commitInfo": {
            "timestamp": now_ms, "operation": "RESTORE",
            "operationParameters": {"version": str(v_t)},
            "engineInfo": "tidierdb_jl_spark jar-free writer"}})
        return acts

    return _commit_actions(spark, root, build)


def describe_detail(spark, path: str) -> dict:
    """Table-level summary (delta-spark's ``DESCRIBE DETAIL``): format,
    table id, creation time, partition columns, live ``numFiles`` /
    ``sizeInBytes``, configuration, and the protocol versions — the
    one-call health check an operator reads before deciding on
    OPTIMIZE / VACUUM / checkpoint cadence.  Driver-side log replay,
    metadata-sized."""
    from .delta import _snapshot

    root = str(path).rstrip("/")
    extras: dict = {}
    live, meta, version = _snapshot(spark, root, None, None, extras)
    adds = extras.get("adds", {})
    proto = extras.get("protocol") or {}
    n_dv = sum(1 for _p, (_pv, dv) in live.items() if dv)
    return {
        "format": (meta.get("format") or {}).get("provider", "parquet"),
        "id": meta.get("id"),
        "location": root,
        "created_at": meta.get("createdTime"),
        "version": version,
        "num_files": len(live),
        "size_in_bytes": sum(
            int((adds.get(p) or {}).get("size") or 0) for p in live),
        "num_deletion_vector_files": n_dv,
        "partition_columns": list(meta.get("partitionColumns") or []),
        "configuration": dict(meta.get("configuration") or {}),
        "min_reader_version": int(proto.get("minReaderVersion", 1)),
        "min_writer_version": int(proto.get("minWriterVersion", 2)),
    }


def describe_history(spark, path: str) -> list[dict]:
    """Table history, newest first: one dict per commit with
    ``version``, ``timestamp`` (ms), ``operation`` and
    ``operationParameters`` from the commitInfo action (None for
    commits without one), plus the counts of add/remove actions —
    the DESCRIBE HISTORY introspection surface.  Driver-side,
    metadata-sized (reads only the JSON commits; checkpointed-away
    versions are reported from the checkpoint horizon)."""
    from .delta import _log_entries
    from .fsio import fs_exists, join_path, read_text

    root = str(path).rstrip("/")
    log_dir = join_path(root, "_delta_log")
    if not fs_exists(spark, log_dir):
        raise ValueError(f"{root} is not a Delta table (no _delta_log/)")
    out = []
    for v, kind, name in _log_entries(spark, log_dir):
        if kind != "json":
            continue
        info, n_add, n_remove = None, 0, 0
        for line in read_text(spark, join_path(log_dir, name)).splitlines():
            if not line.strip():
                continue
            d = json.loads(line)
            if "commitInfo" in d:
                info = d["commitInfo"]
            n_add += "add" in d
            n_remove += "remove" in d
        out.append({
            "version": v,
            "timestamp": (info or {}).get("timestamp"),
            "operation": (info or {}).get("operation"),
            "operationParameters": (info or {}).get(
                "operationParameters"),
            "num_added_files": n_add,
            "num_removed_files": n_remove,
        })
    return sorted(out, key=lambda d: -d["version"])
