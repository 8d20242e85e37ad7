"""Iceberg row-level operations and compaction without connector jars.

Beyond-reference (the reference is read-only on Iceberg:
``/root/reference/src/TidierDB.jl:161-165`` scans via DuckDB's
iceberg_scan) — copy-on-write DELETE / MERGE, data-file compaction
(``rewriteDataFiles``) and snapshot rollback for v2 hadoop-layout
tables, completing the read-write parity with the Delta side
(:mod:`.delta_writer`).

How a copy-on-write commit works (Iceberg spec "Snapshots" +
"Manifests"):

1. **Discovery** — one predicate/semi-join scan through
   :func:`~.iceberg.read_iceberg` with its ``_file_col`` hook finds the
   data files containing affected rows.  The scan has already
   subtracted position/DV/equality deletes, so the rewrite
   MATERIALIZES them for the touched files.
2. **Rewrite** — survivors of the touched files are written as fresh
   data files by the same executor-side pyarrow path the writer uses
   (:func:`~.iceberg_writer._write_data_files` — field-id-stamped
   parquet, partition transforms computed executor-side).
3. **Manifest surgery** — manifests CONTAINING touched files are
   rewritten: touched entries flip to status 2 (DELETED, stamped with
   the committing snapshot), survivors stay as status 0 (EXISTING,
   explicit data sequence numbers — inheritance resolved at rewrite
   time).  Untouched manifests are carried verbatim in the new
   manifest list, so metadata work scales with TOUCHED manifests, not
   the table; a carried manifest with no live entry left drops out.  One new manifest lists the rewritten files.
4. **Commit** — a new snapshot + ``v<N>.metadata.json`` via the
   hadoop-catalog optimistic protocol (``create(overwrite=False)``;
   losers re-read and retry, verifying the touched files are still
   live — a concurrent overwrite aborts the commit loudly).

Delete files referencing only retired data files stay in the snapshot
as harmless no-ops (the reader keys them by basename; the basenames
are gone) and age out through
:func:`~.iceberg_writer.expire_snapshots_iceberg`.

Scope (loud gates): format-version 2 tables with primitive columns and
the writer's supported partition transforms (identity / bucket /
truncate / year / month / day / hour).  Rewriting a FOREIGN manifest
drops per-entry column stats (min/max/null counts) the jar-free writer
never produces — correctness is unaffected (stats only prune scans),
and the entry's identity fields (path, partition, counts, sequence
numbers) are preserved.
"""

from __future__ import annotations

import json
import re
import time
import uuid

__all__ = ["delete_iceberg", "update_iceberg", "merge_iceberg",
           "overwrite_partitions_iceberg",
           "rewrite_data_files_iceberg", "rollback_iceberg",
           "files_iceberg", "manifests_iceberg", "convert_to_iceberg",
           "tag_iceberg", "drop_tag_iceberg"]

_MAX_COMMIT_RETRIES = 20
# same deterministic smallness rule as merge_delta / the reader's
# equality-delete hint: broadcast the distinct update keys only when
# provably small, else let the semi/anti joins shuffle
_MERGE_BROADCAST_KEYS = 4_000_000


def _load_meta(spark, root: str) -> tuple[dict, int]:
    """(metadata dict, metadata file version) for the latest commit."""
    from .fsio import read_text
    from .iceberg import _latest_metadata

    mpath = _latest_metadata(spark, root)
    meta = json.loads(read_text(spark, mpath))
    name = mpath.rsplit("/", 1)[-1]
    head = name[: -len(".metadata.json")]
    ver = int(head[1:] if head.startswith("v") else head.split("-", 1)[0])
    return meta, ver


def _require_v2(meta: dict, root: str, op: str) -> None:
    fv = int(meta.get("format-version", 1))
    if fv != 2:
        raise NotImplementedError(
            f"{op}: {root} is format-version {fv} — jar-free row-level "
            "writes support v2 tables only (v1 has no sequence numbers "
            "to order the rewrite, v3 adds row lineage this writer "
            "cannot maintain)"
        )


def _schema_fields(meta: dict, root: str, op: str) -> list[dict]:
    """Current-schema fields.  Primitive, list and struct types pass
    (the executor-side pyarrow writer builds columns against the
    declared arrow types — r12); map types refuse in
    :func:`~.iceberg_writer._arrow_type` when the rewrite reaches
    them."""
    from .iceberg import _current_schema

    return _current_schema(meta)["fields"]


def _pfields_from_meta(meta: dict, root: str, op: str) -> list[dict]:
    """Parse the default partition spec back into the writer's
    partition-field dicts ({name, transform, param, source, ice_type,
    field-id} — :func:`~.iceberg_writer._parse_partition_by`'s shape),
    so rewrites recompute the SAME transforms the table was written
    with."""
    from .iceberg import _current_schema

    spec = next(
        (s for s in meta.get("partition-specs", [])
         if s.get("spec-id") == meta.get("default-spec-id", 0)),
        {"fields": []})
    by_id = {f["id"]: f for f in _current_schema(meta)["fields"]}
    out = []
    for f in spec.get("fields", []):
        t = str(f.get("transform", ""))
        m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
        if m:
            transform, param = m.group(1), int(m.group(2))
        elif t in ("identity", "year", "month", "day", "hour"):
            transform, param = t, None
        else:
            raise NotImplementedError(
                f"{op}: {root} partition transform {t!r} — supported: "
                "identity, bucket[N], truncate[W], year/month/day/hour"
            )
        src = by_id.get(f.get("source-id"))
        if src is None:
            raise ValueError(
                f"{op}: {root} partition spec references source-id "
                f"{f.get('source-id')} absent from the current schema"
            )
        out.append({"name": f["name"], "transform": transform,
                    "param": param, "source": src["name"],
                    "ice_type": src["type"], "field-id": f["field-id"]})
    return out


def _part_fields(pfields: list[dict]) -> list[dict]:
    """Partition-struct fields (name, field-id, RESULT ice type) for the
    manifest-entry Avro schema — mirrors write_iceberg's result-type
    rule (spec "Partition Transforms")."""
    out = []
    for pf in pfields:
        t = pf["transform"]
        if t == "bucket" or t in ("year", "month", "hour"):
            res_t = "int"
        elif t == "day":
            res_t = "date"
        else:
            res_t = pf["ice_type"]
        out.append({"name": pf["name"], "field-id": pf["field-id"],
                    "ice_type": res_t})
    return out


def _spec_fields_json(meta: dict) -> list[dict]:
    spec = next(
        (s for s in meta.get("partition-specs", [])
         if s.get("spec-id") == meta.get("default-spec-id", 0)),
        {"fields": []})
    return list(spec.get("fields", []))


def _current_snapshot(meta: dict, root: str, op: str) -> dict:
    snaps = meta.get("snapshots") or []
    cur = meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s.get("snapshot-id") == cur), None)
    if snap is None:
        raise ValueError(f"{op}: {root} has no current snapshot")
    return snap


def _read_manifest_list(spark, root: str, snap: dict):
    """[(raw manifest-list entry, resolved manifest path)] for the
    snapshot, data and delete manifests alike."""
    from .avro_lite import read_avro_file
    from .iceberg import _resolve_path

    if "manifest-list" not in snap:
        raise NotImplementedError(
            "v1 inline manifest lists are read-only in this repo"
        )
    mlist = read_avro_file(
        spark, _resolve_path(root, snap["manifest-list"]))
    return [(m, _resolve_path(root, m["manifest_path"])) for m in mlist]


def _resolved_entries(spark, root: str, mpath: str, mseq):
    """Manifest entries with the data-file path resolved absolute and
    the data sequence number resolved (explicit, or inherited from the
    manifest-list entry for ADDED rows — spec sequence-number
    inheritance)."""
    from .avro_lite import read_avro_file
    from .iceberg import _resolve_path

    out = []
    for entry in read_avro_file(spark, mpath):
        df_ = entry.get("data_file") or {}
        status = int(entry.get("status") or 0)
        seq = entry.get("sequence_number")
        if seq is None and status == 1 and mseq is not None:
            seq = mseq
        out.append({
            "status": status,
            "snapshot_id": entry.get("snapshot_id"),
            "seq": None if seq is None else int(seq),
            "path": _resolve_path(root, df_.get("file_path") or ""),
            "record_count": int(df_.get("record_count") or 0),
            "file_size": int(df_.get("file_size_in_bytes") or 0),
            "partition": dict(df_.get("partition") or {}),
            "file_format": str(df_.get("file_format") or "PARQUET"),
        })
    return out


def _carry_mlist_entry(m: dict, mpath: str, snap_id: int) -> dict:
    """A manifest-list entry carried verbatim into the new list (same
    0-fill tolerance as write_iceberg's append path)."""
    return {
        "manifest_path": mpath,
        "manifest_length": int(m.get("manifest_length") or 0),
        "partition_spec_id": int(m.get("partition_spec_id") or 0),
        "content": int(m.get("content") or 0),
        "sequence_number": int(m.get("sequence_number") or 0),
        "min_sequence_number": int(m.get("min_sequence_number") or 0),
        "added_snapshot_id": int(m.get("added_snapshot_id") or snap_id),
        "added_data_files_count": int(
            m.get("added_data_files_count") or 0),
        "existing_data_files_count": int(
            m.get("existing_data_files_count") or 0),
        "deleted_data_files_count": int(
            m.get("deleted_data_files_count") or 0),
        "added_rows_count": int(m.get("added_rows_count") or 0),
        "existing_rows_count": int(m.get("existing_rows_count") or 0),
        "deleted_rows_count": int(m.get("deleted_rows_count") or 0),
    }


def _create(spark, p: str, data: bytes) -> bool:
    from .fsio import hadoop_fs

    fs, hp = hadoop_fs(spark, p)
    try:
        stream = fs.create(hp, False)
    except Exception:  # noqa: BLE001 — already exists: lost the race
        return False
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    return True


def _commit_rewrite(spark, root: str, touched: set[str],
                    new_files: list[tuple], operation: str) -> int:
    """Shared optimistic commit for the row-level ops: retire
    ``touched`` data files (absolute paths), add ``new_files``
    (:func:`~.iceberg_writer._write_data_files` tuples), commit a new
    snapshot.  Re-reads the metadata per attempt; aborts loudly if a
    concurrent commit retired any touched file first.  Returns the new
    snapshot id."""
    from .avro_lite import encode_avro_container
    from .fsio import join_path, write_text_atomic
    from .iceberg_writer import _manifest_entry_schema

    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_ver = _load_meta(spark, root)
        _require_v2(meta, root, operation)
        snap = _current_snapshot(meta, root, operation)
        pfields = _pfields_from_meta(meta, root, operation)
        entry_schema = _manifest_entry_schema(_part_fields(pfields))
        spec_fields = _spec_fields_json(meta)
        fields = _schema_fields(meta, root, operation)

        mlist = _read_manifest_list(spark, root, snap)
        live_now: set[str] = set()
        data_manifests = []
        carried_deletes = []  # (entry, its sequence number)
        for m, mpath in mlist:
            if int(m.get("content") or 0) != 0:
                carried_deletes.append((
                    _carry_mlist_entry(
                        m, mpath, int(snap.get("snapshot-id") or 0)),
                    int(m.get("sequence_number") or 0)))
                continue
            entries = _resolved_entries(
                spark, root, mpath, m.get("sequence_number"))
            data_manifests.append((m, mpath, entries))
            live_now |= {e["path"] for e in entries if e["status"] != 2}
        gone = sorted(touched - live_now)
        if gone:
            raise RuntimeError(
                f"{operation}: {len(gone)} touched file(s) were retired "
                f"concurrently (e.g. {gone[0].rsplit('/', 1)[-1]!r}) — "
                "aborting; the staged files are unreferenced garbage"
            )

        seq = int(meta.get("last-sequence-number", 0)) + 1
        snap_id = int(time.time() * 1000) * 1000 + seq
        uid = uuid.uuid4().hex
        # delete-manifest PRUNING: deletes apply only to data files at
        # a sequence number <= theirs (position) / < theirs (equality).
        # After the rewrite, surviving old entries keep their seqs and
        # new files sit at `seq` — a carried delete manifest older than
        # EVERY live data seq is inert and drops out of the snapshot
        # (the full-compaction materialize case).
        kept = [e for _m, _p, entries in data_manifests
                for e in entries
                if e["status"] != 2 and e["path"] not in touched]
        still_live = {e["path"] for e in kept}
        if any(e["seq"] is None for e in kept):
            min_live_seq = 0  # unknown seq: keep every delete manifest
        else:
            min_live_seq = min(
                [e["seq"] for e in kept]
                + ([seq] if new_files else []), default=seq)
        list_entries = [d for d, d_seq in carried_deletes
                        if d_seq >= min_live_seq]

        for m, mpath, entries in data_manifests:
            live_entries = [e for e in entries if e["status"] != 2]
            hit = [e for e in live_entries if e["path"] in touched]
            if not hit:
                # a manifest with no live entry only carries DELETED
                # markers; it drops out unless a path it marks is still
                # listed live by a kept manifest (the reader applies
                # DELETED across all manifests), so the list does not
                # grow by one manifest per copy-on-write cycle
                if live_entries or any(e["path"] in still_live
                                       for e in entries):
                    list_entries.append(_carry_mlist_entry(
                        m, mpath, snap_id))
                continue
            kept = [e for e in live_entries if e["path"] not in touched]
            recs = []
            for e in kept + hit:
                deleted = e["path"] in touched
                recs.append({
                    "status": 2 if deleted else 0,
                    "snapshot_id": (snap_id if deleted
                                    else e["snapshot_id"]),
                    "sequence_number": e["seq"],
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 0, "file_path": e["path"],
                        "file_format": e["file_format"],
                        "partition": e["partition"],
                        "record_count": e["record_count"],
                        "file_size_in_bytes": e["file_size"],
                    }})
            man_rel = f"metadata/manifest-{uuid.uuid4().hex}.avro"
            man_bytes = encode_avro_container(
                entry_schema, recs,
                extra_meta={
                    "schema": json.dumps({"type": "struct",
                                          "schema-id": 0,
                                          "fields": fields}),
                    "schema-id": "0",
                    "partition-spec": json.dumps(spec_fields),
                    "partition-spec-id": "0",
                    "format-version": "2",
                    "content": "data",
                })
            if not _create(spark, join_path(root, man_rel), man_bytes):
                raise RuntimeError(f"{operation}: manifest collision")
            known_seqs = [e["seq"] for e in kept + hit
                          if e["seq"] is not None]
            list_entries.append({
                "manifest_path": f"{root}/{man_rel}",
                "manifest_length": len(man_bytes),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min(known_seqs, default=seq),
                "added_snapshot_id": snap_id,
                "added_data_files_count": 0,
                "existing_data_files_count": len(kept),
                "deleted_data_files_count": len(hit),
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    e["record_count"] for e in kept),
                "deleted_rows_count": sum(
                    e["record_count"] for e in hit),
            })

        if new_files:
            adds = [{"status": 1, "snapshot_id": snap_id,
                     "sequence_number": None,
                     "file_sequence_number": None,
                     "data_file": {"content": 0, "file_path": p,
                                   "file_format": "PARQUET",
                                   "partition": pv,
                                   "record_count": n,
                                   "file_size_in_bytes": sz}}
                    for p, n, sz, pv in new_files]
            man_rel = f"metadata/manifest-{uid}.avro"
            man_bytes = encode_avro_container(
                entry_schema, adds,
                extra_meta={
                    "schema": json.dumps({"type": "struct",
                                          "schema-id": 0,
                                          "fields": fields}),
                    "schema-id": "0",
                    "partition-spec": json.dumps(spec_fields),
                    "partition-spec-id": "0",
                    "format-version": "2",
                    "content": "data",
                })
            if not _create(spark, join_path(root, man_rel), man_bytes):
                raise RuntimeError(f"{operation}: manifest collision")
            list_entries.append({
                "manifest_path": f"{root}/{man_rel}",
                "manifest_length": len(man_bytes),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_data_files_count": len(new_files),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(
                    n for _p, n, _s, _pv in new_files),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            })

        from .iceberg_writer import _MANIFEST_FILE_SCHEMA

        mlist_rel = f"metadata/snap-{snap_id}-{uid}.avro"
        mlist_bytes = encode_avro_container(
            _MANIFEST_FILE_SCHEMA, list_entries,
            extra_meta={"format-version": "2",
                        "snapshot-id": str(snap_id),
                        "sequence-number": str(seq)})
        if not _create(spark, join_path(root, mlist_rel), mlist_bytes):
            raise RuntimeError(f"{operation}: manifest-list collision")

        snapshots = list(meta.get("snapshots", []))
        snapshots.append({
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": f"{root}/{mlist_rel}",
            "summary": {"operation": operation.split("_", 1)[0]
                        if operation.startswith(("delete", "replace"))
                        else "overwrite"},
        })
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = seq
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        new_meta["current-snapshot-id"] = snap_id
        new_meta["snapshots"] = snapshots
        vpath = join_path(root, "metadata",
                          f"v{meta_ver + 1}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            write_text_atomic(
                spark, join_path(root, "metadata", "version-hint.text"),
                str(meta_ver + 1))
            return snap_id
        # lost the metadata race: re-read and retry; the manifests we
        # just wrote become unreferenced garbage for expire_snapshots
    raise RuntimeError(
        f"{operation}: lost the commit race {_MAX_COMMIT_RETRIES} times "
        f"at {root}"
    )


def _basename_map(spark, root: str, meta: dict, op: str) -> dict:
    """basename -> absolute path over the current snapshot's live data
    files (the copy-on-write discovery key; duplicate basenames refuse
    — same rule as the reader's delete machinery)."""
    snap = _current_snapshot(meta, root, op)
    live: set[str] = set()
    dead: set[str] = set()
    for m, mpath in _read_manifest_list(spark, root, snap):
        if int(m.get("content") or 0) != 0:
            continue
        for e in _resolved_entries(spark, root, mpath,
                                   m.get("sequence_number")):
            (dead if e["status"] == 2 else live).add(e["path"])
    live -= dead
    out = {p.rsplit("/", 1)[-1]: p for p in live}
    if len(out) != len(live):
        raise ValueError(
            f"{op}: {root} has duplicate data-file basenames — cannot "
            "key the rewrite by file name; use the iceberg connector jar"
        )
    return out


def delete_iceberg(spark, path: str, predicate: str,
                   mode: str = "copy-on-write") -> int | None:
    """Row-level DELETE.  ``mode="copy-on-write"`` (default, module
    docstring has the mechanics): files containing rows matching
    ``predicate`` are rewritten WITHOUT those rows (and with any
    position/DV/equality deletes materialized); untouched files and
    manifests are carried.  ``mode="merge-on-read"``: the matching
    (file, ordinal) pairs are written as a v2 POSITION-DELETE file
    under a ``content=1`` manifest — no data file is rewritten, work
    scales with the match count; a later
    :func:`rewrite_data_files_iceberg` materializes them.  Returns the
    new snapshot id, or None when nothing matched.  Time travel to
    pre-delete snapshots still sees the rows."""
    from pyspark.sql import functions as F

    from .iceberg import read_iceberg
    from .iceberg_writer import _write_data_files

    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    _require_v2(meta, root, "delete_iceberg")
    if mode == "merge-on-read":
        return _delete_iceberg_mor(spark, root, meta, predicate)
    if mode != "copy-on-write":
        raise ValueError(
            f"delete_iceberg: mode {mode!r} (copy-on-write|"
            "merge-on-read)")
    by_base = _basename_map(spark, root, meta, "delete_iceberg")
    if not by_base:
        return None

    tf = read_iceberg(spark, root, _file_col="__cow_file")
    touched_base = [r[0] for r in tf.df.where(F.expr(predicate))
                    .select("__cow_file").distinct().collect()]
    if not touched_base:
        return None
    touched = {by_base[b] for b in touched_base}

    survivors = (
        tf.df.where(F.col("__cow_file").isin(touched_base))
        .where(~F.expr(predicate))
        .drop("__cow_file")
    )
    fields = _schema_fields(meta, root, "delete_iceberg")
    pfields = _pfields_from_meta(meta, root, "delete_iceberg")
    new_files = _write_data_files(survivors, root, fields, pfields)
    return _commit_rewrite(spark, root, touched, new_files,
                           "delete_iceberg")


def _delete_iceberg_mor(spark, root: str, meta, predicate: str,
                        set_exprs: dict | None = None) -> int | None:
    """Merge-on-read DELETE (and, with ``set_exprs``, UPDATE) for
    Iceberg v2: one parquet POSITION-DELETE file of spec
    ``(file_path, pos)`` rows (sorted by file then ordinal) committed
    under a new ``content=1`` manifest — the exact shape
    iceberg-spark's merge-on-read writes, and what this repo's reader
    already subtracts.  Ordinals are physical row indexes
    (``_metadata.row_index``); file paths are the live set's ABSOLUTE
    paths, so moved-table reads still match by basename.  With
    ``set_exprs`` the matched rows' TRANSFORMED images append as new
    data files in the SAME snapshot (the MOR update shape).  Work
    scales with the match count; no touched file rewrites."""
    from pyspark.sql import functions as F

    from .avro_lite import encode_avro_container
    from .fsio import fs_delete, fs_rename, hadoop_fs, join_path
    from .iceberg import read_iceberg

    by_base = _basename_map(spark, root, meta, "delete_iceberg")
    if not by_base:
        return None
    # discovery scan: the reader subtracts EXISTING deletes, so matched
    # ordinals are new — a (file, pos) pair is never written twice
    tf = read_iceberg(spark, root, _file_col="__mor_file",
                      _ridx_col="__mor_pos")
    base_map = spark.createDataFrame(
        [(b, p) for b, p in sorted(by_base.items())],
        "__mor_file string, file_path string")
    hits = tf.df.where(F.expr(predicate))
    matched = (hits
               .join(F.broadcast(base_map), "__mor_file")
               .select("file_path",
                       F.col("__mor_pos").cast("long").alias("pos")))
    staging = join_path(root, f"_staging_{uuid.uuid4().hex}")
    (matched.sort("file_path", "pos").coalesce(1)
     .write.mode("overwrite").parquet(staging))
    fs, hstag = hadoop_fs(spark, staging)
    part = next((st.getPath() for st in fs.listStatus(hstag)
                 if st.getPath().getName().startswith("part-")
                 and st.getPath().getName().endswith(".parquet")), None)
    # read the part FILE, not the dir: `_staging_*` is underscore-
    # hidden, and Spark warns (or, on some builds, ignores) such dirs
    n_del = (0 if part is None
             else spark.read.parquet(part.toString()).count())
    if n_del == 0:
        fs_delete(spark, staging, recursive=True)
        return None
    del_rel = f"data/{uuid.uuid4().hex}-deletes.parquet"
    fs_rename(spark, part.toString(), join_path(root, del_rel))
    size = fs.getFileStatus(
        spark._jvm.org.apache.hadoop.fs.Path(
            join_path(root, del_rel))).getLen()
    fs_delete(spark, staging, recursive=True)

    new_files: list[tuple] = []
    op_label = "delete" if set_exprs is None else "overwrite"
    if set_exprs is not None:
        from .iceberg_writer import _write_data_files

        fields0 = _schema_fields(meta, root, "update_iceberg")
        pfields0 = _pfields_from_meta(meta, root, "update_iceberg")
        data_cols = [c for c in tf.df.columns
                     if c not in ("__mor_file", "__mor_pos")]
        transformed = hits.select(
            *[(F.expr(set_exprs[c]).alias(c) if c in set_exprs
               else F.col(c)) for c in data_cols])
        new_files = _write_data_files(transformed, root, fields0,
                                      pfields0)

    from .iceberg_writer import _MANIFEST_FILE_SCHEMA, _manifest_entry_schema
    from .fsio import write_text_atomic

    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_ver = _load_meta(spark, root)
        snap = _current_snapshot(meta, root, "delete_iceberg")
        pfields = _pfields_from_meta(meta, root, "delete_iceberg")
        fields = _schema_fields(meta, root, "delete_iceberg")
        seq = int(meta.get("last-sequence-number", 0)) + 1
        snap_id = int(time.time() * 1000) * 1000 + seq
        uid = uuid.uuid4().hex

        live_now = set()
        carried = []
        for m, mpath in _read_manifest_list(spark, root, snap):
            carried.append(_carry_mlist_entry(m, mpath, snap_id))
            if int(m.get("content") or 0) == 0:
                for e in _resolved_entries(spark, root, mpath,
                                           m.get("sequence_number")):
                    if e["status"] != 2:
                        live_now.add(e["path"])
        gone = sorted(set(by_base.values()) - live_now)
        if gone:
            raise RuntimeError(
                f"delete_iceberg: {len(gone)} referenced file(s) were "
                "retired concurrently — aborting; the delete file is "
                "unreferenced garbage"
            )

        entry_schema = _manifest_entry_schema(_part_fields(pfields))
        recs = [{"status": 1, "snapshot_id": snap_id,
                 "sequence_number": None, "file_sequence_number": None,
                 "data_file": {"content": 1,
                               "file_path": f"{root}/{del_rel}",
                               "file_format": "PARQUET",
                               "partition": {},
                               "record_count": int(n_del),
                               "file_size_in_bytes": int(size)}}]
        man_rel = f"metadata/manifest-{uid}.avro"
        man_bytes = encode_avro_container(
            entry_schema, recs,
            extra_meta={"schema": json.dumps({"type": "struct",
                                              "schema-id": 0,
                                              "fields": fields}),
                        "schema-id": "0",
                        "partition-spec":
                            json.dumps(_spec_fields_json(meta)),
                        "partition-spec-id": "0",
                        "format-version": "2", "content": "deletes"})
        if not _create(spark, join_path(root, man_rel), man_bytes):
            raise RuntimeError("delete_iceberg: manifest collision")
        carried.append({
            "manifest_path": f"{root}/{man_rel}",
            "manifest_length": len(man_bytes),
            "partition_spec_id": 0, "content": 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_data_files_count": 1,
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": int(n_del),
            "existing_rows_count": 0, "deleted_rows_count": 0,
        })
        if new_files:
            # the MOR-update appends the transformed images in the
            # SAME snapshot: one data manifest alongside the deletes
            adds = [{"status": 1, "snapshot_id": snap_id,
                     "sequence_number": None,
                     "file_sequence_number": None,
                     "data_file": {"content": 0, "file_path": p,
                                   "file_format": "PARQUET",
                                   "partition": pv,
                                   "record_count": n,
                                   "file_size_in_bytes": sz}}
                    for p, n, sz, pv in new_files]
            dman_rel = f"metadata/manifest-d{uid}.avro"
            dman_bytes = encode_avro_container(
                entry_schema, adds,
                extra_meta={"schema": json.dumps(
                    {"type": "struct", "schema-id": 0,
                     "fields": fields}),
                    "schema-id": "0",
                    "partition-spec":
                        json.dumps(_spec_fields_json(meta)),
                    "partition-spec-id": "0",
                    "format-version": "2", "content": "data"})
            if not _create(spark, join_path(root, dman_rel),
                           dman_bytes):
                raise RuntimeError(
                    "update_iceberg: manifest collision")
            carried.append({
                "manifest_path": f"{root}/{dman_rel}",
                "manifest_length": len(dman_bytes),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_data_files_count": len(new_files),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(
                    n for _p, n, _s, _pv in new_files),
                "existing_rows_count": 0, "deleted_rows_count": 0,
            })
        mlist_rel = f"metadata/snap-{snap_id}-{uid}.avro"
        mlist_bytes = encode_avro_container(
            _MANIFEST_FILE_SCHEMA, carried,
            extra_meta={"format-version": "2",
                        "snapshot-id": str(snap_id),
                        "sequence-number": str(seq)})
        if not _create(spark, join_path(root, mlist_rel), mlist_bytes):
            raise RuntimeError("delete_iceberg: manifest-list collision")
        snapshots = list(meta.get("snapshots", []))
        snapshots.append({
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": f"{root}/{mlist_rel}",
            "summary": {"operation": op_label}})
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = seq
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        new_meta["current-snapshot-id"] = snap_id
        new_meta["snapshots"] = snapshots
        vpath = join_path(root, "metadata",
                          f"v{meta_ver + 1}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            write_text_atomic(
                spark, join_path(root, "metadata", "version-hint.text"),
                str(meta_ver + 1))
            return snap_id
    raise RuntimeError(
        f"delete_iceberg: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )


def update_iceberg(spark, path: str, predicate: str,
                   set: dict, mode: str = "copy-on-write") -> int | None:
    """Row-level UPDATE (``UPDATE ... SET col = expr WHERE predicate``;
    expressions evaluate over the PRE-update row).
    ``mode="copy-on-write"`` (default): touched files rewrite with
    matching rows transformed; untouched files and manifests carry;
    existing position/DV/equality deletes materialize in the rewrite.
    ``mode="merge-on-read"``: the matched ordinals land in a v2
    position-delete file and the transformed images append in the SAME
    snapshot — no touched file rewrites.  Returns the new snapshot id,
    or None when nothing matched."""
    from pyspark.sql import functions as F

    from .iceberg import read_iceberg
    from .iceberg_writer import _write_data_files

    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    _require_v2(meta, root, "update_iceberg")
    fields = _schema_fields(meta, root, "update_iceberg")
    bad = [c for c in set if c not in {f["name"] for f in fields}]
    if bad:
        raise ValueError(f"update_iceberg: set targets {bad} not in "
                         "the table schema")
    if mode == "merge-on-read":
        return _delete_iceberg_mor(spark, root, meta, predicate,
                                   set_exprs=dict(set))
    if mode != "copy-on-write":
        raise ValueError(
            f"update_iceberg: mode {mode!r} (copy-on-write|"
            "merge-on-read)")
    by_base = _basename_map(spark, root, meta, "update_iceberg")
    if not by_base:
        return None

    tf = read_iceberg(spark, root, _file_col="__cow_file")
    touched_base = [r[0] for r in tf.df.where(F.expr(predicate))
                    .select("__cow_file").distinct().collect()]
    if not touched_base:
        return None
    touched = {by_base[b] for b in touched_base}

    scope = tf.df.where(F.col("__cow_file").isin(touched_base))
    hit = F.expr(predicate)
    cols = [
        (F.when(hit, F.expr(set[c])).otherwise(F.col(c)).alias(c)
         if c in set else F.col(c))
        for c in tf.df.columns if c != "__cow_file"
    ]
    rewritten = scope.select(*cols)
    pfields = _pfields_from_meta(meta, root, "update_iceberg")
    new_files = _write_data_files(rewritten, root, fields, pfields)
    return _commit_rewrite(spark, root, touched, new_files,
                           "update_iceberg")


def merge_iceberg(spark, path: str, updates_tf, key) -> int:
    """UPSERT by copy-on-write (``WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT *``): rows whose ``key`` matches an update are
    replaced by it, new keys append.  Only files containing matched
    keys are rewritten — discovery is one semi-join of the distinct
    update keys against the scan (broadcast when provably small, else
    shuffled).  The update batch must be unique per key and
    schema-identical (names + types) to the table.  Returns the new
    snapshot id."""
    from pyspark.sql import functions as F

    from .iceberg import read_iceberg
    from .iceberg_writer import _write_data_files

    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    _require_v2(meta, root, "merge_iceberg")
    fields = _schema_fields(meta, root, "merge_iceberg")
    pfields = _pfields_from_meta(meta, root, "merge_iceberg")

    keys = [key] if isinstance(key, str) else list(key)
    updates = updates_tf.df if hasattr(updates_tf, "df") else updates_tf
    from .iceberg_writer import _iceberg_schema

    # names + types must agree; ids come from the TABLE (field-id
    # stamping on the rewrite uses ``fields``), so positional batch ids
    # are irrelevant here
    if [(f["name"], f["type"])
            for f in _iceberg_schema(updates.schema, root)] != \
            [(f["name"], f["type"]) for f in fields]:
        raise ValueError(
            f"merge_iceberg: update batch schema does not match the "
            f"table schema at {root}"
        )
    bad = [k for k in keys if k not in updates.columns]
    if bad:
        raise ValueError(f"merge_iceberg: key {bad} not in columns")
    dup = (updates.groupBy(*keys).count().where("count > 1").limit(1)
           .collect())
    if dup:
        raise ValueError(
            f"merge_iceberg: update batch has duplicate keys (e.g. "
            f"{tuple(dup[0][k] for k in keys)}) — an ambiguous MERGE "
            "must not pick a winner silently"
        )

    by_base = _basename_map(spark, root, meta, "merge_iceberg")
    tf = read_iceberg(spark, root, _file_col="__cow_file")
    ukeys = updates.select(*keys).distinct()
    n_keys = ukeys.count()
    hint = (F.broadcast if n_keys <= _MERGE_BROADCAST_KEYS
            else (lambda d: d))
    touched_base = [r[0] for r in
                    tf.df.join(hint(ukeys), keys, "left_semi")
                    .select("__cow_file").distinct().collect()]
    touched = {by_base[b] for b in touched_base}

    survivors = (
        tf.df.where(F.col("__cow_file").isin(touched_base))
        .join(hint(ukeys), keys, "left_anti")
        .drop("__cow_file")
        if touched_base else None
    )
    new_data = (survivors.unionByName(updates) if survivors is not None
                else updates)
    new_files = _write_data_files(new_data, root, fields, pfields)
    return _commit_rewrite(spark, root, touched, new_files,
                           "merge_iceberg")


def overwrite_partitions_iceberg(tf, path: str) -> int | None:
    """DYNAMIC partition overwrite (iceberg-spark's
    ``overwritePartitions`` / Delta's ``partitionOverwriteMode=
    dynamic``): replace exactly the partitions the BATCH writes,
    leaving every other partition untouched — the corpus-refresh shape
    (re-clean one language, keep the rest).  Touched-partition files
    retire via manifest surgery; untouched manifests carry.  Returns
    the new snapshot id, or None for an empty batch."""
    df = tf.df if hasattr(tf, "df") else tf
    spark = df.sparkSession
    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    _require_v2(meta, root, "overwrite_partitions_iceberg")
    fields = _schema_fields(meta, root, "overwrite_partitions_iceberg")
    pfields = _pfields_from_meta(meta, root,
                                 "overwrite_partitions_iceberg")
    if not pfields:
        raise ValueError(
            f"overwrite_partitions_iceberg: {root} is unpartitioned — "
            "use write_iceberg(mode='overwrite')"
        )
    from .iceberg_writer import _iceberg_schema, _write_data_files

    if [(f["name"], f["type"])
            for f in _iceberg_schema(df.schema, root)] != \
            [(f["name"], f["type"]) for f in fields]:
        raise ValueError(
            f"overwrite_partitions_iceberg: batch schema does not "
            f"match the table schema at {root}"
        )
    new_files = _write_data_files(df, root, fields, pfields)
    if not new_files:
        return None
    batch_parts = {json.dumps(pv, sort_keys=True)
                   for _p, _n, _s, pv in new_files}
    snap = _current_snapshot(meta, root, "overwrite_partitions_iceberg")
    touched: set[str] = set()
    dead: set[str] = set()
    for m, mpath in _read_manifest_list(spark, root, snap):
        if int(m.get("content") or 0) != 0:
            continue
        for e in _resolved_entries(spark, root, mpath,
                                   m.get("sequence_number")):
            if e["status"] == 2:
                dead.add(e["path"])
            elif json.dumps(e["partition"],
                            sort_keys=True) in batch_parts:
                touched.add(e["path"])
    touched -= dead
    return _commit_rewrite(spark, root, touched, new_files,
                           "overwrite_partitions")


def rewrite_data_files_iceberg(spark, path: str, min_files: int = 2,
                               zorder_by=None,
                               target_file_bytes: int =
                               128 * 1024 * 1024) -> int | None:
    """Compact small data files (the ``rewriteDataFiles`` maintenance
    action — the Iceberg-side parallel of ``optimize_delta``): for
    every partition tuple holding at least ``min_files`` live data
    files, read them back through the delete-applying scan (so
    position/DV/equality deletes are MATERIALIZED — canonical
    compaction behavior) and rewrite as ~``target_file_bytes`` files.
    Commits a ``replace`` snapshot; history stays time-travelable.
    Returns the new snapshot id, or None when nothing qualified.  Work
    scales with compactable bytes, never table size.

    ``zorder_by`` (rewriteDataFiles' ``zOrder`` strategy): rewrite
    CLUSTERED on the interleaved-bits Z-value of the named columns
    (the same :func:`~.delta_writer._zorder_key_udf` machinery as
    OPTIMIZE ZORDER BY on the Delta side) — rows close in every
    dimension land in the same parquet row groups, so min-max skipping
    prunes on all the z-ordered columns at once.  With zorder the
    per-group minimum drops to 1 file (re-clustering one big file is
    useful); partition-source columns refuse (they are constant within
    a group)."""
    from pyspark.sql import functions as F

    from .iceberg import read_iceberg
    from .iceberg_writer import _write_data_files

    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    _require_v2(meta, root, "rewrite_data_files_iceberg")
    snap = _current_snapshot(meta, root, "rewrite_data_files_iceberg")

    by_group: dict[str, list[dict]] = {}
    dead: set[str] = set()
    for m, mpath in _read_manifest_list(spark, root, snap):
        if int(m.get("content") or 0) != 0:
            continue
        for e in _resolved_entries(spark, root, mpath,
                                   m.get("sequence_number")):
            if e["status"] == 2:
                dead.add(e["path"])
                continue
            k = json.dumps(e["partition"], sort_keys=True)
            by_group.setdefault(k, []).append(e)
    zcols = ([zorder_by] if isinstance(zorder_by, str)
             else list(zorder_by or []))
    fields = _schema_fields(meta, root, "rewrite_data_files_iceberg")
    pfields = _pfields_from_meta(meta, root,
                                 "rewrite_data_files_iceberg")
    if zcols:
        names = {f["name"] for f in fields}
        psrc = {pf["source"] for pf in pfields}
        bad = [c for c in zcols if c not in names or c in psrc]
        if bad:
            raise ValueError(
                f"rewrite_data_files_iceberg: zorder_by {bad} must be "
                "non-partition-source table columns"
            )
    min_n = 1 if zcols else max(2, min_files)
    todo: list[dict] = []
    for _k, entries in sorted(by_group.items()):
        entries = [e for e in entries if e["path"] not in dead]
        total = sum(e["file_size"] for e in entries)
        # plain compaction only pays when it reduces the file count; a
        # zorder rewrite re-clusters even a single file
        n_out = max(1, -(-total // target_file_bytes))
        if len(entries) >= min_n and (zcols or n_out < len(entries)):
            todo.extend(entries)
    if not todo:
        return None

    touched = {e["path"] for e in todo}
    touched_base = [p.rsplit("/", 1)[-1] for p in touched]
    tf = read_iceberg(spark, root, _file_col="__cow_file")
    src = (tf.df.where(F.col("__cow_file").isin(touched_base))
           .drop("__cow_file"))
    sort_cols = None
    if zcols:
        from .delta_writer import _zorder_key_udf

        src = src.withColumn("__zkey", _zorder_key_udf(src, zcols))
        sort_cols = ["__zkey"]
    if not pfields:
        total = sum(e["file_size"] for e in todo)
        n_out = max(1, -(-total // target_file_bytes))
        if zcols:
            # range partition on the Z-value: each output file owns a
            # contiguous Z-range — the data-skipping layout
            src = src.repartitionByRange(int(n_out), "__zkey")
        else:
            # one output task per target size bucket
            src = src.coalesce(int(n_out))
    new_files = _write_data_files(src, root, fields, pfields,
                                  sort_cols=sort_cols)
    return _commit_rewrite(spark, root, touched, new_files,
                           "replace_data_files")


def files_iceberg(spark, path: str,
                  snapshot_id: int | None = None) -> list[dict]:
    """Live data-file inventory for a snapshot (the ``.files`` metadata
    table surface): one dict per live data file with ``path``,
    ``partition`` values, ``record_count``, ``file_size_in_bytes``,
    ``sequence_number`` and ``file_format`` — the planning-time
    introspection a 100 TB table's operator uses to decide WHEN to
    compact or re-partition.  Driver-side, metadata-sized (the same
    manifest walk a scan plan does; no row data)."""
    meta, _ver = _load_meta(spark, str(path).rstrip("/"))
    root = str(path).rstrip("/")
    snaps = meta.get("snapshots") or []
    sid = (snapshot_id if snapshot_id is not None
           else meta.get("current-snapshot-id"))
    snap = next((s for s in snaps if s.get("snapshot-id") == sid), None)
    if snap is None:
        raise ValueError(
            f"files_iceberg: snapshot {sid} not found at {root}")
    rows, dead = [], set()
    for m, mpath in _read_manifest_list(spark, root, snap):
        if int(m.get("content") or 0) != 0:
            continue
        for e in _resolved_entries(spark, root, mpath,
                                   m.get("sequence_number")):
            if e["status"] == 2:
                dead.add(e["path"])
                continue
            rows.append({
                "path": e["path"], "partition": e["partition"],
                "record_count": e["record_count"],
                "file_size_in_bytes": e["file_size"],
                "sequence_number": e["seq"],
                "file_format": e["file_format"],
            })
    return sorted((r for r in rows if r["path"] not in dead),
                  key=lambda r: r["path"])


def manifests_iceberg(spark, path: str,
                      snapshot_id: int | None = None) -> list[dict]:
    """Manifest inventory for a snapshot (the ``.manifests`` metadata
    table surface): path, length, content kind, sequence numbers and
    the v2 count fields — what you read to see whether manifest
    surgery (row ops) or manifest bloat (many tiny appends) needs a
    compaction pass.  Driver-side, metadata-sized."""
    root = str(path).rstrip("/")
    meta, _ver = _load_meta(spark, root)
    snaps = meta.get("snapshots") or []
    sid = (snapshot_id if snapshot_id is not None
           else meta.get("current-snapshot-id"))
    snap = next((s for s in snaps if s.get("snapshot-id") == sid), None)
    if snap is None:
        raise ValueError(
            f"manifests_iceberg: snapshot {sid} not found at {root}")
    out = []
    for m, mpath in _read_manifest_list(spark, root, snap):
        out.append({
            "path": mpath,
            "length": int(m.get("manifest_length") or 0),
            "content": ("data" if int(m.get("content") or 0) == 0
                        else "deletes"),
            "sequence_number": int(m.get("sequence_number") or 0),
            "min_sequence_number": int(
                m.get("min_sequence_number") or 0),
            "added_snapshot_id": m.get("added_snapshot_id"),
            "added_data_files_count": int(
                m.get("added_data_files_count") or 0),
            "existing_data_files_count": int(
                m.get("existing_data_files_count") or 0),
            "deleted_data_files_count": int(
                m.get("deleted_data_files_count") or 0),
        })
    return sorted(out, key=lambda r: r["path"])


def convert_to_iceberg(spark, path: str) -> int:
    """In-place migration of a plain parquet directory to an Iceberg v2
    table (the ``add_files``/migrate procedure): existing files become
    the first snapshot's data files — no bytes move, the directory
    gains a ``metadata/`` tree.  Per-file record counts and sizes come
    from a DISTRIBUTED footer-metadata probe (pyarrow, mapInPandas —
    O(files) driver metadata, no row data).  The imported files carry
    no iceberg field ids, so the reader resolves them by NAME — the
    documented imported-parquet path with its loud absent-column gate.

    Hive ``k=v`` partition directories convert to an IDENTITY partition
    spec: each file's typed partition tuple lands in its manifest
    entry's r102 struct, and the reader re-attaches the values through
    the spec's Column Projection rule 1 (identity-transform
    partition-metadata fill) — the values live only in directory
    names, exactly the case the rule exists for.  Partition types
    follow Spark's own directory inference (int/long/string/date).
    Returns the new snapshot id."""
    import pandas as _pd

    from .avro_lite import encode_avro_container
    from .fsio import fs_exists, fs_mkdirs, join_path, write_text_atomic
    from .iceberg_writer import (_MANIFEST_FILE_SCHEMA, _iceberg_schema,
                                 _manifest_entry_schema)

    root = str(path).rstrip("/")
    if not fs_exists(spark, root):
        raise ValueError(
            f"convert_to_iceberg: no parquet files under {root}")
    if fs_exists(spark, join_path(root, "metadata")):
        raise ValueError(
            f"convert_to_iceberg: {root} already has a metadata/ tree "
            "— it is already an Iceberg table"
        )
    from .delta_writer import _list_table_files

    rels = [rel for rel, _mt in _list_table_files(spark, root)
            if rel.endswith(".parquet")
            and not rel.rsplit("/", 1)[-1].startswith((".", "_"))]
    if not rels:
        raise ValueError(
            f"convert_to_iceberg: no parquet files under {root}")
    from urllib.parse import unquote as _unquote

    def pv_of(rel: str) -> dict:
        pv = {}
        for seg in rel.split("/")[:-1]:
            if "=" not in seg:
                raise ValueError(
                    f"convert_to_iceberg: directory segment {seg!r} "
                    f"under {root} is not k=v hive layout — cannot "
                    "derive a partition spec"
                )
            k, v = seg.split("=", 1)
            pv[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                     else _unquote(v))
        return pv

    pvs = {rel: pv_of(rel) for rel in rels}
    part_cols = sorted({k for pv in pvs.values() for k in pv})
    bad = [rel for rel, pv in pvs.items()
           if sorted(pv) != part_cols]
    if bad:
        raise ValueError(
            f"convert_to_iceberg: inconsistent partition layouts under "
            f"{root} (e.g. {bad[0]!r} vs columns {part_cols})"
        )
    if len({r.rsplit("/", 1)[-1] for r in rels}) != len(rels):
        raise ValueError(
            f"convert_to_iceberg: duplicate parquet basenames under "
            f"{root} — the reader keys per-file metadata by basename"
        )

    fdf = spark.createDataFrame([(f"{root}/{r}",) for r in sorted(rels)],
                                "path string")
    if len(rels) > 1:
        fdf = fdf.repartition(min(len(rels), 64))

    def probe(batches):
        import pyarrow.parquet as pq

        from tidierdb_jl_spark.sources.fsio import arrow_fs

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                filesystem, pth = arrow_fs(p)
                with filesystem.open_input_file(pth) as fh:
                    md = pq.read_metadata(fh)
                    size = fh.size()
                rows.append((p, int(md.num_rows), int(size)))
            yield _pd.DataFrame(rows, columns=["path", "n", "size"])

    stats = fdf.mapInPandas(probe, "path string, n long, size long") \
        .collect()
    # Spark's inference = what a scan sees: partition columns typed
    # from the directory values and placed after the data columns
    fields = _iceberg_schema(spark.read.parquet(root).schema, root)
    by_name = {f["name"]: f for f in fields}
    missing = [c for c in part_cols if c not in by_name]
    if missing:
        raise ValueError(
            f"convert_to_iceberg: partition dirs {missing} not in the "
            f"inferred schema at {root}"
        )
    spec_fields, part_fields = [], []
    for i, c in enumerate(part_cols):
        ice_t = by_name[c]["type"]
        if ice_t not in ("int", "long", "string", "date"):
            raise NotImplementedError(
                f"convert_to_iceberg: partition column {c!r} inferred "
                f"as {ice_t!r} — identity conversion supports "
                "int/long/string/date"
            )
        spec_fields.append({"name": c, "transform": "identity",
                            "source-id": by_name[c]["id"],
                            "field-id": 1000 + i})
        part_fields.append({"name": c, "field-id": 1000 + i,
                            "ice_type": ice_t})

    def coerce(c: str, v):
        if v is None:
            return None
        t = by_name[c]["type"]
        if t in ("int", "long"):
            return int(v)
        if t == "date":
            import datetime as _dt

            return (_dt.date.fromisoformat(v)
                    - _dt.date(1970, 1, 1)).days
        return str(v)

    seq, snap_id = 1, int(time.time() * 1000) * 1000 + 1
    uid = uuid.uuid4().hex
    rel_of = {f"{root}/{r}": r for r in rels}
    entries = [{"status": 1, "snapshot_id": snap_id,
                "sequence_number": None, "file_sequence_number": None,
                "data_file": {"content": 0, "file_path": r["path"],
                              "file_format": "PARQUET",
                              "partition": {
                                  c: coerce(c, pvs[rel_of[r["path"]]]
                                            .get(c))
                                  for c in part_cols},
                              "record_count": int(r["n"]),
                              "file_size_in_bytes": int(r["size"])}}
               for r in stats]
    man_rel = f"metadata/manifest-{uid}.avro"
    man_bytes = encode_avro_container(
        _manifest_entry_schema(part_fields), entries,
        extra_meta={"schema": json.dumps({"type": "struct",
                                          "schema-id": 0,
                                          "fields": fields}),
                    "schema-id": "0",
                    "partition-spec": json.dumps(spec_fields),
                    "partition-spec-id": "0", "format-version": "2",
                    "content": "data"})
    fs_mkdirs(spark, join_path(root, "metadata"))
    if not _create(spark, join_path(root, man_rel), man_bytes):
        raise RuntimeError("convert_to_iceberg: manifest collision")
    mlist_rel = f"metadata/snap-{snap_id}-{uid}.avro"
    mlist_bytes = encode_avro_container(
        _MANIFEST_FILE_SCHEMA,
        [{"manifest_path": f"{root}/{man_rel}",
          "manifest_length": len(man_bytes), "partition_spec_id": 0,
          "content": 0, "sequence_number": seq,
          "min_sequence_number": seq, "added_snapshot_id": snap_id,
          "added_data_files_count": len(entries),
          "existing_data_files_count": 0,
          "deleted_data_files_count": 0,
          "added_rows_count": sum(int(r["n"]) for r in stats),
          "existing_rows_count": 0, "deleted_rows_count": 0}],
        extra_meta={"format-version": "2", "snapshot-id": str(snap_id),
                    "sequence-number": str(seq)})
    if not _create(spark, join_path(root, mlist_rel), mlist_bytes):
        raise RuntimeError("convert_to_iceberg: manifest-list collision")
    meta = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()),
        "location": root, "last-sequence-number": seq,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": len(fields), "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct",
                     "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "current-snapshot-id": snap_id,
        "snapshots": [{"snapshot-id": snap_id, "sequence-number": seq,
                       "timestamp-ms": int(time.time() * 1000),
                       "manifest-list": f"{root}/{mlist_rel}",
                       "summary": {"operation": "append"}}],
    }
    vpath = join_path(root, "metadata", "v1.metadata.json")
    if not _create(spark, vpath, json.dumps(meta).encode("utf-8")):
        raise ValueError(
            f"convert_to_iceberg: lost the race creating v1 at {root}")
    write_text_atomic(spark, join_path(root, "metadata",
                                       "version-hint.text"), "1")
    return snap_id


def tag_iceberg(spark, path: str, name: str,
                snapshot_id: int | None = None,
                ref_type: str = "tag") -> int:
    """Create (or move) a named ref — ``tag`` or ``branch`` — pointing
    at ``snapshot_id`` (default: the current snapshot), via a new
    metadata version (the spec's ``refs`` map).  Tags give snapshots
    durable names (``read_iceberg(ref="v1-training-cut")``) and
    PROTECT them from :func:`~.iceberg_writer.expire_snapshots_iceberg`
    until the ref is dropped.  Returns the pinned snapshot id."""
    from .fsio import join_path, write_text_atomic

    if ref_type not in ("tag", "branch"):
        raise ValueError(f"tag_iceberg: ref_type {ref_type!r}")
    root = str(path).rstrip("/")
    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_ver = _load_meta(spark, root)
        sid = (int(snapshot_id) if snapshot_id is not None
               else meta.get("current-snapshot-id"))
        if not any(s.get("snapshot-id") == sid
                   for s in meta.get("snapshots", [])):
            raise ValueError(
                f"tag_iceberg: snapshot {sid} not retained at {root}")
        new_meta = dict(meta)
        refs = dict(new_meta.get("refs") or {})
        refs[str(name)] = {"snapshot-id": sid, "type": ref_type}
        new_meta["refs"] = refs
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        vpath = join_path(root, "metadata",
                          f"v{meta_ver + 1}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            write_text_atomic(
                spark, join_path(root, "metadata", "version-hint.text"),
                str(meta_ver + 1))
            return sid
    raise RuntimeError(
        f"tag_iceberg: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )


def drop_tag_iceberg(spark, path: str, name: str) -> None:
    """Remove a named ref; the snapshot it pinned becomes expirable
    again."""
    from .fsio import join_path, write_text_atomic

    root = str(path).rstrip("/")
    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_ver = _load_meta(spark, root)
        refs = dict(meta.get("refs") or {})
        if str(name) not in refs:
            raise ValueError(
                f"drop_tag_iceberg: ref {name!r} not found at {root}; "
                f"available: {sorted(refs)}"
            )
        refs.pop(str(name))
        new_meta = dict(meta, refs=refs)
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        vpath = join_path(root, "metadata",
                          f"v{meta_ver + 1}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            write_text_atomic(
                spark, join_path(root, "metadata", "version-hint.text"),
                str(meta_ver + 1))
            return
    raise RuntimeError(
        f"drop_tag_iceberg: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )


def rollback_iceberg(spark, path: str, snapshot_id: int) -> int:
    """Roll the table back to a retained snapshot (the
    ``setCurrentSnapshot`` / ``rollback`` table operation): commits a
    new metadata version whose current-snapshot-id is ``snapshot_id``.
    Nothing is deleted — every snapshot stays time-travelable, and the
    rolled-past snapshots remain until
    :func:`~.iceberg_writer.expire_snapshots_iceberg` retires them.
    Returns ``snapshot_id``."""
    from .fsio import join_path, write_text_atomic

    root = str(path).rstrip("/")
    for _attempt in range(_MAX_COMMIT_RETRIES):
        meta, meta_ver = _load_meta(spark, root)
        sid = int(snapshot_id)
        if not any(s.get("snapshot-id") == sid
                   for s in meta.get("snapshots", [])):
            raise ValueError(
                f"rollback_iceberg: snapshot {sid} not retained at "
                f"{root}; retained: "
                f"{[s.get('snapshot-id') for s in meta.get('snapshots', [])]}"
            )
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = sid
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        vpath = join_path(root, "metadata",
                          f"v{meta_ver + 1}.metadata.json")
        if _create(spark, vpath, json.dumps(new_meta).encode("utf-8")):
            write_text_atomic(
                spark, join_path(root, "metadata", "version-hint.text"),
                str(meta_ver + 1))
            return sid
    raise RuntimeError(
        f"rollback_iceberg: lost the commit race {_MAX_COMMIT_RETRIES} "
        f"times at {root}"
    )
