"""Iceberg row-level ops (sources/iceberg_ops.py): copy-on-write
DELETE / MERGE, rewriteDataFiles compaction, snapshot rollback —
verified through the independent jar-free reader plus structural spec
assertions on the rewritten manifests (status-2 retirement, explicit
sequence numbers, v2 count fields)."""

import glob
import json
import os
import uuid

import pytest

from avro_ref import write_container
from tidierdb_jl_spark.core import TidyFrame
from tidierdb_jl_spark.sources.avro_lite import (decode_avro_container,
                                                 read_avro_file)
from tidierdb_jl_spark.sources.iceberg import read_iceberg
from tidierdb_jl_spark.sources.iceberg_ops import (
    delete_iceberg, merge_iceberg, rewrite_data_files_iceberg,
    rollback_iceberg,
)
from tidierdb_jl_spark.sources.iceberg_writer import (
    _MANIFEST_FILE_SCHEMA, snapshots_iceberg, write_iceberg,
)


def _tf(spark, rows, schema="id long, val string, lang string"):
    return TidyFrame(spark.createDataFrame(rows, schema))


def _ids(spark, root, **kw):
    return sorted(read_iceberg(spark, root, **kw).collect()["id"].tolist())


def test_delete_partitioned_cow(spark, tmp_path):
    """DELETE rewrites only touched files; untouched manifests carry;
    time travel still sees the rows; the rewritten manifest retires the
    touched file with status 2 and explicit sequence numbers."""
    root = str(tmp_path / "tbl")
    write_iceberg(_tf(spark, [(1, "a", "en"), (2, "b", "en"),
                              (3, "c", "fr"), (4, "d", "fr")]),
                  root, partition_by="lang")
    s1 = write_iceberg(_tf(spark, [(5, "e", "en"), (6, "f", "de")]),
                       root, mode="append", partition_by="lang")
    de_files = set(glob.glob(os.path.join(root, "data", "lang=de", "*")))

    sd = delete_iceberg(spark, root, "id IN (2, 3)")
    assert sd is not None
    assert _ids(spark, root) == [1, 4, 5, 6]
    # time travel to pre-delete snapshots intact
    assert _ids(spark, root, snapshot_id=s1) == [1, 2, 3, 4, 5, 6]
    # the de partition had no matches: its file was never rewritten
    assert set(glob.glob(os.path.join(root, "data", "lang=de", "*"))) \
        == de_files

    # structural: current snapshot's manifests carry status-2 entries
    # for exactly the touched files, with explicit sequence numbers
    meta = json.loads(open(sorted(glob.glob(
        os.path.join(root, "metadata", "v*.metadata.json")))[-1]).read())
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    st2 = []
    for m in read_avro_file(spark, snap["manifest-list"]):
        for e in read_avro_file(spark, m["manifest_path"]):
            if e["status"] == 2:
                st2.append(e)
                assert e["snapshot_id"] == sd
                assert e["sequence_number"] is not None
    assert len(st2) == 2  # one touched file per affected partition

    # a no-match predicate is a no-op, not a new snapshot
    before = len(snapshots_iceberg(spark, root))
    assert delete_iceberg(spark, root, "id = 999") is None
    assert len(snapshots_iceberg(spark, root)) == before


def test_merge_upsert_and_gates(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_iceberg(_tf(spark, [(1, "a", "en"), (2, "b", "fr")]),
                  root, partition_by="lang")
    sm = merge_iceberg(spark, root,
                       _tf(spark, [(1, "A", "en"), (3, "c", "de")]), "id")
    got = (read_iceberg(spark, root).collect()
           .sort_values("id")[["id", "val"]].values.tolist())
    assert got == [[1, "A"], [2, "b"], [3, "c"]]
    assert sm == snapshots_iceberg(spark, root)[0]["snapshot_id"]

    with pytest.raises(ValueError, match="duplicate keys"):
        merge_iceberg(spark, root,
                      _tf(spark, [(9, "x", "en"), (9, "y", "en")]), "id")
    with pytest.raises(ValueError, match="does not match"):
        merge_iceberg(
            spark, root,
            TidyFrame(spark.createDataFrame([(1, "a")],
                                            "id long, val string")),
            "id")


def test_merge_into_empty_and_unpartitioned(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_iceberg(_tf(spark, [(1, "a", "en")]), root)
    # no matched keys: pure insert path (no survivors scan)
    merge_iceberg(spark, root, _tf(spark, [(2, "b", "fr")]), "id")
    assert _ids(spark, root) == [1, 2]


def test_rewrite_data_files_compacts(spark, tmp_path):
    """Three appended files compact to one; rows unchanged; a replace
    snapshot is committed; time travel reaches the pre-compact state;
    a second run finds nothing to do."""
    root = str(tmp_path / "tbl")
    for i in range(3):
        write_iceberg(
            TidyFrame(spark.createDataFrame(
                [(i * 10 + j, f"v{i}{j}", "en") for j in range(4)],
                "id long, val string, lang string").coalesce(1)),
            root, mode="append")
    pre = snapshots_iceberg(spark, root)[0]["snapshot_id"]
    n_files_pre = len(glob.glob(os.path.join(root, "data", "*.parquet")))
    assert n_files_pre >= 3
    before = _ids(spark, root)

    sc = rewrite_data_files_iceberg(spark, root, min_files=2)
    assert sc is not None
    assert _ids(spark, root) == before
    assert _ids(spark, root, snapshot_id=pre) == before
    meta = json.loads(open(sorted(glob.glob(
        os.path.join(root, "metadata", "v*.metadata.json")))[-1]).read())
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sc)
    assert snap["summary"]["operation"] == "replace"
    # live set shrank to one file
    live = [e for m in read_avro_file(spark, snap["manifest-list"])
            if m["content"] == 0
            for e in read_avro_file(spark, m["manifest_path"])
            if e["status"] != 2]
    assert len(live) == 1
    assert rewrite_data_files_iceberg(spark, root, min_files=2) is None


def test_rollback_and_unknown_snapshot(spark, tmp_path):
    root = str(tmp_path / "tbl")
    s0 = write_iceberg(_tf(spark, [(1, "a", "en")]), root)
    write_iceberg(_tf(spark, [(2, "b", "fr")]), root, mode="append")
    assert _ids(spark, root) == [1, 2]
    rollback_iceberg(spark, root, s0)
    assert _ids(spark, root) == [1]
    # nothing deleted: rolling forward again works too
    s1 = [s["snapshot_id"] for s in snapshots_iceberg(spark, root)
          if s["snapshot_id"] != s0][0]
    rollback_iceberg(spark, root, s1)
    assert _ids(spark, root) == [1, 2]
    with pytest.raises(ValueError, match="not retained"):
        rollback_iceberg(spark, root, 424242)


def test_delete_materializes_position_deletes(spark, tmp_path):
    """A table carrying a v2 position-delete file: the CoW rewrite of a
    touched file goes through the delete-subtracting scan, so the new
    file holds survivors MINUS the position-deleted rows — and the
    retired basename makes the old delete file a harmless no-op."""
    root = str(tmp_path / "tbl")
    write_iceberg(
        TidyFrame(spark.createDataFrame(
            [(i, chr(97 + i), "en") for i in range(8)],
            "id long, val string, lang string").coalesce(1)),
        root)
    data = glob.glob(os.path.join(root, "data", "*.parquet"))
    assert len(data) == 1
    data_path = data[0]

    # hand-add a snapshot with a position-delete file killing ordinal 1
    # (id=1) of the data file — the fixture style of test_iceberg.py
    del_rel = f"data/{uuid.uuid4().hex}-deletes.parquet"
    import shutil

    tmp = os.path.join(root, del_rel) + ".tmp"
    spark.createDataFrame([(data_path, 1)],
                          "file_path string, pos long") \
        .coalesce(1).write.parquet(tmp)
    shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                os.path.join(root, del_rel))
    shutil.rmtree(tmp)

    entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "data_file", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ]}},
        ],
    }
    mdel = os.path.join(root, "metadata", "m-posdel.avro")
    with open(mdel, "wb") as fh:
        fh.write(write_container(entry_schema, [
            {"status": 1, "data_file": {
                "content": 1, "file_path": f"{root}/{del_rel}",
                "file_format": "PARQUET", "record_count": 1}}]))

    vlast = sorted(glob.glob(
        os.path.join(root, "metadata", "v*.metadata.json")))[-1]
    meta = json.loads(open(vlast).read())
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    _hdr, carried = decode_avro_container(
        open(cur["manifest-list"], "rb").read())
    seq = meta["last-sequence-number"] + 1
    sid = cur["snapshot-id"] + 1
    carried.append({
        "manifest_path": mdel, "manifest_length": 1,
        "partition_spec_id": 0, "content": 1,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": sid,
        "added_data_files_count": 0, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 0,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    mlist2 = os.path.join(root, "metadata", f"snap-{sid}-x.avro")
    with open(mlist2, "wb") as fh:
        fh.write(write_container(_MANIFEST_FILE_SCHEMA, carried))
    meta["snapshots"].append({
        "snapshot-id": sid, "sequence-number": seq,
        "timestamp-ms": cur.get("timestamp-ms", 0) + 1,
        "manifest-list": mlist2,
        "summary": {"operation": "delete"}})
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = seq
    ver = int(os.path.basename(vlast)[1:].split(".", 1)[0]) + 1
    with open(os.path.join(root, "metadata",
                           f"v{ver}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(root, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write(str(ver))
    crc = os.path.join(root, "metadata", ".version-hint.text.crc")
    if os.path.exists(crc):  # hand-edit invalidated Hadoop's checksum
        os.remove(crc)

    assert _ids(spark, root) == [0, 2, 3, 4, 5, 6, 7]  # pos-delete applies

    delete_iceberg(spark, root, "id = 5")
    # survivors exclude BOTH the predicate match and the materialized
    # position delete
    assert _ids(spark, root) == [0, 2, 3, 4, 6, 7]
    # the rewritten live file no longer matches the delete file's target
    meta2 = json.loads(open(sorted(glob.glob(
        os.path.join(root, "metadata", "v*.metadata.json")))[-1]).read())
    snap2 = next(s for s in meta2["snapshots"]
                 if s["snapshot-id"] == meta2["current-snapshot-id"])
    live = [e["data_file"]["file_path"]
            for m in read_avro_file(spark, snap2["manifest-list"])
            if m["content"] == 0
            for e in read_avro_file(spark, m["manifest_path"])
            if e["status"] != 2]
    assert len(live) == 1 and live[0] != data_path


def test_v1_table_refuses(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "metadata"))
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump({"format-version": 1, "location": root,
                   "schemas": [{"schema-id": 0, "type": "struct",
                                "fields": []}],
                   "current-schema-id": 0, "snapshots": []}, fh)
    with open(os.path.join(root, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write("1")
    with pytest.raises(NotImplementedError, match="format-version 1"):
        delete_iceberg(spark, root, "true")
    with pytest.raises(NotImplementedError, match="format-version 1"):
        rewrite_data_files_iceberg(spark, root)


def test_rewrite_zorder_clusters(spark, tmp_path):
    """zorder_by rewrite: rows preserved, and with a single Z column
    the range-partitioned outputs own non-overlapping value ranges —
    the min-max data-skipping property."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "tbl")
    # 4 shuffled small files
    for i in range(4):
        write_iceberg(
            TidyFrame(spark.createDataFrame(
                [((j * 7 + i * 13) % 40, f"v{i}{j}", "en")
                 for j in range(10)],
                "id long, val string, lang string").coalesce(1)),
            root, mode="append")
    before = sorted(read_iceberg(spark, root).collect()["id"].tolist())

    sc = rewrite_data_files_iceberg(spark, root, zorder_by="id",
                                    target_file_bytes=1500)
    assert sc is not None
    assert sorted(read_iceberg(spark, root).collect()["id"].tolist()) \
        == before
    meta = json.loads(open(sorted(glob.glob(
        os.path.join(root, "metadata", "v*.metadata.json")))[-1]).read())
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    live = [e["data_file"]["file_path"]
            for m in read_avro_file(spark, snap["manifest-list"])
            if m["content"] == 0
            for e in read_avro_file(spark, m["manifest_path"])
            if e["status"] != 2]
    assert len(live) >= 2  # the small target forced a range split
    spans = []
    for p in live:
        t = pq.read_table(p, columns=["id"])
        ids = t.column("id").to_pylist()
        spans.append((min(ids), max(ids)))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping Z ranges: {spans}"


def test_files_and_manifests_introspection(spark, tmp_path):
    from tidierdb_jl_spark.sources.iceberg_ops import (files_iceberg,
                                                       manifests_iceberg)

    root = str(tmp_path / "tbl")
    s0 = write_iceberg(_tf(spark, [(1, "a", "en"), (2, "b", "fr")]),
                       root, partition_by="lang")
    write_iceberg(_tf(spark, [(3, "c", "en")]), root, mode="append",
                  partition_by="lang")
    files = files_iceberg(spark, root)
    assert len(files) == 3  # one per (commit, partition value)
    assert sum(f["record_count"] for f in files) == 3
    assert {f["partition"]["lang"] for f in files} == {"en", "fr"}
    assert all(f["file_size_in_bytes"] > 0 and
               f["sequence_number"] in (1, 2) for f in files)
    # time travel narrows to s0's two files
    assert len(files_iceberg(spark, root, snapshot_id=s0)) == 2

    # DELETE retires a file: inventory shrinks, manifests show surgery
    delete_iceberg(spark, root, "id = 2")
    files2 = files_iceberg(spark, root)
    assert {f["partition"]["lang"] for f in files2} == {"en"}
    mans = manifests_iceberg(spark, root)
    assert all(m["content"] == "data" for m in mans)
    assert sum(m["deleted_data_files_count"] for m in mans) == 1


def test_tags_and_refs(spark, tmp_path):
    """tag_iceberg pins a snapshot behind a name: read_iceberg(ref=...)
    reads it, expire_snapshots retains it, drop_tag releases it."""
    from tidierdb_jl_spark.sources.iceberg_ops import (drop_tag_iceberg,
                                                       tag_iceberg)
    from tidierdb_jl_spark.sources.iceberg_writer import (
        expire_snapshots_iceberg,
    )

    root = str(tmp_path / "tbl")
    s0 = write_iceberg(_tf(spark, [(1, "a", "en")]), root)
    assert tag_iceberg(spark, root, "cut-1") == s0  # defaults current
    write_iceberg(_tf(spark, [(2, "b", "fr")]), root, mode="append")
    write_iceberg(_tf(spark, [(3, "c", "de")]), root, mode="append")

    assert _ids(spark, root, ref="cut-1") == [1]
    assert _ids(spark, root) == [1, 2, 3]
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, root, ref="nope")
    with pytest.raises(ValueError, match="not both"):
        read_iceberg(spark, root, snapshot_id=s0, ref="cut-1")

    # expiration retains the tagged snapshot
    gone = expire_snapshots_iceberg(spark, root, retain_last=1)
    assert _ids(spark, root, ref="cut-1") == [1]  # still readable
    # dropping the tag releases it
    drop_tag_iceberg(spark, root, "cut-1")
    gone = expire_snapshots_iceberg(spark, root, retain_last=1)
    assert gone  # now its files really go
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, root, ref="cut-1")


def test_mor_position_delete_and_materialize(spark, tmp_path):
    """merge-on-read DELETE: v2 position-delete file under a content=1
    manifest; composes across deletes; compaction materializes AND
    prunes the now-inert delete manifests."""
    from tidierdb_jl_spark.sources.iceberg_ops import manifests_iceberg

    root = str(tmp_path / "tbl")
    write_iceberg(
        TidyFrame(spark.createDataFrame(
            [(i, f"v{i}", "en" if i % 2 else "fr") for i in range(12)],
            "id long, val string, lang string").coalesce(1)),
        root, partition_by="lang")
    s0 = snapshots_iceberg(spark, root)[0]["snapshot_id"]

    sd = delete_iceberg(spark, root, "id IN (2, 5)",
                        mode="merge-on-read")
    assert sd is not None
    assert _ids(spark, root) == [0, 1, 3, 4, 6, 7, 8, 9, 10, 11]
    mans = manifests_iceberg(spark, root)
    assert sum(1 for m in mans if m["content"] == "deletes") == 1
    # no data file was rewritten
    assert sum(1 for m in mans if m["content"] == "data") >= 1

    delete_iceberg(spark, root, "id = 7", mode="merge-on-read")
    assert _ids(spark, root) == [0, 1, 3, 4, 6, 8, 9, 10, 11]
    assert _ids(spark, root, snapshot_id=s0) == list(range(12))

    # no-match MOR is a no-op
    before = len(snapshots_iceberg(spark, root))
    assert delete_iceberg(spark, root, "id = 999",
                          mode="merge-on-read") is None
    assert len(snapshots_iceberg(spark, root)) == before

    # full compaction materializes the deletes and PRUNES the inert
    # delete manifests from the new snapshot
    sc = rewrite_data_files_iceberg(spark, root, min_files=1,
                                    zorder_by="id")
    assert sc is not None
    assert _ids(spark, root) == [0, 1, 3, 4, 6, 8, 9, 10, 11]
    mans = manifests_iceberg(spark, root)
    assert sum(1 for m in mans if m["content"] == "deletes") == 0

    with pytest.raises(ValueError, match="copy-on-write.merge-on-read"):
        delete_iceberg(spark, root, "id = 1", mode="nope")


def test_cow_cycles_keep_manifest_list_bounded(spark, tmp_path):
    """Append + copy-on-write delete cycles: a carried manifest whose
    entries are all DELETED drops out of the next list, so the manifest
    count stays bounded; every read matches the model and time travel
    to an early snapshot still returns its rows."""
    from tidierdb_jl_spark.sources.iceberg_ops import manifests_iceberg

    root = str(tmp_path / "tbl")
    write_iceberg(_tf(spark, [(i, "v", "en") for i in range(20)]), root)
    first = snapshots_iceberg(spark, root)[-1]["snapshot_id"]
    lo, hi, counts = 0, 20, []
    for _cycle in range(20):
        write_iceberg(_tf(spark, [(i, "v", "en") for i in range(hi, hi + 5)]),
                      root, mode="append")
        hi += 5
        delete_iceberg(spark, root, f"id < {lo + 5}")
        lo += 5
        assert _ids(spark, root) == list(range(lo, hi))
        counts.append(len(manifests_iceberg(spark, root)))
    assert max(counts) <= 6, counts
    assert _ids(spark, root, snapshot_id=first) == list(range(20))
