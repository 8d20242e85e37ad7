"""Iceberg footer memo (sources/iceberg.py): each data file's top-level
(name, field id) list is read once per process — the writer seeds it,
a repeat read starts no probe job, and a file replaced at the same path
with a different size is probed again."""

import os
import uuid

from avro_ref import write_container
from tidierdb_jl_spark.core import TidyFrame
from tidierdb_jl_spark.sources import iceberg
from tidierdb_jl_spark.sources.iceberg import read_iceberg
from tidierdb_jl_spark.sources.iceberg_ops import (delete_iceberg,
                                                   files_iceberg,
                                                   merge_iceberg)
from tidierdb_jl_spark.sources.iceberg_writer import write_iceberg


def _jobs(spark, fn):
    """Number of Spark jobs ``fn`` starts (job-group count)."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _spy(monkeypatch):
    probed = []
    real = iceberg._probe_footers

    def spy(spark, files, fmt):
        probed.extend(files)
        return real(spark, files, fmt)

    monkeypatch.setattr(iceberg, "_probe_footers", spy)
    return probed


def _live(spark, root):
    return sorted(f["path"] for f in files_iceberg(spark, root))


def test_reads_after_writes_start_no_probe_job(spark, tmp_path,
                                               monkeypatch):
    probed = _spy(monkeypatch)
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(30)],
                               "id long, val string").repartition(3)
    write_iceberg(TidyFrame(df), root)

    def scan_jobs():
        # the parquet schema-inference job(s) every read keeps
        files = _live(spark, root)
        return _jobs(spark, lambda: spark.read.parquet(*files))

    base = scan_jobs()
    # (b) write_iceberg seeded the memo
    assert _jobs(spark, lambda: read_iceberg(spark, root)) == base
    assert probed == []
    # a cold memo probes; (a) the next read of the unchanged table not
    iceberg._footer_memo.clear()
    assert _jobs(spark, lambda: read_iceberg(spark, root)) > base
    assert sorted(probed) == _live(spark, root)
    del probed[:]
    assert _jobs(spark, lambda: read_iceberg(spark, root)) == base
    assert probed == []

    # (b) merge and copy-on-write delete: their files are never probed
    upd = spark.createDataFrame([(1, "u1"), (100, "n100")],
                                "id long, val string")
    merge_iceberg(spark, root, TidyFrame(upd), "id")
    delete_iceberg(spark, root, "id < 5")
    base = scan_jobs()
    assert _jobs(spark, lambda: read_iceberg(spark, root)) == base
    assert probed == []
    got = read_iceberg(spark, root).collect().sort_values("id")
    assert got["id"].tolist() == list(range(5, 30)) + [100]
    assert got.loc[got["id"] == 100, "val"].tolist() == ["n100"]


_MANIFEST_ENTRY = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ],
}
_MANIFEST_FILE = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
    ],
}


def test_replaced_file_is_probed_again(spark, tmp_path, monkeypatch):
    """(c) a file rewritten in place with a different size and swapped
    field ids misses the memo and resolves by its new ids."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    probed = _spy(monkeypatch)
    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    data = os.path.join(root, "data", f"{uuid.uuid4().hex}.parquet")

    def put(ids, rows):
        sch = pa.schema([
            pa.field(n, t, metadata={b"PARQUET:field_id": str(i).encode()})
            for n, t, i in (("a", pa.string(), ids[0]),
                            ("b", pa.string(), ids[1]))])
        pq.write_table(pa.table({"a": [r[0] for r in rows],
                                 "b": [r[1] for r in rows]}, schema=sch),
                       data)
        with open(os.path.join(root, "metadata", "m1.avro"), "wb") as fh:
            fh.write(write_container(_MANIFEST_ENTRY, [
                {"status": 1, "data_file": {
                    "content": 0, "file_path": data,
                    "file_format": "PARQUET", "record_count": len(rows),
                    "file_size_in_bytes": os.path.getsize(data)}}]))

    put((1, 2), [("x", "y")])
    with open(os.path.join(root, "metadata", "snap-1.avro"), "wb") as fh:
        fh.write(write_container(_MANIFEST_FILE, [
            {"manifest_path": f"{root}/metadata/m1.avro",
             "manifest_length": 1, "content": 0}]))
    meta = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()),
        "location": root, "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "p", "required": False, "type": "string"},
            {"id": 2, "name": "q", "required": False, "type": "string"},
        ]}],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1,
                       "manifest-list": f"{root}/metadata/snap-1.avro"}],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    def rows():
        return read_iceberg(spark, root).collect()[["p", "q"]] \
            .values.tolist()

    assert rows() == [["x", "y"]]
    assert rows() == [["x", "y"]]
    assert probed == [data]
    # same path, new size, ids swapped: column a now carries id 2
    put((2, 1), [("x", "y"), ("xx", "yy")])
    assert sorted(rows()) == [["y", "x"], ["yy", "xx"]]
    assert probed == [data, data]
