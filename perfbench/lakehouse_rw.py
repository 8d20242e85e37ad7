"""Workload ``lakehouse_rw``: commit cycles on a Delta and an Iceberg table.

Both tables start from the same seeded ``N_ROWS`` rows and are fed the same
seeded batches.  One round is one cycle per format (Delta first), and one
cycle is four operations:

1. append ``BATCH`` new rows;
2. key-upsert merge of ``BATCH`` rows (half update live keys, half new);
3. copy-on-write delete of the oldest ``BATCH * 3 // 2`` keys, which holds
   the table at ``N_ROWS`` rows (and, starting from ``N_ROWS // BATCH``
   files, near a steady file count) so per-commit cost does not grow with
   the run;
4. read of the latest snapshot with an aggregate (count, sum).

Each read is checked against an in-memory model of the table (count, sum,
content hash), the two formats against each other, time travel to the
previous version against the model's previous state, and the data bytes
the commit logs record against the data files on disk.
"""

from __future__ import annotations

import json
import os

import numpy as np

import checks

N_ROWS = 2000
BATCH = 200
FORMATS = ("delta", "iceberg")
STEPS = ("append", "merge", "delete", "read")


def _listing(root: str) -> dict:
    """{relative path: size} of the table's files, checksum files left
    out."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.lo, self.hi = 0, N_ROWS  # live keys are [lo, hi)
        self.model = {}
        self.prev_model = None
        self.user_bytes = 0
        self.hashes: dict = {}
        self.stats = {f: {"data": 0, "meta": 0, "added": 0, "removed": 0, "commits": 0}
                      for f in FORMATS}
        self.data_logged = {f: 0 for f in FORMATS}
        self.files: dict = {}

    def prepare(self) -> None:
        """Inputs are made in memory from the seed as the run goes."""

    def _rows(self, ids):
        ids = np.asarray(ids, dtype=np.int64)
        import pandas as pd

        return pd.DataFrame({
            "id": ids,
            "grp": (ids % 16).astype(np.int32),
            "val": self.rng.integers(0, 1_000_000, len(ids)).astype(np.int64),
            "txt": [f"t{int(x):x}" for x in self.rng.integers(0, 1 << 40, len(ids))],
        })

    def _frame(self, pdf):
        from tidierdb_jl_spark import TidyFrame

        return TidyFrame(self.spark.createDataFrame(pdf, self.schema).coalesce(1))

    def start(self, spark, runner) -> None:
        from tidierdb_jl_spark import TidyFrame, write_delta, write_iceberg

        self.spark = spark
        self.schema = "id BIGINT, grp INT, val BIGINT, txt STRING"
        self.paths = {f: os.path.join(self.work, f) for f in FORMATS}
        init = self._rows(range(N_ROWS))
        self._apply_upsert(init)
        # written as N_ROWS // BATCH files of consecutive keys, the layout
        # the cycles keep, so file counts do not drift during a run
        frame = TidyFrame(self.spark.createDataFrame(init, self.schema)
                          .repartitionByRange(N_ROWS // BATCH, "id"))
        for f, write in (("delta", write_delta), ("iceberg", write_iceberg)):
            write(frame, self.paths[f])
            self.files[f] = self._live_files(f)
            self.data_logged[f] += sum(self.files[f].values())

    # ------------------------------------------------------------ model

    def _apply_upsert(self, pdf) -> None:
        for i, g, v, t in pdf.itertuples(index=False, name=None):
            self.model[int(i)] = (int(g), int(v), t)

    def _user_bytes(self, pdf) -> int:
        import pyarrow as pa

        return pa.Table.from_pandas(pdf, preserve_index=False).nbytes

    # ------------------------------------------------ commit-log metrics

    def _live_files(self, fmt: str) -> dict:
        """{data file: size} of the latest snapshot, from the commit log."""
        root = self.paths[fmt]
        if fmt == "iceberg":
            from tidierdb_jl_spark import files_iceberg

            return {os.path.basename(f["path"]): int(f["file_size_in_bytes"])
                    for f in files_iceberg(self.spark, root)}
        live: dict = {}
        log = os.path.join(root, "_delta_log")
        for name in sorted(n for n in os.listdir(log) if n.endswith(".json")):
            with open(os.path.join(log, name)) as fh:
                for line in fh:
                    act = json.loads(line)
                    if "add" in act:
                        live[act["add"]["path"]] = int(act["add"]["size"])
                    elif "remove" in act:
                        live.pop(act["remove"]["path"], None)
        return live

    def _record_commit(self, fmt: str, runner, before: dict) -> None:
        now = self._live_files(fmt)
        added = {p: s for p, s in now.items() if p not in self.files[fmt]}
        removed = [p for p in self.files[fmt] if p not in now]
        self.files[fmt] = now
        self.data_logged[fmt] += sum(added.values())
        meta_dir = "metadata" if fmt == "iceberg" else "_delta_log"
        after = _listing(self.paths[fmt])
        meta = sum(s for p, s in after.items()
                   if p.startswith(meta_dir) and before.get(p) != s)
        if runner.measuring:
            st = self.stats[fmt]
            st["data"] += sum(added.values())
            st["meta"] += meta
            st["added"] += len(added)
            st["removed"] += len(removed)
            st["commits"] += 1

    # ------------------------------------------------------------ round

    def round(self, runner) -> None:
        from tidierdb_jl_spark import (delete_delta, delete_iceberg, merge_delta,
                                       merge_iceberg, read_delta, read_iceberg,
                                       write_delta, write_iceberg)

        ops = {
            "delta": (write_delta, merge_delta, delete_delta, read_delta),
            "iceberg": (write_iceberg, merge_iceberg, delete_iceberg, read_iceberg),
        }
        app = self._rows(range(self.hi, self.hi + BATCH))
        upd = self._rows(np.r_[self.hi:self.hi + BATCH // 2,
                               self.hi + BATCH:self.hi + BATCH + BATCH // 2])
        cut = self.lo + BATCH * 3 // 2
        if runner.measuring:
            self.user_bytes += self._user_bytes(app) + self._user_bytes(upd)
        self._apply_upsert(app)
        self._apply_upsert(upd)
        self.prev_model = dict(self.model)
        for k in [k for k in self.model if k < cut]:
            del self.model[k]
        self.lo, self.hi = cut, self.hi + BATCH + BATCH // 2

        app_tf, upd_tf = self._frame(app), self._frame(upd)
        for fmt in FORMATS:
            write, merge, delete, read = ops[fmt]
            path = self.paths[fmt]
            spark = self.spark
            steps = (
                ("append", lambda: write(app_tf, path)),
                ("merge", lambda: merge(spark, path, upd_tf, "id")),
                ("delete", lambda: delete(spark, path, f"id < {cut}")),
            )
            for step, call in steps:
                before = _listing(path)
                out = runner.op(f"{fmt}.{step}", call, category=f"{fmt}_commit")
                if out is not None:
                    self._record_commit(fmt, runner, before)
            runner.op(
                f"{fmt}.read",
                lambda: read(spark, path),
                self._aggregate(runner),
                lambda res, fmt=fmt: self._check_read(fmt, res),
                category=f"{fmt}_read",
            )
        if len(set(self.hashes.values())) > 1:
            runner.errors.append("delta and iceberg tables hold different content")

    def _aggregate(self, runner):
        def action(tf):
            df = runner.executed(tf.df.selectExpr("count(*) AS n", "sum(val) AS sum_val"))
            row = df.collect()[0]
            if runner.tracer.enabled:
                runner.note("fetch.rows", 1)
            return tf, {"n": int(row["n"]), "sum_val": int(row["sum_val"] or 0)}

        return action

    def _check_read(self, fmt, res) -> list[str]:
        tf, agg = res
        rows = tf.df.select("id", "grp", "val", "txt").collect()
        self.hashes[fmt] = checks.content_hash(rows)
        return checks.check_table(fmt, agg, rows, self.model)

    # ----------------------------------------------------------- checks

    def final_checks(self, runner) -> list[str]:
        from tidierdb_jl_spark import read_delta, read_iceberg, snapshots_iceberg

        errs = []
        # time travel to the version before the last commit (the delete)
        dlog = os.path.join(self.paths["delta"], "_delta_log")
        last = max(int(n[:20]) for n in os.listdir(dlog) if n.endswith(".json"))
        snaps = sorted(snapshots_iceberg(self.spark, self.paths["iceberg"]),
                       key=lambda s: s["sequence_number"])
        old = {
            "delta": read_delta(self.spark, self.paths["delta"], version=last - 1),
            "iceberg": read_iceberg(self.spark, self.paths["iceberg"],
                                    snapshot_id=snaps[-2]["snapshot_id"]),
        }
        for fmt, tf in old.items():
            rows = tf.df.select("id", "grp", "val", "txt").collect()
            agg = {"n": len(rows), "sum_val": sum(r["val"] for r in rows)}
            errs += checks.check_table(f"{fmt} previous version", agg, rows, self.prev_model)
        # data bytes from the commit logs against the data files on disk
        for fmt in FORMATS:
            meta_dir = "metadata" if fmt == "iceberg" else "_delta_log"
            on_disk = sum(s for p, s in _listing(self.paths[fmt]).items()
                          if not p.startswith(meta_dir))
            if on_disk != self.data_logged[fmt]:
                errs.append(f"{fmt}: commit log records {self.data_logged[fmt]} data bytes, "
                            f"{on_disk} on disk")
        return errs

    # ---------------------------------------------------------- metrics

    def category_rates(self, runner) -> dict:
        out = {}
        s = runner.category_s
        for fmt in FORMATS:
            n = sum(len(runner.lat.get(f"{fmt}.{st}", [])) for st in STEPS[:3])
            if s.get(f"{fmt}_commit"):
                out[f"{fmt}_commits_per_s"] = round(n / s[f"{fmt}_commit"], 3)
            reads = sorted(runner.lat.get(f"{fmt}.read", []))
            if reads:
                out[f"{fmt}_read_p50_ms"] = round(1000 * reads[len(reads) // 2], 1)
        written = sum(st["data"] + st["meta"] for st in self.stats.values())
        if self.user_bytes:
            out["write_bytes_per_user_byte"] = round(written / (2 * self.user_bytes), 3)
        return out

    def layer_extras(self, runner, tracer) -> dict:
        ops = runner.measured_ops
        total = sum(tracer.span_ms(o, "op") for o in ops) or 1.0
        out = {}
        for step in ("append", "merge", "delete"):
            ms = sum(tracer.span_ms(o, "op") for o in ops if o.split("#")[0].endswith(step))
            out[f"lake.{step}_pct"] = (100 * ms / total, "%")
        reads = [o for o in ops if o.split("#")[0].endswith(".read")]
        out["lake.read_build_pct"] = (
            100 * sum(tracer.span_ms(o, "core.build") for o in reads) / total, "%")
        out["lake.read_exec_pct"] = (
            100 * sum(tracer.span_ms(o, "exec+fetch") for o in reads) / total, "%")
        out["lake.read_eager_jobs"] = (
            sum(tracer.counts[o].get("core.eager_jobs", 0) for o in reads) / max(1, len(reads)),
            "count")
        commits = sum(st["commits"] for st in self.stats.values()) or 1
        for key, name, unit in (("added", "files_added", "count"),
                                ("removed", "files_removed", "count"),
                                ("data", "data_bytes_written", "bytes"),
                                ("meta", "metadata_bytes_written", "bytes")):
            out[f"lake.{name}"] = (sum(st[key] for st in self.stats.values()) / commits, unit)
        rates = self.category_rates(runner)
        out["lake.write_bytes_per_user_byte"] = (rates.get("write_bytes_per_user_byte", 0.0), "ratio")
        return out
