"""Spans and per-layer counters, recorded from outside the program.

A traced run wraps each call into a layer in a span (name, start, end,
parent, op id), kept in memory and written out once at the end.  Counts
come from three places the program does not have to cooperate with:

* py4j round trips, counted by wrapping ``GatewayClient.send_command``
  (GC detach commands excluded, as ``tools/py4j_census.py`` does);
* Catalyst phase times from ``queryExecution().tracker()``;
* jobs, stages, tasks and SQL node metrics from Spark's monitoring REST
  API, read after the measured rounds through job groups named after the
  operation.

An untraced run uses ``NullTracer``: it only times the operations.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
import urllib.request
from collections import defaultdict


class NullTracer:
    enabled = False

    def __init__(self, spark=None):
        self.spark = spark

    @contextlib.contextmanager
    def span(self, name, op_id=None, group=None):
        yield

    @contextlib.contextmanager
    def counting_py4j(self, op_id):
        yield

    def catalyst(self, op_id, df):
        pass

    def note(self, op_id, key, value):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        super().__init__(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict = defaultdict(lambda: defaultdict(float))
        self.groups: dict = {}  # job group -> (op_id, phase)
        self._py4j = [0, False]
        import py4j.java_gateway as jg

        orig = jg.GatewayClient.send_command
        state = self._py4j

        def counted(client, command, *a, **k):
            if state[1] and not (isinstance(command, str) and command.startswith("m\n")):
                state[0] += 1
            return orig(client, command, *a, **k)

        jg.GatewayClient.send_command = counted

    @contextlib.contextmanager
    def span(self, name, op_id=None, group=None):
        sc = self.spark.sparkContext
        if group is not None:
            self.groups[group] = (op_id, name)
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op_id, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                # jobs the checks start are nobody's operation
                sc.setJobGroup("perfbench-checks", "checks")

    @contextlib.contextmanager
    def counting_py4j(self, op_id):
        self._py4j[0], self._py4j[1] = 0, True
        try:
            yield
        finally:
            self._py4j[1] = False
            self.counts[op_id]["core.py4j_calls"] += self._py4j[0]

    def catalyst(self, op_id, df):
        """Analysis/optimization/planning ms of the frame's last action."""
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:
            return
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.counts[op_id][f"catalyst.{phase}_ms"] += opt.get().durationMs()

    def note(self, op_id, key, value):
        self.counts[op_id][key] += value

    def span_ms(self, op_id, name) -> float:
        return sum(
            (s["end"] - s["start"]) * 1000
            for s in self.spans
            if s["op"] == op_id and s["name"] == name and "end" in s
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # ---------------------------------------------------------- REST API

    def _get(self, rel: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{rel}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def scrape(self, op_ids) -> None:
        """Pull job/stage/task/SQL metrics of ``op_ids`` into ``counts``."""
        wanted = set(op_ids)
        jobs = self._get("jobs")
        job_op: dict = {}
        for j in jobs:
            op, phase = self.groups.get(j.get("jobGroup"), (None, None))
            if op not in wanted:
                continue
            job_op[j["jobId"]] = op
            c = self.counts[op]
            c["exec.jobs"] += 1
            dur = _ms(j.get("completionTime")) - _ms(j.get("submissionTime"))
            c["exec.ms"] += dur
            if phase == "core.build":
                c["core.eager_jobs"] += 1
            else:
                c["exec_phase_ms"] += dur
        stage_op = {}
        for j in jobs:
            if j["jobId"] in job_op:
                for sid in j.get("stageIds", []):
                    stage_op[sid] = job_op[j["jobId"]]
        task_ms = defaultdict(list)
        for st in self._get("stages?status=complete"):
            op = stage_op.get(st["stageId"])
            if op is None:
                continue
            c = self.counts[op]
            c["exec.stages"] += 1
            c["exec.tasks"] += st.get("numCompleteTasks", 0)
            c["exec.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            c["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            tasks = self._get(
                f"stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000"
            )
            task_ms[op].extend(
                t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")
            )
        for op, ms in task_ms.items():
            if ms:
                self.counts[op]["exec.max_task_ms"] = max(ms)
                self.counts[op]["exec.median_task_ms"] = statistics.median(ms)
        for ex in self._get("sql?details=true&planDescription=true&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            ops = {job_op[i] for i in ids if i in job_op}
            if len(ops) != 1:
                continue
            self._sql_nodes(ops.pop(), ex)

    def _sql_nodes(self, op, ex) -> None:
        c = self.counts[op]
        band_join = _band_join_ids(ex) if op.startswith("d35_") else set()
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            mets = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if name.startswith("Scan parquet") or name.startswith("FileScan"):
                c["sources.scan_files"] += _num(mets.get("number of files read"))
                c["sources.scan_rows"] += _num(mets.get("number of output rows"))
            if "data sent to Python workers" in mets:
                c["llm.python_bytes_sent"] += _num(mets["data sent to Python workers"])
                c["llm.python_rows"] += _num(mets.get("number of output rows"))
            if node.get("nodeId") in band_join:
                c["llm.band_join_rows"] += _num(mets.get("number of output rows"))


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _num(value) -> float:
    """A REST metric value: '1,234', or 'total (min, med, max ...)\\n12.3 KiB
    (...)' for size/timing metrics (the total is taken)."""
    if value is None:
        return 0.0
    text = str(value)
    if text.startswith("total"):
        text = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _ms(stamp) -> float:
    """REST time stamp ('2026-10-19T12:00:00.123GMT') to epoch ms."""
    from datetime import datetime, timezone

    if not stamp:
        return 0.0
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000


def _band_join_ids(ex) -> set:
    """Node id of d35's LSH band self-join.  minhash_dedup_pairs joins the
    deduplicated band candidates to the shingle sets twice (on id_a, then
    id_b), so the band join is the join with exactly two joins above it."""
    nodes = {n["nodeId"]: n.get("nodeName", "") for n in ex.get("nodes", [])}
    parent = {e["fromId"]: e["toId"] for e in ex.get("edges", [])}
    ids = set()
    for nid, name in nodes.items():
        if "Join" not in name:
            continue
        above, p = 0, parent.get(nid)
        while p is not None:
            above += "Join" in nodes.get(p, "")
            p = parent.get(p)
        if above == 2:
            ids.add(nid)
    return ids
