"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 5 --trace 0

Runs one workload as a single-client closed loop (one operation at a time)
on ``local[nproc]``: prepares the seeded inputs (not counted as set-up),
starts a session, runs two warm-up rounds, then whole measured rounds until
``--seconds`` have passed.  Every operation's output is checked against a
computation made apart from the program.  The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also writes its spans under perfbench/.trace/).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("llm_corpus", "lakehouse_rw")
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
DRIVER_HEAP = "2g"
WARMUP_ROUNDS = 2
# Per-layer metrics, each the mean per measured operation (name -> unit).
LAYERS = {
    "core.build_ms": "ms",
    "core.py4j_calls": "count",
    "core.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.max_task_ms": "ms",
    "exec.median_task_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "fetch.ms": "ms",
    "fetch.rows": "rows",
    "fetch.bytes": "bytes",
    "llm.python_bytes_sent": "bytes",
    "llm.python_rows": "rows",
    "sources.scan_files": "count",
    "sources.scan_rows": "rows",
    "cache.released_frames": "count",
    "cache.storage_bytes": "bytes",
}
# Per-layer metrics one workload computes itself; the other reports 0.
WORKLOAD_LAYERS = {
    "llm.d35_candidate_rows": "rows",
    "lake.append_pct": "%",
    "lake.merge_pct": "%",
    "lake.delete_pct": "%",
    "lake.read_build_pct": "%",
    "lake.read_exec_pct": "%",
    "lake.read_eager_jobs": "count",
    "lake.files_added": "count",
    "lake.files_removed": "count",
    "lake.data_bytes_written": "bytes",
    "lake.metadata_bytes_written": "bytes",
    "lake.write_bytes_per_user_byte": "ratio",
}


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def _tree(pid: int) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        if p in out:
            continue
        out.add(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of this process and all its
    descendants (the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.at_peak: list[int] = []
        self._halt = threading.Event()

    def sample(self) -> None:
        rss = [_rss_kb(p) for p in _tree(os.getpid())]
        if sum(rss) > self.peak_kb:
            self.peak_kb = sum(rss)
            self.at_peak = sorted(rss, reverse=True)

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------


class Runner:
    """Runs operations one at a time, times them, checks their outputs and
    keeps the counts the result line reports."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.measuring = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict = {}  # op name -> [seconds]
        self.measured_ops: list[str] = []  # op ids traced while measuring
        self.category_s: dict = {}  # category -> seconds
        self._n = 0

    def op(self, name, build, action=None, check=None, category=None):
        """``build()`` makes the operation's plan (or does the whole eager
        operation); ``action(built)`` runs and fetches it.  ``check(result)``
        returns error strings; it runs untimed.  Returns the result, or
        None when the operation raised."""
        self._n += 1
        op_id = self.op_id = f"{name}#{self._n}"
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("op", op_id):
                with tr.span("core.build", op_id, group=f"{op_id}:build"), tr.counting_py4j(op_id):
                    built = build()
                if action is None:
                    result = built
                else:
                    self._executed = getattr(built, "df", built)
                    with tr.span("exec+fetch", op_id, group=f"{op_id}:exec"):
                        result = action(built)
                    if tr.enabled and hasattr(self._executed, "_jdf"):
                        tr.catalyst(op_id, self._executed)
        except Exception as exc:  # counted, reported, and the run goes on
            if self.measuring:
                self.attempted += 1
                self.failed += 1
            print(f"# {name} failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        if self.measuring:
            self.attempted += 1
            self.lat.setdefault(name, []).append(dt)
            self.measured_ops.append(op_id)
            if category:
                self.category_s[category] = self.category_s.get(category, 0.0) + dt
        if check is not None:
            errs = check(result)
            if errs:
                self.errors.extend(f"{name}: {e}" for e in errs)
        return result

    def executed(self, df):
        """Name the DataFrame an action ran, when it is not ``built.df``."""
        self._executed = df
        return df

    def note(self, key: str, value: float) -> None:
        """Add to a per-layer count of the current operation (traced runs)."""
        self.tracer.note(self.op_id, key, value)

    def end_to_end(self) -> dict:
        per_op = [s for v in self.lat.values() for s in v]
        if not per_op:
            return {}
        med_by_op = [statistics.median(v) for v in self.lat.values()]
        geo = statistics.geometric_mean(med_by_op)
        return {
            "op_p50_ms": statistics.median(per_op) * 1000,
            "op_geomean_ms": geo * 1000,
            "ops_per_s": len(per_op) / sum(per_op),
        }


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def start_session(work: str, trace: bool):
    """``get_spark`` with explicit cores and heap; every scratch directory
    of this process, the JVM and Spark inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TIDY_SCRATCH"] = os.path.join(work, "spark")
    # Python workers import the package (Iceberg writes, pandas UDFs):
    # they inherit PYTHONPATH from the JVM, which inherits it from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp
    from tidierdb_jl_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.environ['TIDY_SCRATCH']} -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": str(_free_port()),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(
        app="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        driver_memory=DRIVER_HEAP,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process it started (the
    Python worker daemon and its workers) to end."""
    import signal

    from pyspark import SparkContext

    started = _tree(os.getpid()) - {os.getpid()}
    spark.stop()
    gw = getattr(SparkContext, "_gateway", None)
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    for wait_s in (20, 5):
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            alive = {p for p in started if os.path.exists(f"/proc/{p}")}
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def layer_metrics(runner, tracer, wl) -> dict:
    """{name: (value, unit)} for every per-layer metric."""
    ops = runner.measured_ops
    n = max(1, len(ops))
    for o in ops:
        c = tracer.counts[o]
        c["core.build_ms"] = tracer.span_ms(o, "core.build")
        c["fetch.ms"] = max(0.0, tracer.span_ms(o, "exec+fetch") - c.get("exec_phase_ms", 0.0))
    out = {k: (sum(tracer.counts[o].get(k, 0.0) for o in ops) / n, u) for k, u in LAYERS.items()}
    out.update({k: (0.0, u) for k, u in WORKLOAD_LAYERS.items()})
    out.update(wl.layer_extras(runner, tracer))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Only the result line goes to stdout: everything else this process and
    # its children (the JVM, Python workers) print goes to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    sys.path.insert(0, ROOT)
    try:
        import tidierdb_jl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tools", "gen_sf.py")):
        print("perfbench: tools/gen_sf.py is missing", file=sys.stderr)
        return 2

    rss = RssSampler()
    rss.start()
    sys.path.insert(0, HERE)
    mod = importlib.import_module(args.workload)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        wl = mod.Workload(args.seed, work)
        wl.prepare()
        prep_s = time.perf_counter() - t0

        spark = start_session(work, bool(args.trace))
        from tracing import NullTracer, Tracer

        tracer = Tracer(spark) if args.trace else NullTracer(spark)
        runner = Runner(tracer)
        wl.start(spark, runner)
        # warm-up: the cold round (JIT, code generation, first reads), then
        # one more, after which round times stop falling by much
        for _ in range(WARMUP_ROUNDS):
            wl.round(runner)
        setup_s = time.perf_counter() - T_START - prep_s

        runner.measuring = True
        t_m = time.perf_counter()
        rounds = 0
        while True:
            wl.round(runner)
            rounds += 1
            if time.perf_counter() - t_m >= args.seconds:
                break
        runner.measuring = False
        runner.errors.extend(wl.final_checks(runner))

        if args.trace:
            tracer.scrape(runner.measured_ops)
            layers = layer_metrics(runner, tracer, wl)
            os.makedirs(os.path.join(HERE, ".trace"), exist_ok=True)
            span_path = os.path.join(HERE, ".trace", f"{args.workload}-s{args.seed}.jsonl")
            tracer.write(span_path)
            print(f"# spans -> {span_path}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    for e in runner.errors[:20]:
        print(f"# CHECK FAILED {e}", file=sys.stderr)
    summary = {
        "rounds": rounds,
        "setup_s": round(setup_s, 3),
        "prep_s": round(prep_s, 3),
        "op_ms": {k: [round(s * 1000, 1) for s in v] for k, v in runner.lat.items()},
        "category_rates": wl.category_rates(runner),
        "rss_mb_at_peak": [round(k / 1024) for k in rss.at_peak[:8]],
    }
    print("# " + json.dumps(summary), file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        values = dict(runner.end_to_end())
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = rss.peak_kb / 1024
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items() if k in values}
    sys.stdout.flush()
    print(json.dumps({
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
