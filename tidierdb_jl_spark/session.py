"""SparkSession factory — the reference's ``connect()``
(``/root/reference/src/TidierDB.jl:377-441``) collapses to one engine.

Defaults are tuned for the test container (local[N]) but every knob is the
one that matters on a real cluster too: AQE on (runtime re-plan, skew-join
handling, partition coalescing), shuffle partitions sized to parallelism,
UTC session timezone (oracle parity), Arrow transfers for the Python
boundary.  Unless given (argument, then ``SPARK_GRAFT_CPUS`` /
``SPARK_DRIVER_MEM``), the core count is the CPUs this process may run on
and the driver heap half the host's memory, capped at 16g.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "connect",
    "TESTDATA_TABLES",
    "register_testdata",
    "normalize_ntz",
]

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_MAX_DRIVER_MEM_MB = 16 * 1024


def _default_cpus(affinity=None) -> int:
    """Default ``local[N]``: the CPUs this process may run on (its
    affinity mask, read when ``affinity`` is None — a container pinned
    to 4 of 64 cores gets 4)."""
    if affinity is None:
        try:
            affinity = os.sched_getaffinity(0)
        except AttributeError:  # no affinity API on this platform
            return os.cpu_count() or 1
    return max(1, len(affinity))


def _default_driver_memory(meminfo: str | None = None) -> str:
    """Default driver heap: half of ``MemTotal`` from ``meminfo`` (the
    text of ``/proc/meminfo``, read when None), capped at 16g; the cap
    when ``MemTotal`` is unknown."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as fh:
                meminfo = fh.read()
        except OSError:
            meminfo = ""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            mb = int(line.split()[1]) // 2048  # kB -> MB, halved
            if mb < _MAX_DRIVER_MEM_MB:
                return f"{mb}m"
    return f"{_MAX_DRIVER_MEM_MB // 1024}g"


def get_spark(
    app: str = "tidierdb-jl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus()
    # Keep JVM side-effect files (spark-warehouse/, Derby's derby.log) out
    # of the process cwd — saveAsTable output and the embedded-Derby JDBC
    # tests otherwise litter the repo root.
    scratch = os.environ.get("TIDY_SCRATCH") or tempfile.mkdtemp(prefix="tidy-spark-")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory
                or os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable;
        # register_testdata converts the long back to a timestamp column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.x infers parquet isAdjustedToUTC=false columns as
        # TIMESTAMP_NTZ, which unix_micros() and streaming watermarks
        # reject.  Session TZ is pinned UTC, so reading them as plain
        # TIMESTAMP is lossless and keeps event-time ops working.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # IN-list predicates up to this size reach parquet-mr as point
        # filters (row-group skipping via dictionaries/column blooms —
        # a min/max range check is useless for uniform hash keys).
        # HARD CEILING: Spark expands the pushed IN into a left-deep
        # OR-of-Eq chain that parquet-mr evaluates recursively — ~1.5k
        # values overflows the task stack (measured: 1200 ok, 1500
        # StackOverflowError; deeper codegen stages fail earlier), so
        # keep this well under 1024.  Bigger lists still evaluate
        # correctly (JVM-side InSet after the range check) — they just
        # skip fewer row groups.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={scratch}")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # binaryFile/glob loads probe the literal glob path for a
        # streaming-sink metadata dir and log a full FileNotFound stack
        # trace at WARN — expected and harmless; keep it out of user logs.
        # Tradeoff: genuine FileStreamSink warnings (rare; the sink mostly
        # reports through StreamingQuery status/exceptions) are demoted
        # too — this logger is dominated by the per-glob-read probe noise.
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
        )
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass
    return spark


connect = get_spark


def normalize_ntz(df):
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP.

    With the session timezone pinned UTC the cast is lossless; it restores
    compatibility with ``unix_micros`` and Structured-Streaming watermarks
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``), both of which reject NTZ.
    A no-op (returns the same plan) when no NTZ column exists, so it is
    safe on the hot path — no extra projection is added for clean schemas.
    """
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


def register_testdata(
    spark: SparkSession, sf_dir: str, parallelize: bool = True
) -> dict:
    """Register the driver's parquet tables as temp views; returns
    {name: TidyFrame}.

    ``parallelize``: the driver's files are written as a SINGLE parquet row
    group each, and a row group is the unit of scan parallelism — without
    intervention every query here starts with a one-task scan stage that
    leaves the other N-1 cores idle.  The same pathology exists at cluster
    scale (a few huge single-row-group files = scan skew).  Fix: round-robin
    repartition the scan to the session's default parallelism and CACHE the
    result (lazy — first action materializes), so the one-task read and the
    spreading shuffle are paid once per session, not once per query.  The
    cached copy is the working set a warm cluster would hold; at real scale
    the same role is played by many parquet splits + OS page cache, and
    this helper (a *testdata* loader) is not on that path — ``db_table``
    scans stay pure, pushdown-preserving reads.  Tiny dimension tables are
    left as plain scans so size-based broadcast planning is unaffected.
    """
    from .core import TidyFrame

    target = spark.sparkContext.defaultParallelism
    out = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                # nanosAsLong read: restore the timestamp (micro precision)
                from pyspark.sql import functions as F

                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            df = normalize_ntz(df)
            size = os.path.getsize(path)
            if parallelize and target > 1 and size >= 256_000:
                # Partition count scales with data, floored at a few-way
                # split: tiny tables under many partitions drown in
                # per-task overhead (measured 3x slower at 32 parts for
                # a 2k-row table), while ~2 MB/partition keeps every
                # stage parallel without that tax.  At real scale the
                # ratio pushes this to full parallelism.
                nparts = min(target, max(4, size // (2 << 20) + 1))
                df = df.repartition(nparts).cache()
            df.createOrReplaceTempView(name)
            out[name] = TidyFrame(df)
    return out
