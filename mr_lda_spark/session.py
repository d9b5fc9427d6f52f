"""SparkSession factory tuned for this engine.

Defaults target the test harness (local[N], 128 GiB box) but every knob
is chosen to also be the right default on a 1000-executor cluster:
AQE on (runtime coalesce + skew-join handling), Arrow on (all our Python
kernels are pandas-batched, never row-at-a-time), broadcast threshold
sized so dimension tables (term dictionary, nation/region/supplier)
broadcast instead of shuffling.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "mr-lda-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    on a real cluster ``master`` comes from spark-submit and these
    local[] defaults are ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Sized for the local harness; on a cluster this is per-job tuned.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Every Python kernel in this engine is Arrow-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (term dict, TPC-H dims) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp semantics regardless of host tz.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # local[32] runs 32 concurrent tasks inside the ONE driver JVM,
        # and the engine persists shared lineages (parse family, shingle
        # sets, curation scores) across a session.  8g left the unified
        # pool (~0.6×heap) thrashing between storage eviction and
        # execution spill once a few families were cached — measured as
        # a near-uniform ~1.3× drag on a full bench run (BENCH_r02) that
        # single-query isolation didn't reproduce.  The harness box has
        # 128 GiB; on a real cluster this is spark-submit's
        # --executor-memory and the number below is ignored.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def no_auto_broadcast(spark: SparkSession):
    """Auto-broadcast joins off inside the block, so a β join past the
    broadcast cliff stays a shuffle join at any test size; the previous
    value (or its absence) comes back on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``mr_lda_spark`` importable on executors.

    Python workers don't inherit the driver's ``sys.path`` mutations,
    so any closure referencing package modules (the E-step kernel)
    needs the package distributed.  Zip it once per session and
    ``addPyFile`` it — the same mechanism that deploys this engine to a
    real cluster (spark-submit --py-files).
    """
    flag = "mr_lda_spark.shipped"
    jconf = spark.sparkContext.getLocalProperty(flag)
    if jconf == "1":
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="mr_lda_spark_ship_")
    zip_base = os.path.join(staging, "mr_lda_spark")
    shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="mr_lda_spark"
    )
    spark.sparkContext.addPyFile(zip_base + ".zip")
    spark.sparkContext.setLocalProperty(flag, "1")


def normalize_events_ts(df, ts_type):
    """Normalize the events ``ts`` column to a session-zone TIMESTAMP.

    The generator has shipped ``ts`` as nanosecond INT64 in some
    versions (LongType once ``nanosAsLong`` is on) and as microsecond
    TIMESTAMP(_NTZ) in others.  ONE rule shared by the batch reader
    (``read_table``) and the streaming reader
    (``streaming.events.read_events_stream``) so the two can't drift.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(ts_type, T.LongType):  # nanos-as-long
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def spread_scan(df, spark: SparkSession):
    """Scale-adaptive scan parallelism (optimization guide §2: derive
    partitioning from the input, never a constant tuned for one mode).

    A table that arrives in fewer splits than the session has cores
    serializes every per-row kernel above it: parquet splitting floors
    at ``spark.sql.files.openCostInBytes`` (4 MB) and respects row-group
    boundaries, so a small or unsplittable (gzip) file is ONE task no
    matter how many cores exist.

    When the scan already yields >= defaultParallelism splits (every
    production-scale table), this returns the input UNCHANGED — no
    exchange is added.  Otherwise one round-robin repartition to the
    default parallelism spreads the rows; the shuffled bytes are by
    construction small (fewer splits than cores ⇒ the table is at most
    cores × maxPartitionBytes).  Row-level results are partitioning-
    independent engine-wide (oracle-enforced), so this is plan-only.

    OPT-IN, not blanket (r14 measurement): spreading pays one exchange
    and — more importantly — trades the single fat map task's perfect
    partial-aggregation collapse for N thin tasks' N× partial states,
    and lets column-pruning projections (e.g. media synthesis) slide
    below the exchange so it carries synthesized payloads.  Interleaved
    A/B at sf0.1 showed ~0.65× on the kmeans-assignment family and the
    candidate-text verify paths (CPU-heavy map work), but 1.5-6×
    REGRESSIONS on npmi/multimodal/dedup_exact-class consumers.  Each
    ``spread=True`` call site below cites its own A/B.
    """
    if df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def read_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool = False):
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is normalized via ``normalize_events_ts`` so
    downstream ops see a uniform TIMESTAMP regardless of generator
    version.  ``spread=True`` applies :func:`spread_scan` — opt in
    per consumer where the per-row map work is measured CPU-bound.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return normalize_events_ts(df, df.schema["ts"].dataType)
    df = spark.read.parquet(path)
    if spread:
        df = spread_scan(df, spark)
    return df
