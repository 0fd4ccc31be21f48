"""SparkSession factory tuned for the local[N] harness but configured the
way a 1000-executor cluster job would be: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python exchange),
UTC session timezone (oracle comparability), shuffle partitions sized to the
available parallelism instead of the 200 default.

The reference bootstraps an ActorSystem + ActorMaterializer
(reference: src/main/scala/Main.scala:13-15); this is the Spark analogue.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Bounded-buffer / throttle semantics from the reference (Main.scala:32,100,104)
# map to micro-batch admission control, not per-element knobs; see
# streaming/registry source options.


def resolve_cpus(cpus: int | str | None = None) -> int:
    """The local-master width: ``cpus`` if given, else
    ``$SPARK_GRAFT_CPUS``, else 32. Anything that is not a positive
    integer (0, "", "-1", "4.0") raises ValueError instead of silently
    falling back to another width."""
    raw = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    text = str(raw).strip()
    if not text.isdigit() or int(text) < 1:
        raise ValueError(f"cpus must be a positive integer, got {raw!r}")
    return int(text)


def get_spark(
    app_name: str = "akkastream-npm-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    cpus: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    At 100 TB these same settings hold: AQE coalesces the post-shuffle
    partition count at runtime, the skew-join rule splits hot keys, and
    shuffle partitions become a function of cluster cores, not a constant.

    ``cpus`` overrides the ``$SPARK_GRAFT_CPUS`` local-master width (see
    ``resolve_cpus``) for callers whose workload is not bench.py's — the
    pytest fixture passes 8 here (tests/conftest.py: tiny-input
    micro-batch jobs are scheduling-floor-bound at local[32]).
    ``shuffle_partitions`` defaults to the resolved width. ``cpus`` only
    takes effect for the first session in the process: ``getOrCreate``
    keeps an existing session's master.
    """
    n_cpus = resolve_cpus(cpus)
    builder = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Columnar parquet scan — Catalyst pushes filters/pruning into it."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_scaled(spark: SparkSession, sf_dir: str, name: str):
    """Scan + repartition to full core parallelism — for operators whose
    per-row COMPUTE dominates I/O (hashing, shingling, vector math). The
    test parquet is a single row group, so the bare scan is one task; a
    100 TB table has thousands of natural splits and this repartition
    becomes a cheap no-op-ish rebalance. Do NOT use for scan-bound
    relational queries — there the shuffle is pure cost."""
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    return df


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk footprint of a table's parquet directory, via the Hadoop
    FileSystem API (works on s3a/hdfs/local alike; os.path would lie on
    object stores). Control-plane metadata read — NO Spark job — used by
    the input-size-gated operator shapes (the cc_alternating_star /
    WIDE_WRITES_ROWS gating idiom): pick the micro-scale-fast plan under
    the gate, the skew-/scale-safe plan above it, keyed deterministically
    on the INPUT so repeated runs choose identically."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(os.path.join(sf_dir, f"{name}.parquet"))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(path).getLength())


def load_events(spark: SparkSession, sf_dir: str):
    """Normalize ``ts`` to TimestampType regardless of how the driver
    generated the parquet. Two encodings have been observed across rounds:
    TIMESTAMP(NANOS) stored as INT64 (read nanos-as-long and truncate
    ns -> us with integer DIV — never double division, a 1.7e18 ns value
    exceeds double's 2^53 integer range), and plain timestamp[us] without
    UTC adjustment (read as TIMESTAMP_NTZ — cast to TIMESTAMP, a pure
    relabel under the UTC session timezone, so downstream `unix_micros`/
    window functions keep working and values match the DuckDB oracle)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Lineage-truncation points in the iterative/eager operators route through
# ``ckpt`` so tooling can bypass them: tools/dump_plans.py sets
# CHECKPOINT_ENABLED = False to capture the REAL physical plan — a
# localCheckpoint (eager OR lazy: the Dataset is rebuilt over a
# LogicalRDD at creation time either way) replaces everything beneath it
# with "Scan ExistingRDD" in explain output, hiding the very shapes
# PLANS.md exists to show. Production behavior is the module default —
# checkpoint on; the bypass exists only for plan capture, where nothing
# is executed and lineage truncation is irrelevant.
CHECKPOINT_ENABLED = True


def ckpt(df):
    """Locally checkpoint ``df`` (lineage truncation point). Under plan
    capture the checkpoint becomes a ``persist()`` instead: explain keeps
    the full plan visible (InMemoryRelation retains its child plan where
    LogicalRDD discards it), while construction-time actions in the
    iterative operators (the CC convergence checks) still materialize
    once per round instead of re-deriving every prior round. The global
    is read at call time, so tooling's module-attribute flip is seen."""
    return df.localCheckpoint() if CHECKPOINT_ENABLED else df.persist()


@contextmanager
def runtime_bloom_filter(spark: SparkSession, application_side_threshold: str = "0"):
    """Scoped enablement of Spark's runtime bloom-filter join pre-filter
    (InjectRuntimeFilter): within the block, a selective filter on the
    creation side of a shuffle join injects a bloom_filter_agg subquery
    whose might_contain() predicate is pushed onto the application
    (fact) side — rows that cannot join are dropped BEFORE the shuffle.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only the ~selectivity fraction that can match:
    the engine builds the filter from the dimension side at runtime, so
    it adapts to the actual predicate, unlike any static partitioning.
    The rule is ON by default in production configs; the only thing this
    helper changes is the application-side scan-size threshold (default
    10 GB — correct for clusters, unreachable in a local test), restored
    on exit. Results are value-identical with or without the filter
    (bloom false positives only pass extra rows to the exact join), so
    every oracle stays green — ``tests/test_plans.py`` pins the
    might_contain injection itself."""
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, application_side_threshold)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
