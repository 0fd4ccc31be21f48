"""Pipeline observability via Spark's ``observe`` API: named aggregate
metrics computed DURING an action's single pass over the data — no second
scan, no separate count() job. The engine-side answer to "how many rows
did this stage actually emit / drop / null out", which the reference can
only learn by printing inside the sink (Main.scala:88-95).

Batch: ``Observation`` delivers the metrics dict after the first action.
Streaming: the same ``observe`` call surfaces per-micro-batch metrics in
``StreamingQueryProgress.observedMetrics`` — the hook a production
pipeline feeds into its metrics system.

At 100 TB this is the only affordable way to audit a pipeline run:
metrics ride the existing pass as extra aggregate expressions (codegen'd,
partial-aggregated), so cost is O(columns observed), not O(data re-read).

Jobs: ``job_profile`` folds the Spark jobs a callable starts into their
job, stage, task and shuffle-write counts, read from Spark's status
store. Job and stage counts do not depend on the host, so they rank
plans where wall time cannot.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


def observed_rows(df: DataFrame, name: str = "rows") -> tuple[DataFrame, Observation]:
    """Attach a row-count observation. Returns (df, observation); read
    ``observation.get`` after the first action on the returned frame."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def observed_quality(
    df: DataFrame, rules: dict[str, "F.Column"], name: str = "quality"
) -> tuple[DataFrame, Observation]:
    """Attach named violation counters (rule name -> boolean Column that is
    TRUE on violation) plus a total row count, all computed in the same
    pass as the consuming action — the streaming/inline companion of the
    batch ``dq_expectations`` audit."""
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(cond, 1).otherwise(0)).alias(rule) for rule, cond in rules.items()
    ]
    return df.observe(obs, *metrics), obs


def observe_stream(df: DataFrame, name: str, *metrics: "F.Column") -> DataFrame:
    """Streaming form: attach named metrics to an unbounded DataFrame; each
    micro-batch reports them in StreamingQueryProgress.observedMetrics
    (an Observation object is batch-only, so streaming passes the name)."""
    return df.observe(name, *metrics)


def probe_job_id(sc) -> int:
    """The id of a zero-task probe job run now. Job ids are global and
    sequential, so two probes bracket the jobs run between them; a job
    group would miss broadcast jobs, which run under a group of their
    own. The probe runs in the JVM only and starts no task."""
    return sc._jsc.emptyRDD().countAsync().jobIds()[0]


def job_profile(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, dict[str, int]]:
    """Run ``fn()`` and fold the Spark jobs it started, bracketed by
    ``probe_job_id``. Returns (``fn``'s result, ``{jobs, stages, tasks,
    shuffle_write_bytes}``). A stage counts once, and only if it ran:
    AQE runs each exchange as its own job, and the job that reads the
    exchange lists that stage again as skipped. The listener bus updates
    the status store asynchronously, so the fold drains it first."""
    sc = spark.sparkContext
    j0 = probe_job_id(sc)
    out = fn()
    j1 = probe_job_id(sc)
    jvm, jsc = sc._jvm, sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, seq = jsc.statusStore(), jvm.scala.jdk.javaapi.CollectionConverters.asJava
    no_statuses, no_quantiles = jvm.java.util.ArrayList(), sc._gateway.new_array(jvm.double, 0)
    stage_ids = {s for j in range(j0 + 1, j1) for s in seq(store.job(j).stageIds())}
    prof = {"jobs": j1 - j0 - 1, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0}
    for sid in sorted(stage_ids):
        attempts = [
            a for a in seq(store.stageData(sid, False, no_statuses, False, no_quantiles))
            if a.status().name() != "SKIPPED"
        ]
        prof["stages"] += bool(attempts)
        prof["tasks"] += sum(a.numTasks() for a in attempts)
        prof["shuffle_write_bytes"] += sum(a.shuffleWriteBytes() for a in attempts)
    return out, prof
