"""One ingestion-gate or global-sketch-sink arm for ``tools/ab.py``:
stream an input through one gate or sink as micro-batches and print one
JSON line with the wall seconds, the Spark jobs the stream ran, and what
the stream wrote (``result``, which must match across checkouts).

    python /path/to/tools/gate_arm.py SF_DIR ARM

Run it from the root of the checkout under test: the gate and sink code
is imported from the working directory, so one copy of this script
drives both sides of an A/B. A gate arm's corpus is 10 copies of
``SF_DIR``'s documents with distinct ids and texts, so an exact gate
admits every copy; its ``result`` is the rows the gate admitted and
quarantined.

Gate arms:

- ``plain``, ``plain_4``, ``plain_1``: the exact gate over the corpus in
  10, 4 and 1 micro-batches. The gate's cost per batch is mostly fixed
  (planning, probe, listing), so rows/s rises with batch size.
- ``bloom``: the exact gate with its Bloom prefilter sized by
  ``bloom_bits_for``. ``ledger``: the exact gate with the snapshot
  ledger. ``lsh``: the near-duplicate gate.
- ``decon``: the decontamination gate against the 5-grams of the
  documents with ``doc_id % 7 == 0``, so about one doc in seven of every
  batch is quarantined.
- ``decon_clean_auto``, ``decon_clean_sized``, ``decon_contaminated``:
  the decontamination gate over as many synthetic docs, each made of
  tokens no other doc has, so no 5-gram can hit the benchmark and every
  suspect is a Bloom false positive. ``clean_auto`` uses the default
  filter size (about 1% per gram, so most docs are still suspects and
  the confirm join runs); ``clean_sized`` uses 2^26 bits (no suspects,
  the benchmark is never read); ``contaminated`` replaces 10% of every
  batch with benchmark documents (contamination on ``doc_id // 10`` is
  orthogonal to the ``doc_id % batches`` split, so each batch gets its
  share).

Sink arms ``sink_quantiles``, ``sink_distinct``, ``sink_freq``,
``sink_bloom`` and ``sink_reservoir``: ``SF_DIR``'s events, sliced into
10 time-ordered files, stream through the sketch's summary stage into
its global sink (``write_global_quantiles`` and so on; the freq and
bloom sinks watch ``PROBE_KEYS``). ``result`` is the series' row count
and a SHA-256 digest of its distinct rows.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

from query_arm import probe_job_id

COPIES = 10
TOKENS_PER_DOC = 60  # a synthetic clean doc has 56 5-grams
ARMS = {  # arm -> micro-batches
    "plain": 10, "plain_4": 4, "plain_1": 1, "bloom": 10, "ledger": 10, "lsh": 10,
    "decon": 10, "decon_clean_auto": 10, "decon_clean_sized": 10, "decon_contaminated": 10,
    "sink_quantiles": 10, "sink_distinct": 10, "sink_freq": 10, "sink_bloom": 10,
    "sink_reservoir": 10,
}
PROBE_KEYS = [0, 1, 2, 3, 7, 42, 424242]


def sink_writer(sp, arm: str, events, out: str):
    """The arm's summary stage feeding its global sink, not yet started."""
    if arm == "sink_quantiles":
        return sp.write_global_quantiles(sp.streaming_quantiles_gk_summary(events), out)
    if arm == "sink_distinct":
        return sp.write_global_distinct(sp.streaming_distinct_hll(events), out)
    if arm == "sink_freq":
        return sp.write_global_freq(sp.streaming_freq_cms(events), out, PROBE_KEYS)
    if arm == "sink_bloom":
        return sp.write_global_bloom(sp.streaming_seen_bloom(events), out, PROBE_KEYS)
    return sp.write_global_reservoir(sp.streaming_reservoir_sample(events), out)


def gate_input(spark, sp, args, src: str, out: str, work: str):
    """Write the gate arm's corpus to ``src`` as one file per micro-batch;
    return its row count and the gate's writer over that stream."""
    from pyspark.sql import functions as F

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    batches = ARMS[args.arm]
    d = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")
    bench_docs = d.filter(F.col("doc_id") % 7 == 0)
    if args.arm.startswith("decon_"):
        tokens = F.concat_ws(" ", *[F.concat(F.lit("w"), F.col("id"), F.lit(f"t{t}")) for t in range(TOKENS_PER_DOC)])
        corpus = spark.range(COPIES * d.count()).select(F.col("id").alias("doc_id"), tokens.alias("text"))
        if args.arm == "decon_contaminated":
            # which benchmark doc replaces a row varies on (doc_id // 100) % 10,
            # a stride orthogonal to both the batch split and the predicate
            bench_texts = (
                bench_docs.select((F.col("doc_id") % 10).alias("slot"), "text")
                .groupBy("slot")
                .agg(F.first("text").alias("bench_text"))
            )
            corpus = (
                corpus.withColumn("slot", (F.col("doc_id") / 100).cast("long") % 10)
                .join(F.broadcast(bench_texts), "slot", "left")
                .select(
                    "doc_id",
                    F.when(
                        (F.col("doc_id") / 10).cast("long") % 10 == 0,
                        F.coalesce(F.col("bench_text"), F.col("text")),
                    )
                    .otherwise(F.col("text"))
                    .alias("text"),
                )
            )
    else:
        corpus = d
        for k in range(1, COPIES):
            corpus = corpus.unionByName(
                d.select(
                    (F.col("doc_id") + 1_000_000 * k).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" #c{k}")).alias("text"),
                )
            )
    corpus = corpus.localCheckpoint()  # the input build is not timed
    n_rows = corpus.count()
    for part in range(batches):
        corpus.filter(F.col("doc_id") % batches == part).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(src)
    if args.arm == "lsh":
        return n_rows, sp.write_dedup_gated(stream, out)
    if args.arm.startswith("decon"):
        bench = os.path.join(work, "bench")
        sp.write_benchmark_grams(spark, bench_docs, bench)
        kw = {"bloom_bits": 1 << 26} if args.arm == "decon_clean_sized" else {}
        return n_rows, sp.write_decontaminated(stream, bench, out, **kw)
    kw = {}
    if args.arm == "bloom":
        kw = {"bloom_prefilter": True, "bloom_bits": sp.bloom_bits_for(n_rows)}
    elif args.arm == "ledger":
        kw = {"ledger_path": os.path.join(work, "ledger")}
    return n_rows, sp.write_exact_dedup_gated(stream, out, **kw)


def sink_input(spark, sp, args, src: str, out: str):
    """Write ``SF_DIR``'s events to ``src`` as time-ordered files, one per
    micro-batch, with increasing modification times (the file source's
    batch order); return the event count and the sink's writer."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    batches = ARMS[args.arm]
    events = load_events(spark, args.sf_dir)
    tiled = events.withColumn("_tile", F.ntile(batches).over(Window.orderBy("ts", "event_id")))
    tiled = tiled.localCheckpoint()  # the input build is not timed
    for i in range(1, batches + 1):
        (
            tiled.filter(F.col("_tile") == i)
            .drop("_tile")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # raw ns longs, as stored
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(0.05)
    return events.count(), sink_writer(sp, args.arm, sp.read_events_stream(spark, src, max_files=1), out)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("sf_dir")
    parser.add_argument("arm", choices=ARMS)
    args = parser.parse_args(argv)
    batches = ARMS[args.arm]
    sys.path.insert(0, os.getcwd())

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    work = tempfile.mkdtemp(prefix=f"gate_arm_{args.arm}_")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        if args.arm.startswith("sink_"):
            n_rows, writer = sink_input(spark, sp, args, src, out)
        else:
            n_rows, writer = gate_input(spark, sp, args, src, out, work)
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm the JVM
        j0 = probe_job_id(sc)
        t0 = time.perf_counter()
        q = writer.option("checkpointLocation", os.path.join(work, "ck")).start()
        q.processAllAvailable()
        q.stop()
        wall = time.perf_counter() - t0
        jobs = probe_job_id(sc) - j0 - 1
        if args.arm.startswith("sink_"):
            series = spark.read.parquet(out).collect()
            distinct = "\n".join(sorted({repr(tuple(r)) for r in series}))
            result = {
                "series_rows": len(series),
                "digest": hashlib.sha256(distinct.encode()).hexdigest(),
            }
        else:
            quarantine = out + "_quarantine"
            result = {
                "rows": n_rows,
                "admitted": spark.read.parquet(out).count(),
                "quarantined": spark.read.parquet(quarantine).count() if sp.table_exists(spark, quarantine) else 0,
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {
        "gate.wall_s": (wall, "s"),
        "gate.rows_per_s": (n_rows / wall, "1/s"),
        "gate.spark_jobs": (jobs, "count"),
        "gate.jobs_per_batch": (jobs / batches, "count"),
    }
    print(json.dumps({
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "result": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
