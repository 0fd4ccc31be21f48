"""One arm of the ingestion-gate A/B: stream 10 copies of an sf dir's
documents (distinct ids and texts) as 10 micro-batches through one gate
and report wall seconds, total and per-batch Spark jobs (job ids are
globally sequential; a probe action before and after brackets the
count) and the rows the gate admitted. Run it once per arm against two
checkouts on the same sf dir to compare them.

Usage: python tools/ab_exact_gate_jobs.py <repo_path> <sf_dir> <arm> <out_json>
arm: plain | bloom | ledger (exact gate) | lsh (near-dup gate) |
     decon (decontamination gate)

The decon arm's benchmark is the 5-grams of the documents whose
doc_id % 7 == 0, so about one doc in seven of every batch is
quarantined. ``out_json`` gets one JSON line appended per run.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO, SF_DIR, ARM, OUT = sys.argv[1:5]
ARMS = ("plain", "bloom", "ledger", "lsh", "decon")
if ARM not in ARMS:
    raise SystemExit(f"arm must be one of {ARMS}, got {ARM!r}")
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext

from akkastreamprocessnpmpackagedependencies_spark.session import load_table
from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp


def cur_job_id() -> int:
    sc.setJobGroup("probe", "probe")
    sc.parallelize([0], 1).count()
    ids = sc.statusTracker().getJobIdsForGroup("probe")
    sc.setJobGroup(None, None)
    return max(ids)


BATCHES = 10
d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
big = d
for k in range(1, 10):
    big = big.unionByName(
        d.select(
            (F.col("doc_id") + 1_000_000 * k).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" #c{k}")).alias("text"),
        )
    )
big = big.localCheckpoint()
n_rows = big.count()
spark.range(1_000_000).selectExpr("sum(id)").collect()

work = tempfile.mkdtemp(prefix=f"gate_ab_{ARM}_")
try:
    src = os.path.join(work, "src")
    for part in range(BATCHES):
        big.filter(F.col("doc_id") % BATCHES == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out = os.path.join(work, "corpus")
    stream = (
        spark.readStream.schema(big.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if ARM == "lsh":
        writer = sp.write_dedup_gated(stream, out)
    elif ARM == "decon":
        bench = os.path.join(work, "bench")
        sp.write_benchmark_grams(spark, d.filter(F.col("doc_id") % 7 == 0), bench)
        writer = sp.write_decontaminated(stream, bench, out)
    else:
        kw = {}
        if ARM == "bloom":
            if hasattr(sp, "bloom_bits_for"):
                kw = {"bloom_prefilter": True, "bloom_bits": sp.bloom_bits_for(n_rows)}
            else:  # a checkout that predates bloom_bits_for sizes by key count
                kw = {"bloom_prefilter": True, "bloom_expected_keys": n_rows}
        elif ARM == "ledger":
            kw = {"ledger_path": os.path.join(work, "ledger")}
        writer = sp.write_exact_dedup_gated(stream, out, **kw)
    j0 = cur_job_id()
    t0 = time.perf_counter()
    q = writer.option("checkpointLocation", os.path.join(work, "ck")).start()
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - t0
    jobs = cur_job_id() - j0 - 1
    result = {
        "arm": ARM,
        "repo": REPO,
        "sf_dir": SF_DIR,
        "rows": n_rows,
        "batches": BATCHES,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_rows / wall, 1),
        "spark_jobs": jobs,
        "jobs_per_batch": round(jobs / BATCHES, 1),
        "admitted_rows": spark.read.parquet(out).count(),
    }
    if ARM == "decon":
        result["quarantined_rows"] = spark.read.parquet(out + "_quarantine").count()
    print(json.dumps(result))
    with open(OUT, "a") as f:
        f.write(json.dumps(result) + "\n")
finally:
    shutil.rmtree(work, ignore_errors=True)
