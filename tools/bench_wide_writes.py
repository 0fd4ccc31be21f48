"""Measure the narrow/wide gate-append crossover that grounds
``WIDE_WRITES_ROWS``: the smallest batch size at which the wide shape's
win is decisive rather than inside spread-overlap noise.

What is timed: the append every gate runs, ``_BucketedTable.write`` in
``streaming/pipeline.py``: ``coalesce(1)`` (narrow) or
``repartition(bucket)`` (wide), then
``write.mode("append").partitionBy(bucket).parquet(...)``, over a
localCheckpointed synthetic docs frame (doc_id + ~1 KiB text + a
64-bucket hash column, the DECON_BUCKETS/EXACT_DEDUP_BUCKETS layout),
at a ladder of batch sizes bracketing the threshold. Each shape is
forced by setting ``WIDE_WRITES_ROWS`` just above (narrow) or at (wide)
the batch size. Shapes are INTERLEAVED per rep (narrow, wide, narrow,
wide, ...) so ambient drift lands on both arms, and every rep writes to
a fresh directory so no arm pays accumulated-listing costs the other
skipped.

Scope: a single-JVM local[N] measurement against a local filesystem.
Both shapes write the SAME one-file-per-touched-bucket layout (hash
partitioning lands each bucket in exactly one task), so the trade is
the wide shape's extra shuffle stage against its parallel encode; there
is no small-files argument for the narrow shape, only a per-batch
stage-latency one, which is why tiny batches stay narrow. A cluster
writing to an object store moves the constants (shuffle round-trip
latency up, per-task encode throughput flat), so re-measure there
before moving the threshold.

Usage: python tools/bench_wide_writes.py [out_json]
Default out: BENCH_wide_writes.json in the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SIZES = (1_000, 2_500, 5_000, 10_000, 25_000, 100_000, 400_000)
REPS = 5
# round 15 (r14 verdict #4): the 5k rung showed wide 0.76x with NEARLY
# separated spreads at 5 reps — re-measure the small rungs at triple
# the rep count (and add 1k/2.5k/10k rungs) to decide whether the
# threshold halves. Large rungs stay at REPS (their spreads were
# already decisively separated and each rep is seconds long).
REPS_SMALL = 15
SMALL_CUTOFF = 25_000
BUCKETS = 64  # DECON_BUCKETS == EXACT_DEDUP_BUCKETS
TOKENS_PER_DOC = 120  # ~1 KiB of text per doc


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BENCH_wide_writes.json"
    )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    work = tempfile.mkdtemp(prefix="wide_writes_")
    try:
        tok_cols = F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), F.col("id"), F.lit(f"t{t}"))
              for t in range(TOKENS_PER_DOC)],
        )
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

        result = {
            "op": "gate append write shape (narrow coalesce(1) vs wide "
                  "repartition(bucket))",
            "buckets": BUCKETS,
            "reps_per_shape": REPS,
            "tokens_per_doc": TOKENS_PER_DOC,
            "sizes": {},
        }
        threshold = sp.WIDE_WRITES_ROWS
        for size in SIZES:
            rows = (
                sp._BucketedTable(work, "doc_bucket", ("doc_id",), BUCKETS)
                .tag(
                    spark.range(size).select(
                        F.col("id").alias("doc_id"), tok_cols.alias("text")
                    )
                )
                .localCheckpoint()  # input build must not be timed
            )
            reps = REPS_SMALL if size <= SMALL_CUTOFF else REPS
            samples: dict[str, list[float]] = {"narrow": [], "wide": []}
            for rep in range(reps):
                for shape in ("narrow", "wide"):  # interleaved
                    table = sp._BucketedTable(
                        os.path.join(work, f"o_{size}_{shape}_{rep}"),
                        "doc_bucket", ("doc_id",), BUCKETS,
                    )
                    sp.WIDE_WRITES_ROWS = size + 1 if shape == "narrow" else size
                    t0 = time.perf_counter()
                    table.write(rows, size)
                    samples[shape].append(time.perf_counter() - t0)
            sp.WIDE_WRITES_ROWS = threshold
            med = {
                s: round(statistics.median(v), 3) for s, v in samples.items()
            }
            result["sizes"][str(size)] = {
                "reps": reps,
                "narrow_sec": med["narrow"],
                "wide_sec": med["wide"],
                "narrow_spread": [round(min(samples["narrow"]), 3),
                                  round(max(samples["narrow"]), 3)],
                "wide_spread": [round(min(samples["wide"]), 3),
                                round(max(samples["wide"]), 3)],
                "wide_over_narrow": round(med["wide"] / med["narrow"], 3),
            }
            rows.unpersist()
        # smallest measured size where the wide shape is at least as
        # fast — the local-regime crossover WIDE_WRITES_ROWS must sit
        # at or below
        cross = [
            int(s) for s, r in result["sizes"].items()
            if r["wide_over_narrow"] <= 1.0
        ]
        result["local_crossover_rows"] = min(cross) if cross else None
        result["wide_writes_rows_constant"] = threshold
        with open(out_json, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
