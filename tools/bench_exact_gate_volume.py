"""Volume-scaling evidence for ``write_exact_dedup_gated`` (round-10
verdict #7): the per-round bench drives it at ~5k-row micro-batches,
where the ~759 rows/s is per-batch OVERHEAD (query planning, sidecar
read, file listing), not the gate kernel — the same lesson as the GK
kernel A/B. This runs the SAME gate in one session at increasing batch
volumes (one parquet file per micro-batch, so batch size == file size)
and records rows/s per volume; if throughput rises with batch size the
gate is overhead-bound and scales with volume, which is the shape a
1000-executor deployment (large micro-batches) actually sees.

Usage: python tools/bench_exact_gate_volume.py [sf_dir] [out_json]
Defaults: sf0.1 (50k documents), BENCH_exact_gate_volume.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# files per run: 50k docs -> 10 x 5k (the per-round bench shape),
# 4 x 12.5k, 1 x 50k
SPLITS = (10, 4, 1)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "BENCH_exact_gate_volume.json"
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
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table
    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # sf0.1 holds 5k documents; the round-10 verdict asks for evidence at
    # 50k+ rows per batch, so replicate with DISTINCT ids and texts (the
    # gate would legitimately drop exact duplicates) — a real 10x corpus,
    # not an extrapolation
    copies = int(os.environ.get("EXACT_GATE_COPIES", "10"))
    if copies > 1:
        base = d
        parts = [base]
        for k in range(1, copies):
            parts.append(
                base.select(
                    (F.col("doc_id") + 1_000_000 * k).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" #c{k}")).alias("text"),
                )
            )
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        d = d.localCheckpoint()  # freeze: input build must not be timed
    n_rows = d.count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm the JVM

    work = tempfile.mkdtemp(prefix="exact_gate_vol_")
    result = {
        "op": "write_exact_dedup_gated",
        "sf_dir": sf_dir,
        "rows": n_rows,
        "volumes": [],
    }
    try:
        for n_files in SPLITS:
            src = os.path.join(work, f"src_{n_files}")
            for part in range(n_files):
                d.filter(F.col("doc_id") % n_files == part).coalesce(
                    1
                ).write.mode("append").parquet(src)
            row = {"batches": n_files, "rows_per_batch": round(n_rows / n_files)}
            # two arms per volume: the plain gate (probes the corpus
            # every batch past the first) and the bloom-prefiltered gate
            # (all-new rows are bloom-negative, so batches 2..n skip the
            # corpus read outright — the dominant ingestion shape)
            for arm, kw in (("plain", {}), ("bloom", {"bloom_prefilter": True})):
                corpus = os.path.join(work, f"corpus_{n_files}_{arm}")
                ck = os.path.join(work, f"ck_{n_files}_{arm}")
                t0 = time.perf_counter()
                q = (
                    sp.write_exact_dedup_gated(
                        spark.readStream.schema(d.schema)
                        .option("maxFilesPerTrigger", 1)
                        .parquet(src),
                        corpus, **kw,
                    )
                    .option("checkpointLocation", ck)
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                wall = time.perf_counter() - t0
                row[f"{arm}_wall_sec"] = round(wall, 3)
                row[f"{arm}_rows_per_sec"] = round(n_rows / wall, 1)
            result["volumes"].append(row)
        small = result["volumes"][0]["plain_rows_per_sec"]
        big = result["volumes"][-1]["plain_rows_per_sec"]
        result["big_over_small_throughput"] = round(big / small, 2)
        result["bloom_over_plain_at_smallest"] = round(
            result["volumes"][0]["bloom_rows_per_sec"]
            / result["volumes"][0]["plain_rows_per_sec"], 2,
        )

        # Phase 2 — the shape the prefilter exists for: a corpus that
        # DWARFS the batch. Seed 500k rows (10 further distinct copies),
        # then stream 10 all-new 5k-doc batches through both arms: the
        # plain gate probes the big corpus every batch; the bloom arm
        # backfills once and never opens it again.
        from akkastreamprocessnpmpackagedependencies_spark.functions.text import (
            norm_expr,
        )
        from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
            EXACT_DEDUP_BUCKETS,
        )

        base5k = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        seed_parts = [
            base5k.select(
                (F.col("doc_id") + 10_000_000 + 100_000 * k).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" #s{k}")).alias("text"),
            )
            for k in range(100)
        ]
        seed = seed_parts[0]
        for p in seed_parts[1:]:
            seed = seed.unionByName(p)
        seed = (
            seed.withColumn(
                "digest",
                F.sha2(F.coalesce(norm_expr(F.col("text")), F.lit("")), 256),
            )
            .withColumn(
                "dig_bucket",
                F.pmod(F.xxhash64("digest"), F.lit(EXACT_DEDUP_BUCKETS)),
            )
            .localCheckpoint()
        )
        n_seed = seed.count()
        new_src = os.path.join(work, "seeded_src")
        for k in range(10):
            base5k.select(
                (F.col("doc_id") + 50_000_000 + 100_000 * k).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" #n{k}")).alias("text"),
            ).coalesce(1).write.mode("append").parquet(new_src)
        seeded = {"corpus_rows": n_seed, "batches": 10, "rows_per_batch": 5000}
        # three arms (round 12): the plain gate; the prefilter at the
        # DEFAULT 2^20 bits, which 500k keys saturate (fill ~0.85, FPR
        # ~0.52 — half the all-new rows read maybe-seen and still probe;
        # the round-12 saturation warning fires here by design); and the
        # prefilter SIZED for the corpus via bloom_bits_for (~10
        # bits/key -> 2^23, FPR ~1%), the configuration the docstring
        # actually recommends for a corpus this size
        arms = (
            ("plain", {}),
            ("bloom_default_bits", {"bloom_prefilter": True}),
            ("bloom_sized", {"bloom_prefilter": True,
                             "bloom_bits": sp.bloom_bits_for(n_seed)}),
        )
        for arm, kw in arms:
            corpus = os.path.join(work, f"seeded_corpus_{arm}")
            seed.write.partitionBy("dig_bucket").parquet(corpus)
            ck = os.path.join(work, f"seeded_ck_{arm}")
            t0 = time.perf_counter()
            q = (
                sp.write_exact_dedup_gated(
                    spark.readStream.schema(base5k.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(new_src),
                    corpus, **kw,
                )
                .option("checkpointLocation", ck)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            wall = time.perf_counter() - t0
            seeded[f"{arm}_wall_sec"] = round(wall, 3)
            seeded[f"{arm}_rows_per_sec"] = round(50_000 / wall, 1)
        seeded["bloom_default_over_plain"] = round(
            seeded["bloom_default_bits_rows_per_sec"]
            / seeded["plain_rows_per_sec"], 2
        )
        seeded["bloom_sized_over_plain"] = round(
            seeded["bloom_sized_rows_per_sec"]
            / seeded["plain_rows_per_sec"], 2
        )
        result["seeded_corpus"] = seeded
        with open(out_json, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
