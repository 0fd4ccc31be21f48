"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (round-4 rework, after round 3's unexplained 2-3x drifts on
byte-identical queries; round-7 de-noise, after rounds 5 AND 6 each
burned audit time on phantom >25% swings in untouched code):
- the whole suite runs once unmeasured first — JVM/codegen compilation,
  Python-worker pool spin-up and file-index caches land there;
- the suite is then timed MEASURE_RUNS times, each full pass visiting
  the queries in a DIFFERENT seeded-shuffled order — so same-session
  interference (a GC pause, an executor-pool respawn, another query's
  cache spill) hits different neighbors each pass instead of the same
  victim three times;
- each query reports the MEDIAN of its samples, and BENCH_FULL.json
  additionally records the per-query [min, median, max] spread so
  tools/bench_compare.py can flag only deltas that exceed the measured
  noise band instead of any 1.5x median wiggle;
- the timed span covers query CONSTRUCTION + execution (t0 before the
  builder call), so operators that materialize eagerly inside the builder
  (the LSH family localCheckpoints its verified pairs to release the
  signature cache) are fully charged.

Each query executes via the noop sink (count() would let Catalyst prune
unaggregated projections).

The JSON carries a "notes" field for expected-warning context: the
WindowExec single-partition warning in the log tail comes from
pack_sequences' per-shard offsets frame (one row per shard BY DESIGN —
quality.py pack_token_counts, plan-tested as sharded-not-global); it is
left visible so real unpartitioned-window regressions aren't masked.

Baseline context (BASELINE.md): the reference is throttle-bound at 1
package / 3 s (>= 57 s for its 20-package input) on a single thread; the
hermetic flagship here is compute-bound and embarrassingly parallel.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MEASURE_RUNS = 3
CAL_RUNS = 5

# HEADLINE queries whose runtime is dominated by Python workers
# (mapInPandas / applyInPandas / pandas_udf / UDTF) rather than JVM
# execution. tools/bench_compare.py normalizes these by the PYWORKER
# calibration below instead of the JVM session calibration — round-11's
# phantom uniform ~1.2x came from the JVM-only calibration running
# 0.83x faster in a session where python-worker time did not move, so
# the single divisor over-corrected every python-heavy query (round-12
# verdict #2). Derived by scanning each query's source for python-worker
# entry points; re-derive when adding HEADLINE members.
PYWORKER_QUERIES = frozenset({
    "asof_cogroup_pandas",
    "embedding_pca_project",
    "grouped_median_pandas",
    "multimodal_decode_audio",
    "multimodal_decode_features",
    "multimodal_decode_jpeg",
    "multimodal_decode_png",
    "multimodal_decode_real",
    "multimodal_decode_vp8",
    "multimodal_decode_webp",
    "multimodal_frame_sample",
    "pca_project_fixed_basis",
    "udtf_sentences",
})


def calibration_pyworker_once(spark) -> float:
    """One timed pass of the PYTHON-WORKER calibration twin: a fixed
    Arrow-batched mapInPandas workload (splitmix-style integer mixing
    over 2M ids, identical bytes every session) whose runtime measures
    the python-worker machinery — worker pool dispatch, Arrow transfer,
    numpy throughput — that the JVM session calibration cannot see.
    tools/bench_compare.py divides PYWORKER_QUERIES timings by the
    old/new ratio of THIS number, so a session where only the JVM side
    sped up (round 11: JVM cal 0.83x, python flat) stops phantom-
    flagging every decode/pandas query."""

    def _mix(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            x = pdf["id"].to_numpy(dtype=np.uint64).copy()
            for _ in range(16):
                x ^= x >> np.uint64(33)
                x *= np.uint64(0xFF51AFD7ED558CCD)
                x ^= x >> np.uint64(29)
            yield pd.DataFrame(
                {"h": [int(x.sum() & np.uint64(0x7FFFFFFFFFFFFFFF))]}
            )

    t0 = time.perf_counter()
    (
        spark.range(0, 2_000_000, 1, 32)
        .mapInPandas(_mix, "h long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def calibration_once(spark) -> float:
    """One timed pass of the fixed calibration micro-workload: a
    deterministic in-memory aggregate with exactly one shuffle and no
    parquet, identical bytes every session. Its runtime measures the
    SESSION (JVM state, CPU contention, thermal/host noise), never the
    code under test — tools/bench_compare.py divides per-query medians
    by the old/new calibration ratio so a uniformly slow session (round
    7 ran 1.66x slower than round 6 on untouched code) stops flagging
    every query (round-7 verdict item #2)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 4_000_000, 1, 32)
        .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS v")
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.avg("v").alias("a"),
            F.max("v").alias("mx"),
        )
        .orderBy("k")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0

HEADLINE = [
    "npm_dependency_counts",
    "pricing_summary",
    "forecast_revenue",
    "top_unshipped_orders",
    "supplier_volume_by_nation",
    "local_supplier_revenue",
    "returned_item_customers",
    "priority_with_returns",
    "top_orders_per_customer",
    "running_quantity_by_supplier",
    "skew_salted_join",
    "promo_revenue_ratio",
    "stats_moments",
    "window_rank_variants",
    "events_tumbling_1h",
    "events_sessionize",
    "events_value_rolling_1h",
    "events_hourly_gapfill",
    "asof_purchase_signup",
    "json_funcs",
    "dedup_exact_hash",
    "minhash_lsh_neardup",
    "neardup_clusters",
    "cosine_topk_ivf",
    "simhash_fingerprints",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "embedding_centroids",
    "text_quality_scores",
    "text_normalize",
    "doc_fingerprints",
    "udtf_sentences",
    "grouped_median_pandas",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    # round-3 additions: the heaviest text/dedup/clustering ops
    "chargram_jaccard_pairs",
    "simhash_candidate_pairs",
    "contamination_ngram_hits",
    "pii_scan",
    "vocab_top_terms",
    "kmeans_clusters",
    # round-3 additions: TPC-H gap shapes
    "small_qty_part_revenue",
    "large_volume_customers",
    "bracket_revenue",
    "nation_market_share",
    "product_profit_by_nation_year",
    "late_shipment_suppliers",
    # round-3 additions: corpus-quality surface
    "repetition_signals",
    "top_bigram_share",
    "quality_filter_composite",
    "fuzzy_dedup_keep_one",
    "semdedup_keep_one",
    "embedding_quantize_int8",
    "pack_sequences",
    "tfidf_top_terms_per_doc",
    "npm_reverse_dependency_counts",
    # round-4 additions: oracle-green twins + executable decode
    "approx_sketches_exact",
    "kmeans_assignments",
    "multimodal_decode_real",
    # round-4 additions: TPC-H gap shapes + incremental dedup
    "min_cost_supplier",
    "nation_pair_trade",
    "part_value_concentration",
    "shipping_delay_priority",
    "part_supplier_variety",
    "dominant_part_suppliers",
    "dedup_incremental",
    "token_rarity_scores",
    # round-4 late additions: retrieval, duplication signal, split, funnels
    "bm25_topk_docs",
    "duplicate_ngram_overlap",
    "dataset_split_assign",
    "events_funnel_conversion",
    "events_retention_cohorts",
    "embedding_covariance",
    "embedding_pca_project",
    "dq_expectations",
    "npm_dependency_pagerank",
    "snapshot_diff",
    "corpus_pipeline_verdicts",
    "asof_cogroup_pandas",
    "scd2_user_tiers",
    # round-4 final additions: graph closure, interval analytics,
    # distributed global rank
    "npm_transitive_deps",
    "session_concurrency_hourly",
    "session_overlap_pairs",
    "equi_depth_deciles",
    "source_mixing_weights",
    "length_weighted_sample",
    "zorder_bucket_profile",
    "key_skew_profile",
    "dataset_shuffle_order",
    "multimodal_decode_audio",
    "events_mad_outliers",
    # round-5 addition: the fixed-basis projection green twin
    "pca_project_fixed_basis",
    # round-5 additions: training-pipeline ops (redaction, chunking,
    # bigram LM stats, token-budget selection)
    "pii_redact",
    "chunk_documents",
    "bigram_lm_probs",
    "corpus_budget_select",
    # round-7 additions: the seven queries registered in round 6 (PQ
    # compression + ADC scoring, recall eval, perplexity, split audit,
    # compressed-container decodes) — a user asking "how fast is PQ/ADC
    # or JPEG decode at sf0.1" now has a number (round-6 verdict item #5)
    "ann_recall_eval",
    "embedding_pq_codes",
    "pq_adc_topk",
    "doc_perplexity_bigram",
    "split_leakage_audit",
    "multimodal_decode_png",
    "multimodal_decode_jpeg",
    # round-8 addition: the VP8L WebP decode (three bitstream shapes)
    "multimodal_decode_webp",
    # round-15 additions (staged in round 14): prefix-filtered
    # containment join + near-dup source matrix
    "containment_prefix_pairs",
    "neardup_source_matrix",
    # round-16 addition (round-15 verdict item 3): the lossy-VP8
    # conformance decode, so the full decode family's cost is tracked
    "multimodal_decode_vp8",
    # round-16 addition (verdict item 4): the join-strategy advisor
    "join_strategy_advisor",
]


# Streaming surface: each stateful/windowed operator timed over the sf
# events fixture, sliced into time-ordered files so several micro-batches
# run. Each op runs STREAM_PASSES full passes and reports the median:
# single-pass rows/s swung both ways on untouched ops (three quiet passes
# of one build spread stateful_user_counts over 11k-32k rows/s), and the
# recorded [min, median, max] rows_per_sec_band lets
# tools/bench_compare.py suppress cross-session swings the way the batch
# side's spread bands already do.
STREAM_N_FILES = 6
STREAM_FILES_PER_TRIGGER = 2
STREAM_PASSES = 3
STREAMING_OPS = [
    ("stateful_user_counts", "update"),
    ("streaming_heavy_hitters", "update"),
    ("streaming_quantiles_gk", "update"),
    ("streaming_quantiles_gk_summary", "append"),
    ("streaming_distinct_hll", "update"),
    ("streaming_freq_cms", "update"),
    ("streaming_reservoir_sample", "update"),
    ("streaming_seen_bloom", "update"),
    ("streaming_value_anomalies", "append"),
    ("sessionize_with_expiry", "append"),
    ("dedup_within_watermark", "append"),
    ("tumbling_counts", "append"),
]


def reduce_stream_passes(passes: list[dict]) -> dict:
    """Median-of-passes reduction for the streaming surface: for each
    op, keep the single-pass record whose rows/s is (closest to) the
    cross-pass median, and annotate it with the [min, median, max]
    ``rows_per_sec_band`` plus the pass count. The representative is a
    REAL pass (its rows/batches/batch_ms stay internally consistent),
    not a synthetic average."""
    out: dict[str, dict] = {}
    for op in passes[0]:
        recs = [p[op] for p in passes if op in p]
        rates = sorted((r.get("rows_per_sec") or 0) for r in recs)
        med = statistics.median(rates)
        rep = dict(min(recs, key=lambda r: abs((r.get("rows_per_sec") or 0) - med)))
        rep["rows_per_sec_band"] = [rates[0], round(med), rates[-1]]
        rep["passes"] = len(recs)
        out[op] = rep
    return out


def _progress_stats(query) -> tuple[int, int, list[float]]:
    """(input rows, batches with data, per-batch triggerExecution ms) from
    a drained query's recentProgress."""
    rows, batches, durs = 0, 0, []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        n = int(d.get("numInputRows", 0))
        if n <= 0:
            continue  # idle/no-data triggers measure nothing
        rows += n
        batches += 1
        durs.append(float(d["durationMs"]["triggerExecution"]))
    return rows, batches, durs


def bench_streaming(spark, sf_dir: str) -> dict:
    """Throughput/latency numbers for the streaming operators: rows/s over
    the whole run plus the per-micro-batch duration spread. Uses the noop
    sink (no memory-sink accumulation skewing the measurement) and
    AvailableNow-style draining via processAllAvailable.

    Round 15: STREAM_PASSES full passes per op, reduced to the median
    pass per ``reduce_stream_passes`` — the shared inputs (sliced event
    files, sliced documents, benchmark grams) are built ONCE and read-
    only; every checkpoint/output path is scoped to its pass directory
    so each pass does identical work on fresh state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events, load_table
    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        # time-sliced event files -> STREAM_N_FILES micro-batch inputs,
        # strictly increasing mtimes so file order == event-time order
        # (single-partition ntile window is setup, not measured); ts goes
        # back to raw ns longs, the encoding read_events_stream expects
        ev = load_events(spark, sf_dir)
        bounds = ev.select(
            F.ntile(STREAM_N_FILES).over(Window.orderBy("ts")).alias("slice"), "*"
        )
        src = os.path.join(work, "events_src")
        for i in range(1, STREAM_N_FILES + 1):
            (
                bounds.filter(F.col("slice") == i)
                .drop("slice")
                .withColumn("ts", F.unix_micros("ts") * 1000)
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            time.sleep(0.05)
        # sliced documents for the gate sinks (shared, read-only)
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs_src = os.path.join(work, "docs_src")
        for part in range(3):
            (
                d.filter(F.col("doc_id") % 3 == part)
                .coalesce(1)
                .write.mode("append")
                .parquet(docs_src)
            )
        # benchmark n-grams for the decon gate (shared, read-only)
        bench_grams = os.path.join(work, "dc_bench")
        sp.write_benchmark_grams(
            spark,
            d.filter(F.col("doc_id") < 50),
            bench_grams,
            n=5,
        )

        def one_pass(pdir: str) -> dict:
            out: dict[str, dict] = {}

            def record(name: str, q, t0: float) -> None:
                q.processAllAvailable()
                wall = time.perf_counter() - t0
                rows, batches, durs = _progress_stats(q)
                q.stop()
                durs.sort()
                out[name] = {
                    "rows": rows,
                    "wall_sec": round(wall, 3),
                    "rows_per_sec": round(rows / wall) if wall > 0 else None,
                    "batches": batches,
                    "batch_ms": [
                        round(durs[0]),
                        round(statistics.median(durs)),
                        round(durs[-1]),
                    ]
                    if durs
                    else [],
                }

            def run(name: str, df, mode: str) -> None:
                ck = os.path.join(pdir, f"ck_{name}")
                t0 = time.perf_counter()
                q = (
                    df.writeStream.format("noop")
                    .outputMode(mode)
                    .option("checkpointLocation", ck)
                    .start()
                )
                record(name, q, t0)

            for name, mode in STREAMING_OPS:
                stream = sp.read_events_stream(
                    spark, src, max_files=STREAM_FILES_PER_TRIGGER
                )
                run(name, getattr(sp, name)(stream), mode)

            # live global-quantiles pipeline: summary stream -> foreachBatch
            # GK merge -> parquet time series (its own writer)
            stream = sp.read_events_stream(spark, src, max_files=STREAM_FILES_PER_TRIGGER)
            t0 = time.perf_counter()
            q = (
                sp.write_global_quantiles(
                    sp.streaming_quantiles_gk_summary(stream),
                    os.path.join(pdir, "gq_out"),
                )
                .option("checkpointLocation", os.path.join(pdir, "gq_ck"))
                .start()
            )
            record("write_global_quantiles", q, t0)

            # live global-reservoir pipeline (round 14): sample stream ->
            # foreachBatch top-k-of-union merge -> parquet time series
            stream = sp.read_events_stream(spark, src, max_files=STREAM_FILES_PER_TRIGGER)
            t0 = time.perf_counter()
            q = (
                sp.write_global_reservoir(
                    sp.streaming_reservoir_sample(stream),
                    os.path.join(pdir, "gr_out"),
                )
                .option("checkpointLocation", os.path.join(pdir, "gr_ck"))
                .start()
            )
            record("write_global_reservoir", q, t0)

            # dedup-gated ingestion streams DOCUMENTS (LSH check per batch via
            # foreachBatch, so it's started from its own writer)
            corpus = os.path.join(pdir, "dg_corpus")
            t0 = time.perf_counter()
            q = (
                sp.write_dedup_gated(
                    spark.readStream.schema(d.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_src),
                    corpus,
                )
                .option("checkpointLocation", os.path.join(pdir, "dg_ck"))
                .start()
            )
            record("write_dedup_gated", q, t0)

            # exact-dedup gate over the same sliced documents (digest gate,
            # self-indexing digest-bucket-partitioned corpus)
            ecorpus = os.path.join(pdir, "eg_corpus")
            t0 = time.perf_counter()
            q = (
                sp.write_exact_dedup_gated(
                    spark.readStream.schema(d.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_src),
                    ecorpus,
                )
                .option("checkpointLocation", os.path.join(pdir, "eg_ck"))
                .start()
            )
            record("write_exact_dedup_gated", q, t0)

            # the bloom-prefiltered variant of the same gate: at this
            # batch-sized corpus the adaptive skip keeps it within ~1.2x of
            # plain (measured over 5,000 docs in 10 batches; the residual
            # is the fold+persist the crash ordering needs;
            # tools/gate_arm.py arms plain and bloom reproduce it). Timing
            # it here catches overhead creep in the prefilter machinery
            bcorpus = os.path.join(pdir, "egb_corpus")
            t0 = time.perf_counter()
            q = (
                sp.write_exact_dedup_gated(
                    spark.readStream.schema(d.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_src),
                    bcorpus,
                    bloom_prefilter=True,
                )
                .option("checkpointLocation", os.path.join(pdir, "egb_ck"))
                .start()
            )
            record("write_exact_dedup_gated_bloom", q, t0)

            # decontamination gate (round 13, joining its sibling gates in
            # the regression record): benchmark n-grams from a small doc
            # subset, ALL docs streamed through the static-Bloom prescreen —
            # the benchmark docs themselves ride along as full-copy
            # contamination, so every batch exercises prescreen + exact
            # confirm + quarantine, the worst-case (contaminated) path; the
            # suspect-free economics live in BENCH_decon_volume.json
            dcorpus = os.path.join(pdir, "dc_out")
            t0 = time.perf_counter()
            q = (
                sp.write_decontaminated(
                    spark.readStream.schema(d.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_src),
                    bench_grams, dcorpus,
                )
                .option("checkpointLocation", os.path.join(pdir, "dc_ck"))
                .start()
            )
            record("write_decontaminated", q, t0)
            return out

        passes = []
        for i in range(STREAM_PASSES):
            pdir = os.path.join(work, f"pass{i}")
            os.makedirs(pdir, exist_ok=True)
            passes.append(one_pass(pdir))
            # reclaim pass state immediately: gate corpora/checkpoints are
            # per-pass throwaways and three retained passes triple the
            # scratch footprint for nothing
            shutil.rmtree(pdir, ignore_errors=True)
        result = reduce_stream_passes(passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


KERNEL_RUNS = 3


def _kernel_calibration_once() -> float:
    """One timed pass of a fixed PURE-NUMPY micro-workload (sort +
    searchsorted + cumsum on deterministic arrays, identical bytes every
    session) — the kernel section's twin of ``calibration_once``: the
    streaming-sketch kernels never enter the JVM, so the Spark
    calibration can't normalize them; this measures the host's raw
    numpy/CPU speed instead."""
    import numpy as np

    t0 = time.perf_counter()
    x = ((np.arange(2_000_000, dtype=np.int64) * 2654435761) % 1000003).astype(
        np.float64
    )
    xs = np.sort(x)
    pos = np.searchsorted(xs, x[:200_000])
    acc = float(np.cumsum(xs)[-1]) + int(pos.sum())
    assert acc != 0.0
    return time.perf_counter() - t0


def bench_kernels() -> dict:
    """Pure-Python rows/s for the streaming-sketch kernels, NO Spark in
    the loop (round-9 verdict #3): at sf0.1 every stateful streaming op
    is micro-batch-overhead-bound (~1 s/batch floor), so a kernel-level
    win or regression — e.g. the round-9 GK bulk-insert rewrite's 3.5x —
    is invisible in the streaming section. Each kernel consumes a
    deterministic synthetic stream in micro-batch-sized chunks, state
    re-initialized per pass; the median of KERNEL_RUNS passes is
    reported, normalized round-over-round by tools/bench_compare.py
    against ``calibration_sec`` (the numpy twin of the session
    calibration)."""
    import numpy as np
    import pandas as pd

    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        BLOOM_BITS,
        CMS_DEPTH,
        CMS_W_BITS,
        RSV_CAPACITY,
        _bloom_query,
        _bloom_update,
        _rsv_update,
        GK_EPS,
        _cms_query,
        _cms_update,
        _gk_insert_batch,
        _hll_estimate,
        _hll_update,
        _mg_merge,
        _welford_batch,
        HLL_B,
    )

    _kernel_calibration_once()  # warm numpy (first-call import/alloc cost)
    cal = [_kernel_calibration_once() for _ in range(CAL_RUNS)]

    # deterministic synthetic streams (fixed seed; the kernels are
    # distribution-sensitive, so the same bytes must flow every session)
    rng = np.random.default_rng(20261015)
    gk_vals = rng.permutation(np.arange(1_000_000, dtype=np.float64))
    mg_keys = ((rng.integers(0, 1 << 30, 1_000_000) ** 2) % 10_007).astype(np.int64)
    wf_vals = 1e6 + rng.standard_normal(1_000_000) * 1e-3  # offset-dominated
    hll_ids = rng.integers(0, 600_000, 2_000_000).astype(np.int64)

    out: dict[str, dict] = {}

    def record(name: str, rows: int, passes: list[float]) -> None:
        med = statistics.median(passes)
        out[name] = {
            "rows": rows,
            "sec": [round(min(passes), 4), round(med, 4), round(max(passes), 4)],
            "rows_per_sec": round(rows / med) if med > 0 else None,
        }

    def timed(fn) -> list[float]:
        fn()  # warmup pass (codepath-local caches, branch predictors)
        ts = []
        for _ in range(KERNEL_RUNS):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return ts

    def gk_pass():
        tup: list = []
        n = 0
        for chunk in np.array_split(gk_vals, 10):
            tup = _gk_insert_batch(tup, n, pd.DataFrame({"value": chunk}), GK_EPS)
            n += chunk.size

    record("gk_insert", gk_vals.size, timed(gk_pass))

    def mg_pass():
        mg: dict = {}
        for chunk in np.array_split(mg_keys, 10):
            ks, ws = np.unique(chunk, return_counts=True)
            mg = _mg_merge(mg, zip(ks, ws), capacity=64)

    record("mg_merge", mg_keys.size, timed(mg_pass))

    def wf_pass():
        state = (0, 0.0, 0.0)
        for chunk in np.array_split(wf_vals, 10):
            *_, state = _welford_batch(*state, chunk, z=4.0, min_n=30)

    record("welford_batch", wf_vals.size, timed(wf_pass))

    def hll_pass():
        regs = np.zeros(1 << HLL_B, dtype=np.uint8)
        for chunk in np.array_split(hll_ids, 10):
            _hll_update(regs, chunk)
            _hll_estimate(regs)

    record("hll_update_estimate", hll_ids.size, timed(hll_pass))

    cms_probe = np.arange(0, 10_007, 13, dtype=np.int64)

    def cms_pass():
        tab = np.zeros((CMS_DEPTH, 1 << CMS_W_BITS), dtype=np.int64)
        for chunk in np.array_split(mg_keys, 10):
            _cms_update(tab, chunk)
            _cms_query(tab, cms_probe)

    record("cms_update_query", mg_keys.size, timed(cms_pass))

    def bloom_pass():
        bits = np.zeros(BLOOM_BITS >> 3, dtype=np.uint8)
        for chunk in np.array_split(mg_keys, 10):
            _bloom_update(bits, chunk)
            _bloom_query(bits, cms_probe)

    record("bloom_update_query", mg_keys.size, timed(bloom_pass))

    rsv_eids = rng.permutation(np.arange(1_000_000, dtype=np.int64)) * 3 + 1
    rsv_uids = (rsv_eids % 977).astype(np.int64)
    rsv_vals = np.ones(rsv_eids.size, dtype=np.float64)

    def rsv_pass():
        res = {}
        for sl in range(10):
            lo, hi = sl * 100_000, (sl + 1) * 100_000
            _rsv_update(res, rsv_eids[lo:hi], rsv_uids[lo:hi],
                        rsv_vals[lo:hi], RSV_CAPACITY, False)

    record("reservoir_update", rsv_eids.size, timed(rsv_pass))

    return {
        "calibration_sec": round(statistics.median(cal), 4),
        "calibration_samples": [round(c, 4) for c in cal],
        "runs_per_kernel": KERNEL_RUNS,
        "kernels": out,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import __spark_entry__ as entrymod
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()

    def run_once(name: str) -> float:
        # construction included: eager builders (localCheckpoint inside the
        # LSH family) must be charged, not hidden
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warmup pass (not measured): JVM/codegen compile, Python worker pool,
    # file-index caches
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in HEADLINE:
        run_once(name)

    # session calibration, bracketing the measured passes (start AND end,
    # so a mid-session slowdown shows up as start/end disagreement)
    calibration_once(spark)  # its own warmup
    cal_start = [calibration_once(spark) for _ in range(CAL_RUNS)]
    calibration_pyworker_once(spark)  # its own warmup (worker pool)
    pycal_start = [calibration_pyworker_once(spark) for _ in range(CAL_RUNS)]

    # measured passes: each full pass visits the suite in a different
    # seeded-shuffled order, so session interference (GC, pool respawn,
    # a neighbor's spill) can't hit the same query every pass — the
    # round-5/6 phantom-regression class
    import random

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for run in range(MEASURE_RUNS):
        order = list(HEADLINE)
        random.Random(2026 + run).shuffle(order)
        for name in order:
            samples[name].append(run_once(name))

    cal_end = [calibration_once(spark) for _ in range(CAL_RUNS)]
    pycal_end = [calibration_pyworker_once(spark) for _ in range(CAL_RUNS)]
    calibration = {
        "workload": "range(4e6,32p) modkey groupBy agg orderBy -> noop",
        "runs": CAL_RUNS,
        "start_median": round(statistics.median(cal_start), 4),
        "end_median": round(statistics.median(cal_end), 4),
        "median": round(statistics.median(cal_start + cal_end), 4),
        "samples": [round(x, 4) for x in cal_start + cal_end],
        # the python-worker twin (round-12 verdict #2): same bracket,
        # different machinery — normalizes PYWORKER_QUERIES
        "pyworker": {
            "workload": "range(2e6,32p) mapInPandas splitmix x16 -> noop",
            "runs": CAL_RUNS,
            "start_median": round(statistics.median(pycal_start), 4),
            "end_median": round(statistics.median(pycal_end), 4),
            "median": round(statistics.median(pycal_start + pycal_end), 4),
            "samples": [round(x, 4) for x in pycal_start + pycal_end],
        },
    }

    # streaming surface: outside the calibration bracket by design (it
    # measures different machinery; the bracket certifies the batch passes)
    streaming = bench_streaming(spark, sf_dir)

    # kernel surface: pure numpy/Python, no Spark — carries its own
    # numpy calibration (the Spark session calibration can't normalize
    # non-JVM work)
    kernels = bench_kernels()

    times = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    spread = {
        n: [round(min(s), 3), times[n], round(max(s), 3)]
        for n, s in samples.items()
    }
    total = round(sum(times.values()), 3)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "calibration": calibration,
        "pyworker_queries": sorted(PYWORKER_QUERIES & set(times)),
        "streaming": streaming,
        "kernels": kernels,
        "sf": sf,
        "runs_per_query": MEASURE_RUNS,
        "aggregation": "median",
        "order": "seeded shuffle per pass (random.Random(2026+run))",
        "coverage": (
            f"HEADLINE times {len(times)} of {len(qs)} registry queries; "
            f"the {len(qs) - len(times)} excluded are deliberately the "
            "sub-second scalar-function / set-operation / small-projection "
            "queries whose sf0.1 runtime is dominated by fixed query-launch "
            "overhead, not operator work — including them would add noise "
            "floor, not signal (round-8 verdict #6: this subset was "
            "previously undocumented)."
        ),
        "notes": (
            "WindowExec single-partition warnings in the log tail are "
            "the intended one-row-per-shard offsets window in "
            "pack_sequences (quality.py pack_token_counts); left "
            "unsuppressed so real unpartitioned-window regressions "
            "stay visible."
        ),
    }
    # Full result (spread + notes) goes to a committed artifact — the
    # durable record regardless of any output-capture window.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    line, n_kept = compact_line(
        times, total, sf, cal=calibration["median"],
        cal_py=calibration["pyworker"]["median"],
        py_tags=PYWORKER_QUERIES,
    )
    print(
        f"bench: stdout line {len(line)}B carries flagship + {n_kept - 1} "
        f"slowest of {len(times)} queries; full map in {full_path}",
        file=sys.stderr,
    )
    print(result["notes"], file=sys.stderr)
    print(line)


FLAGSHIP = "npm_dependency_counts"
LINE_BUDGET = 1800  # headroom under the measured 2000-char capture tail


def compact_line(
    times: dict[str, float],
    total: float,
    sf: float,
    budget: int = LINE_BUDGET,
    cal: float | None = None,
    cal_py: float | None = None,
    py_tags: frozenset | None = None,
) -> tuple[str, int]:
    """The ONE stdout JSON line, guaranteed to fit the driver's capture.

    The driver records only the last ~2000 chars of stdout (measured:
    BENCH_r06.json tail is exactly 2000 chars, so the 2861-char 96-query
    compact line of rounds 5-6 was decapitated -> parsed: null two
    rounds running). The line therefore carries totals + the flagship +
    the slowest queries — dropping the cheapest included query until it
    fits ``budget`` — with the full per-query map in BENCH_FULL.json
    (referenced by the ``queries_full`` field). Returns (line,
    n_queries_included).

    When ``py_tags`` is given, the line also carries ``pyworker_queries``
    — the tag list intersected with the queries the line kept — so a
    driver-captured artifact is self-describing for calibration-class
    normalization (round-13 verdict #4: tools/bench_compare.py otherwise
    backfills tags from the CURRENT checkout's bench.py, which misclassifies
    historical artifacts if the tag set ever changes). Intersecting with
    the kept queries keeps the field inside the budget loop: a dropped
    query needs no tag because it cannot be compared."""
    slowest = sorted(times, key=times.get, reverse=True)
    keep = ([FLAGSHIP] if FLAGSHIP in times else []) + [
        q for q in slowest if q != FLAGSHIP
    ]
    while True:
        compact = {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": {q: times[q] for q in keep},
            "n_queries": len(times),
            "queries_full": "BENCH_FULL.json",
            "sf": sf,
            "runs_per_query": MEASURE_RUNS,
            "aggregation": "median",
        }
        if cal is not None:
            compact["calibration"] = cal
        if cal_py is not None:
            compact["calibration_pyworker"] = cal_py
        if py_tags is not None:
            compact["pyworker_queries"] = sorted(py_tags & set(keep))
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= budget or len(keep) <= 1:
            return line, len(keep)
        keep.pop()


if __name__ == "__main__":
    main()
