"""Regenerate PLANS.md: the formatted physical plan of each headline
query at sf0.01, as reviewable evidence that the plans have the shapes the
scale design claims (pushdown, broadcast, partial agg, TakeOrdered).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

SHOWCASE = [
    ("npm_dependency_counts", "flagship: fixture join -> name exchange -> from_json -> explode -> agg -> one-partition sort"),
    ("pricing_summary", "filtered scan + hash agg; filter/pruning pushed to parquet"),
    ("supplier_volume_by_nation", "dim joins broadcast; fact never shuffles for dims"),
    ("local_supplier_revenue", "six-table join: 3 broadcasts + one fact-fact shuffle"),
    ("top_unshipped_orders", "semi join + broadcast + TakeOrdered top-k"),
    ("skew_salted_join", "fact-fact join via explicit salting"),
    ("top_orders_per_customer", "window rank partitioned on the join key"),
    ("minhash_lsh_neardup", "shingle -> signature -> band equi-join -> verify"),
    ("cosine_topk_ivf", "IVF ANN: broadcast centroids, probe-cell join"),
    ("neardup_clusters", "alternating large-star/small-star connected components (per-round plan)"),
    ("events_value_rolling_1h", "time-RANGE window frame"),
    ("events_hourly_gapfill", "spine generation + gap-fill + carry-forward"),
    ("topk_per_customer_agg", "per-group top-k via bounded array agg (no window sort)"),
    ("nation_market_share", "Q8 shape: four broadcast dims, two fact shuffles, ratio agg"),
    ("late_shipment_suppliers", "Q21 shape: key-only derived sets + two semi joins"),
    ("chargram_jaccard_pairs", "banded LSH + hashed-shingle int-array verify"),
    ("embedding_neardup_pairs", "quantizer-cell blocking + grouped applyInPandas verify"),
    ("contamination_ngram_hits", "broadcast probe grams, one corpus pass"),
    ("quality_filter_composite", "pure column-expression quality gates, single scan"),
    ("pack_sequences", "distributed two-pass prefix sum; sharded window, offsets broadcast"),
    ("tfidf_top_terms_per_doc", "tf agg -> df re-agg join (AQE-broadcast) -> per-doc top-k"),
    ("approx_sketches_exact", "exact twin of the sketch query: distinct counts + discrete percentiles"),
    ("kmeans_assignments", "final Lloyd assignment (broadcast argmin against checkpointed centroids)"),
    ("multimodal_decode_real", "real PPM decode through Arrow-batched mapInPandas"),
    ("multimodal_decode_webp", "VP8L WebP encode+decode fused in one Arrow-batched pass"),
    ("min_cost_supplier", "Q2 shape: correlated MIN as window-min — single fact scan"),
    ("containment_prefix_pairs", "PPJoin prefix filter: rarest-shingle index equi-join -> exact containment verify"),
    ("neardup_source_matrix", "LSH pair rollup to an unordered source-pair matrix"),
    ("dedup_incremental", "corpus-vs-delta banded LSH: cost scales with the delta"),
    ("token_rarity_scores", "df-weighted rarity stats: explode -> vocab agg -> term join -> doc agg"),
    ("bm25_topk_docs", "BM25: term filter before tf agg, broadcast df/stats, TakeOrdered top-k"),
    ("duplicate_ngram_overlap", "cross-doc dup signal: gram-count agg -> gram join -> doc agg"),
    ("dataset_split_assign", "hash-deterministic split: row-local expression, zero exchanges"),
    ("events_funnel_conversion", "cascaded min-ts stage aggregates, one user_id partitioning"),
    ("events_retention_cohorts", "first-week x active-week join on user_id, small cohort agg"),
    ("embedding_covariance", "oracle-exact covariance: posexplode -> mean join -> vec_id self-join"),
    ("embedding_pca_project", "partial-Gram mapInPandas -> driver eigh -> broadcast projection"),
    ("dq_expectations", "DQ audit: stack()-unpivoted single-scan row rules + FK probes"),
    ("npm_dependency_pagerank", "damped power iteration: per-round dst agg, broadcast mass frames"),
    ("snapshot_diff", "CDC diff: one full-outer key join, row-local classification"),
    ("corpus_pipeline_verdicts", "full corpus-prep composition: 4 doc_id joins over audited stages"),
    ("scd2_user_tiers", "SCD2 interval build: two windows + agg + lead on ONE user_id exchange"),
    ("asof_cogroup_pandas", "as-of via cogroup applyInPandas (the per-key pandas escape hatch)"),
    ("npm_transitive_deps", "bounded min-hop closure: per-round frontier equi-join + distinct"),
    ("session_concurrency_hourly", "join-free interval analytics: covering-hour explode + hash agg"),
    ("session_overlap_pairs", "interval self-join via hour-bucket equi-join + first-bucket dedupe"),
    ("equi_depth_deciles", "distributed exact global rank: lazy broadcast min/max bucket bounds + offset prefix sum"),
    ("source_mixing_weights", "temperature mixing weights: one scan, tiny-frame normalizing window"),
    ("length_weighted_sample", "weighted Bernoulli sample: integer hash threshold, zero exchanges"),
    ("zorder_bucket_profile", "Morton-curve layout profile: row-local integer key + hash agg"),
    ("key_skew_profile", "skew diagnostic: two partial-aggregatable stages, 1-row reduce"),
    ("dataset_shuffle_order", "seeded epoch shuffle: bucketed global rank on uniform hash key"),
    ("multimodal_decode_audio", "real WAV decode: wave-module parse in Arrow-batched mapInPandas"),
    ("events_mad_outliers", "robust MAD fences: three partial-agg passes, broadcast scalar frames"),
    ("pca_project_fixed_basis", "recorded-basis projection: committed literals, one Arrow-batched pass"),
    ("pii_redact", "regexp redaction chain: row-local codegen, zero exchanges, sha-pinned output"),
    ("chunk_documents", "overlapping token chunking: generate+explode, zero exchanges"),
    ("bigram_lm_probs", "bigram LM stats: partial-agg counts, exact two-phase salted top-K"),
    ("corpus_budget_select", "token-budget selection: ckpt'd scores, bucketed distributed prefix sum"),
    ("join_strategy_advisor", "join pre-flight: per-edge 1-row dim-size + ceil-skew reductions, O(edges) output"),
]

PREAMBLE_NOTES = """\
## Bench methodology

`bench.py` reports the MEDIAN of 3 timed runs per query after one full
unmeasured warmup pass, and the timed span includes query CONSTRUCTION
(eager builders — the LSH family localCheckpoints its verified pairs so
the signature cache can be released — are charged). One-shot timings of
byte-identical code swung 2-3x from JIT/GC scheduling in the single-JVM
loop; the median of 3 removes that class, so deltas that remain are
real. Two costs are charged on purpose:

- iterative queries (`kmeans_clusters`, `kmeans_assignments`,
  `neardup_clusters`, `npm_dependency_pagerank`, `npm_transitive_deps`)
  run their iterations and eager checkpoints inside the timed span: the
  price of bounded lineage at any iteration count (tests/test_plans.py
  proves the plan stays flat at raised constants);
- each LSH/simhash query releases its persisted signature frames
  (asserted empty in tests/test_llm_ops.py), so it pays its own full
  cost: Spark's cache manager matches plan FRAGMENTS, and a leaked frame
  would let every later family query reuse it.

Each measured pass visits the suite in a different seeded-shuffled
order, so session interference hits different queries each pass.
BENCH_FULL.json records per-query [min, median, max] spread, and the
stdout line is trimmed to fit a ~2000-char capture tail (totals +
flagship + slowest queries; the full map stays in BENCH_FULL.json).
`tools/bench_compare.py` divides new timings by the ratio of a
calibration micro-workload (deterministic in-memory agg + one shuffle,
no parquet; CAL_RUNS samples bracketing the measured passes), because
between-session ambient shifts move every query uniformly, and
suppresses a delta only when the normalized new MEDIAN lies inside the
old band. BENCH_FULL also carries a "streaming" section — rows/s and
per-micro-batch latency spread for the stateful/windowed operators over
time-sliced sf event files — compared with the inverse normalization
(rows/s scales inversely with session slowness).

The real-codec decode queries (`multimodal_decode_real/_png/_jpeg/
_webp/_audio`) show `Exchange RoundRobinPartitioning` under the
MapInPandas at sf0.01/sf0.1: `_widen_for_cpu` repartitions to
defaultParallelism only when the parquet scan yields fewer splits than
cores (the sf0.1 documents table is one 594 KB file, so one split). The
shuffled payload is the two projected columns, cheap next to per-row
codec CPU. At production scale the scan has >= cores splits, the
condition is false, and the plan is the shuffle-free scan->MapInPandas
(payloads never leave the scanning executor). The fake-codec queries
(features, frame_sample) stay unwidened by design.

## Semantics notes

- `chargram_jaccard_pairs` computes jaccard over 32-bit md5-derived
  HASHED shingle sets, not the grams themselves (the verify stage
  shuffles ~4-byte ints instead of strings). A cross-doc hash collision
  (~1e-5/doc) can flip a borderline pair vs true gram jaccard; the
  DuckDB oracle hashes identically, so parity is exact and lockstep.
"""


def main() -> None:
    import __spark_entry__ as entrymod
    import akkastreamprocessnpmpackagedependencies_spark.session as sess
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    # bypass checkpoints during plan capture: a localCheckpoint (eager or
    # lazy) collapses everything beneath it to "Scan ExistingRDD" in
    # explain output, hiding exactly the shapes this file exists to show
    # (the banded-LSH join, the incremental-dedup delta asymmetry, ...)
    sess.CHECKPOINT_ENABLED = False

    spark = get_spark("plans", shuffle_partitions=8)
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of showcase queries (sf0.01)",
        "",
        "Regenerate with `python tools/dump_plans.py`. What to look for:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dimension joins, `partial_` aggregates before",
        "every exchange (map-side combine), `TakeOrderedAndProject` for top-k,",
        "codegen stage markers `(n)` fusing narrow chains.",
        "",
        PREAMBLE_NOTES,
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        tree, _, details = plan.partition("\n\n(1) ")
        # keep the operator tree plus every scan's pushdown/pruning details
        scans = [
            blk
            for blk in ("(1) " + details).split("\n\n")
            if blk.strip() and "Scan parquet" in blk.splitlines()[0]
        ] if details else []
        tree_lines = tree.rstrip().splitlines()
        if len(tree_lines) > 120:  # iterative plans repeat per round; the head shows the shape
            tree_lines = tree_lines[:120] + [f"... [{len(tree_lines) - 120} more lines]"]
        body = "\n".join(tree_lines) + ("\n\n" + "\n\n".join(scans[:4]) if scans else "")
        out.append(f"## {name}\n\n{why}\n\n```\n{body}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
