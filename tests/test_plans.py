"""Physical-plan audits: assertions that the headline queries keep the
plan shape that survives a 100x scale-up — filters and projections pushed
into the parquet scan, dimension joins broadcast, aggregates partial
(map-side combine), top-k without a global sort. These are the properties
the DataFrame code buys over hand-wired dataflow (SURVEY.md §4); the tests
pin them so a refactor can't silently regress into a shuffle-heavy plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from akkastreamprocessnpmpackagedependencies_spark.operators import relational
from akkastreamprocessnpmpackagedependencies_spark.session import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(relational.pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan schema must not include unused wide columns
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read
    assert "l_quantity" in read


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    plan = _plan(relational.supplier_volume_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the fact table (lineitem) side must not hash-partition for a dim join
    assert plan.count("BroadcastExchange") >= 1


def test_aggregates_are_partial(spark, sf_dir):
    plan = _plan(relational.pricing_summary(spark, sf_dir))
    # partial_ aggregate before the exchange = map-side combine
    assert "partial_" in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(relational.top_orders_global(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_joins_plan_as_semi_anti(spark, sf_dir):
    plan = _plan(relational.customers_without_big_orders(spark, sf_dir))
    assert "LeftAnti" in plan or "LeftSemi" in plan


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir):
    df = relational.pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark operators inside a WholeStageCodegen span; both
    # the partial and final aggregate must be inside one
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


def test_scan_prunes_to_projection(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_returnflag").filter(
        F.col("l_returnflag") == "R"
    )
    plan = _plan(df)
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_returnflag" in read and "l_extendedprice" not in read
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """All three equi-join strategies are reachable: broadcast (default for
    small dims), shuffle-hash (no sort, good when one side is modest and
    skew-free), sort-merge (the large-large default)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    sh = _plan(o.join(c.hint("shuffle_hash"), "o_custkey"))
    assert "ShuffledHashJoin" in sh
    sm = _plan(o.join(c.hint("merge"), "o_custkey"))
    assert "SortMergeJoin" in sm
    bc = _plan(o.join(F.broadcast(c), "o_custkey"))
    assert "BroadcastHashJoin" in bc


def test_salted_join_distributes_on_composite_key(spark, sf_dir):
    """The salted join must shuffle on (key, salt), not key alone — that
    composite hash is what spreads a hot key across reducers."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.relational import (
        skew_salted_join,
    )

    plan = _plan(skew_salted_join(spark, sf_dir))
    join_line = next(line for line in plan.splitlines() if "HashJoin" in line or "SortMergeJoin" in line)
    # the equi-join keys are (l_orderkey, _salt) — the composite key is what
    # spreads a hot l_orderkey across reducers (at test scale the replicated
    # side broadcasts; at scale the same keys hash-partition both sides)
    assert "l_orderkey" in join_line and "_salt" in join_line


def test_ivf_broadcasts_centroids_never_shuffles_corpus_for_assignment(spark, sf_dir):
    """IVF assignment joins the corpus against broadcast centroids — the
    corpus must not hash-partition for that join (only the window argmin
    and probe join shuffle)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    plan = _plan(cosine_topk_ivf(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 2  # centroids + probe set


def test_embedding_neardup_blocks_on_cell_grouped_verify(spark, sf_dir):
    """The near-dup verify must be grouped on the quantizer cell id
    (FlatMapGroupsInPandas keyed on centroid_id, its shuffle pinned so
    AQE cannot fold the quadratic per-cell work onto one task) — never a
    per-pair join shipping vectors, never a nested-loop over the corpus,
    and never keyed on a data-dependent attribute like label (one hot
    label would degenerate to all-pairs at scale)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    plan = _plan(embedding_neardup_pairs(spark, sf_dir))
    group_lines = [
        line
        for line in plan.splitlines()
        if "FlatMapGroupsInPandas" in line and "centroid_id" in line
    ]
    assert group_lines, f"no cell-grouped pandas verify in plan:\n{plan}"
    assert "REPARTITION_BY_NUM" in plan, plan  # AQE-exempt width pin
    assert "label" not in plan  # the old blocking key must be gone entirely


def test_bracket_revenue_pushes_per_side_disjunctions(spark, sf_dir):
    """Q19 shape: Catalyst must derive a pushable OR for EACH side of the
    cross-side bracket predicate — the lineitem scan gets the quantity
    ranges, the part scan gets the brand/size conjuncts. Losing either
    turns the scan into a full read at 100 TB."""
    plan = _plan(relational.bracket_revenue(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), plan
    assert any("p_brand" in l and "Or(" in l for l in pushed), plan


def test_large_volume_customers_prunes_via_semi_join(spark, sf_dir):
    """Q18 shape: the HAVING subquery must plan as a LEFT SEMI join (key
    set prune) with partial aggregation, not as a full join + distinct."""
    plan = _plan(relational.large_volume_customers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "partial_" in plan


def test_profit_star_broadcasts_all_dimensions(spark, sf_dir):
    """Q9 shape: part/supplier/nation are dimensions — all three must
    broadcast so the only shuffles are the fact joins and the final agg."""
    plan = _plan(relational.product_profit_by_nation_year(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3


def test_late_shipment_uses_semi_join_and_single_late_derivation(spark, sf_dir):
    """Q21 shape after the round-16 rework: the multi-supplier EXISTS is
    a semi join against a derived key set (never a full join then
    filter), and the ``late`` (order, supplier) set is derived exactly
    once — the lineitem⋈orders date-filter join must appear once in the
    plan, not twice (the old solo-semi-join shape re-derived it)."""
    plan = _plan(relational.late_shipment_suppliers(spark, sf_dir))
    assert plan.count("LeftSemi") >= 1
    # the date filter marks the late-derivation join; one occurrence only
    assert plan.count("INTERVAL '60' DAY") == 1


def test_quality_text_queries_stage_token_array_once(spark, sf_dir):
    """The staged-projection contract: split(text) must appear exactly once
    in repetition_signals' plan and once in quality_filter_composite's
    (plus at most a pushed-filter copy), and the mean-word-length
    aggregate exactly once — CollapseProject must not re-inline them
    (SPARK-36718). Re-inlining multiplies per-row work ~10x."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import (
        quality_filter_composite,
        repetition_signals,
    )

    p1 = _plan(repetition_signals(spark, sf_dir))
    assert p1.count("split(text") == 1, p1
    p2 = _plan(quality_filter_composite(spark, sf_dir))
    assert p2.count("split(text") == 1, p2
    assert p2.count("aggregate(transform") == 1, p2


def test_pack_sequences_prefix_sum_is_sharded_not_global(spark, sf_dir):
    """The corpus-wide cumsum must run as the two-pass sharded prefix sum:
    the full-frame window partitions on the shard key (hash exchange, full
    parallelism); only the #shards-row offsets frame may use the
    single-partition global window."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import pack_sequences

    plan = _plan(pack_sequences(spark, sf_dir))
    assert "hashpartitioning(shard" in plan  # per-shard window runs wide
    # the doc-level frame must never single-partition: every
    # SinglePartition exchange in the plan belongs to the tiny offsets
    # branch, which aggregates before it
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            tail = "\n".join(plan.splitlines()[i:])
            assert "HashAggregate" in tail.split("Exchange hashpartitioning")[0]


def test_min_cost_supplier_scans_lineitem_once(spark, sf_dir):
    """The correlated-MIN decorrelation must be the window form: ONE
    lineitem scan, one (part, supplier) agg; the agg+self-join form plans
    two independent fact subtrees (no ReusedExchange across the join) and
    reads the fact table twice."""
    plan = _plan(relational.min_cost_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan
    # supplier/nation/region/part all broadcast, never shuffle the agg
    assert plan.count("BroadcastHashJoin") >= 2


def test_nation_pair_trade_broadcasts_both_nation_roles(spark, sf_dir):
    plan = _plan(relational.nation_pair_trade(spark, sf_dir))
    # supplier-side and customer-side nation maps are broadcast builds;
    # the only fact-fact exchange is lineitem-orders on orderkey
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1


def test_part_value_concentration_scans_fact_once(spark, sf_dir):
    """The scalar threshold is a window over the per-part aggregate, so
    the fact table is scanned exactly once (agg+crossjoin planned two
    independent subtrees — no ReusedExchange)."""
    plan = _plan(relational.part_value_concentration(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan


def test_part_supplier_variety_anti_join_is_broadcast(spark, sf_dir):
    plan = _plan(relational.part_supplier_variety(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_bm25_filters_before_tf_agg_and_takes_ordered(spark, sf_dir):
    """BM25's term filter must sit below the tf aggregate (only query-term
    occurrences shuffle), the df/stats sides must broadcast, and the final
    top-k must be a TakeOrdered, not a global sort."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.bm25_topk_docs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 2  # df frame + stats row
    # the IN filter on the exploded term appears under the first aggregate
    assert "Filter" in plan and "term" in plan


def test_dataset_split_has_zero_exchanges(spark, sf_dir):
    """Split assignment is row-local: the executed plan must contain no
    Exchange of any kind."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.dataset_split_assign(spark, sf_dir))
    assert "Exchange" not in plan


def test_duplicate_ngram_overlap_single_gram_pass_no_bnlj(spark, sf_dir):
    """The cross-doc dup signal must be gram-KEYED (window over the gram
    hash after the round-16 rework — one derivation of the exploded gram
    frame instead of the agg-then-join-back double scan), never a
    nested-loop/cartesian over documents; and the document text must be
    scanned exactly once."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.duplicate_ngram_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("documents.parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_covariance_self_join_keys_on_vec_id(spark, sf_dir):
    """The covariance pair join must key on vec_id (pair blowup bounded
    per vector) with the tiny mean/count frames broadcast — no cartesian
    across vectors."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import similarity

    plan = _plan(similarity.embedding_covariance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "vec_id" in plan
    assert plan.count("BroadcastExchange") >= 2  # means + n


def test_dq_row_rules_scan_each_table_once(spark, sf_dir):
    """The row-local rules must fold into ONE lineitem scan (stack()
    unpivot of a single aggregate) — lineitem appears exactly twice in
    the whole plan (row rules + the FK probe), never once per rule."""
    plan = _plan(relational.dq_expectations(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 2
    assert "stack(" in plan or "Generate" in plan or "Expand" in plan


def test_scd2_rides_one_user_partitioning(spark, sf_dir):
    """The whole SCD2 pipeline — change-flag window, running-sum window,
    interval aggregate, lead() closing window — must execute on a single
    user_id exchange: HashPartitioning(user_id) satisfies the aggregate's
    (user_id, run_id, tier) clustering, so no re-shuffle appears."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        scd2_user_tiers,
    )

    plan = _plan(scd2_user_tiers(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_snapshot_diff_is_one_keyed_full_outer(spark, sf_dir):
    """The CDC diff must be a keyed full-outer join (hash or sort-merge),
    never a nested loop, with the change classification row-local above
    it."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.relational import (
        snapshot_diff,
    )

    plan = _plan(snapshot_diff(spark, sf_dir))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_overlap_pairs_is_bucketed_equi_join(spark, sf_dir):
    """The interval self-join must come from the hour-bucket EQUI-join
    (candidates co-partitioned on the bucket key), never a nested-loop /
    cartesian theta-join over sessions — that is the whole scale point
    vs the oracle's IEJoin."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        session_overlap_pairs,
    )

    plan = _plan(session_overlap_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hour" in plan


def test_session_concurrency_is_join_free(spark, sf_dir):
    """Hourly concurrency must be explode + hash agg — no join operator of
    any kind in the plan (the interval-grid join is the anti-pattern)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        session_concurrency_hourly,
    )

    plan = _plan(session_concurrency_hourly(spark, sf_dir))
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_equi_depth_rank_is_bucket_partitioned_not_single_task(spark, sf_dir):
    """The global rank must ride value-derived buckets (parallel
    per-bucket row_number over a pid hash exchange), NOT one
    unpartitioned window over the full orders frame — and NOT
    repartitionByRange, whose sampled boundaries are not stable across
    the rank and histogram branches. Orders appears four times in-plan:
    the rank-branch and histogram-branch DATA scans plus, under each, the
    broadcast 1-row min/max stats pre-agg that replaced the old eager
    construction-time ``.first()`` (round-5/6 verdict carry-item) — the
    stats scans are column-pruned single-column passes, the price of a
    fully lazy builder."""
    plan = _plan(relational.equi_depth_deciles(spark, sf_dir))
    assert "windowspecdefinition(__pid" in plan
    assert "Exchange hashpartitioning(__pid" in plan
    assert "rangepartitioning" not in plan
    assert plan.count("orders.parquet") == 4


def test_equi_depth_builder_is_lazy(spark, sf_dir):
    """Constructing the query must not launch a data job: the min/max
    boundary scan rides the plan (broadcast stats frame), not a driver
    ``.first()``. Baseline is a bare load_table, which costs one parquet
    schema-inference (footer) job — the builder may not exceed it."""
    jid = lambda: spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    n0 = jid()
    relational.load_table(spark, sf_dir, "orders")
    footer_jobs = jid() - n0
    n1 = jid()
    relational.equi_depth_deciles(spark, sf_dir)
    assert jid() - n1 <= footer_jobs


def test_transitive_deps_rounds_are_equi_joins(spark):
    """Every frontier expansion must be a keyed equi-join on the
    (frontier.dst = edges.src) column — no cartesian growth. Checkpointing
    is bypassed for capture (the dump_plans.py idiom) so the assertion
    sees the real join shape, not a Scan ExistingRDD."""
    import __spark_entry__ as entry

    from akkastreamprocessnpmpackagedependencies_spark import session as sess

    old = sess.CHECKPOINT_ENABLED
    sess.CHECKPOINT_ENABLED = False
    try:
        plan = _plan(entry._npm_transitive_deps(spark, ""))
    finally:
        sess.CHECKPOINT_ENABLED = old
    assert "Join" in plan  # capture really saw the expansion rounds
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_iteration_lineage_stays_flat_when_constants_raised(spark, monkeypatch):
    """Round-4 verdict #3: the iterative npm graph queries must keep
    lineage FLAT in their iteration constants — each round ``ckpt``s its
    frame, so the returned plan sits on per-round LogicalRDD scans with
    every join buried beneath a checkpoint. Raise the constants well past
    their defaults and assert the final executed plan contains NO join at
    all (transitive closure: 1 edges scan + one ckpt-ed frontier per extra
    hop; pagerank: exactly the last rank checkpoint)."""
    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "TC_HOPS", 5)
    plan_tc = _plan(entry._npm_transitive_deps(spark, ""))
    assert "Join" not in plan_tc
    assert plan_tc.count("Scan ExistingRDD") == 5  # edges + 4 ckpt-ed frontiers

    monkeypatch.setattr(entry, "PR_ITERS", 6)
    plan_pr = _plan(entry._npm_dependency_pagerank(spark, ""))
    assert "Join" not in plan_pr
    assert plan_pr.count("Scan ExistingRDD") == 1  # the final rank checkpoint


def test_length_weighted_sample_is_row_local(spark, sf_dir):
    """Weighted Bernoulli membership is a pure row predicate — the plan
    must contain no Exchange at all."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.length_weighted_sample(spark, sf_dir))
    assert "Exchange" not in plan


def test_source_mixing_is_one_scan_with_partial_agg(spark, sf_dir):
    """Mixture weights must read documents ONCE (the normalizing total
    rides a window over the tiny per-source frame, not a second agg
    branch — Spark does not dedupe shared subplans, so a second branch
    would re-scan the corpus), aggregating with map-side combine."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.source_mixing_weights(spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "partial_" in plan
    assert "Window" in plan


def test_zorder_profile_key_is_row_local(spark, sf_dir):
    """The Morton key must be a pure projection — exactly one exchange in
    the whole plan (the profile agg), nothing for the key itself."""
    plan = _plan(relational.zorder_bucket_profile(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Scan parquet" in plan


def test_key_skew_profile_reduces_in_two_partial_stages(spark, sf_dir):
    """Both stages must show map-side partial aggregation; the raw row
    count never crosses a shuffle un-combined."""
    plan = _plan(relational.key_skew_profile(spark, sf_dir))
    assert plan.count("partial_") >= 2


def test_shuffle_order_rank_is_bucket_partitioned(spark, sf_dir):
    """The epoch shuffle must ride the same bucketed-rank shape: hash
    exchange on the derived bucket, no rangepartitioning, no
    unpartitioned window over the full documents frame."""
    from akkastreamprocessnpmpackagedependencies_spark.operators import textops

    plan = _plan(textops.dataset_shuffle_order(spark, sf_dir))
    assert "windowspecdefinition(__pid" in plan
    assert "rangepartitioning" not in plan


def test_pca_fixed_basis_projection_is_scan_only(spark, sf_dir):
    """Applying a recorded basis must be a pure streaming projection: no
    join, no aggregate — the only exchange is load_scaled's round-robin
    compute repartition of the scan, and the projection itself is ONE
    Arrow-batched MapInPandas (not an unrolled element_at chain, which
    would codegen past the JIT method limit and run interpreted)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.similarity import (
        pca_project_fixed_basis,
    )

    plan = _plan(pca_project_fixed_basis(spark, sf_dir))
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == 1 and "roundrobin" in plan.lower()


def test_chunk_and_redact_are_zero_shuffle(spark, sf_dir):
    """chunk_documents and pii_redact are pure row-local pipelines — one
    whole-stage span over a 2-column pruned scan, NO exchange anywhere
    (the 100 TB property: cost is the scan, parallelism is the split
    count)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.textops import (
        chunk_documents,
        pii_redact,
    )

    for fn in (chunk_documents, pii_redact):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, plan
        read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "text" in read and "source" not in read and "lang" not in read


def test_corpus_budget_select_prefix_sum_stays_partitioned(spark, sf_dir):
    """The quality-ordered running sum must run the bucketed two-pass
    idiom: the doc-level window partitions on the quantile bucket
    (hashpartitioning(__pid)), any SinglePartition exchange belongs to
    the buckets-sized offsets branch (aggregated before it), and the
    scored frame is checkpointed so the text column is tokenized exactly
    once (no FileScan left in the executed plan — both branches read the
    materialized RDD)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import (
        corpus_budget_select,
    )

    plan = _plan(corpus_budget_select(spark, sf_dir))
    assert "hashpartitioning(__pid" in plan
    assert "FileScan" not in plan  # ckpt: text split once, upstream of plan
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            tail = "\n".join(plan.splitlines()[i:])
            assert "HashAggregate" in tail.split("Exchange hashpartitioning")[0]


def test_capstone_and_budget_select_exchange_counts_are_pinned(spark, sf_dir):
    """Shuffle-count regression pins (round-6 verdict item #6): the
    measured exchange counts of the two heaviest compositions are
    recorded as CEILINGS, so a refactor that silently adds a shuffle —
    the failure mode that only shows up as a 100 TB slowdown — fails a
    unit test instead. Current shapes: corpus_pipeline_verdicts = 11
    (four doc_id equi-joins over per-doc stage frames + the reused
    operators' interior aggs/windows), corpus_budget_select = 4 (the
    bucketed prefix-sum two-pass + quantile bucket + final filter).
    Lower is fine; higher needs a plan-level justification here."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import (
        corpus_budget_select,
        corpus_pipeline_verdicts,
    )
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        plan_exchange_count,
    )

    assert plan_exchange_count(corpus_pipeline_verdicts(spark, sf_dir)) <= 11
    assert plan_exchange_count(corpus_budget_select(spark, sf_dir)) <= 4


def test_bigram_topk_pushes_group_limits(spark, sf_dir):
    """The two-phase top-K must keep its pruning in the plan: the salt
    window partitions on (lang, salt) and Spark's WindowGroupLimit
    rewrite truncates each sort partition to K rows BEFORE the final
    per-lang rank (the shape that stops a 5-language corpus from
    dragging its whole bigram distribution through five tasks)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.textops import (
        bigram_lm_probs,
    )

    plan = _plan(bigram_lm_probs(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    # the gram-count frame is checkpointed once and feeds BOTH consumers
    # (rank chain + continuation-mass agg) — no second corpus explode
    assert plan.count("Scan ExistingRDD") == 2 and "FileScan" not in plan
    # continuation mass is a partial-combined hash agg, not a sort-window
    assert "partial_sum" in plan and "w1_total" in plan
    # ...joined onto the tiny ranked frame via broadcast
    assert "BroadcastHashJoin" in plan
    # the salt window really partitions on two keys, not bare lang
    assert "hashpartitioning(lang" in plan


def test_runtime_bloom_filter_prefilters_fact_side(spark, sf_dir):
    """Engine-native runtime filtering (InjectRuntimeFilter): inside the
    runtime_bloom_filter scope, a selective dimension filter on a shuffle
    join must inject a bloom_filter_agg subquery and push its
    might_contain() predicate onto the fact scan — the rows that cannot
    join die before the exchange. Values must be identical with the
    filter on and off (bloom is conservative; the exact join follows)."""
    from akkastreamprocessnpmpackagedependencies_spark.session import (
        runtime_bloom_filter,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")

    def q():
        return (
            li.join(
                orders.hint("shuffle_hash"),
                li.l_orderkey == orders.o_orderkey,
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        )

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        baseline = {(r.o_orderpriority, r.n, str(r.qty)) for r in q().collect()}
        with runtime_bloom_filter(spark):
            plan = _plan(q())
            assert "might_contain" in plan, plan[:2000]
            assert "bloom_filter_agg" in plan
            filtered = {(r.o_orderpriority, r.n, str(r.qty)) for r in q().collect()}
        assert filtered == baseline
        # outside the scope the threshold is restored -> no injection
        assert "might_contain" not in _plan(q())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_multimodal_decode_webp_is_pruned_scan_with_bounded_widening(spark, sf_dir):
    """The round-8 WebP query stays a pruned 2-column scan with the
    non-null filter pushed to parquet and one Arrow-batched MapInPandas.
    Round 14 amended the zero-exchange rule: when the scan UNDER-SPLITS
    (the test tables are one file = one task), _widen_for_cpu inserts
    EXACTLY ONE exchange of the projected (doc_id, text) pair so the
    codec CPU uses every core — measured 12.5 -> 1.2 s at sf0.1; at
    scale the scan has >= cores splits and the plan is exchange-free
    again (the widening is conditional, pinned separately by
    test_real_codec_queries_widen_single_split_scans)."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.multimodal import (
        multimodal_decode_webp,
    )
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        plan_exchange_count,
    )

    df = multimodal_decode_webp(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan_exchange_count(df) == 1  # the conditional widening, only
    assert "MapInPandas" in plan
    explained = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [IsNotNull(text)]" in explained
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in explained


def _npm_plans(spark):
    """Optimized plans of the npm queries that parse registry docs, from
    the session optimizer run on the analyzed plan: a streaming Dataset
    refuses ``optimizedPlan`` outside a running query, and a cached frame
    (another test persists the edge list) would print its cached plan."""
    import os

    import __spark_entry__ as entry

    from akkastreamprocessnpmpackagedependencies_spark.fixtures import FIXTURES_DIR
    from akkastreamprocessnpmpackagedependencies_spark.operators import npm
    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    packages = spark.read.parquet(os.path.join(FIXTURES_DIR, "npm_packages.parquet"))
    docs = spark.read.parquet(os.path.join(FIXTURES_DIR, "npm_registry_docs.parquet"))
    optimizer = spark._jsparkSession.sessionState().optimizer()
    frames = {
        "dependency_counts": npm.dependency_counts(packages, docs),
        "streaming_dependency_counts": sp.streaming_dependency_counts(sp.read_registry_stream(spark, rate=5)),
        "npm_reverse_dependency_counts": entry._npm_reverse_dependency_counts(spark, ""),
        "npm_edges": entry._npm_edges(spark),
    }
    return {k: optimizer.execute(df._jdf.queryExecution().analyzed()).toString() for k, df in frames.items()}


def test_npm_queries_parse_each_doc_once(spark):
    """Every npm query holds exactly one ``from_json`` and none inside a
    Filter: an inner explode of the versions map lets Catalyst infer
    ``size(from_json(doc).versions) > 0`` below the parse (three parses a
    doc), and a union of one select per dependency kind parses twice."""
    for name, plan in _npm_plans(spark).items():
        assert plan.count("from_json(") == 1, name
        filters = [ln for ln in plan.splitlines() if "Filter" in ln and "from_json(" in ln]
        assert not filters, (name, filters)


def _npm_exchanges(df) -> list[str]:
    """The shuffle exchanges of ``df``'s physical plan as planned (AQE's
    initial plan: the executed string would print each one twice)."""
    return [ln.strip(" +-:") for ln in _plan(df).splitlines() if "Exchange " in ln and "BroadcastExchange" not in ln]


def test_npm_docs_spread_the_parse_on_name(spark):
    """The matched docs are hash-partitioned on ``name`` once after the
    join, even from a one-partition scan; that exchange also serves the
    (package, version) aggregation, and the report sorts in one partition,
    so there is no range sort (whose sampling job would parse the docs
    again) and no shuffle on ``package``."""
    import os

    from akkastreamprocessnpmpackagedependencies_spark.fixtures import FIXTURES_DIR
    from akkastreamprocessnpmpackagedependencies_spark.operators import npm

    packages = spark.read.parquet(os.path.join(FIXTURES_DIR, "npm_packages.parquet"))
    docs = spark.read.parquet(os.path.join(FIXTURES_DIR, "npm_registry_docs.parquet"))
    assert docs.rdd.getNumPartitions() == 1
    exchanges = _npm_exchanges(npm.dependency_counts(packages, docs))
    assert sum("hashpartitioning(name" in ln for ln in exchanges) == 1, exchanges
    assert sum("SinglePartition" in ln for ln in exchanges) == 1, exchanges
    assert not [ln for ln in exchanges if "rangepartitioning" in ln or "hashpartitioning(package" in ln], exchanges

