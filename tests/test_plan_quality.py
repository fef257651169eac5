"""Physical-plan regression tests: the plans that pass correctness must also
be the plans we'd run at 100 TB (SURVEY §4 / build-plan §7 scale hygiene)."""

from __future__ import annotations

from conftest import SF_DIR

from procurement_system_bigdata_spark.plans.explain import assert_scale_safe, plan_stats
from procurement_system_bigdata_spark.queries.registry import REGISTRY


def test_aggregate_orders_plan(spark):
    stats = assert_scale_safe(
        REGISTRY["aggregate_orders"].fn(spark, SF_DIR),
        require_pushed_filter="l_shipdate",
    )
    # facts join three dims: all broadcast, no fact-side shuffle before agg
    assert stats["broadcast_hash_joins"] >= 3


def test_net_demand_plan(spark):
    # Fused derivation (net_demand_fused): ONE fact scan with conditional
    # aggregation, broadcast dim attaches, and a single aggregate⋈aggregate
    # left join against the safety-stock grid.  That join is cardinality-
    # bounded by |sku|×|warehouse| — too big to broadcast at 100 TB, so a
    # shuffle join is the CORRECT static plan; AQE converts it to broadcast
    # at runtime when actual sizes are small.  No shipdate pushdown BY
    # DESIGN: demand+snapshot measures come from one full-range scan.
    stats = assert_scale_safe(
        REGISTRY["net_demand"].fn(spark, SF_DIR), max_sort_merge_joins=1
    )
    assert stats["broadcast_hash_joins"] >= 4
    assert stats["plan"].count("lineitem.parquet") == 1
    assert stats["shuffles"] <= 4


def test_supplier_orders_plan(spark):
    # The numbering tail's eager localCheckpoint truncates the visible
    # lineage, so the full join/aggregate plan is asserted on the enriched
    # subplan: two fact scans (fused net-demand + supplier offers), the one
    # bounded safety-stock SMJ, broadcast everywhere else.
    from procurement_system_bigdata_spark.queries import procurement as P

    stats = assert_scale_safe(
        P.supplier_orders_enriched(spark, SF_DIR), max_sort_merge_joins=2
    )
    assert stats["broadcast_hash_joins"] >= 5
    assert stats["plan"].count("lineitem.parquet") <= 2
    # the assembled query may add only the O(#partitions) prefix-sum
    # exchange of the two-phase numbering — never a data-sized single
    # partition sort
    full = plan_stats(REGISTRY["supplier_orders"].fn(spark, SF_DIR))
    assert full["python_udfs"] == 0


def test_top_k_uses_take_ordered(spark):
    stats = plan_stats(REGISTRY["top_parts_by_revenue"].fn(spark, SF_DIR))
    assert stats["take_ordered"] >= 1, "LIMIT should compile to TakeOrderedAndProject"


def test_events_scan_prunes_columns(spark):
    stats = plan_stats(REGISTRY["events_date_filter"].fn(spark, SF_DIR))
    # props (a wide JSON string column) must not be read
    assert all("props" not in s for s in stats["read_schemas"])


def test_extension_ops_stay_jvm_side(spark):
    """Dedup/text/similarity operators are built from builtins only — no
    Python UDF may appear in their plans (multimodal mapInPandas is the
    single sanctioned Arrow boundary and is not in this set)."""
    for name in ("dedup_fingerprint", "dedup_minhash_lsh", "simhash_fingerprints",
                 "lang_id", "text_quality", "token_counts", "doc_fingerprints",
                 "tf_idf", "train_test_split", "embedding_topk"):
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        assert stats["python_udfs"] == 0, f"{name} fell off codegen"


def test_train_test_split_is_shuffle_free(spark):
    """Hash-splitting is a pure per-row map — any Exchange in the plan means
    the operator stopped being repartition-stable linear-scan work."""
    stats = plan_stats(REGISTRY["train_test_split"].fn(spark, SF_DIR))
    assert stats["shuffles"] == 0, "split must not shuffle"


def test_price_band_join_broadcasts_bands(spark):
    plan = plan_stats(REGISTRY["price_band_join"].fn(spark, SF_DIR))["plan"]
    assert "BroadcastNestedLoopJoin" in plan, "band dim should broadcast"

def test_selective_revenue_pushes_every_filter(spark):
    """Q6-shape: all five predicates must reach the parquet scan, and the
    aggregation must stay inside whole-stage codegen."""
    stats = plan_stats(REGISTRY["selective_revenue"].fn(spark, SF_DIR))
    pushed = " ".join(stats.get("pushed_filters", [])) or stats["plan"]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to the scan"
    assert stats["python_udfs"] == 0
    assert stats["shuffles"] <= 1  # only the 1-row final-agg exchange


def test_shipping_priority_top10_is_take_ordered(spark):
    stats = plan_stats(REGISTRY["shipping_priority"].fn(spark, SF_DIR))
    assert stats["take_ordered"] >= 1, "top-10 should compile to TakeOrderedAndProject"


def test_small_qty_revenue_broadcasts_thresholds(spark):
    stats = plan_stats(REGISTRY["small_qty_revenue"].fn(spark, SF_DIR))
    assert stats["broadcast_hash_joins"] >= 2, "part filter + per-part avgs should broadcast"


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """Semi-join reduction for fact⋈filtered-dim when the dim is too big to
    broadcast: Spark injects a bloom_filter_agg on the build side and
    filters the fact scan with it, cutting the shuffled fact rows to
    ~matching keys.  Default size thresholds are cluster-scale (10 GB
    application side), so the test lowers them to demonstrate the plan the
    engine gets at 100 TB; the dim filter must be literal-comparison
    selective (same subtlety as dynamic partition pruning)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from pyspark.sql import functions as F

        from procurement_system_bigdata_spark.catalog import load_table

        li = load_table(spark, SF_DIR, "lineitem")
        part = load_table(spark, SF_DIR, "part").filter(F.col("p_size") < F.lit(5))
        j = li.join(part, li.l_partkey == part.p_partkey).agg(F.sum("l_quantity").alias("q"))
        opt = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        assert j.collect()[0]["q"] is not None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_cache_leak_across_driver_invocations(spark):
    """Every registry-style invocation must leave the SQL cache empty: an
    unreleased .persist() strands a CacheManager entry per call (they are
    never GC'd), growing without bound across a long driver session.
    localCheckpoint blocks are allowed — the ContextCleaner reclaims those
    once the frames go out of scope."""
    from procurement_system_bigdata_spark.catalog import load_table
    from procurement_system_bigdata_spark.operators import similarity
    from procurement_system_bigdata_spark.queries import procurement as PQ

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    for _ in range(2):
        PQ.q_net_demand(spark, SF_DIR).count()
        PQ.q_supplier_orders(spark, SF_DIR).count()
        similarity.ivf_topk(load_table(spark, SF_DIR, "embeddings")).count()
    assert cm.isEmpty(), "a query leaked SQL-cache entries"


def test_quality_classifier_is_map_side_only(spark):
    """Classifier scoring at 100 TB must be embarrassingly parallel: no
    shuffle, no Python UDF — one codegen'd scan."""
    stats = plan_stats(REGISTRY["quality_classifier"].fn(spark, SF_DIR))
    assert stats["shuffles"] == 0, "classifier must not shuffle"
    assert stats["python_udfs"] == 0, "classifier fell off codegen"


def test_source_quality_report_is_single_scan(spark):
    """The report's documented shape: ONE classifier scan + one source-
    keyed aggregation — no second docs scan, no doc_id self-join (the
    round-4 review caught a two-scan join version)."""
    stats = plan_stats(REGISTRY["source_quality_report"].fn(spark, SF_DIR))
    assert len(stats["read_schemas"]) == 1, "report re-scans the corpus"
    assert stats["shuffles"] == 1, "expected exactly the source-keyed exchange"
    assert stats["python_udfs"] == 0


def test_semantic_dedup_join_is_cluster_keyed(spark):
    """SemDeDup's self-join must be keyed by cluster (bounded buckets) —
    no cartesian degeneration, and any Python in the plan must be the
    sanctioned Arrow-batched form (GEMM argmin / einsum scoring), never
    row-at-a-time BatchEvalPython."""
    stats = plan_stats(REGISTRY["semantic_dedup"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in stats["plan"], "row-at-a-time UDF crept in"
    assert "CartesianProduct" not in stats["plan"]


def test_round3_ops_stay_jvm_side_and_broadcast(spark):
    """Round-3 operators: no Python UDFs anywhere, and the small side of
    each asymmetric join is broadcast (benchmark grams in decontamination,
    the d*w sketch in cms_heavy_hitters, the vocab LM in unigram_logprob) —
    the corpus side must never shuffle for these."""
    for name in (
        "decontamination",
        "token_cms_sketch",
        "cms_heavy_hitters",
        "unigram_logprob",
        "embedding_quantize",
        "embedding_dim_stats",
        "group_sample",
    ):
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        assert stats["python_udfs"] == 0, f"{name} fell off codegen"
    for name in ("decontamination", "cms_heavy_hitters", "unigram_logprob"):
        plan = (
            REGISTRY[name].fn(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast"
        assert "SortMergeJoin" not in plan, f"{name} shuffled the corpus side"


def test_training_shards_plan(spark):
    """Sharding must be ONE exchange (the shard-keyed window) — no global
    sort, no SinglePartition funnel, no Python UDFs."""
    stats = assert_scale_safe(REGISTRY["training_shards"].fn(spark, SF_DIR))
    assert stats["single_partition_exchanges"] == 0
    assert stats["shuffles"] <= 1
    assert "Sort" in stats["plan"]  # the per-shard local sort of the window


def test_span_removal_plan(spark):
    """Span removal never materializes doc pairs: no cartesian/nested-loop
    product, no Python UDFs; shuffles are the gram index + doc-keyed
    rebuild aggregations."""
    stats = plan_stats(REGISTRY["span_removal"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in stats["plan"]
    assert "BroadcastNestedLoopJoin" not in stats["plan"]
    assert stats["python_udfs"] == 0
    assert stats["sort_merge_joins"] <= 3  # doc_id-keyed anti/left joins


def test_temperature_mixture_plan(spark):
    """The corpus is scanned ONCE (the per_source checkpoint); everything
    downstream operates on the |sources|-row materialization.  Without the
    checkpoint this plan scanned documents FOUR times (total, s6
    projection, tot6 — no exchange reuse across differing projections)."""
    stats = assert_scale_safe(REGISTRY["temperature_mixture"].fn(spark, SF_DIR))
    assert stats["plan"].count("documents.parquet") == 0  # behind checkpoint
    assert "BroadcastNestedLoopJoin" in stats["plan"]  # 1-row total crossJoins


def test_source_mixture_single_scan(spark):
    stats = plan_stats(REGISTRY["source_mixture"].fn(spark, SF_DIR))
    assert stats["plan"].count("documents.parquet") == 0  # behind checkpoint


def test_vocab_coverage_plan(spark):
    """The vocab cut is a window over the DISTINCT-WORD table only; scoring
    joins the V-row vocab broadcast — no corpus-sized sort-merge join."""
    stats = plan_stats(REGISTRY["vocab_coverage"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["broadcast_hash_joins"] >= 1  # vocab attaches broadcast


def test_scan_counts_stay_minimized(spark):
    """Regression pin for the round-5 text-scan minimization (DESIGN.md):
    the audited queries must not regress to multi-scanning their corpus /
    fact table.  Counts are parquet-scan occurrences in the formatted plan
    (checkpointed subtrees scan ExistingRDD instead)."""
    budgets = {
        # query: (table, max parquet scans of it)
        "dedup_ngram_jaccard_capped": ("documents", 1),
        "customer_segments": ("orders", 1),
        "bigram_lm_score": ("documents", 2),
        "dsir_importance": ("documents", 2),
        "bm25_search": ("documents", 1),
        "span_removal": ("documents", 2),
        "histogram_quantiles": ("events", 1),
        "gap_fill_hourly": ("events", 1),
        "unigram_logprob": ("documents", 2),
        "tf_idf": ("documents", 2),
        "decontamination": ("documents", 2),
        "bloom_decontamination": ("documents", 2),
        # keyed prefix projection checkpointed -> all three branches read
        # the materialized (doc_id, key, len) rows, zero re-scans
        "edit_distance_pairs": ("documents", 0),
        # posting table checkpointed once (same contract as the jaccard
        # family)
        "containment_pairs": ("documents", 0),
    }
    over = []
    for name, (table, budget) in budgets.items():
        plan = plan_stats(REGISTRY[name].fn(spark, SF_DIR))["plan"]
        n = plan.count(f"{table}.parquet")
        if n > budget:
            over.append(f"{name}: {n} {table} scans (budget {budget})")
    # the RAW quantized operator (the registry entry is a verification
    # report that intentionally recomputes the exact baseline — its extra
    # scans are the price of self-checking, not the production path)
    from procurement_system_bigdata_spark.catalog import load_table
    from procurement_system_bigdata_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_stats(similarity.quantized_topk(emb))["plan"]
    if plan.count("embeddings.parquet") > 0:
        over.append("quantized_topk raw: embeddings scanned above checkpoint")
    assert not over, "scan budgets exceeded:\n" + "\n".join(over)


def test_minhash_production_aggregate_is_codegen(spark):
    """The K=128 signature aggregate must stay inside whole-stage codegen:
    the default spark.sql.codegen.maxFields=100 silently drops any operator
    with >100 fields to the interpreted path — exactly this aggregate at
    the production dial (session.py raises the cap to 200).  Asserted with
    AQE off because the adaptive plan string hides codegen markers until
    stage materialization."""
    import re

    from procurement_system_bigdata_spark.catalog import load_table
    from procurement_system_bigdata_spark.operators import dedup

    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        docs = load_table(spark, SF_DIR, "documents")
        sigs = dedup.minhash_signatures(docs, fast_hash=True)  # K=128
        plan = sigs._jdf.queryExecution().executedPlan().toString()
        spans = set(re.findall(r"\*\((\d+)\)", plan))
        assert len(spans) >= 2, (
            "signature HashAggregate fell off codegen:\n" + plan[:1500]
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_tpch_shape_plans_broadcast_dims_and_push_dates(spark):
    """The round-5 TPC-H shapes must keep their scale contracts: dimension
    sides broadcast (no corpus-sized SortMergeJoin against a dim) and the
    date-literal predicates reach the scan as pushed filters."""
    checks = {
        # query: (min broadcast joins, pushed-filter fragment)
        "regional_revenue": (1, "o_orderdate"),
        "nation_trade_volume": (1, "l_shipdate"),
        # the Q8 adaptation groups ALL order-years (no date window); its
        # pushed predicate is the part-type dim filter
        "market_share": (1, "p_type"),
        "promo_revenue": (1, "l_shipdate"),
        "returned_item_revenue": (1, "o_orderdate"),
    }
    problems = []
    for name, (min_bhj, pushed_frag) in checks.items():
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        if stats["broadcast_hash_joins"] < min_bhj:
            problems.append(f"{name}: {stats['broadcast_hash_joins']} BHJ")
        if not any(pushed_frag in p for p in stats["pushed_filters"]):
            problems.append(f"{name}: no pushed filter on {pushed_frag}")
        if stats["python_udfs"]:
            problems.append(f"{name}: python udfs in plan")
    assert not problems, "; ".join(problems)


def test_new_event_analytics_plans_are_lean(spark):
    """retention/rolling/anomalies: no Python UDFs, no cartesian products
    except the 1-row broadcast moment join, bounded shuffle counts."""
    for name, max_shuffles in (
        ("retention_cohorts", 4),
        ("rolling_active_users", 5),
        ("daily_anomalies", 3),
    ):
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        assert stats["python_udfs"] == 0, name
        assert stats["shuffles"] <= max_shuffles, (
            f"{name}: {stats['shuffles']} shuffles (max {max_shuffles})"
        )


def test_basket_pairs_plan(spark):
    """Market-basket: the final top-K must be a TakeOrderedAndProject (never
    a full sort), frequency joins broadcast, no Python UDFs, and the capped
    item set materialized once (localCheckpoint) so the pair self-join's two
    sides do not re-run the scan+distinct+window chain."""
    stats = plan_stats(REGISTRY["basket_pairs"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["take_ordered"] >= 1
    assert stats["broadcast_hash_joins"] >= 2  # n_a / n_b frequency attach
    assert stats["shuffles"] <= 6


def test_robust_outliers_plan(spark):
    """Median/MAD: per-type median and MAD tables attach as broadcasts
    (vocabulary-sized at any corpus scale); the only shuffles are the keyed
    percentile aggregations.  The deviation frame is localCheckpoint'd (two
    consumers), so the visible plan covers the post-checkpoint half: the
    MAD broadcast attach and the final roll-up."""
    stats = plan_stats(REGISTRY["robust_outliers"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["broadcast_hash_joins"] >= 1  # mad attach (med is pre-ckpt)
    assert stats["sort_merge_joins"] == 0
    assert stats["shuffles"] <= 3


def test_audience_overlap_plan(spark):
    """Sketch overlap: the DATA-sized join (distinct (user,type) rows vs
    the pair list) must be an equi BroadcastHashJoin against the exploded
    membership table — an OR predicate would plan as a nested loop that
    evaluates every row against all C(T,2) pairs (review round 5).  The
    remaining nested-loop joins are vocab²- or 1-row-sized by construction.
    Never a shuffle or join on user_id; all aggregates map-side combinable."""
    stats = plan_stats(REGISTRY["audience_overlap"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["sort_merge_joins"] == 0
    assert stats["broadcast_hash_joins"] >= 2  # contrib expansion + attach
    assert stats["shuffles"] <= 4


def test_weighted_sample_single_window_shuffle(spark):
    """E-S weighted sampling: the key is a pure per-row projection, so the
    ONLY exchange allowed is the group window's partitionBy."""
    stats = plan_stats(REGISTRY["weighted_sample"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["shuffles"] == 1
    assert stats["sort_merge_joins"] == 0


def test_value_psi_plan(spark):
    """PSI: one keyed aggregate at type-by-bin cardinality; everything
    after it (margins, densified grid, term sum) is broadcast-scale."""
    stats = plan_stats(REGISTRY["value_psi"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["sort_merge_joins"] == 0
    assert stats["shuffles"] <= 4


def test_event_transitions_plan(spark):
    """Markov matrix: one user-keyed window shuffle + the grid aggregate;
    totals attach as a broadcast."""
    stats = plan_stats(REGISTRY["event_transitions"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["sort_merge_joins"] == 0
    assert stats["broadcast_hash_joins"] >= 1
    assert stats["shuffles"] <= 3


def test_streaks_and_twap_reuse_user_partitioning(spark):
    """Both gaps-and-islands and TWAP shuffle once on the user key; the
    downstream aggregates stay on (a superset of) the window key."""
    for name, max_shuffles in (("user_streaks", 3), ("twap_daily", 2)):
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        assert stats["python_udfs"] == 0, name
        assert stats["sort_merge_joins"] == 0, name
        assert stats["shuffles"] <= max_shuffles, (
            f"{name}: {stats['shuffles']} shuffles"
        )


def test_item_item_recs_plan(spark):
    """Recommender: frequencies attach as broadcasts; the only shuffle is
    the per-anchor ranking window (the pair table is checkpointed, so the
    union branches read blocks, not the self-join)."""
    stats = plan_stats(REGISTRY["item_item_recs"].fn(spark, SF_DIR))
    assert stats["python_udfs"] == 0
    assert stats["sort_merge_joins"] == 0
    assert stats["broadcast_hash_joins"] >= 2
    assert stats["shuffles"] <= 2


def test_rank_filter_samplers_keep_window_group_limit(spark):
    """group_sample and weighted_sample are scale-safe BECAUSE Spark 4.1's
    InferWindowGroupLimit inserts a WindowGroupLimit below the shuffle
    (map-side per-group top-k reduction), so the per-group full sort never
    sees more than ~k rows per partition.  That is optimizer behavior a
    filter-shape refactor could silently break — e.g. rewriting the
    ``rank <= k`` filter into a form the rule no longer recognizes would
    reintroduce the full per-group sort.  Pin it in both plans (VERDICT
    r07 ask #5)."""
    for name in ("group_sample", "weighted_sample"):
        stats = plan_stats(REGISTRY[name].fn(spark, SF_DIR))
        assert "WindowGroupLimit" in stats["plan"], (
            f"{name} lost its map-side WindowGroupLimit reduction"
        )
        assert stats["python_udfs"] == 0


