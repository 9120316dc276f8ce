"""Physical-plan regression guards: the plan properties that make the
headline queries scale must not silently regress (pushdown reaching
the parquet scan, broadcast joins for dims, column pruning, partial
window limits, narrow no-shuffle projections)."""

from __future__ import annotations

from data_pipelines_snowflake_procedures_spark.queries import REGISTRY


def _plan(spark, name, sf_dir) -> str:
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    # the shipdate predicate must reach the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched lineitem columns never read
    assert "l_orderkey" not in plan
    assert "l_partkey" not in plan
    # no join, exactly one aggregate exchange
    assert "Join" not in plan


def test_region_revenue_broadcasts_all_dims(spark, sf_dir):
    import re

    plan = _plan(spark, "region_revenue", sf_dir)
    # formatted explain lists nodes in tree + detail: count detail nodes
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan
    # pruning: lineitem reads only join key + price columns
    assert "l_quantity" not in plan


def test_semi_and_anti_joins_planned(spark, sf_dir):
    semi = _plan(spark, "order_priority_counts", sf_dir)
    assert "LeftSemi" in semi
    anti = _plan(spark, "customers_without_big_orders", sf_dir)
    assert "LeftAnti" in anti
    # the totalprice filter reaches the orders scan on the build side
    assert "GreaterThan(o_totalprice,400000" in anti


def test_exact_dedup_partial_window_limit(spark, sf_dir):
    plan = _plan(spark, "dedup_exact_documents", sf_dir)
    # min-id-per-hash must plan as WindowGroupLimit (partial before the
    # exchange), not a full window sort of every duplicate group
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_text_profile_is_narrow(spark, sf_dir):
    plan = _plan(spark, "text_profile_documents", sf_dir)
    # per-document profile: one scan, zero shuffles
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_masking_is_narrow(spark, sf_dir):
    plan = _plan(spark, "pii_mask_customer", sf_dir)
    assert "Exchange" not in plan
    # no Python evaluation anywhere in the masking path
    assert "Python" not in plan


def test_rollup_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "events_rollup_type_day", sf_dir)
    assert "Expand" in plan
    # one aggregation exchange only
    assert plan.count("(Exchange") <= 1 or plan.count("Exchange") <= 2


def test_trade_flows_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, "nation_trade_flows", sf_dir)
    # supplier + both nation aliases broadcast; customer under threshold
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    # pruning: lineitem never reads quantity/tax for this query
    assert "l_quantity" not in plan
    assert "l_tax" not in plan


def test_grouping_sets_single_expand_single_agg_exchange(spark, sf_dir):
    plan = _plan(spark, "orders_grouping_sets", sf_dir)
    assert "Expand" in plan
    assert "Join" not in plan


def test_kmeans_assignment_is_shuffle_free(spark, sf_dir):
    """The final k-means assignment pass (k=4 centroids as a 1-row
    broadcast matrix) must stay narrow: no shuffle exchange and no
    Python. Its one join is the BroadcastNestedLoopJoin of that
    1-row matrix."""
    import re

    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        kmeans_assign_df,
        kmeans_fit,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iters=1)
    plan = (
        kmeans_assign_df(emb, cents)
        .select("vec_id", "__cl", "__dist")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert not re.search(r"\bExchange\b", plan)
    assert "Python" not in plan


def test_retention_single_user_shuffle_before_final_agg(spark, sf_dir):
    plan = _plan(spark, "events_retention_cohorts", sf_dir)
    # no self-join back to a cohort table — collect_set + array_min only
    assert "Join" not in plan


def test_disjunctive_filters_push_to_both_scans(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs must split per side — quantity range
    union at the lineitem scan, brand/size disjunction at the part
    scan — so neither table scans unfiltered."""
    plan = _plan(spark, "disjunctive_promo_revenue", sf_dir)
    assert "PushedFilters: [IsNotNull(l_partkey), Or(" in plan
    assert "EqualTo(p_brand,Brand#1)" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_unshipped_orders_filters_before_joins(spark, sf_dir):
    """Q3 shape: segment + both date predicates reach their scans;
    top-k is TakeOrdered, never a global Sort+Limit."""
    plan = _plan(spark, "unshipped_orders_revenue", sf_dir)
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: every predicate at the scan, zero joins."""
    plan = _plan(spark, "forecast_revenue_delta", sf_dir)
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, pushed
    assert "Join" not in plan


def test_market_share_window_partitioned_by_year(spark, sf_dir):
    """Q8 shape: the share denominator windows over the (year, nation)
    rollup PARTITIONED BY year — no unpartitioned global window."""
    plan = _plan(spark, "nation_market_share_by_year", sf_dir)
    assert "Window" in plan
    # the windowspecdefinition must name o_year as its partition key
    assert "windowspecdefinition(o_year" in plan


def test_quantized_ann_shuffles_are_codes_only(spark, sf_dir):
    """SQ/PQ/IVF-PQ candidate selection must shuffle (query_id,
    neighbor_id, approx_cosine) ONLY — no CORPUS-side embedding array
    (raw, dequantized, or reconstructed) may ride through any
    Exchange/Sort/Window (VERDICT r5 wrong-list #2: the
    exact-embedding carry forfeited the codes-only I/O claim). The
    exact floats may appear only in the candidates join-back scan.
    q_emb in IVF-PQ's probe-phase window is exempt: that window ranks
    cells over the |queries|-row side, which is broadcast-small by
    the operator's contract."""
    import re

    corpus_arrays = ("c_emb", "c_nrm", "c_deq", "c_recon", "cx_emb", "embedding#")
    for name in ("knn_sq_embeddings", "knn_pq_embeddings", "knn_ivfpq_embeddings"):
        plan = _plan(spark, name, sf_dir)
        lines = plan.splitlines()
        checked = 0
        for i, ln in enumerate(lines):
            if re.match(r"\(\d+\) (Window|WindowGroupLimit|Exchange|Sort)\b", ln):
                inp = lines[i + 1] if i + 1 < len(lines) else ""
                for tok in corpus_arrays:
                    assert tok not in inp, (
                        f"{name}: corpus embedding in shuffle/window: {ln} {inp}"
                    )
                checked += 1
        assert checked >= 4, f"{name}: expected window/exchange nodes, got {checked}"


def test_graph_entries_native_no_cartesian(spark, sf_dir):
    """The graph analytics plans must stay JVM-native (no Python
    evaluation nodes) and never degrade to a cartesian product — the
    wedge/frontier joins are all equi-joins by construction."""
    for name in (
        "supplier_graph_triangles",
        "supplier_graph_adamic_adar",
        "trade_graph_labelprop",
        "supplier_graph_bfs_hops",
    ):
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_basket_rules_broadcasts_apriori_prune(spark, sf_dir):
    """The Apriori semi-joins and the marginal joins must broadcast
    (vocabulary-sized sides) and nothing may go cartesian. r11: the
    entry's returned frame is checkpoint-terminated (frequent_pairs
    materializes eagerly), so inspect the operator's lazy plan on the
    entry's own basket frame instead."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.itemsets import (
        frequent_pairs,
    )
    from data_pipelines_snowflake_procedures_spark.queries import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item")
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = frequent_pairs(li, basket_col="bk", item_col="item", eager=False)
    # the lazy path leaves nothing persisted for the caller to release
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_stats_entries_single_pass_aggregates(spark, sf_dir):
    """OLS and the Welch test are one-scan sufficient-statistics
    aggregates: partial aggregation must appear (map-side combine) and
    no Python nodes may creep in."""
    for name in ("events_value_trend_ols", "events_value_ab_test"):
        plan = _plan(spark, name, sf_dir)
        assert "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_similarity_calibration_no_global_sort_or_cartesian(spark, sf_dir):
    """The pair construction must stay bucket-partitioned: no
    cartesian product (O(n²) pairing) and no partition-less window —
    every Window node carries the bucket in its partition spec."""
    plan = _plan(spark, "embedding_similarity_calibration", sf_dir)
    assert "CartesianProduct" not in plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        # a partition-less window's spec STARTS with an ordering term
        # (e.g. "x ASC NULLS FIRST, ..."); a partitioned one leads with
        # the bucket column
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, spec


def test_m4_downsample_partial_agg_no_window(spark, sf_dir):
    plan = _plan(spark, "events_m4_downsample", sf_dir)
    # M4 must plan as a partial-aggregable groupBy (map-side combine),
    # not a per-bucket window sort; the struct min/max carry the points
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()
    # the 1-row span frame broadcasts onto the fact scan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_candidate_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, "events_heavy_hitter_users", sf_dir)
    # the exact verify counts ONLY candidates, joined by broadcast —
    # the full user cardinality must never reach a shuffle-side join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_funnel_single_user_exchange(spark, sf_dir):
    import re

    plan = _plan(spark, "events_window_funnel_24h", sf_dir)
    # all three conditional window-mins stack over ONE hashpartitioning
    # on user_id — no re-exchange between funnel steps (the replaced
    # crossJoin(total) used to duplicate the whole per-user subtree)
    assert plan.count("hashpartitioning(user_id") == 1
    assert len(re.findall(r"Scan parquet", plan)) <= 2
    # 3 funnel windows + reach/total rollup windows over the 3-row frame
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 5
    assert "SortMergeJoin" not in plan


def test_kmv_incremental_bottom_k_plans_as_group_limit(spark, sf_dir):
    plan = _plan(spark, "events_kmv_incremental", sf_dir)
    # every bottom-k (rk <= k) window must plan as WindowGroupLimit —
    # the partial top-k filter BEFORE the exchange, which is what keeps
    # merge state at O(k) rows per key instead of a full sort
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_bitmap_joins_are_chunk_keyed_never_member_keyed(spark, sf_dir):
    """Segment algebra may shuffle-join BITMAP rows (chunk-aligned
    merge join is the at-scale design), but no join anywhere may key
    on the raw member id — that would mean member rows got re-joined
    after the one-time bitmap build. Erase masks must broadcast."""
    import re

    for name in ("events_bitmap_segments", "events_bitmap_erasure"):
        plan = _plan(spark, name, sf_dir)
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if re.match(r"\(\d+\) SortMergeJoin", ln):
                keys = lines[i + 1] if i + 1 < len(lines) else ""
                assert ("chunk" in keys) or ("type_a" in keys), (
                    name, ln, keys,
                )  # bitmap-chunk or pair-rollup keys only
                assert "user_id" not in keys, (name, ln, keys)
        assert "BroadcastHashJoin" in plan, name


def test_jl_projection_is_narrow(spark, sf_dir):
    # a data-independent projection must fuse into the scan: no
    # Exchange, no Join, and the embedding column read via pruning
    plan = _plan(spark, "embeddings_jl_project", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "label" not in plan  # untouched column pruned from the scan


def test_bootstrap_draws_fanout_parallelism_guard(spark, sf_dir, count_jobs):
    """The b× replicate fan-out of a narrow single-file scan must run
    at session parallelism: ``grouped_replicate_partials`` repartitions
    before its Arrow pass instead of folding every row on one core."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.bootstrap import (
        grouped_replicate_partials,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    sc = spark.sparkContext
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    assert src.rdd.getNumPartitions() < sc.defaultParallelism  # narrow scan
    count_jobs(
        "boot-guard",
        lambda: grouped_replicate_partials(src, "o_orderpriority", "o_orderkey", "c", b=40),
    )
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup("boot-guard")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert max(st.numTasks for st in stages if st) >= min(sc.defaultParallelism, 8)


def test_top_sf1_entries_plan_budgets(spark, sf_dir):
    """Plan budgets for the 15 most expensive sf1 entries (VERDICT r8
    next-round #8): a future wave cannot land a scale-killer in the
    heavy hitters without failing CI. Budgets pin the CURRENT plan
    shape with zero headroom on the dangerous axes — shuffle count,
    cartesian products, row-at-a-time Python — and allow the declared
    Arrow-batched codec/stateful nodes where they are the design.
    BroadcastNestedLoopJoin counts are pinned too: the only BNLJ sites
    are 1-row broadcast matrix joins (kmeans/IVF centroid tables), so
    growth means a real nested-loop crept in. Streaming drains are
    excluded (their queries() surface is a memory-sink batch read, not
    the streaming plan).

    NOTE for future waves: budgets are (max_shuffles, max_arrow,
    max_bnlj) — if a legitimate plan change moves one, update the row
    in the same commit and say why in SCALING.md.
    """
    from data_pipelines_snowflake_procedures_spark.plans.advisor import (
        plan_report,
    )

    budgets = {
        # name: (max_shuffles, max_arrow_python, max_bnlj)
        "multimodal_mjpeg_video_documents": (1, 1, 0),
        # r10 optimization: the cluster-keyed pair self-join is now one
        # cluster-keyed Exchange into the per-cluster Arrow cosine
        # kernel (the old budget's 0 shuffles reflected an AQE-hidden
        # join exchange pair; the kernel makes the one real shuffle
        # explicit and removes the per-pair JVM fold)
        "embedding_near_dup_kmeans": (1, 1, 2),
        "documents_textrank_chunks": (2, 0, 0),
        "trade_graph_pagerank": (0, 0, 0),
        "events_wallet_balance_scan": (2, 1, 0),
        "part_item_item_cf": (0, 0, 0),
        "multimodal_features_documents": (0, 4, 0),
        "part_copurchase_kcore": (1, 0, 0),
        "supplier_graph_bfs_hops": (0, 0, 0),
        "multimodal_adpcm_audio_documents": (1, 1, 0),
        "trade_graph_labelprop": (0, 0, 0),
        "nation_revenue_bridge": (0, 0, 0),
        "knn_recall_report_quantized": (0, 0, 0),
        # r10 optimization: the residual assignment, the corpus encode
        # (index build) and the approximate scan are each one Arrow
        # kernel (codes-only emission: query_id/neighbor_id/raw
        # score), which also drops the probe-broadcast BNLJ layers
        # (7 -> 1: only the query-probe matrix remains) and an
        # exchange; every kernel is bit-identical to the JVM fold it
        # replaces (per-dimension index-order accumulation)
        "knn_ivfpq_embeddings": (2, 3, 1),
        "multimodal_sniff_documents": (0, 4, 0),
        # round-9 additions whose sf1 time exceeds 10 s
        "documents_rake_keywords": (0, 0, 0),
        "trade_graph_hits": (0, 0, 0),
        # round-9 continuation wave (E261-E272): novelty
        # is 3 exchanges (gram-stat groupBy, first-seen join, rollup)
        "documents_ngram_novelty": (3, 0, 0),
        # r10 optimization: LOF now surfaces its real (lazy) plan — one
        # cell-keyed Exchange into the per-cell Arrow kernel, plus the
        # 1-row centroid-matrix broadcast (BNLJ); previously it hid
        # behind a localCheckpoint scan with budget (0, 0, 0)
        "embeddings_lof_outliers": (1, 1, 1),
        # round-10 completion of the E246-E276 coverage (VERDICT r9
        # #4): every wave entry with sf1 > 5 s is pinned. TwoNN, like
        # LOF, surfaces a localCheckpoint scan (pipeline budgeted by
        # its persisted-stage structure); ljung-box runs on HOURLY-
        # grain aggregates, so its 12 exchanges and 5 one-row scalar
        # BNLJ broadcasts move kilobytes (sf1 ratio 1.03).
        "part_croston_demand_forecast": (2, 0, 0),
        "events_hourly_ljung_box": (12, 0, 5),
        "orders_little_law_wip": (4, 0, 0),
        # r10 optimization: TwoNN surfaces its real plan (the LOF shape
        # + the final single-partition estimator aggregate)
        "embeddings_intrinsic_dimension": (2, 1, 1),
        # round-10 additions with sf1 > 5 s: FLIC is one repartition +
        # one Arrow codec node (the MJPEG shape); Davies-Bouldin's 6
        # BNLJ are 1-row scalar broadcasts and its k-sized joins are
        # hinted broadcasts; bottom-k sketch pays its per-slice windows
        # + exact-calibration ranks (the calibration drops at scale)
        "multimodal_flc_video_documents": (1, 1, 0),
        # r10 optimization: the per-cluster scatter frame (k rows) is
        # materialized once, so the three readouts no longer replay
        # the full-corpus assignment scan each (8 exchanges + 6
        # scalar BNLJ -> 3 exchanges + 1), and the fixed-k=8
        # assignment runs in the Arrow kernel inside that one pass
        "embeddings_davies_bouldin": (3, 0, 1),
        "documents_term_burstiness": (3, 0, 1),
        "events_quantile_sketch_bottomk": (8, 0, 0),
        # round-10 continuation entries with sf1 > 5 s: Jaccard link
        # prediction is the AA wedge layout (wedge self-join + degree
        # joins, all broadcast-hashed); the tar round trip is one
        # shard repartition + the Arrow codec node + the digest
        # rollup; DSIR materializes its top-20 eagerly (plan is the
        # local result — the pipeline shape is documented and benched,
        # sf1 ratio 2.37 on 100x data)
        "supplier_graph_jaccard_linkpred": (4, 0, 0),
        "webdataset_tar_documents": (3, 1, 0),
        "documents_dsir_importance": (0, 0, 0),
    }
    for name, (max_sh, max_arrow, max_bnlj) in budgets.items():
        report = plan_report(REGISTRY[name].spark_fn(spark, sf_dir))
        assert report["shuffles"] <= max_sh, (
            f"{name}: {report['shuffles']} shuffles > budget {max_sh}"
        )
        assert report["row_python"] == 0, f"{name}: row-Python in plan"
        assert report["arrow_python"] <= max_arrow, (
            f"{name}: {report['arrow_python']} Arrow-Python nodes > "
            f"budget {max_arrow}"
        )
        assert not report["joins"].get("CartesianProduct"), (
            f"{name}: cartesian product in plan"
        )
        assert report["joins"].get("BroadcastNestedLoopJoin", 0) <= max_bnlj, (
            f"{name}: BNLJ count exceeds the pinned 1-row matrix joins"
        )
