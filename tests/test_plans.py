"""Plan-shape regression tests: the performance contract at 100 TB.

Results staying correct is not enough — these pin that filters reach
the parquet scan, dimension joins broadcast, self-joins reuse their
shuffle, and nothing degenerates into a cartesian product.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from fb_ads_bigquery_etl_spark.plans import inspect as PI
from tests.conftest import SF_DIR


def _q(spark, name):
    return entry_mod.queries()[name](spark, SF_DIR)


def test_pricing_summary_filter_pushdown(spark):
    pushed = PI.pushed_filters(_q(spark, "pricing_summary"))
    assert any("l_shipdate" in p for p in pushed), pushed


def test_pricing_summary_reads_only_needed_columns(spark):
    plan = PI.explain_str(_q(spark, "pricing_summary"))
    assert "l_comment" not in plan  # column pruning reaches the scan
    assert "ReadSchema" in plan


def test_revenue_by_nation_broadcasts_dims(spark):
    df = _q(spark, "revenue_by_nation")
    assert PI.broadcast_join_count(df) >= 2  # customer + nation at least
    assert not PI.has_cartesian(df)


def test_minhash_pipeline_runs_once(spark):
    """The banded self-join + verification joins must consume ONE
    materialization of the signature pipeline (cache scans), not
    recompute md5+minhash per consumer: exactly one parquet scan."""
    nc = PI.node_counts(_q(spark, "dedup_minhash_lsh"), execute=True)
    assert nc["InMemoryTableScan"] >= 2, nc
    assert nc["Scan"] == 1, nc  # documents.parquet read exactly once


def test_simhash_pipeline_runs_once(spark):
    nc = PI.node_counts(_q(spark, "dedup_simhash"), execute=True)
    assert nc["InMemoryTableScan"] >= 2, nc
    assert nc["Scan"] == 1, nc


def test_ngram_pipeline_runs_once(spark):
    nc = PI.node_counts(_q(spark, "dedup_ngram_jaccard"), execute=True)
    assert nc["InMemoryTableScan"] >= 2, nc
    assert nc["Scan"] == 1, nc


def test_daily_rollup_pushes_date_filter(spark):
    pushed = PI.pushed_filters(_q(spark, "daily_rollup"))
    assert pushed, "date filter should reach the orders scan"


def test_no_cartesian_anywhere(spark):
    """No query in the inventory may plan a cartesian product (the ANN
    queries use an intentional 1-row broadcast crossjoin, which is a
    BroadcastNestedLoopJoin, not CartesianProduct)."""
    for name in sorted(entry_mod.queries()):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert not PI.has_cartesian(df), f"{name} plans a CartesianProduct"


def test_agg_queries_have_partial_aggregation(spark):
    """Group-bys must map-side combine (two HashAggregate levels) so the
    shuffle moves partial states, not raw rows."""
    for name in ["pricing_summary", "daily_rollup", "conditional_agg"]:
        counts = PI.node_counts(_q(spark, name))
        assert counts["HashAggregate"] >= 2, f"{name}: no partial agg"


def test_tpch_shape_queries_broadcast_dims(spark):
    for name, min_bhj in [
        ("volume_shipping", 2),
        ("market_share", 3),
        ("profit_by_nation", 2),
        ("returned_revenue", 2),
        ("large_orders", 2),
    ]:
        df = _q(spark, name)
        assert PI.broadcast_join_count(df) >= min_bhj, name
        assert not PI.has_cartesian(df), name


def test_rolling_window_single_shuffle(spark):
    """A partitioned window function needs exactly one exchange (on the
    partition key) — a second one would mean an accidental repartition."""
    assert PI.exchange_count(_q(spark, "rolling_30d_spend")) == 1


def test_split_assignment_is_narrow(spark):
    """Split assignment itself must not shuffle; the only exchange in the
    query is the final tiny groupBy(split) aggregation."""
    assert PI.exchange_count(_q(spark, "train_test_split")) <= 2


def test_centroids_partial_aggregation(spark):
    counts = PI.node_counts(_q(spark, "embedding_centroids"))
    assert counts["HashAggregate"] >= 2, "centroids must map-side combine"


def test_large_orders_preagg_shrinks_build_side(spark):
    """Q18 shape: the HAVING aggregation runs on the lineitem side and is
    then broadcast — so the plan must show partial+final aggregation AND
    a broadcast join consuming it (no shuffle join against raw lineitem)."""
    counts = PI.node_counts(_q(spark, "large_orders"))
    assert counts["HashAggregate"] >= 2, counts
    assert counts["SortMergeJoin"] == 0 and counts["ShuffledHashJoin"] == 0, counts


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark (tiny) side must broadcast — a shuffle join here
    would re-shuffle the full training shingle set at corpus scale."""
    df = _q(spark, "contamination_check")
    assert PI.broadcast_join_count(df) >= 1
    counts = PI.node_counts(df)
    assert counts["SortMergeJoin"] == 0, counts


def test_new_tpch_shapes_broadcast_and_push(spark):
    for name, min_bhj in [
        ("priority_count", 1),
        ("local_supplier_volume", 3),
        ("shipping_delay_priority", 1),
        ("excess_shippers", 2),
        ("quartile_bucket", 1),
    ]:
        df = _q(spark, name)
        assert PI.broadcast_join_count(df) >= min_bhj, name
        assert not PI.has_cartesian(df), name
        assert PI.pushed_filters(df), name


def test_knn_join_broadcasts_query_batch(spark):
    """The kNN join must broadcast the query side (BroadcastNestedLoop
    over the corpus scan), never shuffle the corpus."""
    df = _q(spark, "knn_join")
    plan = PI.explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or PI.broadcast_join_count(df) >= 1
    assert not PI.has_cartesian(df)


def test_conversion_funnel_is_pure_aggregation(spark):
    """Funnel = two stacked aggs, no self-joins: adding a stage must not
    add a scan or a join (the anti-pattern is one join per stage)."""
    df = _q(spark, "conversion_funnel")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert not PI.has_cartesian(df)


def test_cohort_retention_single_wide_shuffle(spark):
    """collect_set(month) keyed on o_custkey is the only data-sized
    exchange; the (cohort, k) agg exchanges a calendar-sized result."""
    df = _q(spark, "cohort_retention")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    # custkey agg + tiny final agg + output sort — nothing else
    assert PI.exchange_count(df) <= 3, PI.explain_str(df)


def test_null_safe_join_stays_broadcast_hash(spark):
    """eqNullSafe is hashable: it must plan as a broadcast HASH join,
    never a nested-loop (which would be quadratic at scale)."""
    df = _q(spark, "null_safe_join")
    assert PI.broadcast_join_count(df) >= 1
    plan = PI.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert not PI.has_cartesian(df)


def test_lang_distribution_prunes_unused_text_fields(spark):
    """fields=('lang_pred',) must keep the md5 fingerprint and BPE regex
    out of the plan entirely — pruning happens at plan construction."""
    plan = PI.explain_str(_q(spark, "lang_distribution"))
    assert "md5" not in plan
    assert not PI.has_cartesian(_q(spark, "lang_distribution"))


def test_corr_price_qty_single_pass(spark):
    """All five moments come from ONE scan + ONE agg — no per-moment
    subqueries, no join of partial results."""
    df = _q(spark, "corr_price_qty")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert nc["Scan"] == 1, nc


def test_round2_small_ops_plan_shapes(spark):
    # gap_fill: daily agg broadcasts into the generated spine; the date
    # filter reaches the orders scan
    df = _q(spark, "gap_fill_daily")
    assert PI.broadcast_join_count(df) >= 1
    assert PI.pushed_filters(df)
    # levenshtein near-dup: blocked self-join, never a cartesian
    df = _q(spark, "dedup_levenshtein")
    assert not PI.has_cartesian(df)
    # weighted sample: scalar max broadcasts; no sort-merge anywhere
    df = _q(spark, "weighted_sample")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0, nc


def test_trend_by_nation_broadcasts_dims(spark):
    df = _q(spark, "trend_by_nation")
    assert PI.broadcast_join_count(df) >= 2  # customer + nation
    assert not PI.has_cartesian(df)


def test_moment_queries_are_join_free(spark):
    for name in ("anomaly_zscore", "lang_gini_by_source"):
        df = _q(spark, name)
        nc = PI.node_counts(df)
        assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, (name, nc)
        assert nc["Scan"] == 1, (name, nc)


def test_reservoir_per_group_has_no_window(spark):
    """The per-group reservoir must be the two-phase hash-aggregate
    top-k: a row_number() window over `source` (20 distinct values)
    would funnel the whole corpus into 20 tasks at any cluster size."""
    df = _q(spark, "reservoir_per_group")
    plan = PI.explain_str(df)
    assert "Window" not in plan, plan
    nc = PI.node_counts(df)
    assert nc["ObjectHashAggregate"] >= 2, nc  # partial + merge phases


def test_round3_new_ops_plan_shapes(spark):
    # CDC apply: one hash aggregate (max_by), partial+final, no window
    df = _q(spark, "cdc_changelog_apply")
    plan = PI.explain_str(df)
    assert "Window" not in plan
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0, nc
    # salted join: the join must key on (l_orderkey, _salt) — a salted
    # exchange, not a broadcast of the replicated dim
    df = _q(spark, "skew_salted_join")
    assert "_salt" in PI.explain_str(df)
    assert not PI.has_cartesian(df)
    # URL dedup: pure expressions + one aggregate — no join, no window
    df = _q(spark, "dedup_url_canonical")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert "Window" not in PI.explain_str(df)
    # attribution: the touch-count window keys on the high-cardinality
    # purchase id, never on a low-cardinality column
    plan = PI.explain_str(_q(spark, "attribution_linear"))
    assert "partitionBy=[p_id" in plan.replace(" ", "") or "[p_id#" in plan
    # table diff: change-sized output still must not cartesian
    assert not PI.has_cartesian(_q(spark, "table_diff"))
    # pagerank: linear lineage — 3 iterations, no cartesian
    assert not PI.has_cartesian(_q(spark, "pagerank"))


def test_global_rank_window_keyed_by_bucket(spark):
    """The only corpus-sized window must be keyed by the range bucket;
    the global (unkeyed) prefix-sum window runs over per-bucket counts
    — an aggregate output, never the raw table."""
    df = _q(spark, "global_rank")
    plan = PI.explain_str(df)
    assert "_bkt" in plan
    nc = PI.node_counts(df)
    assert nc["HashAggregate"] >= 2  # partial+final bucket counts


def test_round3_second_batch_plan_shapes(spark):
    # balanced mix: window-free two-phase top-k (like the reservoir)
    df = _q(spark, "balanced_mix")
    assert "Window" not in PI.explain_str(df)
    nc = PI.node_counts(df)
    assert nc["ObjectHashAggregate"] >= 2, nc
    # topk_per_group_agg rides the same shared core
    df = _q(spark, "topk_per_group_agg")
    assert "Window" not in PI.explain_str(df)
    # CMS: the token-count base is cached and consumed by both the
    # sketch build and the probe — documents scans exactly once
    nc = PI.node_counts(_q(spark, "heavy_hitters_cms"), execute=True)
    assert nc["InMemoryTableScan"] >= 2, nc
    assert nc["Scan"] == 1, nc
    # inverted index: one exploded scan, partial+final aggregation
    nc = PI.node_counts(_q(spark, "inverted_index"))
    assert nc["Scan"] == 1, nc
    assert nc["HashAggregate"] + nc["ObjectHashAggregate"] >= 2, nc


def test_overlap_pairs_is_join_free_single_scan(spark):
    """Round-4 shape: postings-list pair expansion replaced the
    inverted-index self-join — one documents scan, NO join (pairs
    expand narrowly inside each fp group), and a repartition spreads
    the CPU-bound winnowing stage across cores."""
    df = _q(spark, "overlap_pairs")
    plan = PI.explain_str(df)
    nc = PI.node_counts(df)
    assert nc["Scan"] == 1, nc
    assert "Join" not in plan, plan
    assert nc["HashAggregate"] + nc["ObjectHashAggregate"] >= 2, nc


def test_percent_rank_has_no_group_only_window(spark):
    """q_percent_rank must never plan a window partitioned only by
    o_orderpriority (5 distinct values -> <=5 tasks for the whole
    table). Its windows run over the distinct-value aggregate keyed by
    (group, range-bucket) or over per-bucket counts — both bounded."""
    import re

    df = _q(spark, "percent_rank")
    plan = PI.explain_str(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the percent_rank plan"
    for spec in specs:
        parts = [p.strip() for p in spec.split(",")]
        part_keys, order_keys = set(), set()
        for p in parts:
            if "#" not in p:
                continue
            name = p.split("#")[0]
            if " ASC" in p or " DESC" in p:
                order_keys.add(name)
            elif not order_keys:
                part_keys.add(name)
        # group-only partition is fine ONLY for the metadata-sized
        # prefix window over per-bucket counts (ordered by _bkt);
        # ordered by the value column it would be the table straggler
        if part_keys == {"o_orderpriority"}:
            assert order_keys == {"_bkt"}, spec
    # the straggler shape is gone but the decomposition is still
    # broadcast-stitched: bucket offsets and group sizes arrive in a
    # single broadcast join (fused since round 5's one-shuffle rewrite)
    assert PI.broadcast_join_count(df) >= 1


def test_full_schema_join_broadcasts_all_dims(spark):
    """Seven-table join: every dimension side must broadcast (the only
    data-sized pass is the filtered lineitem scan) and the date filter
    must reach the scan."""
    df = _q(spark, "full_schema_join")
    assert PI.broadcast_join_count(df) >= 4
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)
    assert any("l_shipdate" in p for p in PI.pushed_filters(df))


def test_round4_new_ops_plan_shapes(spark):
    # chunking: tokenize -> sequence -> explode -> project, NO shuffle at
    # all (the registered query adds only the presentation sort)
    from fb_ads_bigquery_etl_spark.operators.packing import chunk_token_windows

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chunks = chunk_token_windows(d, size=32, stride=24)
    assert PI.exchange_count(chunks) == 0, PI.explain_str(chunks)
    # pii + repetition audits: narrow projection + one partial/final agg,
    # join-free and window-free
    for name in ("pii_redaction", "repetition_stats"):
        df = _q(spark, name)
        nc = PI.node_counts(df)
        assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, (name, nc)
        assert "Window" not in PI.explain_str(df), name
        assert nc["HashAggregate"] >= 2, (name, nc)  # partial + final
    # feature scaling: the dim-stats frame must come back as a BROADCAST,
    # never a corpus-sized shuffle join
    df = _q(spark, "embedding_normalize")
    assert PI.broadcast_join_count(df) >= 1
    assert not PI.has_cartesian(df) or PI.node_counts(df)["BroadcastNestedLoopJoin"] >= 1
    # vocab coverage: the top-50 vocab broadcasts into the tagging join
    df = _q(spark, "vocab_coverage")
    assert PI.broadcast_join_count(df) >= 1
    assert not PI.has_cartesian(df)


def test_round4_second_batch_plan_shapes(spark):
    # containment: postings-list pairs (no self-join of the corpus-sized
    # fingerprint frame) — the only joins are the id-keyed size lookups
    df = _q(spark, "containment_pairs")
    assert not PI.has_cartesian(df)
    nc = PI.node_counts(df, execute=True)
    assert nc["Scan parquet "] <= 2, nc  # text scan + size-lookup scan reuse
    # cross-source matrix: LSH pair generation must stay banded (no
    # cartesian), label joins keyed on doc_id
    df = _q(spark, "cross_source_dups")
    assert not PI.has_cartesian(df)
    # chunk dedup: explode + ONE partial/final aggregate pair, join-free
    df = _q(spark, "chunk_dedup_rate")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert "Window" not in PI.explain_str(df)


def test_round4_ann_plan_shapes(spark):
    # LSH probe: the 1-row query side must BROADCAST into the non-equi
    # probe join (a nested-loop against one row is a filter, not a
    # cartesian blowup); bucket assignment is a narrow expression
    df = _q(spark, "ann_lsh")
    nc = PI.node_counts(df)
    assert nc["BroadcastNestedLoopJoin"] >= 1, nc
    assert nc["SortMergeJoin"] == 0, nc
    # recall eval: every recall join is over two 10-row top-k frames —
    # nothing may sort-merge
    df = _q(spark, "ann_recall")
    assert PI.node_counts(df)["SortMergeJoin"] == 0
    # cluster-size histogram: two tiny hash aggregates after the
    # fixpoint; no cartesian anywhere in the pair generation
    assert not PI.has_cartesian(_q(spark, "dup_cluster_stats"))


def test_round4_audit_plan_shapes(spark):
    # funnel: quality/repetition in one narrow scan; LSH pair generation
    # stays banded (no cartesian); the transition window keys on the
    # high-cardinality user_id, never a static enum
    assert not PI.has_cartesian(_q(spark, "corpus_funnel"))
    plan = PI.explain_str(_q(spark, "transition_counts"))
    assert "partitionBy=[user_id" in plan.replace(" ", "") or "[user_id#" in plan
    # skew audit: five map-side-combined aggregates, join-free
    df = _q(spark, "skew_audit")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert nc["HashAggregate"] >= 10, nc  # partial+final per key column


def test_round4_retrieval_plan_shapes(spark):
    # bm25: corpus stats collapse to ONE broadcast row; scoring is narrow;
    # the reduction is top-k, never a full sort shuffle
    df = _q(spark, "bm25_topk")
    nc = PI.node_counts(df)
    assert nc["BroadcastNestedLoopJoin"] >= 1, nc  # 1-row stats side
    assert nc["SortMergeJoin"] == 0, nc
    assert "TakeOrderedAndProject" in PI.explain_str(df)
    # confusion matrix: narrow scoring + one tiny aggregate, join-free
    df = _q(spark, "lang_confusion")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc


def test_round4_batch6_plan_shapes(spark):
    # frequent pairs: the fused basket expansion is JOIN-FREE — one
    # collect_set aggregate, one narrow Generate (the C(k,2) array
    # expansion), one support aggregate; no window, no cartesian
    df = _q(spark, "frequent_pairs")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert nc["Generate"] >= 1, nc
    plan = PI.explain_str(df)
    assert "Window" not in plan
    assert not PI.has_cartesian(df)
    # grouped mode: struct-max over two hash aggregates — the part dim
    # broadcasts; NO row_number window (the scale contract for arg-max)
    df = _q(spark, "mode_brand")
    assert PI.broadcast_join_count(df) >= 1
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)
    # EWMA: scatter-not-window — one Generate (the 11-lag explode), one
    # keyed aggregate, and NO ordered window over the series
    df = _q(spark, "ewma_daily")
    nc = PI.node_counts(df)
    assert nc["Generate"] >= 1, nc
    assert "Window" not in PI.explain_str(df)
    # outlier screen: centroid sums and label norms come back as
    # BROADCASTS (labels x dims rows), never a corpus-sized shuffle join
    df = _q(spark, "embedding_outliers")
    assert PI.broadcast_join_count(df) >= 2
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)


def test_triangle_count_is_materialized_one_row(spark):
    # the returned frame is the eagerly-checkpointed 1-row audit — the
    # persisted edge/orientation/wedge frames are unpersisted inside the
    # query, so the plan the caller sees is a bare checkpoint scan (no
    # recompute of the quadratic pipeline per downstream consumer)
    df = _q(spark, "triangle_count")
    assert df.columns == ["n_edges", "n_wedges", "n_triangles"]
    assert "Scan ExistingRDD" in PI.explain_str(df)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_triangles"] >= 0


def test_round4_batch7_plan_shapes(spark):
    # distinctive terms: scoring joins broadcast (totals + 1-row global
    # stats) and the top-k is the window-free two-phase core
    df = _q(spark, "distinctive_terms")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 2, nc
    assert nc["BroadcastNestedLoopJoin"] >= 1, nc  # 1-row globals side
    assert "Window" not in PI.explain_str(df)
    # centroid separation: the corpus explode runs ONCE (cen is
    # checkpointed); downstream is metadata-sized joins — window-free
    df = _q(spark, "centroid_distances")
    nc = PI.node_counts(df)
    assert nc["Generate"] == 0, nc  # no re-explode after the checkpoint
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)
    # degree histogram: keyed aggregates + union, join only to build the
    # pair list; no window
    df = _q(spark, "degree_histogram")
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)
    # intersect-all: Spark's count-compare rewrite — aggregate +
    # generate, never a sort-based set op or window
    df = _q(spark, "intersect_all")
    nc = PI.node_counts(df)
    assert nc["Generate"] >= 1 and nc["HashAggregate"] >= 2, nc
    assert "Window" not in PI.explain_str(df)


def test_streaming_enrich_matches_segments(spark):
    # the drained stream-static join emits one row per observed segment
    # (exact values are gated by the DuckDB oracle parity test)
    df = _q(spark, "streaming_enrich")
    rows = df.collect()
    segs = [r["c_mktsegment"] for r in rows]
    assert 1 <= len(segs) <= 5 and len(segs) == len(set(segs)), rows
    assert df.columns == ["c_mktsegment", "n_events", "value_micros"]


def test_round4_batch8_plan_shapes(spark):
    # rolling exact distinct: scatter (one Generate) + keyed distinct —
    # NEVER a range-frame window over the day series
    df = _q(spark, "rolling_distinct_users")
    nc = PI.node_counts(df)
    assert nc["Generate"] >= 1, nc
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)
    # ratio-to-total: nation totals come back BROADCAST; no
    # SUM-OVER-PARTITION window funneling suppliers per nation
    df = _q(spark, "share_of_nation")
    assert PI.broadcast_join_count(df) >= 3  # supplier + nation + totals
    assert "Window" not in PI.explain_str(df)
    # conversion latency: two keyed min-aggregates, dim broadcast, no
    # ordered window over the event stream
    df = _q(spark, "time_to_convert")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 2, nc
    assert "Window" not in PI.explain_str(df)
    # aggregate-then-top-k: the fact agg is fully parallel and the
    # ranking goes through the two-phase struct core (ObjectHashAggregate
    # pairs), not a ROW_NUMBER window partitioned by ~25 nations
    df = _q(spark, "top_parts_per_nation")
    nc = PI.node_counts(df)
    assert nc["ObjectHashAggregate"] >= 2, nc
    assert "Window" not in PI.explain_str(df)
    assert not PI.has_cartesian(df)


def test_round4_batch9_plan_shapes(spark):
    # 2D histogram: ONE partial/final hash-agg pair, join-free, output
    # bounded by the bucket grid
    df = _q(spark, "histogram_2d")
    nc = PI.node_counts(df)
    assert nc["HashAggregate"] == 2, nc
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    assert PI.exchange_count(df) <= 2
    # PMI pairs: vocab materialized once (df lookups broadcast), the
    # only nested-loop is the 1-row n_docs side, tokenize runs at most
    # twice (vocab build + prune) — never once per vocab consumer
    df = _q(spark, "term_pmi_pairs")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 3, nc
    assert nc["BroadcastNestedLoopJoin"] <= 1, nc
    assert nc["Generate"] <= 2, nc
    assert "Window" not in PI.explain_str(df)
    # exact grouped median: the cumulative window runs over the VALUE
    # HISTOGRAM (post-aggregate frame), so a hash aggregate must sit
    # below the window and the whole query needs <= 3 exchanges
    df = _q(spark, "median_exact_by_group")
    plan = PI.explain_str(df)
    assert "Window" in plan
    assert PI.node_counts(df)["HashAggregate"] >= 3, PI.node_counts(df)
    assert PI.exchange_count(df) <= 3


def test_dedup_keep_best_no_window_struct_max(spark):
    # survivor selection is a struct-max hash aggregate per component +
    # an AQE-decided anti-join — never a ROW_NUMBER window (that's only
    # the oracle's formulation)
    df = _q(spark, "dedup_keep_best")
    plan = PI.explain_str(df)
    assert "Window" not in plan
    assert "LeftAnti" in plan, plan[:1500]
    assert not PI.has_cartesian(df)


def test_partitioned_write_static_partition_pruning(spark, tmp_path):
    """L5 day-partitioned layout: an equality filter on the partition
    column must land in PartitionFilters (directory pruning — the scan
    never lists the other days), not in data filters."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark import sinks

    o = (
        entry_mod._t(spark, SF_DIR, "orders")
        .filter(F.col("o_orderdate") >= "2001-07-01")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("date_start"),
        )
    )
    path = str(tmp_path / "po")
    sinks.write_partitioned(o, path, mode="overwrite")
    back = spark.read.parquet(path)
    one_day = o.agg(F.max("date_start")).collect()[0][0]
    q = back.filter(F.col("date_start") == F.lit(one_day))
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[[^\]]*date_start[^\]]*\]", plan)
    assert pf, f"partition filter not pushed to directory pruning:\n{plan}"
    assert q.count() > 0


def test_partitioned_join_dynamic_partition_pruning(spark, tmp_path):
    """Joining the day-partitioned fact on its partition column against
    a dim with a selective predicate must insert a
    dynamicpruningexpression into the scan: only partitions matching
    the dim's surviving keys are read — the Spark feature that makes
    fact x date-dim joins at 100 TB read days, not history."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark import sinks

    o = (
        entry_mod._t(spark, SF_DIR, "orders")
        .filter(F.col("o_orderdate") >= "2001-07-01")
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("date_start"),
        )
    )
    path = str(tmp_path / "po")
    sinks.write_partitioned(o, path, mode="overwrite")
    back = spark.read.parquet(path)
    one_day = o.agg(F.max("date_start")).collect()[0][0]
    dim = (
        spark.range(0, 10)
        .select(
            F.date_add(F.lit(one_day), (F.col("id") * -1).cast("int")).alias(
                "date_start"
            ),
            F.col("id").alias("k"),
        )
        .filter(F.col("k") < 2)
    )
    q = back.join(dim, "date_start").select("o_orderkey", "k")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        f"expected dynamic partition pruning in scan:\n{plan}"
    )
    assert q.count() > 0


def test_round6_plan_shapes(spark):
    # tokenizer_fertility: the vocab-sized pieces frame must BROADCAST
    # into the corpus token stream — a shuffle join would move the
    # corpus-sized side on the word key
    df = _q(spark, "tokenizer_fertility")
    assert PI.broadcast_join_count(df) >= 1
    assert not PI.has_cartesian(df)
    # quantized recall: both knn sides are broadcast-query nested loops
    # (a non-equi probe against a 10-row frame); nothing may sort-merge
    # the corpus
    df = _q(spark, "ann_quantized_recall")
    nc = PI.node_counts(df)
    assert nc["BroadcastNestedLoopJoin"] >= 2, nc
    assert nc["SortMergeJoin"] == 0, nc
    # semdedup: centroid assignment broadcasts the centroid table; the
    # pair join is bucket-blocked (equi on bucket), never cartesian
    df = _q(spark, "semdedup")
    assert not PI.has_cartesian(df)
    assert PI.node_counts(df)["BroadcastNestedLoopJoin"] >= 1
    # ngram_lm_quality: the shared exploded bigram stream must be CACHED
    # (one corpus tokenize, three consumers) and the model join must not
    # re-shuffle raw text
    plan = PI.explain_str(_q(spark, "ngram_lm_quality"))
    assert "InMemoryTableScan" in plan


def test_round6_batch2_plan_shapes(spark):
    # zorder_stats: unrolled bit arithmetic + ONE map-side-combined agg;
    # no joins of any kind touch the fact table
    df = _q(spark, "zorder_stats")
    nc = PI.node_counts(df)
    assert nc["HashAggregate"] >= 2, nc
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    # k_anonymity: two stacked aggregates (group sizes -> thresholds),
    # both map-side combined; at most the two agg exchanges
    df = _q(spark, "k_anonymity")
    nc = PI.node_counts(df)
    assert nc["HashAggregate"] >= 4, nc
    assert PI.exchange_count(df) <= 2, PI.exchange_count(df)
    # media_format_audit: pure narrow projection + one metadata-keyed
    # agg; detection must not join or window
    df = _q(spark, "media_format_audit")
    nc = PI.node_counts(df)
    assert nc["SortMergeJoin"] == 0 and nc["Window"] == 0, nc
    assert not PI.has_cartesian(df)


def test_round7_plan_shapes(spark):
    # quality_classifier: the weight table must BROADCAST (vocab-sized
    # build side) and the per-doc sum must partially aggregate before
    # the doc-key shuffle; no cartesian anywhere. `source` rides
    # THROUGH the doc-keyed groupBy (extra_cols), so there is no
    # SortMergeJoin back to documents and exchanges stay at the two
    # agg shuffles + the final orderBy, PLUS (at this test scale only)
    # the round-robin spread() of the single-file documents scan — the
    # tokenize+hash explode would otherwise run on one core; at real
    # scale the scan already carries >= cores partitions and spread is
    # a no-op, so the shape there is 3
    df = _q(spark, "quality_classifier")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 1, nc
    assert nc["HashAggregate"] >= 2, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert PI.exchange_count(df) <= 4, PI.exchange_count(df)
    assert not PI.has_cartesian(df)
    # zorder_multi: unrolled 3-column interleave is pure arithmetic —
    # one map-side-combined agg, no joins/windows on the fact scan
    df = _q(spark, "zorder_multi")
    nc = PI.node_counts(df)
    assert nc["HashAggregate"] >= 2, nc
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    # epoch_shuffle gate: three TakeOrdered top-k stages (distributed
    # limit+sort), never a global Sort of the corpus feeding a Limit
    df = _q(spark, "epoch_shuffle")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 3, plan


def test_scd2_single_shuffle_and_cms_broadcast(spark):
    # scd2_history: lag change-detect + lead validity-close share one
    # (key, ts) sort -> exactly ONE exchange and no join
    df = _q(spark, "scd2_history")
    nc = PI.node_counts(df)
    assert nc["Window"] >= 1, nc
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    # exchanges: one for the keyed window + the final global orderBy
    assert PI.exchange_count(df) <= 2, PI.exchange_count(df)
    # cms_heavy_hitters: the sketch is metadata-sized by construction,
    # so every estimate lookup must be a BROADCAST join (3 salts), and
    # the exact re-count partially aggregates
    df = _q(spark, "cms_heavy_hitters")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 3, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)


def test_profile_and_dq_scan_counts(spark):
    # table_profile: ALL five columns profile in ONE scan (fused
    # aggregates), no joins
    df = _q(spark, "table_profile")
    nc = PI.node_counts(df)
    assert nc["Scan"] == 1, nc
    assert nc["SortMergeJoin"] == 0 and nc["BroadcastHashJoin"] == 0, nc
    # dq_checks: five row-level checks fuse into one lineitem scan;
    # uniqueness adds one, referential adds one (+1 orders scan) —
    # at most 3 lineitem reads total, never one per check
    df = _q(spark, "dq_checks")
    nc = PI.node_counts(df)
    assert nc["Scan"] <= 4, nc  # 3x lineitem + 1x orders
    assert not PI.has_cartesian(df)


def test_bloom_semi_join_broadcasts_bitmap(spark):
    # every bloom probe joins the metadata-sized bitmap by BROADCAST
    # (3 probes + the dim join = 4), never a shuffle join
    df = _q(spark, "bloom_semi_join")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 4, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)


def test_jl_recall_broadcasts_query_side(spark):
    # both knn sides (exact float and JL-projected) are broadcast-query
    # nested loops against the 10-row query frame; the corpus never
    # sort-merges
    df = _q(spark, "ann_jl_recall")
    nc = PI.node_counts(df)
    assert nc["BroadcastNestedLoopJoin"] >= 2, nc
    assert nc["SortMergeJoin"] == 0, nc


def test_prefix_jaccard_reuses_one_corpus_scan(spark):
    # four consumers of the hashed-shingle frame (df-count, per-doc
    # ordering, and both verify sides) must all read the shared cache —
    # exactly ONE parquet scan of documents in the whole plan
    df = _q(spark, "dedup_prefix_jaccard")
    nc = PI.node_counts(df)
    assert nc["Scan"] == 1, nc
    assert nc["InMemoryTableScan"] >= 4, nc
    assert not PI.has_cartesian(df)


def test_round8_plan_shapes(spark):
    # ann_pq_recall: the ADC scan joins corpus CODES against the
    # broadcast query-LUT frame; the rerank fetches full vectors for
    # only k*expand rows per query (broadcast candidate frame). No
    # sort-merge join and no cartesian anywhere in the gated plan.
    df = _q(spark, "ann_pq_recall")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 2, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)
    # ann_ivfpq_recall: coarse assignment broadcasts the centroid
    # frame; codes join the broadcast per-(query, bucket) LUT frame;
    # rerank broadcasts the candidate frame — nothing corpus-sized on
    # a shuffle-join build side, no cartesian
    df = _q(spark, "ann_ivfpq_recall")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 1, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)
    # ndcg_mrr_eval: the bounded ranking frame and the label-histogram
    # ideal side must all broadcast — nothing corpus-sized shuffles
    # for a join, and no window touches the corpus (the only window in
    # the whole query ranks the <= k*n_queries candidate frame)
    df = _q(spark, "ndcg_mrr_eval")
    nc = PI.node_counts(df)
    assert nc["BroadcastHashJoin"] >= 2, nc
    assert nc["SortMergeJoin"] == 0, nc
    assert not PI.has_cartesian(df)


def test_unified_manifest_prune_is_metadata_lookup(spark, tmp_path):
    """unified_point_read must plan a scan over ONLY the bloom-passing
    files: the resulting parquet relation's input files are a strict
    subset of the dataset (the pruning happened at PLAN time from the
    manifest, not as a runtime filter)."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.manifest import (
        build_unified_manifest,
        unified_point_read,
    )

    df = spark.range(4_000).select(
        F.col("id"), (F.col("id") * 13 % 4000).alias("k")
    )
    path = str(tmp_path / "t")
    df.repartition(8, "id").write.parquet(path)
    man = build_unified_manifest(spark, path, ("id",), "k")
    got = unified_point_read(spark, man, "k", 26, path=path)
    read_files = got.inputFiles()
    all_files = spark.read.parquet(path).inputFiles()
    assert len(read_files) < len(all_files), (
        len(read_files), len(all_files),
    )
    assert got.count() == 1


def test_ivfpq_batch_probe_plan_shape(spark, tmp_path):
    """The persisted index's serving probe (the benchmark's query op)
    keeps its plan. The candidate plan: one partition-pruned code
    scan, broadcast joins for the tombstone anti-join and the LUT
    frame, and one per-query window (top k*expand) whose exchange is
    the only shuffle. The vector fetch: `rerank_src`'s scan carries
    the candidate ids as one pushed INSET. The result: a driver-side
    snapshot (a LocalTableScan, nothing left to run)."""
    import re

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import similarity
    from fb_ads_bigquery_etl_spark.operators.pq import (
        _probe_candidates,
        _query_rows,
        _vectors_of,
        build_ivfpq_index,
        delete_from_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id"), path
    )
    qs = emb.filter(F.col("vec_id").isin([2, 3, 7, 19]))
    cand = _probe_candidates(
        spark, path, _query_rows(qs, "vec_id", "embedding"),
        k=10, nprobe=2, expand=10,
    )
    plan = PI.explain_str(cand)
    nc = PI.node_counts(plan)
    assert (nc["Window"], nc["BroadcastHashJoin"], nc["Exchange"]) == (
        1, 2, 1
    ), nc
    scans = re.split(r"\n(?=\(\d+\) )", plan)
    pruned = [
        d for d in scans
        if re.match(r"\(\d+\) Scan parquet", d)
        and re.search(r"PartitionFilters: \[bucket#\d+ IN", d)
    ]
    assert len(pruned) == 1, plan[:3000]

    ids = sorted({r["id"] for r in cand.collect()})
    assert len(ids) > 10  # past the IN -> INSET conversion threshold
    fetch = PI.explain_str(_vectors_of(emb, ids, "vec_id", "embedding"), "simple")
    assert re.search(r"DataFilters: \[vec_id#\d+L INSET ", fetch), fetch
    assert "PushedFilters: [In(vec_id, [" in fetch, fetch

    out = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    assert PI.node_counts(out) == {"LocalTableScan": 1}, PI.explain_str(out)
