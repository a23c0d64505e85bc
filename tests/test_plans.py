"""Physical-plan shape tests (SURVEY.md §4 / the 100 TB posture):
pin the optimizations each operator's docstring claims. These fail if
a refactor silently loses a pushdown, broadcast, or rank-limit — the
regressions that don't change results but melt at scale."""

from __future__ import annotations

import pytest

import peerdb_cdc_psql_psql_spark.operators  # noqa: F401  (registers queries)
from peerdb_cdc_psql_psql_spark.plans import (
    assert_plan_contains,
    assert_plan_lacks,
    plan_string,
)
from peerdb_cdc_psql_psql_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _df(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_filter_pushdown_reaches_scan(spark):
    """P2 equality predicate must appear in PushedFilters, not as a
    post-scan Filter only."""
    plan = assert_plan_contains(
        _df(spark, "filter_equality"), "PushedFilters:", "EqualTo(p_brand,Brand#7)"
    )
    assert "Brand#7" in plan


def test_column_pruning_single_column_scan(spark):
    """S1/P1: the scan must read exactly one column."""
    plan = assert_plan_contains(
        _df(spark, "scan_projection"), "ReadSchema: struct<c_custkey:bigint>"
    )
    assert "c_name" not in plan


def test_star_join_broadcasts_dims(spark):
    """Fixed-size dims (region/nation) must broadcast — no shuffle of
    the dimension side at any SF."""
    assert_plan_contains(_df(spark, "star_join_revenue"), "BroadcastHashJoin")


def test_topk_uses_rank_limit_pushdown(spark):
    """W3 top-k per group: WindowGroupLimit keeps k rows per partition
    pre-shuffle instead of ranking everything."""
    assert_plan_contains(_df(spark, "topk_per_group"), "WindowGroupLimit")


def test_global_topk_avoids_full_sort(spark):
    """W2/W3 global top-1: TakeOrderedAndProject, not a global Sort."""
    plan = plan_string(_df(spark, "top1_by_measure"))
    assert "TakeOrderedAndProject" in plan


def test_pricing_summary_partial_aggregation(spark):
    """A-pack: grouped agg must partial-combine map-side (two
    HashAggregate stages around the exchange)."""
    plan = plan_string(_df(spark, "pricing_summary"))
    assert plan.count("HashAggregate") >= 2


def test_no_cartesian_in_reconciliation(spark):
    """Flagship lag report: tiny agg unions — no cartesian blowup, no
    sort-merge join of full tables."""
    assert_plan_lacks(_df(spark, "reconciliation_lag"), "CartesianProduct")


def test_semi_join_no_payload_duplication(spark):
    """J3: left_semi keeps the probe side only."""
    plan = plan_string(_df(spark, "fk_semi_join"))
    assert "LeftSemi" in plan


def test_dedup_blocking_is_equi_join(spark):
    """X2: the near-dup candidate join must be a hash/sort-merge EQUI
    join on shingle — never a nested-loop cross join."""
    plan = plan_string(_df(spark, "dedup_ngram_jaccard"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_broadcast_queries(spark):
    """X3 brute-force top-k: the 5-row query set broadcasts; the
    corpus is never shuffled for scoring."""
    plan = plan_string(_df(spark, "similarity_topk_cosine"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_range_join_is_equi_join(spark):
    """Bucketed range join must compile to an equi hash/sort-merge
    join on (user_id, bucket) — the naive BETWEEN formulation is a
    BroadcastNestedLoopJoin, O(points × intervals), a non-starter at
    100 TB."""
    plan = assert_plan_lacks(
        _df(spark, "range_join_incident_windows"),
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_hypertable_rollup_reuses_hourly_exchange(spark):
    """The daily grain must derive from the hourly aggregate's
    shuffle, not re-scan raw events: AQE finalizes the second union
    branch as a ReusedExchange of the hourly shuffle, so the check
    runs against the executed (final adaptive) plan."""
    df = _df(spark, "hypertable_rollup")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_keyword_search_broadcasts_idf(spark):
    """X4 search: the per-term document frequencies and the corpus
    count are broadcast (tiny); the only shuffles move matching
    postings and the final per-doc agg — never the full token
    stream unfiltered."""
    plan = plan_string(_df(spark, "keyword_search"))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dedup_clusters_equi_joins_only(spark):
    """X2b connected components: every propagation round is an equi
    join + grouped min — no nested-loop joins anywhere in the final
    iteration's plan."""
    plan = plan_string(_df(spark, "dedup_clusters"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_eval_grams(spark):
    """Curation: the eval-set n-gram inventory broadcasts (benchmarks
    are KBs against a 100 TB corpus) — the corpus n-gram side joins
    map-side without a shuffle-for-join, and nothing goes cartesian."""
    plan = plan_string(_df(spark, "decontaminate_corpus"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_key_skew_topn_uses_take_ordered(spark):
    """Skew diagnostic: the heavy-key top-N plans as
    TakeOrderedAndProject over per-key counts — not a single-task
    global window over the whole keyspace."""
    plan = plan_string(_df(spark, "key_skew_profile"))
    assert "TakeOrderedAndProject" in plan


def test_repetition_stats_zero_shuffle(spark):
    """X4 repetition signal: pure per-document array expressions — the
    plan has NO Exchange at all (the groupBy(doc, gram) formulation
    would shuffle every token at corpus scale)."""
    plan = plan_string(_df(spark, "repetition_stats"))
    assert "Exchange" not in plan


def test_length_bucket_padding_single_exchange_no_explode(spark):
    """r11 bucketing report: size(split(...)) never materializes the
    token array into a Generate/explode, partial aggregation runs
    map-side, and exactly ONE exchange carries 9 rows per task."""
    plan = plan_string(_df(spark, "length_bucket_padding"))
    # formatted plans list each node once in the tree ("Exchange (4)")
    # and once in the details ("(4) Exchange") — count the tree form
    assert plan.count("Exchange (") == 1
    assert "Generate" not in plan
    assert plan.count("HashAggregate (") == 2  # partial + final


def test_crawl_media_census_zero_shuffle(spark):
    """r11 crawl→codec chain: scan → mapInPandas, per-doc work only —
    NO Exchange (media payloads never leave their partition; at
    100 TB the census is embarrassingly parallel)."""
    plan = plan_string(_df(spark, "crawl_media_census"))
    assert "Exchange" not in plan


def test_pii_pseudonymize_broadcasts_hierarchy(spark):
    """Curation: the nation→region generalization climbs via broadcast
    joins; the customer scan is never shuffled for the join."""
    plan = plan_string(_df(spark, "pii_pseudonymize"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [n for n, q in sorted(REGISTRY.items()) if q.oracle is not None],
)
def test_no_python_udf_in_oracle_checked_plans(spark, name):
    """§4 goal: zero Python UDFs on the relational hot path — every
    oracle-checked operator compiles to pure JVM expressions. (The
    Arrow-batched ``MapInPandas`` stages of the codec and decode
    queries are the designed Python path; they are not UDF nodes.)"""
    plan = plan_string(_df(spark, name), mode="simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_filter_patterns_pushes_both_predicates(spark):
    """Suite query: the LIKE branch pushes StringContains into the
    part scan; the regex branch stays a codegen filter (regex is not
    pushable) but must not shuffle — union of two scan branches, no
    Exchange."""
    plan = plan_string(_df(spark, "filter_patterns"))
    assert "PushedFilters" in plan
    assert "StringContains(p_name,widget)" in plan
    assert "Exchange" not in plan
    assert "Union" in plan


def test_window_suite_single_scan_single_agg_shuffle(spark):
    """Suite query: every window runs over the per-batch aggregate —
    one events scan, one partial+final agg pair; the unpartitioned
    windows never see raw events."""
    plan = plan_string(_df(spark, "window_suite"), mode="simple")
    assert plan.count("FileScan parquet") == 1
    assert "partial_" in plan  # map-side combine before the shuffle


def test_scalar_suite_is_pure_codegen_projection(spark):
    """Suite query: one scan, zero Exchange, whole-stage codegen —
    all three function families evaluate in a single stage."""
    plan = plan_string(_df(spark, "scalar_suite"), mode="simple")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "*(1)" in plan  # whole-stage-codegen stage marker


def test_text_suite_is_pure_codegen_projection(spark):
    """Suite query: per-doc expressions only — no shuffle; nothing
    leaves the partition."""
    plan = plan_string(_df(spark, "text_suite"), mode="simple")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_tfidf_topk_uses_rank_limit(spark):
    """TF-IDF top-3 per doc: WindowGroupLimit prunes to 3 rows per doc
    pre-shuffle; DF and the corpus size join as broadcasts."""
    plan = plan_string(_df(spark, "tfidf_top_terms"))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_perplexity_filter_no_raw_text_in_shuffle(spark):
    """Perplexity filter: once bigrams are built, only (w1, w2, counts)
    move — the raw text column never reaches an Exchange."""
    plan = plan_string(_df(spark, "doc_perplexity_filter"), mode="formatted")
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "text#" not in block, f"raw text shuffled:\n{block}"


def test_corpus_datasheet_shuffles_digests_not_texts(spark):
    """Datasheet: dup membership joins on the sha256 digest; the raw
    text column is pruned before every Exchange."""
    plan = plan_string(_df(spark, "corpus_datasheet"), mode="formatted")
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "text#" not in block, f"raw text shuffled:\n{block}"
    assert "partial_" in plan_string(_df(spark, "corpus_datasheet"), mode="simple")


def test_funnel_pushes_event_type_filters(spark):
    """Funnel: each stage's event_type predicate reaches the scan."""
    plan = plan_string(_df(spark, "funnel_analysis"))
    assert "PushedFilters" in plan and "view" in plan and "purchase" in plan


def test_cohort_retention_broadcasts_sizes(spark):
    """Cohort retention: the cohort-size side joins broadcast; the
    signup filter is pushed to the scan."""
    plan = plan_string(_df(spark, "cohort_retention"))
    assert "BroadcastHashJoin" in plan
    assert "signup" in plan


def test_part_cooccurrence_top32_take_ordered(spark):
    """Basket pairs: deterministic top-32 via TakeOrderedAndProject,
    and the pair build is an equi-join on the order key (never a
    cross/nested-loop join)."""
    plan = plan_string(_df(spark, "part_cooccurrence"))
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan


def test_event_rate_anomaly_windows_rollup_only(spark):
    """Anomaly: the trailing-frame window runs over the hourly rollup
    (post-agg), so the plan shows partial aggregation before the
    window's shuffle."""
    plan = plan_string(_df(spark, "event_rate_anomaly"), mode="simple")
    assert "partial_count" in plan
    assert "Window" in plan


def test_min_cost_supplier_is_join_based(spark):
    """Q2 shape: decorrelated — equi-joins only, no nested-loop
    subquery execution; both agg stages combine map-side."""
    plan = plan_string(_df(spark, "min_cost_supplier"))
    assert "NestedLoop" not in plan
    assert "partial_" in plan_string(_df(spark, "min_cost_supplier"), mode="simple")


def test_revenue_concentration_ranks_rollup_only(spark):
    """Lorenz report: the NTILE window's input is the per-customer
    aggregate (partial agg before the window), never raw orders."""
    plan = plan_string(_df(spark, "revenue_concentration"), mode="simple")
    assert "partial_sum" in plan
    assert "Window" in plan


def test_priority_aging_semi_join(spark):
    """Q4 shape: the EXISTS is a LeftSemi join, never a nested-loop
    per-row subquery."""
    plan = plan_string(_df(spark, "priority_aging"))
    assert "LeftSemi" in plan


def test_brand_market_share_broadcasts_fixed_dims(spark):
    """Q8 shape: nation/region broadcast; both share sums land in one
    aggregation (no second join for the denominator)."""
    plan = plan_string(_df(spark, "brand_market_share"))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") <= 4  # one partial+final pair (AQE may stage)


def test_scd2_single_exchange_for_both_windows(spark):
    """scd2_user_history's lag (change detect) and lead/row_number
    (interval close) windows partition on the same key — exactly ONE
    hash Exchange on user_id may appear."""
    plan = plan_string(_df(spark, "scd2_user_history"))
    # formatted mode: one Arguments line per Exchange node
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_data_quality_fk_checks_are_joins_not_subqueries(spark):
    """The FK checks must plan as joins (anti/broadcast) — never a
    per-row subquery or cartesian."""
    plan = plan_string(_df(spark, "data_quality_report"))
    assert "CartesianProduct" not in plan
    assert "Join LeftAnti" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_mixture_sample_broadcasts_rates(spark):
    """Per-source admission rates (|sources| rows) must broadcast onto
    the corpus scan — the corpus side never shuffles."""
    assert_plan_contains(_df(spark, "mixture_temperature_sample"), "BroadcastHashJoin")


def test_histogram_cdf_partial_aggregation(spark):
    """The corpus-sized stage is a map-side-combined groupBy on the
    bin key: partial + final HashAggregate pair."""
    plan = plan_string(_df(spark, "histogram_cdf"))
    assert plan.count("HashAggregate") >= 2, plan


def test_centroid_update_vectors_never_join(spark):
    """The dim-aligned merge joins (label, dim) sums — no join may
    carry the embedding column itself."""
    plan = plan_string(_df(spark, "centroid_incremental_update"))
    join_from = plan[plan.index("Join") :] if "Join" in plan else plan
    assert "embedding" not in join_from.split("Scan")[0], (
        "embedding column crossed the merge join"
    )


def test_q13_aggregates_orders_before_outer_join(spark):
    """Q13 shape: the orders count reduces per customer BEFORE the
    LEFT join (a partial/final HashAggregate pair below the join), so
    the join carries |customers| rows."""
    plan = plan_string(_df(spark, "order_count_distribution"))
    assert "partial_count" in plan, plan
    join_pos = plan.find("Join")
    agg_pos = plan.find("partial_count")
    assert join_pos != -1 and agg_pos > join_pos, (
        "orders aggregate did not plan below the outer join"
    )


def test_q18_having_cut_before_joins(spark):
    """Q18 shape: the >300 HAVING filter sits on the lineitem
    aggregate, below both joins — surviving keys only are joined."""
    plan = plan_string(_df(spark, "large_volume_customers"))
    assert "Filter (total_qty" in plan.replace("#", " (").replace(
        "total_qty", "total_qty"
    ) or "total_qty" in plan[plan.rfind("HashAggregate"):], plan


def test_q21_single_lineitem_aggregation_no_self_join(spark):
    """Q21 decorrelation: exactly one scan of lineitem (no EXISTS /
    NOT-EXISTS self-joins); the supplier join carries no forced hint
    (Spark auto-broadcasts it at fixture size — at 100 TB it would
    shuffle, which is the correct degradation)."""
    plan = plan_string(_df(spark, "waiting_suppliers"))
    assert plan.count("Join type:") <= 2, plan  # li⋈orders, result⋈supplier
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_and_broadcast_scalar(spark):
    """Q22 shape: the inactivity test is a LEFT ANTI join; the global
    average arrives as a broadcast (BroadcastNestedLoopJoin on the
    1-row aggregate), never a per-row subquery."""
    plan = plan_string(_df(spark, "idle_customer_balance"))
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan


def test_q11_survivors_only_join_part_dim(spark):
    """Q11 shape: the global-scalar cut filters the per-part aggregate
    BEFORE the part-dim join."""
    plan = plan_string(_df(spark, "important_parts"))
    filter_pos = plan.find("Filter")
    assert filter_pos != -1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_salted_distinct_two_phase(spark):
    """The salted rollup must plan as two aggregation pairs — the
    (type,user) phase partial-aggregates map-side; no Expand (the
    built-in distinct rewrite) is needed."""
    plan = plan_string(_df(spark, "salted_distinct_agg"))
    assert plan.count("HashAggregate") >= 4, plan
    assert "Expand" not in plan, "fell back to the built-in distinct Expand"


def test_gap_fill_grid_is_generated_not_scanned(spark):
    """gap_fill_hourly's dense grid comes from sequence+explode
    (Generate) over a broadcast 1-row bounds aggregate; the hourly
    rollup partial-aggregates map-side."""
    plan = plan_string(_df(spark, "gap_fill_hourly"))
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert "partial_count" in plan, plan


def test_change_point_baseline_broadcasts(spark):
    """change_point_detect's per-type baseline is an aggregate of the
    hourly rollup joined broadcast — the events scan happens once and
    partial-aggregates map-side."""
    plan = plan_string(_df(spark, "change_point_detect"))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan


def test_embedding_dedup_blocked_equi_join(spark):
    """dedup_embedding_survivors: the candidate join is a hash EQUI
    join on the block key — never a nested-loop cross join — and the
    drop-set join carries ids only (no embedding column crosses it)."""
    plan = plan_string(_df(spark, "dedup_embedding_survivors"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_weighted_avg_two_stage(spark):
    """time_weighted_avg: one user_id window shuffle feeding a
    map-side-combined rollup — no joins anywhere."""
    plan = plan_string(_df(spark, "time_weighted_avg"))
    assert "Join type:" not in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_q7_both_nation_paths_broadcast(spark):
    """nation_trade_flows: the nation dim broadcasts through BOTH the
    supplier and the customer path; no cartesian anywhere."""
    plan = plan_string(_df(spark, "nation_trade_flows"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed_to_scan(spark):
    """forecast_revenue_delta is the pure scan-aggregate: the date
    range, discount band, and quantity cut must ALL reach the parquet
    reader as pushed filters, and the single-cell aggregate must
    partial-agg map-side (no join, no window)."""
    plan = plan_string(_df(spark, "forecast_revenue_delta"))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed, pushed
    assert "Join type:" not in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_q3_topn_is_take_ordered(spark):
    """shipping_priority_topn's top-10 must be a TakeOrderedAndProject
    (per-partition heads), never a global Sort + Limit, and the
    segment filter must prune customer before its join."""
    plan = plan_string(_df(spark, "shipping_priority_topn"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BUILDING" in plan, plan


def test_q10_topn_is_take_ordered(spark):
    """returned_item_report: top-20 via TakeOrderedAndProject; the
    return-flag cut reaches the lineitem scan."""
    plan = plan_string(_df(spark, "returned_item_report"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "l_returnflag" in plan.split("PushedFilters", 1)[-1][:4000], plan


def test_q16_distinct_is_two_phase_no_expand(spark):
    """part_supplier_breadth counts distinct suppliers via an explicit
    pre-DISTINCT + plain COUNT — two HashAggregate pairs, no Expand
    (the skew-prone built-in COUNT(DISTINCT) rewrite)."""
    plan = plan_string(_df(spark, "part_supplier_breadth"))
    assert "Expand" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_q15_argmax_broadcasts_global_max(spark):
    """top_supplier_by_revenue compares each supplier aggregate
    against a 1-row broadcast global max — the max side must never
    shuffle the aggregate a second time."""
    plan = plan_string(_df(spark, "top_supplier_by_revenue"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_q19_part_side_disjunction_pushed(spark):
    """bracketed_revenue: the brand/size disjunction prunes the part
    scan (Or(...) in PushedFilters) and the quantity envelope prunes
    lineitem — neither fact ships bracket-impossible rows."""
    plan = plan_string(_df(spark, "bracketed_revenue"))
    assert "Or(EqualTo(p_brand" in plan.replace(" ", "") or "Or(And(" in plan.replace(" ", ""), plan
    assert "l_quantity" in plan.split("PushedFilters", 1)[-1][:6000], plan


def test_q17_decorrelated_single_lineitem_agg(spark):
    """small_quantity_order_revenue decorrelates the per-part average
    into ONE aggregate joined back — the plan must contain a per-part
    HashAggregate and hash equi joins, never a nested-loop."""
    plan = plan_string(_df(spark, "small_quantity_order_revenue"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan, plan


def test_q20_having_runs_before_dim_joins(spark):
    """excess_shipment_suppliers: the >55 qty cut applies to the
    (supplier, part) aggregate BEFORE supplier/nation attach — the
    Filter over the aggregate must sit below the supplier join, and
    nation must broadcast."""
    plan = plan_string(_df(spark, "excess_shipment_suppliers"))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join type: Inner")
    assert agg_pos != -1 and join_pos != -1
    assert "BroadcastHashJoin" in plan, plan


def test_q5_domestic_equality_inside_supplier_join(spark):
    """regional_local_revenue: the s_nationkey = c_nationkey domestic
    constraint rides the supplier hash join as a second key equality —
    no post-join Filter pass and no extra Exchange for it."""
    plan = plan_string(_df(spark, "regional_local_revenue"))
    assert "CartesianProduct" not in plan
    norm = plan.replace(" ", "")
    assert "s_nationkey" in norm and "c_nationkey" in norm


def test_novelty_shuffles_grams_not_text(spark):
    """ngram_novelty_rate: document text must never cross a shuffle —
    only (gram, doc_id) pairs; the first-seen MIN partial-aggregates
    map-side; the gram join is hash equi."""
    plan = plan_string(_df(spark, "ngram_novelty_rate"))
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan
    exchanges = [seg.split("\n", 1)[0] for seg in plan.split("Exchange")[1:]]
    assert not any("text" in e for e in exchanges), exchanges


def test_length_percentile_single_source_shuffle(spark):
    """length_percentile_filter: the window rank and the per-source
    rollup must share ONE source-keyed Exchange (the agg rides the
    window's partitioning) — exactly one shuffle in the plan."""
    plan = plan_string(_df(spark, "length_percentile_filter"))
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_cumulative_users_window_on_daily_rollup(spark):
    """cumulative_unique_users: the unpartitioned running-sum window
    must sit ABOVE two aggregation pairs (per-user min, per-day count)
    — i.e. it consumes the calendar-bounded daily rollup, never the
    raw event stream."""
    plan = plan_string(_df(spark, "cumulative_unique_users"))
    assert "partial_min" in plan and "partial_count" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_time_travel_merge_uses_rank_limit(spark):
    """cdc_time_travel_diff: both merge reconstructions collapse
    per-key state to 1 row pre-shuffle (WindowGroupLimit), the as-of
    side pushes the ts cutoff to the scan, and the diff join is a
    key equi join — never nested-loop."""
    plan = plan_string(_df(spark, "cdc_time_travel_diff"))
    assert "WindowGroupLimit" in plan, plan
    assert "ts" in plan.split("PushedFilters", 1)[-1][:4000], plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_compressibility_arrow_stage_no_shuffle(spark):
    """doc_compressibility: the zlib map is a stateless ArrowEvalPython-
    free mapInPandas stage pipelined inside the scan — no Exchange
    anywhere in the plan."""
    plan = plan_string(_df(spark, "doc_compressibility"))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_anisotropy_single_label_shuffle(spark):
    """embedding_anisotropy: exactly one label-keyed Exchange feeding
    the applyInPandas group stage."""
    plan = plan_string(_df(spark, "embedding_anisotropy"))
    assert plan.count("Exchange (") == 1 or plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_pattern_match_single_series_shuffle(spark):
    """pattern_match_corr: one hourly rollup + one per-type lag window
    — the window state is O(pattern length) columns, no self-join, no
    array collection."""
    plan = plan_string(_df(spark, "pattern_match_corr"))
    assert "Join type:" not in plan, plan
    assert "partial_count" in plan, plan


def test_exact_substr_spans_single_span_exchange(spark):
    """The span relation is repartitioned onto the span hash ONCE and
    the (doc, span) distinct rides it (was 4 span-keyed shuffles of
    raw span rows before the restructure). The printed tree repeats
    the cached exchange per consumer — count unique plan ids."""
    import re

    plan = plan_string(_df(spark, "exact_substr_spans"), mode="simple")
    ids = set(
        re.findall(r"Exchange hashpartitioning\(span[^\]]*plan_id=(\d+)", plan)
    )
    reparts = plan.count("REPARTITION_BY_COL")
    assert reparts >= 1 and len(ids) <= 2, (ids, plan)


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS must plan as ONE Expand + one aggregate pair —
    not a union of per-set scans."""
    plan = plan_string(_df(spark, "grouping_sets_stats"), mode="simple")
    assert plan.count("Expand") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_range_frame_window_no_row_frame(spark):
    """The trailing-hour smoothing must plan a RANGE frame (value
    based), not a ROWS frame."""
    plan = plan_string(_df(spark, "range_frame_smoothing"), mode="simple")
    assert "specifiedwindowframe(RangeFrame" in plan, plan


def test_sorted_neighborhood_no_nested_loop(spark):
    """The rank-window comparison must be the explode+equi rewrite —
    no BroadcastNestedLoopJoin / CartesianProduct from the non-equi
    window condition."""
    plan = plan_string(_df(spark, "fuzzy_links_sorted_neighborhood"), mode="simple")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_pagerank_no_forced_broadcast(spark):
    """PageRank leaves rank/degree join sizing to the planner/AQE
    (L82: those tables are SF-proportional) — no broadcast HINTS in
    the logical plan (planner-chosen size-based broadcasts are the
    desired behavior and not pinned)."""
    df = REGISTRY["pagerank_bipartite"].fn(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_codec_decode_zero_shuffle(spark):
    """X5 real codecs: every ``codec``-tagged query builds, encodes,
    decodes and measures its payloads in exactly ONE mapInPandas over
    the scan — NO Exchange anywhere, and no second Python stage that
    would ship each payload across the JVM↔Python boundary again. A
    shuffle here would move raw media payloads across the cluster at
    100 TB."""
    names = [n for n, q in sorted(REGISTRY.items()) if "codec" in q.tags]
    assert len(names) >= 37, names
    bad = {}
    for name in names:
        plan = plan_string(_df(spark, name), mode="simple")
        if "Exchange" in plan or plan.count("MapInPandas") != 1:
            bad[name] = plan
    assert not bad, "\n\n".join(f"{n}:\n{p}" for n, p in bad.items())


def test_html_extract_zero_shuffle_no_python(spark):
    """Web pack: HTML→text is a pure JVM expression chain — the plan
    must have NO Exchange and NO Python evaluation node (extracting
    text from 100 TB of pages is a map over scan partitions)."""
    plan = plan_string(_df(spark, "html_text_extract"))
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_warc_crawl_pipeline_single_shuffle(spark):
    """Web pack: the composed crawl ETL pays exactly ONE shuffle —
    the crawl-file grouping. Decode, extraction, and the quality gate
    all run map-side after it."""
    plan = plan_string(_df(spark, "warc_crawl_pipeline"), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_url_dedup_jvm_only_single_agg_shuffle(spark):
    """Web pack: URL canonicalization is pure JVM expressions — no
    Python eval nodes; the dedup pays one aggregation shuffle."""
    plan = plan_string(_df(spark, "url_canonical_dedup"), mode="simple")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    # COUNT(DISTINCT canonical) is a two-phase distinct aggregate:
    # one exchange on (doc_id, canonical), one on doc_id — both keyed,
    # both partial-combined. Anything beyond those two is a regression.
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2


def test_parquet_layout_footer_reads_are_distributed(spark):
    """Storage audit: footer reads run inside MapInPandas tasks, not
    on the driver — the plan must carry the Python stage and a
    round-robin repartition (one file per task), and the collected
    output stays tiny (row-group metadata, not data)."""
    plan = plan_string(_df(spark, "parquet_layout_report"), mode="simple")
    assert "MapInPandas" in plan
    assert "Exchange RoundRobinPartitioning" in plan


def test_simhash_adaptive_banding_stays_equi_join(spark):
    """X2 scale lever: the adaptive-band candidate join must remain a
    keyed equi join on (band, band_val) — the ONLY nested-loop node
    allowed is the broadcast of the 1-row (n, w, b) params onto the
    signature stream. A regression that turns the pair join itself
    into a nested loop would melt exactly at the scale the adaptive
    ladder exists for."""
    plan = plan_string(_df(spark, "simhash_adaptive_bands"), mode="simple")
    assert "CartesianProduct" not in plan
    # the sanctioned nested-loop nodes are the 1-row params broadcast,
    # which appears once per side of the pair self-join (the bands
    # subtree is not reused across sides); a third would mean the
    # pair join itself degenerated
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # the pair join itself is keyed on (band, band_val): hash join at
    # test scale (broadcast), shuffled-hash/sort-merge at corpus scale
    assert "HashJoin [band#" in plan or "SortMergeJoin [band#" in plan


def test_cosine_lsh_adaptive_stays_equi_join(spark):
    """X3 scale lever: the adaptive-plane candidate join must remain
    a keyed equi join on (tbl, bucket) — the only nested-loop node
    allowed is the broadcast of the 1-row (n, planes) params onto the
    projection stream (once per side of the pair self-join)."""
    plan = plan_string(_df(spark, "cosine_lsh_adaptive_planes"), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_line_dedup_boilerplate_broadcasts_heavy_hitters(spark):
    """r8 line-level boilerplate removal: the drop join must
    broadcast the (tiny) heavy-hitter line set — a sort-merge join of
    the full line explode against the counts is the naive plan that
    melts at 100 TB."""
    plan = assert_plan_contains(
        _df(spark, "line_dedup_boilerplate"), "BroadcastHashJoin"
    )
    # the count agg itself must keep map-side partial aggregation
    assert "partial_count" in plan.lower() or "HashAggregate" in plan


def test_line_dedup_boilerplate_drop_pattern(spark):
    """Docs divisible by 6 carry both chrome lines, by 2 or 3 one,
    others none — and kept text must be unchanged for clean docs."""
    from pyspark.sql import functions as F

    rows = {
        r["doc_id"]: r
        for r in _df(spark, "line_dedup_boilerplate").collect()
    }
    assert rows[6]["n_boiler"] == 2
    assert rows[2]["n_boiler"] == 1 and rows[3]["n_boiler"] == 1
    assert rows[1]["n_boiler"] == 0 and rows[5]["n_boiler"] == 0
    assert rows[6]["n_lines"] - rows[6]["n_boiler"] >= 1


def test_basket_similarity_single_exchange_pair_stream(spark):
    """customer_similarity_topk (r10 rewrite): basket sizes attach at
    the ITEM level and ride the pair join as group-by columns, so the
    candidate-pair stream — the only corpus-growing term — crosses
    exactly ONE exchange (its aggregation). Regressing to post-agg
    size joins re-shuffles the pair stream and melts the 4× probe
    (44 s median → 7.3 s measured)."""
    plan = plan_string(_df(spark, "customer_similarity_topk"))
    # top-k stays a per-partition heap, never a global sort
    assert "TakeOrderedAndProject" in plan
    # no join consumes the aggregated pair stream: between the top-k
    # and the FIRST (topmost = final) HashAggregate there must be no
    # join operator — a post-agg size join would sit exactly there
    take_pos = plan.find("TakeOrderedAndProject")
    agg_pos = plan.find("HashAggregate")
    assert 0 <= take_pos < agg_pos
    between = plan[take_pos:agg_pos]
    for join in ("SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastHashJoin"):
        assert join not in between


def test_packing_efficiency_curve_single_pass(spark):
    """r12: the 5-ctx curve folds into ONE aggregation pass — a single
    Exchange carrying the 1-row partial aggregate; stack() unpivots a
    one-row frame (its Generate is driver-scale, not an explode over
    the corpus), and the scan reads only the text column."""
    plan = plan_string(_df(spark, "packing_efficiency_curve"))
    assert plan.count("Exchange (") == 1
    assert "ReadSchema: struct<text:string>" in plan


def test_dedup_survivor_bias_digest_shuffle_only(spark):
    """r12: keeper attribution rides the sha256-digest shuffle (text
    never crosses an exchange) and the survivor→total attach is a
    broadcast join — no sort-merge join anywhere."""
    plan = plan_string(_df(spark, "dedup_survivor_bias"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # text is consumed scan-side into the digest; no Exchange row
    # carries the raw text column
    import re

    for m in re.finditer(r"\(\d+\) Exchange[^(]*\nInput \[\d+\]: \[([^\]]*)\]", plan):
        assert "text#" not in m.group(1), m.group(0)


def test_minhash_band_occupancy_no_joins(spark):
    """r13 skew instrument: the occupancy histogram is two grouped
    aggregations over the signature frame — NO join of any kind in
    the plan (the whole point is predicting the band join's cost
    without running it)."""
    plan = plan_string(_df(spark, "minhash_band_occupancy"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_audit_verify_side_broadcast_restricted(spark):
    """r13 LSH-then-verify audits: the exact-verify side is
    restricted to candidate doc ids via BROADCAST (semi) joins before
    any shuffle — the corpus index must never self-join
    unrestricted, so no cartesian products and at least one broadcast
    join in the plan."""
    for name in ("minhash_estimate_audit", "minhash_lsh_recall",
                 "simhash_estimate_audit"):
        plan = plan_string(_df(spark, name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
