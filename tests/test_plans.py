"""Physical-plan assertions: the scale properties the corpus docstrings
promise must be visible in `.explain("formatted")` — filters reaching the
Parquet scan (SURVEY.md §2.A A3-equivalent), dimension joins broadcast, no
redundant shuffles, top-k via TakeOrderedAndProject / WindowGroupLimit.
These are the local[32]-checkable proxies for 100 TB behavior: a plan that
scans-all-columns or sort-merge-joins a 5-row dim here does the same on a
1000-executor cluster."""

from __future__ import annotations

import re

import pytest

from elasticsearch_hadoop_spark.corpus import load_all
from elasticsearch_hadoop_spark.plans import count_nodes, formatted_plan, pushed_filters

REGISTRY = load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def test_q6_full_pushdown_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan, flags=re.S).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"filter on {col} not pushed to parquet scan:\n{pushed}"
    # scan -> partial agg -> ONE exchange of 1-row partials -> final agg
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert count_nodes(plan, "BroadcastHashJoin") >= 2
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts


def test_q5_six_table_join_all_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert count_nodes(plan, "BroadcastHashJoin") >= 4  # c, s, n, r
    # the only allowed non-broadcast join is fact-fact lineitem⋈orders
    assert count_nodes(plan, "SortMergeJoin") + count_nodes(plan, "ShuffledHashJoin") <= 1


def test_window_topk_uses_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_topk_per_group")
    # Spark 3.5+ pushes rank<=k below the shuffle: partial WindowGroupLimit
    # before the Exchange prunes each map partition to its local top-3
    assert "WindowGroupLimit" in plan
    assert count_nodes(plan, "Exchange") <= 2  # window hash + final order


def test_global_topk_no_total_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # Q1 needs 7 of lineitem's 11 columns; the scan must not read the rest
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols, read_cols


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "subq_exists_priority")
    assert re.search(r"Join LeftSemi|BroadcastHashJoin.*LeftSemi|SortMergeJoin.*LeftSemi", plan) or "LeftSemi" in plan


def test_generator_runs_in_scan_stage(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "lateral_explode_tokens")
    assert count_nodes(plan, "Generate") == 1
    assert count_nodes(plan, "Exchange") <= 2  # token agg + nothing else


@pytest.mark.parametrize(
    "name", ["pushdown_predicates", "q10_returned_items", "q12_priority_by_flag"]
)
def test_filters_pushed(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert pushed_filters(plan), f"{name}: no pushed filters\n{plan[:800]}"


def test_q8_eight_table_join_all_dims_broadcast(spark, sf_dir):
    # 8-table star: the ONLY shuffle join allowed is fact-fact
    # lineitem⋈orders; part/supplier/customer/nation×2/region broadcast
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert count_nodes(plan, "BroadcastHashJoin") >= 6
    assert count_nodes(plan, "SortMergeJoin") + count_nodes(plan, "ShuffledHashJoin") <= 1


def test_q21_semi_anti_keep_equi_key(spark, sf_dir):
    # the compound probe conditions (orderkey = ∧ suppkey ≠ [∧ shipdate >])
    # must keep l_orderkey as the hash key — if Catalyst failed to extract
    # the equi conjunct, semi/anti would degrade to BroadcastNestedLoopJoin
    # (a per-row scan of the whole probe side: fatal at scale)
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_q2_correlated_max_is_window_not_rescan(spark, sf_dir):
    # the per-part max must be a Window over the joined pairs, not a second
    # scan+join of lineitem (the decorrelated-subquery trap)
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "Scan parquet") <= 4  # lineitem once + 3 dims


def test_aggs_top_hits_uses_group_limit(spark, sf_dir):
    # the aggs-DSL top_hits metric must compile to the same pruned-window
    # plan as the hand-written per-group top-k
    plan = plan_of(spark, sf_dir, "aggs_filters_top_hits")
    assert "WindowGroupLimit" in plan
    assert count_nodes(plan, "Exchange") <= 2


def test_lsh_never_cartesians(spark, sf_dir):
    # the LSH self-join must stay an equi hash join on the band key —
    # a cartesian/nested-loop candidate generation is O(n²) and fatal
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_brute_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "similarity_topk_brute")
    assert "TakeOrderedAndProject" in plan


def test_sketch_rollup_merge_two_shuffles(spark, sf_dir):
    # fine-grain sketch agg + merge agg: exactly the partial/final pairs,
    # no extra exchanges between the two grains
    plan = plan_of(spark, sf_dir, "sketch_hll_rollup_merge")
    assert count_nodes(plan, "Exchange") <= 3  # hour-agg, day-agg, final sort


def test_q11_scalar_threshold_is_broadcast(spark, sf_dir):
    # HAVING > (scalar subquery): the 1-row threshold must broadcast into
    # the per-supplier aggregate, never a cartesian shuffle
    plan = plan_of(spark, sf_dir, "q11_important_suppliers")
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1


def test_q4_semi_join_keeps_equi_key(spark, sf_dir):
    # the lateness predicate (shipdate > orderdate + 60d) references both
    # sides; Catalyst must still extract l_orderkey = o_orderkey as the
    # hash key — losing it degrades to a nested-loop scan of lineitem
    plan = plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "o_orderdate" in " ".join(pushed_filters(plan))


def test_q17_window_not_rescan(spark, sf_dir):
    # the correlated per-part AVG must be ONE window over the joined rows,
    # not a second scan+join of lineitem
    plan = plan_of(spark, sf_dir, "q17_small_quantity_revenue")
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "Scan parquet") == 2  # lineitem once, part once
    assert count_nodes(plan, "BroadcastHashJoin") >= 1


def test_q18_take_ordered_and_single_fact_agg(spark, sf_dir):
    # per-order totals computed once (one partial/final agg pair over
    # lineitem), reused for both the HAVING filter and the output column;
    # top-100 must never global-sort
    plan = plan_of(spark, sf_dir, "q18_large_volume_customer")
    assert "TakeOrderedAndProject" in plan
    assert count_nodes(plan, "Scan parquet") == 3  # lineitem, orders, customer


def test_q20_no_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q20_potential_promotion")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "l_shipdate" in " ".join(pushed_filters(plan))


def test_pack_sequences_is_one_window_shuffle(spark, sf_dir):
    """Concat-and-chunk packing must stay a single window exchange (per
    lang partition) + the presentation sort — no join, no extra shuffle."""
    plan = plan_of(spark, sf_dir, "pack_sequences_by_lang")
    assert count_nodes(plan, "Exchange") <= 2
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "BatchEvalPython") == 0  # no Python in hot path


def test_geotile_grid_is_single_hash_agg(spark, sf_dir):
    """Tile keys are codegen expressions feeding ONE hash aggregation —
    partial/final agg exchange + presentation sort only."""
    plan = plan_of(spark, sf_dir, "aggs_geotile_grid")
    assert count_nodes(plan, "Exchange") <= 2
    assert count_nodes(plan, "HashAggregate") >= 2  # partial + final
    assert count_nodes(plan, "BatchEvalPython") == 0


def test_redact_pii_is_scan_stage_codegen(spark, sf_dir):
    """The PII scrub is chained regexp_replace in the scan stage: the only
    exchange is the presentation sort, and no Python evaluator appears."""
    plan = plan_of(spark, sf_dir, "text_redact_pii")
    assert count_nodes(plan, "Exchange") <= 1
    assert count_nodes(plan, "BatchEvalPython") == 0
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_knn_search_is_take_ordered_with_pushed_filter(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "search_knn_filtered")
    # the knn page is per-partition heaps + k-row merge, never a global sort
    assert "TakeOrderedAndProject" in plan
    # the pre-filter reaches the parquet scan
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan, flags=re.S)
    assert pushed and "label" in pushed.group(1)


def test_eql_sequence_no_cartesian_bounded_shuffles(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "eql_funnel_sequence")
    # forward earliest-match = union-tag windows: NO pairwise range join
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    # 3 steps = 2 transitions; each is one shuffle on the entity key
    # (+ the final presentation sort)
    assert count_nodes(plan, "Exchange") <= 4


def test_mixture_sample_rides_the_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sample_to_mixture")
    # the keep decision is a hash-threshold filter: no joins, and the only
    # exchange is the final ORDER BY presentation sort
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "BroadcastHashJoin") == 0
    assert count_nodes(plan, "Exchange") <= 1


def test_transform_latest_uses_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "transform_latest_events")
    # latest-per-key is rn=1: WindowGroupLimit prunes map-side
    assert "WindowGroupLimit" in plan


def test_ingest_pipeline_stays_whole_stage_codegen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ingest_pipeline_events")
    # every processor is Column math: no BatchEvalPython / ArrowEvalPython
    assert "EvalPython" not in plan
    assert count_nodes(plan, "Exchange") <= 1  # presentation sort only


def test_variable_width_histogram_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "aggs_variable_width_histogram")
    # quantile boundaries broadcast; assignment + agg — no NTILE window
    assert "Window" not in plan
    assert count_nodes(plan, "CartesianProduct") <= 1  # 1-row bounds frame


def test_esql_where_pushes_and_single_agg_exchange(spark, sf_dir):
    """ES|QL's claim that Catalyst is its executor, verified: the WHERE
    reaches the parquet scan as a pushed filter and STATS..BY plans as
    ONE partial+final hash aggregation (a single exchange on the keys)."""
    from elasticsearch_hadoop_spark.esql import esql
    from elasticsearch_hadoop_spark.plans import count_nodes, formatted_plan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = esql(
        """
        FROM events
        | WHERE value > 1.0
        | STATS n = COUNT(*), total = SUM(value) BY event_type
        """,
        tables={"events": ev},
    )
    plan = formatted_plan(df)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan, flags=re.S).group(1)
    assert "value" in pushed
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "HashAggregate") == 2  # partial + final


def test_esql_sort_limit_fuses_to_topk(spark, sf_dir):
    from elasticsearch_hadoop_spark.esql import esql
    from elasticsearch_hadoop_spark.plans import formatted_plan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = esql(
        "FROM events | SORT value DESC | LIMIT 5 | KEEP event_id, value",
        tables={"events": ev},
    )
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_no_cartesian_no_row_python_sweep(spark, sf_dir):
    """Repo-wide plan invariant: NO corpus query may plan a
    CartesianProduct, and none but the declared row-UDF surface may put
    row-pickling Python (BatchEvalPython) in its plan.  Arrow surfaces
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
    sanctioned Python boundary and stay allowed.  Write-path and live
    streaming queries are excluded — their construction performs real
    commits (the driver sim covers them end-to-end)."""
    skip_prefixes = ("writepath_", "stream_live_")
    row_python_ok = {"udf_row_scalar"}  # §2.C row-UDF coverage, deliberate
    bad: list[str] = []
    for name, q in REGISTRY.items():
        if name.startswith(skip_prefixes):
            continue
        try:
            plan = formatted_plan(q.fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover - sweep diagnostics
            bad.append(f"{name}: build failed: {e}")
            continue
        if count_nodes(plan, "CartesianProduct"):
            bad.append(f"{name}: CartesianProduct in plan")
        if name not in row_python_ok and count_nodes(plan, "BatchEvalPython"):
            bad.append(f"{name}: row-Python (BatchEvalPython) in plan")
    assert not bad, "\n".join(bad)


def test_ts_rate_series_agg_reuses_window_partitioning(spark, sf_dir):
    """TS STATS MAX(RATE(...)): the per-series hash aggregation must ride
    the rate window's (dims, bucket) hash partitioning — exactly three
    exchanges total (window shuffle, day regroup, final sort), never a
    fourth between the window and the series aggregation."""
    plan = plan_of(spark, sf_dir, "esql_ts_rate")
    assert count_nodes(plan, "Exchange") <= 3
    assert count_nodes(plan, "Window") == 1
    assert "PythonUDF" not in plan


def test_ts_rate_duplicate_inner_plans_one_buffer_set(spark, sf_dir):
    """3-outer-RATE shape (review r12g): MAX(RATE(v)), AVG(RATE(v)),
    COUNT(RATE(v)) must plan ONE Window node carrying ONE lag column
    (__ts_rc_0) and ONE (increase, span) aggregate pair — before the
    canon-map dedupe each STATS item built its own, 3x the per-series
    buffers."""
    from pyspark.sql import functions as F

    from elasticsearch_hadoop_spark.corpus._util import tbl
    from elasticsearch_hadoop_spark.esql import esql
    from elasticsearch_hadoop_spark.plans import formatted_plan

    ev = tbl(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("host"), "ts", "value"
    )
    out = esql(
        'TS ev | STATS mx = MAX(RATE(value)), av = AVG(RATE(value)),'
        ' ct = COUNT(RATE(value)) BY tb = BUCKET(ts, "1 day")',
        tables={"ev": ev},
        time_series={"ev": {"dimensions": ["host"], "timestamp": "ts"}},
    )
    plan = formatted_plan(out)
    assert count_nodes(plan, "Window") == 1
    assert "__ts_rc_0" in plan and "__ts_rc_1" not in plan
    assert "__ts_inc_0" in plan and "__ts_inc_1" not in plan
    assert "__ts_span_1" not in plan and "__ts_span_2" not in plan


def test_fuse_is_bounded_window_plus_hash_agg(spark, sf_dir):
    """FUSE over FORK top-k branches: per-branch ranking windows over
    bounded frames + one hash aggregation; no cartesian, no Python."""
    plan = plan_of(spark, sf_dir, "esql_fuse_rrf")
    assert "CartesianProduct" not in plan and "PythonUDF" not in plan
    # the string max-merge makes this a SortAggregate pair; either
    # aggregate flavor is one partial/final aggregation, what matters is
    # that fusion is an aggregation and not a join pyramid
    assert (
        count_nodes(plan, "HashAggregate") + count_nodes(plan, "SortAggregate") >= 1
    )
    assert "Join" not in plan


def test_st_distance_predicate_stays_codegen(spark, sf_dir):
    """ES|QL ST_DISTANCE filter: pure codegen scan-stage math — no
    Python evaluator, no shuffle beyond the final sort."""
    plan = plan_of(spark, sf_dir, "esql_st_distance")
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "Exchange") <= 1


def test_mvt_sorted_is_single_agg_plus_topk(spark, sf_dir):
    """_mvt sub-agg sort: metric sub-aggs ride the ONE grid hash
    aggregation and the size cut is a TakeOrderedAndProject over the
    aggregated cells — never a global sort, never a second pass."""
    plan = plan_of(spark, sf_dir, "search_mvt_sorted")
    assert count_nodes(plan, "HashAggregate") == 2  # partial + final
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan and "CartesianProduct" not in plan


def test_mvt_labels_no_second_pass(spark, sf_dir):
    """with_labels: the label projection is post-aggregation codegen —
    one aggregation pair, no extra exchange beyond the groupBy's."""
    plan = plan_of(spark, sf_dir, "search_mvt_labels")
    assert count_nodes(plan, "HashAggregate") == 2
    assert count_nodes(plan, "Exchange") <= 2  # agg shuffle + final sort
    assert "PythonUDF" not in plan


def test_composite_geotile_page_is_topk_over_cells(spark, sf_dir):
    """The packed-numeric cursor page: ordering happens over the
    AGGREGATED cells (TakeOrderedAndProject after the hash aggregation,
    never a global sort of corpus rows), and the packed helper column
    never reaches the output."""
    df = REGISTRY["aggs_composite_geotile_page"].fn(spark, sf_dir)
    assert list(df.columns) == ["page", "cell", "doc_count"]
    plan = plan_of(spark, sf_dir, "aggs_composite_geotile_page")
    # two pages union'd: each is partial+final HashAggregate then the
    # packed-order limit as TakeOrderedAndProject — no global Sort node
    assert count_nodes(plan, "TakeOrderedAndProject") == 2
    assert count_nodes(plan, "HashAggregate") == 4
    assert count_nodes(plan, "CartesianProduct") == 0
    assert not re.search(r"\bSort\b(?!Agg)", plan), "unexpected global sort"


def test_categorize_stats_is_plain_hash_agg(spark, sf_dir):
    """STATS BY CATEGORIZE: the category key is one codegen projection
    feeding an ordinary partial+final hash aggregation; SORT+LIMIT fuses
    to TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "esql_stats_categorize")
    assert count_nodes(plan, "HashAggregate") == 2
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan


def test_eql_sample_multi_bounded_carry(spark, sf_dir):
    """r9 verdict item 1: the graded size=2 sample pre-bounds the carry
    with a WindowGroupLimit Partial+Final row_number cap before the
    collect aggregation — no unbounded per-key buffer, still no join."""
    plan = plan_of(spark, sf_dir, "eql_sample_multi")
    assert count_nodes(plan, "WindowGroupLimit") == 2
    assert ", 2, Partial" in plan
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "BroadcastHashJoin") == 0


def test_ts_stats_top_bounded_over_series(spark, sf_dir):
    """Round 11: TOP inside TS STATS caps the per-series frame with
    WindowGroupLimit Partial+Final, and the persisted per-series frame
    keeps the pre-materialization plan's bounded shape visible."""
    plan = plan_of(spark, sf_dir, "esql_ts_stats_top")
    assert count_nodes(plan, "WindowGroupLimit") == 2
    assert ", 3, Partial" in plan


def test_collapse_inner_hits_two_bounded_frames(spark, sf_dir):
    """Round 11: rep (limit 1) and inner (limit 3) frames BOTH plan
    WindowGroupLimit Partial+Final — four nodes total, no unbounded
    collect before the cap."""
    plan = plan_of(spark, sf_dir, "search_collapse_inner_hits")
    assert count_nodes(plan, "WindowGroupLimit") == 4
    assert ", 1, Partial" in plan and ", 3, Partial" in plan


def test_bm25_topk_take_ordered_no_udf(spark, sf_dir):
    """Round 11: BM25 is pure Column math ending in TakeOrderedAndProject
    — one broadcast of the 1-row stats frame, no Python UDF."""
    plan = plan_of(spark, sf_dir, "search_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") <= 1  # the 1-row stats attach


def test_bm25_topk_analyzes_each_document_once(spark, sf_dir):
    """The matched-only cut is a codegen'd filter on the raw field below
    the stats attach, so nothing is pushed into the nested-loop join and
    the interpreted analyzer appears exactly twice: once in the stats
    pass and once in the scoring projection.  A filter on the computed
    score got inlined into the join condition, which re-analyzed each
    document per reference (11 analyzers for this 2-term query)."""
    plan = plan_of(spark, sf_dir, "search_bm25_topk")
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert re.findall(r"^Join condition: (.*)$", plan, flags=re.M) == ["None"]
    assert plan.count("filter(split(lower(") == 2
    assert "arrays_overlap(split(lower(" in plan


def test_esql_match_score_two_pass_take_ordered(spark, sf_dir):
    """Round 11: the scored MATCH pipeline is BM25's two-pass shape —
    exactly one stats scan + one scoring scan (a duplicated stats pass
    per leaf would show more), the 1-row stats frame attached by a
    single broadcast nested-loop, top-k as TakeOrderedAndProject, no
    Python UDF anywhere."""
    plan = plan_of(spark, sf_dir, "esql_match_score_topk")
    assert count_nodes(plan, "Scan parquet") == 2
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1


def test_eql_sample_join_single_agg_no_join(spark, sf_dir):
    """EQL sample: one aggregation pair over the join key (SortAggregate
    for struct buffers — documented), one exchange, NO join of the
    per-filter streams."""
    plan = plan_of(spark, sf_dir, "eql_sample_join")
    aggs = count_nodes(plan, "SortAggregate") + count_nodes(plan, "HashAggregate")
    assert aggs == 2
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "BroadcastHashJoin") == 0


def test_esql_qstr_score_two_pass_take_ordered(spark, sf_dir):
    """Round 12: scored QSTR is the two-pass BM25 shape FIELD-batched
    (bm25_score_multi): three leaves on one field = ONE 1-row stats scan
    covering all three terms + ONE scoring scan, the stats frame
    attached by a single broadcast nested-loop, top-k as
    TakeOrderedAndProject, no Python UDF anywhere.  (A per-leaf scorer
    planned 4 scans; the first committed version even planned 2^3 —
    review r12a.)"""
    plan = plan_of(spark, sf_dir, "esql_qstr_score")
    assert count_nodes(plan, "Scan parquet") == 2
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1


def test_esql_qstr_constant_score_same_two_pass_shape(spark, sf_dir):
    """Round 13: constant-score leaves add NOTHING to the scan count —
    the range and wildcard leaves are gated literals on the scoring
    projection, so the plan stays the one-term-field shape: 1 stats
    scan + 1 scoring scan, one broadcast attach, TakeOrderedAndProject,
    no Python."""
    plan = plan_of(spark, sf_dir, "esql_qstr_constant_score")
    assert count_nodes(plan, "Scan parquet") == 2
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1


def test_query_dsl_uri_extended_single_scan_pushdown(spark, sf_dir):
    """Round 13: the widened URI grammar compiles to plain Column
    predicates — one parquet scan with the whole disjunction evaluated
    in codegen'd FilterExec, no Python, no join.  Pushdown honesty: a
    top-level OR whose legs include a generic LIKE (`src1_` carries a
    `_`, so it is not a StartsWith) converts to NO parquet filter —
    Spark pushes Or only when every leg converts — so the row-group
    pruning here is zero and the filter runs post-scan; conjunctive
    eq/range/prefix `?q=` forms do push (pushdown_predicates family
    pins those)."""
    plan = plan_of(spark, sf_dir, "query_dsl_uri_extended")
    assert count_nodes(plan, "Scan parquet") == 1
    assert "PythonUDF" not in plan
    assert "Join" not in plan


def test_uri_conjunctive_range_pushes_to_parquet(spark, sf_dir):
    """The widened grammar's range/cmp kinds DO reach the parquet scan
    when the boolean shape allows it: a conjunctive `?q=` compiles to
    plain gt/lte bounds in PushedFilters."""
    from elasticsearch_hadoop_spark.corpus._util import tbl
    from elasticsearch_hadoop_spark.plans import formatted_plan
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    d = tbl(spark, sf_dir, "documents").filter(
        compile_query("n_chars:{100 TO 400] AND lang:en")
    )
    plan = formatted_plan(d)
    pushed = " ".join(pushed_filters(plan))
    assert "GreaterThan(n_chars,100)" in pushed, pushed
    assert "LessThanOrEqual(n_chars,400)" in pushed, pushed
    assert "EqualTo(lang,en)" in pushed, pushed


def test_esql_ts_rate_subday_one_window_two_aggs(spark, sf_dir):
    """Round 12: RATE over a 6-hour BUCKET keeps the TS shape — one
    window pass (the lag), two aggregation pairs (series, then group),
    no join, no Python; the epoch-floor bucket is plain column math on
    the scan."""
    plan = plan_of(spark, sf_dir, "esql_ts_rate_subday")
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "BroadcastHashJoin") == 0
    assert "PythonUDF" not in plan
    assert count_nodes(plan, "Scan parquet") == 1


BULK_MAPPING = {
    "properties": {
        "event_id": {"type": "long"},
        "user_id": {"type": "long"},
        "event_type": {"type": "keyword"},
        "value": {"type": "double"},
    }
}


@pytest.fixture(scope="module")
def bulk_events(spark, sf_dir, tmp_path_factory):
    """A bulk file of 300 events, as esbench's read_docs requests read."""
    import json

    from elasticsearch_hadoop_spark.corpus._util import tbl

    rows = (
        tbl(spark, sf_dir, "events")
        .select(*BULK_MAPPING["properties"]).orderBy("event_id").limit(300).collect()
    )
    path = tmp_path_factory.mktemp("bulk_events")
    with open(path / "part-0.ndjson", "w") as fh:
        for r in rows:
            fh.write(json.dumps({"index": {"_id": r.event_id}}) + "\n")
            fh.write(json.dumps(r.asDict()) + "\n")
    return str(path)


def _read_docs_request(spark, path):
    """esbench's read_docs request: a term query, two range filters and
    an aggregate."""
    import json

    from pyspark.sql import functions as F

    from elasticsearch_hadoop_spark.sources.es_datasource import read_docs

    df = read_docs(spark, path, BULK_MAPPING, query=json.dumps({"term": {"event_type": "click"}}))
    df = df.filter(F.col("value") >= 3.0).filter(F.col("user_id") <= 4000)
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"), F.sum("user_id").alias("u"))


def test_read_docs_is_one_native_pass(spark, bulk_events):
    """read_docs plans Spark's text reader and pairs bulk lines inside one
    generator: no Python scan or Python evaluation, no Window (pairing
    neighbouring lines with lag() costs a shuffle, a sort and a job), and
    no Exchange but the aggregate's.  Building runs no job; collecting
    runs 2, the aggregate's map stage and its result stage."""
    from tests.conftest import count_jobs

    agg, build_jobs = count_jobs(spark, lambda: _read_docs_request(spark, bulk_events))
    assert build_jobs == 0
    plan = formatted_plan(agg)
    # Spark's text reader, not the Python DataSource's "BatchScan esdocs"
    assert count_nodes(plan, "Scan text") == 1
    assert "BatchScan" not in plan and "EvalPython" not in plan
    assert count_nodes(plan, "Window") == 0
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Generate") == 1
    (row,), collect_jobs = count_jobs(spark, agg.collect)
    assert collect_jobs == 2
    assert row.n > 0


def test_read_docs_build_py4j_budget(spark, bulk_events):
    """read_docs renders the pairing, the coercions and the query's field
    references as SQL text, so its build takes about 50 Py4J round trips
    (51 for this mapping); a Column-built version of the same plan took
    about 250.  The rest of the request is the caller's: on PySpark 4.1
    the two Column filters and the aggregate alone take 113 (``F.col`` is
    13 round trips, ``F.expr`` 3), so the whole request is not pinned."""
    import json

    from elasticsearch_hadoop_spark.sources.es_datasource import read_docs
    from tests.conftest import count_py4j_calls

    def build():
        return read_docs(
            spark, bulk_events, BULK_MAPPING, query=json.dumps({"term": {"event_type": "click"}})
        )

    build()
    _, calls = count_py4j_calls(build)
    assert calls <= 60, calls
