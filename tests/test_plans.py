"""Physical-plan regression tests (SURVEY.md §4 scale discipline).

These pin the plan properties the 100 TB design depends on. A change that
silently flips a broadcast join to sort-merge, stops filter pushdown, or
widens a parquet scan to all columns fails here — at sf0.001, in seconds —
instead of on a cluster.
"""

from __future__ import annotations

import re

from time_series_spark_spark.plans.audit import (
    count_op,
    executed_plan,
    pushed_filters,
    scan_columns,
)
from time_series_spark_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _df(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_star_join_broadcasts_all_dims(spark):
    """q5: every dim side of the 6-way star join must broadcast — zero
    sort-merge joins, so at 100 TB only the fact table streams."""
    df = _df(spark, "q5_nation_revenue")
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastHashJoin") >= 4


def test_q1_filter_pushdown_and_pruning(spark):
    """q1: the shipdate filter reaches the parquet scan and the scan reads
    only the 6 referenced columns of 11."""
    df = _df(spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    (cols,) = scan_columns(df)
    assert "l_shipdate" in cols and len(cols) <= 6


def test_forecast_two_stage_shuffle_shape(spark):
    """F7: the resample→forecast pipeline must shuffle exactly twice, in
    this order: once on the fine-grained (key, day) keys with map-side
    partial aggregation (high cardinality → parallel, skew-free at 100 TB),
    then once more to regroup the *aggregated* series — tiny — by series
    key for the grouped-map UDF. A single-shuffle variant would partition
    the raw fact table by the coarse series key (3 values) — catastrophic
    skew at scale — so two exchanges is the correct plan, not a smell.
    The UDF stage is the packed MapInPandas (operators/packed.py), not a
    per-group FlatMapGroupsInPandas — that per-series dispatch was the
    wide-workload bottleneck."""
    df = _df(spark, "forecast_daily_revenue")
    plan = executed_plan(df)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert count_op(df, "Exchange") == 2
    assert count_op(df, "partial_sum") >= 1  # map-side combine before shuffle


def test_asof_join_is_single_shuffle_no_join(spark):
    """C9 union+window strategy: no join operator at all — one shuffle of
    the unioned stream, then a window. This is what makes it survive a
    skewed 100 TB right side."""
    df = _df(spark, "asof_purchase_view")
    plan = executed_plan(df)
    assert "Join" not in plan
    assert count_op(df, "Exchange") == 1


def test_sessionize_summary_is_single_shuffle(spark):
    """F5 session_summary: the groupBy(user_id, session_id) must reuse the
    window's hash(user_id) exchange — HashPartitioning([user_id]) clusters
    the superset key — so the whole pipeline is one shuffle + one sort.
    A second exchange here would reshuffle every event row at 100 TB."""
    df = _df(spark, "events_sessionize")
    plan = executed_plan(df)
    assert count_op(df, "Exchange") == 1
    assert plan.count("+- Sort ") == 1


def test_events_scan_prunes_unused_columns(spark):
    """events_hourly references ts/event_type/value only; props (the wide
    JSON column) must not be read."""
    df = _df(spark, "events_hourly")
    for cols in scan_columns(df):
        assert "props" not in cols


def test_salted_join_matches_plain_join(spark):
    """Skew utility: salted join is row-identical to the plain join on a
    degenerate key distribution (90% of rows share one key)."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.operators.skew import salted_join

    left = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (17, "cold"), (99999, "nomatch")], "k long, tag string"
    )
    plain = left.join(right, "k", "inner")
    salted = salted_join(left, right, "k", n_salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left join keeps unmatched left rows exactly once
    plain_l = left.join(right, "k", "left")
    salted_l = salted_join(left, right, "k", n_salts=4, how="left")
    assert sorted(map(tuple, salted_l.collect())) == sorted(
        map(tuple, plain_l.collect())
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """A4b/C1 co-location: orders ⋈ lineitem both bucketed on the order
    key joins with zero Exchange operators — the shape that makes a
    repeatedly-joined 100 TB fact pair shuffle-free at read time."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import load, write_bucketed

    orders = load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo")
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "bl")
    )
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
        "o_orderkey"
    ).agg(F.sum("l_quantity").alias("qty"))
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(joined)
        n_exchange_join = plan.count("Exchange hashpartitioning(o_orderkey")
        assert "SortMergeJoin" in plan
        # neither join input is re-partitioned: bucket layout satisfies
        # the join's distribution requirement on both sides
        assert plan.count("Exchange") <= 1  # only the final groupBy, if any
        expected = (
            load(spark, SF, "orders")
            .join(
                load(spark, SF, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_date_partitioned_sink_prunes_partitions(spark, tmp_path):
    """A4 at scale: a sink partitioned by day serves a one-day filter via
    PartitionFilters (directory pruning) — the scan never opens the other
    days' files. This is the 100 TB layout rule for time-ordered outputs."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import load, write_parquet

    out = str(tmp_path / "events_by_day")
    ev = load(spark, SF, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    write_parquet(ev, out, partition_by=["day"])
    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-15")
    plan = executed_plan(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1)
    # correctness: pruned read equals the batch filter
    expect = ev.filter(F.col("day") == "2024-01-15").count()
    assert back.count() == expect and expect > 0


def test_rollup_cascade_reuses_exchanges(spark):
    """F13: the hour->day->month cascade must NOT rescan raw events per
    grain. After AQE finalizes, the daily branch reuses the hourly shuffle
    and the monthly branch reuses the daily shuffle (2 ReusedExchange), so
    the raw table is scanned and shuffle-aggregated exactly once."""
    df = _df(spark, "events_rollup_cascade")
    df.collect()  # AQE stage reuse materializes at runtime
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2


def test_lm_second_count_join_reuses_broadcast(spark):
    """K6b: both gram widths share one count table, so the (n-1)-gram
    join's broadcast subtree is byte-identical to the n-gram join's and
    resolves to a ReusedExchange — the model is built and broadcast once."""
    df = _df(spark, "docs_lm_perplexity")
    df.collect()  # AQE exchange reuse materializes at runtime
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    assert re.search(r"ReusedExchange .*, BroadcastExchange", plan), plan


def test_analytics_single_shuffle_shapes(spark):
    """OHLC / TWA / streaks each reduce to ONE hash exchange: the window
    pass (where present) and the aggregation share the same key
    partitioning. A second exchange would reshuffle the full event
    stream at 100 TB."""
    for name in ("events_ohlc_daily", "events_twa_user", "events_type_streaks"):
        df = _df(spark, name)
        assert count_op(df, "Exchange") == 1, name


def test_edit_pairs_is_equi_join_not_bnlj(spark):
    """docs_edit_pairs: the length-band blocking must plan as a hash
    equi-join on (lang, bucket) — a BroadcastNestedLoopJoin here means
    the blocking key fell out of the join condition and the plan
    degenerated to all-pairs."""
    df = _df(spark, "docs_edit_pairs")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_pairs_lsh_no_allpairs_join(spark):
    """emb_semantic_dedup / emb_near_dup_pairs (round-4 rewrite): candidate
    generation must stay a hash-partitioned (band, band_hash) group-map +
    equi-joins — a CartesianProduct or BroadcastNestedLoopJoin means the
    LSH bucketing fell out and the plan degenerated to all-pairs. (The
    retired exact path's block grid was itself a guarded theta-join; the
    registered queries must never plan one.) Pinned on the operator's own
    plan: the registered query feeds it through connected components,
    whose checkpoints truncate lineage out of the final plan."""
    from time_series_spark_spark.operators.llm import cosine_pairs_lsh
    from time_series_spark_spark.sources.io import load

    emb = load(spark, SF, "embeddings")
    df = cosine_pairs_lsh(emb, threshold=0.45, rows_per_band=4, bands=32)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-bucket GEMM stage


def test_profile_numeric_is_single_scan(spark):
    """orders_profile_numeric claims its whole per-column report costs one
    pass over the table — the plan must contain exactly ONE file scan
    (Catalyst's Expand handles the multiple COUNT(DISTINCT)s), not one
    scan per column or per statistic."""
    df = _df(spark, "orders_profile_numeric")
    plan = executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan  # the multi-distinct rewrite, not extra scans


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering (SURVEY.md §4.1): with a selective
    filter on one join side, Catalyst injects a bloom-filter
    might_contain predicate on the fact side BEFORE the shuffle — at
    100 TB this is the difference between shuffling every lineitem row
    and shuffling only rows whose key can match. Size thresholds are
    lowered here because the corpus is toy-sized; the rewrite itself is
    the 100 TB behavior being pinned."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import load

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: broadcast joins don't need runtime filters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load(spark, SF, "lineitem")
        orders = load(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_suite_no_cartesian_and_dims_broadcast(spark):
    """Sweep the whole adapted TPC-H suite: no plan may contain a
    CartesianProduct, and any BroadcastNestedLoopJoin must be a
    deliberate guarded tiny-side cross join (q11's one-row threshold,
    q22's one-row avg), never an accidental all-pairs join. Dim tables
    (region/nation/supplier/customer/part ≤ part-scale) must reach the
    fact join as broadcasts wherever a join exists — at 100 TB a dim
    that silently becomes a shuffle side doubles the exchange volume."""
    # one-row scalar-threshold broadcasts (guarded crossJoin pattern)
    allowed_bnlj = {
        "q11_important_parts",
        "q20_heavy_shippers",
        "q22_idle_rich_customers",
    }
    tpch = [n for n in REGISTRY if re.match(r"q\d+_", n)]
    assert len(tpch) >= 22
    for name in tpch:
        plan = executed_plan(_df(spark, name))
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_pit_join_is_hash_equi_join(spark):
    """M4: the interval containment must ride as a residual on the
    user equi-join; a BNLJ/CartesianProduct here means the equi-key fell
    out and every fact compares against every dimension version."""
    df = _df(spark, "purchases_pit_activity_state")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tsmining_and_textstats_plan_shapes(spark):
    """Round-4 additions keep their scale shapes: PAA/SAX is one hash
    exchange and join-free; lead-lag's shifted-bucket join hashes on the
    computed key (never BNLJ); PMI's unigram lookups broadcast; the
    LATERAL aggregate decorrelates to a broadcast hash join (no per-row
    re-execution)."""
    p = executed_plan(_df(spark, "events_paa_sax_user"))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1

    p = executed_plan(_df(spark, "events_lead_lag_corr"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p

    p = executed_plan(_df(spark, "docs_pmi_bigrams"))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    p = executed_plan(_df(spark, "lateral_customer_order_stats"))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_m4_single_wide_exchange_and_pruned_span_scan(spark):
    """M4: the span scalar reads only ts (column pruning), and the row
    path has exactly one wide exchange (the groupBy) — the 1-row span
    broadcast must not induce a shuffle of the fact rows."""
    df = _df(spark, "events_m4_type")
    p = executed_plan(df)
    assert p.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p
    cols = scan_columns(df)
    assert any(set(c) == {"ts"} for c in cols), cols


def test_quant_indicator_two_phase_shuffle_shapes(spark):
    """Round-5 indicator queries: the correct 100 TB shape is exactly two
    exchanges — a high-cardinality hash((type, day)) for the heavy daily
    reduce, then a hash(type) exchange that moves only the BOUNDED daily
    frame (types × days rows) into the window. Collapsing to one exchange
    is possible (pre-partition by type alone — the subset rule) but wrong
    at scale: it would push the whole raw-event reduce through 5
    partitions. A third exchange, or any nested-loop join, fails here."""
    for name in (
        "events_bollinger_daily",
        "events_rsi_cutler",
        "events_rolling_skew_kurt",
    ):
        df = _df(spark, name)
        plan = executed_plan(df)
        assert count_op(df, "Exchange") == 2, name
        assert "BroadcastNestedLoop" not in plan, name


def test_session_paths_reuses_user_exchange(spark):
    """session_top_paths: sessionize window, per-session row_number, and
    the (user, session) path agg must ALL run on the single hash(user_id)
    exchange (HashPartitioning([user_id]) clusters every superset key);
    the only other exchange is over the tiny per-path count frame."""
    df = _df(spark, "session_top_paths")
    plan = executed_plan(df)
    assert count_op(df, "Exchange") == 2
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1


def test_vocab_coverage_broadcasts_vocab(spark):
    """docs_vocab_coverage: the bounded top-512 vocab must broadcast into
    the probe join — a shuffled join here would reshuffle every token of
    a 100 TB corpus against a 512-row table."""
    df = _df(spark, "docs_vocab_coverage")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# explain_analyze (plans/metrics.py): executed-metrics ground truth
# ---------------------------------------------------------------------------

def test_explain_analyze_row_counts_match_ground_truth(spark):
    from pyspark.sql import functions as F

    from time_series_spark_spark.plans.metrics import explain_analyze
    from time_series_spark_spark.sources.io import load

    orders = load(spark, "/root/testdata/sf0.001", "orders")
    pipeline = orders.groupBy("o_orderstatus").count()
    rep = explain_analyze(pipeline).collect()
    by_op = {}
    for r in rep:
        by_op.setdefault(r["operator"], []).append(r)
    scans = by_op["Scan parquet"]
    assert len(scans) == 1
    assert scans[0]["rows_out"] == orders.count()
    assert scans[0]["n_files"] >= 1
    # final aggregate emits one row per status
    n_status = orders.select("o_orderstatus").distinct().count()
    agg_rows = [r["rows_out"] for r in by_op["HashAggregate"]]
    assert agg_rows.count(n_status) >= 1
    assert "Exchange" in by_op  # the groupBy shuffled
    seqs = [r["op_seq"] for r in sorted(rep, key=lambda r: r["op_seq"])]
    assert seqs == list(range(len(rep)))


def test_explain_analyze_deterministic(spark):
    from time_series_spark_spark.queries import REGISTRY

    fn = REGISTRY["explain_analyze_report"].fn
    a = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
    assert a == b
    assert len(a) >= 4  # scan x2, join, agg at minimum


def test_merge_hint_forces_sort_merge_join(spark):
    from time_series_spark_spark.queries import REGISTRY

    df = REGISTRY["supplier_order_counts_merge_join"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_clamped_balance_single_hash_exchange(spark):
    """F84: both prefix windows AND the per-user summary agg share ONE
    hash(user_id) exchange — the prefix-min closed form stays a single
    data shuffle (plus the output-order range partition). No joins."""
    df = _df(spark, "users_clamped_balance")
    plan = executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastHashJoin") == 0


def test_slo_burn_prereduces_before_global_window(spark):
    """F81: raw events hash-aggregate to hourly rows FIRST; the only
    single-partition exchange feeds the tiny hourly-frame window, and no
    join appears anywhere."""
    df = _df(spark, "events_slo_burn_alerts")
    plan = executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 1
    # the single-partition side must sit ABOVE the hash agg in the plan
    assert plan.index("SinglePartition") < plan.index("hashpartitioning")
    assert count_op(df, "SortMergeJoin") == 0


def test_inverted_index_rank_limit_pushdown(spark):
    """K23a: Spark's WindowGroupLimit (partial + final) caps postings at
    <= cap rows per term BEFORE the full window sort, and the stats⋈heads
    join broadcasts the term dictionary — never a sort-merge join."""
    df = _df(spark, "docs_inverted_index")
    assert count_op(df, "WindowGroupLimit") == 2
    assert count_op(df, "BroadcastHashJoin") >= 1
    assert count_op(df, "SortMergeJoin") == 0


def test_vwap_single_agg_no_window(spark):
    """F94: VWAP is ONE hash aggregation over the scan — no window, no
    join; the scan reads only the 3 referenced lineitem columns."""
    df = _df(spark, "lineitem_vwap_monthly")
    plan = executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert count_op(df, "Window") == 0
    assert count_op(df, "SortMergeJoin") == 0
    (cols,) = scan_columns(df)
    assert len(cols) <= 3


def test_sequential_stats_prereduce_before_tiny_window(spark):
    """F95-F97 (Page-Hinkley / ADF / Granger): raw events hash-aggregate
    to the |days| frame FIRST; the unpartitioned windows/reduce run over
    that tiny frame only (one hash exchange; single-partition exchanges
    carry days, not events), and no join appears."""
    for name in (
        "events_page_hinkley_drift",
        "events_adf_unit_root",
        "events_granger_view_purchase",
    ):
        df = _df(spark, name)
        plan = executed_plan(df)
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, name
        assert count_op(df, "SortMergeJoin") == 0, name
        assert count_op(df, "BroadcastHashJoin") == 0, name
        # pre-reduction: the hash agg sits below the single-partition side
        assert plan.index("SinglePartition") < plan.index(
            "hashpartitioning"
        ), name


def test_dpp_pruned_join_report(spark):
    """A10: the runtime partition filter actually fires (dpp_active = 1)
    and the selected-year aggregate equals a static recomputation over
    the source table."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import load

    row = _df(spark, "orders_dpp_pruned_join").collect()[0]
    assert row["dpp_active"] == 1
    assert row["n_years_total"] == 7 and row["n_years_selected"] == 2
    orders = load(spark, SF, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.year("o_orderdate").alias("y"),
    )
    lo = [r["y"] for r in orders.select("y").distinct().orderBy("y").limit(2).collect()]
    ref = orders.filter(F.col("y").isin(lo)).agg(
        F.count(F.lit(1)), F.sum("cents")
    ).collect()[0]
    assert row["n_rows_selected"] == ref[0]
    assert row["cents_selected"] == ref[1]


def test_item_item_recs_plan_shape(spark):
    """part_item_item_recs (F104): the basket self-join must be a hash
    EQUI-join on the order key (pair mass bounded by basket size) and
    the item-count joins must broadcast — never a nested-loop or
    cartesian anywhere, which at 100 TB would be an all-pairs item
    blowup."""
    df = _df(spark, "part_item_item_recs")
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_trend_tests_reduce_before_pair_join(spark):
    """F100/F101/F103: the O(days^2)/rank work must run AFTER the reduce
    to calendar days — the raw-table scan feeds exactly one hash
    aggregate pair, and any nested-loop join operand is the bounded
    day frame (single-partition exchange), never the raw table."""
    for name in (
        "events_mann_kendall_daily",
        "events_runs_test_daily",
        "orders_var_cvar_daily",
    ):
        df = _df(spark, name)
        plan = executed_plan(df)
        # raw scan -> partial+final agg: the day reduce appears as a
        # hashpartitioning exchange on the day grouping expression
        assert re.search(
            r"hashpartitioning\((_groupingexpression|d)[#,]", plan
        ), name
        assert "SortMergeJoin" not in plan, name


def test_debounce_single_hash_exchange(spark):
    """events_debounce_user_type (F105): the lag window, the running
    burst-id sum, and BOTH aggregates must all run on one
    hash((user_id, event_type)) exchange — the F5 superset-clustering
    reuse; the only other exchange is the final presentation sort."""
    df = _df(spark, "events_debounce_user_type")
    plan = executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert count_op(df, "Exchange") == 2


def test_compression_report_single_type_exchange(spark):
    """events_compression_report (F114): both lag passes and the final
    aggregate must share one hash(event_type) exchange — re-shuffling
    a 100 TB event stream per window pass would triple the dominant
    cost; bit arithmetic stays in codegen."""
    df = _df(spark, "events_compression_report")
    plan = executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning\(event_type", plan)) == 1
    assert "BroadcastNestedLoop" not in plan


def test_mv_navigation_exact_and_scans_mv_not_fact(spark, tmp_path):
    """D27: the monthly answer derived from the daily MV equals the
    direct fact aggregation for every month, and the re-aggregation
    plan scans the MV parquet (2-3 narrow columns), not the orders
    table."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.sources.io import load

    rows = (
        REGISTRY["orders_mv_rollup_navigation"]
        .fn(spark, SF)
        .collect()
    )
    assert rows and all(r["navigation_exact"] for r in rows)
    n_days = (
        load(spark, SF, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    assert all(r["mv_rows_scanned"] == n_days for r in rows)
    assert all(r["fact_rows_avoided"] > r["mv_rows_scanned"] for r in rows)

    # plan side: a from-MV re-aggregation reads ONLY the MV files
    orders = load(spark, SF, "orders")
    mv_path = str(tmp_path / "mv")
    orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n")).write.parquet(mv_path)
    plan = executed_plan(
        spark.read.parquet(mv_path)
        .groupBy(F.date_trunc("month", "day"))
        .agg(F.sum("n"))
    )
    assert "mv" in plan and "orders" not in plan


def test_duplicate_payments_is_equi_join_never_bnlj(spark):
    """B9: the (custkey, band) match must plan as an EQUI join (hash or
    sort-merge) with the 90-day window as a post-join residual — a
    BroadcastNestedLoopJoin here would be a fact x fact cartesian at
    100 TB."""
    df = _df(spark, "orders_duplicate_payments")
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert (
        count_op(df, "SortMergeJoin") + count_op(df, "BroadcastHashJoin")
        + count_op(df, "ShuffledHashJoin") >= 1
    )


def test_friedman_rank_windows_on_bounded_frame(spark):
    """F120: the rank windows must run AFTER the (day, type) pre-reduce
    — the plan's window partitioning is on the daily frame key 'd',
    never on raw event columns, and no nested-loop join appears."""
    df = _df(spark, "events_friedman_daily")
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    # the pre-reduce exists: a hash aggregate on (event_type, d)
    assert re.search(r"HashAggregate.*event_type", plan)


def test_source_overlap_join_is_equi_on_gram(spark):
    """K14: the source-pair overlap joins on the shingle hash (equi),
    with the a < b dedup as a residual — never a nested loop over the
    gram universe."""
    df = _df(spark, "docs_source_overlap_matrix")
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert (
        count_op(df, "SortMergeJoin") + count_op(df, "BroadcastHashJoin")
        + count_op(df, "ShuffledHashJoin") >= 1
    )


def test_stickiness_never_collects_sets(spark):
    """F171: the trailing-distinct shape must stay dedupe+explode+count
    — a collect_set-over-window plan would hold every hot window's
    user set in executor memory at 100 TB."""
    df = _df(spark, "users_stickiness_panel")
    plan = executed_plan(df)
    assert "collect_set" not in plan.lower()
    # the one BroadcastNestedLoopJoin present is the 1-row span filter
    # (broadcast-of-one-scalar, the accepted pattern) — assert nothing
    # joins two UNBOUNDED sides by checking the dedupe pre-reduce exists
    assert "HashAggregate" in plan


def test_audio_windows_stay_in_codegen(spark):
    """K7c: the window fold must run as whole-stage-codegen higher-order
    functions — no Python evaluation node (BatchEvalPython /
    ArrowEvalPython) in the plan; the explode is the only fan-out."""
    df = _df(spark, "docs_audio_window_features")
    plan = executed_plan(df)
    assert "EvalPython" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_no_rowscale_single_partition_window_plans(spark):
    """Round-7 rewrite pin: the six formerly single-task global-window
    queries (round-6 verdict 'weak' list) now build on the
    operators/rank.py range-partitioned two-pass construction — no
    Exchange SinglePartition in any of their plans may funnel a raw
    (un-aggregated) scan through one task. The only single-partition
    exchanges allowed are those above an aggregate (final global aggs
    and the bounded per-partition offset frames)."""
    from time_series_spark_spark.plans.audit import (
        rowscale_single_partition_exchanges,
    )

    for name in [
        # the round-6 verdict's six
        "events_ks_two_sample",
        "events_id_gap_audit",
        "orders_price_decile_bins",
        "orders_trimmed_winsorized_price",
        "docs_heaps_curve",
        "customers_rfm_segments",
        # the round-7 registry-wide plan-audit catches
        # (scripts/plan_audit.py found these beyond the verdict's list)
        "events_mann_whitney_u",
        "events_kruskal_wallis_value",
        "orders_cvm_drift",
        "orders_cadence_renewal_check",
        "users_activation_latency",
        "events_watermark_lateness_audit",
        # detector false positives fixed by recognizing WindowGroupLimit
        # and LocalLimit as bounded-rows reducers
        "topk_parts_with_ties",
        "docs_multimodal_frame_sample",
        # low-cardinality PARTITION BY windows over raw rows (2-5 tasks
        # each holding a corpus-scale slice) rewritten on grouped_rank
        "events_qq_halves",
        "events_median_ci_by_type",
        "events_trimmed_mean_by_type",
        "events_value_iqr_outliers",
        # distinct-value / dimension-scale cumulative windows converted
        # to the range-partitioned two-pass (near-unique cents frames,
        # user/customer dimensions, conversion-pair frames)
        "orders_ks_drift",
        "orders_mannwhitney_period",
        "orders_jonckheere_priority",
        "events_mood_median_test",
        "events_ansari_bradley_scale",
        "events_gpd_tail_fit",
        "events_pairwise_ks_matrix",
        "events_key_skew_profile",
        "view_to_purchase_latency",
        "customer_revenue_pareto",
        "customer_concentration_report",
        "users_logrank_heavy_light",
    ]:
        assert rowscale_single_partition_exchanges(_df(spark, name)) == [], name
