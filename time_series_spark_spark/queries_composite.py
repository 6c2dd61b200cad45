"""Composite analytical queries (TPC-H-shaped, adapted to the corpus schema).

These deepen the relational surface with multi-join + conditional-agg +
having + window-share compositions — the shapes a reporting workload runs
daily over the fact tables. Scale notes per query: bounded dims (region,
nation, supplier) are broadcast; `part` and `customer` grow with SF so they
join via shuffle and rely on AQE; every LIMIT carries a unique tiebreaker
(driver hash is order-insensitive but LIMIT changes the row set).

Rounding discipline per SURVEY.md §5.1 / the cross-engine tie rules:
round only sums (many-term fp sums don't land on decimal ties the way
avg() does), never `round(avg(double), k)`; ratios are emitted alongside
their numerator/denominator so a sweep failure localizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df
from pyspark.sql.window import Window

from time_series_spark_spark.queries import register
from time_series_spark_spark.sources.io import load


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 adaptation: top customers by returned-item revenue. "
    "C1 multi-join + D1 + G top-k; nation broadcast, fact joins shuffle.",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue_share",
    """
    SELECT round(sum(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END), 2)                         AS promo_revenue,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)  AS total_revenue,
           round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                       / sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                                                                  AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14 adaptation: promo revenue share for one month. "
    "B8 conditional agg inside D2 global agg over a C1 join; `part` "
    "grows with SF so it is NOT broadcast-hinted (AQE decides).",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = load(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.sum(_revenue()), 2).alias("total_revenue"),
            F.round(100.0 * F.sum(promo) / F.sum(_revenue()), 2).alias(
                "promo_share_pct"
            ),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 50
    """,
    doc="TPC-H Q18 adaptation: large-volume orders. Agg-HAVING subquery "
    "joined back to facts — the agg shrinks lineitem to order grain "
    "BEFORE the joins, so only the reduced set shuffles.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("raw_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


@register(
    "q19_disjunctive_part_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 adaptation: disjunctive bracket predicates across the "
    "join. Catalyst extracts the common p_partkey equi-key so this stays "
    "a hash join with the OR as a residual filter, not a BNLJ.",
)
def q19_disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(part, part.p_partkey == li.l_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(bracket).agg(
        F.round(F.sum(_revenue()), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "market_share_by_year",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               year(o.o_orderdate) AS o_year,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey  = o.o_orderkey
        JOIN customer c ON o.o_custkey   = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2, 3
    )
    SELECT region, nation, o_year,
           round(rev, 2) AS revenue,
           round(100.0 * rev / sum(rev) OVER (PARTITION BY region, o_year), 2)
               AS share_pct
    FROM rev
    ORDER BY region, o_year, nation
    """,
    doc="TPC-H Q8 adaptation: each nation's revenue share within its "
    "region per year. D1 agg feeding an E4 window share — the window "
    "runs over the tiny aggregated set (|nation|x|year| rows), never "
    "over the fact table.",
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(_revenue()).alias("rev"))
    )
    w = Window.partitionBy("region", "o_year")
    return rev.select(
        "region",
        "nation",
        "o_year",
        F.round(F.col("rev"), 2).alias("revenue"),
        F.round(100.0 * F.col("rev") / F.sum("rev").over(w), 2).alias("share_pct"),
    ).orderBy("region", "o_year", "nation")


@register(
    "mom_revenue_growth",
    """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               sum(o_totalprice) AS rev
        FROM orders
        GROUP BY 1
    )
    SELECT month,
           round(rev, 2) AS revenue,
           round(rev - lag(rev) OVER (ORDER BY month), 2) AS mom_delta
    FROM m
    ORDER BY month
    """,
    doc="Month-over-month revenue delta: D1 time-bucket agg then E3 lag "
    "over the aggregated series (~80 rows — the unpartitioned window is "
    "safe because it never sees the fact table).",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.orderBy("month")
    return m.select(
        "month",
        F.round(F.col("rev"), 2).alias("revenue"),
        F.round(F.col("rev") - F.lag("rev").over(w), 2).alias("mom_delta"),
    ).orderBy("month")


@register(
    "customers_rfm_segments",
    """
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    base AS (
        SELECT o.o_custkey AS c_custkey,
               CAST(date_diff('day', max(o.o_orderdate), anchor.mx) AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders o CROSS JOIN anchor
        GROUP BY o.o_custkey, anchor.mx
    ),
    scored AS (
        SELECT *,
               ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS r,
               ntile(5) OVER (ORDER BY frequency ASC, c_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary_cents ASC, c_custkey) AS m
        FROM base
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
    doc="RFM segmentation (composite): per-customer recency/frequency/"
    "monetary from orders, quintile-scored with deterministic custkey "
    "tiebreaks (5 = best), rolled up to segment cells. Integer-cents "
    "money; each quintile score is a range-partitioned exact rank + "
    "closed-form ntile arithmetic over the per-customer aggregate — "
    "parallel even when the customer dimension is billions of rows.",
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale note: the three quintile scores run over the per-customer
    # AGGREGATE (|customers| rows, not |orders|) — but customers at
    # 100 TB is still billions, so each score is an operators/rank.py
    # range-partitioned exact rank + the closed-form ntile arithmetic
    # (ntile_expr), never an unpartitioned ntile window. Bit-identical
    # to SQL ntile(5) with the same tiebreaks.
    from time_series_spark_spark.operators.rank import (
        global_rank,
        ntile_expr,
    )

    def _quintile(df, order_by, out: str):
        r = global_rank(df, order_by, "__rnk", total_col="__n")
        return r.withColumn(
            out, ntile_expr(F.col("__rnk"), F.col("__n"), 5)
        ).drop("__rnk", "__n")

    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    base = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    scored = _quintile(
        base, [("recency_days", False), ("c_custkey", True)], "r"
    )
    scored = _quintile(
        scored, [("frequency", True), ("c_custkey", True)], "f"
    )
    scored = _quintile(
        scored, [("monetary_cents", True), ("c_custkey", True)], "m"
    )
    return (
        scored.groupBy(
            F.col("r").cast("long").alias("r"),
            F.col("f").cast("long").alias("f"),
            F.col("m").cast("long").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r", "f", "m")
    )


@register(
    "purchase_attribution_last_touch",
    """
    WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    src AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        WHERE event_type <> 'purchase'
    ),
    matched AS (
        SELECT p.user_id, p.ts, p.value,
               CASE WHEN s.ts IS NOT NULL
                     AND p.ts - s.ts <= INTERVAL 7 DAY
                    THEN s.event_type ELSE 'direct' END AS touch
        FROM p ASOF LEFT JOIN src s
          ON p.user_id = s.user_id AND s.ts <= p.ts
    )
    SELECT touch,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS attributed_cents
    FROM matched GROUP BY touch ORDER BY touch
    """,
    doc="Last-touch attribution (composite, C9 application): each "
    "purchase attributed to the user's latest non-purchase event within "
    "a 7-day window, else 'direct' — the as-of join IS the attribution "
    "engine (one shuffle, no join op); integer-cents rollup per touch "
    "type.",
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.timeseries import asof_join
    from time_series_spark_spark.queries_timeseries import _events

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    sources = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_type"
    )
    joined = asof_join(
        purchases,
        sources,
        "user_id",
        "ts",
        "ts",
        ["event_type"],
        tolerance_seconds=7 * 86400.0,
    )
    return (
        joined.select(
            F.coalesce(F.col("event_type"), F.lit("direct")).alias("touch"),
            "value",
        )
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "attributed_cents"
            ),
        )
        .orderBy("touch")
    )


@register(
    "training_data_pipeline_report",
    None,  # multi-stage composite over sampled/LSH operators → rows-only;
    # stage-monotonicity and reconstruction laws in tests/test_api.py
    doc="END-TO-END curation composite (round 5) — the 'switch your "
    "pipeline to this repo' demonstration wiring six first-class "
    "operators in their production order: K6 quality gate → K1 exact "
    "dedup (md5-normalized, lowest-id keeper) → K2 MinHash-LSH near-dup "
    "pair removal (drop the higher id of each pair) → K9c "
    "temperature-scaled language mix (τ=0.5) → K9d per-language token "
    "budget fill → K9 deterministic shard assignment. Emits one row per "
    "stage: docs surviving and exact token count — the dataset-card "
    "funnel. Every stage is the registered operator itself, so each is "
    "separately oracle/property-checked; ordering is the one that keeps "
    "LSH input small at corpus scale (gate+exact-dedup first)",
)
def training_data_pipeline_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        exact_dedup,
        minhash_lsh_pairs,
        shuffle_shards,
        temperature_weights,
        token_budget_fill,
        tokens,
        weighted_mix,
    )

    docs = load(spark, sf_dir, "documents")

    def stage_row(name: str, idx: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size(tokens())), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )

    stages = [stage_row("0_raw", 0, docs)]

    gated = docs.filter(
        F.size(tokens()).between(20, 80)
        & (
            F.size(F.array_distinct(tokens()))
            / F.size(tokens())
            >= 0.3
        )
    )
    stages.append(stage_row("1_quality_gate", 1, gated))

    # the union of stage rows re-evaluates every upstream branch; cache
    # the two frames the LSH/mix/budget stages all hang off so the gate
    # and dedup chain runs once, not once per downstream action
    deduped = exact_dedup(gated).cache()
    stages.append(stage_row("2_exact_dedup", 2, deduped))

    pairs = minhash_lsh_pairs(deduped, threshold=0.5)
    drop = pairs.select(
        F.greatest("id_a", "id_b").alias("doc_id")
    ).distinct()
    near = deduped.join(drop, "doc_id", "left_anti").cache()
    stages.append(stage_row("3_near_dedup", 3, near))

    counts = {r[0]: r[1] for r in near.groupBy("lang").count().collect()}
    mixed = weighted_mix(
        near, "lang", temperature_weights(counts, 0.5), seed=42
    )
    stages.append(stage_row("4_temperature_mix", 4, mixed))

    filled = token_budget_fill(mixed, strata=["lang"], budget=2000)
    # the fill output carries exact n_tokens itself (text is projected
    # away) — count from that instead of re-tokenizing
    stages.append(
        filled.agg(
            F.lit(5).alias("stage_idx"),
            F.lit("5_token_budget").alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )

    # the K9 operator itself assigns shards (same md5 permutation the
    # sharding query registers) — no inline re-implementation to drift
    sharded = shuffle_shards(filled, n_shards=16, salt=0)
    n_shards = sharded.select("shard").distinct().count()
    out = stages[0]
    for st in stages[1:]:
        out = out.unionAll(st)
    result = out.withColumn(
        "n_shards_final", F.lit(int(n_shards))
    ).orderBy("stage_idx")
    rows = result.collect()
    deduped.unpersist()
    near.unpersist()
    return local_df(spark, rows, result.schema)


@register(
    "purchase_attribution_markov",
    None,  # the absorbing-chain solve (matrix inverse) is not
    # SQL-expressible → rows-only; closed-form chains + sum-to-one +
    # deterministic pinned in tests/test_analytics.py
    doc="Markov-chain attribution by removal effects (Anderl et al. "
    "2016), the model-based counterpart of last-touch: per-user "
    "sessions become ordered non-purchase touch paths labeled by "
    "whether the session converted; paths reduce to a bounded "
    "channels² transition matrix with one explode + hash agg, and the "
    "absorbing-chain solve P(conv) with/without each channel runs on "
    "the driver over the collected matrix (the bounded-scalar "
    "discipline). Output: per-channel removal effect + normalized "
    "attribution (operators/analytics.py::markov_attribution)",
)
def purchase_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from time_series_spark_spark.operators.analytics import (
        markov_attribution,
    )
    from time_series_spark_spark.operators.timeseries import sessionize
    from time_series_spark_spark.queries_timeseries import _events

    ev = _events(spark, sf_dir)
    sess = sessionize(ev, "user_id", "ts", gap_seconds=1800)
    w = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    paths = (
        sess.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("event_type") != "purchase",
                        F.struct("rn", "event_type"),
                    )
                )
            ).alias("touches"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("conv"),
        )
        .select(
            F.expr("transform(touches, t -> t.event_type)").alias("path"),
            (F.col("conv") == 1).alias("converted"),
        )
        .filter(F.size("path") > 0)
    )
    pdf = markov_attribution(paths)
    return local_df(spark, 
        pdf, "channel string, removal_effect double, attribution double"
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# F86 Pareto concentration (80/20 cutoff)
# ---------------------------------------------------------------------------
@register(
    "customer_revenue_pareto",
    """
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS cum_cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
               CAST(sum(cents) OVER () AS BIGINT) AS total_cents,
               count(*) OVER () AS n_cust
        FROM cust
    )
    SELECT
        CAST(min(rnk) FILTER (WHERE cum_cents * 10 >= total_cents * 8)
             AS BIGINT) AS customers_for_80pct,
        CAST(max(n_cust) AS BIGINT) AS n_customers,
        round(min(rnk) FILTER (WHERE cum_cents * 10 >= total_cents * 8)
              * 100.0 / max(n_cust), 4) AS pct_of_customers,
        CAST(max(total_cents) AS BIGINT) AS total_cents
    FROM ranked
    """,
    doc="F86 Pareto revenue concentration: the smallest prefix of "
    "customers (revenue desc, key tiebreak) whose cumulative revenue "
    "reaches 80% of total — the 80/20 panel beside the Gini "
    "coefficient. The threshold predicate is integer cross-multiplied "
    "(cum*10 >= total*8, exact); one per-customer reduce, then windows "
    "over the customer frame (per-key pre-agg first — the window never "
    "sees raw orders). Single summary row.",
)
def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents")
        )
    )
    from time_series_spark_spark.operators.rank import global_cumsum

    # customer dimension is billions at 100 TB: running revenue AND the
    # rank (a running count over the same total order) via one
    # range-partitioned two-pass (operators/rank.py); totals broadcast
    tot = cust.agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_cust"),
    )
    ranked = (
        global_cumsum(
            cust.withColumn("cum_cents", F.col("cents")).withColumn(
                "rnk", F.lit(1)
            ),
            [("cents", False), ("o_custkey", True)],
            ["cum_cents", "rnk"],
        )
        .select("cents", "cum_cents", "rnk")
        .crossJoin(F.broadcast(tot))
    )
    hit = F.when(
        F.col("cum_cents") * 10 >= F.col("total_cents") * 8, F.col("rnk")
    )
    return ranked.agg(
        F.min(hit).alias("customers_for_80pct"),
        F.max("n_cust").alias("n_customers"),
        F.round(
            F.min(hit) * 100.0 / F.max("n_cust"), 4
        ).alias("pct_of_customers"),
        F.max("total_cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# F87 equal-frequency discretization (QuantileDiscretizer shape)
# ---------------------------------------------------------------------------
@register(
    "orders_price_decile_bins",
    """
    WITH r AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (ORDER BY round(o_totalprice * 100)
                                  , o_orderkey) AS rnk,
               count(*) OVER () AS n
        FROM orders
    ),
    binned AS (
        SELECT cents,
               CAST(least(((rnk - 1) * 10) // n, 9) AS INT) AS bin
        FROM r
    )
    SELECT bin, count(*) AS n_orders,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="F87 equal-frequency (decile) discretization of order value — "
    "the QuantileDiscretizer feature-prep shape with EXACT rank "
    "arithmetic: bin = ((rank-1)*10) div n over a (cents, key) total "
    "order, so bin populations differ by at most 1 and both engines "
    "agree bit-for-bit (no interpolated quantile boundaries at all). "
    "The total order is the operators/rank.py two-pass range-partition "
    "+ local rank + broadcast offsets (no single-task window); "
    "everything after is per-bin aggregation.",
)
def orders_price_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.rank import global_rank

    x = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderkey",
    )
    r = global_rank(
        x, [("cents", True), ("o_orderkey", True)], "rnk", total_col="n"
    )
    binned = r.select(
        "cents",
        # exact BIGINT floor division (SQL div), same arithmetic as the
        # oracle's // — no double rounding anywhere near the boundaries
        F.least(
            F.expr("(rnk - 1) * 10 div n"), F.lit(9)
        ).cast("int").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# F88 order/lineitem reconciliation audit
# ---------------------------------------------------------------------------
@register(
    "orders_lineitem_reconciliation",
    """
    WITH li AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS li_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS o_cents,
               COALESCE(li.li_cents, 0) AS li_cents
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ),
    banded AS (
        SELECT CASE
                 WHEN li_cents = 0 THEN 'no_lines'
                 WHEN li_cents * 10 < o_cents * 5  THEN 'under_50pct'
                 WHEN li_cents * 10 < o_cents * 10 THEN 'under_100pct'
                 WHEN li_cents = o_cents           THEN 'exact'
                 WHEN li_cents * 10 < o_cents * 15 THEN 'over_to_150pct'
                 ELSE 'over_150pct'
               END AS band,
               o_cents, li_cents
        FROM j
    )
    SELECT band, count(*) AS n_orders,
           CAST(sum(o_cents) AS BIGINT)  AS header_cents,
           CAST(sum(li_cents) AS BIGINT) AS detail_cents
    FROM banded GROUP BY band ORDER BY band
    """,
    doc="F88 header/detail reconciliation audit: every order's "
    "o_totalprice vs the sum of its lineitem extended prices, banded "
    "by integer cross-multiplied discrepancy ratio (exact — no fp "
    "division in the predicate). The double-entry consistency check "
    "run before trusting either table; per-key reduce + one "
    "co-partitioned join on the order key, band output is 6 rows.",
)
def orders_lineitem_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .alias("li_cents")
        )
    )
    j = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
            .alias("o_cents"),
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            "o_cents", F.coalesce("li_cents", F.lit(0)).alias("li_cents")
        )
    )
    band = (
        F.when(F.col("li_cents") == 0, "no_lines")
        .when(F.col("li_cents") * 10 < F.col("o_cents") * 5, "under_50pct")
        .when(F.col("li_cents") * 10 < F.col("o_cents") * 10, "under_100pct")
        .when(F.col("li_cents") == F.col("o_cents"), "exact")
        .when(F.col("li_cents") * 10 < F.col("o_cents") * 15, "over_to_150pct")
        .otherwise("over_150pct")
    )
    return (
        j.select(band.alias("band"), "o_cents", "li_cents")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_cents").alias("header_cents"),
            F.sum("li_cents").alias("detail_cents"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# C11 time-decay multi-touch attribution (exp half-life credit)
# ---------------------------------------------------------------------------
@register(
    "purchase_attribution_time_decay",
    """
    WITH p AS (
        SELECT event_id AS pid, user_id, ts,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT p.pid, p.cents, s.event_type AS touch, s.event_id AS sid,
               s.ts AS s_ts,
               exp(-(CAST(epoch_us(p.ts) - epoch_us(s.ts) AS DOUBLE)
                     / 86400000000.0) / 2.0) AS w
        FROM p JOIN events s
          ON s.user_id = p.user_id AND s.event_type <> 'purchase'
         AND s.ts <= p.ts AND s.ts > p.ts - INTERVAL 7 DAY
    ),
    normed AS (
        SELECT touch, pid, sid, cents, w,
               max(cw) OVER (PARTITION BY pid) AS tot_w
        FROM (SELECT *, sum(w) OVER (PARTITION BY pid
                      ORDER BY s_ts, sid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cw
              FROM touches)
    ),
    credited AS (
        SELECT touch,
               sum(w / tot_w) OVER wt AS cum_credit,
               sum((w / tot_w) * cents) OVER wt AS cum_cents,
               row_number() OVER (PARTITION BY touch ORDER BY pid, sid)
                   AS rn,
               count(*) OVER (PARTITION BY touch) AS cnt
        FROM normed
        WINDOW wt AS (PARTITION BY touch ORDER BY pid, sid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT touch, CAST(cnt AS BIGINT) AS n_touches,
           round(cum_credit, 4) AS total_credit,
           round(cum_cents, 2) AS attributed_cents
    FROM credited WHERE rn = cnt ORDER BY touch
    """,
    doc="C11 time-decay multi-touch attribution with a 2-day half-"
    "life-style exponential (w = exp(-age_days/2)), completing the "
    "attribution family (last-touch C9b, position-based U-shape, "
    "Markov removal effects): per purchase, every non-purchase touch "
    "in the 7-day lookback gets weight w, normalized to sum 1 within "
    "the purchase (recency earns credit smoothly instead of the "
    "U-shape's position cliffs). Ages are EXACT BIGINT microsecond "
    "diffs; every fp sum is frame-ordered — per-purchase totals via "
    "an ordered cumulative whose MAX (order-independent) is the "
    "total, per-channel rollups via the ordered-cumulative-last-row "
    "device — so both engines agree bit-for-bit pre-rounding. One "
    "bounded range join + windows on purchase/touch keys.",
)
def purchase_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    from time_series_spark_spark.operators.packed import pin_partitions

    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    # The pre-join exchange keys the SLIM touch stream on user BEFORE the
    # purchase×touch pair blowup (guide §2.3 "shuffle fewer bytes": ~2.8×
    # fewer rows than the post-join pid exchange it replaces at sf0.1, and
    # the gap grows with lookback density at scale). The join is keyed on
    # that user partitioning, so the per-purchase windows — re-keyed
    # (p_uid, pid), an identical grouping since pid determines p_uid —
    # need no exchange of their own and the pair rows are never shuffled
    # on pid at all. The purchases carry no broadcast hint: they grow
    # with the data, so Spark broadcasts them only while their estimated
    # (or, under AQE, measured) size is under the broadcast threshold,
    # and a sort-merge join on the same user key carries the same
    # partitioning otherwise.
    s = pin_partitions(
        ev.filter(F.col("event_type") != "purchase").select(
            F.col("user_id").alias("s_uid"),
            F.col("event_type").alias("touch"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("sid"),
        ),
        "s_uid",
    )
    touches = p.join(
        s,
        (F.col("s_uid") == F.col("p_uid"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    ).select(
        "p_uid", "pid", "cents", "touch", "sid", "s_ts",
        F.expr(
            "exp(-(CAST(unix_micros(p_ts) - unix_micros(s_ts) AS DOUBLE)"
            " / 86400000000.0) / 2.0)"
        ).alias("w"),
    )
    w_cum = W.partitionBy("p_uid", "pid").orderBy("s_ts", "sid").rowsBetween(
        W.unboundedPreceding, 0
    )
    # tot_w consumes cw so it stays a second Window node, but sharing
    # w_cum's partition and order spec means no re-sort between the two
    # (max over the whole partition is order-independent — same value).
    w_tot = W.partitionBy("p_uid", "pid").orderBy("s_ts", "sid").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    normed = touches.withColumn("cw", F.sum("w").over(w_cum)).select(
        "touch", "pid", "sid", "cents", "w",
        F.max("cw").over(w_tot).alias("tot_w"),
    )
    wt = W.partitionBy("touch").orderBy("pid", "sid").rowsBetween(
        W.unboundedPreceding, 0
    )
    # count over the whole partition with wt's order spec: merges into
    # wt's Window node (one pass over the touch exchange, not two).
    w_t_all = W.partitionBy("touch").orderBy("pid", "sid").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    credited = normed.select(
        "touch",
        F.sum(F.expr("w / tot_w")).over(wt).alias("cum_credit"),
        F.sum(F.expr("(w / tot_w) * cents")).over(wt).alias("cum_cents"),
        F.row_number()
        .over(W.partitionBy("touch").orderBy("pid", "sid"))
        .alias("rn"),
        F.count(F.lit(1)).over(w_t_all).alias("cnt"),
    )
    return (
        credited.filter(F.col("rn") == F.col("cnt"))
        .select(
            "touch",
            F.col("cnt").cast("long").alias("n_touches"),
            F.round("cum_credit", 4).alias("total_credit"),
            F.round("cum_cents", 2).alias("attributed_cents"),
        )
        .orderBy("touch")
    )
