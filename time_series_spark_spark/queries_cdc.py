"""CDC query surface (operators/cdc.py): snapshot diff + changelog merge.

Both snapshots are deterministic projections of the `orders` table, so the
DuckDB oracle reconstructs them exactly:

- "old" = orders with o_orderkey % 5 <> 4;
- "new" = orders with o_orderkey % 5 <> 0, with price bumped by exactly
  100 cents where o_orderkey % 3 = 0 (integer-cent arithmetic — exact on
  both engines).

So the changelog contains inserts (%5 == 4), deletes (%5 == 0) and updates
(%3 == 0 survivors), and MERGE(old, diff(old, new)) must equal "new"
bit-for-bit — which is precisely what the second query's oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df

from time_series_spark_spark.operators.cdc import apply_changes, snapshot_diff
from time_series_spark_spark.queries import register
from time_series_spark_spark.sources.io import load

_KEYS = ["o_orderkey"]
_COLS = ["price_cents", "o_orderstatus"]


def _old_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 != 4)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("price_cents"),
            "o_orderstatus",
        )
    )


def _new_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 != 0)
        .select(
            "o_orderkey",
            (
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
                + F.when(F.col("o_orderkey") % 3 == 0, 100).otherwise(0)
            ).alias("price_cents"),
            "o_orderstatus",
        )
    )


_OLD_SQL = """
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           o_orderstatus
    FROM orders WHERE o_orderkey % 5 <> 4
"""

_NEW_SQL = """
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END AS price_cents,
           o_orderstatus
    FROM orders WHERE o_orderkey % 5 <> 0
"""


@register(
    "orders_snapshot_diff",
    f"""
    WITH old AS ({_OLD_SQL}), new AS ({_NEW_SQL})
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS op,
           o.price_cents   AS old_price_cents,
           o.o_orderstatus AS old_o_orderstatus,
           n.price_cents   AS new_price_cents,
           n.o_orderstatus AS new_o_orderstatus
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.price_cents IS DISTINCT FROM n.price_cents
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    ORDER BY o_orderkey
    """,
    doc="CDC snapshot diff: one full-outer key join classifying insert/"
    "delete/update in column expressions; unchanged rows (the 100 TB "
    "majority) never leave the join stage.",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snapshot_diff(
        _old_snapshot(spark, sf_dir),
        _new_snapshot(spark, sf_dir),
        _KEYS,
        _COLS,
    ).orderBy("o_orderkey")


@register(
    "orders_apply_changes",
    f"""
    {_NEW_SQL}
    ORDER BY o_orderkey
    """,
    doc="CDC merge: MERGE(old, diff(old, new)) must reproduce the new "
    "snapshot exactly — the oracle IS the new snapshot, so this checks "
    "the diff/merge pair end-to-end (upsert + delete semantics).",
)
def orders_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = _old_snapshot(spark, sf_dir)
    new = _new_snapshot(spark, sf_dir)
    changes = snapshot_diff(old, new, _KEYS, _COLS)
    return apply_changes(old, changes, _KEYS, _COLS).orderBy("o_orderkey")


@register(
    "events_scd2_user_type",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NOT NULL
                     AND event_type IS NOT DISTINCT FROM lag(event_type) OVER w
                    THEN 0 ELSE 1 END AS chg
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run
        FROM flagged
    ),
    per_run AS (
        SELECT user_id, run, any_value(event_type) AS event_type,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current,
           n_events
    FROM per_run WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
    ORDER BY user_id, valid_from
    """,
    doc="M3 SCD2 history build (Kimball type-2 dimension from an event "
    "log): per-user event_type runs become validity intervals "
    "[valid_from, valid_to) with is_current on the open run — "
    "gaps-and-islands + one hash agg + lead(), all on one hash(user) "
    "partitioning.",
)
def events_scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.cdc import scd2_intervals

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_intervals(
        ev, ["user_id"], "ts", ["event_type"], "event_id"
    ).orderBy("user_id", "valid_from")


@register(
    "purchases_pit_activity_state",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    src AS (SELECT * FROM e WHERE event_type <> 'purchase'),
    flagged AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NOT NULL
                     AND event_type IS NOT DISTINCT FROM lag(event_type) OVER w
                    THEN 0 ELSE 1 END AS chg
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run
        FROM flagged
    ),
    dim AS (
        SELECT user_id, run, any_value(event_type) AS state,
               min(ts) AS valid_from
        FROM runs GROUP BY user_id, run
    ),
    dim2 AS (
        SELECT user_id, state, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) AS valid_to
        FROM dim
    ),
    p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
    SELECT coalesce(d.state, 'none') AS state,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM p LEFT JOIN dim2 d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    GROUP BY 1 ORDER BY state
    """,
    doc="M4 point-in-time join over the M3 SCD2 dimension: each purchase "
    "looks up the activity-state interval in effect at its timestamp "
    "(hash equi-join on user + containment residual — never a version "
    "fan-out); purchases before any state get 'none'.",
)
def purchases_pit_activity_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.cdc import pit_join, scd2_intervals

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    dim = scd2_intervals(
        ev.filter(F.col("event_type") != "purchase"),
        ["user_id"],
        "ts",
        ["event_type"],
        "event_id",
    ).select(
        "user_id", F.col("event_type").alias("state"), "valid_from", "valid_to"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    joined = pit_join(purchases, dim, "user_id", "ts")
    return (
        joined.groupBy(F.coalesce(F.col("state"), F.lit("none")).alias("state"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("state")
    )


@register(
    "orders_lineitem_incremental_join",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)            AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY l_returnflag
    """,
    doc="M5 incremental join maintenance: orders/lineitem each split at "
    "a date cutoff into (old, delta); the join view is built as "
    "J_old UNION delta-rule increments (dL*R_old + L_old*dR + dL*dR — "
    "Blakeley SIGMOD'86) and summarized; the oracle recomputes the "
    "full join from scratch, proving increment == recompute exactly",
)
def orders_lineitem_incremental_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.cdc import incremental_join_delta

    cutoff = "1997-01-01"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_returnflag", "l_shipdate"
    )
    o_old = o.filter(F.col("o_orderdate") < cutoff)
    o_new = o.filter(F.col("o_orderdate") >= cutoff)
    l_old = li.filter(F.col("l_shipdate") < cutoff)
    l_new = li.filter(F.col("l_shipdate") >= cutoff)
    j_old = o_old.join(l_old, "o_orderkey")
    delta = incremental_join_delta(o_old, o_new, l_old, l_new, ["o_orderkey"])
    j_new = j_old.unionByName(delta.select(j_old.columns))
    return j_new.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


@register(
    "orders_time_travel_report",
    # round 11 (rows-only → oracle-backed): the three committed snapshots
    # are deterministic parity splits of orders (v0: %3==0, v1: %3<=1,
    # v2: all), so each AS OF read has a closed-form relational oracle —
    # the hash match proves the manifest-resolved snapshots are exactly
    # the frames that were committed. Isolation/travel laws remain
    # pinned in tests/test_cdc.py.
    """
    WITH v(version) AS (VALUES (0), (1), (2)),
    s AS (
        SELECT v.version AS version,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM v JOIN orders ON o_orderkey % 3 <= v.version
        GROUP BY v.version
    )
    SELECT CAST(version AS BIGINT) AS version, n_orders, rev_cents,
           (SELECT count(*) FROM orders) AS n_latest
    FROM s ORDER BY version
    """,
    doc="A13 manifest-versioned table: three successive order snapshots "
    "committed via atomic manifest renames (the Delta/Iceberg core — "
    "data files invisible until the manifest publishes, so crashes "
    "leave the previous version intact), then read back AS OF each "
    "version — per-version row counts and revenue prove time travel. "
    "Temp table dir removed before returning (registered-query hygiene)",
)
def orders_time_travel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="versioned_orders_")
    try:
        write_versioned(orders.filter(F.col("o_orderkey") % 3 == 0), path)
        write_versioned(orders.filter(F.col("o_orderkey") % 3 <= 1), path)
        write_versioned(orders, path)
        rows = []
        for v in (0, 1, 2):
            snap = read_versioned(spark, path, as_of=v)
            agg = snap.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                ).cast("long").alias("rev"),
            ).collect()[0]
            rows.append((v, agg["n"], agg["rev"]))
        latest = read_versioned(spark, path).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, 
        [(v, n, rev, int(latest)) for v, n, rev in rows],
        "version long, n_orders long, rev_cents long, n_latest long",
    )


@register(
    "orders_versioned_restore_roundtrip",
    # A13e (round 11): after RESTORE, the latest snapshot must be exactly
    # the restored version's frame — here the deterministic %3==0 parity
    # split — and the rollback commit's metadata is structural literals.
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(2 AS BIGINT) AS restored_version,
           CAST(0 AS BIGINT) AS restored_from
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="A13e RESTORE (Delta's RESTORE TABLE ... TO VERSION AS OF) on "
    "the manifest-versioned table: commit a snapshot (orderkey%3=0), "
    "REPLACE it with the full table, then roll back to version 0 — a "
    "METADATA-ONLY commit (one manifest re-referencing the old files, "
    "zero data movement) that also re-protects those files from "
    "vacuum. The read-back of the restored snapshot aggregated per "
    "status proves the rollback is exact; history keeps every version "
    "time-travel readable. Temp table removed before returning.",
)
def orders_versioned_restore_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        read_versioned,
        restore_versioned,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="versioned_restore_")
    try:
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(1), path
        )
        write_versioned(orders.coalesce(1), path)  # replace with all rows
        v = restore_versioned(path, 0)
        from time_series_spark_spark.sources.fsio import as_table_fs

        m = as_table_fs(path).read_json(f"_manifest.{v}.json")
        out = (
            read_versioned(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .withColumn("restored_version", F.lit(v).cast("long"))
            .withColumn(
                "restored_from", F.lit(m["restored_from"]).cast("long")
            )
            .orderBy("o_orderstatus")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_history",
    # A13d (round 11): the commits are deterministic (coalesce(1) parity
    # splits), so every history column has a closed form — per-version
    # row counts from orders, the rest structural literals.
    """
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS mode,
           CAST(1 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_adds,
           (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)
               AS n_rows_added,
           TRUE AS is_checkpoint
    UNION ALL
    SELECT 1, 'append', 2, 1,
           (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1), FALSE
    UNION ALL
    SELECT 2, 'replace', 1, 1, (SELECT count(*) FROM orders), TRUE
    ORDER BY version
    """,
    doc="A13d DESCRIBE HISTORY over the manifest-versioned table "
    "(Delta's DESCRIBE HISTORY / Iceberg's snapshots table): one row "
    "per committed version — mode (append|replace|restore|merge|"
    "delete|update — this table exercises append/replace; A13e/A13f "
    "commits record the others), snapshot file "
    "count, files/rows added at commit, checkpoint flag — from "
    "MANIFEST reads only (O(versions) O(KB) metadata, no data-file "
    "I/O; row counts were recorded at commit time from the footers "
    "the writer had just produced). The table here is three "
    "deterministic commits: a first snapshot (orderkey%3=0), a "
    "carry-forward append (%3=1), and a REPLACE of the whole "
    "snapshot. Temp table removed before returning.",
)
def orders_versioned_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        describe_versioned_history,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_history_")
    try:
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(1), path
        )
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(1),
            path,
            carry_forward=True,
        )
        write_versioned(orders.coalesce(1), path)  # replace commit
        out = describe_versioned_history(spark, path).select(
            "version", "mode", "n_files", "n_adds", "n_rows_added",
            "is_checkpoint",
        ).orderBy("version")
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


# ---------------------------------------------------------------------------
# M6: incremental aggregate-view maintenance
# ---------------------------------------------------------------------------
@register(
    "orders_rollup_incremental_merge",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY mon, o_orderpriority
    ORDER BY mon, o_orderpriority
    """,
    doc="M6 incremental aggregate-view maintenance: the monthly "
    "(month, priority) revenue rollup is maintained as "
    "V_new = V_old (+) delta-agg — the engine aggregates ONLY the new "
    "partition (orders >= 1999-01-01) and full-outer-merges it into the "
    "stored view (orders < 1999-01-01) with additive accumulators "
    "(operators/cdc.py::incremental_agg_merge). The oracle computes the "
    "DIRECT full rollup, so the hash match proves merge-path ≡ "
    "recompute-path. At 100 TB the delta agg touches one day's "
    "partition and the merge moves view-sized data only.",
)
def orders_rollup_incremental_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.cdc import incremental_agg_merge

    orders = load(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("mon"),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cutoff = "1999-01-01"

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("mon", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )

    v_old = rollup(orders.filter(F.col("mon") < cutoff))
    delta = rollup(orders.filter(F.col("mon") >= cutoff))
    merged = incremental_agg_merge(
        v_old, delta, ["mon", "o_orderpriority"],
        ["n_orders", "revenue_cents"],
    )
    return merged.orderBy("mon", "o_orderpriority")


# ---------------------------------------------------------------------------
# M7: Merkle-style bucket checksum diff (replica verification)
# ---------------------------------------------------------------------------
# Row fingerprint: 60-bit integer from md5 of the canonical row string —
# identical expression in both engines; bucket = key % 128. XOR is
# order-independent and self-inverse, so a bucket checksum is ONE
# aggregate regardless of row order/partitioning, and equal multisets
# (with the count guard) compare equal with probability 1 - 2^-60.
_MERKLE_FP_SQL = (
    "('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' || "
    "CAST(price_cents AS VARCHAR) || '|' || o_orderstatus), 1, 15))::BIGINT"
)


@register(
    "orders_merkle_bucket_diff",
    f"""
    WITH old_snap AS ({_OLD_SQL}),
    new_snap AS ({_NEW_SQL}),
    old_sum AS (
        SELECT o_orderkey % 128 AS bucket, count(*) AS n_old,
               bit_xor({_MERKLE_FP_SQL}) AS x_old
        FROM old_snap GROUP BY 1
    ),
    new_sum AS (
        SELECT o_orderkey % 128 AS bucket, count(*) AS n_new,
               bit_xor({_MERKLE_FP_SQL}) AS x_new
        FROM new_snap GROUP BY 1
    )
    SELECT COALESCE(old_sum.bucket, new_sum.bucket) AS bucket,
           COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
           CAST(COALESCE(x_old, 0) <> COALESCE(x_new, 0) OR
                COALESCE(n_old, 0) <> COALESCE(n_new, 0) AS INT) AS differs
    FROM old_sum FULL JOIN new_sum ON old_sum.bucket = new_sum.bucket
    ORDER BY bucket
    """,
    doc="M7 Merkle-style replica verification: both snapshots reduce to "
    "128 bucket checksums (order-independent bit_xor of 60-bit md5 row "
    "fingerprints + row counts), and only differing buckets need row-"
    "level reconciliation (M1's diff, scoped to the flagged buckets). "
    "At 100 TB each side is ONE scan + a 128-row aggregate — the "
    "cross-replica compare moves 128 rows, not the table; false-match "
    "probability per bucket is 2^-60. Checksums themselves are compared "
    "(not emitted) so the registered output is engine-portable.",
)
def orders_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = (
        "CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), '|', "
        "CAST(price_cents AS STRING), '|', o_orderstatus)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )

    def summarize(df: DataFrame, n_col: str, x_col: str) -> DataFrame:
        return (
            df.withColumn("bucket", F.col("o_orderkey") % 128)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias(n_col),
                F.expr(f"bit_xor({fp})").alias(x_col),
            )
        )

    old_sum = summarize(_old_snapshot(spark, sf_dir), "n_old", "x_old")
    new_sum = summarize(_new_snapshot(spark, sf_dir), "n_new", "x_new")
    joined = old_sum.join(new_sum, on="bucket", how="full_outer")
    return joined.select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        (
            (F.coalesce("x_old", F.lit(0)) != F.coalesce("x_new", F.lit(0)))
            | (F.coalesce("n_old", F.lit(0)) != F.coalesce("n_new", F.lit(0)))
        ).cast("int").alias("differs"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# M8: change data feed between table versions
# ---------------------------------------------------------------------------
@register(
    "orders_version_change_feed",
    # round 11 (rows-only → oracle-backed): the two committed versions
    # are the same deterministic snapshots M1's diff oracle uses, so the
    # change-feed summary has a direct relational oracle — the diff
    # classification re-stated over the snapshot SQL, aggregated by op.
    # CDF laws (diff ∘ apply ≡ v1) remain pinned in pytest.
    f"""
    WITH old AS ({_OLD_SQL}), new AS ({_NEW_SQL}),
    d AS (
        SELECT CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.o_orderkey IS NULL THEN 'insert'
                    ELSE 'update' END AS op,
               o.price_cents AS old_price_cents,
               n.price_cents AS new_price_cents
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.price_cents IS DISTINCT FROM n.price_cents
           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    )
    SELECT op, count(*) AS n_rows,
           CAST(sum(COALESCE(new_price_cents, 0)
                    - COALESCE(old_price_cents, 0)) AS BIGINT)
               AS net_cents_delta
    FROM d GROUP BY op ORDER BY op
    """,
    doc="M8 change data feed from the A13 manifest-versioned store: "
    "commit two order snapshots as table versions, read both AS OF, "
    "and derive the version-to-version changelog with M1's snapshot "
    "diff (insert/delete/update rows) — Delta's "
    "table_changes() surface from first principles: CDF between "
    "committed versions needs only manifest reads + one co-partitioned "
    "full join on the key. Output: change-type counts + net revenue "
    "delta, 1 summary frame. Temp dir removed before returning.",
)
def orders_version_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.operators.cdc import snapshot_diff
    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )

    path = tempfile.mkdtemp(prefix="versioned_cdf_")
    try:
        write_versioned(_old_snapshot(spark, sf_dir), path)
        write_versioned(_new_snapshot(spark, sf_dir), path)
        v0 = read_versioned(spark, path, as_of=0)
        v1 = read_versioned(spark, path, as_of=1)
        diff = snapshot_diff(v0, v1, _KEYS, _COLS)
        out = (
            diff.groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.coalesce("new_price_cents", F.lit(0))
                    - F.coalesce("old_price_cents", F.lit(0))
                ).alias("net_cents_delta"),
            )
            .orderBy("op")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_compaction_roundtrip",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(1 AS BIGINT) AS compacted_version
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="A17 ∘ A13 OPTIMIZE on the versioned table: orders committed as "
    "a deliberately fragmented version 0 (16 files), compacted by "
    "sources/io.compact_versioned into version 1 via the same atomic "
    "manifest publish every write uses — readers resolve either a "
    "complete old layout or a complete new one, never a mix, and the "
    "pre-compaction version stays time-travel readable. The result "
    "reads the COMPACTED snapshot back and aggregates it, so the "
    "oracle (plain per-priority counts + the deterministic version "
    "number) proves the rewrite is row-lossless. File-count and "
    "stream-append composition laws are pinned in "
    "tests/test_streaming.py. Temp table removed before returning.",
)
def orders_versioned_compaction_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        compact_versioned,
        read_versioned,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="versioned_compact_")
    try:
        write_versioned(orders.repartition(16), path)
        stats = compact_versioned(spark, path, target_file_bytes=1 << 34)
        out = (
            read_versioned(spark, path)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .withColumn(
                "compacted_version",
                F.lit(stats["version"]).cast("long"),
            )
            .orderBy("o_orderpriority")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_vacuum_roundtrip",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(1 AS BIGINT) AS floor_version,
           CAST(1 AS BIGINT) AS n_versions_pruned,
           CAST(1 AS BIGINT) AS pruned_read_raises
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="A13 retention (VACUUM) — the third leg of versioned-table "
    "lifecycle after write/time-travel and A17b OPTIMIZE: v0 = all "
    "orders, v1 REPLACES with the F-status subset, v2 carry-forward "
    "APPENDS the O-status subset (v2's manifest shares v1's files). "
    "sources/io.vacuum_versioned(keep_last=2) publishes retention "
    "floor 1 ATOMICALLY before deleting, prunes exactly v0's files "
    "(v1's survive via reference counting over retained manifests), "
    "and read_versioned(as_of=0) then fails LOUDLY with a retention "
    "error instead of a partial scan. The oracle pins the surviving "
    "snapshot (F+O counts) plus the deterministic floor / pruned-"
    "version / raised flags — proving vacuum is invisible to live "
    "readers and fatal to pruned ones. Crash-safety ordering, shared-"
    "file survival, and streaming-append composition are pinned in "
    "tests/test_streaming.py. Temp table removed before returning.",
)
def orders_versioned_vacuum_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        read_versioned,
        vacuum_versioned,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="versioned_vacuum_")
    try:
        write_versioned(orders, path)
        write_versioned(orders.filter(F.col("o_orderstatus") == "F"), path)
        write_versioned(
            orders.filter(F.col("o_orderstatus") == "O"),
            path,
            carry_forward=True,
        )
        stats = vacuum_versioned(path, keep_last=2)
        try:
            read_versioned(spark, path, as_of=0)
            raised = 0
        except ValueError:
            raised = 1
        out = (
            read_versioned(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .withColumn(
                "floor_version", F.lit(stats["floor"]).cast("long")
            )
            .withColumn(
                "n_versions_pruned",
                F.lit(len(stats["versions_pruned"])).cast("long"),
            )
            .withColumn("pruned_read_raises", F.lit(raised).cast("long"))
            .orderBy("o_orderstatus")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_schema_evolution",
    # cohort = o_orderkey % 2 == the version each row was committed in:
    # cohort-0 files predate the column addition, so their o_custkey is
    # NULL under the manifest-authoritative read schema.
    """
    SELECT CAST(o_orderkey % 2 AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_custkey,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_custkey ELSE 0 END)
                AS BIGINT) AS custkey_sum
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="A13c additive schema evolution on the versioned table (round 9): "
    "v0 commits even-keyed orders as (o_orderkey, price_cents); v1 "
    "carry-forward-appends odd-keyed orders WITH a new o_custkey column. "
    "The manifest stores each commit's schema, reads resolve the AS-OF "
    "manifest's schema explicitly (no footer inference), so v0's files "
    "null-fill the added column and time travel to v0 still shows the "
    "ORIGINAL two-column schema. Non-additive carry-forward changes "
    "(drop/retype/widen) are REJECTED at write time by the enforced A18 "
    "contract check — pinned with the null-fill and as-of-schema laws "
    "in tests/test_streaming.py. Temp table removed before returning.",
)
def orders_versioned_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
        "o_custkey",
    )
    path = tempfile.mkdtemp(prefix="versioned_evolve_")
    try:
        write_versioned(
            orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_custkey"),
            path,
        )
        write_versioned(
            orders.filter(F.col("o_orderkey") % 2 == 1),
            path,
            carry_forward=True,
        )
        out = (
            read_versioned(spark, path)
            .groupBy((F.col("o_orderkey") % 2).alias("cohort"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.count("o_custkey").alias("n_with_custkey"),
                F.coalesce(F.sum("o_custkey"), F.lit(0)).alias(
                    "custkey_sum"
                ),
            )
            .orderBy("cohort")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_layout_health",
    # deterministic layout: each version is written coalesce(1) (one
    # file) and is far under the writer's 128 MB block size (one row
    # group), so the health report is a closed form of the cohort
    # counts. version == o_orderkey % 2 by construction.
    """
    SELECT CAST(o_orderkey % 2 AS BIGINT) AS version,
           CAST(1 AS BIGINT) AS n_files,
           CAST(1 AS BIGINT) AS n_row_groups,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="A19 ∘ A13: layout HEALTH of the live versioned table — the "
    "report a maintenance scheduler consumes to decide between A17b "
    "compaction (too many small files) and re-layout (too-large row "
    "groups serializing scans). Resolves the latest manifest's file "
    "list, runs the distributed footer auditor over exactly those "
    "files (never orphaned/uncommitted ones), attributes each file to "
    "its commit version from the v=N path layout, and aggregates "
    "files/row-groups/rows per version. The coalesce(1) writes are the "
    "deterministic DEMO harness (closed-form oracle), not the operator "
    "— production versions write at natural parallelism and the same "
    "report covers them. Temp table removed before returning.",
)
def orders_versioned_layout_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from time_series_spark_spark.sources.fsio import Snapshot, as_table_fs
    from time_series_spark_spark.sources.io import (
        parquet_layout_report,
        write_versioned,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_layout_")
    try:
        for r in range(2):
            write_versioned(
                orders.filter(F.col("o_orderkey") % 2 == r).coalesce(1),
                path,
                carry_forward=True,
            )
        # version 1 is a carry-forward DELTA manifest (adds + base, no
        # 'files' key — round 10): resolve the full snapshot through the
        # chain walk, never the raw manifest key
        files = Snapshot(as_table_fs(path), 1).files
        rep = parquet_layout_report(
            spark, [os.path.join(path, f) for f in files]
        )
        out = (
            rep.withColumn(
                "version",
                # commit version from the writer-unique staging-dir
                # name v=N-<token>/
                F.regexp_extract("path", r"v=(\d+)", 1).cast("long"),
            )
            .groupBy("version")
            .agg(
                F.count_distinct("path").alias("n_files"),
                F.count(F.lit(1)).alias("n_row_groups"),
                F.sum("n_rows").alias("n_rows"),
            )
            .orderBy("version")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_merge_roundtrip",
    # A13f (round 12): the table is two deterministic parity files
    # (o_orderkey%10 < 5 / >= 5) and the changelog is closed-form —
    # delete %10==0, update %10==1 (status→'U', cents+100), insert
    # synthetic keys k+10M for %10==2 (status 'N', 1 cent) — so the
    # post-MERGE snapshot has an exact relational oracle, and the
    # copy-on-write structure (only the %10<5 file rewritten, the
    # other carried by reference) is pinned as structural literals.
    """
    WITH t AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    merged AS (
        SELECT k,
               CASE WHEN k % 10 = 1 THEN 'U' ELSE status END AS status,
               CASE WHEN k % 10 = 1 THEN cents + 100 ELSE cents END AS cents
        FROM t WHERE k % 10 <> 0
        UNION ALL
        SELECT k + 10000000, 'N', CAST(1 AS BIGINT)
        FROM t WHERE k % 10 = 2
    )
    SELECT status, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(2 AS BIGINT) AS merge_version,
           CAST(1 AS BIGINT) AS files_rewritten,
           CAST(1 AS BIGINT) AS files_carried
    FROM merged GROUP BY status ORDER BY status
    """,
    doc="A13f MERGE INTO on the manifest-versioned table (Delta's "
    "copy-on-write MERGE): commit orders as two parity files, apply a "
    "deterministic keyed changelog (delete / update / insert arms) via "
    "merge_versioned — ONE new commit that rewrites only the file "
    "containing matched keys (%10<5) and carries the other file by "
    "manifest reference with zero I/O. The post-merge snapshot "
    "aggregated per status proves MERGE semantics end-to-end; the "
    "rewritten/carried file counts pin the copy-on-write structure. "
    "History records mode='merge'; onReplace=fail streams refuse the "
    "commit (tests/test_versioned_cow.py). Temp table removed before "
    "returning.",
)
def orders_versioned_merge_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="versioned_merge_")
    try:
        write_versioned(t.filter(F.col("k") % 10 < 5).coalesce(1), path)
        write_versioned(
            t.filter(F.col("k") % 10 >= 5).coalesce(1),
            path,
            carry_forward=True,
        )
        m = F.col("k") % 10
        changes = (
            t.filter(m == 0).select(
                "k",
                F.lit("delete").alias("op"),
                F.lit(None).cast("string").alias("new_status"),
                F.lit(None).cast("long").alias("new_cents"),
            )
            .unionByName(
                t.filter(m == 1).select(
                    "k",
                    F.lit("update").alias("op"),
                    F.lit("U").alias("new_status"),
                    (F.col("cents") + 100).alias("new_cents"),
                )
            )
            .unionByName(
                t.filter(m == 2).select(
                    (F.col("k") + 10_000_000).alias("k"),
                    F.lit("insert").alias("op"),
                    F.lit("N").alias("new_status"),
                    F.lit(1).cast("long").alias("new_cents"),
                )
            )
        )
        rep = merge_versioned(spark, path, changes, ["k"])
        out = (
            read_versioned(spark, path)
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .withColumn(
                "merge_version", F.lit(rep["version"]).cast("long")
            )
            .withColumn(
                "files_rewritten",
                F.lit(rep["n_files_rewritten"]).cast("long"),
            )
            .withColumn(
                "files_carried", F.lit(rep["n_files_carried"]).cast("long")
            )
            .orderBy("status")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_merge_evolve",
    # A13f × A13c (round 13 — Delta's mergeSchema MERGE): the changelog
    # ADDS a `tier` column the table never had; the evolving merge
    # commits the new schema, rewrites only the file containing the
    # matched keys (%10==1 ⊂ the %10<5 parity file), and every carried
    # row null-fills `tier` at read time. Closed-form changelog (update
    # %10==1 → status 'U', cents+100, tier 'gold'; insert k+10M for
    # %10==2 → tier 'new') so the post-merge snapshot has an exact
    # relational oracle; the CoW structure is pinned as literals.
    """
    WITH t AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    merged AS (
        SELECT k,
               CASE WHEN k % 10 = 1 THEN 'U' ELSE status END AS status,
               CASE WHEN k % 10 = 1 THEN cents + 100 ELSE cents END AS cents,
               CASE WHEN k % 10 = 1 THEN 'gold' ELSE NULL END AS tier
        FROM t
        UNION ALL
        SELECT k + 10000000, 'N', CAST(1 AS BIGINT), 'new'
        FROM t WHERE k % 10 = 2
    )
    SELECT tier, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(2 AS BIGINT) AS merge_version,
           CAST(1 AS BIGINT) AS files_rewritten,
           CAST(1 AS BIGINT) AS files_carried
    FROM merged GROUP BY tier ORDER BY tier NULLS FIRST
    """,
    doc="A13f × A13c (round 13): MERGE with ADDITIVE SCHEMA EVOLUTION "
    "on the manifest-versioned table — the changelog carries new_tier "
    "for a column the table does not have; merge_versioned("
    "merge_schema=True) commits the evolved schema in the same "
    "copy-on-write commit (only the matched parity file rewritten, the "
    "other carried by reference and null-filling `tier` under the "
    "manifest-authoritative read schema). Pre-merge versions still "
    "time-travel under the OLD schema (pytest-pinned). Temp table "
    "removed before returning.",
)
def orders_versioned_merge_evolve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="versioned_merge_evolve_")
    try:
        write_versioned(t.filter(F.col("k") % 10 < 5).coalesce(1), path)
        write_versioned(
            t.filter(F.col("k") % 10 >= 5).coalesce(1),
            path,
            carry_forward=True,
        )
        m = F.col("k") % 10
        changes = t.filter(m == 1).select(
            "k",
            F.lit("update").alias("op"),
            F.lit("U").alias("new_status"),
            (F.col("cents") + 100).alias("new_cents"),
            F.lit("gold").alias("new_tier"),
        ).unionByName(
            t.filter(m == 2).select(
                (F.col("k") + 10_000_000).alias("k"),
                F.lit("insert").alias("op"),
                F.lit("N").alias("new_status"),
                F.lit(1).cast("long").alias("new_cents"),
                F.lit("new").alias("new_tier"),
            )
        )
        rep = merge_versioned(spark, path, changes, ["k"], merge_schema=True)
        out = (
            read_versioned(spark, path)
            .groupBy("tier")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .withColumn(
                "merge_version", F.lit(rep["version"]).cast("long")
            )
            .withColumn(
                "files_rewritten",
                F.lit(rep["n_files_rewritten"]).cast("long"),
            )
            .withColumn(
                "files_carried", F.lit(rep["n_files_carried"]).cast("long")
            )
            .orderBy(F.asc_nulls_first("tier"))
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_mor_roundtrip",
    # A13n (round 14 — Delta deletion vectors / Iceberg v2 position
    # deletes): the same closed-form changelog as the merge roundtrip,
    # applied MERGE-ON-READ — a pure-tombstone DELETE of %10==0 (zero
    # data bytes staged, zero files added — the write-amplification
    # pin) followed by a MoR MERGE (update %10==1 → 'U'/cents+100;
    # insert k+10M for %10==2). The final snapshot equals the exact
    # relational oracle below; a CoW twin table gets the identical ops
    # and the full-row symmetric difference is pinned at 0 (MoR ≡ CoW ≡
    # closed form). Structural literals pin the MoR shape: both
    # pre-existing files carried by reference through BOTH commits, one
    # file tombstoned each time.
    """
    WITH t AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    merged AS (
        SELECT k,
               CASE WHEN k % 10 = 1 THEN 'U' ELSE status END AS status,
               CASE WHEN k % 10 = 1 THEN cents + 100 ELSE cents END AS cents
        FROM t WHERE k % 10 <> 0
        UNION ALL
        SELECT k + 10000000, 'N', CAST(1 AS BIGINT)
        FROM t WHERE k % 10 = 2
    )
    SELECT status, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(2 AS BIGINT) AS delete_version,
           CAST(3 AS BIGINT) AS merge_version,
           CAST(1 AS BIGINT) AS files_tombstoned_delete,
           CAST(0 AS BIGINT) AS files_added_by_delete,
           CAST(0 AS BIGINT) AS bytes_staged_by_delete,
           CAST(1 AS BIGINT) AS files_tombstoned_merge,
           CAST(2 AS BIGINT) AS files_carried_merge,
           CAST(0 AS BIGINT) AS mor_vs_cow_diff
    FROM merged GROUP BY status ORDER BY status
    """,
    doc="A13n (round 14): MERGE-ON-READ deletion vectors on the "
    "manifest-versioned table — delete_versioned(strategy='mor') "
    "publishes per-file tombstone positions instead of rewriting the "
    "matched file (0 bytes staged, 0 files added — pinned), then "
    "merge_versioned(strategy='mor') tombstones the updated keys' old "
    "rows and stages ONLY the changelog output. read_versioned "
    "anti-filters tombstones via the parquet _metadata.row_index "
    "column against a broadcast DV frame. A copy-on-write twin table "
    "gets the identical operations and the full-row symmetric "
    "difference is pinned at 0: MoR snapshot ≡ CoW snapshot ≡ the "
    "closed-form relational merge. compact_versioned materializes "
    "(tests/test_mor.py). Temp tables removed before returning.",
)
def orders_versioned_mor_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        delete_versioned,
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    p_mor = tempfile.mkdtemp(prefix="versioned_mor_")
    p_cow = tempfile.mkdtemp(prefix="versioned_mor_cow_")
    try:
        m = F.col("k") % 10
        changes = t.filter(m == 1).select(
            "k",
            F.lit("update").alias("op"),
            F.lit("U").alias("new_status"),
            (F.col("cents") + 100).alias("new_cents"),
        ).unionByName(
            t.filter(m == 2).select(
                (F.col("k") + 10_000_000).alias("k"),
                F.lit("insert").alias("op"),
                F.lit("N").alias("new_status"),
                F.lit(1).cast("long").alias("new_cents"),
            )
        )
        reps = {}
        for path, strategy in ((p_mor, "mor"), (p_cow, "cow")):
            write_versioned(t.filter(m < 5).coalesce(1), path)
            write_versioned(
                t.filter(m >= 5).coalesce(1), path, carry_forward=True
            )
            reps[strategy, "delete"] = delete_versioned(
                spark, path, "k % 10 = 0", strategy=strategy
            )
            reps[strategy, "merge"] = merge_versioned(
                spark, path, changes, ["k"], strategy=strategy
            )
        mor_snap = read_versioned(spark, p_mor)
        cow_snap = read_versioned(spark, p_cow)
        n_diff = (
            mor_snap.exceptAll(cow_snap).count()
            + cow_snap.exceptAll(mor_snap).count()
        )
        d, g = reps["mor", "delete"], reps["mor", "merge"]
        out = (
            mor_snap.groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .withColumn("delete_version", F.lit(d["version"]).cast("long"))
            .withColumn("merge_version", F.lit(g["version"]).cast("long"))
            .withColumn(
                "files_tombstoned_delete",
                F.lit(d["n_files_tombstoned"]).cast("long"),
            )
            .withColumn(
                "files_added_by_delete",
                F.lit(d["n_files_added"]).cast("long"),
            )
            .withColumn(
                "bytes_staged_by_delete",
                F.lit(d["bytes_staged"]).cast("long"),
            )
            .withColumn(
                "files_tombstoned_merge",
                F.lit(g["n_files_tombstoned"]).cast("long"),
            )
            .withColumn(
                "files_carried_merge",
                F.lit(g["n_files_carried"]).cast("long"),
            )
            .withColumn("mor_vs_cow_diff", F.lit(n_diff).cast("long"))
            .orderBy("status")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(p_mor, ignore_errors=True)
        shutil.rmtree(p_cow, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_versioned_constraints_report",
    # A13q (round 14 — Delta's NOT NULL / CHECK table constraints): the
    # catalog is declared at table definition, so it is closed-form; the
    # structural literals pin the ENFORCEMENT result — a violating
    # append (negative cents) was refused with the table unchanged
    # (row count = the two compliant parity commits = all of orders).
    """
    WITH catalog(kind, name, expression) AS (
        VALUES ('check',    'known_status',   'status IN (''O'', ''F'', ''P'')'),
               ('check',    'positive_cents', 'cents > 0'),
               ('not_null', 'k',              'k IS NOT NULL'),
               ('not_null', 'status',         'status IS NOT NULL')
    )
    SELECT kind, name, expression,
           CAST(2 AS BIGINT) AS n_commits,
           CAST(1 AS BIGINT) AS violating_append_refused,
           (SELECT count(*) FROM orders) AS n_rows
    FROM catalog ORDER BY kind, name
    """,
    doc="A13q (round 14): table-level write invariants on the "
    "manifest-versioned table — write_versioned(constraints=...) "
    "declares NOT NULL + CHECK at table definition, every manifest "
    "restates the declaration (table_constraints() is one manifest "
    "read), and every commit enforces it on its STAGED data via one "
    "Observation riding the staging write (zero extra scans — A8's "
    "machinery, Delta's invariant checker shape). The query builds the "
    "constrained table, appends the compliant second half, attempts a "
    "VIOLATING append (negative cents) and pins that it was refused "
    "with the table unchanged; output is the constraint catalog plus "
    "the enforcement literals. CHECK follows SQL semantics (NULL "
    "passes; pytest-pinned in tests/test_constraints.py). Temp table "
    "removed before returning.",
)
def orders_versioned_constraints_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        ConstraintViolationError,
        read_versioned,
        table_constraints,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cons = {
        "not_null": ["k", "status"],
        "check": {
            "positive_cents": "cents > 0",
            "known_status": "status in ('O', 'F', 'P')",
        },
    }
    path = tempfile.mkdtemp(prefix="versioned_constraints_")
    try:
        write_versioned(
            t.filter(F.col("k") % 10 < 5).coalesce(1), path, constraints=cons
        )
        write_versioned(
            t.filter(F.col("k") % 10 >= 5).coalesce(1),
            path,
            carry_forward=True,
        )
        refused = 0
        try:
            write_versioned(
                t.limit(10)
                .withColumn("cents", F.lit(-1).cast("long"))
                .coalesce(1),
                path,
                carry_forward=True,
            )
        except ConstraintViolationError:
            refused = 1
        got = table_constraints(path)
        n_rows = read_versioned(spark, path).count()
        n_commits = 2  # the refused append published nothing
        rows = [
            ("not_null", c, f"{c} IS NOT NULL")
            for c in sorted(got.get("not_null", []))
        ] + [
            (
                "check",
                name,
                {
                    "positive_cents": "cents > 0",
                    "known_status": "status IN ('O', 'F', 'P')",
                }[name],
            )
            for name in sorted(got.get("check", {}))
        ]
        out = (
            local_df(spark, 
                rows, "kind string, name string, expression string"
            )
            .withColumn("n_commits", F.lit(n_commits).cast("long"))
            .withColumn(
                "violating_append_refused", F.lit(refused).cast("long")
            )
            .withColumn("n_rows", F.lit(n_rows).cast("long"))
            .orderBy("kind", "name")
        )
        result = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, result, out.schema)


@register(
    "orders_versioned_zorder_report",
    # rows-only: the pruning fractions depend on approxQuantile sampling
    # and file-split boundaries (stable in DIRECTION, not in exact
    # value), so the registered output is the structural verdicts — the
    # exact envelope math is pinned by pytest
    # (tests/test_sources.py::test_compact_versioned_zorder_preserves_and_prunes).
    None,
    doc="A9 ∘ A17b (round 12): OPTIMIZE ZORDER on the manifest-versioned "
    "table — rewrite the latest snapshot in Morton order over "
    "(o_custkey, price cents) as the next version, then prove from "
    "parquet FOOTER stats (parquet_rowgroup_stats_report, the A19b "
    "auditor) that a tight range predicate on each zorder column "
    "overlaps a strictly smaller fraction of row-group [min,max] "
    "envelopes than on the shuffled pre-OPTIMIZE layout. Data "
    "preserved bit-for-bit; prior versions still time-travel. Temp "
    "table removed before returning.",
)
def orders_versioned_zorder_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.fsio import Snapshot, as_table_fs
    from time_series_spark_spark.sources.io import (
        compact_versioned,
        parquet_rowgroup_stats_report,
        read_versioned,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderkey",
    )
    n_total = t.count()
    path = tempfile.mkdtemp(prefix="versioned_zorder_")
    try:
        write_versioned(t.repartition(8), path)  # shuffled baseline
        tfs = as_table_fs(path)
        v0_files = Snapshot(tfs, 0).files
        before = [tfs.spark_path(f) for f in v0_files]
        rep = compact_versioned(
            spark,
            path,
            target_file_bytes=max(4096, sum(tfs.size(f) for f in v0_files) // 8),
            zorder_by=["o_custkey", "cents"],
        )
        after = [
            tfs.spark_path(f) for f in Snapshot(tfs, rep["version"]).files
        ]
        preserved = read_versioned(spark, path).count() == n_total

        def overlap(paths, col, lo, hi):
            st = parquet_rowgroup_stats_report(spark, paths, col)
            agg = st.agg(
                F.count(F.lit(1)).alias("tot"),
                F.sum(
                    (
                        (F.col("col_max") >= lo) & (F.col("col_min") <= hi)
                    ).cast("long")
                ).alias("ov"),
            ).collect()[0]
            return agg["ov"] / agg["tot"]

        # tight range predicates at ~5% of each column's domain
        ck = t.agg(
            F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi")
        ).collect()[0]
        ck_lo = ck["lo"] + (ck["hi"] - ck["lo"]) * 40 // 100
        ck_hi = ck["lo"] + (ck["hi"] - ck["lo"]) * 45 // 100
        ct = t.agg(
            F.min("cents").alias("lo"), F.max("cents").alias("hi")
        ).collect()[0]
        ct_lo = ct["lo"] + (ct["hi"] - ct["lo"]) * 40 // 100
        ct_hi = ct["lo"] + (ct["hi"] - ct["lo"]) * 45 // 100
        row = (
            int(rep["n_files_before"]),
            int(rep["n_files_after"]),
            bool(preserved),
            overlap(after, "o_custkey", ck_lo, ck_hi)
            < overlap(before, "o_custkey", ck_lo, ck_hi),
            overlap(after, "cents", ct_lo, ct_hi)
            < overlap(before, "cents", ct_lo, ct_hi),
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, 
        [row],
        "n_files_before long, n_files_after long, rows_preserved boolean, "
        "custkey_pruning_improved boolean, cents_pruning_improved boolean",
    )


@register(
    "orders_versioned_skipping_scan",
    # A13g (round 12): the two committed files split o_orderkey at
    # max(o_orderkey)//2 into DISJOINT ranges, so a predicate inside the
    # upper half provably skips the lower file from manifest envelopes
    # alone — the kept/skipped counts are structural literals and the
    # scanned rows have a closed-form relational oracle.
    """
    WITH thr AS (SELECT max(o_orderkey) // 2 AS t FROM orders),
    hits AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders, thr
        WHERE o_orderkey > thr.t
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(1 AS BIGINT) AS files_scanned,
           CAST(1 AS BIGINT) AS files_skipped
    FROM hits GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="A13g manifest-level data skipping (Delta/Iceberg file "
    "skipping): commits record per-file column min/max envelopes in "
    "the manifest (from the footers the writer had just produced), and "
    "read_versioned(prune=(col, lo, hi)) plans the scan over only the "
    "files whose envelope can contain the range — ZERO footer or "
    "data-file I/O at plan time, the 100 TB planning move. The table "
    "here is two disjoint o_orderkey ranges; a predicate inside the "
    "upper half skips the lower file (pinned as literals), and the "
    "pruned-scan-plus-filter aggregates match the whole-table oracle "
    "exactly (skipping is an optimization, never a correctness "
    "filter). Temp table removed before returning.",
)
def orders_versioned_skipping_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        prune_files_by_stats,
        read_versioned,
        write_versioned,
    )

    t = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    thr = t.agg(F.max("k").alias("m")).collect()[0]["m"] // 2
    path = tempfile.mkdtemp(prefix="versioned_skip_")
    try:
        write_versioned(t.filter(F.col("k") <= thr).coalesce(1), path)
        write_versioned(
            t.filter(F.col("k") > thr).coalesce(1),
            path,
            carry_forward=True,
        )
        kept, skipped = prune_files_by_stats(path, 1, "k", thr + 1, None)
        out = (
            read_versioned(spark, path, prune=("k", thr + 1, None))
            .filter(F.col("k") > thr)  # caller filter, as documented
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .withColumn("files_scanned", F.lit(len(kept)).cast("long"))
            .withColumn("files_skipped", F.lit(len(skipped)).cast("long"))
            .orderBy("o_orderstatus")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)
