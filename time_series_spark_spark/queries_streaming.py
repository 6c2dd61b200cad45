"""Streaming query surface (SURVEY.md §2.J).

Each query executes a real Structured Streaming job to completion
(``availableNow`` trigger → memory sink) and returns the materialized
result, so the driver exercises the genuine streaming engine, not a batch
stand-in.

Oracle policy (round 7): the corpus is ONE parquet file, so the
availableNow replay is a single micro-batch whose final materialized
result is fully deterministic — for every query whose result is also
SQL-expressible (windowed aggregates, joins, dedup over unique ids,
burst-start debounce, the SPRT fold) we register the batch-equivalent
DuckDB oracle, converting the external driver's rows-only check into a
full rows+schema+hash confirmation. The stream ≡ batch equivalence these
oracles encode is *additionally* asserted in tests/test_streaming.py
under multi-micro-batch replays (maxFilesPerTrigger splits), which the
SQL oracle cannot see. Queries whose emission depends on order-sensitive
non-SQL recursions (Welford z-flags, Misra-Gries decrements, token
bucket) or on watermark-withheld tails (left-outer J10b) stay rows-only
by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df

from time_series_spark_spark.queries import register
from time_series_spark_spark.sources.io import load
from time_series_spark_spark.streaming.jobs import (
    dedup_stream,
    hourly_counts,
    read_events_stream,
    run_available_now,
    session_windows,
    sliding_counts,
    stateful_user_totals,
    stream_static_join,
    stream_stream_interval_join,
)


@register(
    "stream_hourly_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           event_type,
           count(*)               AS n,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="J1-J3 streaming ingest + watermark + tumbling hourly agg "
    "(availableNow replay in complete mode ≡ the batch hourly GROUP BY "
    "— same oracle as events_hourly; multi-batch replay equivalence "
    "additionally pinned in tests/test_streaming.py)",
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = read_events_stream(spark, sf_dir)
    return run_available_now(hourly_counts(sdf), output_mode="complete")


@register(
    "stream_sliding_counts",
    """
    -- each event lands in the 4 sliding (1 h / 15 min) windows whose
    -- epoch-aligned starts are floor15(ts) - k*15min, k = 0..3
    SELECT make_timestamp(
               ((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - k.k)
               * 900000000
           ) AS w_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1, 2
    """,
    doc="J4 sliding-window agg (1 h window / 15 min slide); complete-mode "
    "replay ≡ batch: every event belongs to exactly 4 epoch-aligned "
    "windows, which the oracle enumerates with a 4-row constant join",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = read_events_stream(spark, sf_dir)
    return run_available_now(sliding_counts(sdf), output_mode="complete")


@register(
    "stream_session_windows",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800000000
                      OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT)   AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="J5 native session windows (30 min gap); complete-mode replay ≡ "
    "the batch gaps-and-islands CTE (the F5 oracle, plus session_end = "
    "last event + gap, Spark's session_window end convention)",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = read_events_stream(spark, sf_dir)
    return run_available_now(session_windows(sdf), output_mode="complete")


@register(
    "stream_dedup_counts",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    doc="J6 streaming dedup: the stream unioned with itself collapses back "
    "to exactly the batch per-type counts (event_id is unique in the "
    "corpus, so dedup removes exactly the doubled copies)",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(a.unionByName(b))
    table = run_available_now(deduped, output_mode="append")
    return table.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "stream_stateful_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 4)      AS total_value
    FROM events GROUP BY 1
    """,
    doc="J7 native streaming aggregate: running per-user (count, value) "
    "state in the state store, no Python worker; "
    "the single-batch update-mode replay emits exactly one final row per "
    "user ≡ the batch GROUP BY (values are 2-decimal, so sums are exact "
    "multiples of 0.01 and round-4 cannot straddle an engine boundary)",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = read_events_stream(spark, sf_dir)
    return run_available_now(stateful_user_totals(sdf), output_mode="update")


@register(
    "stream_static_join_enriched",
    """
    WITH dim AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS lifetime_events
        FROM events GROUP BY 1
    )
    SELECT d.lifetime_events,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM events e JOIN dim d ON e.user_id = d.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
    doc="J8 stream-static broadcast join: events enriched with per-user "
    "lifetime stats computed batch-side; replay ≡ the plain batch join "
    "(every purchase user exists in its own lifetime dim, so inner join "
    "loses nothing)",
)
def stream_static_join_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = read_events_stream(spark, sf_dir)
    user_dim = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    joined = stream_static_join(
        sdf.filter(F.col("event_type") == "purchase"), user_dim, "user_id"
    )
    table = run_available_now(joined, output_mode="append")
    return (
        table.groupBy("lifetime_events")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("lifetime_events")
    )


@register(
    "stream_stream_join_pairs",
    """
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    """,
    doc="J10 stream-stream interval join: clicks paired with same-user "
    "purchases within 30 min; watermark + range condition bound state "
    "on both sides. Inner join emits on match, so the single-batch "
    "replay ≡ the batch theta join the oracle runs",
)
def stream_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_interval_join(clicks, purchases)
    table = run_available_now(joined, output_mode="append")
    return (
        table.groupBy("l_key")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("l_key")
        .withColumnRenamed("l_key", "user_id")
    )


@register(
    "stream_anomaly_flags",
    None,
    doc="J7b streaming anomaly detection: per-user Welford running "
    "mean/variance in the state store (three scalars per key, bounded "
    "forever); each event z-scored against PRIOR events only. Exact "
    "simulation equivalence pinned in tests/test_streaming.py.",
)
def stream_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import stateful_anomaly_flags

    sdf = read_events_stream(spark, sf_dir)
    out = run_available_now(stateful_anomaly_flags(sdf), output_mode="append")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
            F.round(F.max("z"), 4).alias("max_z"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_forecast_serving",
    None,  # streaming + model serving → rows-only; stream ≡ batch
    # equivalence asserted in tests/test_streaming.py
    doc="J12 model serving on a stream (round 4): a Holt-Winters "
    "per-user daily baseline is trained BATCH-side (F7b), broadcast, "
    "and served against the live event stream via a stream-static join "
    "— each event flagged when its day's actual running value deviates "
    ">3x from the forecast baseline; the F7->J8 composition every "
    "monitoring pipeline runs",
)
def stream_forecast_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.forecast import (
        daily_series,
        holt_winters,
    )

    ev_batch = load(spark, sf_dir, "events")
    # train on the first 3 weeks; serve over the remainder of the stream
    train = ev_batch.filter(F.col("ts") < "2024-01-22")
    series = daily_series(train, ["user_id"], "ts", F.sum("value"))
    baseline = (
        holt_winters(series, ["user_id"], "ds", "y", season_length=7, horizon=9)
        .select(
            "user_id",
            F.date_trunc("day", F.col("ds")).alias("bd"),
            F.col("yhat").alias("expected"),
        )
    )
    sdf = read_events_stream(spark, sf_dir).filter(F.col("ts") >= "2024-01-22")
    enriched = stream_static_join(
        sdf.withColumn("d", F.date_trunc("day", F.col("ts"))),
        baseline,
        "user_id",
    ).filter(F.col("d") == F.col("bd"))
    table = run_available_now(enriched, output_mode="append")
    daily_actual = table.groupBy("user_id", "d", "expected").agg(
        F.round(F.sum("value"), 2).alias("actual")
    )
    return (
        daily_actual.withColumn(
            "flag",
            (F.col("actual") > 3 * F.greatest(F.col("expected"), F.lit(1.0)))
            | (F.col("actual") * 3 < F.col("expected")),
        )
        .select("user_id", "d", F.round("expected", 2).alias("expected"),
                "actual", "flag")
        .orderBy("user_id", "d")
    )


@register(
    "stream_dedup_within_watermark",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
    # the jittered-REDELIVERY collapse (the API's raison d'être) needs a
    # multi-batch replay and is pinned in tests/test_streaming.py; the
    # registered single-pass query keeps every unique event_id, so its
    # result ≡ the batch per-type counts and IS oracle-checkable
    doc="J6b dropDuplicatesWithinWatermark (Spark 3.5+): duplicates "
    "collapse when they arrive within the watermark DELAY of each other "
    "— the redelivery-with-jittered-timestamp case classic "
    "dropDuplicates cannot handle; state expires with the watermark",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import (
        dedup_stream_within_watermark,
    )

    sdf = read_events_stream(spark, sf_dir)
    table = run_available_now(
        dedup_stream_within_watermark(sdf), output_mode="append"
    )
    return (
        table.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "stream_left_outer_views",
    # Piecewise batch equivalence AS the oracle (round-7 verdict item 4,
    # landed round 9): matched views ≡ the batch inner interval join
    # (EXISTS), provably-unmatched views ≡ the batch anti-join restricted
    # to ts < horizon, where horizon = GLOBAL watermark − join interval.
    # Both streams carry a 1 h watermark and Spark advances the global
    # one to the MIN of the two sides (multipleWatermarkPolicy default),
    # so horizon = least(max view ts, max purchase ts) − 90 min — floored
    # to the millisecond, because Spark's event-time stats (and hence the
    # watermark itself) are ms-resolution. The HAVING mirrors stream
    # visibility: a user whose every view is unmatched AND still
    # watermark-withheld has emitted no row at all, so the user is
    # absent from the streaming output (not present with zeros).
    # sum(CASE) is CAST to BIGINT — DuckDB sums integers to HUGEINT.
    """
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    h AS (
      SELECT date_trunc('milliseconds', least(
               max(CASE WHEN event_type = 'view' THEN ts END),
               max(CASE WHEN event_type = 'purchase' THEN ts END)))
             - INTERVAL '90 minutes' AS horizon
      FROM events
    ),
    flags AS (
      SELECT v.user_id, v.event_id, v.ts,
             EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase'
                 AND p.user_id = v.user_id
                 AND p.ts >= v.ts
                 AND p.ts <= v.ts + INTERVAL '30 minutes'
             ) AS matched
      FROM v
    )
    SELECT user_id,
           CAST(count(DISTINCT CASE WHEN matched THEN event_id END)
                AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN NOT matched
                          AND ts < (SELECT horizon FROM h)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_expired
    FROM flags
    GROUP BY user_id
    HAVING n_matched > 0 OR n_unmatched_expired > 0
    ORDER BY user_id
    """,
    doc="J10b stream-stream LEFT OUTER interval join: views paired with "
    "same-user purchases within 30 min, unmatched views emitted with "
    "NULLs only after the watermark proves no match can arrive. The "
    "report counts matched vs provably-unmatched views per user; views "
    "in the final watermark-withheld tail (no-match proof never "
    "completes in a finite replay) are excluded from the unmatched "
    "column by the same expiry predicate the state store uses",
)
def stream_left_outer_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import (
        stream_stream_left_outer_join,
    )

    views = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_left_outer_join(views, purchases)
    table = run_available_now(joined, output_mode="append")
    # the expiry horizon: GLOBAL watermark − interval. Both sides carry a
    # watermark, and Spark advances the global one to the MIN of the two
    # (multipleWatermarkPolicy default) — the purchase stream's max event
    # time lags the view stream's, so least() over the per-side maxima,
    # not max(ts) over all events, is the horizon the state store used.
    batch = load(spark, sf_dir, "events")
    horizon = batch.agg(
        F.expr(
            "least(max(CASE WHEN event_type = 'view' THEN ts END), "
            "      max(CASE WHEN event_type = 'purchase' THEN ts END)) "
            "- interval 1 hour 30 minutes"
        ).alias("h")
    ).collect()[0]["h"]
    return (
        table.groupBy("l_key")
        .agg(
            # distinct VIEWS with ≥1 match (a view matching 3 purchases
            # is still one matched view) — so matched + unmatched
            # decomposes the user's views, as the report claims
            F.count_distinct(
                F.when(F.col("r_id").isNotNull(), F.col("l_id"))
            ).alias("n_matched"),
            F.sum(
                (
                    F.col("r_id").isNull() & (F.col("l_ts") < F.lit(horizon))
                ).cast("long")
            ).alias("n_unmatched_expired"),
        )
        .orderBy("l_key")
        .withColumnRenamed("l_key", "user_id")
    )


@register(
    "stream_python_source_ticks",
    # The tick generator is fully deterministic (per-row PCG64 seeded by
    # seed*999_983+i, fixed epoch, 60 s step, 200 rows), so the expected
    # 10-minute buckets are a CLOSED FORM — pinned here as a VALUES
    # oracle, independently re-derived in plain numpy (not via Spark) in
    # tests/test_streaming.py. Offset/replay laws remain pinned there too.
    """
    SELECT bucket,
           CAST(n_ticks AS BIGINT) AS n_ticks,
           CAST(mean_value AS DOUBLE) AS mean_value
    FROM (VALUES
        (TIMESTAMP '2023-11-14 22:10:00', 7, 9.7045),
        (TIMESTAMP '2023-11-14 22:20:00', 10, 10.1259),
        (TIMESTAMP '2023-11-14 22:30:00', 10, 9.9916),
        (TIMESTAMP '2023-11-14 22:40:00', 10, 10.1346),
        (TIMESTAMP '2023-11-14 22:50:00', 10, 9.431),
        (TIMESTAMP '2023-11-14 23:00:00', 10, 9.5159),
        (TIMESTAMP '2023-11-14 23:10:00', 10, 9.1283),
        (TIMESTAMP '2023-11-14 23:20:00', 10, 10.1769),
        (TIMESTAMP '2023-11-14 23:30:00', 10, 9.8137),
        (TIMESTAMP '2023-11-14 23:40:00', 10, 10.1228),
        (TIMESTAMP '2023-11-14 23:50:00', 10, 9.4585),
        (TIMESTAMP '2023-11-15 00:00:00', 10, 10.2433),
        (TIMESTAMP '2023-11-15 00:10:00', 10, 10.146),
        (TIMESTAMP '2023-11-15 00:20:00', 10, 10.2214),
        (TIMESTAMP '2023-11-15 00:30:00', 10, 10.0416),
        (TIMESTAMP '2023-11-15 00:40:00', 10, 9.9121),
        (TIMESTAMP '2023-11-15 00:50:00', 10, 9.8432),
        (TIMESTAMP '2023-11-15 01:00:00', 10, 9.8921),
        (TIMESTAMP '2023-11-15 01:10:00', 10, 10.1144),
        (TIMESTAMP '2023-11-15 01:20:00', 10, 9.5427),
        (TIMESTAMP '2023-11-15 01:30:00', 3, 9.8657)
    ) AS t(bucket, n_ticks, mean_value)
    ORDER BY bucket
    """,
    doc="A12 streaming Python DataSource (SimpleDataSourceStreamReader): "
    "an offset-tracked synthetic tick stream — read() advances a plain "
    "dict offset per micro-batch, readBetweenOffsets() replays a "
    "committed range deterministically after failure, and the engine "
    "checkpoints the offsets: the exactly-once bookkeeping every real "
    "queue connector implements. availableNow drains the capped stream; "
    "the report aggregates the ticks per 10-minute bucket",
)
def stream_python_source_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.sources.pydatasource import (
        register_tick_stream_source,
    )

    register_tick_stream_source(spark)
    sdf = (
        spark.readStream.format("synthetic_ticks")
        .option("rows_per_batch", 200)
        .option("max_rows", 200)
        .option("seed", 7)
        .load()
    )
    table = run_available_now(sdf, output_mode="append")
    return (
        table.groupBy(
            F.window("ts", "10 minutes").start.alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.round(F.avg("value"), 4).alias("mean_value"),
        )
        .orderBy("bucket")
    )


@register(
    "events_watermark_lateness_audit",
    """
    WITH a AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
               max(CAST(ts AS TIMESTAMP)) OVER
                   (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                   AS max_seen
        FROM events
    ),
    lat AS (
        SELECT CAST(epoch_us(max_seen) - epoch_us(ts) AS BIGINT)
                   AS late_us
        FROM a
    )
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_10m,
           CAST(sum(CASE WHEN late_us > 1800000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_30m,
           CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_1h,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM lat
    """,
    doc="Watermark-delay sizing audit (the batch analysis run BEFORE "
    "choosing a streaming watermark): event_id is the arrival order, so "
    "lateness = running-max event time minus own event time; the report "
    "counts events a 10m/30m/1h watermark would drop. The arrival-order "
    "running max is the operators/rank.py range-partitioned cummax "
    "(global_cummax) — exact, parallel at any scale, no single-task "
    "window over the arrival sequence",
)
def events_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.rank import global_cummax

    ev = load(spark, sf_dir, "events")
    a = global_cummax(
        ev.select("event_id", "ts", F.col("ts").alias("max_seen")),
        [("event_id", True)],
        ["max_seen"],
    )
    lat = a.select(
        (
            F.unix_micros("max_seen") - F.unix_micros("ts")
        ).alias("late_us")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long"))
        .cast("long")
        .alias("n_late"),
        F.sum((F.col("late_us") > 600_000_000).cast("long"))
        .cast("long")
        .alias("dropped_at_10m"),
        F.sum((F.col("late_us") > 1_800_000_000).cast("long"))
        .cast("long")
        .alias("dropped_at_30m"),
        F.sum((F.col("late_us") > 3_600_000_000).cast("long"))
        .cast("long")
        .alias("dropped_at_1h"),
        F.max("late_us").cast("long").alias("max_late_us"),
    )


@register(
    "stream_state_audit",
    """
    WITH wm AS (
        -- Spark's event-time watermark after the single replay batch:
        -- max event time truncated to ms, minus the 1 h delay
        SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) - 3600000
               AS wm_ms
        FROM events
    ),
    agg AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT bucket, event_type, n,
           CASE WHEN (epoch_us(bucket) // 1000) + 3600000
                     <= (SELECT wm_ms FROM wm)
                THEN 'emitted' ELSE 'open' END AS status
    FROM agg ORDER BY bucket, event_type
    """,
    # emitted ⇔ window.end <= watermark (Spark's append-mode eviction
    # rule); hour-grain window ends never tie a real-µs-derived watermark,
    # so the boundary direction cannot flip between engines here
    doc="J11 offline state-store audit: run the watermarked hourly agg "
    "with a durable checkpoint, then read the checkpoint back with the "
    "statestore data source (no replay, no running query) and emit one "
    "summary row per hourly window tagged 'emitted' (closed, left the "
    "store) or 'open' (still in state). The union must equal the batch "
    "aggregate — pinned in tests/test_streaming.py; the audit itself is "
    "the 100 TB ops surface: distributed reads of per-key state without "
    "touching the job.",
)
def stream_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.streaming.jobs import (
        read_state_store,
        run_available_now_checkpointed,
    )

    # Fixed per-sf_dir checkpoint path, WIPED up front each invocation:
    # a reused checkpoint would resume past the already-read files and
    # emit nothing; a fresh mkdtemp per call would leak unboundedly
    # (the events_zorder_layout_report lesson). Bounded: one dir per
    # sf_dir, overwritten every run.
    import hashlib
    import os

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    ck = os.path.join(tempfile.gettempdir(), "tss_state_audit", tag)
    shutil.rmtree(ck, ignore_errors=True)
    emitted, _ = run_available_now_checkpointed(
        hourly_counts(read_events_stream(spark, sf_dir)), ck
    )
    state = read_state_store(spark, ck)
    open_windows = state.select(
        F.col("key.window.start").alias("bucket"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.lit("open").alias("status"),
    )
    closed = emitted.select(
        "bucket", "event_type", "n", F.lit("emitted").alias("status")
    )
    return closed.unionByName(open_windows).orderBy("bucket", "event_type")


@register(
    "stream_page_hinkley_drift",
    None,  # stateful streaming → rows-only; recursion equivalence with a
    # plain-Python replay is pinned in tests/test_streaming.py
    doc="J7c streaming Page-Hinkley drift detection per event_type "
    "(availableNow replay): the F95 sequential statistic held as FOUR "
    "state-store scalars per key — bounded state forever, vs the batch "
    "version's full-history window; report row per type with event "
    "count, alarms fired, and the final PH value "
    "(streaming/jobs.py::stateful_page_hinkley).",
)
def stream_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import (
        stateful_page_hinkley,
    )

    sdf = read_events_stream(spark, sf_dir)
    table = run_available_now(
        stateful_page_hinkley(sdf), output_mode="append"
    )
    return (
        table.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("alarm").cast("long")).cast("long").alias("n_alarms"),
            F.round(F.max_by("ph", "event_id"), 4).alias("final_ph"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_debounce_user_type",
    """
    WITH e AS (
        SELECT user_id, event_type, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) > 300000000
                         OR lag(ts) OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    )
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT)                AS n_kept,
           CAST(min(event_id) AS BIGINT)           AS first_kept_id,
           CAST(max(event_id) AS BIGINT)           AS last_kept_id
    FROM e WHERE is_start = 1
    GROUP BY event_type ORDER BY event_type
    """,
    # the stateful rule keeps an event iff >5 min passed since the key's
    # PREVIOUS event — i.e. exactly the F105 burst-start set, which the
    # lag-window CTE reproduces; per-type summary over the keepers
    doc="J12 streaming debounce / alert suppression per (user, "
    "event_type) (availableNow replay): the F105 batch burst rule as "
    "ONE state-store scalar per key (last event timestamp) — bounded "
    "state forever, suppression correct across micro-batch boundaries "
    "because the carried timestamp spans batches; report row per "
    "event_type with keys seen, events kept, and first/last kept "
    "event ids (streaming/jobs.py::stateful_debounce).",
)
def stream_debounce_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import stateful_debounce

    sdf = read_events_stream(spark, sf_dir)
    table = run_available_now(stateful_debounce(sdf), output_mode="append")
    return (
        table.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("event_id").alias("first_kept_id"),
            F.max("event_id").alias("last_kept_id"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_heavy_hitters_users",
    None,  # stateful streaming → rows-only; MG bound + exact-domain
    # equivalence pinned in tests/test_streaming.py
    doc="J13 streaming Misra-Gries heavy hitters per event_type "
    "(availableNow replay): the D18 sketch as BOUNDED state-store "
    "arrays (<=64 counters + one decrement scalar per key, forever); "
    "items are user-id buckets (mod 100), top-10 by upper bound after "
    "the final batch. With 100 distinct items > 64 counters the "
    "decrement path is actually exercised "
    "(streaming/jobs.py::stateful_heavy_hitters).",
)
def stream_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import (
        stateful_heavy_hitters,
    )

    sdf = read_events_stream(spark, sf_dir)
    table = run_available_now(
        stateful_heavy_hitters(sdf), output_mode="append"
    )
    return table.orderBy("event_type", "rnk")


# Single-batch SPRT oracle: the one-file corpus folds to ONE partial row
# (batch_id 0), so the decision frame is one SQL aggregate. The ln()
# constants are embedded as repr()'d Python doubles — the exact bit
# patterns read_sprt_decisions multiplies by — so llr and the bound
# comparisons are bit-identical across engines (DuckDB's own ln() could
# land one ulp away).
def _sprt_oracle() -> str:
    import math

    from time_series_spark_spark.streaming.jobs import (
        SPRT_ALPHA,
        SPRT_BETA,
        SPRT_Q1,
    )

    c_b = repr(math.log(2.0 * SPRT_Q1))
    c_a = repr(math.log(2.0 * (1.0 - SPRT_Q1)))
    up = repr(math.log((1.0 - SPRT_BETA) / SPRT_ALPHA))
    lo = repr(math.log(SPRT_BETA / (1.0 - SPRT_ALPHA)))
    return f"""
    WITH arms AS (
        SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         < '8'
                    THEN 0 ELSE 1 END AS arm
        FROM events WHERE event_type = 'purchase'
    ),
    k AS (
        SELECT CAST(sum(1 - arm) AS BIGINT) AS k_a,
               CAST(sum(arm) AS BIGINT)     AS k_b
        FROM arms
    ),
    l AS (
        SELECT k_a, k_b,
               k_b * ({c_b}) + k_a * ({c_a}) AS llr_raw
        FROM k
    )
    SELECT CAST(0 AS INTEGER) AS batch_id, k_a, k_b,
           round(llr_raw, 6)  AS llr,
           CASE WHEN llr_raw >= ({up}) THEN 'accept_h1'
                WHEN llr_raw <= ({lo}) THEN 'accept_h0'
                ELSE 'continue' END AS verdict
    FROM l
    """


@register(
    "stream_sprt_ab_decision",
    _sprt_oracle(),
    doc="J14 streaming sequential A/B test (Wald SPRT) over the "
    "conversion stream (availableNow replay): each micro-batch folds "
    "to TWO exact integers (per-arm conversion counts under the "
    "md5 split) appended idempotently to a partial log; merge-on-read "
    "rebuilds the exact LLR path k_B*ln(2q1) + k_A*ln(2(1-q1)) and "
    "the first Wald-bound crossing — the always-valid-peeking "
    "sequential decision the fixed-horizon F85 test cannot give "
    "(streaming/jobs.py::incremental_sprt_partials / "
    "read_sprt_decisions). One report row per micro-batch with "
    "cumulative counts, LLR, and the sticky verdict.",
)
def stream_sprt_ab_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from time_series_spark_spark.streaming.jobs import (
        incremental_sprt_partials,
        read_sprt_decisions,
    )

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), "tss_sprt", tag)
    shutil.rmtree(base, ignore_errors=True)
    log = os.path.join(base, "partials")
    incremental_sprt_partials(read_events_stream(spark, sf_dir), log)
    return read_sprt_decisions(spark, log)


@register(
    "stream_rate_limit_audit",
    None,  # stateful streaming -> rows-only; cross-batch equivalence
    # with the batch F163 audit pinned in tests/test_streaming.py
    doc="J15 streaming token-bucket rate limiter per user (availableNow "
    "replay): the F163 recurrence as TWO state-store scalars "
    "(last-event µs, scaled tokens) — bounded state forever, "
    "admission decisions exact across micro-batch boundaries "
    "(streaming/jobs.py::stateful_token_bucket). Per-user summary "
    "row mirroring the batch audit.",
)
def stream_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.streaming.jobs import (
        run_available_now,
        stateful_token_bucket,
    )

    sdf = read_events_stream(spark, sf_dir)
    table = run_available_now(
        stateful_token_bucket(sdf), output_mode="append"
    )
    return (
        table.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("admitted").cast("long").alias("n_admitted"),
            F.sum(F.expr("1 - admitted")).cast("long").alias("n_rejected"),
            F.min(
                F.when(F.col("admitted") == 0, F.col("event_id"))
            ).alias("first_rejected_id"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_versioned_sink_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS version
    FROM events GROUP BY event_type
    """,
    doc="J11d + A13 loop-closer: the events stream publishes each micro-"
    "batch as the next version of a manifest-versioned table "
    "(foreachBatch -> atomic manifest rename; batch-id ledger absorbs "
    "redelivery), then the LATEST COMMITTED SNAPSHOT is read back and "
    "aggregated — stream-through-table ≡ batch, so the oracle is the "
    "plain per-type count (single-file corpus = one micro-batch = "
    "version 0). Crash-mid-batch atomicity, redelivery idempotency, "
    "multi-batch version monotonicity, and time travel across stream "
    "versions are pinned in tests/test_streaming.py.",
)
def stream_versioned_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import read_versioned
    from time_series_spark_spark.streaming.jobs import (
        stream_to_versioned_table,
    )

    table_path = tempfile.mkdtemp(prefix="tss_versioned_sink_")
    ck_path = tempfile.mkdtemp(prefix="tss_ck_")
    try:
        sdf = read_events_stream(spark, sf_dir)
        versions = stream_to_versioned_table(
            sdf, table_path, checkpoint_dir=ck_path
        )
        # a fresh table + fresh checkpoint always commits >= 1 version;
        # an empty `versions` here would mean every batch was absorbed
        # as redelivery, which on a brand-new table is a ledger bug —
        # surface it instead of max()-crashing on an empty list
        if not versions:
            raise RuntimeError(
                "stream_to_versioned_table committed nothing on a fresh "
                f"table ({table_path}): every micro-batch was skipped as "
                "redelivery — (stream_id, batch_id) ledger is broken"
            )
        out = (
            read_versioned(spark, table_path)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(max(versions)).cast("long").alias("version"),
            )
        )
        rows = out.collect()
    finally:
        shutil.rmtree(table_path, ignore_errors=True)
        shutil.rmtree(ck_path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "stream_versioned_source_feed",
    # Three carry-forward versions are committed by o_orderkey % 3 in
    # ascending order, so _commit_version == o_orderkey % 3 — the change
    # feed's per-version attribution is checkable with plain batch SQL.
    """
    SELECT CAST(o_orderkey % 3 AS BIGINT) AS commit_version,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="J11e versioned-table STREAMING SOURCE (round 9) — the read-side "
    "complement of the J11d sink: a Python DataSourceStreamReader whose "
    "offsets are committed version numbers, planning micro-batches from "
    "manifests alone (one InputPartition per added data file, Arrow "
    "record-batch reads, _commit_version stamped per row — Delta's "
    "streaming read from first principles). The query commits three "
    "append versions of orders keyed by o_orderkey % 3, drains the "
    "source with availableNow, and aggregates per commit version. "
    "Incremental resume (only new versions emitted on an existing "
    "checkpoint), the floor-snapshot initial offset, and the loud "
    "pruned-version failure are pinned in tests/test_streaming.py.",
)
def stream_versioned_source_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import write_versioned
    from time_series_spark_spark.sources.pydatasource import (
        register_versioned_table_stream_source,
    )

    table = tempfile.mkdtemp(prefix="tss_vt_src_")
    try:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "price_cents"
            ),
        )
        for r in range(3):
            write_versioned(
                orders.filter(F.col("o_orderkey") % 3 == r),
                table,
                carry_forward=True,
            )
        register_versioned_table_stream_source(spark)
        sdf = (
            spark.readStream.format("versioned_table")
            .option("path", table)
            .load()
        )
        feed = run_available_now(sdf, output_mode="append")
        out = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price_cents").alias("total_cents"),
            )
            .orderBy("commit_version")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(table, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "stream_optimize_skip_feed",
    # Versions: v0 = %3==0, v1 = append %3==1, v2 = OPTIMIZE
    # (dataChange=false — emits nothing), v3 = append %3==2. So the
    # feed's commit_version is 0/1/3 by o_orderkey % 3 and version 2 is
    # ABSENT — the closed-form oracle pins both the per-version
    # attribution and the optimize skip (a re-emitting v2 would double
    # every %3<2 row and break the counts).
    """
    SELECT CAST(CASE o_orderkey % 3 WHEN 0 THEN 0 WHEN 1 THEN 1
                ELSE 3 END AS BIGINT) AS commit_version,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="A13l × J11e (round 13 — Delta's dataChange=false): an OPTIMIZE "
    "commit in the middle of a streamed version feed emits NOTHING — "
    "the stream is read under onReplace=fail, the posture a compaction "
    "previously KILLED (and 'added' would have double-emitted every "
    "compacted row). Three data commits land as versions 0/1/3 with an "
    "OPTIMIZE at version 2; the drained feed aggregated per "
    "_commit_version equals the plain batch split of orders — exact "
    "counts prove the optimize was skipped, not re-emitted. Temp table "
    "removed before returning.",
)
def stream_optimize_skip_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        compact_versioned,
        write_versioned,
    )
    from time_series_spark_spark.sources.pydatasource import (
        register_versioned_table_stream_source,
    )

    table = tempfile.mkdtemp(prefix="tss_vt_opt_")
    try:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "price_cents"
            ),
        )
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 0),
            table,
            carry_forward=True,
        )
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 1),
            table,
            carry_forward=True,
        )
        compact_versioned(spark, table, target_file_bytes=1 << 34)  # v2
        write_versioned(
            orders.filter(F.col("o_orderkey") % 3 == 2),
            table,
            carry_forward=True,
        )
        register_versioned_table_stream_source(spark)
        sdf = (
            spark.readStream.format("versioned_table")
            .option("path", table)
            .option("onReplace", "fail")
            .load()
        )
        feed = run_available_now(sdf, output_mode="append")
        out = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price_cents").alias("total_cents"),
            )
            .orderBy("commit_version")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(table, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "orders_incremental_pipeline_roundtrip",
    # src commit version == o_orderkey % 3 (three ascending carry-forward
    # commits), so the pipeline's per-source-version output is checkable
    # with plain batch SQL over orders.
    """
    SELECT CAST(o_orderkey % 3 AS BIGINT) AS src_version,
           CAST(count(*) AS BIGINT) AS n_high_value,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 20000000
    GROUP BY 1 ORDER BY 1
    """,
    doc="J11f end-to-end incremental pipeline (round 9) — the medallion "
    "step composed from the repo's own table format: J11e versioned-"
    "table SOURCE (incremental version feed) -> stateless transform "
    "(high-value filter + projection) -> J11d versioned-table SINK. "
    "Exactly-once across BOTH tables by composition: source offsets "
    "(src version numbers) live in the checkpoint, the sink's "
    "(stream_id, batch_id) manifest ledger absorbs replay redelivery. "
    "The query builds a 3-version src from orders, runs the pipeline, "
    "and aggregates the DESTINATION table per source commit version. "
    "Incremental resume (only new src versions flow), the no-op law "
    "(re-run publishes nothing), and crash-replay idempotency are "
    "pinned in tests/test_streaming.py. Temp tables removed before "
    "returning.",
)
def orders_incremental_pipeline_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        run_incremental_pipeline,
    )

    src = tempfile.mkdtemp(prefix="tss_pipe_src_")
    dst = tempfile.mkdtemp(prefix="tss_pipe_dst_")
    ck = tempfile.mkdtemp(prefix="tss_pipe_ck_")
    try:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "price_cents"
            ),
        )
        for r in range(3):
            write_versioned(
                orders.filter(F.col("o_orderkey") % 3 == r),
                src,
                carry_forward=True,
            )

        def transform(feed: DataFrame) -> DataFrame:
            return feed.filter(F.col("price_cents") >= 20_000_000).select(
                "o_orderkey",
                "price_cents",
                F.col("_commit_version").alias("src_version"),
            )

        run_incremental_pipeline(spark, src, dst, transform, ck)
        out = (
            read_versioned(spark, dst)
            .groupBy("src_version")
            .agg(
                F.count(F.lit(1)).alias("n_high_value"),
                F.sum("price_cents").alias("total_cents"),
            )
            .orderBy("src_version")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@register(
    "stream_merge_upsert_feed",
    # J11g (round 12): availableNow replay of the events stream through
    # foreachBatch MERGE — the final snapshot is last-writer-wins per
    # user across ALL events (batch boundaries cannot change it: each
    # batch merges its per-key latest, and later batches overwrite),
    # so the oracle is the per-user latest event. The post-merge
    # history modes are pinned as a structural column.
    """
    WITH latest AS (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    )
    SELECT user_id, event_type AS last_type, cents AS last_cents,
           CAST(1 AS BIGINT) AS merge_commits
    FROM latest WHERE rk = 1 ORDER BY user_id
    """,
    doc="J11g streaming UPSERT into the versioned table (Delta's CDC "
    "apply: readStream -> foreachBatch -> MERGE INTO, from this repo's "
    "own parts): each micro-batch dedupes to its latest row per "
    "user_id (last-writer-wins by ts, event_id) and applies as one "
    "A13f copy-on-write merge commit — only files containing matched "
    "keys rewrite; (stream_id, batch_id) in the manifest ledger "
    "absorbs at-least-once redelivery, which matters because MERGE is "
    "not idempotent by content. The read-back snapshot must equal the "
    "batch per-user latest event exactly. Temp table/checkpoint "
    "removed before returning.",
)
def stream_merge_upsert_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from time_series_spark_spark.sources.io import read_versioned
    from time_series_spark_spark.streaming.jobs import (
        read_events_stream,
        stream_merge_to_versioned_table,
    )

    from time_series_spark_spark.sources.io import write_versioned

    sdf = read_events_stream(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("last_cents"),
        "ts",
        "event_id",
    )
    table = tempfile.mkdtemp(prefix="merge_upsert_")
    ck = tempfile.mkdtemp(prefix="merge_upsert_ck_")
    try:
        # seed v0: one 'seed' row per user (every seed user appears in
        # events, so the stream's merge commits must overwrite ALL of
        # them — the oracle never sees a seed row unless MERGE broke)
        seed = (
            load(spark, sf_dir, "events")
            .select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit("seed").alias("last_type"),
                F.lit(0).cast("long").alias("last_cents"),
            )
            .coalesce(1)
        )
        write_versioned(seed, table)
        stream_merge_to_versioned_table(
            sdf, table, ["user_id"], ["ts", "event_id"], checkpoint_dir=ck
        )
        from time_series_spark_spark.sources.io import (
            describe_versioned_history,
        )

        n_merge = (
            describe_versioned_history(spark, table)
            .filter(F.col("mode") == "merge")
            .count()
        )
        out = (
            read_versioned(spark, table)
            .select("user_id", "last_type", "last_cents")
            .withColumn("merge_commits", F.lit(n_merge).cast("long"))
            .orderBy("user_id")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return local_df(spark, rows, out.schema)
