"""Structured Streaming surface (SURVEY.md §2.J) over the events stream.

The correctness strategy is replay equivalence (§5.5): every streaming
operator, run over file-replayed events with an ``availableNow`` trigger,
must agree with its batch counterpart on the same data. The driver's
oracle is batch-only, so the registered queries are rows-only checks and
pytest asserts stream ≡ batch.

Scale notes: watermarks bound state (J2); session windows and dedup keep
per-key state that AQE/state-store partitioning spreads by key; the
per-user running totals (J7) are a native streaming aggregate — state
lives in the state store, partitioned by user, exactly how a 100 TB
stream would shard, and no Python worker runs. The stateful jobs whose
update Spark cannot express (anomaly flags, Page-Hinkley, debounce,
heavy hitters, token bucket) use ``applyInPandasWithState``. Spark
cannot prune columns through an opaque pandas function, so each of
them selects its keys and the columns its update reads before
``groupBy``; the rest never cross to Python.

Spark 4's newer ``transformWithStateInPandas`` was evaluated and is NOT
usable in this environment: its driver-side Python runner imports
``google.protobuf``, which is broken here and cannot be installed
(no network). ``applyInPandasWithState`` carries the Python stateful
jobs instead; swap in a ``StatefulProcessor`` when protobuf is
available.
"""

from __future__ import annotations

import functools
import uuid
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from time_series_spark_spark.sources.io import events_ts_to_timestamp

EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_NTZ = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _stream_source_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory*; the corpus ships
    one parquet file per table. Stage a stable symlink directory per
    sf_dir (read-only corpus is never touched)."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "tss_stream_src", tag)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """J1: file-source stream over the events parquet, normalized to the
    same session-tz TimestampType as the batch scan (``sources.io.load``).

    A file stream source needs its schema declared up front, so probe the
    physical ``ts`` type with a one-footer batch read (driver-only, no
    data scan), declare the matching schema, and convert ``ts`` with
    ``sources.io.events_ts_to_timestamp``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = _stream_source_dir(sf_dir)
    probe = dict(spark.read.parquet(src_dir).dtypes).get("ts")
    nanos = probe == "bigint"
    reader = spark.readStream.schema(
        EVENTS_SCHEMA_NANOS if nanos else EVENTS_SCHEMA_NTZ
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return events_ts_to_timestamp(reader.parquet(src_dir))


def hourly_counts(sdf: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """J2+J3: watermark + tumbling hourly window aggregate."""
    return (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "total_value")
    )


def sliding_counts(sdf: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """J4: sliding window (1 h window, 15 min slide)."""
    return (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def session_windows(sdf: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """J5: native session windows (must agree with the batch F5
    sessionization on the same data — asserted in tests)."""
    return (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(sdf: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """J6: streaming exact dedup on event_id within the watermark."""
    return sdf.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stateful_user_totals(sdf: DataFrame) -> DataFrame:
    """J7: stateful per-key processing — a running (count, total value)
    per user, as a native streaming aggregate. The partial sums live in
    the state store, partitioned by user; in ``update`` mode each
    micro-batch emits one row per user it touched, carrying the running
    totals."""
    return sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# The applyInPandasWithState updates are module-level functions (parameters
# bound with functools.partial): they pickle by reference, so a worker that
# loads one imports this package, whose __init__ installs the zipcache guard.


def _anomaly_flags_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, *, z_thresh: float
):
    import math

    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    out_rows = []
    for pdf in pdfs:
        # within a batch, preserve event order for the online update
        ordered = pdf.sort_values("event_id")
        for ev, v in zip(ordered["event_id"], ordered["value"]):
            v = float(v)
            if n >= 2 and m2 > 0:
                sd = math.sqrt(m2 / (n - 1))
                z = (v - mean) / sd if sd > 0 else 0.0
            else:
                z = 0.0
            out_rows.append(
                (int(key[0]), int(ev), v, round(z, 4), abs(z) > z_thresh)
            )
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    state.update((n, mean, m2))
    yield pd.DataFrame(
        out_rows,
        columns=["user_id", "event_id", "value", "z", "is_anomaly"],
    )


def stateful_anomaly_flags(sdf: DataFrame, z_thresh: float = 3.0) -> DataFrame:
    """J7b: streaming anomaly detection — per-user running mean/variance
    via Welford's online algorithm (Welford 1962) held in the state
    store; each event is flagged against the statistics of all PRIOR
    events for its key (never its own value — no self-masking), the
    streaming analogue of the batch rolling-z operator (F11).

    State per key is three scalars (n, mean, M2) regardless of stream
    length — the bounded-state property that lets this run forever; the
    batch equivalent needs the whole history in a window frame.

    Emits one row per event with the prior-stats z-score and flag.
    """
    output_schema = (
        "user_id long, event_id long, value double, z double, is_anomaly boolean"
    )
    state_schema = "n long, mean double, m2 double"

    return sdf.select("user_id", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        functools.partial(_anomaly_flags_update, z_thresh=z_thresh),
        output_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _page_hinkley_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, *,
    delta: float, lam: float,
):
    n, total, m, m_min = state.get if state.exists else (0, 0.0, 0.0, 0.0)
    out = []
    for pdf in pdfs:
        ordered = pdf.sort_values("event_id")
        for ev, v in zip(ordered["event_id"], ordered["value"]):
            cents = float(round(float(v) * 100))
            n += 1
            total += cents
            m += cents - total / n - delta
            m_min = min(m_min, m)
            ph = m - m_min
            out.append((key[0], int(ev), int(cents), round(ph, 4), ph > lam))
    state.update((n, total, m, m_min))
    yield pd.DataFrame(
        out,
        columns=["event_type", "event_id", "cents", "ph", "alarm"],
    )


def stateful_page_hinkley(
    sdf: DataFrame,
    delta: float = 50.0,
    lam: float = 5000.0,
) -> DataFrame:
    """J7c: streaming Page-Hinkley drift detection per event_type — the
    streaming analogue of the batch F95 test, with the same recursion:
    the cumulative deviation of each value (cents) from the RUNNING mean
    minus slack ``delta``, alarmed when it exceeds its own running
    minimum by ``lam``. The sequential statistic needs only FOUR scalars
    of state per key (n, sum, m, m_min) regardless of stream length —
    the textbook reason PH is the drift detector of streaming libraries
    (river/MOA); the batch version needs the full history in ordered
    window frames.

    Events are processed in event_id order within each batch (the
    replay-determinism device every stateful job here uses). Emits one
    row per event with the PH statistic and alarm flag; replay ≡ the
    same recursion run in plain Python, pinned in tests.
    """
    output_schema = (
        "event_type string, event_id long, cents long, "
        "ph double, alarm boolean"
    )
    state_schema = "n long, total double, m double, m_min double"

    return sdf.select("event_type", "event_id", "value").groupBy(
        "event_type"
    ).applyInPandasWithState(
        functools.partial(_page_hinkley_update, delta=delta, lam=lam),
        output_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_static_join(sdf: DataFrame, static_dim: DataFrame, on: str) -> DataFrame:
    """J8: enrich a stream with a broadcast static dimension."""
    return sdf.join(F.broadcast(static_dim), on)


def _drain(
    writer: DataStreamWriter, checkpoint_dir: str | None
) -> StreamingQuery:
    """Start ``writer`` with an ``availableNow`` trigger (and the
    checkpoint, if any) and wait until all available input is consumed."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion over all available input
    (replay), materialize via the memory sink, return the result table."""
    return run_available_now_checkpointed(stream_df, None, output_mode, name)[0]


def read_rate_stream(
    spark: SparkSession, rows_per_batch: int = 100, n_partitions: int = 2
) -> DataFrame:
    """A5 (rate half): deterministic synthetic stream — ``rows_per_batch``
    rows per micro-batch as ``(timestamp, value)``. The load-generator
    source for exercising sinks/operators without a file corpus."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", n_partitions)
        .load()
    )


def foreach_batch_collect(stream_df: DataFrame, path: str) -> None:
    """A6: foreachBatch sink — bridge each micro-batch into a batch parquet
    writer (the standard streaming→batch escape hatch)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    _run_partial_log(stream_df, write_batch, None)


# --------------------------------------------------------------------------
# J9: streaming continuous aggregate — incremental sketch partials
# --------------------------------------------------------------------------

def _write_partials_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """Exactly-once partial-log write: partition by the micro-batch id and
    DYNAMICALLY overwrite only that partition — a redelivered batch (sink
    retry after a crash between write and commit) REPLACES its own prior
    output instead of appending a duplicate generation, so merge-on-read
    stays exact under at-least-once delivery. This is the standard
    idempotent-foreachBatch recipe; blind ``append`` would double-count."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _run_partial_log(
    stream: DataFrame,
    fold_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
) -> None:
    """Run ``fold_batch`` on every micro-batch of ``stream`` until all
    available input is consumed (``availableNow``). With a checkpoint, a
    RESTARTED stream resumes after the last committed micro-batch
    (source offsets + batch ids persist), so only newly arrived files are
    processed — the recovery semantics a long-lived ingestion job needs.
    Without one, availableNow replays from scratch and the idempotent
    sink (:func:`_write_partials_idempotent`) absorbs it."""
    _drain(stream.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def incremental_bitmap_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain an EXACT streaming distinct-count aggregate as an
    append-only log of mergeable bitmap partials (operators/sketches.py
    D16), the streaming half of the continuous-aggregate pattern.

    Each micro-batch folds to fixed-size (event_type, day, id-bucket,
    bitmap) partial rows — a few KB regardless of batch size — and APPENDS
    them; readers OR-merge at query time (:func:`read_incremental_distinct`).
    Writes are idempotent per micro-batch (round 4: batch-id partition +
    dynamic overwrite — see :func:`_write_partials_idempotent`), so
    at-least-once redelivery cannot double-count; at scale a compaction job periodically
    OR-merges the log back to one row per (key, bucket), which is
    `bitmap_rollup`'s partials-in = partials-out shape.
    """
    from time_series_spark_spark.operators.sketches import bitmap_partials

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = bitmap_partials(
            batch_df.select(
                "event_type",
                F.date_trunc("day", "ts").alias("d"),
                "user_id",
            ),
            ["event_type", "d"],
            "user_id",
        )
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def incremental_cm_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """J9b: streaming frequency sketch — each micro-batch folds to
    Count-Min cells (operators/sketches.py D20, ≤ d·w rows per batch)
    appended to a partial log; cell addition is associative, so
    merge-on-read ≡ sketching the whole stream at once, EXACTLY (the
    merge-law test pins it). Same append-only/compaction story as the
    bitmap log."""
    from time_series_spark_spark.operators.sketches import cm_partials

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_partials_idempotent(
            cm_partials(batch_df, F.col("user_id")), batch_id, partials_path
        )

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def incremental_hist_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """J9c: streaming histogram partial log (round 4) — each micro-batch
    folds to exact equi-width bucket counts (operators/sketches.py D21,
    ≤ keys × n_buckets rows per batch) appended to a partial log; count
    addition is associative, so merge-on-read ≡ bucketing the whole
    stream at once, EXACTLY (merge-law test pins it), and any quantile
    re-answers from the log via ``hist_quantile``. Same append-only /
    compaction story as the bitmap and Count-Min logs."""
    from time_series_spark_spark.operators.sketches import hist_partials

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = hist_partials(
            batch_df.select(
                "event_type",
                F.date_trunc("day", "ts").alias("d"),
                "value",
            ),
            ["event_type", "d"],
            "value",
            0.0,
            512.0,
            64,
        )
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def read_incremental_hist(spark: SparkSession, partials_path: str) -> DataFrame:
    """Merge-on-read for the histogram partial log: bucket-wise count
    addition across all appended micro-batch generations."""
    from time_series_spark_spark.operators.sketches import hist_merge

    return hist_merge(spark.read.parquet(partials_path), ["event_type", "d"])


def read_incremental_cm(spark: SparkSession, partials_path: str) -> DataFrame:
    """Merge-on-read for the CM partial log: cell-wise addition across
    all appended micro-batch generations."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )


def read_incremental_distinct(spark: SparkSession, partials_path: str) -> DataFrame:
    """Merge-on-read over the streaming partial log: OR-merge every
    bucket's bitmaps across all appended micro-batch generations, then
    EXACT distinct counts per (event_type, day)."""
    from time_series_spark_spark.operators.sketches import bitmap_rollup

    return bitmap_rollup(
        spark.read.parquet(partials_path), ["event_type", "d"]
    )


def _interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    interval: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """Watermarked stream-stream join of ``left`` to the ``right`` events
    of the same ``key`` in ``[l_ts, l_ts + interval]``; ``how`` is the
    join type. Output columns ``l_key, l_ts, l_id, r_key, r_ts, r_id``."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {interval}"
        ),
        how,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    interval: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """J10: stream-stream inner join on ``key`` within a time interval —
    each left event pairs with right events of the same key arriving in
    ``[left.ts, left.ts + interval]``.

    Both sides carry watermarks and the range condition bounds the
    buffered state on BOTH sides (Spark derives the state-eviction
    predicate from watermark + range), so state is O(key-cardinality ×
    interval window), not unbounded — the property that keeps a
    stream-stream join alive at production scale. Inner join emits on
    match; no result waits for watermark advancement.
    """
    return _interval_join(left, right, key, interval, watermark, "inner")


def incremental_mg_partials(
    sdf: DataFrame,
    partials_path: str,
    item_col: str = "event_type",
    counters: int = 512,
) -> None:
    """J9d: streaming Misra-Gries heavy-hitter partial log (round 4) —
    each micro-batch folds into ≤ ``counters`` (item, cnt) rows plus one
    NULL-item decrement row, appended idempotently (micro-batch-id
    partition overwrite, :func:`_write_partials_idempotent`). MG
    summaries merge by item-wise count + decrement addition (Agarwal et
    al., PODS'12 mergeable summaries), so the log's union preserves the
    deterministic bounds  Σcnt ≤ true ≤ Σcnt + ΣD  across any number of
    batches, restarts, or redeliveries."""
    from time_series_spark_spark.operators.sketches import mg_partials

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_partials_idempotent(
            mg_partials(batch_df, item_col, counters), batch_id, partials_path
        )

    _run_partial_log(sdf, fold_batch, partials_path + "_ckpt")


def read_incremental_mg(
    spark: SparkSession, partials_path: str, k: int = 50
) -> DataFrame:
    """Merge-on-read for the MG partial log: one small hash agg over the
    summary rows → top-k (item, cnt_lower, cnt_upper)."""
    from time_series_spark_spark.operators.sketches import mg_merge_topk

    return mg_merge_topk(spark.read.parquet(partials_path), k)


def dedup_stream_within_watermark(
    sdf: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """J6b (Spark 3.5+): ``dropDuplicatesWithinWatermark`` — duplicates
    are collapsed when they arrive within the watermark DELAY of each
    other, rather than requiring exact event-time equality on the
    deduped key. The semantics redelivery pipelines actually want: a
    retransmitted event carries a slightly different ingest timestamp,
    which classic dropDuplicates([key, ts]) would keep; this API drops
    it as long as it lands inside the watermark window, and state
    expires with the watermark instead of growing forever."""
    return sdf.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_left_outer_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    interval: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """J10b (round 5): LEFT OUTER stream-stream join — J10's interval
    join, but a left event with no same-key right event in
    ``[l_ts, l_ts + interval]`` is still emitted (right side NULL) once
    the watermark proves no future match can arrive.

    The outer semantics are what make watermarks LOAD-BEARING rather
    than merely state-bounding: a null row may only be emitted when
    event time has provably passed ``l_ts + interval``, so unmatched
    results trail the watermark delay, and in a FINITE replay left rows
    newer than ``max(ts) − delay − interval`` stay withheld forever
    (their no-match proof never completes). Batch equivalence is
    therefore asserted piecewise in tests/test_streaming.py: matched
    pairs ≡ the batch inner join exactly; emitted null rows ≡ the batch
    anti-join restricted to the provably-expired region.
    """
    return _interval_join(left, right, key, interval, watermark, "leftOuter")


def incremental_hll_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming half of the F15b sliding-HLL aggregate: each micro-batch
    folds to one (day, HLL sketch) row via the built-in DataSketches
    ``hll_sketch_agg`` and appends it idempotently (batch-id partition +
    dynamic overwrite, :func:`_write_partials_idempotent`). Register-max
    union is associative/commutative/idempotent, so merge-on-read equals
    the single-pass batch sketch EXACTLY — same law as the bitmap log,
    at a fixed KB per partial instead of id-proportional bitmaps."""

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = batch_df.groupBy(
            F.date_trunc("day", "ts").alias("d")
        ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def read_incremental_hll_7d(
    spark: SparkSession, partials_path: str
) -> DataFrame:
    """Merge-on-read for :func:`incremental_hll_partials`: union the
    per-batch day sketches, then the same 7-row sliding window union +
    estimate as the batch ``events_sliding_hll_users`` query."""
    partials = spark.read.parquet(partials_path)
    daily = partials.groupBy("d").agg(
        F.expr("hll_union_agg(sk)").alias("sk")
    )
    daily.createOrReplaceTempView("hll_daily_partial_log")
    return spark.sql(
        """
        SELECT d,
               CAST(hll_sketch_estimate(
                   hll_union_agg(sk) OVER (
                       ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   )) AS BIGINT) AS users_7d_approx
        FROM hll_daily_partial_log
        ORDER BY d
        """
    )


def incremental_kll_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming KLL quantile log — the D15 twin of the HLL/bitmap/CM/MG
    partial logs: each micro-batch folds to one (event_type, KLL(200))
    row and appends idempotently; readers merge-on-read and ask for any
    quantile later (the property a fixed set of pre-agreed percentiles
    can't give). KLL merge keeps the rank-error guarantee, so the
    streamed log answers within the same epsilon as a single-pass
    batch sketch."""
    from time_series_spark_spark.operators.sketches import kll_partials

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = kll_partials(batch_df, ["event_type"], "value")
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def read_incremental_kll_quantiles(
    spark: SparkSession, partials_path: str, quantiles: dict[str, float]
) -> DataFrame:
    """Merge-on-read for :func:`incremental_kll_partials`: fold the
    per-batch sketches per event type and read the requested quantiles."""
    from time_series_spark_spark.operators.sketches import (
        kll_rollup_quantiles,
    )

    partials = spark.read.parquet(partials_path).select("event_type", "kll")
    return kll_rollup_quantiles(partials, ["event_type"], quantiles)


def incremental_fd_partials(
    stream_embeddings: DataFrame,
    partials_path: str,
    ell: int = 16,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming matrix sketching (streaming PCA front-end): each
    micro-batch of embeddings folds to an ℓ-row Frequent Directions
    partial (operators/sketches.py D24) appended idempotently. The FD
    merge theorem makes the log a valid sketch of the WHOLE stream:
    re-reducing the concatenated partials keeps
    ‖AᵀA − BᵀB‖₂ ≤ ‖A‖F²/ℓ, so the spectrum/top-directions estimate is
    always available mid-stream at O(batches·ℓ·d) log size."""
    from time_series_spark_spark.operators.sketches import (
        frequent_directions,
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = frequent_directions(
            batch_df, ell=ell, n_partitions=1, return_rows=True
        )
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_embeddings, fold_batch, checkpoint_dir)


def read_incremental_fd(spark: SparkSession, partials_path: str, ell: int = 16):
    """Merge-on-read for :func:`incremental_fd_partials`: one FD
    reduction over the collected partial rows (bounded at batches·ℓ —
    the bounded-scalar discipline) → the combined ℓ×d sketch as a
    numpy array."""
    import numpy as np

    from time_series_spark_spark.operators.sketches import _fd_reduce

    rows = spark.read.parquet(partials_path).select("row").collect()
    mat = np.array([list(r["row"]) for r in rows], dtype=float)
    return _fd_reduce(mat, ell)


# ---------------------------------------------------------------------------
# J11: offline state-store inspection + watermark-drop accounting
# ---------------------------------------------------------------------------
def run_available_now_checkpointed(
    stream_df: DataFrame,
    checkpoint_dir: str | None,
    output_mode: str = "append",
    name: str | None = None,
):
    """Replay to completion with a DURABLE checkpoint, returning
    ``(result_table, progress_list)``. The checkpoint is what makes the
    run inspectable afterwards: the state-store reader (below) and a
    restarted stream both resolve it. ``progress_list`` holds the
    per-microbatch ``StreamingQueryProgress`` objects — the ops feed
    (input rates, state sizes, watermark drops). ``checkpoint_dir=None``
    runs without a checkpoint (:func:`run_available_now`)."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    q = _drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        checkpoint_dir,
    )
    return stream_df.sparkSession.table(name), list(q.recentProgress)


def read_state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """J11a: the checkpoint's operator map — (operatorId, operatorName,
    stateStoreName, numPartitions, batch range) — Spark's
    ``state-metadata`` data source. The entry point of any offline state
    audit: it tells you which operatorId/storeName to hand to
    ``read_state_store``."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def read_state_store(
    spark: SparkSession,
    checkpoint_dir: str,
    operator_id: int = 0,
    store_name: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """J11b: offline read of a streaming query's state (Spark's
    ``statestore`` data source) — (key struct, value struct,
    partition_id) rows, no replay and no running query required.

    This is the debugging/ops surface a stateful 100 TB pipeline needs:
    inspect open windows, audit per-key state size, verify eviction.
    Reads are distributed (one task per state partition) and the
    snapshot is the last committed batch unless ``batch_id`` pins one.
    """
    r = spark.read.format("statestore").option("operatorId", operator_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint_dir)


def watermark_drop_stats(progress_list) -> dict:
    """J11c: fold a run's progress feed into the late-data ledger:
    per-batch and total ``numRowsDroppedByWatermark`` (rows that arrived
    below the watermark and were excluded from stateful results). The
    number completes the watermark contract — J2 bounds state by
    dropping late rows, and this is where the drops become observable
    instead of silent."""
    per_batch = []
    total = 0
    for p in progress_list:
        dropped = 0
        for op in p.stateOperators:
            dropped += int(op.numRowsDroppedByWatermark or 0)
        per_batch.append({"batchId": p.batchId, "dropped": dropped})
        total += dropped
    return {"n_batches": len(per_batch), "total_dropped": total,
            "per_batch": per_batch}


def _debounce_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, *, gap_us: int
):
    last_us = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        ordered = pdf.sort_values(["ts", "event_id"])
        for ev, ts in zip(ordered["event_id"], ordered["ts"]):
            ts_us = int(ts.value) // 1000  # pandas ns -> µs
            if last_us is None or ts_us - last_us > gap_us:
                out.append((key[0], key[1], int(ev), ts))
            last_us = ts_us
    state.update((last_us,))
    yield pd.DataFrame(out, columns=["user_id", "event_type", "event_id", "ts"])


def stateful_debounce(
    sdf: DataFrame,
    gap_us: int = 300_000_000,
) -> DataFrame:
    """J12: streaming debounce / alert suppression per (user_id,
    event_type) — the batch F105 burst rule with ONE state scalar: the
    last-seen event timestamp per key. An event is emitted iff more
    than ``gap_us`` elapsed since the key's previous event (or the key
    is new); everything inside a burst is suppressed at the source,
    which is the notification-throttle shape: state is bounded forever
    (one long per key), while the batch version needs the full ordered
    history in a window.

    Events are processed in (ts, event_id) order within each batch
    (the replay-determinism device every stateful job here uses); the
    carried timestamp makes suppression correct ACROSS micro-batch
    boundaries too. Emits only the surviving burst-start events;
    replay ≡ the batch F105 keeper set, pinned in tests.
    """
    output_schema = (
        "user_id long, event_type string, event_id long, ts timestamp"
    )
    state_schema = "last_us long"

    return sdf.select("user_id", "event_type", "ts", "event_id").groupBy(
        "user_id", "event_type"
    ).applyInPandasWithState(
        functools.partial(_debounce_update, gap_us=gap_us),
        output_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _heavy_hitters_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, *,
    counters: int, k: int,
):
    if state.exists:
        items, counts, d = state.get
        table = dict(zip(items, counts))
    else:
        table, d = {}, 0
    for pdf in pdfs:
        ordered = pdf.sort_values("event_id")
        for u in ordered["user_id"]:
            item = str(u % 100)  # bounded item domain: user bucket
            table[item] = table.get(item, 0) + 1
            if len(table) > counters:
                dec = sorted(table.values(), reverse=True)[counters]
                d += dec
                table = {t: c - dec for t, c in table.items() if c - dec > 0}
    state.update((list(table), [table[t] for t in table], d))
    top = sorted(table.items(), key=lambda kv: (-(kv[1] + d), kv[0]))[:k]
    yield pd.DataFrame(
        [(key[0], t, c, c + d, i + 1) for i, (t, c) in enumerate(top)],
        columns=["event_type", "item", "cnt_lower", "cnt_upper", "rnk"],
    )


def stateful_heavy_hitters(
    sdf: DataFrame,
    counters: int = 64,
    k: int = 10,
) -> DataFrame:
    """J13: streaming Misra-Gries heavy hitters per event_type — the D18
    batch sketch (operators/sketches.py::mg_heavy_hitters) held as
    BOUNDED state-store arrays per key: at most ``counters`` (item,
    count) counters plus one decrement scalar D, regardless of stream
    length. Each micro-batch adds its items exactly, then overflow
    decrements by the (counters+1)-th largest count and drops
    non-positives — the same recursion as the batch per-partition pass,
    so the streamed bounds obey the identical guarantee:

        cnt(t) <= true(t) <= cnt(t) + D

    Events are processed in event_id order within each batch (the
    replay-determinism device every stateful job here uses). Emits the
    current top-``k`` (by upper bound, item tie-break) after each batch;
    with availableNow single-batch replay the emission equals the batch
    D18 sketch run with ONE partition. State schema is two parallel
    arrays + a long — no maps, so the state store schema stays flat.
    """
    output_schema = (
        "event_type string, item string, cnt_lower long, cnt_upper long, "
        "rnk int"
    )
    state_schema = "items array<string>, counts array<long>, d long"

    return sdf.select("event_type", "event_id", "user_id").groupBy(
        "event_type"
    ).applyInPandasWithState(
        functools.partial(_heavy_hitters_update, counters=counters, k=k),
        output_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# J14: streaming SPRT — sequential A/B decision over a conversion stream
# --------------------------------------------------------------------------

SPRT_Q1 = 0.55          # H1: a conversion comes from arm B with prob q1
SPRT_ALPHA = 0.05       # type-I error -> upper bound ln((1-beta)/alpha)
SPRT_BETA = 0.10        # type-II error -> lower bound ln(beta/(1-alpha))


def incremental_sprt_partials(
    stream_events: DataFrame,
    partials_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """J14: streaming sequential probability ratio test (Wald SPRT) on
    an A/B conversion stream, as an append-only partial log.

    The two-sample rate comparison reduces to a single Bernoulli by
    conditioning on conversions (the classic play-the-winner device):
    under H0 (equal rates, fair md5 split) each conversion comes from
    arm B with p = 1/2; under H1 (planned ~20% lift) with p = q1. The
    per-batch partial is just (conv_a, conv_b) — two EXACT integers,
    associative under addition — so merge-on-read reproduces the exact
    sequential LLR path: LLR_t = k_B ln(2 q1) + k_A ln(2 (1 - q1)).
    Decision = first crossing of the Wald bounds ln((1-b)/a) /
    ln(b/(1-a)); unlike the fixed-horizon F85 Welch test, peeking at
    every batch is VALID by construction. Idempotent per-batch writes
    (batch-id partition + dynamic overwrite) as in J9.
    """

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        arm = F.expr(
            "CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1) < '8'"
            " THEN 0 ELSE 1 END"
        )
        p = (
            batch_df.filter(F.col("event_type") == "purchase")
            .select(arm.alias("arm"))
            .groupBy()
            .agg(
                F.sum(F.expr("1 - arm")).cast("long").alias("conv_a"),
                F.sum("arm").cast("long").alias("conv_b"),
            )
        )
        _write_partials_idempotent(p, batch_id, partials_path)

    _run_partial_log(stream_events, fold_batch, checkpoint_dir)


def read_sprt_decisions(spark, partials_path: str) -> DataFrame:
    """Merge-on-read for the J14 log: cumulative counts in batch order,
    the exact LLR path, and the sequential verdict at each prefix
    ('accept_h1' / 'accept_h0' once a bound is crossed, sticky)."""
    import math

    from pyspark.sql.window import Window as W

    up = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lo = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    w_cum = W.orderBy("batch_id").rowsBetween(W.unboundedPreceding, 0)
    p = spark.read.parquet(partials_path)
    cum = p.select(
        "batch_id",
        F.sum("conv_a").over(w_cum).alias("k_a"),
        F.sum("conv_b").over(w_cum).alias("k_b"),
    ).withColumn(
        "llr",
        F.col("k_b") * F.lit(math.log(2.0 * SPRT_Q1))
        + F.col("k_a") * F.lit(math.log(2.0 * (1.0 - SPRT_Q1))),
    )
    crossed = cum.withColumn(
        "verdict_here",
        F.when(F.col("llr") >= up, F.lit("accept_h1"))
        .when(F.col("llr") <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue")),
    )
    # sticky: once decided, later prefixes inherit the first decision
    first_dec = F.first(
        F.when(F.col("verdict_here") != "continue", F.col("verdict_here")),
        ignorenulls=True,
    ).over(w_cum)
    return crossed.select(
        "batch_id", "k_a", "k_b",
        F.round("llr", 6).alias("llr"),
        F.coalesce(first_dec, F.lit("continue")).alias("verdict"),
    ).orderBy("batch_id")


def _token_bucket_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, *,
    period_us: int, cap_p: int,
):
    # imported here, not at the top: the other stateful jobs' workers
    # load this module and need none of the batch operators
    from time_series_spark_spark.operators.analytics import (
        token_bucket_replay,
    )

    last_us, stok = state.get if state.exists else (None, cap_p)
    out = []
    for pdf in pdfs:
        ordered = pdf.sort_values(["ts", "event_id"])
        ts = list(ordered["ts"])
        admitted, after, (last_us, stok) = token_bucket_replay(
            [int(t.value) // 1000 for t in ts], last_us, stok, period_us,
            cap_p,
        )
        out += zip([key[0]] * len(ts), map(int, ordered["event_id"]), ts,
                   admitted, after)
    state.update((last_us, stok))
    yield pd.DataFrame(
        out,
        columns=["user_id", "event_id", "ts", "admitted", "tokens_after_p"],
    )


def stateful_token_bucket(
    sdf: DataFrame,
    period_us: int = 21_600_000_000,
    capacity: int = 2,
) -> DataFrame:
    """J15: streaming token-bucket rate limiter per user — the
    operators/analytics.py::token_bucket_flags recurrence with TWO
    state scalars (last event µs, scaled tokens stok = tokens * P):
    refill `+= gap_us` capped at C*P, admission costs P, all exact
    integers, so admission decisions are identical across micro-batch
    boundaries and identical to the batch audit (equivalence pinned in
    tests). Assumes micro-batches arrive in event-time order per key
    (the ingestion contract every carried-timestamp job here shares —
    J12's debounce too); a late event would refill negatively. The
    throttling/admission-control shape: bounded state forever,
    per-event admit/reject emitted downstream."""
    output_schema = (
        "user_id long, event_id long, ts timestamp, admitted int,"
        " tokens_after_p long"
    )
    state_schema = "last_us long, stok long"

    return sdf.select("user_id", "ts", "event_id").groupBy(
        "user_id"
    ).applyInPandasWithState(
        functools.partial(
            _token_bucket_update,
            period_us=period_us,
            cap_p=capacity * period_us,
        ),
        output_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# J11d + A13: streaming sink onto the manifest-versioned table
# --------------------------------------------------------------------------

_IDENTITY_MARKER = "_versioned_sink_identity.json"


def _resolve_stream_identity(checkpoint_dir: str | None) -> str:
    """Resolve the stream identity for the (stream_id, batch_id) ledger.

    The identity is the normalized (absolute) checkpoint path — relative
    vs absolute spellings of the SAME checkpoint dir are one stream:
    Spark's own checkpoint resume treats them identically, so the
    redelivery ledger must too, else a resumed stream republishes
    committed batches as duplicates. Without a checkpoint dir there is no
    redelivery to absorb, so each run gets a fresh UUID identity.

    A MARKER file inside the checkpoint dir records the identity the
    first run resolved, so a checkpoint directory moved elsewhere keeps
    its identity and its ledger. A brand-new stream absorbs nothing else:
    its batch ids restart at 0, and absorbing the None-scoped ledger that
    batch ``write_versioned(batch_id=…)`` calls record would silently
    drop its first micro-batches as phantom redeliveries — the exact
    failure the pair-keyed ledger exists to prevent.
    """
    import json
    import os
    import uuid

    if checkpoint_dir is None:
        return f"ephemeral-{uuid.uuid4()}"
    norm = os.path.abspath(checkpoint_dir)
    marker = os.path.join(norm, _IDENTITY_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)["stream_id"]
    os.makedirs(norm, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"stream_id": norm}, fh)
    os.rename(tmp, marker)
    return norm


def _redelivered(head, stream_id: str, batch_id: int) -> bool:
    """MONOTONE redelivery check (correct on compacted ledgers, where old
    ids are no longer individually enumerable): batch ids are monotone per
    checkpoint identity and committed in order, so ``batch_id`` <= the
    latest id committed under ``stream_id`` up to ``head`` (the table's
    latest ``Snapshot``, None when empty) ⇔ redelivery."""
    from time_series_spark_spark.sources.io import _watermark

    latest = _watermark(head, stream_id)
    return latest is not None and batch_id <= latest


def stream_to_versioned_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str | None = None,
) -> list[int]:
    """Publish each micro-batch as the NEXT VERSION of an A13 manifest-
    versioned table — the loop-closer between J11 idempotency and A13
    time travel: readers always resolve a complete committed snapshot
    (the manifest rename is the atomic publish), a writer crash mid-
    batch leaves only an invisible ``v=N/`` directory plus at most a
    ``.tmp`` manifest (the table stays at the previous version), and
    at-least-once redelivery is absorbed by the batch-id ledger in the
    committed manifests — a replayed micro-batch whose id is already
    committed is skipped, never published twice.

    Runs the stream to completion (availableNow) and returns the list
    of versions committed BY THIS RUN (empty when every batch was a
    redelivery). Each stream version is also a time-travel point:
    ``read_versioned(spark, table_path, as_of=v)`` reconstructs the
    table exactly as of that micro-batch.

    Idempotency is keyed by the (stream_id, batch_id) PAIR — Delta's
    (txnAppId, txnVersion) pattern — where the stream identity is the
    checkpoint directory (the thing whose continuity makes batch ids
    comparable across restarts). batch_id alone would be wrong: ids
    restart at 0 on any fresh checkpoint, so a stream restarted after
    checkpoint loss — or a second stream targeting the same table —
    would have its genuinely NEW batches silently skipped as
    "redeliveries". Without a checkpoint dir there is no redelivery to
    absorb (nothing persists to replay from), so each run gets a fresh
    UUID identity and never collides with prior runs' ledger entries.
    """
    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import _head, _write_versioned

    tfs = as_table_fs(table_path)
    stream_id = _resolve_stream_identity(checkpoint_dir)
    committed: list[int] = []

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # one head per micro-batch, shared by the ledger check and the
        # commit: each manifest of its chain is read once
        head = _head(tfs)
        if _redelivered(head, stream_id, batch_id):
            return  # redelivered micro-batch: already a committed version
        committed.append(
            _write_versioned(
                batch_df,
                tfs,
                head,
                batch_id,
                carry_forward=True,
                stream_id=stream_id,
            )
        )

    _run_partial_log(stream_df, commit, checkpoint_dir)
    return committed


def stream_merge_to_versioned_table(
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint_dir: str | None = None,
) -> list[int]:
    """J11g (round 12): streaming UPSERT into the A13 versioned table —
    the Delta CDC-apply pattern (``readStream`` → ``foreachBatch`` →
    ``MERGE INTO``), composed from this repo's own parts. Each
    micro-batch is first deduplicated to its LATEST row per key
    (``order_cols`` descending — multiple updates to one key within a
    batch apply last-writer-wins, exactly Databricks' documented
    dedupe-before-merge recipe, and MERGE requires unique source keys),
    then applied as one A13f copy-on-write merge commit: only the data
    files containing matched keys are rewritten, everything else is
    carried by manifest reference.

    Exactly-once composition is the same as the append sink
    (:func:`stream_to_versioned_table`): the merge commit records the
    (stream_id, batch_id) pair in the manifest ledger, so an
    at-least-once redelivery of a committed batch is skipped —
    critical here because a MERGE is NOT idempotent by content alone
    (re-applying "cents += …"-style changelogs would double-apply; ours
    are absolute upserts, but the ledger guarantee holds regardless).
    The very first batch on an empty table commits directly as the
    initial snapshot (MERGE against nothing is just the inserts).

    Runs availableNow to completion; returns the versions committed by
    THIS run (empty when every batch was a redelivery)."""
    import json

    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import (
        _head,
        _merge_versioned,
        _write_versioned,
    )

    tfs = as_table_fs(table_path)
    stream_id = _resolve_stream_identity(checkpoint_dir)
    committed: list[int] = []

    def _table_cols(head) -> list[str]:
        """Non-key columns OF THE TABLE (manifest-authoritative): the
        changelog must carry new_<c> for exactly these. Stream columns
        the table lacks (e.g. the order_cols used only for per-batch
        last-writer-wins dedupe, when the target was seeded without
        them) are deliberately NOT merged — merge_versioned rejects
        unknown new_<c> loudly since round 13, so the projection here
        is what keeps ordering-only columns ordering-only. A table
        column absent from the stream fails loudly at select time."""
        schema = json.loads(head.manifest["schema"])
        return [f["name"] for f in schema["fields"] if f["name"] not in keys]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # one head per micro-batch, shared by the ledger check, the
        # column projection and the commit
        head = _head(tfs)
        if _redelivered(head, stream_id, batch_id):
            return  # redelivered micro-batch: already committed
        from pyspark.sql.window import Window

        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest_rows = (
            batch_df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
        if head is None:
            committed.append(
                _write_versioned(
                    latest_rows, tfs, None, batch_id, stream_id=stream_id
                )
            )
            return
        changelog = latest_rows.select(
            *keys,
            F.lit("update").alias("op"),
            *[F.col(c).alias(f"new_{c}") for c in _table_cols(head)],
        )
        rep = _merge_versioned(
            batch_df.sparkSession,
            head,
            changelog,
            keys,
            batch_id=batch_id,
            stream_id=stream_id,
        )
        committed.append(rep["version"])

    _run_partial_log(stream_df, upsert, checkpoint_dir)
    return committed


# --------------------------------------------------------------------------
# J11f (round 9): end-to-end incremental pipeline between versioned tables
# --------------------------------------------------------------------------

def run_incremental_pipeline(
    spark: "SparkSession",
    src_table: str,
    dst_table: str,
    transform,
    checkpoint_dir: str,
) -> list[int]:
    """The medallion step, composed from this repo's own table format:
    stream the J11e versioned-table SOURCE (incremental version feed of
    ``src_table``), apply ``transform`` (DataFrame -> DataFrame, any
    stateless narrow/wide logic), and publish each micro-batch as the
    next version of ``dst_table`` through the J11d sink.

    Exactly-once ACROSS BOTH TABLES, by composition of the two halves'
    own guarantees — no new mechanism:

    - the SOURCE's offsets (committed version numbers of ``src_table``)
      live in the engine checkpoint, so a resume reads only versions
      committed since the last run, and a post-crash replay re-reads a
      committed range byte-identically (manifests are immutable);
    - the SINK's (stream_id, batch_id) ledger in ``dst_table``'s
      manifests absorbs the at-least-once redelivery the replay
      produces — a re-delivered micro-batch publishes nothing.

    Crash anywhere: either the dst manifest rename happened (the batch
    is committed and its redelivery will be skipped) or it didn't (the
    table is untouched and the replay publishes it once). Running the
    pipeline twice with no new src versions is a no-op.

    Returns the dst versions committed by THIS run. Requires a real
    ``checkpoint_dir`` (source offsets are the progress marker — an
    ephemeral identity would re-read everything and rely on the dst
    ledger alone, which only dedups identical batch SPLITS, not a
    re-planned full re-read).
    """
    from time_series_spark_spark.sources.pydatasource import (
        register_versioned_table_stream_source,
    )

    register_versioned_table_stream_source(spark)
    feed = (
        spark.readStream.format("versioned_table")
        .option("path", src_table)
        .load()
    )
    return stream_to_versioned_table(
        transform(feed), dst_table, checkpoint_dir=checkpoint_dir
    )
