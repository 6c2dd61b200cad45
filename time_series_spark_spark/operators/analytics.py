"""Time-series analytics operators: OHLC bars, time-weighted average,
counter increase with reset handling, run-length streaks, rolling
correlation, retention cohorts, funnel analysis, LTTB downsampling.

These are the continuous-analytics surface of time-series stores
(TimescaleDB hyperfunctions, Prometheus `increase`/`rate`, product
analytics cohorts/funnels), re-expressed as declarative Spark plans.
SURVEY.md §2.F extension (round 2); the reference directory is empty
(SURVEY.md §0), so semantics follow the published definitions cited per
function.

Cross-engine determinism (SURVEY.md §5.1): all time arithmetic is in
integer microseconds, money-like doubles are scaled to integer cents
before summing (integer sums are order-independent in fp), and ordering
tie-breaks use a zero-padded string key because DuckDB's ``arg_min``
cannot order by a composite.

Scale notes (100 TB posture):
- every operator here is a single hash shuffle on its natural key
  (day/user/cohort) plus window functions over that same partitioning —
  no self-joins, no driver-side state;
- LTTB runs on the packed grouped-map path (operators/packed.py): one
  shuffle, thousands of series per Arrow batch, memory O(batch +
  largest series).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from time_series_spark_spark.operators.packed import (
    key_schema,
    key_slices,
    packed_grouped_map,
    per_series,
)


def event_order_key(ts_col: str = "ts", id_col: str = "event_id") -> Column:
    """Total-order key ``'%020d-%012d' % (epoch_us, id)`` — identical
    lexicographic order in Spark and DuckDB (both lack composite
    arg_min/arg_max keys; a padded string is the portable composite)."""
    return F.format_string(
        "%020d-%012d", F.unix_micros(F.col(ts_col)), F.col(id_col)
    )


def ohlc(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    grain: str = "day",
    id_col: str = "event_id",
) -> DataFrame:
    """OHLC bars: per (bucket, *keys) the first/max/min/last ``value``
    (candlestick downsampling; open/close tie-broken by (ts, id)).

    One hash aggregation — open/close via ``min_by``/``max_by`` on the
    padded order key, so no window pass and no second shuffle.
    """
    ord_key = event_order_key(ts, id_col)
    return (
        df.withColumn("__ord", ord_key)
        .groupBy(
            F.date_trunc(grain, F.col(ts)).alias("bucket"), *[F.col(k) for k in keys]
        )
        .agg(
            F.min_by(F.col(value), F.col("__ord")).alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.max_by(F.col(value), F.col("__ord")).alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value), 2).alias("volume"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key time-weighted average under a step-function (last-obs-
    carried-forward) interpolation: Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last − t_first).

    The TimescaleDB ``time_weight('LOCF')`` definition. Keys with a
    single sample (zero span) are dropped — the integral is undefined.
    Exactness: value → integer cents, Δt in integer µs; the only fp op
    is the final division, identical on both engines.
    """
    us = F.unix_micros(F.col(ts))
    seg = df.select(
        *keys,
        F.col(id_col).alias("__id"),
        us.alias("__t"),
        F.round(F.col(value) * 100, 0).cast("long").alias("__cents"),
    )
    # ordered on integer µs (+ id tiebreak) so Spark and DuckDB sort the
    # same total order even if ts ns payloads differed
    w = Window.partitionBy(*keys).orderBy("__t", "__id")
    seg = seg.withColumn("__t_next", F.lead("__t").over(w))
    return (
        seg.withColumn(
            "__contrib",
            F.when(
                F.col("__t_next").isNotNull(),
                F.col("__cents") * (F.col("__t_next") - F.col("__t")),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy(*keys)
        .agg(
            F.sum("__contrib").alias("__num"),
            (F.max("__t") - F.min("__t")).alias("__span"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .filter(F.col("__span") > 0)
        .select(
            *keys,
            "n_samples",
            F.round(
                F.col("__num") / F.col("__span") / F.lit(100.0), 6
            ).alias("twa_value"),
        )
    )


def counter_increase(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    grain: str = "day",
    id_col: str = "event_id",
) -> DataFrame:
    """Prometheus-style ``increase``: per key, sum of positive deltas
    between consecutive samples; a negative delta is a counter reset and
    contributes the post-reset sample value (the counter restarted from
    zero). Aggregated to ``grain`` buckets of the *current* sample.

    Window lag + one hash agg — both on the same key partitioning.
    Integer-cents arithmetic throughout; unscaled only at the end.
    """
    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    cents = F.round(F.col(value) * 100, 0).cast("long")
    with_delta = df.select(
        *keys,
        F.col(ts),
        F.col(id_col),
        cents.alias("__c"),
    ).withColumn("__prev", F.lag("__c").over(w))
    contrib = (
        F.when(F.col("__prev").isNull(), F.lit(0).cast("long"))
        .when(F.col("__c") >= F.col("__prev"), F.col("__c") - F.col("__prev"))
        .otherwise(F.col("__c"))
    )
    return (
        with_delta.withColumn("__inc", contrib)
        .groupBy(F.date_trunc(grain, F.col(ts)).alias("bucket"))
        .agg(
            (F.sum("__inc").cast("double") / F.lit(100.0)).alias("total_increase"),
            F.sum(F.when(F.col("__c") < F.col("__prev"), 1).otherwise(0)).alias(
                "n_resets"
            ),
        )
    )


def streaks(
    df: DataFrame,
    ts: str,
    state: str,
    keys: list[str],
    id_col: str = "event_id",
) -> DataFrame:
    """Run-length encoding (gaps-and-islands): per key, consecutive runs
    of identical ``state`` become one streak row (streak_id, state,
    length, start/end ts).

    Classic two-window composition on ONE partitioning: change flag via
    lag, island id via running sum, then a hash agg on (keys, island) —
    Spark reuses the ``hash(keys)`` exchange across all three.
    """
    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    flagged = df.select(*keys, F.col(ts), F.col(id_col), F.col(state)).withColumn(
        "__chg",
        F.when(
            F.lag(state).over(w).isNull()
            | (F.lag(state).over(w) != F.col(state)),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "streak_id",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(*keys, "streak_id").agg(
        F.first(state).alias(state),
        F.count(F.lit(1)).alias("len"),
        F.min(ts).alias("start_ts"),
        F.max(ts).alias("end_ts"),
    )


def rolling_corr(
    df: DataFrame,
    order_col: str,
    x: str,
    y: str,
    n_preceding: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Rolling Pearson correlation of integer-valued series over a
    trailing row frame, computed from integer power sums::

        corr = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) · √(nΣy²−(Σy)²))

    Integer window sums are exact and order-independent, so both engines
    produce bit-identical doubles from identical operands — unlike
    ``F.corr``, whose streaming-update fp path differs per engine.
    Frames with zero variance on either side yield NULL.
    """
    keys = keys or []
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-n_preceding, 0)
    )
    xl = F.col(x).cast("long")
    yl = F.col(y).cast("long")
    base = df.select(
        *keys,
        F.col(order_col),
        xl.alias("__x"),
        yl.alias("__y"),
        (xl * yl).alias("__xy"),
        (xl * xl).alias("__xx"),
        (yl * yl).alias("__yy"),
    )
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("__x").over(w)
    sy = F.sum("__y").over(w)
    sxy = F.sum("__xy").over(w)
    sxx = F.sum("__xx").over(w)
    syy = F.sum("__yy").over(w)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            6,
        ),
    )
    return base.select(
        *keys,
        F.col(order_col),
        F.col("__x").alias(x),
        F.col("__y").alias(y),
        corr.alias("rolling_corr"),
    )


def retention_cohorts(
    df: DataFrame,
    ts: str,
    user_col: str,
    grain: str = "week",
) -> DataFrame:
    """Cohort retention: users grouped by the ``grain`` bucket of their
    first event; for each (cohort, offset) the count of cohort users
    active ``offset`` buckets later. offset 0 row = cohort size.

    Two shuffles total, both on ``user_col``: min-ts per user, then the
    activity join — the cohort table is per-user (small relative to
    events) and co-partitioned, so the join inherits the exchange.
    """
    per_bucket = df.select(
        F.col(user_col).alias("u"),
        F.date_trunc(grain, F.col(ts)).alias("b"),
    ).distinct()
    firsts = per_bucket.groupBy("u").agg(F.min("b").alias("cohort"))
    step_days = {"day": 1, "week": 7}[grain]
    return (
        per_bucket.join(firsts, "u")
        .select(
            "cohort",
            (
                F.datediff(F.col("b"), F.col("cohort")) / F.lit(step_days)
            ).cast("int").alias("offset"),
            "u",
        )
        .groupBy("cohort", "offset")
        .agg(F.countDistinct("u").alias("n_active"))
    )


def funnel(
    df: DataFrame,
    ts: str,
    user_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel: stage k counts users whose earliest ``stages[k]``
    event occurs strictly after their earliest qualifying ``stages[k-1]``
    event (the product-analytics "ordered funnel, first-touch" model).

    One pass per stage, every pass a conditional min() aggregated on
    ``user_col`` — all shuffles share the user hash partitioning; the
    per-user stage frame is tiny and reused, never the raw events.
    """
    ev = df.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"), F.col(ts).alias("ev_ts")
    )
    # earliest stage-0 event per user
    cur = (
        ev.filter(F.col("t") == stages[0])
        .groupBy("u")
        .agg(F.min("ev_ts").alias("t0"))
    )
    reached = [("stage0", stages[0], cur)]
    for i, s in enumerate(stages[1:], start=1):
        prev_col = f"t{i-1}"
        cur = (
            ev.filter(F.col("t") == s)
            .join(cur.select("u", F.col(prev_col)), "u")
            .filter(F.col("ev_ts") > F.col(prev_col))
            .groupBy("u")
            .agg(F.min("ev_ts").alias(f"t{i}"))
        )
        reached.append((f"stage{i}", s, cur))
    counts = None
    for i, (tag, s, frame) in enumerate(reached):
        row = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage_idx"), F.lit(s).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    return counts


def coalesce_intervals(
    df: DataFrame,
    keys: list[str],
    start: str,
    end: str,
    order_tiebreak: str,
) -> DataFrame:
    """Merge overlapping/adjacent ``[start, end)`` intervals per key into
    maximal disjoint periods (interval coalescing — the gaps-and-islands
    problem over explicit intervals rather than point events).

    A row opens a new period iff its start exceeds the running maximum
    of all previous ends; the running sum of those flags is the period
    id. Two ordered windows + one agg, all on the same hash(keys)
    partitioning — one exchange end-to-end.
    """
    w = Window.partitionBy(*keys).orderBy(start, order_tiebreak)
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull() | (F.col(start) > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "period_id",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(*keys, "period_id").agg(
        F.min(start).alias("period_start"),
        F.max(end).alias("period_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value: str,
    bucket_width: float,
    n_buckets: int,
) -> DataFrame:
    """Population Stability Index contributions per bucket between a
    reference and a current sample of ``value``:
    ``psi_i = (p_i − q_i)·ln(p_i/q_i)`` with p/q the bucket shares
    (the standard model-monitoring drift metric; PSI = Σ psi_i, with
    > 0.2 conventionally "significant drift").

    Emits PER-BUCKET contributions, not the scalar sum: each
    contribution is computed from exact integer counts with identical
    divisions in both engines, whereas a cross-bucket fp sum would be
    association-order-dependent. Buckets empty on either side yield
    NULL (ln undefined) rather than an arbitrary epsilon — the caller
    chooses the smoothing policy. Two scans + one small hash agg each;
    the join is on the tiny bucket table.
    """
    def bucketed(df: DataFrame, out: str) -> DataFrame:
        return (
            df.groupBy(
                F.least(
                    F.floor(F.col(value) / bucket_width), F.lit(n_buckets - 1)
                )
                .cast("int")
                .alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias(out))
        )

    r = bucketed(ref, "n_ref")
    c = bucketed(cur, "n_cur")
    joined = r.join(c, "bucket", "full").na.fill({"n_ref": 0, "n_cur": 0})
    tr = F.sum("n_ref").over(Window.partitionBy())
    tc = F.sum("n_cur").over(Window.partitionBy())
    p = F.col("n_ref") / tr
    q = F.col("n_cur") / tc
    contrib = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.round((p - q) * F.log(p / q), 6),
    )
    return joined.select(
        "bucket", "n_ref", "n_cur", contrib.alias("psi_contrib")
    )


def rolling_quantile(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    n_preceding: int,
    q: float = 0.5,
    id_col: str = "event_id",
) -> DataFrame:
    """Rolling exact quantile (default: median) of ``value`` over the
    trailing ``n_preceding + 1`` rows per key — the rolling-percentile
    hyperfunction. Spark's ``percentile`` and DuckDB's ``quantile_cont``
    both use linear interpolation between adjacent order statistics, so
    the raw stored doubles interpolate identically in both engines.

    Exact per-frame quantile is O(frame log frame) per row; for wide
    frames at scale, swap in the KLL window variant (operators/
    sketches.py) — this operator is the exact small-frame path.
    """
    us = F.unix_micros(F.col(ts))
    base = df.select(
        *keys,
        us.alias("t_us"),
        F.col(id_col).alias("__id"),
        F.col(value).alias("__v"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("t_us", "__id")
        .rowsBetween(-n_preceding, 0)
    )
    return base.select(
        *keys,
        "t_us",
        F.col("__id").alias(id_col),
        F.round(F.expr(f"percentile(__v, {q})").over(w), 6).alias("rolling_q"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition of a daily series
    (Hyndman & Athanasopoulos, *Forecasting: Principles and Practice*,
    ch. 3): trend = centered moving average of width ``period``;
    seasonal = per-phase mean of the detrended series; residual = the
    rest. Edge rows without a full MA frame are dropped (trend is
    undefined there), exactly as the classical method prescribes.
    Seasonal components are per-phase means, not re-centered to zero.

    Integer-exact cross-engine design: the value is summed per day in
    integer cents; detrended = cents·period − frame_sum stays integral;
    the per-phase seasonal keeps integral numerator (sum) and
    denominator (count); every emitted double is ONE division of
    identical integers, so Spark and DuckDB agree bit-for-bit. The
    phase index is ``(epoch_day mod period)`` — no dayofweek dialect.

    Shuffles: hash(keys) for the daily agg + trend window, then
    hash(keys, phase) for the seasonal window — two exchanges total.
    """
    half = period // 2
    day = F.date_trunc("day", F.col(ts))
    daily = (
        df.select(
            *keys,
            day.alias("d"),
            F.round(F.col(value) * 100, 0).cast("long").alias("__c"),
        )
        .groupBy(*keys, "d")
        .agg(F.sum("__c").alias("__c"))
        .withColumn(
            "__phase",
            (F.unix_micros(F.col("d")) / F.lit(86400000000)).cast("long")
            % period,
        )
    )
    wt = (
        Window.partitionBy(*keys)
        .orderBy("d")
        .rowsBetween(-half, half)
    )
    framed = (
        daily.withColumn("__fsum", F.sum("__c").over(wt))
        .withColumn("__fn", F.count(F.lit(1)).over(wt))
        .filter(F.col("__fn") == period)
        .withColumn("__dt", F.col("__c") * period - F.col("__fsum"))
    )
    ws = Window.partitionBy(*keys, "__phase")
    out = (
        framed.withColumn("__ssum", F.sum("__dt").over(ws))
        .withColumn("__sn", F.count(F.lit(1)).over(ws))
    )
    scale = 100 * period
    return out.select(
        *keys,
        "d",
        F.round(F.col("__c") / F.lit(100.0), 6).alias("y"),
        F.round(F.col("__fsum") / F.lit(float(scale)), 6).alias("trend"),
        F.round(
            F.col("__ssum") / (F.col("__sn") * F.lit(float(scale))), 6
        ).alias("seasonal"),
        F.round(
            (F.col("__dt") * F.col("__sn") - F.col("__ssum"))
            / (F.col("__sn") * F.lit(float(scale))),
            6,
        ).alias("resid"),
    )


def _lttb_one(t: np.ndarray, v: np.ndarray, n_out: int) -> np.ndarray:
    """LTTB indices for ONE series (the reference :func:`lttb_batch` is
    pinned against): all of ``range(n)`` when ``n <= n_out``, else
    ``n_out`` increasing positions including both endpoints."""
    n = len(t)
    if n <= n_out:
        return np.arange(n)
    # bucket boundaries over the interior points [1, n-1)
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    chosen = np.empty(n_out, dtype=np.int64)
    chosen[0] = 0
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo, nhi = edges[i + 1], (n if i == n_out - 3 else edges[i + 2])
        cx = t[nlo:nhi].mean()
        cy = v[nlo:nhi].mean()
        ax, ay = t[a], v[a]
        # 2×triangle area for every candidate in the bucket
        area = np.abs(
            (ax - cx) * (v[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay)
        )
        a = lo + int(np.argmax(area))
        chosen[i + 1] = a
    chosen[-1] = n - 1
    return chosen


def lttb_batch(
    t: np.ndarray,
    v: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    n_out: int,
) -> np.ndarray:
    """:func:`_lttb_one` for every series ``[starts[j], ends[j])`` of a
    packed batch at once; returns the keep-mask over the batch's rows.

    The ``n_out − 2`` bucket steps run once per BATCH, each over the
    current bucket of every series longer than ``n_out`` (ragged, no
    padding to the longest series), so the interpreter does O(n_out)
    steps instead of O(n_out × series) and memory stays O(batch rows).
    Chosen indices equal the per-series loop's (pinned by test):
    candidate areas use the same elementwise float operations, the
    per-bucket argmax keeps the first maximum (first NaN, as
    ``np.argmax``), and the next-bucket centroids are row means of
    equal-width gathers, which sum in the same pairwise order as the
    loop's contiguous-slice ``mean()``.
    """
    lens = ends - starts
    keep = np.repeat(lens <= n_out, lens)
    big = np.flatnonzero(lens > n_out)
    if not len(big):
        return keep
    s0, n = starts[big], lens[big]
    m = len(big)
    # per-series bucket edges, absolute row positions (m, n_out - 1)
    edges = np.linspace(1, n - 1, n_out - 1, axis=1).astype(np.int64)
    edges += s0[:, None]
    chosen = np.empty((m, n_out), dtype=np.int64)
    chosen[:, 0] = s0
    if n_out > 2:
        # every step's next-bucket centroid up front: it does not depend
        # on the previously chosen point. Grouped by bucket width.
        nlo = edges[:, 1:].ravel()
        nhi = np.concatenate(
            (edges[:, 2:], (s0 + n)[:, None]), axis=1
        ).ravel()
        width = nhi - nlo
        cx = np.empty(len(nlo))
        cy = np.empty(len(nlo))
        for w in np.unique(width):
            sel = np.flatnonzero(width == w)
            rows = nlo[sel, None] + np.arange(w)
            cx[sel] = t[rows].mean(axis=1)
            cy[sel] = v[rows].mean(axis=1)
        cx = cx.reshape(m, n_out - 2)
        cy = cy.reshape(m, n_out - 2)
    a = s0
    for i in range(n_out - 2):
        lo = edges[:, i]
        cnt = edges[:, i + 1] - lo
        seg = np.cumsum(cnt) - cnt
        pos = np.arange(int(cnt.sum())) + np.repeat(lo - seg, cnt)
        ax, ay = t[a], v[a]
        area = np.abs(
            np.repeat(ax - cx[:, i], cnt) * (v[pos] - np.repeat(ay, cnt))
            - (np.repeat(ax, cnt) - t[pos]) * np.repeat(cy[:, i] - ay, cnt)
        )
        top = np.maximum.reduceat(area, seg)
        hit = (area == np.repeat(top, cnt)) | np.isnan(area)
        first = np.minimum.reduceat(
            np.where(hit, np.arange(len(pos)), len(pos)), seg
        )
        a = pos[first]
        chosen[:, i + 1] = a
    chosen[:, -1] = s0 + n - 1
    keep[chosen.ravel()] = True
    return keep


def _packed_keep(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    keep,
) -> DataFrame:
    """The rows (``keys…, ts, value``) of ``df`` that a downsampler keeps,
    on the packed grouped-map path: ``keep(t, v, starts, ends)`` gets one
    Arrow batch's µs times and values as doubles, cut into series at
    :func:`key_slices` boundaries, and returns a boolean mask or
    ascending positions over the batch rows. Shared by :func:`lttb` and
    :func:`swinging_door`."""
    base = df.select(
        *keys,
        F.unix_micros(F.col(ts)).alias("__t"),
        F.col(value).cast("double").alias("__v"),
    )

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        starts, ends = key_slices(pdf, keys)
        t = pdf["__t"].to_numpy(np.float64)
        take = keep(t, pdf["__v"].to_numpy(), starts, ends)
        return pdf.iloc[take].reset_index(drop=True)

    out = packed_grouped_map(
        base,
        keys,
        ["__t"],
        _apply,
        f"{key_schema(df, keys)}, __t long, __v double",
    )
    return out.select(
        *keys,
        F.timestamp_micros(F.col("__t")).alias(ts),
        F.col("__v").alias(value),
    )


def lttb(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    n_out: int,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series
    (Steinarsson 2013): keep first/last points, split the interior into
    ``n_out − 2`` buckets, from each bucket keep the point maximizing
    the triangle area with the previously kept point and the next
    bucket's centroid. The standard visual-fidelity downsampler.

    Runs on the packed grouped-map path: one shuffle on ``keys``, many
    series per Arrow batch, one :func:`lttb_batch` pass per batch. Not
    SQL-expressible (sequential dependence on the previously selected
    point) → rows-only + property tests.
    """
    return _packed_keep(
        df, ts, value, keys, functools.partial(lttb_batch, n_out=n_out)
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    out_dp: int = 4,
) -> DataFrame:
    """Theil–Sen robust trend per series: slope = median of all pairwise
    slopes (y_j−y_i)/(x_j−x_i), intercept = median of (y_i − m·x_i) —
    the 29.3%-breakdown-point trend estimator (Sen 1968), immune to the
    outliers that wreck OLS on monitoring data.

    Shape: one co-partitioned self-join per series key (pair count is
    C(points,2) PER SERIES — bounded by series length², the caller's
    resolution choice, never by corpus size), a median aggregate for the
    slope, then one join back for the intercept residuals. All JVM-side;
    the same single-key partitioning serves the join and both aggregates.

    Output: ``key, slope, intercept, n_points`` (rounded).
    """
    from pyspark.sql.window import Window

    def _median(frame: DataFrame, val: str, out: str) -> DataFrame:
        # nearest-rank order statistic (ceil(n/2)-th value): the SELECTED
        # ELEMENT is identical in both engines because the candidate
        # values are — interpolated medians land a half-ulp apart across
        # engines and flip the output rounding (SURVEY.md §5.1)
        w = Window.partitionBy("k").orderBy(val)
        ranked = frame.select("k", val).withColumn(
            "rn", F.row_number().over(w)
        ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("k")))
        return ranked.filter(
            F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
        ).select("k", F.col(val).alias(out))

    pts = df.select(
        F.col(key_col).alias("k"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    a = pts.select("k", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select("k", F.col("x").alias("xb"), F.col("y").alias("yb"))
    pair_slopes = (
        a.join(b, on="k")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "k",
            ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias(
                "s"
            ),
        )
    )
    m = _median(pair_slopes, "s", "m")
    resid = pts.join(m, on="k").select(
        "k", "m", (F.col("y") - F.col("m") * F.col("x")).alias("r")
    )
    b0 = _median(resid, "r", "b0")
    n = pts.groupBy("k").agg(F.count(F.lit(1)).alias("n_points"))
    # +1e-9 before rounding: pairwise slopes are RATIONALS of 6dp
    # numbers over small integer day gaps, so they land EXACTLY on 4dp
    # half-boundaries, where Spark (HALF_UP on the exact binary
    # expansion) and DuckDB (scaled nearbyint) disagree; the shift moves
    # every half-case 1e-9 above the boundary in BOTH engines (the
    # selected medians are bit-identical doubles), keeping rounding
    # deterministic without changing any non-boundary digit
    return (
        m.join(b0, on="k")
        .join(n, on="k")
        .select(
            F.col("k").alias(key_col),
            F.round(F.col("m") + 1e-9, out_dp).alias("slope"),
            F.round(F.col("b0") + 1e-9, out_dp).alias("intercept"),
            "n_points",
        )
    )


def markov_attribution(
    paths: DataFrame,
    channels_col: str = "path",
    converted_col: str = "converted",
) -> pd.DataFrame:
    """Markov-chain attribution by removal effects (Anderl et al. 2016):
    credit each channel by how much total conversion probability drops
    when that channel is deleted from the transition graph.

    Input: one row per journey — an ORDERED array of channel touches and
    a conversion flag. The journey corpus reduces to first-order
    transition counts with one explode + hash aggregation (states are
    the channel vocabulary + start/conv/null, so the matrix is bounded
    by channels², never journeys). The absorption solve — P(conv from
    start) = solving (I − Q)x = R_conv on the tiny dense matrix — runs
    on the driver over the COLLECTED transition matrix (channels² cells,
    bounded by the vocabulary, never by journeys), once per channel
    removal.

    Removal of channel c follows the standard convention: transitions
    into c are redirected to the null absorber (the journey dies where
    the deleted touchpoint was), transitions out of c are dropped with
    the state. Returns a pandas frame: channel, removal_effect,
    attribution (removal effects normalized to sum 1).
    """
    import numpy as np

    trans = (
        paths.select(
            F.concat(
                F.array(F.lit("start")),
                F.col(channels_col),
                F.array(
                    F.when(F.col(converted_col), F.lit("conv")).otherwise(
                        F.lit("null")
                    )
                ),
            ).alias("seq")
        )
        .select(
            F.explode(
                F.expr(
                    "transform(slice(seq, 1, size(seq) - 1),"
                    " (s, i) -> struct(s AS src, seq[i + 1] AS dst))"
                )
            ).alias("t")
        )
        .groupBy(F.col("t.src").alias("src"), F.col("t.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    ).collect()  # bounded: (channels + 3)^2 rows

    if not trans:  # empty journey corpus → empty report, not a crash
        return pd.DataFrame(
            {"channel": [], "removal_effect": [], "attribution": []}
        )

    states = sorted(
        {r["src"] for r in trans} | {r["dst"] for r in trans}
        | {"conv", "null"}
    )
    idx = {s: i for i, s in enumerate(states)}
    counts = np.zeros((len(states), len(states)))
    for r in trans:
        counts[idx[r["src"]], idx[r["dst"]]] += r["n"]

    def conv_prob(removed: str | None) -> float:
        c = counts.copy()
        if removed is not None:
            ri = idx[removed]
            c[:, idx["null"]] += c[:, ri]  # into c -> journey dies
            c[:, ri] = 0.0
            c[ri, :] = 0.0
        absorbing = {idx["conv"], idx["null"]}
        transient = [i for i in range(len(states)) if i not in absorbing]
        row_sums = c[transient].sum(axis=1, keepdims=True)
        safe = np.where(row_sums > 0, row_sums, 1.0)
        P = c[transient] / safe
        Q = P[:, transient]
        r_conv = P[:, idx["conv"]]
        x = np.linalg.solve(np.eye(len(transient)) - Q, r_conv)
        return float(x[transient.index(idx["start"])])

    base = conv_prob(None)
    channels = [s for s in states if s not in {"start", "conv", "null"}]
    # base == 0 (nobody converts) means every removal effect is 0 — NOT
    # uniform credit: max(0, 1 - p/0)→1 for all channels would fabricate
    # attribution out of zero conversions.
    effects = {
        ch: (
            max(0.0, 1.0 - conv_prob(ch) / base) if base > 0 else 0.0
        )
        for ch in channels
    }
    total = sum(effects.values()) or 1.0
    return pd.DataFrame(
        {
            "channel": channels,
            "removal_effect": [round(effects[c], 6) for c in channels],
            "attribution": [round(effects[c] / total, 6) for c in channels],
        }
    )


def _sd_one(t: np.ndarray, v: np.ndarray, tolerance: float) -> np.ndarray:
    """Sequential corridor swinging-door on ONE series — the reference
    implementation the vectorized :func:`_sd_batch` is bit-pinned to."""
    n = len(t)
    if n <= 2:
        return np.arange(n)
    keep = [0]
    a = 0                      # anchor: last kept index
    up = -np.inf               # corridor: max lower-ray slope
    lo = np.inf                # corridor: min upper-ray slope
    prev = 0                   # last accepted candidate endpoint
    for i in range(1, n):
        dt = float(t[i] - t[a])
        if dt <= 0:
            dt = 1e-9
        s_i = (v[i] - v[a]) / dt
        if up <= s_i <= lo:
            # segment a→i within tol of every intermediate; accept
            # and tighten the corridor with i for future candidates
            prev = i
            up = max(up, (v[i] - tolerance - v[a]) / dt)
            lo = min(lo, (v[i] + tolerance - v[a]) / dt)
        else:
            keep.append(prev)
            a = prev
            dt = float(t[i] - t[a])
            if dt <= 0:
                dt = 1e-9
            up = (v[i] - tolerance - v[a]) / dt
            lo = (v[i] + tolerance - v[a]) / dt
            prev = i
    keep.append(n - 1)
    return np.unique(np.asarray(keep, dtype=np.int64))


def _sd_batch(
    t_all: np.ndarray,
    v_all: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    tolerance: float,
) -> np.ndarray:
    """:func:`_sd_one` vectorized across the SERIES axis (round 15,
    guide §4.2 — the dtw/kalman batch pattern): state (anchor, corridor,
    pending endpoint) lives in per-series arrays; each step i applies
    both branches elementwise and selects by the corridor mask, so the
    interpreter does O(T_max) steps per batch instead of O(Σ n_j).
    Identical float arithmetic in identical order per series ⇒ the kept
    index set is bit-identical to the sequential loop (pinned by test).
    Returns positional indices into the flat batch, ascending."""
    lens = ends - starts
    m = len(starts)
    T = int(lens.max())
    rows = np.repeat(np.arange(m), lens)
    cols = np.arange(len(t_all)) - np.repeat(starts, lens)
    tp = np.zeros((m, T), dtype=np.float64)
    vp = np.zeros((m, T), dtype=np.float64)
    tp[rows, cols] = t_all.astype(np.float64)
    vp[rows, cols] = v_all
    kept = np.zeros((m, T), dtype=bool)
    kept[:, 0] = True
    kept[np.arange(m), lens - 1] = True
    a = np.zeros(m, dtype=np.int64)
    up = np.full(m, -np.inf)
    lo = np.full(m, np.inf)
    prev = np.zeros(m, dtype=np.int64)
    ar = np.arange(m)
    for i in range(1, T):
        active = (i < lens) & (lens > 2)
        ti, vi = tp[:, i], vp[:, i]
        dt = ti - tp[ar, a]
        dt = np.where(dt <= 0, 1e-9, dt)
        va = vp[ar, a]
        s_i = (vi - va) / dt
        inside = (up <= s_i) & (s_i <= lo)
        rej = active & ~inside
        # reject branch: emit the pending endpoint, re-anchor there
        kept[ar[rej], prev[rej]] = True
        a_new = np.where(inside, a, prev)
        dt2 = ti - tp[ar, a_new]
        dt2 = np.where(dt2 <= 0, 1e-9, dt2)
        va2 = vp[ar, a_new]
        up_new = np.where(
            inside,
            np.maximum(up, (vi - tolerance - va) / dt),
            (vi - tolerance - va2) / dt2,
        )
        lo_new = np.where(
            inside,
            np.minimum(lo, (vi + tolerance - va) / dt),
            (vi + tolerance - va2) / dt2,
        )
        a = np.where(active, a_new, a)
        up = np.where(active, up_new, up)
        lo = np.where(active, lo_new, lo)
        prev = np.where(active, i, prev)
    j, c = np.nonzero(kept)
    return starts[j] + c


def swinging_door(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    tolerance: float,
) -> DataFrame:
    """Swinging-door trending compression (Bristol 1990, the SCADA/PI
    historian standard): per series, keep only the points needed so that
    LINEAR INTERPOLATION between kept points reconstructs every dropped
    point within ±``tolerance``. Complements LTTB (fixed point budget,
    no error bound) and M4 (pixel-exact min/max) with the third
    downsampling contract: a hard reconstruction-error guarantee.

    Corridor (fan) formulation — Sklansky-González style: from the last
    kept point the feasible slope corridor is tightened by every passed
    point's (v±tol) rays, and a candidate endpoint is accepted only if
    the ACTUAL segment slope to it lies inside the corridor. (The
    textbook door-existence test — "some line fits" — does NOT bound the
    error of the segment finally kept; our property test caught exactly
    that with a 1.5×tol violation, so the strict segment test is used.)

    Sequential per series → packed grouped-map (one shuffle on keys,
    many series per Arrow batch). Rows-only + the reconstruction-bound
    property test in tests/test_analytics.py.
    """
    return _packed_keep(
        df, ts, value, keys, functools.partial(_sd_batch, tolerance=tolerance)
    )


# ---------------------------------------------------------------------------
# Token-bucket rate-limit audit (exact integer microsecond state)
# ---------------------------------------------------------------------------

RL_PERIOD_US = 21_600_000_000  # one token per 6 hours
RL_CAPACITY = 2                # burst capacity (tokens)


def token_bucket_replay(
    ts_us: list[int], last_us: int | None, stok: int, period_us: int,
    cap_p: int,
) -> tuple[list[int], list[int], tuple[int | None, int]]:
    """Replay one key's events (µs times, in time order) through the
    token bucket from state ``(last_us, stok)``: refill ``stok`` by the
    gap since ``last_us`` (none before the first event) capped at
    ``cap_p``, then admit when at least ``period_us`` is banked. Returns
    the per-event ``admitted`` flags and ``tokens_after_p``, and the
    state ``(last_us, stok)`` after the last event. The one recurrence of
    :func:`token_bucket_flags` and the streaming J15 job."""
    admitted, after = [], []
    for t in ts_us:
        if last_us is not None:
            stok = min(cap_p, stok + (t - last_us))
        last_us = t
        admitted.append(int(stok >= period_us))
        stok -= period_us * admitted[-1]
        after.append(stok)
    return admitted, after, (last_us, stok)


def token_bucket_flags(
    df: DataFrame,
    key: str,
    ts_col: str,
    period_us: int = RL_PERIOD_US,
    capacity: int = RL_CAPACITY,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-event token-bucket admission flags — the throttling audit
    ('which requests WOULD a limiter of capacity C, refill 1/P have
    rejected'): tokens refill continuously at 1 per ``period_us`` and
    cap at ``capacity``; each admitted event spends one. State is kept
    SCALED by the period (stok = tokens * P, an exact integer count of
    microsecond-equivalents), so refill is `+= gap_us`, the cap is
    C*P, admission costs P — no fp anywhere, bit-identical on any
    engine or replay order. Sequential per key -> packed grouped map
    (one shuffle); the same recurrence runs in the streaming J15 job
    with (last_us, stok) as the two state scalars, and the two paths
    are equivalence-pinned in tests.
    Output: key, id, ts, admitted (int), tokens_after_p (stok)."""
    cap_p = capacity * period_us

    def _fit(ids: np.ndarray, ts: np.ndarray) -> dict:
        ts_us = ts.astype("datetime64[us]").astype(np.int64).tolist()
        admitted, after, _ = token_bucket_replay(
            ts_us, None, cap_p, period_us, cap_p
        )
        return {
            id_col: ids,
            ts_col: ts,
            "admitted": admitted,
            "tokens_after_p": after,
        }

    return per_series(
        df, [key], [ts_col, id_col], [id_col, ts_col], _fit,
        f"{key_schema(df, [id_col, ts_col])}, admitted int,"
        " tokens_after_p long",
    )
