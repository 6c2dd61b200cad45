"""Time-series operators (SURVEY.md §2.F plus C8/C9/C10, E6, E8).

Every operator is a composition of declarative DataFrame primitives — the
plans shuffle exactly once on the series key and then stay within a single
window sort, which is the minimal physical plan for per-series semantics on
a cluster. The Python-side operators are EWMA and CUSUM change points
(inherently recursive → the packed grouped map of ``operators/packed.py``);
everything else is JVM-side and whole-stage codegen'd.

Scale notes (100 TB):
- ``sessionize``/``ffill``/``asof_join`` shuffle once by key and sort within
  partitions — AQE handles post-shuffle coalescing; hot keys can be salted
  upstream by callers (the key is opaque to these helpers).
- ``densify`` emits ``sequence()`` per key — output is bounded by
  keys × grid_len, independent of input row count.
- ``range_join`` uses the published bucketed-range-join rewrite: coarse
  equi-join on a time bucket plus a residual predicate, avoiding the
  broadcast-nested-loop blowup a naive interval join would produce.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from time_series_spark_spark.operators.packed import (
    key_schema,
    key_slices,
    packed_grouped_map,
    per_series,
    pin_partitions,
)


# --------------------------------------------------------------------------
# F1: resample / downsample
# --------------------------------------------------------------------------
def resample(
    df: DataFrame,
    ts_col: str,
    unit: str,
    keys: list[str],
    aggs: list[Column],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Aggregate an irregular series onto a regular grid (one shuffle)."""
    bucket = F.date_trunc(unit, F.col(ts_col)).alias(bucket_col)
    return df.groupBy(bucket, *[F.col(k) for k in keys]).agg(*aggs)


# --------------------------------------------------------------------------
# F2: time-grid densify (gap fill) — emit every bucket even if empty
# --------------------------------------------------------------------------
def densify(
    df: DataFrame,
    keys: list[str],
    bucket_col: str,
    step: str = "interval 1 day",
    span: tuple[Column, Column] | None = None,
) -> DataFrame:
    """Left-join actuals onto the complete per-key time grid.

    ``df`` must already be bucketed (output of :func:`resample`). The grid
    spans the *global* [min, max] bucket unless ``span`` overrides it, so
    every key gets the same grid (what forecasting/gap-analysis wants).
    """
    if span is None:
        bounds = df.agg(
            F.min(bucket_col).alias("lo"), F.max(bucket_col).alias("hi")
        )
    else:
        bounds = df.sparkSession.range(1).select(
            span[0].alias("lo"), span[1].alias("hi")
        )
    key_df = df.select(*keys).distinct()
    grid = (
        key_df.crossJoin(F.broadcast(bounds))  # bounds is a 1-row frame
        .select(
            *keys,
            F.explode(F.expr(f"sequence(lo, hi, {step})")).alias(bucket_col),
        )
    )
    return grid.join(df, on=[*keys, bucket_col], how="left")


# --------------------------------------------------------------------------
# F3: forward / backward fill
# --------------------------------------------------------------------------
def ffill(df: DataFrame, keys: list[str], order_col: str, cols: list[str]) -> DataFrame:
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def bfill(df: DataFrame, keys: list[str], order_col: str, cols: list[str]) -> DataFrame:
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.desc(order_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


# --------------------------------------------------------------------------
# F4: linear interpolation between neighboring observations
# --------------------------------------------------------------------------
def interpolate_linear(
    df: DataFrame, keys: list[str], ts_col: str, value_col: str, out_col: str
) -> DataFrame:
    """prev + (next - prev) * (t - t_prev) / (t_next - t_prev); endpoints
    fall back to the nearest observed value (pandas ``interpolate`` +
    ffill/bfill semantics)."""
    fwd = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col(value_col).isNotNull(), F.col(ts_col))
    prev_v = F.last(value_col, ignorenulls=True).over(fwd)
    prev_t = F.last(obs_ts, ignorenulls=True).over(fwd)
    next_v = F.first(value_col, ignorenulls=True).over(bwd)
    next_t = F.first(obs_ts, ignorenulls=True).over(bwd)
    t = F.unix_micros(F.col(ts_col)).cast("double")
    pt = F.unix_micros(prev_t).cast("double")
    nt = F.unix_micros(next_t).cast("double")
    interp = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(nt == pt, prev_v)
        .otherwise(prev_v + (next_v - prev_v) * (t - pt) / (nt - pt))
    )
    return df.withColumn(out_col, interp)


# --------------------------------------------------------------------------
# F5: sessionization (gap rule)
# --------------------------------------------------------------------------
def sessionize(
    df: DataFrame, key: str, ts_col: str, gap_seconds: int
) -> DataFrame:
    """Split each key's event stream on silences > gap; one row per event
    with a per-key ``session_id`` (0-based, ordered by time).

    The input is pre-partitioned by ``key`` with a pinned partition
    count (round 14): the two window passes and the downstream
    per-session aggregation all reuse this one exchange, and AQE cannot
    coalesce the window/serialization stage to a single task (measured:
    events_sessionize 0.33 -> 0.12 s; bytes shuffled unchanged).
    """
    df = pin_partitions(df, key)
    w = Window.partitionBy(key).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    # exact integer µs arithmetic — bit-identical across engines
    new_session = (
        prev_ts.isNull()
        | (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)
            > F.lit(int(gap_seconds) * 1_000_000)
        )
    ).cast("long")
    run = Window.partitionBy(key).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(new_session).over(run) - 1)


def session_summary(
    df: DataFrame, key: str, ts_col: str, gap_seconds: int
) -> DataFrame:
    """One row per (key, session): bounds, size, duration."""
    return (
        sessionize(df, key, ts_col, gap_seconds)
        .groupBy(key, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_sec",
            (
                F.unix_micros("session_end") - F.unix_micros("session_start")
            ).cast("double")
            / 1e6,
        )
    )


# --------------------------------------------------------------------------
# C9: as-of join (backward) — union + window strategy (pure SQL, scales)
# --------------------------------------------------------------------------
def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the matching right row for the same key:
    ``direction='backward'`` (default) — the latest right with
    ``right.ts <= left.ts``; ``'forward'`` — the earliest right with
    ``right.ts >= left.ts``; ``'nearest'`` — whichever of the two is
    closer in time (exact ties resolve backward, matching
    ``pd.merge_asof``). Equal-timestamp right rows match in every
    direction.

    Strategy: tag both sides, union, window pass(es) carrying the
    nearest right struct across the partition — ONE shuffle on ``key``,
    no join at all ('nearest' adds a second in-partition sort, not a
    second exchange). Non-matching left rows keep nulls (left-join
    semantics). This is the scalable form of the operator: cost is a
    shuffle + sort regardless of how many right rows surround each left
    row.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be backward | forward | nearest")
    rts = f"{right_ts}{suffix}" if right_ts == left_ts or right_ts in left.columns else right_ts
    out_right_cols = [f"{c}{suffix}" if c in left.columns else c for c in right_cols]
    # All right columns travel in ONE struct so the window fill can never
    # stitch values from different right rows (true as-of semantics: the
    # single matched row's columns, even when some of them are NULL).
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(right_ts).alias(rts),
            *[
                F.col(c).alias(a)
                for c, a in zip(right_cols, out_right_cols)
            ],
        ).alias("_r"),
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        *[F.col(c) for c in left.columns if c not in (key,)],
    )
    merged = r.unionByName(l, allowMissingColumns=True)
    # Backward: rights sort before lefts at equal ts so an equal-ts right
    # matches; among equal-ts right rows the struct itself is the
    # deterministic tiebreaker (fixed regardless of shuffle
    # nondeterminism). Forward mirrors it: lefts first at equal ts so the
    # equal-ts right sits inside the lookahead frame.
    w_b = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), F.col("_side"), F.col("_r"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_f = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), F.col("_side").desc(), F.col("_r"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    fills = []
    if direction in ("backward", "nearest"):
        fills.append(F.last("_r", ignorenulls=True).over(w_b).alias("_frb"))
    if direction in ("forward", "nearest"):
        fills.append(F.first("_r", ignorenulls=True).over(w_f).alias("_frf"))
    filled = merged.select("*", *fills)
    out = filled.filter(F.col("_side") == 1)

    lts = F.col("_ts").cast("double")
    tol = None if tolerance_seconds is None else F.lit(float(tolerance_seconds))

    def _valid(fill: Column, delta: Column) -> Column:
        ok = fill.isNotNull()
        return ok & (delta <= tol) if tol is not None else ok

    if direction == "backward":
        d_b = lts - F.col("_frb")[rts].cast("double")
        chosen = F.when(_valid(F.col("_frb"), d_b), F.col("_frb"))
    elif direction == "forward":
        d_f = F.col("_frf")[rts].cast("double") - lts
        chosen = F.when(_valid(F.col("_frf"), d_f), F.col("_frf"))
    else:  # nearest: closer side wins; exact tie -> backward (pandas)
        d_b = lts - F.col("_frb")[rts].cast("double")
        d_f = F.col("_frf")[rts].cast("double") - lts
        ok_b = _valid(F.col("_frb"), d_b)
        ok_f = _valid(F.col("_frf"), d_f)
        chosen = F.when(
            ok_b & (~ok_f | (d_b <= d_f)), F.col("_frb")
        ).when(ok_f, F.col("_frf"))
    sel = [chosen[c].alias(c) for c in [rts, *out_right_cols]]
    keep_left = [
        F.col(c) for c in left.columns if c != left_ts and c != key
    ]
    return out.select(
        F.col(key), F.col("_ts").alias(left_ts), *keep_left, *sel
    )


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_value: str,
    schema: str,
) -> DataFrame:
    """C9 strategy (ii): cogrouped ``pd.merge_asof`` — exact pandas
    semantics, used as the property-test cross-check for :func:`asof_join`
    (L6 cogrouped-map surface)."""
    import pandas as pd

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l = l.sort_values(ts)
        r = r.sort_values(ts)
        return pd.merge_asof(l, r, on=ts, by=key, direction="backward")

    return left.groupBy(key).cogroup(right.groupBy(key)).applyInPandas(merge, schema)


# --------------------------------------------------------------------------
# C8: range / interval join via time bucketing
# --------------------------------------------------------------------------
def range_join_trailing(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """All (left, right) pairs with the same key and
    ``left.ts - window <= right.ts <= left.ts``.

    Bucketed rewrite: right rows land in bucket floor(ts/W); a left row's
    trailing window spans exactly two consecutive buckets, so explode left
    into both and equi-join on (key, bucket) before the residual range
    filter. Each qualifying pair appears exactly once (right rows have a
    unique bucket). Shuffle is hash(key, bucket) — a true equi-join at any
    scale, never a nested-loop join.
    """
    w_us = int(window_seconds) * 1_000_000
    suffix = "_r"
    r = right.select(
        F.col(key).alias("_rkey"),
        F.unix_micros(F.col(right_ts)).alias("_rus"),
        *[
            F.col(c).alias(f"{c}{suffix}" if c in left.columns else c)
            for c in right.columns
            if c != key
        ],
    ).withColumn("_bucket", F.floor(F.col("_rus") / w_us).cast("long"))
    l = left.withColumn("_lus", F.unix_micros(F.col(left_ts))).withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("_lus") - w_us) / F.lit(w_us)).cast("long"),
                F.floor(F.col("_lus") / w_us).cast("long"),
            )
        ),
    )
    joined = l.join(
        r,
        (l[key] == r["_rkey"])
        & (l["_bucket"] == r["_bucket"])
        & (r["_rus"] >= l["_lus"] - w_us)
        & (r["_rus"] <= l["_lus"]),
    )
    return joined.drop("_bucket", "_rkey", "_rus", "_lus")


# --------------------------------------------------------------------------
# E8: EWMA (recursive → pandas per group)
# --------------------------------------------------------------------------
def ewma(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key, matching
    ``pandas.Series.ewm(alpha=..., adjust=True).mean()``. Recursive state →
    grouped-map pandas UDF (SURVEY.md §2 E8). Groups are single series;
    filters/projections must be applied by the caller *before* this call
    (Python UDF = optimization barrier, SURVEY.md §4.3).

    Deliberately NOT a window-function formula: adjust=True EWM does
    admit the closed form y_t = Σ(x_i·w⁻ⁱ)/Σ(w⁻ⁱ) over running sums
    (the w^t factors cancel), but w⁻ⁱ = (1−α)⁻ⁱ overflows float64 after
    ~2k rows per series (1.43²⁰⁰⁰ ≈ 10³¹⁰ at α=0.3), so the "free"
    codegen version silently breaks on exactly the long series a 100 TB
    deployment has.

    Wide workloads (millions of short per-key series) are the common case,
    so the UDF runs through :func:`packed_grouped_map` — one hash shuffle,
    thousands of series per Arrow batch, cython ``GroupBy.ewm`` inside the
    batch — instead of one applyInPandas round trip per key (measured 6.6 s
    → packed at sf0.1's 1 500 users; the per-group dispatch dominated).
    A null key is one series, as in Spark's ``groupBy``."""
    schema = f"{key_schema(df, df.columns)}, {out_col} double"

    def _ewma_packed(pdf):
        # group by a series id from key_slices (pandas groupby on the keys
        # drops null keys); the ewm result carries the original row index
        # in its last level — align by index, order-independent.
        starts, ends = key_slices(pdf, keys)
        sid = np.repeat(np.arange(len(starts)), ends - starts)
        ew = pdf[value_col].groupby(sid, sort=False).ewm(
            alpha=alpha, adjust=True
        ).mean()
        pdf[out_col] = ew.reset_index(level=0, drop=True)
        return pdf

    return packed_grouped_map(df, keys, [order_col], _ewma_packed, schema)


# --------------------------------------------------------------------------
# F6: train/test time split
# --------------------------------------------------------------------------
def time_split(df: DataFrame, ts_col: str, cutoff) -> DataFrame:
    """Tag rows train/test at a time cutoff (split column, not two frames —
    keeps the lineage single-pass for backtesting unions)."""
    return df.withColumn(
        "split",
        F.when(F.col(ts_col) < F.lit(cutoff).cast("timestamp"), "train").otherwise(
            "test"
        ),
    )


# --------------------------------------------------------------------------
# F9: forecast accuracy metrics
# --------------------------------------------------------------------------
def forecast_metrics(
    joined: DataFrame, keys: list[str], actual: str, predicted: str
) -> DataFrame:
    """MAE / MSE / RMSE / MAPE / sMAPE per series from a frame that already
    joins actuals with predictions (pure relational — no UDF)."""
    err = F.col(actual) - F.col(predicted)
    ape = F.abs(err) / F.abs(F.col(actual))
    sape = 2 * F.abs(err) / (F.abs(F.col(actual)) + F.abs(F.col(predicted)))
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
        F.round(F.avg(err * err), 4).alias("mse"),
        F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        F.round(F.avg(ape), 6).alias("mape"),
        F.round(F.avg(sape), 6).alias("smape"),
    )


# --------------------------------------------------------------------------
# F11: rolling-statistics anomaly flag
# --------------------------------------------------------------------------
def anomaly_flags(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    n_rows: int = 7,
    n_sigmas: float = 2.0,
) -> DataFrame:
    """Flag |y − rolling mean| > k·rolling std over the trailing ``n_rows``
    window (current row excluded from the baseline so a spike can't mask
    itself)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-n_rows, -1)
    )
    mean, sd = F.avg(value_col).over(w), F.stddev_samp(value_col).over(w)
    return (
        df.withColumn("roll_mean", mean)
        .withColumn("roll_sd", sd)
        .withColumn(
            "is_anomaly",
            (
                F.abs(F.col(value_col) - F.col("roll_mean"))
                > n_sigmas * F.col("roll_sd")
            ).cast("boolean"),
        )
    )


# --------------------------------------------------------------------------
# F12: per-series structural stats
# --------------------------------------------------------------------------
def series_stats(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    w = Window.partitionBy(key).orderBy(ts_col)
    # Gaps stay INTEGER µs through the aggregate: integer sums < 2^53 are
    # exact in fp regardless of partial-aggregation order, so the mean is
    # bit-identical across engines; a k>0-digit round of an
    # order-dependent double average is not (decimal ties flip). Dividing
    # the integer-rounded mean by 1e6 yields an exact ≤6-decimal double.
    dt_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    return (
        df.withColumn("_dt_us", dt_us)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            (
                (
                    F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))
                ).cast("double")
                / 1e6
            ).alias("span_sec"),
            (F.round(F.avg("_dt_us"), 0) / 1e6).alias("mean_gap_sec"),
            (F.max("_dt_us").cast("double") / 1e6).alias("max_gap_sec"),
        )
    )


# --------------------------------------------------------------------------
# F13: multi-resolution rollup cascade (continuous-aggregate pattern)
# --------------------------------------------------------------------------
def rollup_cascade(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    count_alias: str = "n_events",
    sum_cents_col: str | None = None,
    sum_alias: str = "sum_value_cents",
) -> DataFrame:
    """Hour → day → month aggregates where each coarser grain is computed
    FROM THE PREVIOUS GRAIN'S OUTPUT, not from raw rows — the hypertable
    continuous-aggregate / materialized-rollup pattern.

    Scale shape: the raw table is read and shuffle-aggregated exactly once
    (to hourly); daily re-aggregates hourly partials (sum of counts, sum of
    sums — both algebraic, so the cascade is exact), monthly re-aggregates
    daily. Spark's ReusedExchange dedupes the shared hourly shuffle across
    the three union branches (pinned in tests/test_plans.py), so even
    expressed as one lineage the raw scan happens once. At 100 TB each
    grain's frame is what you would persist as a materialized table;
    answering "monthly" then touches ~8 KB/series/year, not raw events.

    Sums travel as INTEGER cents (exact under any partial-agg order — the
    cross-engine fp rule in queries.py) when ``sum_cents_col`` is given.

    Output: (grain, *keys, bucket_start, n_events[, sum_cents]) for grain
    ∈ {hour, day, month}.
    """
    aggs = [F.count(F.lit(1)).alias(count_alias)]
    re_aggs = [F.sum(count_alias).alias(count_alias)]
    if sum_cents_col is not None:
        aggs.append(
            F.sum(F.round(F.col(sum_cents_col) * 100, 0).cast("long")).alias(
                sum_alias
            )
        )
        re_aggs.append(F.sum(sum_alias).alias(sum_alias))

    hourly = df.groupBy(
        *keys, F.date_trunc("hour", ts_col).alias("bucket_start")
    ).agg(*aggs)
    daily = hourly.groupBy(
        *keys, F.date_trunc("day", "bucket_start").alias("bucket_start")
    ).agg(*re_aggs)
    monthly = daily.groupBy(
        *keys, F.date_trunc("month", "bucket_start").alias("bucket_start")
    ).agg(*re_aggs)

    out_cols = [*keys, "bucket_start", count_alias] + (
        [sum_alias] if sum_cents_col is not None else []
    )
    return (
        hourly.select(F.lit("hour").alias("grain"), *out_cols)
        .unionByName(daily.select(F.lit("day").alias("grain"), *out_cols))
        .unionByName(monthly.select(F.lit("month").alias("grain"), *out_cols))
    )


# --------------------------------------------------------------------------
# F14: CUSUM change-point detection (Page 1954)
# --------------------------------------------------------------------------
def change_points(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM mean-shift detector per series (Page 1954).

    Each series is standardized by its own mean/std, then the classic
    recursions ``s⁺ = max(0, s⁺ + z − k)`` / ``s⁻ = max(0, s⁻ − z − k)``
    run over it; an alarm fires when either side exceeds ``h`` and the
    statistic resets. Emits one row per alarm: keys + (ts, direction,
    stat). ``k`` (drift allowance) and ``h`` (decision interval) are in
    σ units — the standard (k=0.5, h=5) tuning detects ≳1σ sustained
    shifts with ARL₀ ≈ 930.

    Inherently sequential per series → numpy over the packed grouped-map
    path (operators/packed.py): one hash shuffle on the series key,
    thousands of series per Arrow batch, O(n) per series.
    """

    def _fit(ts, y) -> dict | None:
        alarms = _cusum_one(ts, y, k_sigmas, h_sigmas)
        if not alarms:
            return None
        return dict(zip(["ts", "direction", "stat"], zip(*alarms)))

    return per_series(
        df, keys, [order_col], [order_col, value_col], _fit,
        "ts timestamp, direction string, stat double",
    )


def _cusum_one(
    ts: np.ndarray, y: np.ndarray, k_sigmas: float, h_sigmas: float
) -> list[tuple]:
    """Two-sided CUSUM alarms ``(ts, direction, stat)`` of ONE series in
    order (the per-series core of :func:`change_points`); none for a
    constant series or one shorter than 3 points."""
    y = np.asarray(y, dtype=float)
    mu, sd = float(np.mean(y)), float(np.std(y))
    if sd == 0.0 or len(y) < 3:
        return []
    z = (y - mu) / sd
    out, s_hi, s_lo = [], 0.0, 0.0
    for i in range(len(z)):
        s_hi = max(0.0, s_hi + z[i] - k_sigmas)
        s_lo = max(0.0, s_lo - z[i] - k_sigmas)
        if s_hi > h_sigmas:
            out.append((ts[i], "up", s_hi))
            s_hi = s_lo = 0.0
        elif s_lo > h_sigmas:
            out.append((ts[i], "down", s_lo))
            s_hi = s_lo = 0.0
    return out


# --------------------------------------------------------------------------
# F15: sliding-window COUNT(DISTINCT) — trailing N days, exact
# --------------------------------------------------------------------------
def trailing_distinct(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    n_days: int = 7,
    keys: list[str] | None = None,
) -> DataFrame:
    """Exact distinct ``id_col`` count over a trailing ``n_days``-day
    window, per day (rolling actives / trailing-7d-users).

    Window functions cannot do COUNT(DISTINCT) over a moving frame, and
    collect_set-over-range explodes memory on hot windows. The scale-honest
    shape: dedupe to (key, day, id) pairs FIRST (one shuffle, massive
    reduction on 100 TB of raw events), then each active day contributes
    itself to the ``n_days`` window-end days it falls in (a bounded
    ``explode(sequence(...))`` — ×n_days on the already-deduped frame, not
    on raw data), then count distinct per window end. Output days are
    restricted to the observed day span so no phantom trailing windows
    appear past the data's end.
    """
    keys = keys or []
    day = F.date_trunc("day", F.col(ts_col))
    pairs = df.select(
        *keys, day.alias("_d"), F.col(id_col).alias("_id")
    ).distinct()
    contributed = pairs.select(
        *keys,
        "_id",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.col("_d") + F.expr(f"interval {n_days - 1} days"),
                F.expr("interval 1 day"),
            )
        ).alias("d"),
    )
    span = df.select(
        F.date_trunc("day", F.min(ts_col)).alias("_lo"),
        F.date_trunc("day", F.max(ts_col)).alias("_hi"),
    )
    return (
        contributed.join(
            F.broadcast(span),
            (F.col("d") >= F.col("_lo")) & (F.col("d") <= F.col("_hi")),
        )
        .groupBy(*keys, "d")
        .agg(F.countDistinct("_id").alias(f"users_{n_days}d"))
    )
