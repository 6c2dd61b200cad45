"""Per-series forecasting (SURVEY.md §2 F7/F8, §7.4) — the reference's core.

Model class (Taylor & Letham 2017, *Forecasting at Scale* — the published
Prophet formulation): ``y(t) = g(t) + s(t) + ε`` with a piecewise-linear
trend ``g`` (changepoints at quantiles of training time) and truncated
Fourier seasonality ``s`` (weekly K=3, yearly K=10 by default). Stan/scipy
are unavailable in this environment (SURVEY.md §0.2), so the same design
matrix is fit by **ridge least squares** in numpy — L2 on changepoint
deltas standing in for Prophet's Laplace MAP prior — and uncertainty
intervals come from in-sample residual quantiles, widened linearly along
the horizon.

Execution model (SURVEY.md §3.3): one hash shuffle on the series keys,
then the numpy fit runs in Python workers over *packed* Arrow batches
(``operators/packed.py``) — thousands of complete series share one UDF
invocation instead of one applyInPandas round trip per series, which
dominated wall time on wide workloads (1 500 one-user series at sf0.1:
9.5 s → ~1 s). The UDF is an optimization barrier: callers must
filter/project *before* calling (§4.3). At 100 TB the shuffle
partitioning tracks series count; a hot series should be horizon-split
or salted upstream — the fit itself is O(n·p²) per series and
embarrassingly parallel across series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_spark_spark.operators.packed import (
    key_schema,
    key_slices,
    packed_grouped_map,
    per_series,
    series,
    with_keys,
)


def _fourier(t_days: np.ndarray, period: float, order: int) -> np.ndarray:
    if order <= 0:
        return np.empty((len(t_days), 0))
    x = 2.0 * np.pi * np.outer(t_days, np.arange(1, order + 1)) / period
    return np.hstack([np.sin(x), np.cos(x)])


def fit_forecast_series(
    ds: np.ndarray,
    y: np.ndarray,
    horizon: int,
    freq_days: float = 1.0,
    n_changepoints: int = 15,
    changepoint_range: float = 0.8,
    weekly_order: int = 3,
    yearly_order: int = 10,
    ridge_changepoint: float = 1.0,
    ridge_seasonal: float = 0.1,
    interval_quantiles: tuple[float, float] = (0.05, 0.95),
    interval_widening: float = 0.3,
    holidays: dict[str, list] | None = None,
    ridge_holiday: float = 0.01,
    seasonality_mode: str = "additive",
) -> pd.DataFrame:
    """Fit one series and forecast ``horizon`` future steps.

    Returns a pandas frame ``(ds, yhat, yhat_lower, yhat_upper)`` with
    exactly ``horizon`` rows starting one ``freq_days`` step after the last
    observation. Deterministic: no RNG anywhere.

    ``holidays`` maps a holiday name to its list of dates (anything
    ``np.datetime64`` accepts); each name contributes one indicator
    regressor active on exactly those calendar days — the Prophet holiday
    term (Taylor & Letham 2017 §3.2) with zero-width windows, fit jointly
    with trend and seasonality under a loose ridge (``ridge_holiday``).
    Effects apply to training AND future dates, so a forecast spanning a
    listed date carries the learned spike.

    ``seasonality_mode='multiplicative'`` fits the same additive model on
    ``log y`` and exponentiates predictions and intervals — seasonal/
    holiday effects then scale WITH the trend level (Prophet's
    multiplicative mode via the standard log-link reduction). Requires
    strictly positive observations.

    This function sorts the series and drops NaN observations, then fits
    it as one column of :func:`fit_forecast_multi_stacked`. A series with
    fewer than 5 observations gets a constant forecast (mean level,
    max-deviation band) instead.
    """
    if seasonality_mode not in ("additive", "multiplicative"):
        raise ValueError("seasonality_mode must be additive | multiplicative")
    multiplicative = seasonality_mode == "multiplicative"
    order = np.argsort(ds)
    ds, y = np.asarray(ds)[order], np.asarray(y, dtype=float)[order]
    keep = ~np.isnan(y)
    ds, y = ds[keep], y[keep]
    n = len(y)
    if n == 0:
        return pd.DataFrame(
            {"ds": np.array([], dtype="datetime64[us]"), "yhat": [],
             "yhat_lower": [], "yhat_upper": []}
        )
    if n >= 5:
        return fit_forecast_multi_stacked(
            ds, y[:, None], horizon, freq_days, n_changepoints,
            changepoint_range, weekly_order, yearly_order, ridge_changepoint,
            ridge_seasonal, interval_quantiles, interval_widening, holidays,
            ridge_holiday, seasonality_mode,
        )
    # too short for trend/seasonality: constant fallback
    if multiplicative:
        if np.min(y) <= 0:
            raise ValueError(
                "multiplicative seasonality requires y > 0 everywhere"
            )
        y = np.log(y)
    step = np.timedelta64(int(freq_days * 86400 * 1_000_000), "us")
    level = float(np.mean(y))
    spread = float(np.max(np.abs(y - level))) if n > 1 else 0.0
    out = pd.DataFrame(
        {
            "ds": np.datetime64(ds[-1], "us") + step * np.arange(1, horizon + 1),
            "yhat": np.full(horizon, level),
            "yhat_lower": np.full(horizon, level - spread),
            "yhat_upper": np.full(horizon, level + spread),
        }
    )
    if multiplicative:
        for c in ("yhat", "yhat_lower", "yhat_upper"):
            out[c] = np.exp(out[c])
    return out


def fit_forecast_multi_stacked(
    ds: np.ndarray,
    Y: np.ndarray,
    horizon: int,
    freq_days: float = 1.0,
    n_changepoints: int = 15,
    changepoint_range: float = 0.8,
    weekly_order: int = 3,
    yearly_order: int = 10,
    ridge_changepoint: float = 1.0,
    ridge_seasonal: float = 0.1,
    interval_quantiles: tuple[float, float] = (0.05, 0.95),
    interval_widening: float = 0.3,
    holidays: dict[str, list] | None = None,
    ridge_holiday: float = 0.01,
    seasonality_mode: str = "additive",
) -> pd.DataFrame:
    """The additive-model kernel: fit every column of ``Y`` on the shared
    observation grid ``ds`` and forecast ``horizon`` steps. The ridge
    normal matrix ``XᵀX + diag(λ)`` depends only on the grid, so m
    same-grid series reduce to a single multi-right-hand-side
    ``solve(A, XᵀY)`` — the LAPACK factorization is paid once instead of
    m times. :func:`fit_forecast_series` cleans one series and calls this
    with a single column; the packed executor batch calls it once per
    same-grid cohort. Model and parameters as in
    :func:`fit_forecast_series`.

    ``ds`` must be sorted, ``Y`` NaN-free with at least 5 rows (callers
    guarantee it); ``Y`` has one column per series. Returns ONE
    member-major stacked ``(ds, yhat, yhat_lower, yhat_upper)`` frame
    (horizon rows per column, in column order) — per-member frame
    construction was the measured pandas hot spot for wide cohorts.
    """
    n, m = Y.shape
    assert len(ds) == n and n >= 5
    multiplicative = seasonality_mode == "multiplicative"
    if multiplicative:
        if np.min(Y) <= 0:
            raise ValueError(
                "multiplicative seasonality requires y > 0 everywhere"
            )
        Y = np.log(Y)

    step = np.timedelta64(int(freq_days * 86400 * 1_000_000), "us")
    last = np.datetime64(ds[-1], "us")
    future_ds = last + step * np.arange(1, horizon + 1)

    t0 = np.datetime64(ds[0], "us")
    t_days = (ds.astype("datetime64[us]") - t0) / np.timedelta64(1, "D")
    span = max(t_days[-1], 1.0)
    t = t_days / span
    n_cp = min(n_changepoints, max(n // 3 - 1, 0))
    if n_cp > 0:
        cps = np.quantile(
            t[: max(int(changepoint_range * n), 2)],
            np.linspace(0, 1, n_cp + 2)[1:-1],
        )
    else:
        cps = np.empty(0)
    yearly = yearly_order if t_days[-1] >= 365 else 0
    weekly = weekly_order if t_days[-1] >= 14 else 0
    hol_names = sorted(holidays) if holidays else []
    hol_days = [
        np.asarray(holidays[h], dtype="datetime64[D]") for h in hol_names
    ]

    def design(td: np.ndarray, dates: np.ndarray) -> np.ndarray:
        tt = td / span
        cols = [np.ones_like(tt), tt]
        if n_cp > 0:
            cols.append(np.maximum(tt[:, None] - cps[None, :], 0.0))
        blocks = [np.column_stack(cols) if len(cols) > 1 else cols[0][:, None]]
        blocks.append(_fourier(td, 7.0, weekly))
        blocks.append(_fourier(td, 365.25, yearly))
        if hol_names:
            days = dates.astype("datetime64[D]")
            blocks.append(
                np.column_stack(
                    [np.isin(days, hd).astype(float) for hd in hol_days]
                )
            )
        return np.hstack([b for b in blocks if b.size or b.shape[1] == 0])

    X = design(t_days, ds)
    y_scales = np.maximum(np.max(np.abs(Y), axis=0), 1e-9)
    Ys = Y / y_scales
    penalties = np.concatenate(
        [
            [1e-8, 1e-8],                       # intercept, base slope
            np.full(n_cp, ridge_changepoint),   # changepoint deltas (≈ Laplace MAP)
            np.full(2 * weekly, ridge_seasonal),
            np.full(2 * yearly, ridge_seasonal),
            np.full(len(hol_names), ridge_holiday),
        ]
    )
    A = X.T @ X + np.diag(penalties)
    B = np.linalg.solve(A, X.T @ Ys)  # ONE factorization, m RHS

    resid = (Ys - X @ B) * y_scales  # (n, m)
    q_lo = np.minimum(
        np.quantile(resid, interval_quantiles[0], axis=0), 0.0
    )
    q_hi = np.maximum(
        np.quantile(resid, interval_quantiles[1], axis=0), 0.0
    )

    future_t_days = (future_ds - t0) / np.timedelta64(1, "D")
    YH = design(future_t_days, future_ds) @ B * y_scales  # (horizon, m)
    widen = 1.0 + interval_widening * np.arange(1, horizon + 1) / max(horizon, 1)
    # ONE stacked frame for the whole cohort (member-major), built from
    # arrays — per-member frame construction was measured pandas-bound
    # for wide cohorts (round 6); callers that want per-member frames
    # slice horizon-sized views off this one
    yh = YH.ravel(order="F")
    lo = (YH + q_lo[None, :] * widen[:, None]).ravel(order="F")
    hi = (YH + q_hi[None, :] * widen[:, None]).ravel(order="F")
    if multiplicative:
        yh, lo, hi = np.exp(yh), np.exp(lo), np.exp(hi)
    return pd.DataFrame(
        {
            "ds": np.tile(future_ds, m),
            "yhat": yh,
            "yhat_lower": lo,
            "yhat_upper": hi,
        }
    )


def _y_double(df: DataFrame, y_col: str) -> DataFrame:
    """``df`` with ``y_col`` cast to double, the type every kernel here
    computes in (Arrow hands a decimal column to pandas as objects, a
    null-free integer column as int64)."""
    return df.withColumn(y_col, F.col(y_col).cast("double"))


def _fit_series_cohorts(
    series,
    keys: list[str],
    horizon: int,
    freq_days: float,
    fit_kwargs: dict,
) -> pd.DataFrame:
    """Fit an iterable of ``(kv, ds_arr, y_arr)`` series (the shared core
    of :func:`forecast` and :func:`forecast_on_grid`). Series sharing an
    identical observation grid (the overwhelmingly common case for
    aggregated daily series) are fit as ONE multi-RHS solve of
    :func:`fit_forecast_multi_stacked`; a ragged, NaN-bearing or short
    series goes through :func:`fit_forecast_series`, which cleans it and
    calls the same kernel with one column.
    """
    frames, kvs, lens = [], [], []
    cohorts: dict[bytes, list] = {}
    for kv, ds_arr, y_arr in series:
        if len(y_arr) >= 5 and not np.isnan(y_arr).any():
            cohorts.setdefault(ds_arr.tobytes(), []).append(
                (kv, ds_arr, y_arr)
            )
        else:
            out = fit_forecast_series(
                ds_arr, y_arr, horizon, freq_days, **fit_kwargs
            )
            frames.append(out)
            kvs.append(kv)
            lens.append(len(out))
    for members in cohorts.values():
        Y = np.column_stack([y for _, _, y in members])
        frames.append(
            fit_forecast_multi_stacked(
                members[0][1], Y, horizon, freq_days, **fit_kwargs
            )
        )
        kvs += [kv for kv, _, _ in members]
        lens += [horizon] * len(members)
    return with_keys(pd.concat(frames, ignore_index=True), kvs, lens, keys)


_FORECAST_SCHEMA = (
    "ds timestamp, yhat double, yhat_lower double, yhat_upper double"
)


def forecast(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    horizon: int,
    freq_days: float = 1.0,
    **fit_kwargs,
) -> DataFrame:
    """F7: fit-and-forecast every series in ``df`` (long format).

    Output schema: ``keys…, ds timestamp, yhat double, yhat_lower double,
    yhat_upper double`` — the published Prophet output contract.
    """

    def _fit_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # Packed batch: many complete series per invocation (see
        # operators/packed.py), routed through the shared cohort core.
        return _fit_series_cohorts(
            series(pdf, keys, [ds_col, y_col]),
            keys, horizon, freq_days, fit_kwargs,
        )

    # project early: the UDF is a pushdown barrier (SURVEY.md §4.3)
    slim = _y_double(df, y_col).select(*keys, ds_col, y_col)
    return packed_grouped_map(
        slim, keys, [ds_col], _fit_batch,
        f"{key_schema(df, keys)}, {_FORECAST_SCHEMA}",
    )


def forecast_on_grid(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    lo=None,
    hi=None,
    horizon: int = 7,
    freq_days: float = 1.0,
    bounds: DataFrame | None = None,
    **fit_kwargs,
) -> DataFrame:
    """:func:`forecast` over SPARSE observations densified to the shared
    ``[lo, hi]`` calendar INSIDE the Arrow stage (round 14, guide §4.2 —
    the hurst/dtw scatter pattern): a day with no observation is a TRUE
    zero, and the dense rows exist only as numpy vectors, never as Spark
    rows. This replaces the distinct-keys × ``sequence()`` grid explode +
    left join densify, whose explode/join/sort all re-ran single-threaded
    on the result stage (measured 111 ms of the forecast_user_events
    timed task — the Python fit was 27 ms) and whose join would broadcast
    or shuffle the whole series at cluster scale. The grid
    (``lo + k·freq``, exact midnights for daily data), the zero fill, and
    the per-batch cohort order are identical to the joined form, so
    outputs are byte-identical (pinned by test).

    ``lo``/``hi`` are the grid bounds as Python/naive-UTC datetimes, OR
    pass ``bounds`` — a 1-row DataFrame whose first two columns are
    (lo, hi) — to fold the bounds into the plan as a broadcast
    cross-join instead of collecting them at query BUILD time (round 15,
    r14 verdict item 3: a build-time ``collect()`` runs an extra full
    scan per build that escapes the timed region). The bounds columns
    ride the packed shuffle as two timestamps per row and are read from
    the batch inside the Arrow stage — same microsecond values, so the
    output is byte-identical to the scalar form. ``freq_days`` must
    divide the span. Keys with no observed rows produce no output —
    identical to the join form, whose key universe is the observed keys.
    """
    step_us = int(freq_days * 86_400_000_000)
    lo64 = None if lo is None else np.datetime64(lo, "us")
    hi64 = None if hi is None else np.datetime64(hi, "us")

    def _fit_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        if lo64 is None:
            b_lo = pdf["__lo"].to_numpy().astype("datetime64[us]")[0]
            b_hi = pdf["__hi"].to_numpy().astype("datetime64[us]")[0]
        else:
            b_lo, b_hi = lo64, hi64
        starts, ends = key_slices(pdf, keys)
        karrs = [pdf[k].to_numpy() for k in keys]
        ds_all = pdf[ds_col].to_numpy().astype("datetime64[us]")
        y_all = pdf[y_col].to_numpy(dtype=float)
        step = np.timedelta64(step_us, "us")
        n = int((b_hi - b_lo) // step) + 1
        grid = b_lo + step * np.arange(n)
        idx_all = ((ds_all - b_lo) // step).astype(np.int64)

        def _dense():
            for s, e in zip(starts, ends):
                dense = np.zeros(n)
                dense[idx_all[s:e]] = y_all[s:e]
                yield tuple(a[s] for a in karrs), grid, dense

        return _fit_series_cohorts(
            _dense(), keys, horizon, freq_days, fit_kwargs
        )

    slim = df.select(*keys, ds_col, y_col)
    if lo64 is None:
        bc = bounds.select(
            F.col(bounds.columns[0]).alias("__lo"),
            F.col(bounds.columns[1]).alias("__hi"),
        )
        slim = slim.crossJoin(F.broadcast(bc))
    # num_partitions=0: the scatter+multi-RHS fit is a cheap vectorized
    # pass over its bytes (27 ms Python for the sf0.1 corpus), so
    # byte-based AQE sizing is the right cost model — a pinned 32-task
    # stage paid more per-task Python round-trip than the whole fit
    # (0.33 s vs 0.19 s timed, measured round 14)
    return packed_grouped_map(
        slim, keys, [ds_col], _fit_batch,
        f"{key_schema(df, keys)}, {_FORECAST_SCHEMA}", num_partitions=0,
    )


def backtest(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    cutoffs: list[str],
    horizon: int,
    freq_days: float = 1.0,
    **fit_kwargs,
) -> DataFrame:
    """F8: rolling-origin cross-validation.

    For each cutoff, fit on history ``ds <= cutoff`` and score the next
    ``horizon`` steps against held-out actuals. All folds for one series
    run locally inside a single grouped-map call — one shuffle total,
    fold-looping is executor-local (cheaper than one Spark job per fold);
    series are packed many-per-Arrow-batch like :func:`forecast`.

    Output: one row per (series, cutoff) with MAE/RMSE/coverage.
    """
    cutoff_ts = [np.datetime64(c, "us") for c in cutoffs]

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        ds = ds.astype("datetime64[us]")
        actual = pd.DataFrame({"ds": ds, "y": y})
        folds = []
        for co in cutoff_ts:
            train = ds <= co
            if train.sum() < 5:
                continue
            fc = fit_forecast_series(
                ds[train], y[train], horizon, freq_days, **fit_kwargs
            )
            merged = fc.merge(actual, on="ds", how="inner")
            if merged.empty:
                continue
            err = merged["y"] - merged["yhat"]
            covered = (merged["y"] >= merged["yhat_lower"]) & (
                merged["y"] <= merged["yhat_upper"]
            )
            folds.append(
                (co, len(merged), float(err.abs().mean()),
                 float(np.sqrt((err**2).mean())), float(covered.mean()))
            )
        if not folds:
            return None
        return dict(
            zip(["cutoff", "n_test", "mae", "rmse", "coverage"], zip(*folds))
        )

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "cutoff timestamp, n_test bigint, mae double, rmse double, "
        "coverage double",
    )


def daily_series(
    df: DataFrame, keys: list[str], ts_col: str, value: F.Column, alias: str = "y"
) -> DataFrame:
    """Canonical forecasting input: per-key daily aggregate in long format
    (filter → project → aggregate *before* the UDF barrier)."""
    return df.groupBy(
        *keys, F.date_trunc("day", F.col(ts_col)).alias("ds")
    ).agg(value.alias(alias))


# --------------------------------------------------------------------------
# F30b: Holt-Winters triple exponential smoothing (additive)
# --------------------------------------------------------------------------
def holt_winters_series(
    y: np.ndarray,
    season_length: int,
    horizon: int,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
) -> tuple[np.ndarray, float]:
    """Additive Holt-Winters (triple exponential smoothing) for one
    series: the classic level/trend/seasonal recursion with the standard
    two-season initialization (level = first-season mean, trend =
    season-over-season mean change / m, seasonals = first-season
    deviations) — the published formulation (Holt 1957 / Winters 1960;
    Hyndman & Athanasopoulos, *Forecasting: Principles and Practice*,
    §8.3). Requires ``len(y) >= 2 * season_length``.

    Returns ``(yhat[horizon], sse)`` where sse is the in-sample
    one-step-ahead squared error (a fit-quality scalar for model
    comparison). Pure numpy; deterministic.
    """
    m = season_length
    n = len(y)
    if n < 2 * m:
        raise ValueError(f"need >= {2 * m} points, got {n}")
    level = float(np.mean(y[:m]))
    trend = float((np.mean(y[m : 2 * m]) - np.mean(y[:m])) / m)
    season = (y[:m] - level).astype(np.float64).copy()
    sse = 0.0
    for t in range(n):
        s_prev = season[t % m]
        fitted = level + trend + s_prev
        if t >= m:  # first season's "fit" is its own initialization
            sse += (y[t] - fitted) ** 2
        new_level = alpha * (y[t] - s_prev) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        season[t % m] = gamma * (y[t] - level - trend) + (1 - gamma) * s_prev
        level = new_level
    h = np.arange(1, horizon + 1)
    yhat = level + h * trend + season[(n + h - 1) % m]
    return yhat, float(sse)


def holt_winters(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    season_length: int,
    horizon: int,
    freq_days: float = 1.0,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
) -> DataFrame:
    """Per-series additive Holt-Winters forecast on the packed
    grouped-map path (same shuffle shape as :func:`forecast` — one hash
    partitioning by key, thousands of series per Arrow batch, per-series
    O(n) numpy). Series shorter than two seasons are skipped (a 100 TB
    corpus always has cold keys; silently emitting garbage for them is
    worse than absence).

    Output: ``keys…, ds timestamp, yhat double, sse double``.
    """
    step = np.timedelta64(int(freq_days * 86_400_000_000), "us")

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        if len(y) < 2 * season_length or np.isnan(y).any():
            return None
        yhat, sse = holt_winters_series(
            y, season_length, horizon, alpha, beta, gamma
        )
        return {
            "ds": ds[-1] + step * np.arange(1, horizon + 1),
            "yhat": yhat,
            "sse": np.full(horizon, sse),
        }

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "ds timestamp, yhat double, sse double",
    )


# --------------------------------------------------------------------------
# F8b: per-series model selection (additive regression vs Holt-Winters)
# --------------------------------------------------------------------------
def model_selection(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    cutoffs: list[str],
    horizon: int,
    season_length: int = 7,
    freq_days: float = 1.0,
) -> DataFrame:
    """F8b: rolling-origin champion selection between the two forecaster
    families (F7 additive regression, F7b Holt-Winters recursion), the
    standard per-series AutoML-lite step: evaluate both on the same
    folds, keep the lower mean MAE (ties → additive). All folds and both
    models run executor-local per series — one shuffle total, exactly
    the F8 shape.

    Output: ``keys…, n_folds, mae_additive, mae_hw, champion``.
    """
    cutoff_ts = [np.datetime64(c) for c in cutoffs]
    step = np.timedelta64(int(freq_days * 86_400_000_000), "us")

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        ds = ds.astype("datetime64[us]")
        actual = pd.DataFrame({"ds": ds, "y": y})
        add_maes, hw_maes = [], []
        for co in cutoff_ts:
            train = ds <= co
            n_tr = int(train.sum())
            if n_tr < max(5, 2 * season_length):
                continue
            fc = fit_forecast_series(ds[train], y[train], horizon, freq_days)
            m1 = fc.merge(actual, on="ds", how="inner")
            hw_yhat, _ = holt_winters_series(
                y[train], season_length, horizon
            )
            future = ds[train][-1] + step * np.arange(1, horizon + 1)
            m2 = pd.DataFrame({"ds": future, "yhat": hw_yhat}).merge(
                actual, on="ds", how="inner"
            )
            if m1.empty or m2.empty:
                continue
            add_maes.append(float((m1["y"] - m1["yhat"]).abs().mean()))
            hw_maes.append(float((m2["y"] - m2["yhat"]).abs().mean()))
        if not add_maes:
            return None
        ma, mh = float(np.mean(add_maes)), float(np.mean(hw_maes))
        return {
            "n_folds": [len(add_maes)],
            "mae_additive": [round(ma, 4)],
            "mae_hw": [round(mh, 4)],
            "champion": ["additive" if ma <= mh else "holt_winters"],
        }

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "n_folds long, mae_additive double, mae_hw double, champion string",
    )


# --------------------------------------------------------------------------
# F8c: split-conformal forecast intervals
# --------------------------------------------------------------------------
def conformal_forecast(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    horizon: int,
    alpha: float = 0.1,
    calib_frac: float = 0.25,
    freq_days: float = 1.0,
) -> DataFrame:
    """F8c: split-conformal prediction intervals (Vovk et al.;
    Lei et al., JASA 2018): fit on the older (1-calib_frac) of each
    series, take absolute residuals on the held-out calibration window,
    and set the interval half-width to the ceil((n+1)(1-α))/n empirical
    residual quantile — a DISTRIBUTION-FREE ≥(1-α) marginal coverage
    guarantee under exchangeable residuals, unlike the F7 residual-
    quantile bands. The final point forecast refits on the full series.

    Output: ``keys…, ds, yhat, lo, hi, qhat`` (one qhat per series).
    """

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        ds = ds.astype("datetime64[us]")
        n = len(y)
        n_cal = max(5, int(round(n * calib_frac)))
        n_tr = n - n_cal
        if n_tr < 5:
            return None
        fc_cal = fit_forecast_series(ds[:n_tr], y[:n_tr], n_cal, freq_days)
        merged = fc_cal.merge(
            pd.DataFrame({"ds": ds[n_tr:], "y": y[n_tr:]}), on="ds", how="inner"
        )
        if len(merged) < 3:
            return None
        res = np.sort(np.abs(merged["y"] - merged["yhat"]).to_numpy())
        m = len(res)
        rank = min(m - 1, int(np.ceil((m + 1) * (1 - alpha))) - 1)
        qhat = float(res[rank])
        fc = fit_forecast_series(ds, y, horizon, freq_days)
        yhat = fc["yhat"].to_numpy()
        return {
            "ds": fc["ds"].to_numpy(),
            "yhat": np.round(yhat, 4),
            "lo": np.round(yhat - qhat, 4),
            "hi": np.round(yhat + qhat, 4),
            "qhat": np.full(len(yhat), round(qhat, 4)),
        }

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "ds timestamp, yhat double, lo double, hi double, qhat double",
    )


# --------------------------------------------------------------------------
# F7c: Theta method (round 5)
# --------------------------------------------------------------------------
def theta_series(
    y: np.ndarray,
    horizon: int,
    alphas: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> tuple[np.ndarray, float, float]:
    """Theta(θ=2) forecast for one series via the Hyndman-Billah (IJF
    2003) equivalence: SES on the data plus half the linear-trend drift,
    ŷ_{n+h} = ℓ_n + (b̂/2)·(h − 1 + 1/α − (1−α)ⁿ/α), where b̂ is the OLS
    slope on time and ℓ the SES level. α is chosen from a fixed grid by
    in-sample one-step SSE — deterministic, no optimizer. The M3-winning
    simple forecaster; the model-diversity row beside additive
    regression (F7) and Holt-Winters (F7b).

    Returns (yhat[horizon], alpha, sse)."""
    n = len(y)
    t = np.arange(n, dtype=np.float64)
    b = float(np.polyfit(t, y, 1)[0])
    best = None
    for a in alphas:
        level = float(y[0])
        sse = 0.0
        for i in range(1, n):
            sse += (y[i] - level) ** 2
            level = a * y[i] + (1 - a) * level
        if best is None or sse < best[2]:
            best = (a, level, sse)
    a, level, sse = best
    h = np.arange(1, horizon + 1, dtype=np.float64)
    drift = (b / 2.0) * (h - 1 + 1 / a - (1 - a) ** n / a)
    return level + drift, a, float(sse)


def theta_forecast(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    horizon: int,
    freq_days: float = 1.0,
    min_len: int = 8,
) -> DataFrame:
    """Per-series Theta forecast on the packed grouped-map path (the F7
    shuffle shape: one hash partitioning by key, thousands of series per
    Arrow batch, O(n·|grid|) numpy per series). Short series skipped.
    Output: ``keys…, ds timestamp, yhat double, alpha double``."""
    step = np.timedelta64(int(freq_days * 86_400_000_000), "us")

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        if len(y) < min_len or np.isnan(y).any():
            return None
        yhat, a, _ = theta_series(y, horizon)
        return {
            "ds": ds[-1] + step * np.arange(1, horizon + 1),
            "yhat": yhat,
            "alpha": np.full(horizon, a),
        }

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "ds timestamp, yhat double, alpha double",
    )


# --------------------------------------------------------------------------
# F7d: Croston's method for intermittent demand (round 5)
# --------------------------------------------------------------------------
def croston_series(
    y: np.ndarray, alpha: float = 0.1
) -> tuple[float, float, float, int]:
    """Croston (OR Quarterly 1972) intermittent-demand estimate for one
    series of per-period demands (mostly zeros): SES over the non-zero
    demand SIZES (z) and over the inter-demand INTERVALS (p) separately;
    the per-period demand-rate forecast is z/p. The standard forecaster
    when most periods are zero and smoothing the raw series just decays
    to zero between spikes. Returns (rate, z_hat, p_hat, n_demands)."""
    nz = np.flatnonzero(y)
    if len(nz) == 0:
        return 0.0, 0.0, float(len(y)), 0
    z_hat = float(y[nz[0]])
    p_hat = float(nz[0] + 1)
    prev = nz[0]
    for i in nz[1:]:
        z_hat = alpha * float(y[i]) + (1 - alpha) * z_hat
        p_hat = alpha * float(i - prev) + (1 - alpha) * p_hat
        prev = i
    return z_hat / p_hat, z_hat, p_hat, int(len(nz))


def croston_forecast(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    alpha: float = 0.1,
    min_len: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Per-key Croston demand-rate estimate on the packed grouped-map
    path. Input must be a DENSE per-period series (zeros are data, not
    gaps). Output: ``keys…, n_periods, n_demands, demand_rate, z_hat,
    p_hat`` — one row per key.

    ``round_digits=None`` returns the raw doubles — needed by callers
    that canonicalize for cross-engine comparison themselves: with
    integer demands and a decimal alpha, z_hat/p_hat are EXACT
    terminating decimals, so ANY fixed decimal rounding has true
    half-ties (…5 at the next digit) that different engines break
    differently (round-half-even vs half-away) — the round-13 lesson
    from this query's oracle upgrade."""
    rnd = (
        (lambda x: round(x, round_digits))
        if round_digits is not None
        else (lambda x: x)
    )

    def _one(ds: np.ndarray, y: np.ndarray) -> dict | None:
        if len(y) < min_len:
            return None
        rate, z_hat, p_hat, n_dem = croston_series(y, alpha)
        return {
            "n_periods": [len(y)],
            "n_demands": [n_dem],
            "demand_rate": [rnd(rate)],
            "z_hat": [rnd(z_hat)],
            "p_hat": [rnd(p_hat)],
        }

    return per_series(
        _y_double(df, y_col), keys, [ds_col], [ds_col, y_col], _one,
        "n_periods long, n_demands long, demand_rate double, z_hat double, "
        "p_hat double",
    )
