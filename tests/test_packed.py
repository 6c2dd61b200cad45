"""packed_grouped_map (operators/packed.py): the group-boundary carry.

The helper's one hard invariant is that a group straddling an Arrow batch
boundary is held back and processed whole. Force pathologically small
batches (maxRecordsPerBatch=7, coprime with the group sizes) so every
shape — group inside a batch, group spanning two, group spanning many,
single-group partition — actually occurs, and check the per-group view
the apply_fn saw equals a driver-side groupby.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from time_series_spark_spark.operators.packed import packed_grouped_map
from time_series_spark_spark.operators.timeseries import ewma


def _mixed_groups(spark):
    # group sizes 1..13 (several >7, one ==1, none divisible by 7)
    rows = [
        (g, i, float(g * 100 + i))
        for g in range(1, 14)
        for i in range(g)
    ]
    return spark.createDataFrame(rows, "g int, i int, v double")


def test_groups_arrive_complete_and_sorted(tiny_batches):
    spark = tiny_batches
    df = _mixed_groups(spark).orderBy(F.rand(seed=7))

    def per_group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for g, grp in pdf.groupby("g", sort=False):
            assert grp["i"].is_monotonic_increasing  # sorted within group
            out.append((int(g), len(grp), float(grp["v"].sum()), int(grp["i"].iloc[0])))
        return pd.DataFrame(out, columns=["g", "n", "sv", "first_i"])

    got = (
        packed_grouped_map(df, ["g"], ["i"], per_group_stats, "g int, n long, sv double, first_i long")
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    # every group seen exactly once, complete, starting at i=0
    assert got["g"].tolist() == list(range(1, 14))
    assert got["n"].tolist() == list(range(1, 14))
    assert got["first_i"].tolist() == [0] * 13
    expected_sv = [sum(g * 100.0 + i for i in range(g)) for g in range(1, 14)]
    assert got["sv"].tolist() == expected_sv


def test_ewma_correct_across_batch_boundaries(tiny_batches):
    """ewma per series in 7-row batches, including a null-key series longer
    than one batch: Spark sorts it first, so one batch holds only it."""
    spark = tiny_batches
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 20 + ["b"] * 3 + ["c"] * 1 + [None] * 9,
            "t": list(range(20)) + list(range(3)) + [0] + list(range(9)),
            "v": [float(x) for x in range(33)],
        }
    )
    df = spark.createDataFrame(pdf, "key string, t long, v double").orderBy(
        F.rand(seed=3)
    )
    got = (
        ewma(df, ["key"], "t", "v", alpha=0.25)
        .toPandas()
        .sort_values(["key", "t"])
        .reset_index(drop=True)
    )
    assert got["key"].isna().sum() == 9
    expected = (
        pdf.sort_values(["key", "t"])
        .groupby("key", dropna=False)["v"]
        .transform(lambda s: s.ewm(alpha=0.25, adjust=True).mean())
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(
        got["ewma"], expected, check_names=False, rtol=1e-12
    )


def test_key_slices_matches_pandas_groupby():
    """key_slices (the run-length group scanner the packed apply fns use
    instead of pandas groupby) must yield exactly the groupby(sort=False)
    blocks on a key-contiguous frame: same boundaries, same key order,
    single- and multi-key, ragged sizes, object and int key dtypes, and
    null float/datetime keys."""
    import numpy as np

    from time_series_spark_spark.operators.packed import key_slices

    pdf = pd.DataFrame(
        {
            "a": [1, 1, 1, 2, 2, 3, 4, 4, 4, 4],
            "b": ["x", "x", "y", "y", "y", "y", "y", "y", "z", "z"],
            "v": np.arange(10.0),
        }
    )
    for keys in (["a"], ["b"], ["a", "b"]):
        starts, ends = key_slices(pdf, keys)
        expect = [
            (pdf.index.get_indexer(g.index)[0], pdf.index.get_indexer(g.index)[-1] + 1)
            for _, g in pdf.groupby(keys, sort=False)
        ]
        assert list(zip(starts.tolist(), ends.tolist())) == expect

    # null keys (NaN in a float column, NaT in a datetime column) are one
    # group each, as groupby(dropna=False) and Spark's groupBy have them
    nulls = pd.DataFrame(
        {
            "f": [np.nan, np.nan, np.nan, 1.0, 1.0, 2.5],
            "t": pd.to_datetime(
                [None, None, "2024-01-01", "2024-01-01", None, "2024-01-02"]
            ),
            "u": pd.to_datetime(
                [None, None, None, "2024-01-01", "2024-01-01", "2024-01-02"]
            ),
            "v": np.arange(6.0),
        }
    )
    for keys in (["f"], ["u"], ["f", "t"]):
        starts, ends = key_slices(nulls, keys)
        expect = [
            (nulls.index.get_indexer(g.index)[0], nulls.index.get_indexer(g.index)[-1] + 1)
            for _, g in nulls.groupby(keys, sort=False, dropna=False)
        ]
        assert list(zip(starts.tolist(), ends.tolist())) == expect, keys

    # empty frame -> empty boundaries
    starts, ends = key_slices(pdf.iloc[:0], ["a"])
    assert len(starts) == 0 and len(ends) == 0

    # single group spans the whole frame
    one = pd.DataFrame({"k": [5] * 4, "v": range(4)})
    starts, ends = key_slices(one, ["k"])
    assert starts.tolist() == [0] and ends.tolist() == [4]


def test_split_estimate_follows_min_partition_num(spark):
    """estimated_splits divides the scan bytes as Spark's maxSplitBytes
    does: by spark.sql.files.minPartitionNum when set, else by
    spark.sql.leafNodeDefaultParallelism, else by the default
    parallelism. With a 1-byte open cost and 8 MB of Range stats the
    split count is exactly that divisor."""
    from time_series_spark_spark.operators.packed import estimated_splits

    df = spark.range(1_000_000)  # sizeInBytes = 8 B x rows
    keys = (
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
        "spark.sql.leafNodeDefaultParallelism",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        spark.conf.set("spark.sql.leafNodeDefaultParallelism", "7")
        spark.conf.set("spark.sql.files.minPartitionNum", "5")
        assert estimated_splits(df) == 5
        spark.conf.set("spark.sql.files.minPartitionNum", "13")
        assert estimated_splits(df) == 13
        spark.conf.unset("spark.sql.files.minPartitionNum")
        assert estimated_splits(df) == 7
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
        assert estimated_splits(df) == spark.sparkContext.defaultParallelism
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_per_series_operators_match_local_reference_across_batches(tiny_batches):
    """Every per-series forecast operator over a dozen ragged series (one
    with a null key) in 7-row Arrow batches equals its per-series
    function, or fit_forecast_series, run on the driver. Series too short
    for an operator are skipped; the null key is one series."""
    import numpy as np

    from time_series_spark_spark.operators import forecast as fc

    spark = tiny_batches
    rng = np.random.default_rng(9)
    lengths = {None: 40, 0: 3, 1: 6, 2: 9, 3: 11, 4: 13, 5: 14, 6: 17,
               7: 22, 8: 29, 9: 36, 10: 60}
    series = {}
    for k, n in lengths.items():
        off = 2 if k is None else k % 5
        ds = np.datetime64("2024-01-01", "us") + np.timedelta64(1, "D") * (
            off + np.arange(n)
        )
        y = np.where(rng.random(n) < 0.4, 0.0, rng.integers(1, 9, n) * 1.0)
        series[k] = (ds, y)
    df = spark.createDataFrame(
        [(k, d.item(), float(v)) for k, (ds, y) in series.items()
         for d, v in zip(ds, y)],
        "k long, ds timestamp, y double",
    ).orderBy(F.rand(seed=5))
    h, cutoffs = 4, ["2024-01-15", "2024-01-25"]

    def future(ds):
        return ds[-1] + np.timedelta64(1, "D") * np.arange(1, h + 1)

    def check(got, rows, cols):
        want = pd.DataFrame(rows, columns=["k", *cols])
        want["k"] = want["k"].astype(float)
        for c in ("ds", "cutoff"):
            if c in want:
                want[c] = want[c].astype("datetime64[ns]")
        order = ["k", cols[0]]
        got = got.toPandas().sort_values(order).reset_index(drop=True)
        want = want.sort_values(order).reset_index(drop=True)
        assert got["k"].isna().any()  # the null-key series is present
        # BLAS in a Python worker may round the ridge solve differently
        # from the driver's, in the last bits
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, rtol=1e-12, atol=1e-12
        )

    hw, theta, croston, bt, conf, sel = [], [], [], [], [], []
    for k, (ds, y) in series.items():
        actual = pd.DataFrame({"ds": ds, "y": y})
        if len(y) >= 14:
            yhat, sse = fc.holt_winters_series(y, 7, h)
            hw += [(k, d, v, sse) for d, v in zip(future(ds), yhat)]
        if len(y) >= 8:
            yhat, a, _ = fc.theta_series(y, h)
            theta += [(k, d, v, a) for d, v in zip(future(ds), yhat)]
            rate, z, p, nd = fc.croston_series(y, 0.1)
            croston.append((k, len(y), nd, round(rate, 6), round(z, 6), round(p, 6)))
        add, hwm = [], []
        for c in cutoffs:
            co = np.datetime64(c, "us")
            tr = ds <= co
            if tr.sum() < 5:
                continue
            m = fc.fit_forecast_series(ds[tr], y[tr], h).merge(actual, on="ds")
            if m.empty:  # no held-out actuals after this cutoff
                continue
            e = m["y"] - m["yhat"]
            inside = (m["y"] >= m["yhat_lower"]) & (m["y"] <= m["yhat_upper"])
            bt.append((k, co, len(m), float(e.abs().mean()),
                       float(np.sqrt((e**2).mean())), float(inside.mean())))
            if tr.sum() >= 14:
                yh, _ = fc.holt_winters_series(y[tr], 7, h)
                m2 = pd.DataFrame({"ds": future(ds[tr]), "yhat": yh}).merge(actual, on="ds")
                add.append(float(e.abs().mean()))
                hwm.append(float((m2["y"] - m2["yhat"]).abs().mean()))
        if add:
            ma, mh = float(np.mean(add)), float(np.mean(hwm))
            sel.append((k, len(add), round(ma, 4), round(mh, 4),
                        "additive" if ma <= mh else "holt_winters"))
        n_tr = len(y) - max(5, int(round(len(y) * 0.25)))
        if n_tr >= 5:
            cal = fc.fit_forecast_series(ds[:n_tr], y[:n_tr], len(y) - n_tr).merge(
                actual.iloc[n_tr:], on="ds")
            res = np.sort(np.abs(cal["y"] - cal["yhat"]).to_numpy())
            q = float(res[min(len(res) - 1, int(np.ceil((len(res) + 1) * 0.9)) - 1)])
            yhat = fc.fit_forecast_series(ds, y, h)["yhat"].to_numpy()
            conf += [(k, d, v, lo, hi, round(q, 4)) for d, v, lo, hi in zip(
                future(ds), np.round(yhat, 4), np.round(yhat - q, 4),
                np.round(yhat + q, 4))]

    check(fc.holt_winters(df, ["k"], "ds", "y", 7, h), hw, ["ds", "yhat", "sse"])
    check(fc.theta_forecast(df, ["k"], "ds", "y", h), theta, ["ds", "yhat", "alpha"])
    check(fc.croston_forecast(df, ["k"], "ds", "y"), croston,
          ["n_periods", "n_demands", "demand_rate", "z_hat", "p_hat"])
    check(fc.backtest(df, ["k"], "ds", "y", cutoffs, h), bt,
          ["cutoff", "n_test", "mae", "rmse", "coverage"])
    check(fc.model_selection(df, ["k"], "ds", "y", cutoffs, h), sel,
          ["n_folds", "mae_additive", "mae_hw", "champion"])
    check(fc.conformal_forecast(df, ["k"], "ds", "y", h), conf,
          ["ds", "yhat", "lo", "hi", "qhat"])
    # the 3-row series is too short for every operator
    assert all(r[0] != 0 for r in hw + theta + croston + bt + sel + conf)


def test_mining_operators_match_local_reference_across_batches(tiny_batches):
    """The per-series mining operators (matrix_profile, kleinberg_bursts,
    dominant_periods, lomb_scargle_periods, pelt_changepoints,
    change_points) over ragged irregular series, one with a null key, in
    7-row Arrow batches equal their per-series functions run on the
    driver. Series too short for an operator are skipped; the null key is
    one series."""
    import numpy as np

    from time_series_spark_spark.operators import timeseries as tso
    from time_series_spark_spark.operators import tsmining as tsm

    spark = tiny_batches
    rng = np.random.default_rng(11)
    lengths = {None: 40, 0: 3, 1: 9, 2: 17, 3: 24, 4: 33, 5: 50}
    series = {}
    for k, n in lengths.items():
        # hours apart, with a run one minute apart (a burst), and a mean
        # shift half way (a change point)
        gaps = 3600 * rng.integers(1, 9, n)
        gaps[n // 3 : n // 3 + n // 4] = 60
        ts = np.datetime64("2024-01-01", "us") + np.timedelta64(1, "s") * np.cumsum(gaps)
        shift = np.where(np.arange(n) >= n // 2, 6.0, 0.0)
        series[k] = (ts, np.round(shift + rng.normal(size=n), 3))
    df = spark.createDataFrame(
        [(k, t.item(), float(v)) for k, (ts, v) in series.items()
         for t, v in zip(ts, v)],
        "k long, ts timestamp, v double",
    ).orderBy(F.rand(seed=5))

    def ns(t):
        return t.astype("datetime64[ns]")

    mp, bursts, dom, ls, pelt, cusum = [], [], [], [], [], []
    for k, (ts, v) in series.items():
        n = len(v)
        if n >= 8:
            prof, pidx = tsm._mass_distance_profile(v, 4)
            mot, dis = int(np.argmin(prof)), int(np.argmax(prof))
            mp.append((k, n, mot, int(pidx[mot]), round(float(prof[mot]), 6),
                       dis, round(float(prof[dis]), 6)))
            period, frac = tsm.estimate_period_series(v)
            dom.append((k, n, round(period, 4), round(frac, 4)))
        t_us = ts.astype(np.int64)
        for i, j, cnt in tsm.kleinberg_bursts_series(t_us):
            bursts.append((k, ns(ts[i]), ns(ts[j]), cnt))
        if n >= 16:
            t_s = ns(ts).astype(np.int64).astype(np.float64) / 1e9
            period, power = tsm._lomb_scargle_one(t_s - t_s[0], v)
            ls.append((k, n, period, round(power, 4)))
        b = [0, *tsm._pelt_one(v), n]
        pelt += [(k, i, ns(ts[b[i]]), b[i + 1] - b[i],
                  round(float(v[b[i]:b[i + 1]].mean()), 4))
                 for i in range(len(b) - 1)]
        cusum += [(k, ns(t), d, st) for t, d, st in tso._cusum_one(ts, v, 0.5, 5.0)]

    def check(got, rows, cols):
        want = pd.DataFrame(rows, columns=["k", *cols])
        want["k"] = want["k"].astype(float)
        order = ["k", cols[0]]
        got = got.toPandas().sort_values(order).reset_index(drop=True)
        want = want.sort_values(order).reset_index(drop=True)
        assert got["k"].isna().any()  # the null-key series is present
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, rtol=1e-12, atol=1e-12
        )

    check(tsm.matrix_profile(df, ["k"], "ts", "v", 4), mp,
          ["n_points", "motif_idx", "motif_nn_idx", "motif_dist",
           "discord_idx", "discord_dist"])
    check(tsm.kleinberg_bursts(df, ["k"], "ts"), bursts,
          ["burst_start", "burst_end", "n_events"])
    check(tsm.dominant_periods(df, ["k"], "ts", "v"), dom,
          ["n_points", "period", "power_frac"])
    check(tsm.lomb_scargle_periods(df, ["k"], "ts", "v"), ls,
          ["n_points", "best_period_hours", "ls_power"])
    check(tsm.pelt_changepoints(df, ["k"], "ts", "v"), pelt,
          ["seg_idx", "start_ts", "n_points", "seg_mean"])
    check(tso.change_points(df, ["k"], "ts", "v"), cusum,
          ["ts", "direction", "stat"])
    # the 3-row series is too short for the length-gated operators
    assert all(r[0] != 0 for r in mp + dom + ls)
