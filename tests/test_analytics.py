"""Unit and property tests for operators/analytics.py (OHLC, TWA,
counter increase, streaks, rolling corr, retention, funnel, LTTB).
Oracle parity for the SQL-expressible seven is covered by
tests/test_oracle.py; these tests pin hand-computed semantics on tiny
frames and LTTB's shape invariants.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_spark_spark.operators.analytics import (
    counter_increase,
    funnel,
    lttb,
    ohlc,
    retention_cohorts,
    rolling_corr,
    streaks,
    time_weighted_avg,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _events(spark, rows):
    """rows: (event_id, minutes, user_id, event_type, value)"""
    return spark.createDataFrame(
        [(i, _ts(m), u, t, float(v)) for i, m, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_ohlc_open_close_tiebreak(spark):
    # two events at the SAME timestamp: event_id must break the tie
    df = _events(
        spark,
        [
            (2, 0.0, 1, "view", 5.0),   # same ts as id 1 → id 1 wins open
            (1, 0.0, 1, "view", 3.0),
            (3, 10.0, 1, "view", 9.0),  # high
            (4, 20.0, 1, "view", 1.0),  # low + close
        ],
    )
    row = ohlc(df, "ts", "value", ["event_type"], "day").collect()[0]
    assert (row.open, row.high, row.low, row.close) == (3.0, 9.0, 1.0, 1.0)
    assert row.n == 4 and row.volume == 18.0


def test_time_weighted_avg_locf(spark):
    # v=10 for 10 min, v=30 for 30 min → twa = (10*10 + 30*30)/40 = 25
    df = _events(
        spark,
        [(1, 0.0, 1, "m", 10.0), (2, 10.0, 1, "m", 30.0), (3, 40.0, 1, "m", 99.0)],
    )
    row = time_weighted_avg(df, "ts", "value", ["user_id"]).collect()[0]
    assert row.twa_value == pytest.approx(25.0)
    assert row.n_samples == 3


def test_time_weighted_avg_drops_single_sample(spark):
    df = _events(spark, [(1, 0.0, 7, "m", 10.0)])
    assert time_weighted_avg(df, "ts", "value", ["user_id"]).count() == 0


def test_counter_increase_with_reset(spark):
    # 10 → 25 (+15) → 5 (reset: +5) → 11 (+6); first sample contributes 0
    df = _events(
        spark,
        [
            (1, 0.0, 1, "c", 10.0),
            (2, 1.0, 1, "c", 25.0),
            (3, 2.0, 1, "c", 5.0),
            (4, 3.0, 1, "c", 11.0),
        ],
    )
    row = counter_increase(df, "ts", "value", ["user_id"], "day").collect()[0]
    assert row.total_increase == pytest.approx(26.0)
    assert row.n_resets == 1


def test_streaks_run_length(spark):
    # user 1: A A B A → streaks (A,2), (B,1), (A,1)
    df = _events(
        spark,
        [
            (1, 0.0, 1, "A", 0),
            (2, 1.0, 1, "A", 0),
            (3, 2.0, 1, "B", 0),
            (4, 3.0, 1, "A", 0),
        ],
    )
    out = streaks(df, "ts", "event_type", ["user_id"])
    got = sorted(
        (r.streak_id, r.event_type, r.len) for r in out.collect()
    )
    assert got == [(1, "A", 2), (2, "B", 1), (3, "A", 1)]


def test_rolling_corr_perfect_and_inverse(spark):
    rows = [(i, float(i), float(2 * i + 1), float(10 - i)) for i in range(6)]
    df = spark.createDataFrame(rows, "d long, x double, y double, z double")
    up = rolling_corr(df, "d", "x", "y", n_preceding=2).collect()
    # y = 2x+1 → corr exactly 1 once the frame has ≥2 points
    assert all(r.rolling_corr == 1.0 for r in up if r.d >= 1)
    assert next(r.rolling_corr for r in up if r.d == 0) is None  # 1-pt frame
    down = rolling_corr(df, "d", "x", "z", n_preceding=2).collect()
    assert all(r.rolling_corr == -1.0 for r in down if r.d >= 1)


def test_retention_cohort_counts(spark):
    # u1 first week W0, active W0+W1; u2 first W0 only; u3 first W1
    df = _events(
        spark,
        [
            (1, 0.0, 1, "e", 0),
            (2, 7 * 24 * 60.0, 1, "e", 0),
            (3, 60.0, 2, "e", 0),
            (4, 7 * 24 * 60.0 + 5, 3, "e", 0),
        ],
    )
    got = {
        (r.cohort, r.offset): r.n_active
        for r in retention_cohorts(df, "ts", "user_id", "week").collect()
    }
    w0, w1 = T0, T0 + dt.timedelta(days=7)
    assert got == {(w0, 0): 2, (w0, 1): 1, (w1, 0): 1}


def test_funnel_requires_stage_order(spark):
    # u1: view→click→purchase (all 3); u2: purchase BEFORE click → stage 2
    # only reaches click; u3: view only
    df = _events(
        spark,
        [
            (1, 0.0, 1, "view", 0),
            (2, 1.0, 1, "click", 0),
            (3, 2.0, 1, "purchase", 0),
            (4, 0.0, 2, "view", 0),
            (5, 1.0, 2, "purchase", 0),
            (6, 2.0, 2, "click", 0),
            (7, 0.0, 3, "view", 0),
        ],
    )
    out = funnel(df, "ts", "user_id", "event_type", ["view", "click", "purchase"])
    got = {r.stage: r.n_users for r in out.collect()}
    assert got == {"view": 3, "click": 2, "purchase": 1}


def _lttb_input(spark, n=200, users=(1, 2)):
    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    for u in users:
        for i in range(n):
            rows.append((eid, float(i), u, "m", float(rng.normal())))
            eid += 1
    return _events(spark, rows)


def test_lttb_shape_invariants(spark):
    n, n_out = 200, 20
    df = _lttb_input(spark, n=n)
    out = lttb(df, "ts", "value", ["user_id"], n_out=n_out)
    pdf = out.toPandas().sort_values(["user_id", "ts"])
    src = df.toPandas()
    for u, g in pdf.groupby("user_id"):
        sg = src[src.user_id == u].sort_values("ts")
        assert len(g) == n_out
        # endpoints preserved
        assert g.ts.iloc[0] == sg.ts.iloc[0] and g.ts.iloc[-1] == sg.ts.iloc[-1]
        # strictly increasing ts, and every point comes from the input
        assert g.ts.is_monotonic_increasing and g.ts.is_unique
        merged = g.merge(sg, on=["user_id", "ts", "value"], how="left", indicator=True)
        assert (merged._merge == "both").all()


def test_lttb_short_series_passthrough(spark):
    df = _lttb_input(spark, n=5)
    out = lttb(df, "ts", "value", ["user_id"], n_out=20)
    assert out.count() == 10  # 2 users x 5 points, untouched


def test_lttb_keeps_extreme_point(spark):
    # a huge spike must survive downsampling (the whole point of LTTB)
    rows = [(i, float(i), 1, "m", 1.0) for i in range(100)]
    rows[50] = (50, 50.0, 1, "m", 500.0)
    df = _events(spark, rows)
    out = lttb(df, "ts", "value", ["user_id"], n_out=10).toPandas()
    assert out.value.max() == 500.0



def test_lttb_batch_matches_per_series_reference():
    """lttb_batch's keep-mask selects exactly _lttb_one's indices for
    every series of a packed batch: lengths n_out−1, n_out, n_out+1,
    short and mid series, and one 2000-point series whose buckets are
    wider than 8, where the centroid sums' order starts to matter. Its
    three-level values on a 0.1 grid make near-tied triangle areas; for
    this seed a sequentially summed centroid (np.add.reduceat or a
    running sum) picks a different point than the loop's slice mean."""
    from time_series_spark_spark.operators.analytics import (
        _lttb_one,
        lttb_batch,
    )

    rng = np.random.default_rng(17)
    n_out = 24
    lens = [n_out - 1, n_out, n_out + 1, 3, 1, 50, 7, 97, n_out + 2]
    t_parts, v_parts = [], []
    for n in lens:
        t_parts.append(np.cumsum(rng.integers(1, 10**6, size=n)).astype(float))
        v = rng.normal(size=n) * 10.0 ** rng.integers(-3, 6)
        v[rng.random(n) < 0.1] = 0.0  # ties in the triangle areas
        v_parts.append(v)
    t_parts.insert(6, np.arange(2000) * 0.1)
    v_parts.insert(6, np.random.default_rng(68).integers(0, 3, 2000) * 0.1)
    lens.insert(6, 2000)
    t, v = np.concatenate(t_parts), np.concatenate(v_parts)
    ends = np.cumsum(lens)
    starts = ends - np.asarray(lens)
    want = np.zeros(len(t), dtype=bool)
    for s, e in zip(starts, ends):
        want[_lttb_one(t[s:e], v[s:e], n_out) + s] = True
    got = lttb_batch(t, v, starts, ends, n_out)
    assert got.dtype == bool
    np.testing.assert_array_equal(got, want)
    for s, e in zip(starts, ends):
        assert got[s:e].sum() == min(e - s, n_out)

def test_seasonal_decompose_recovers_pure_weekly_signal(spark):
    # y = 100 + phase pattern, zero noise → trend = 100 + pattern mean,
    # resid = 0 everywhere, y = trend + seasonal + resid exactly
    pattern = [10.0, -5.0, 0.0, 20.0, -10.0, 5.0, -20.0]
    rows = []
    for i in range(28):
        rows.append((i, i * 24 * 60.0, 1, "m", 100.0 + pattern[i % 7]))
    df = _events(spark, rows)
    from time_series_spark_spark.operators.analytics import seasonal_decompose

    out = seasonal_decompose(df, "ts", "value", ["user_id"], period=7).toPandas()
    assert len(out) == 28 - 6  # 3 edge rows dropped each side
    # centered 7-day MA of a pure period-7 signal is flat
    assert (out.trend == out.trend.iloc[0]).all()
    assert np.allclose(out.resid, 0.0)
    assert np.allclose(out.y, out.trend + out.seasonal + out.resid)


def test_coalesce_intervals_merges_overlaps_and_touching(spark):
    from time_series_spark_spark.operators.analytics import coalesce_intervals

    rows = [
        # key 1: [0,10) ∪ [5,15) ∪ [15,25) merge (touching merges);
        # [30,40) separate
        (1, 1, 0.0, 10.0),
        (1, 2, 5.0, 15.0),
        (1, 3, 15.0, 25.0),
        (1, 4, 30.0, 40.0),
        # key 2: disjoint singletons
        (2, 5, 0.0, 1.0),
        (2, 6, 2.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "k long, oid long, s double, e double")
    got = sorted(
        (r.k, r.period_start, r.period_end, r.n_intervals)
        for r in coalesce_intervals(df, ["k"], "s", "e", "oid").collect()
    )
    assert got == [
        (1, 0.0, 25.0, 3),
        (1, 30.0, 40.0, 1),
        (2, 0.0, 1.0, 1),
        (2, 2.0, 3.0, 1),
    ]


# --------------------------------------------------------------------------
# Hypothesis: coalesce_intervals ≡ brute-force interval merge
# --------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@given(data=st.data())
@settings(max_examples=10, deadline=None)
def test_coalesce_intervals_matches_bruteforce(spark, data):
    from time_series_spark_spark.operators.analytics import coalesce_intervals

    n = data.draw(st.integers(1, 25))
    rows = []
    for i in range(n):
        k = data.draw(st.sampled_from(["a", "b"]))
        s = data.draw(st.integers(0, 200))
        e = s + data.draw(st.integers(1, 40))
        rows.append((k, float(s), float(e), i))
    df = spark.createDataFrame(
        rows, "key string, s double, e double, id long"
    )
    got = {
        (r.key, r.period_start, r.period_end, r.n_intervals)
        for r in coalesce_intervals(df, ["key"], "s", "e", "id").collect()
    }

    expected = set()
    for k in {r[0] for r in rows}:
        ivs = sorted((r[1], r[2]) for r in rows if r[0] == k)
        cur_s, cur_e, cnt = ivs[0][0], ivs[0][1], 1
        for s, e in ivs[1:]:
            if s <= cur_e:  # overlap or touch -> same period
                cur_e = max(cur_e, e)
                cnt += 1
            else:
                expected.add((k, cur_s, cur_e, cnt))
                cur_s, cur_e, cnt = s, e, 1
        expected.add((k, cur_s, cur_e, cnt))
    assert got == expected


@given(data=st.data())
@settings(max_examples=10, deadline=None)
def test_counter_increase_matches_simulation(spark, data):
    from time_series_spark_spark.operators.analytics import counter_increase

    n = data.draw(st.integers(2, 30))
    base = dt.datetime(2024, 3, 1)
    # one key, one day: cumulative counter with random resets
    vals, cur = [], 0.0
    for _ in range(n):
        if data.draw(st.booleans()) and cur > 0:
            cur = 0.0  # reset
        cur += data.draw(st.integers(0, 50)) / 100.0
        vals.append(round(cur, 2))
    rows = [
        ("k", base + dt.timedelta(minutes=i), v, i)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, event_id long"
    )
    got = counter_increase(df, "ts", "value", ["key"]).collect()
    assert len(got) == 1
    cents = [round(v * 100) for v in vals]
    exp_inc = 0
    exp_resets = 0
    for prev, cur_ in zip(cents, cents[1:]):
        if cur_ >= prev:
            exp_inc += cur_ - prev
        else:
            exp_resets += 1
            exp_inc += cur_
    assert round(got[0].total_increase * 100) == exp_inc
    assert got[0].n_resets == exp_resets


def test_seasonal_ratio_anomaly_planted(spark):
    """F30: a planted 10x same-weekday spike flags is_spike, a 1/10 day
    flags is_drop, and stable days flag nothing — all against the
    leave-one-out peer baseline (the anomalous day never contaminates its
    own baseline)."""
    import datetime

    from time_series_spark_spark.queries_analytics import (
        events_seasonal_ratio_anomaly,  # noqa: F401 - registry import
    )
    from time_series_spark_spark.queries import REGISTRY

    # ten consecutive Mondays: eight stable 10s, one 100 (spike), one 1
    # (drop) — enough stable peers that the outliers cannot drag the
    # leave-one-out mean past the x2 / x0.5 thresholds for normal days
    base = datetime.datetime(2024, 1, 1, 12, 0)  # a Monday
    rows = []
    eid = 0
    for week, n in enumerate((10, 10, 10, 10, 10, 10, 10, 10, 100, 1)):
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(days=7 * week), 1, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="sra_")
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    try:
        out = {
            r.d.day: (r.is_spike, r.is_drop)
            for r in REGISTRY["events_seasonal_ratio_anomaly"].fn(spark, d).collect()
        }
        spike_day = (base + datetime.timedelta(days=7 * 8)).day
        drop_day = (base + datetime.timedelta(days=7 * 9)).day
        for day, flags in out.items():
            if day == spike_day:
                assert flags == (True, False), (day, flags)
            elif day == drop_day:
                assert flags == (False, True), (day, flags)
            else:
                assert flags == (False, False), (day, flags)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# theil_sen_trend
# ---------------------------------------------------------------------------

def test_theil_sen_recovers_slope_despite_outliers(spark):
    from pyspark.sql import functions as F
    from time_series_spark_spark.operators.analytics import theil_sen_trend

    # y = 3x + 10 with two gross outliers: OLS would be wrecked,
    # Theil-Sen (29% breakdown) must stay on the true line
    pts = [(1, float(x), 3.0 * x + 10.0) for x in range(20)]
    pts[5] = (1, 5.0, 500.0)
    pts[12] = (1, 12.0, -400.0)
    df = spark.createDataFrame(pts, "k int, x double, y double")
    row = theil_sen_trend(df, "k", "x", "y").first()
    assert abs(row["slope"] - 3.0) < 0.2
    assert abs(row["intercept"] - 10.0) < 3.0
    assert row["n_points"] == 20


def test_theil_sen_exact_on_clean_line(spark):
    from time_series_spark_spark.operators.analytics import theil_sen_trend

    pts = [(7, float(x), -2.0 * x + 4.0) for x in range(10)]
    df = spark.createDataFrame(pts, "k int, x double, y double")
    row = theil_sen_trend(df, "k", "x", "y").first()
    assert row["slope"] == -2.0
    assert row["intercept"] == 4.0


# ---------------------------------------------------------------------------
# markov_attribution
# ---------------------------------------------------------------------------

def test_markov_attribution_closed_form(spark):
    from time_series_spark_spark.operators.analytics import (
        markov_attribution,
    )

    rows = [(["A"], True)] * 10 + [(["B"], False)] * 10
    df = spark.createDataFrame(rows, "path array<string>, converted boolean")
    pdf = markov_attribution(df).set_index("channel")
    # only A ever converts: removing it kills all conversions
    assert pdf.loc["A", "removal_effect"] == 1.0
    assert pdf.loc["B", "removal_effect"] == 0.0
    assert pdf.loc["A", "attribution"] == 1.0


def test_markov_attribution_shared_path_splits_credit(spark):
    from time_series_spark_spark.operators.analytics import (
        markov_attribution,
    )

    # every converting journey passes through BOTH A and B in order:
    # each is individually necessary, so removal effects are equal
    rows = [(["A", "B"], True)] * 8 + [(["A"], False)] * 4
    df = spark.createDataFrame(rows, "path array<string>, converted boolean")
    pdf = markov_attribution(df).set_index("channel")
    assert pdf.loc["A", "removal_effect"] == 1.0  # all paths start at A
    assert pdf.loc["B", "removal_effect"] == 1.0  # conversion needs B
    assert abs(pdf["attribution"].sum() - 1.0) < 1e-6


def test_markov_attribution_registered_query(spark):
    from time_series_spark_spark.queries import REGISTRY

    fn = REGISTRY["purchase_attribution_markov"].fn
    a = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
    assert a == b
    att = sum(r[2] for r in a)
    assert abs(att - 1.0) < 1e-3
    assert all(0.0 <= r[1] <= 1.0 for r in a)


def test_theil_sen_matches_numpy_reference(spark):
    """Nearest-rank Theil-Sen vs a driver-side reference on random data
    (unique x so slopes are well-defined)."""
    import numpy as np

    rng = np.random.RandomState(3)
    from time_series_spark_spark.operators.analytics import theil_sen_trend

    for trial in range(3):
        n = 15
        xs = np.arange(n, dtype=float)
        ys = np.round(rng.randn(n) * 5 + 0.7 * xs, 6)
        df = spark.createDataFrame(
            [(1, float(x), float(y)) for x, y in zip(xs, ys)],
            "k int, x double, y double",
        )
        row = theil_sen_trend(df, "k", "x", "y").first()
        slopes = sorted(
            (ys[j] - ys[i]) / (xs[j] - xs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        m = slopes[-(-len(slopes) // 2) - 1]  # nearest-rank ceil(n/2)
        resid = sorted(ys - m * xs)
        b0 = resid[-(-len(resid) // 2) - 1]
        assert row["slope"] == round(m + 1e-9, 4), trial
        assert row["intercept"] == round(b0 + 1e-9, 4), trial


def test_cohort_ltv_curves_monotone_and_consistent(spark):
    from collections import defaultdict

    from time_series_spark_spark.queries import REGISTRY

    rows = REGISTRY["cohort_ltv_curves"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort"]].append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age_weeks"])
        assert rs[0]["age_weeks"] == 0  # a cohort's first week is age 0
        cum = 0
        for r in rs:
            cum += r["week_cents"]
            assert r["cum_cents"] == cum  # cumulative is exact
            assert abs(
                r["ltv_cents_per_user"] - round(cum / r["n_users"], 4)
            ) < 1e-9


def test_decile_bins_near_equal_and_ordered(spark):
    from time_series_spark_spark.queries import REGISTRY

    rows = REGISTRY["orders_price_decile_bins"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["bin"] for r in rows] == list(range(10))
    counts = [r["n_orders"] for r in rows]
    assert max(counts) - min(counts) <= 1  # exact rank arithmetic
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] <= b["lo_cents"]  # bins are value-ordered


def test_pareto_and_reconciliation_invariants(spark):
    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    p = REGISTRY["customer_revenue_pareto"].fn(spark, sf).collect()[0]
    assert 0 < p["customers_for_80pct"] <= p["n_customers"]
    assert 0 < p["pct_of_customers"] <= 100.0

    rec = REGISTRY["orders_lineitem_reconciliation"].fn(spark, sf).collect()
    n_orders = load(spark, sf, "orders").count()
    assert sum(r["n_orders"] for r in rec) == n_orders  # bands partition


def test_swinging_door_batch_bit_identical_to_loop():
    """_sd_batch (series-axis vectorization, round 15) must pick the
    bit-identical kept index set as the sequential _sd_one on ragged
    batches: random walks, constant series, duplicate timestamps
    (dt<=0 guard), and n<=2 degenerate series."""
    from time_series_spark_spark.operators.analytics import (
        _sd_batch,
        _sd_one,
    )

    rng = np.random.default_rng(9)
    series = []
    for n in (1, 2, 3, 9, 40, 40, 77, 250):
        t = np.sort(rng.integers(0, 10_000, size=n)).astype(np.int64)
        if n > 5:
            t[3] = t[2]  # duplicate timestamp exercises the dt<=0 guard
        v = np.round(rng.normal(size=n).cumsum(), 3)
        series.append((t, v))
    series.append((np.arange(50, dtype=np.int64), np.zeros(50)))  # line
    lens = np.array([len(t) for t, _ in series])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ends = starts + lens
    t_all = np.concatenate([t for t, _ in series])
    v_all = np.concatenate([v for _, v in series])
    for tol in (0.5, 2.0):
        got = _sd_batch(t_all, v_all, starts, ends, tol)
        want = np.concatenate(
            [_sd_one(t, v, tol) + s for (t, v), s in zip(series, starts)]
        )
        assert got.tobytes() == want.astype(got.dtype).tobytes()


def test_swinging_door_reconstruction_bound(spark):
    """F89: linear interpolation between kept points reconstructs EVERY
    dropped point within tolerance; endpoints always kept; a straight
    line with small noise compresses to (near) two points."""
    import datetime as dt

    import numpy as np

    from time_series_spark_spark.operators.analytics import swinging_door

    rng = np.random.default_rng(3)
    rows = []
    for s_id in range(8):
        for i in range(120):
            base = 2.0 * i if s_id % 2 == 0 else 50.0 * np.sin(i / 7.0)
            noise = float(rng.uniform(-0.3, 0.3))
            rows.append(
                (s_id, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
                 float(base + noise))
            )
    df = spark.createDataFrame(rows, "k long, t timestamp, v double")
    TOL = 1.0
    kept = swinging_door(df, "t", "v", ["k"], tolerance=TOL)
    kept_by_k = {}
    for r in kept.collect():
        kept_by_k.setdefault(r["k"], []).append((r["t"], r["v"]))
    orig_by_k = {}
    for k, t, v in rows:
        orig_by_k.setdefault(k, []).append((t, v))
    for k, orig in orig_by_k.items():
        orig.sort()
        pts = sorted(kept_by_k[k])
        assert pts[0] == orig[0] and pts[-1] == orig[-1]
        # reconstruct
        kt = np.array([p[0].timestamp() for p in pts])
        kv = np.array([p[1] for p in pts])
        ot = np.array([p[0].timestamp() for p in orig])
        ov = np.array([p[1] for p in orig])
        recon = np.interp(ot, kt, kv)
        assert np.max(np.abs(recon - ov)) <= TOL + 1e-9
        # linear series compress hard; sine needs more points
        if k % 2 == 0:
            assert len(pts) <= 12
    # deterministic
    again = sorted(map(tuple, kept.collect()))
    assert again == sorted(
        (r["k"], r["t"], r["v"]) for r in kept.collect()
    )


def test_markov_attribution_zero_conversions_and_empty(spark):
    """Degenerate inputs (ADVICE round-5 item): zero conversions must give
    zero removal effects (not fabricated uniform credit), and an empty
    journey corpus returns an empty frame instead of raising."""
    from time_series_spark_spark.operators.analytics import (
        markov_attribution,
    )

    rows = [(["A"], False)] * 5 + [(["B", "A"], False)] * 5
    df = spark.createDataFrame(rows, "path array<string>, converted boolean")
    pdf = markov_attribution(df).set_index("channel")
    assert (pdf["removal_effect"] == 0.0).all()

    empty = spark.createDataFrame(
        [], "path array<string>, converted boolean"
    )
    out = markov_attribution(empty)
    assert len(out) == 0
    assert list(out.columns) == ["channel", "removal_effect", "attribution"]


def test_time_decay_attribution_matches_pandas_replay(spark):
    """C11: per-channel credit and attributed cents equal a pandas
    replay of the 7-day-lookback exp(-age/2d) model on sf0.001;
    per-purchase credits sum to 1, and a touch just before the
    purchase outweighs one 6 days earlier."""
    import math

    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    p = ev[ev["event_type"] == "purchase"]
    s = ev[ev["event_type"] != "purchase"]
    credit = {}
    cents_attr = {}
    n_touch = {}
    total_purchases_with_touches = 0
    for pr in p.itertuples():
        win = s[
            (s["user_id"] == pr.user_id)
            & (s["ts"] <= pr.ts)
            & (s["ts"] > pr.ts - pd.Timedelta(days=7))
        ]
        if not len(win):
            continue
        total_purchases_with_touches += 1
        age_days = (pr.ts - win["ts"]).dt.total_seconds() / 86400.0
        w = (-age_days / 2.0).map(math.exp)
        wn = w / w.sum()
        cents = round(pr.value * 100)
        for touch, cr in zip(win["event_type"], wn):
            credit[touch] = credit.get(touch, 0.0) + cr
            cents_attr[touch] = cents_attr.get(touch, 0.0) + cr * cents
            n_touch[touch] = n_touch.get(touch, 0) + 1

    rows = (
        REGISTRY["purchase_attribution_time_decay"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert {r["touch"] for r in rows} == set(credit)
    for r in rows:
        assert r["n_touches"] == n_touch[r["touch"]]
        assert math.isclose(
            r["total_credit"], round(credit[r["touch"]], 4), abs_tol=2e-4
        )
        assert math.isclose(
            r["attributed_cents"],
            round(cents_attr[r["touch"]], 2),
            rel_tol=1e-6, abs_tol=0.05,
        )
    # normalization: total credit across channels == purchases credited
    assert math.isclose(
        sum(r["total_credit"] for r in rows),
        total_purchases_with_touches,
        abs_tol=1e-2,
    )
    # recency dominance of the weight model itself
    assert math.exp(-0.01 / 2) > 10 * math.exp(-6.0 / 2)
