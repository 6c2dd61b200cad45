"""Property tests for operators/tsmining.py (M4, PAA/SAX, lead-lag
corr, DTW search, matrix profile). Oracle parity for the four
SQL-expressible queries is covered by tests/test_oracle.py; here we pin
the algorithmic guarantees that make the rows-only paths trustworthy:

- DTW: identity, symmetry, diagonal-admissibility (DTW <= Euclidean on
  equal-length inputs), band monotonicity, and LB_Keogh admissibility
  (LB <= banded DTW) — the exact properties the pruned top-k search
  rests on;
- dtw_topk == brute-force all-candidates top-k (prune exactness);
- MASS FFT distance profile == O(n^2 m) brute-force z-normalized
  profile (motif/discord indices and distances);
- lead-lag corr recovers a planted shift;
- M4 bucket invariants (min <= first/last <= max, counts partition).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_spark_spark.operators.analytics import event_order_key
from time_series_spark_spark.operators.tsmining import (
    _mass_distance_profile,
    _znorm,
    dtw_distance,
    dtw_topk,
    dtw_topk_bruteforce,
    lb_keogh,
    lead_lag_corr,
    m4_downsample,
    paa_sax,
    query_envelope,
    sax_words,
    series_vectors,
)

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------------------
# DTW core properties
# ---------------------------------------------------------------------------
def test_dtw_identity_and_symmetry():
    for _ in range(5):
        x = RNG.normal(size=30)
        y = RNG.normal(size=30)
        assert dtw_distance(x, x, band=5) == pytest.approx(0.0, abs=1e-12)
        assert dtw_distance(x, y, band=5) == pytest.approx(
            dtw_distance(y, x, band=5), rel=1e-12
        )


def test_dtw_leq_euclidean_and_band_monotone():
    """The diagonal path is always admissible => DTW <= Euclidean; and a
    wider band can only lower the optimum."""
    for _ in range(5):
        x = RNG.normal(size=40)
        y = RNG.normal(size=40)
        eu = float(np.sqrt(np.sum((x - y) ** 2)))
        full = dtw_distance(x, y, band=40)
        assert full <= eu + 1e-9
        prev = np.inf
        for band in (1, 3, 8, 40):
            d = dtw_distance(x, y, band)
            assert d <= prev + 1e-9
            prev = d


def test_lb_keogh_admissible():
    """LB_Keogh(c, env(q, band)) <= DTW_band(c, q) — the inequality that
    makes the pruned top-k exact."""
    for _ in range(20):
        n = 25
        band = 3
        q = _znorm(RNG.normal(size=n))
        c = _znorm(RNG.normal(size=n))
        lo, hi = query_envelope(q, band)
        assert lb_keogh(c, lo, hi) <= dtw_distance(c, q, band) + 1e-9


def test_envelope_contains_query():
    q = RNG.normal(size=50)
    lo, hi = query_envelope(q, 4)
    assert (lo <= q).all() and (q <= hi).all()


def test_dtw_batch_bit_identical_to_scalar():
    """dtw_distance_batch runs the same recurrence with the same
    association order as the scalar DP and min/max of floats is exact —
    results must be BIT-identical (the vectorized _local_topk relies on
    this to preserve byte-identical query output)."""
    from time_series_spark_spark.operators.tsmining import (
        dtw_distance_batch,
    )

    for n, band in ((30, 3), (25, 1), (40, 8), (7, 40)):
        q = _znorm(RNG.normal(size=n))
        X = np.stack(
            [_znorm(RNG.normal(size=n).cumsum()) for _ in range(17)]
        )
        batch = dtw_distance_batch(X, q, band)
        scalar = np.array(
            [dtw_distance(X[i], q, band) for i in range(len(X))]
        )
        assert (batch == scalar).all()


# ---------------------------------------------------------------------------
# dtw_topk == brute force
# ---------------------------------------------------------------------------
def _series_df(spark, n_series=40, n_points=25):
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for s in range(n_series):
        base = RNG.normal(size=n_points).cumsum()
        for i, v in enumerate(base):
            rows.append((s, t0 + dt.timedelta(days=i), float(v)))
    return spark.createDataFrame(rows, "sid long, d timestamp, v double")


def test_dtw_topk_matches_bruteforce(spark):
    df = _series_df(spark)
    vecs = series_vectors(df, "sid", "d", "v").persist()
    q = np.array(
        vecs.filter(F.col("sid") == 0).collect()[0]["vals"], dtype=np.float64
    )
    cands = vecs.filter(F.col("sid") != 0)
    fast = dtw_topk(cands, "sid", q, k=5, band_frac=0.2).collect()
    slow = dtw_topk_bruteforce(cands, "sid", q, k=5, band_frac=0.2).collect()
    vecs.unpersist()
    assert [(r["sid"], r["dtw"]) for r in fast] == [
        (r["sid"], r["dtw"]) for r in slow
    ]


def test_dtw_sparse_matches_dense(spark):
    """dtw_topk_sparse (long-form rows, numpy-side densify) must return
    exactly what dtw_topk returns on the dense vectors built with the
    SAME zero fill — including sparse series with leading/trailing and
    interior zero runs, and an all-zero candidate (sd = 0 degenerate)."""
    from time_series_spark_spark.operators.tsmining import dtw_topk_sparse

    n = 24
    rows = []
    rng = np.random.default_rng(11)
    dense = {}
    for s in range(30):
        v = np.zeros(n)
        if s != 7:  # series 7 stays all-zero (degenerate z-norm)
            keep = rng.choice(n, size=rng.integers(3, n), replace=False)
            v[keep] = np.round(rng.normal(size=len(keep)).cumsum(), 6)
        dense[s] = v
        rows += [
            (s, int(i), float(v[i])) for i in range(n) if v[i] != 0.0
        ]
        if not any(r[0] == s for r in rows):  # keep every key present
            rows.append((s, 0, 0.0))
    long_df = spark.createDataFrame(rows, "sid long, i int, v double")
    q = dense[0]
    cands_long = long_df.filter(F.col("sid") != 0)
    dense_rows = [(s, [float(x) for x in v]) for s, v in dense.items() if s != 0]
    cands_dense = spark.createDataFrame(
        dense_rows, "sid long, vals array<double>"
    )
    sparse = dtw_topk_sparse(
        cands_long, "sid", "i", "v", n, q, k=5, band_frac=0.2
    ).collect()
    dense_out = dtw_topk(cands_dense, "sid", q, k=5, band_frac=0.2).collect()
    assert [(r["sid"], r["dtw"]) for r in sparse] == [
        (r["sid"], r["dtw"]) for r in dense_out
    ]


def test_dtw_sparse_self_matches_sparse(tiny_batches):
    """dtw_topk_sparse_self (query series folded into the plan via
    per-partition replication, round 15) must return exactly what
    dtw_topk_sparse returns with the same query collected driver-side —
    including when the query key's rows sit among the candidates, when
    the per-pid query copies collide into one partition, and when the
    nearest candidate has a null key (one series, as in dtw_topk_sparse)
    and spans 7-row Arrow batches."""
    from time_series_spark_spark.operators.tsmining import (
        dtw_topk_sparse,
        dtw_topk_sparse_self,
    )

    spark = tiny_batches
    n = 24
    rows = []
    rng = np.random.default_rng(23)
    dense = {}
    for s in range(30):
        v = np.zeros(n)
        if s != 7:
            keep = rng.choice(n, size=rng.integers(3, n), replace=False)
            v[keep] = np.round(rng.normal(size=len(keep)).cumsum(), 6)
        dense[s] = v
        rows += [
            (s, int(i), float(v[i]), n) for i in range(n) if v[i] != 0.0
        ]
        if not any(r[0] == s for r in rows):
            rows.append((s, 0, 0.0, n))
    q = dense[0]
    # a null-key candidate with the query's shape: DTW 0, the nearest
    rows += [(None, i, float(2 * q[i] + 1), n) for i in range(n)]
    long_df = spark.createDataFrame(rows, "sid long, i int, v double, n int")
    sparse = dtw_topk_sparse(
        long_df.filter(~F.col("sid").eqNullSafe(0)).select("sid", "i", "v"),
        "sid", "i", "v", n, q, k=5, band_frac=0.2,
    ).collect()
    selfed = dtw_topk_sparse_self(
        long_df, "sid", "i", "v", "n", query_key=0, k=5, band_frac=0.2
    ).collect()
    assert sparse[0]["sid"] is None
    assert [(r["sid"], r["dtw"]) for r in selfed] == [
        (r["sid"], r["dtw"]) for r in sparse
    ]


# ---------------------------------------------------------------------------
# matrix profile: MASS == brute force
# ---------------------------------------------------------------------------
def _brute_profile(v: np.ndarray, m: int):
    n = len(v)
    w = n - m + 1
    excl = max(1, m // 2)
    subs = np.stack([_znorm_sub(v[i : i + m]) for i in range(w)])
    prof = np.full(w, np.inf)
    pidx = np.full(w, -1)
    for q in range(w):
        d = np.sqrt(np.sum((subs - subs[q]) ** 2, axis=1))
        d[max(0, q - excl) : q + excl + 1] = np.inf
        j = int(np.argmin(d))
        prof[q], pidx[q] = d[j], j
    return prof, pidx


def _znorm_sub(x: np.ndarray) -> np.ndarray:
    mu = x.mean()
    sd = x.std()  # population, matching the MASS mean/sigma arithmetic
    sd = sd if sd > 1e-6 else 1e-6
    return (x - mu) / sd


def test_mass_matches_bruteforce_profile():
    v = RNG.normal(size=120).cumsum()
    m = 12
    prof, pidx = _mass_distance_profile(v, m)
    bprof, bpidx = _brute_profile(v, m)
    assert np.allclose(prof, bprof, atol=1e-6)
    assert int(np.argmin(prof)) == int(np.argmin(bprof))
    assert int(np.argmax(prof)) == int(np.argmax(bprof))


def test_matrix_profile_finds_planted_motif(spark):
    """A repeated distinctive shape at two positions => motif windows
    land on (a shift of) the planted positions and motif_dist is far
    below discord_dist."""
    n = 200
    v = RNG.normal(size=n) * 0.1
    shape = np.sin(np.linspace(0, 4 * np.pi, 20)) * 5
    v[30:50] += shape
    v[140:160] += shape
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(hours=i), float(x)) for i, x in enumerate(v)
    ]
    df = spark.createDataFrame(rows, "k string, h timestamp, v double")
    from time_series_spark_spark.operators.tsmining import matrix_profile

    out = matrix_profile(df, ["k"], "h", "v", m=20).collect()
    assert len(out) == 1
    r = out[0]
    assert r["motif_dist"] < 0.5 * r["discord_dist"]
    assert abs(r["motif_idx"] - 30) <= 3 or abs(r["motif_idx"] - 140) <= 3
    pair = {r["motif_idx"], r["motif_nn_idx"]}
    assert any(abs(a - 30) <= 3 for a in pair) and any(
        abs(a - 140) <= 3 for a in pair
    )


# ---------------------------------------------------------------------------
# lead-lag corr recovers a planted shift
# ---------------------------------------------------------------------------
def test_lead_lag_recovers_planted_shift(spark):
    n = 200
    base = RNG.normal(size=n).cumsum()
    shift = 3
    a_rows = [(int(i), float(v)) for i, v in enumerate(base)]
    # b[t] = a[t - 3] + noise  =>  corr(a[t], b[t + lag]) peaks at lag=+3
    b_rows = [
        (int(i + shift), float(v + RNG.normal() * 0.01))
        for i, v in enumerate(base)
    ]
    a = spark.createDataFrame(a_rows, "bkt long, v double")
    b = spark.createDataFrame(b_rows, "bkt long, v double")
    out = lead_lag_corr(a, b, "bkt", "v", max_lag=5, lag_step_us=1).collect()
    best = max(out, key=lambda r: r["r"])
    assert best["lag"] == shift
    assert best["r"] > 0.999


# ---------------------------------------------------------------------------
# M4 invariants
# ---------------------------------------------------------------------------
def test_m4_bucket_invariants(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=float(i)), "a", float(np.sin(i / 7) * 10))
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = m4_downsample(
        df, "ts", "value", ["event_type"], event_order_key(), n_buckets=20
    ).collect()
    assert sum(r["n"] for r in out) == 500
    assert {r["bucket"] for r in out} == set(range(20))
    for r in out:
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]


# ---------------------------------------------------------------------------
# PAA / SAX
# ---------------------------------------------------------------------------
def test_paa_sax_segments_and_symbols(spark):
    t0 = dt.datetime(2024, 1, 1)
    # ramp series: first half low, second half high => word 'aaaa' + 'dddd'
    # after z-normalization of a steep two-level series
    vals = [0.0] * 40 + [100.0] * 40
    rows = [(i, t0 + dt.timedelta(minutes=i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    df = df.withColumn("k", F.lit("s"))
    per_seg = paa_sax(df, ["k"], "ts", "value", n_segments=8).collect()
    assert len(per_seg) == 8
    assert all(r["n_points"] == 10 for r in per_seg)
    word = sax_words(df, ["k"], "ts", "value", n_segments=8).collect()[0]
    assert word["sax"] == "aaaadddd"
    assert word["n_segments"] == 8


def test_paa_constant_series_maps_to_c(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(minutes=i), 7.5) for i in range(16)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    df = df.withColumn("k", F.lit("s"))
    out = paa_sax(df, ["k"], "ts", "value", n_segments=4).collect()
    assert all(r["symbol"] == "c" and r["paa"] == 0.0 for r in out)


# ---------------------------------------------------------------------------
# Kalman local-level smoother
# ---------------------------------------------------------------------------
def test_kalman_batch_bit_identical_to_series_loop():
    """kalman_smooth_batch (series-axis vectorization, round 15) must be
    BIT-identical to the sequential kalman_smooth_series on ragged
    batches — including length-1 series and a padded batch whose T_max
    exceeds most series' lengths."""
    from time_series_spark_spark.operators.tsmining import (
        kalman_smooth_batch,
        kalman_smooth_series,
    )

    rng = np.random.default_rng(5)
    lens = np.array([1, 2, 7, 31, 31, 13, 1, 24])
    series = [rng.normal(size=n).cumsum() for n in lens]
    T = int(lens.max())
    Y = np.zeros((len(lens), T))
    for j, s in enumerate(series):
        Y[j, : len(s)] = s
    for q, r in ((1.0, 10.0), (0.001, 10.0), (100.0, 0.01)):
        lv, lvv = kalman_smooth_batch(Y, lens, q, r)
        for j, s in enumerate(series):
            ref_lv, ref_lvv = kalman_smooth_series(s, q, r)
            assert lv[j, : len(s)].tobytes() == ref_lv.tobytes()
            assert lvv[j, : len(s)].tobytes() == ref_lvv.tobytes()


def test_kalman_smoother_equals_map_solve():
    """The RTS-smoothed mean of the local-level model is the MAP state
    sequence, i.e. the solution of the tridiagonal system
    (I/r + L'L/q) x = y/r with L the first-difference operator and a
    diffuse prior on x_0 — solve it densely and compare."""
    from time_series_spark_spark.operators.tsmining import kalman_smooth_series

    rng = np.random.default_rng(3)
    n, q, r = 80, 0.7, 4.0
    y = rng.normal(size=n).cumsum() + rng.normal(0, 2, n)
    level, level_var = kalman_smooth_series(y, q, r)
    A = np.zeros((n, n))
    np.fill_diagonal(A, 1.0 / r)
    for t in range(1, n):
        A[t, t] += 1.0 / q
        A[t - 1, t - 1] += 1.0 / q
        A[t, t - 1] -= 1.0 / q
        A[t - 1, t] -= 1.0 / q
    # diffuse prior on x_0 contributes 1/(1e7*r) — include for exactness
    A[0, 0] += 1.0 / (1e7 * r)
    x_map = np.linalg.solve(A, y / r)
    assert np.allclose(level, x_map, atol=1e-6)
    # posterior variance of the MAP Gaussian = diag(A^-1)
    assert np.allclose(level_var, np.diag(np.linalg.inv(A)), rtol=1e-6)


def test_kalman_constant_series_and_noise_tradeoff():
    from time_series_spark_spark.operators.tsmining import kalman_smooth_series

    y = np.full(50, 3.25)
    level, _ = kalman_smooth_series(y, 1.0, 10.0)
    assert np.allclose(level, 3.25, atol=1e-9)
    rng = np.random.default_rng(5)
    noisy = 10 + rng.normal(0, 1, 300)
    stiff, _ = kalman_smooth_series(noisy, 0.001, 10.0)  # trust the model
    loose, _ = kalman_smooth_series(noisy, 100.0, 0.01)  # trust the data
    assert np.var(stiff) < 0.05 * np.var(noisy)
    assert np.allclose(loose, noisy, atol=0.05)


def test_kalman_spark_preserves_rows(spark):
    import datetime as dt

    from time_series_spark_spark.operators.tsmining import kalman_smooth

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(days=i), float(u * 10 + np.sin(i)))
        for u in range(3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "user_id long, d timestamp, v double")
    out = kalman_smooth(df, ["user_id"], "d", "v").collect()
    assert len(out) == 90
    assert all(r["level_var"] > 0 for r in out)


# ---------------------------------------------------------------------------
# Kleinberg bursts
# ---------------------------------------------------------------------------
def test_kleinberg_detects_planted_burst():
    from time_series_spark_spark.operators.tsmining import kleinberg_bursts_series

    rng = np.random.default_rng(11)
    # Poisson background at 1/100s, dense burst of 40 events at 1/2s
    base = np.cumsum(rng.exponential(100.0, 200))
    burst = base[100] + np.cumsum(rng.exponential(2.0, 40))
    t = np.sort(np.concatenate([base, burst])) * 1e6
    bursts = kleinberg_bursts_series(t.astype(np.int64), s=3.0, gamma=1.0)
    assert bursts, "planted burst not found"
    # the longest burst must cover most of the planted window
    i, j, cnt = max(bursts, key=lambda b: b[2])
    assert cnt >= 30
    lo, hi = t[i], t[j]
    assert lo >= base[98] * 1e6 and hi <= (burst[-1] + 300) * 1e6


def test_kleinberg_quiet_on_homogeneous_stream():
    from time_series_spark_spark.operators.tsmining import kleinberg_bursts_series

    rng = np.random.default_rng(12)
    t = (np.cumsum(rng.exponential(50.0, 400)) * 1e6).astype(np.int64)
    bursts = kleinberg_bursts_series(t, s=3.0, gamma=1.0)
    # a homogeneous Poisson stream yields at most tiny spurious runs
    assert sum(c for _, _, c in bursts) < 40


def test_kleinberg_spark_path(spark):
    import datetime as dt

    from time_series_spark_spark.operators.tsmining import kleinberg_bursts

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(60):  # hourly background
        rows.append(("k", t0 + dt.timedelta(hours=i)))
    for i in range(30):  # minute-spaced burst inside hour 30
        rows.append(("k", t0 + dt.timedelta(hours=30, minutes=i + 1)))
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = kleinberg_bursts(df, ["key"], "ts", s=3.0).collect()
    assert out
    big = max(out, key=lambda r: r["n_events"])
    assert big["n_events"] >= 25
    assert big["burst_start"] >= t0 + dt.timedelta(hours=29)
    assert big["burst_end"] <= t0 + dt.timedelta(hours=32)


# ---------------------------------------------------------------------------
# series-shape clustering
# ---------------------------------------------------------------------------
def test_cluster_series_shapes_separates_planted_shapes(spark):
    """Rising ramps vs one-period sines (different scales/offsets):
    shape clustering must put each family in its own cluster despite
    scale differences (PAA z-normalization)."""
    import datetime as dt

    from time_series_spark_spark.operators.tsmining import cluster_series_shapes

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    rng = np.random.default_rng(21)
    for s in range(20):
        scale = float(rng.uniform(1, 50))
        offset = float(rng.uniform(-100, 100))
        for i in range(32):
            if s < 10:
                v = offset + scale * i  # ramp
            else:
                v = offset + scale * np.sin(2 * np.pi * i / 32)  # sine
            rows.append((s, t0 + dt.timedelta(hours=i), float(v)))
    df = spark.createDataFrame(rows, "sid long, ts timestamp, v double")
    out = {
        r["sid"]: r["cluster"]
        for r in cluster_series_shapes(
            df, ["sid"], "ts", "v", n_segments=8, n_clusters=2
        ).collect()
    }
    ramp_clusters = {out[s] for s in range(10)}
    sine_clusters = {out[s] for s in range(10, 20)}
    assert len(ramp_clusters) == 1 and len(sine_clusters) == 1
    assert ramp_clusters != sine_clusters


# ---------------------------------------------------------------------------
# dominant-period estimation
# ---------------------------------------------------------------------------
def test_estimate_period_recovers_planted_cycles():
    from time_series_spark_spark.operators.tsmining import estimate_period_series

    rng = np.random.default_rng(31)
    for true_p in (7, 12, 30):
        n = 16 * true_p
        t = np.arange(n)
        v = (
            5 * np.sin(2 * np.pi * t / true_p)
            + 0.3 * t  # trend must not mask the cycle (detrended inside)
            + rng.normal(0, 0.5, n)
        )
        period, frac = estimate_period_series(v)
        assert abs(period - true_p) <= true_p * 0.1, (true_p, period)
        assert frac > 0.3


def test_dominant_periods_spark_path(spark):
    import datetime as dt

    from time_series_spark_spark.operators.tsmining import dominant_periods

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for s, p in (("weekly", 7), ("monthly", 28)):
        for i in range(112):
            rows.append(
                (s, t0 + dt.timedelta(days=i),
                 float(np.sin(2 * np.pi * i / p) * 10))
            )
    df = spark.createDataFrame(rows, "key string, d timestamp, v double")
    out = {r["key"]: r for r in dominant_periods(df, ["key"], "d", "v").collect()}
    assert abs(out["weekly"]["period"] - 7) < 0.5
    assert abs(out["monthly"]["period"] - 28) < 2.0


def test_hurst_separates_noise_walk_antipersistent(spark):
    """R/S Hurst: planted iid noise ≈ 0.5, integrated random walk → high
    (persistent), first-differenced noise → low (anti-persistent); the
    estimator must order the three regimes correctly with sane bounds."""
    import numpy as np
    import pandas as pd

    from time_series_spark_spark.operators.tsmining import hurst_rs

    rng = np.random.default_rng(11)
    n = 512
    frames = []
    for sid, series in [
        (0, rng.normal(size=n)),                      # noise
        (1, np.cumsum(rng.normal(size=n))),           # persistent walk
        (2, np.diff(rng.normal(size=n + 1))),         # anti-persistent
    ]:
        frames.append(
            pd.DataFrame(
                {"sid": sid, "t": np.arange(n), "v": series.astype(float)}
            )
        )
    df = spark.createDataFrame(pd.concat(frames))
    out = {
        r["sid"]: r["hurst"]
        for r in hurst_rs(df, ["sid"], "t", "v").collect()
    }
    assert 0.35 < out[0] < 0.7, out
    assert out[1] > 0.85, out
    assert out[2] < 0.45, out
    assert out[2] < out[0] < out[1]


def test_hurst_sparse_scatter_matches_dense(spark):
    """hurst_rs_sparse (non-zero cells + scatter) must equal hurst_rs on
    the materialized dense zero-filled frame — including zero runs at the
    head/tail of the grid, a series below min_len (skipped by both), and
    an all-zero-but-one series (S=0 blocks → too few scales → dropped)."""
    import numpy as np
    import pandas as pd

    from time_series_spark_spark.operators.tsmining import (
        hurst_rs,
        hurst_rs_sparse,
    )

    rng = np.random.default_rng(7)
    n = 256
    dense_frames, sparse_frames = [], []
    for sid, series in [
        (0, rng.normal(size=n) * (rng.random(n) < 0.1)),  # 90% zeros
        (1, np.cumsum(rng.normal(size=n)) * np.r_[np.zeros(50), np.ones(n - 50)]),
        (2, np.r_[np.zeros(200), [5.0], np.zeros(n - 201)]),  # one spike
    ]:
        series = series.astype(float)
        dense_frames.append(
            pd.DataFrame({"sid": sid, "t": np.arange(n), "v": series})
        )
        nz = np.nonzero(series)[0]
        sparse_frames.append(
            pd.DataFrame(
                {"sid": sid, "idx": nz, "n": n, "v": series[nz]}
            )
        )
    # a too-short series: dense path skips it via min_len, sparse must too
    dense_frames.append(
        pd.DataFrame({"sid": 3, "t": np.arange(8), "v": np.ones(8)})
    )
    sparse_frames.append(
        pd.DataFrame({"sid": 3, "idx": np.arange(8), "n": 8, "v": np.ones(8)})
    )
    dense = spark.createDataFrame(pd.concat(dense_frames, ignore_index=True))
    sparse = spark.createDataFrame(pd.concat(sparse_frames, ignore_index=True))
    want = (
        hurst_rs(dense, ["sid"], "t", "v").orderBy("sid").toPandas()
    )
    got = (
        hurst_rs_sparse(sparse, ["sid"], "idx", "n", "v")
        .orderBy("sid")
        .toPandas()
    )
    pd.testing.assert_frame_equal(want, got)



def _ragged(series):
    """Sparse packed-batch encoding of dense series: (idx, v, starts,
    ends, n) with only the non-zero cells, as hurst_rs_ragged takes."""
    idx, v, lens = [], [], []
    for x in series:
        nz = np.flatnonzero(x)
        idx.append(nz)
        v.append(x[nz])
        lens.append(len(nz))
    ends = np.cumsum(lens)
    return (
        np.concatenate(idx).astype(np.int64),
        np.concatenate(v).astype(np.float64),
        ends - np.asarray(lens),
        ends,
        np.array([len(x) for x in series], dtype=np.int64),
    )


def _assert_hurst_matches_reference(series, min_len=32):
    from time_series_spark_spark.operators.tsmining import (
        _hurst_rs_one,
        hurst_rs_ragged,
    )

    h, r2, n_scales = hurst_rs_ragged(*_ragged(series), min_len)
    kept = 0
    for j, x in enumerate(series):
        want = (
            _hurst_rs_one(x) if len(x) >= min_len
            else (float("nan"), float("nan"), 0)
        )
        # the reference path drops series below min_len or with a
        # non-finite fit; the batch path must drop exactly the same
        assert np.isfinite(h[j]) == np.isfinite(want[0]), j
        if not np.isfinite(want[0]):
            continue
        kept += 1
        assert n_scales[j] == want[2], j
        assert abs(h[j] - want[0]) <= 1e-12, (j, h[j], want[0])
        assert abs(r2[j] - want[1]) <= 1e-12, (j, r2[j], want[1])
    return kept


def test_hurst_rs_batch_matches_per_series_reference_on_ragged_batch():
    """hurst_rs_ragged/hurst_rs_batch vs the per-series _hurst_rs_one on
    a ragged batch: lengths below, at and above min_len (one length per
    series, so every length group is its own batch), a sparse batch with
    two grid lengths, a constant series and a series with one valid R/S
    scale (both dropped by both paths)."""
    rng = np.random.default_rng(3)
    series = [rng.normal(size=n) for n in (8, 31, 32, 33, 64, 100, 257)]
    series += [np.cumsum(rng.normal(size=300)) for _ in range(3)]
    # sparse rows: two grid lengths, ~85% zeros, some all-zero blocks
    for n in (720, 720, 720, 500, 500):
        series.append(rng.normal(size=n) * (rng.random(n) < 0.15))
    series.append(np.full(128, 3.0))  # constant: no S > 0 block anywhere
    # n = 48 → scales 8, 16; every 8-block constant, one 16-block not
    series.append(np.r_[np.zeros(40), np.ones(8)])
    series.append(np.zeros(64))  # all zeros: no cells in the batch at all
    kept = _assert_hurst_matches_reference(series)
    assert kept == len(series) - 5  # 8, 31, constant, one-scale, zeros


def test_hurst_rs_batch_chunks_beyond_the_dense_block_cap():
    """A batch of one length whose dense block exceeds
    HURST_CHUNK_DOUBLES is split into chunks with the same results."""
    from time_series_spark_spark.operators.tsmining import HURST_CHUNK_DOUBLES

    n = 4096
    k = HURST_CHUNK_DOUBLES // n + 3
    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, n)) * (rng.random((8, n)) < 0.3)
    series = [base[j % 8] * (1 + j) for j in range(k)]
    assert _assert_hurst_matches_reference(series) == k


def test_hurst_rs_batch_single_length_shapes():
    """hurst_rs_batch on a (k, n) block equals the reference row by row,
    including n too short for any scale (all NaN, 0 scales)."""
    from time_series_spark_spark.operators.tsmining import (
        _hurst_rs_one,
        hurst_rs_batch,
    )

    rng = np.random.default_rng(9)
    for n in (10, 16, 17, 40, 513):
        V = rng.normal(size=(6, n))
        V[2] = 1.0
        h, r2, n_scales = hurst_rs_batch(V)
        for j in range(6):
            wh, wr2, wn = _hurst_rs_one(V[j])
            assert n_scales[j] == wn
            if np.isfinite(wh):
                assert abs(h[j] - wh) <= 1e-12 and abs(r2[j] - wr2) <= 1e-12
            else:
                assert np.isnan(h[j]) and np.isnan(r2[j])

def test_silhouette_report_laws_and_planted_two_clusters(spark):
    """N5b: silhouette ∈ [-1,1] everywhere; on a corpus of two planted
    shape families (ramps vs sines) the k=2 silhouette must be high and
    the best k must not assign an empty cluster."""
    import numpy as np
    import pandas as pd

    from time_series_spark_spark.operators.tsmining import (
        cluster_silhouette_report,
    )

    rng = np.random.default_rng(5)
    n = 64
    frames = []
    for sid in range(40):
        t = np.arange(n, dtype=float)
        base = t if sid % 2 == 0 else np.sin(t / 3.0) * 10
        v = base + rng.normal(0, 0.1, n)
        frames.append(pd.DataFrame({"sid": sid, "t": t, "v": v}))
    df = spark.createDataFrame(pd.concat(frames))
    rep = {
        r["k"]: r
        for r in cluster_silhouette_report(
            df, ["sid"], "t", "v", ks=(2, 4)
        ).collect()
    }
    for r in rep.values():
        assert -1.0 <= r["silhouette"] <= 1.0
        assert r["n_series"] == 40
        assert r["min_cluster_size"] >= 1
    assert rep[2]["silhouette"] > 0.7, rep
    assert rep[2]["silhouette"] >= rep[4]["silhouette"] - 0.05


def test_pacf_matches_yule_walker_solve(spark):
    """F47b: the Durbin-Levinson PACF equals an independent Yule-Walker
    computation (Toeplitz solve per lag with numpy) on the same biased
    autocovariances of the daily series."""
    import numpy as np
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["k"]: r["pacf"]
        for r in REGISTRY["events_pacf_daily_total"].fn(spark, sf).collect()
    }
    ev = pd.read_parquet(f"{sf}/events.parquet")
    y = (
        (ev["value"] * 100)
        .round()
        .astype("int64")
        .groupby(ev["ts"].dt.floor("d"))
        .sum()
        .sort_index()
        .to_numpy()
        .astype(float)
    )
    n = len(y)
    yd = y - y.mean()
    rho = np.array(
        [1.0]
        + [(yd[: n - k] * yd[k:]).sum() / n / ((yd * yd).sum() / n)
           for k in range(1, 8)]
    )
    for k in range(1, 8):
        R = np.array([[rho[abs(i - j)] for j in range(k)] for i in range(k)])
        phi = np.linalg.solve(R, rho[1 : k + 1])
        assert abs(got[k] - round(float(phi[-1]), 6)) < 1e-9, k


def test_lomb_scargle_recovers_planted_irregular_sine(spark):
    """F135: a 24h sine sampled at IRREGULAR (seeded-random) times is
    recovered exactly from the fixed period grid with high normalized
    power; white noise never shows such power; the registered per-user
    query runs and respects its min-points floor."""
    import numpy as np

    from time_series_spark_spark.operators.tsmining import (
        _lomb_scargle_one,
    )
    from time_series_spark_spark.queries import REGISTRY

    rng = np.random.default_rng(42)
    t = np.sort(rng.uniform(0, 14 * 86400.0, 300))  # 2 irregular weeks
    y = 100.0 * np.sin(2 * np.pi * t / 86400.0) + rng.normal(0, 5, 300)
    period, power = _lomb_scargle_one(t, y)
    assert period == 24.0
    assert power > 50.0  # P ~ Exp(1) under noise; a real tone is huge

    noise = rng.normal(0, 1, 300)
    _, p_noise = _lomb_scargle_one(t, noise)
    assert p_noise < 15.0  # max of 8 ~Exp(1) draws stays small

    weekly = 10.0 * np.sin(2 * np.pi * t / (7 * 86400.0))
    pw, _ = _lomb_scargle_one(t, weekly + rng.normal(0, 0.5, 300))
    assert pw == 168.0

    rows = (
        REGISTRY["events_lomb_scargle_user"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert all(r["n_points"] >= 16 for r in rows)
    assert all(r["ls_power"] >= 0.0 for r in rows)
    assert all(r["best_period_hours"] in
               (6.0, 12.0, 24.0, 48.0, 84.0, 168.0, 336.0, 672.0)
               for r in rows)


def test_pelt_equals_unpruned_dp_and_recovers_planted_shifts(spark):
    """F139: PELT's changepoint set EQUALS the exact unpruned O(n^2) DP
    on the real sf0.001 per-type daily series AND on planted series;
    planted two-shift means are recovered at the right locations; a
    constant series yields a single segment."""
    import numpy as np
    import pandas as pd

    from time_series_spark_spark.operators.tsmining import _pelt_one
    from time_series_spark_spark.queries import REGISTRY

    def dp_exact(x, beta):
        n = len(x)
        cs = np.concatenate([[0.0], np.cumsum(x)])
        css = np.concatenate([[0.0], np.cumsum(x * x)])

        def cost(a, b):
            s = cs[b] - cs[a]
            return (css[b] - css[a]) - s * s / (b - a)

        f = np.full(n + 1, np.inf)
        f[0] = -beta
        last = np.zeros(n + 1, dtype=int)
        for t in range(1, n + 1):
            for s in range(t):
                v = f[s] + cost(s, t) + beta
                if v < f[t]:
                    f[t], last[t] = v, s
        cps, t = [], n
        while t > 0:
            s = last[t]
            if s > 0:
                cps.append(s)
            t = s
        return sorted(cps)

    def beta_of(x):
        d = np.diff(x)
        return 2.0 * max(float(d @ d) / (2.0 * max(len(d), 1)), 1e-12) \
            * np.log(len(x))

    rng = np.random.default_rng(21)
    planted = np.concatenate(
        [rng.normal(100, 3, 40), rng.normal(160, 3, 30),
         rng.normal(80, 3, 30)]
    )
    got = _pelt_one(planted)
    assert got == dp_exact(planted, beta_of(planted))
    assert len(got) == 2
    assert abs(got[0] - 40) <= 2 and abs(got[1] - 70) <= 2

    assert _pelt_one(np.full(50, 7.0)) == []

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for t, g in ev.groupby("event_type"):
        daily = (
            g.groupby(g["ts"].dt.floor("D"))["cents"].sum().sort_index()
        )
        x = daily.to_numpy(dtype=float)
        if len(x) >= 4:
            assert _pelt_one(x) == dp_exact(x, beta_of(x))

    rows = (
        REGISTRY["events_pelt_changepoints"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    # segments tile each series: lengths sum to the series length
    per_type = {}
    for r in rows:
        per_type.setdefault(r["event_type"], []).append(r)
    for t, segs in per_type.items():
        days = ev[ev["event_type"] == t]["ts"].dt.floor("D").nunique()
        assert sum(s["n_points"] for s in segs) == days
        assert [s["seg_idx"] for s in
                sorted(segs, key=lambda s: s["start_ts"])] == list(
            range(len(segs))
        )
