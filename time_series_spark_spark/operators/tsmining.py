"""Time-series mining operators: M4 downsampling, PAA/SAX symbolic
approximation, lead-lag cross-correlation, DTW similarity search with
LB_Keogh pruning, and matrix-profile motif/discord discovery.

The reference directory is empty (SURVEY.md §0), so semantics follow the
published formulations: M4 per-pixel min/max/first/last aggregation
(Jugel et al., "M4: A Visualization-Oriented Time Series Data
Aggregation", VLDB 2014); PAA/SAX Gaussian-breakpoint symbolization
(Lin/Keogh et al., "A Symbolic Representation of Time Series", DMKD
2003); LB_Keogh envelope lower bound (Keogh & Ratanamahatana, "Exact
indexing of dynamic time warping", KAIS 2005); matrix profile / MASS
(Yeh et al., "Matrix Profile I", ICDM 2016; Mueen's MASS). These match
the paper corpus the driver retrieved (PAPERS.md: distributed top-k
trajectory similarity; time-series similarity search for streaming
data).

Scale notes (100 TB posture):
- M4 / PAA / SAX / lead-lag corr are single hash-shuffle declarative
  plans (groupBy + window over the same key partitioning) — entirely
  JVM-side, whole-stage codegen, no UDFs;
- the M4 global time-range is a 1-row broadcast scalar join, never a
  driver collect in the row path;
- DTW search is the published two-stage exact scheme: an O(n) LB_Keogh
  envelope pass over EVERY candidate (packed Arrow batches), exact
  O(n·band) DTW only for the k best-by-LB plus the provably-needed
  remainder (LB ≤ τ). Candidate-bound property pinned by tests:
  exact-DTW invocations ≤ k + |{LB ≤ τ}|, and the result equals the
  brute-force top-k exactly (LB_Keogh admissibility);
- the matrix profile is per-series O(n² / log) work parallelized across
  series (packed grouped map), the standard distributed MP shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df
from pyspark.sql.window import Window

from time_series_spark_spark.operators.packed import (
    key_schema,
    key_slices,
    packed_grouped_map,
    per_series,
    shuffle_parallelism,
)

# ---------------------------------------------------------------------------
# M4 downsampling
# ---------------------------------------------------------------------------


def m4_downsample(
    df: DataFrame,
    ts: str,
    value: str,
    keys: list[str],
    order_key,
    n_buckets: int = 100,
) -> DataFrame:
    """M4 per-pixel aggregation: split the GLOBAL time range into
    ``n_buckets`` equal-width buckets and keep, per (keys, bucket), the
    min, max, first and last value — the four points that make a
    pixel-width line rendering exact (Jugel et al., VLDB 2014). The
    global [t_lo, t_hi] is a 1-row aggregate broadcast back onto the
    rows; bucket math is integer-µs so both engines agree bit-for-bit.

    ``order_key``: a deterministic total-order Column (padded-string
    (epoch_us, id) composite — see ``analytics.event_order_key``) used
    for first/last tie-breaks.
    """
    us = F.unix_micros(F.col(ts))
    span = df.agg(
        F.min(us).alias("_t_lo"), F.max(us).alias("_t_hi")
    )
    # integer floor-division (DIV) keeps bucket assignment exact in both
    # engines — a double-divide + floor can flip at bucket boundaries
    bucket = F.expr(
        f"CAST(LEAST({n_buckets - 1}, "
        f"((_us - _t_lo) * {n_buckets}) DIV (_t_hi - _t_lo + 1)) AS INT)"
    )
    return (
        df.withColumn("_us", us)
        .crossJoin(F.broadcast(span))
        .withColumn("bucket", bucket)
        .withColumn("_ok", order_key)
        .groupBy(*keys, "bucket")
        .agg(
            F.min(value).alias("v_min"),
            F.max(value).alias("v_max"),
            F.min_by(value, F.col("_ok")).alias("v_first"),
            F.max_by(value, F.col("_ok")).alias("v_last"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# PAA + SAX
# ---------------------------------------------------------------------------

# Gaussian N(0,1) quartile breakpoints for alphabet size 4 (Lin et al. 2003,
# Table 3). Symbols a<b<c<d from low to high.
SAX_BREAKPOINTS_4 = (-0.6745, 0.0, 0.6745)


def paa_sax(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    n_segments: int = 8,
) -> DataFrame:
    """Piecewise Aggregate Approximation + SAX symbolization per series.

    Each series (one key combination, ordered by ``ts``) is z-normalized
    (population mean / sample stddev over the series), split into
    ``n_segments`` equal-count segments by row index (``floor(rk * M /
    n)`` — the standard PAA frame assignment), the per-segment mean
    taken, and each mean mapped to a 4-letter alphabet via the Gaussian
    quartile breakpoints. Output: one row per (keys, segment) with the
    PAA value and its SAX symbol.

    Entirely window + hash aggregation — one shuffle on ``keys``, no
    Python. Constant-valued series (stddev 0 or single point) z-map to
    0 → symbol 'c' deterministically in both engines.
    """
    wk = Window.partitionBy(*keys)
    wo = wk.orderBy(ts)
    z = F.when(
        F.stddev_samp(value).over(wk).isNull()
        | (F.stddev_samp(value).over(wk) == 0),
        F.lit(0.0),
    ).otherwise(
        (F.col(value) - F.avg(value).over(wk)) / F.stddev_samp(value).over(wk)
    )
    lo, mid, hi = SAX_BREAKPOINTS_4
    seg = F.floor(
        (F.row_number().over(wo) - 1) * F.lit(n_segments) / F.count(F.lit(1)).over(wk)
    ).cast("int")
    paa = (
        df.withColumn("_z", z)
        .withColumn("seg", seg)
        .groupBy(*keys, "seg")
        .agg(F.avg("_z").alias("paa"), F.count(F.lit(1)).alias("n_points"))
    )
    sym = (
        F.when(F.col("paa") < lo, "a")
        .when(F.col("paa") < mid, "b")
        .when(F.col("paa") < hi, "c")
        .otherwise("d")
    )
    return paa.withColumn("symbol", sym)


def sax_words(
    df: DataFrame, keys: list[str], ts: str, value: str, n_segments: int = 8
) -> DataFrame:
    """One SAX word per series: the ordered concatenation of
    :func:`paa_sax` symbols — the indexable unit for SAX-based motif /
    similarity grouping (identical words ⇒ PAA distance bounded by the
    per-symbol breakpoint span)."""
    per_seg = paa_sax(df, keys, ts, value, n_segments)
    return (
        per_seg.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("seg", "symbol"))).alias("_w"))
        .select(
            *keys,
            F.concat_ws("", F.expr("transform(_w, s -> s.symbol)")).alias("sax"),
            F.size("_w").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation
# ---------------------------------------------------------------------------


def lead_lag_corr(
    a: DataFrame,
    b: DataFrame,
    bucket_us: str,
    value: str,
    max_lag: int,
    lag_step_us: int,
) -> DataFrame:
    """Pearson correlation between two regular series at every integer
    lag in [-max_lag, +max_lag]: corr(a[t], b[t + lag·step]). Positive
    lag ⇒ b LAGS a (a leads). Both inputs: (bucket_us, value) regular
    aggregated series. The lag fan-out is an explode over a constant
    sequence (7–21 rows per input row), then ONE equi-join on the
    shifted bucket — no per-lag job, no driver loop.
    """
    lags = F.explode(
        F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ).alias("lag")
    av = a.select(
        F.col(bucket_us).alias("_abkt"), F.col(value).alias("_av")
    ).select("*", lags)
    bv = b.select(F.col(bucket_us).alias("_bbkt"), F.col(value).alias("_bv"))
    joined = av.join(
        bv,
        av["_abkt"] + av["lag"] * F.lit(lag_step_us) == bv["_bbkt"],
    )
    return joined.groupBy("lag").agg(
        F.corr("_av", "_bv").alias("r"),
        F.count(F.lit(1)).alias("n_overlap"),
    )


# ---------------------------------------------------------------------------
# DTW similarity search (LB_Keogh-pruned, exact)
# ---------------------------------------------------------------------------


def _znorm(x: np.ndarray) -> np.ndarray:
    s = x.std(ddof=1) if len(x) > 1 else 0.0
    return (x - x.mean()) / s if s > 0 else np.zeros_like(x, dtype=np.float64)


def dtw_distance(x: np.ndarray, y: np.ndarray, band: int) -> float:
    """Classic DTW dynamic program with a Sakoe-Chiba band of half-width
    ``band`` (row i visits columns [i-band, i+band]); squared ground
    cost, returns the square root. On equal-length inputs DTW ≤
    Euclidean (the diagonal path is always admissible) — pinned by
    tests. O(n·band) time, O(n) memory."""
    n, m = len(x), len(y)
    band = max(band, abs(n - m))  # feasibility
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(m + 1, np.inf)
        j_lo, j_hi = max(1, i - band), min(m, i + band)
        for j in range(j_lo, j_hi + 1):
            cost = (x[i - 1] - y[j - 1]) ** 2
            cur[j] = cost + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return float(np.sqrt(prev[m]))


def dtw_distance_batch(X: np.ndarray, q: np.ndarray, band: int) -> np.ndarray:
    """Banded DTW of MANY equal-length candidates against one query in one
    vectorized dynamic program: the recurrence runs cell-by-cell exactly as
    :func:`dtw_distance` (same cost expression, same left-associated
    ``min(prev[j], cur[j-1], prev[j-1])``) but each cell update is one numpy
    op over the whole candidate axis, so the Python interpreter executes
    O(n·band) steps for the BATCH instead of per candidate (guide §4.2 —
    measured ~70× less per-candidate overhead at n=30; min/max of floats is
    exact, so results are bit-identical to the scalar DP, pinned by test).

    ``X``: (m, n) candidate rows; ``q``: (n,). Returns the (m,) distances.
    """
    mc, n = X.shape
    assert len(q) == n
    prev = np.full((mc, n + 1), np.inf)
    prev[:, 0] = 0.0
    for i in range(1, n + 1):
        cur = np.full((mc, n + 1), np.inf)
        j_lo, j_hi = max(1, i - band), min(n, i + band)
        xi = X[:, i - 1]
        for j in range(j_lo, j_hi + 1):
            cost = (xi - q[j - 1]) ** 2
            cur[:, j] = cost + np.minimum(
                np.minimum(prev[:, j], cur[:, j - 1]), prev[:, j - 1]
            )
        prev = cur
    return np.sqrt(prev[:, n])


def lb_keogh(candidate: np.ndarray, q_lo: np.ndarray, q_hi: np.ndarray) -> float:
    """LB_Keogh lower bound: distance from the candidate to the query's
    band envelope [q_lo, q_hi] (Keogh & Ratanamahatana 2005). Requires
    len(candidate) == len(envelope); admissible: LB ≤ DTW for the same
    band. Vectorized O(n)."""
    c = candidate
    over = np.clip(c - q_hi, 0.0, None)
    under = np.clip(q_lo - c, 0.0, None)
    return float(np.sqrt(np.sum(over**2) + np.sum(under**2)))


def query_envelope(q: np.ndarray, band: int) -> tuple[np.ndarray, np.ndarray]:
    """Sliding min/max envelope of the query over ±band (the LB_Keogh
    envelope)."""
    n = len(q)
    lo = np.empty(n)
    hi = np.empty(n)
    for i in range(n):
        w = q[max(0, i - band) : min(n, i + band + 1)]
        lo[i] = w.min()
        hi[i] = w.max()
    return lo, hi


def series_vectors(
    df: DataFrame, key: str, ts: str, value: str
) -> DataFrame:
    """Collapse (key, ts, value) rows into one array-per-series row
    ``(key, vals: array<double>)`` ordered by ``ts`` — JVM-side
    (array_sort over collected structs), one shuffle on ``key``."""
    return (
        df.groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(ts).alias("t"), F.col(value).alias("v")))
            ).alias("_tv")
        )
        .select(
            F.col(key),
            F.expr("transform(_tv, s -> CAST(s.v AS DOUBLE))").alias("vals"),
        )
    )


def _topk_batch_update(
    top: list,
    M: np.ndarray,
    kk: np.ndarray,
    q: np.ndarray,
    q_lo: np.ndarray,
    q_hi: np.ndarray,
    band: int,
    k: int,
) -> list:
    """One vectorized candidate-batch pass of the exact top-k DTW search
    (shared by :func:`dtw_topk` and :func:`dtw_topk_sparse`): z-normalize
    the (m, n) candidate block, LB_Keogh every row, exact-DTW the k
    best-by-LB plus every candidate whose LB does not strictly exceed the
    running k-th best (LB ≤ DTW, ties kept — admissible), and fold into
    the running ``top`` list of (dtw, key) pairs. Returns the new top."""
    nq = M.shape[1]
    mu = M.mean(axis=1)
    sd = M.std(axis=1, ddof=1) if nq > 1 else np.zeros(len(M))
    safe = np.where(sd > 0, sd, 1.0)[:, None]
    Z = np.where((sd > 0)[:, None], (M - mu[:, None]) / safe, 0.0)
    over = np.clip(Z - q_hi[None, :], 0.0, None)
    under = np.clip(q_lo[None, :] - Z, 0.0, None)
    lbs = np.sqrt((over**2).sum(axis=1) + (under**2).sum(axis=1))
    order = np.argsort(lbs, kind="stable")
    if len(top) < k:
        seed = order[:k]
        d_seed = dtw_distance_batch(Z[seed], q, band)
        top.extend(zip(d_seed.tolist(), kk[seed].tolist()))
        top = sorted(top)[:k]
        rest = order[k:]
    else:
        rest = order
    if len(rest):
        tau = max(top)[0] if len(top) == k else np.inf
        rest = rest[lbs[rest] <= tau]
    if len(rest):
        d_rest = dtw_distance_batch(Z[rest], q, band)
        top.extend(zip(d_rest.tolist(), kk[rest].tolist()))
        top = sorted(top)[:k]
    return top


def _topk_sparse_update(
    top: list,
    pdf: pd.DataFrame,
    key: str,
    idx: str,
    value: str,
    n: int,
    q: np.ndarray,
    q_lo: np.ndarray,
    q_hi: np.ndarray,
    band: int,
    k: int,
) -> list:
    """:func:`_topk_batch_update` over the complete SPARSE series of one
    packed batch: each key's ``(idx, value)`` rows are scattered into a
    zero row of width ``n`` (shared by :func:`dtw_topk_sparse` and
    :func:`dtw_topk_sparse_self`)."""
    starts, ends = key_slices(pdf, [key])
    M = np.zeros((len(starts), n))
    M[np.repeat(np.arange(len(starts)), ends - starts), pdf[idx].to_numpy()] = (
        pdf[value].to_numpy(dtype=np.float64)
    )
    keys_arr = pdf[key].to_numpy()[starts]
    return _topk_batch_update(top, M, keys_arr, q, q_lo, q_hi, band, k)


def dtw_topk(
    series: DataFrame,
    key: str,
    query_vals: np.ndarray,
    k: int = 5,
    band_frac: float = 0.1,
) -> DataFrame:
    """Exact top-k DTW nearest series to ``query_vals`` among
    equal-length series rows ``(key, vals)``, in ONE pass (round-14
    optimization; guide §2.4/§4): each partition runs the UCR-suite
    search shape — LB_Keogh every candidate, visit candidates in
    ascending-LB order, exact banded DTW only while a candidate's LB can
    still beat the partition's running k-th best (admissible: LB ≤ DTW;
    ties pruned conservatively, strict > only) — and emits its local
    top-k; a TakeOrdered over the ≤ k·partitions survivors is exact.

    The previous two-stage shape (full LB scan → τ from the k best-by-LB
    as a 1-row broadcast → pruned exact stage over {lb ≤ τ}) evaluated
    the series-vector pipeline twice and paid three Python-boundary
    stages per run; this is one scan, one Python stage, one k-row-per-
    partition TakeOrdered (each partition prunes with its own running τ,
    so the DTW count is ≥ k per non-empty partition and bounded by the
    same LB admissibility as before). Exactness vs brute force is pinned
    in tests. Returns (key, dtw) rows of the exact top-k ordered by
    (dtw, key).
    """
    q = _znorm(np.asarray(query_vals, dtype=np.float64))
    band = max(1, int(round(band_frac * len(q))))
    q_lo, q_hi = query_envelope(q, band)
    nq = len(q)

    def _local_topk(batches) -> "pd.DataFrame":
        # Partition-local exact top-k, vectorized (round 14, guide §4.2):
        # z-normalization, LB_Keogh, and the banded DTW DP all run as
        # matrix ops over the candidate axis (dtw_distance_batch is
        # bit-identical to the scalar DP — min/max of floats is exact),
        # so the interpreter does O(n·band) steps per BATCH instead of
        # per candidate. Admissible pruning is unchanged in substance:
        # DTW the k best-by-LB, then every candidate whose LB does not
        # strictly exceed that seed's k-th best distance (LB ≤ DTW, ties
        # kept) — a superset of the candidates the sequential UCR loop
        # visits, so the surviving (dtw, key) top-k is exact.
        top: list[tuple[float, object]] = []
        for pdf in batches:
            vals = pdf["vals"].to_numpy()
            keys_arr = pdf[key].to_numpy()
            if not len(vals):
                continue
            lens = np.fromiter(
                (len(v) for v in vals), dtype=np.int64, count=len(vals)
            )
            ok = lens == nq
            if not ok.any():
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vals[ok]]
            )
            kk = keys_arr[ok]
            top = _topk_batch_update(top, M, kk, q, q_lo, q_hi, band, k)
        if top:
            top.sort()
            yield pd.DataFrame(
                {key: [t[1] for t in top], "dtw": [t[0] for t in top]}
            )

    local = series.mapInPandas(
        _local_topk, f"{key_schema(series, [key])}, dtw double"
    )
    return (
        local.orderBy("dtw", key)
        .limit(k)
        .select(key, F.round("dtw", 6).alias("dtw"))
    )


def dtw_topk_sparse(
    series_long: DataFrame,
    key: str,
    idx: str,
    value: str,
    n: int,
    query_vals: np.ndarray,
    k: int = 5,
    band_frac: float = 0.1,
) -> DataFrame:
    """Exact top-k DTW like :func:`dtw_topk`, but candidates arrive as
    SPARSE ``(key, idx, value)`` rows on a shared ``[0, n)`` grid and the
    dense vectors are scattered into numpy zeros INSIDE the Arrow stage
    (the ``hurst_rs_sparse`` pattern, guide §4.2 — zeros are a Python-side
    artifact, not data). This replaces the per-element interpreted
    ``map_from_entries`` + ``transform(sequence(...))`` dense build, which
    cost 0.24 s of single-threaded JVM expression evaluation at sf0.1 and
    scales linearly with corpus size. Missing cells are TRUE zeros,
    exactly as the map/transform (and the older grid left-join) produced;
    the search core is byte-identical (:func:`_topk_batch_update`).

    Requires ``0 <= idx < n`` and at most one row per (key, idx); rides
    ``packed_grouped_map`` (complete key groups per batch, key-contiguous,
    idx-sorted), emitting ≤ k rows per batch — a TakeOrdered superset of
    the exact global top-k. Returns (key, dtw) rows ordered by (dtw, key).
    """
    q = _znorm(np.asarray(query_vals, dtype=np.float64))
    assert len(q) == n
    band = max(1, int(round(band_frac * len(q))))
    q_lo, q_hi = query_envelope(q, band)

    def _apply(pdf: "pd.DataFrame") -> "pd.DataFrame":
        top = _topk_sparse_update(
            [], pdf, key, idx, value, n, q, q_lo, q_hi, band, k
        )
        top.sort()
        return pd.DataFrame(
            {key: [t[1] for t in top], "dtw": [t[0] for t in top]}
        )

    local = packed_grouped_map(
        series_long.select(key, idx, value),
        [key],
        [idx],
        _apply,
        f"{key_schema(series_long, [key])}, dtw double",
    )
    return (
        local.orderBy("dtw", key)
        .limit(k)
        .select(key, F.round("dtw", 6).alias("dtw"))
    )


def dtw_topk_sparse_self(
    series_long: DataFrame,
    key: str,
    idx: str,
    value: str,
    n_col: str,
    query_key,
    k: int = 5,
    band_frac: float = 0.1,
) -> DataFrame:
    """:func:`dtw_topk_sparse` with the query series designated by
    ``query_key`` INSIDE ``series_long`` instead of collected to the
    driver at query BUILD (round 15, r14 verdict item 3: the build-time
    ``collect()`` ran a full aggregation pass per build that escaped the
    timed region, and at scale runs an extra pass over the corpus).

    How the query series reaches every task without a driver round-trip
    (guide §8 "co-locate instead of join"): candidates get an explicit
    partition-id column ``pmod(hash(key), P)``; the query key's rows are
    cross-joined with ``range(P)`` so ONE copy lands in every pid
    (P × n_query extra shuffled rows — hundreds of KB at any scale);
    one repartition on pid then a within-partition sort that places the
    query rows first. The mapper peels the query prefix (any pid-collision
    duplicates scatter the same values), z-normalizes and builds the
    Keogh envelope per task — the same numpy ops on the same float64
    values the driver ran, so distances are bit-identical — and streams
    candidate groups exactly like ``packed_grouped_map`` (complete
    groups per call, carryover for groups straddling Arrow batches).
    Requires ``0 <= idx < n`` and at most one row per (key, idx); n_col
    must be constant. Returns the exact global top-k as (key, dtw)
    ordered by (dtw, key); exactness is partition-layout-independent
    because each candidate's DTW is computed from its own rows only.
    """
    P = shuffle_parallelism(series_long)
    slim = series_long.select(key, idx, value, n_col)
    # null-safe, so ~isq keeps a null-key candidate (one series)
    isq = F.col(key).eqNullSafe(F.lit(query_key))
    qrows = slim.filter(isq).crossJoin(
        series_long.sparkSession.range(P).select(
            F.col("id").cast("int").alias("__pid")
        )
    )
    cands = slim.filter(~isq).withColumn(
        "__pid", F.pmod(F.hash(F.col(key)), F.lit(P)).cast("int")
    )
    parted = (
        qrows.unionByName(cands)
        .repartition(P, "__pid")
        .sortWithinPartitions(isq.desc(), key, idx)
        .select(key, idx, value, n_col)
    )

    def _mapper(batches) -> "pd.DataFrame":
        q = q_lo = q_hi = None
        band = 0
        top: list[tuple[float, object]] = []
        q_idx: list[np.ndarray] = []
        q_val: list[np.ndarray] = []
        n = None
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            if q is None:
                qmask = pdf[key].to_numpy() == query_key
                nq = int(qmask.sum())
                if n is None and nq:
                    n = int(pdf[n_col].iloc[0])
                if nq == len(pdf):
                    # the query prefix may span batches — keep collecting
                    q_idx.append(pdf[idx].to_numpy())
                    q_val.append(pdf[value].to_numpy(dtype=np.float64))
                    continue
                q_idx.append(pdf[idx].to_numpy()[:nq])
                q_val.append(pdf[value].to_numpy(dtype=np.float64)[:nq])
                qv = np.zeros(n)
                qv[np.concatenate(q_idx).astype(np.int64)] = np.concatenate(
                    q_val
                )
                q = _znorm(qv)
                band = max(1, int(round(band_frac * n)))
                q_lo, q_hi = query_envelope(q, band)
                pdf = pdf.iloc[nq:].reset_index(drop=True)
                if not len(pdf):
                    continue
            # hold back the possibly-straddling tail group
            split = int(key_slices(pdf, [key])[0][-1])
            pending = pdf.iloc[split:].reset_index(drop=True)
            if split:
                top = _topk_sparse_update(
                    top, pdf.iloc[:split].reset_index(drop=True), key, idx,
                    value, n, q, q_lo, q_hi, band, k,
                )
        if pending is not None and len(pending) and q is not None:
            top = _topk_sparse_update(
                top, pending, key, idx, value, n, q, q_lo, q_hi, band, k
            )
        top.sort()
        yield pd.DataFrame(
            {key: [t[1] for t in top], "dtw": [t[0] for t in top]}
        )

    local = parted.mapInPandas(
        _mapper, f"{key_schema(series_long, [key])}, dtw double"
    )
    return (
        local.orderBy("dtw", key)
        .limit(k)
        .select(key, F.round("dtw", 6).alias("dtw"))
    )


def dtw_topk_bruteforce(
    series: DataFrame, key: str, query_vals: np.ndarray, k: int = 5,
    band_frac: float = 0.1,
) -> DataFrame:
    """Reference path: exact DTW for EVERY candidate (no LB pruning).
    Used by tests to pin ``dtw_topk`` exactness; O(N·n·band)."""
    q = _znorm(np.asarray(query_vals, dtype=np.float64))
    band = max(1, int(round(band_frac * len(q))))
    nq = len(q)

    @F.pandas_udf("double")
    def dtw_udf(vals: pd.Series) -> pd.Series:
        out = np.empty(len(vals))
        for i, v in enumerate(vals):
            c = _znorm(np.asarray(v, dtype=np.float64))
            out[i] = dtw_distance(c, q, band) if len(c) == nq else np.inf
        return pd.Series(out)

    return (
        series.select(key, dtw_udf("vals").alias("dtw"))
        .filter(F.col("dtw") != np.inf)
        .orderBy("dtw", key)
        .limit(k)
        .select(key, F.round("dtw", 6).alias("dtw"))
    )


# ---------------------------------------------------------------------------
# Matrix profile (self-join motif / discord discovery)
# ---------------------------------------------------------------------------


def _mass_distance_profile(ts_v: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """All-pairs z-normalized subsequence distance matrix diag-free
    minimum — the matrix profile — computed with the MASS idea: sliding
    dot products via FFT convolution, O(n² log n) total for all query
    windows, with the trivial-match exclusion zone ±m/2 (Yeh et al.,
    ICDM 2016). Returns (profile, profile_index)."""
    n = len(ts_v)
    w = n - m + 1
    # sliding means / stds
    csum = np.cumsum(np.concatenate(([0.0], ts_v)))
    csum2 = np.cumsum(np.concatenate(([0.0], ts_v**2)))
    mu = (csum[m:] - csum[:-m]) / m
    var = (csum2[m:] - csum2[:-m]) / m - mu**2
    sigma = np.sqrt(np.clip(var, 1e-12, None))
    prof = np.full(w, np.inf)
    pidx = np.full(w, -1)
    excl = max(1, m // 2)
    # FFT of the full series once per query window (MASS)
    fft_len = 1 << int(np.ceil(np.log2(n + m)))
    ts_fft = np.fft.rfft(ts_v, fft_len)
    for q in range(w):
        qv = ts_v[q : q + m][::-1]
        dots = np.fft.irfft(ts_fft * np.fft.rfft(qv, fft_len), fft_len)[m - 1 : n]
        # z-normalized distance from window q to every window j
        d2 = 2 * m * (
            1 - (dots - m * mu[q] * mu) / (m * sigma[q] * sigma)
        )
        d = np.sqrt(np.clip(d2, 0.0, None))
        d[max(0, q - excl) : q + excl + 1] = np.inf  # trivial matches
        j = int(np.argmin(d))
        if d[j] < prof[q]:
            prof[q] = d[j]
            pidx[q] = j
    return prof, pidx


def matrix_profile(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    m: int,
) -> DataFrame:
    """Per-series matrix profile summary: motif (most-repeated shape =
    global minimum of the profile, with its nearest-neighbor index) and
    discord (most anomalous shape = global maximum). One packed grouped
    map — thousands of series per Arrow batch, per-series O(n² log n)
    numpy, embarrassingly parallel across series. Key columns keep their
    input Spark types."""

    def _fit(v: np.ndarray) -> dict | None:
        if len(v) < 2 * m:
            return None
        prof, pidx = _mass_distance_profile(np.asarray(v, dtype=np.float64), m)
        mot = int(np.argmin(prof))
        dis = int(np.argmax(prof))
        return {
            "n_points": [len(v)],
            "motif_idx": [mot],
            "motif_nn_idx": [int(pidx[mot])],
            "motif_dist": [round(float(prof[mot]), 6)],
            "discord_idx": [dis],
            "discord_dist": [round(float(prof[dis]), 6)],
        }

    return per_series(
        df, keys, [ts], [value], _fit,
        "n_points long, motif_idx long, motif_nn_idx long, "
        "motif_dist double, discord_idx long, discord_dist double",
    )


# ---------------------------------------------------------------------------
# Kalman local-level filter + RTS smoother
# ---------------------------------------------------------------------------


def kalman_smooth_series(
    y: np.ndarray, q_var: float, r_var: float
) -> tuple[np.ndarray, np.ndarray]:
    """Local-level state-space model  x_t = x_{t-1} + w (w~N(0,q)),
    y_t = x_t + v (v~N(0,r)): forward Kalman filter then backward
    Rauch-Tung-Striebel smoother (the published closed-form pass for
    linear-Gaussian models; Durbin & Koopman, *Time Series Analysis by
    State Space Methods*, §4.3-4.4). Diffuse init (P0 = 1e7·r).

    Returns ``(level, level_var)`` — the smoothed state mean/variance
    per observation. The smoothed mean is exactly the MAP solution of
    the equivalent tridiagonal least-squares problem (pinned by test
    against a dense solve). O(n), numerically plain — no matrices.
    """
    n = len(y)
    a = np.empty(n)  # filtered mean
    p = np.empty(n)  # filtered var
    a_pred = np.empty(n)
    p_pred = np.empty(n)
    x, v = 0.0, 1e7 * r_var
    for t in range(n):
        if t == 0:
            a_pred[t], p_pred[t] = x, v  # diffuse prior, no transition yet
        else:
            a_pred[t], p_pred[t] = x, v + q_var
        k = p_pred[t] / (p_pred[t] + r_var)
        x = a_pred[t] + k * (y[t] - a_pred[t])
        v = (1 - k) * p_pred[t]
        a[t], p[t] = x, v
    level = np.empty(n)
    level_var = np.empty(n)
    level[-1], level_var[-1] = a[-1], p[-1]
    for t in range(n - 2, -1, -1):
        c = p[t] / p_pred[t + 1]
        level[t] = a[t] + c * (level[t + 1] - a_pred[t + 1])
        level_var[t] = p[t] + c**2 * (level_var[t + 1] - p_pred[t + 1])
    return level, level_var


def kalman_smooth_batch(
    Y: np.ndarray, lens: np.ndarray, q_var: float, r_var: float
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`kalman_smooth_series` vectorized across the SERIES axis
    (round 15, guide §4.2 — the dtw_distance_batch pattern): ``Y`` is
    (m, T) left-aligned zero-padded, ``lens`` the true lengths. Each
    filter/smoother step applies the identical scalar formulas
    elementwise over the m series, so the interpreter does O(T_max)
    steps per BATCH instead of O(Σ n_i) — and every series' outputs are
    bit-identical to the sequential loop (pinned by test). Backward
    initialization lands at each series' own last index via a per-step
    mask; padded columns compute garbage that is never read (r_var > 0
    keeps every denominator positive, so no warnings)."""
    m, T = Y.shape
    a = np.empty((m, T))
    p = np.empty((m, T))
    a_pred = np.empty((m, T))
    p_pred = np.empty((m, T))
    x = np.zeros(m)
    v = np.full(m, 1e7 * r_var)
    for t in range(T):
        if t == 0:
            ap, pp = x, v  # diffuse prior, no transition yet
        else:
            ap, pp = x, v + q_var
        k = pp / (pp + r_var)
        x = ap + k * (Y[:, t] - ap)
        v = (1 - k) * pp
        a_pred[:, t] = ap
        p_pred[:, t] = pp
        a[:, t] = x
        p[:, t] = v
    level = np.empty((m, T))
    level_var = np.empty((m, T))
    last = lens - 1
    level[:, T - 1] = a[:, T - 1]
    level_var[:, T - 1] = p[:, T - 1]
    for t in range(T - 2, -1, -1):
        c = p[:, t] / p_pred[:, t + 1]
        lv = a[:, t] + c * (level[:, t + 1] - a_pred[:, t + 1])
        lvv = p[:, t] + c**2 * (level_var[:, t + 1] - p_pred[:, t + 1])
        is_last = last == t
        level[:, t] = np.where(is_last, a[:, t], lv)
        level_var[:, t] = np.where(is_last, p[:, t], lvv)
    return level, level_var


def kalman_smooth(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    q_var: float = 1.0,
    r_var: float = 10.0,
) -> DataFrame:
    """Per-series Kalman/RTS smoothing on the packed grouped-map path
    (one hash shuffle by key; O(n) numpy per series). Output keeps every
    input row and appends smoothed ``level`` / ``level_var``."""

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        starts, ends = key_slices(pdf, keys)
        v_all = pdf[value].to_numpy(dtype=np.float64)
        lens = ends - starts
        m = len(starts)
        T = int(lens.max()) if m else 0
        Y = np.zeros((m, T))
        rows = np.repeat(np.arange(m), lens)
        cols = np.arange(len(pdf)) - np.repeat(starts, lens)
        Y[rows, cols] = v_all
        level, level_var = kalman_smooth_batch(Y, lens, q_var, r_var)
        out = pdf[[*keys, ts, value]].copy()
        out["level"] = np.round(level[rows, cols], 6)
        out["level_var"] = np.round(level_var[rows, cols], 6)
        return out

    return packed_grouped_map(
        df.select(*keys, ts, value),
        keys,
        [ts],
        _apply,
        f"{key_schema(df, [*keys, ts, value])}, level double, level_var double",
    )


# ---------------------------------------------------------------------------
# Kleinberg burst detection (2-state automaton)
# ---------------------------------------------------------------------------


def kleinberg_bursts_series(
    t_us: np.ndarray, s: float = 2.0, gamma: float = 1.0
) -> list[tuple[int, int, int]]:
    """Kleinberg's 2-state burst automaton ("Bursty and Hierarchical
    Structure in Streams", KDD 2002) on one event-time series: state 0
    emits gaps at the base rate λ0 = n/T, state 1 at λ1 = s·λ0; gap cost
    is the exponential negative log-likelihood λ·x − ln λ, entering the
    burst state costs γ·ln n. Viterbi DP → optimal state path → maximal
    state-1 runs as ``(start_idx, end_idx, n_events)`` (indices into the
    sorted event array, end inclusive). O(n), deterministic (ties favor
    the non-burst state)."""
    n = len(t_us)
    if n < 3:
        return []
    t = np.sort(t_us.astype(np.float64))
    gaps = np.diff(t)
    T = t[-1] - t[0]
    if T <= 0:
        return []
    lam0 = (n - 1) / T
    lam1 = s * lam0
    enter = gamma * np.log(n)
    # Viterbi over 2 states; cost(state, gap) = lam*x - ln(lam)
    c0 = lam0 * gaps - np.log(lam0)
    c1 = lam1 * gaps - np.log(lam1)
    INF = np.inf
    cost = np.array([0.0, INF])
    back = np.empty((len(gaps), 2), dtype=np.int8)
    for i in range(len(gaps)):
        stay0 = cost[0]
        from1 = cost[1]
        new0 = min(stay0, from1) + c0[i]
        back[i, 0] = 0 if stay0 <= from1 else 1
        stay1 = cost[1]
        from0 = cost[0] + enter
        new1 = min(stay1, from0) + c1[i]
        back[i, 1] = 1 if stay1 <= from0 else 0
        cost = np.array([new0, new1])
    states = np.empty(len(gaps), dtype=np.int8)
    cur = 0 if cost[0] <= cost[1] else 1
    for i in range(len(gaps) - 1, -1, -1):
        states[i] = cur
        cur = back[i, cur]
    bursts = []
    i = 0
    while i < len(states):
        if states[i] == 1:
            j = i
            while j + 1 < len(states) and states[j + 1] == 1:
                j += 1
            # gap k spans events k..k+1 → events i..j+1 are in the burst
            bursts.append((i, j + 1, j - i + 2))
            i = j + 1
        i += 1
    return bursts


def kleinberg_bursts(
    df: DataFrame,
    keys: list[str],
    ts: str,
    s: float = 2.0,
    gamma: float = 1.0,
) -> DataFrame:
    """Per-key burst intervals via the 2-state Kleinberg automaton —
    packed grouped map, O(n) per series. Output: keys…, burst_start /
    burst_end timestamps, n_events in the burst."""

    def _fit(t: np.ndarray) -> dict | None:
        t = np.sort(t.astype("datetime64[us]").astype(np.int64))
        bursts = kleinberg_bursts_series(t, s, gamma)
        if not bursts:
            return None
        i, j, cnt = (np.array(c) for c in zip(*bursts))
        return {
            "burst_start": t[i].astype("datetime64[us]"),
            "burst_end": t[j].astype("datetime64[us]"),
            "n_events": cnt,
        }

    return per_series(
        df, keys, [ts], [ts], _fit,
        "burst_start timestamp, burst_end timestamp, n_events long",
    )


# ---------------------------------------------------------------------------
# Series-shape clustering (PAA features + KMeans)
# ---------------------------------------------------------------------------


def cluster_series_shapes(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    n_segments: int = 8,
    n_clusters: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Cluster series by SHAPE: each series reduces to its z-normalized
    PAA vector (scale/offset-invariant by construction — the
    normalization PAA already applies), then MLlib KMeans groups the
    vectors. The classic whole-series clustering recipe (PAA features ≈
    the SAX paper's representation; KMeans over them is the standard
    baseline in the ts-clustering literature).

    Scale: the feature frame is one row per SERIES (not per point) —
    KMeans runs on the reduced representation. Output: ``keys…, cluster``.
    """
    assigned = _cluster_series_assignments(
        df, keys, ts, value, n_segments, n_clusters, seed
    )
    return assigned.select(*keys, "cluster")


def shape_feature_vectors(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    n_segments: int = 8,
) -> DataFrame:
    """One row per series: z-normalized PAA feature vector (the N5
    representation), as both an array and an MLlib vector column."""
    from pyspark.ml.functions import array_to_vector

    per_seg = paa_sax(df, keys, ts, value, n_segments)
    return (
        per_seg.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("seg", "paa"))).alias("_w"))
        .filter(F.size("_w") == n_segments)  # drop sub-segment-count series
        .select(
            *keys,
            F.expr("transform(_w, s -> s.paa)").alias("paa_vec"),
        )
        .withColumn("features", array_to_vector("paa_vec"))
    )


def _cluster_series_assignments(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    n_segments: int,
    n_clusters: int,
    seed: int,
) -> DataFrame:
    from pyspark.ml.clustering import KMeans

    feats = shape_feature_vectors(df, keys, ts, value, n_segments)
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features",
                predictionCol="cluster")
    model = km.fit(feats)
    return model.transform(feats)


def cluster_silhouette_report(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    n_segments: int = 8,
    ks: tuple[int, ...] = (2, 3, 4, 6),
    seed: int = 42,
) -> DataFrame:
    """N5b: model-selection companion to N5 — squared-Euclidean
    silhouette (MLlib ClusteringEvaluator, the distributed
    simplification of Rousseeuw'87) for several k over the SAME shape
    features, with cluster-count sanity columns. Silhouette ∈ [-1, 1];
    higher = tighter/better-separated clustering; scanning k and taking
    the knee is the standard k-chooser. The feature frame is one row
    per series, so every fit/evaluate runs on the reduced
    representation."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator

    feats = shape_feature_vectors(df, keys, ts, value, n_segments).cache()
    try:
        rows = []
        ev = ClusteringEvaluator(
            predictionCol="cluster",
            featuresCol="features",
            metricName="silhouette",
            distanceMeasure="squaredEuclidean",
        )
        n_series = feats.count()
        for k in ks:
            model = KMeans(
                k=k, seed=seed, featuresCol="features",
                predictionCol="cluster",
            ).fit(feats)
            pred = model.transform(feats)
            sil = float(ev.evaluate(pred))
            sizes = pred.groupBy("cluster").count()
            smallest = sizes.agg(F.min("count")).collect()[0][0]
            rows.append(
                (k, int(n_series), round(sil, 4), int(smallest))
            )
    finally:
        feats.unpersist()
    spark = df.sparkSession
    return local_df(spark, 
        rows, "k long, n_series long, silhouette double, min_cluster_size long"
    )


# ---------------------------------------------------------------------------
# Dominant-period estimation (periodogram peak)
# ---------------------------------------------------------------------------


def estimate_period_series(v: np.ndarray) -> tuple[float, float]:
    """Dominant period of one regular series by periodogram peak: detrend
    (remove the least-squares line — trend leaks into low frequencies),
    FFT, take the frequency with maximal power among the non-DC bins
    with at least two full cycles in the window. Returns ``(period,
    power_frac)`` where power_frac is the peak's share of total non-DC
    power (a confidence proxy). The standard first step before choosing
    a seasonal model's period."""
    n = len(v)
    t = np.arange(n, dtype=np.float64)
    slope, intercept = np.polyfit(t, v, 1)
    resid = v - (slope * t + intercept)
    spec = np.abs(np.fft.rfft(resid)) ** 2
    spec[0] = 0.0
    # require >= 2 full cycles: frequency index >= 2
    if len(spec) <= 2:
        return float("nan"), 0.0
    spec[1] = 0.0
    j = int(np.argmax(spec))
    total = float(spec.sum())
    if total <= 0 or j == 0:
        return float("nan"), 0.0
    return n / j, float(spec[j] / total)


def dominant_periods(
    df: DataFrame, keys: list[str], ts: str, value: str
) -> DataFrame:
    """Per-series dominant period via the periodogram (packed grouped
    map; O(n log n) per series). Output: keys…, n_points, period
    (in samples), power_frac."""

    def _fit(v: np.ndarray) -> dict | None:
        if len(v) < 8:
            return None
        period, frac = estimate_period_series(np.asarray(v, dtype=np.float64))
        return {
            "n_points": [len(v)],
            "period": [round(period, 4)],
            "power_frac": [round(frac, 4)],
        }

    return per_series(
        df, keys, [ts], [value], _fit,
        "n_points long, period double, power_frac double",
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

def _hurst_rs_one(x: np.ndarray, min_w: int = 8) -> tuple[float, float, int]:
    """R/S Hurst estimate for one series: for window sizes w = min_w,
    2·min_w, ... ≤ n/2, average R/S over the ⌊n/w⌋ disjoint blocks
    (R = range of the mean-adjusted cumulative sum, S = block std), then
    H = slope of log(R/S) on log(w). Returns (H, fit_r2, n_scales)."""
    n = len(x)
    ws, rss = [], []
    w = min_w
    while w <= n // 2:
        nb = n // w
        # all blocks at once: reshape to (nb, w) and batch the range of
        # the mean-adjusted cumsum — the per-block Python loop was the
        # wall-clock at 10x stress (3.9 -> ~0.2 ms/series)
        blocks = x[: nb * w].reshape(nb, w)
        s = blocks.std(axis=1)
        y = np.cumsum(blocks - blocks.mean(axis=1, keepdims=True), axis=1)
        r = y.max(axis=1) - y.min(axis=1)
        ok = s > 0
        if ok.any():
            ws.append(w)
            rss.append(float(np.mean(r[ok] / s[ok])))
        w *= 2
    if len(ws) < 2:
        return float("nan"), float("nan"), len(ws)
    lw, lr = np.log(np.array(ws, dtype=float)), np.log(np.array(rss))
    h, b0 = np.polyfit(lw, lr, 1)
    pred = h * lw + b0
    ss_res = float(((lr - pred) ** 2).sum())
    ss_tot = float(((lr - lr.mean()) ** 2).sum())
    r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 1.0
    return float(h), r2, len(ws)


# Most cells of one dense (series × length) block the batch Hurst path
# holds at once (16 MiB of doubles): series sharing a length are stacked
# ``HURST_CHUNK_DOUBLES // n`` at a time (one series when it alone is
# longer), so memory does not grow with the batch's series count.
HURST_CHUNK_DOUBLES = 1 << 21


def hurst_rs_batch(
    V: np.ndarray, min_w: int = 8
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_hurst_rs_one` for the k rows of ``V`` (k, n) — series
    sharing one length — in one pass per scale instead of one per series.

    Each scale reshapes the rows to (k, n//w, w) blocks; the R/S mean
    over the blocks with S > 0 is a masked sum over a count, and the
    log-log fit is a closed-form OLS slope and r² over each series' own
    valid scales (``np.polyfit`` fits one series at a time). Returns
    ``(hurst, fit_r2, n_scales)``; hurst and fit_r2 are NaN where fewer
    than 2 scales are valid. Agrees with the per-series reference to
    ~1e-15 (pinned by test at 1e-12)."""
    k, n = V.shape
    log_w, log_rs, valid = [], [], []
    w = min_w
    while w <= n // 2:
        nb = n // w
        blocks = V[:, : nb * w].reshape(k, nb, w)
        dev = blocks - blocks.mean(axis=2, keepdims=True)
        s = np.sqrt((dev * dev).mean(axis=2))  # blocks.std(axis=2)
        y = np.cumsum(dev, axis=2)
        r = y.max(axis=2) - y.min(axis=2)
        ok = s > 0
        cnt = ok.sum(axis=1)
        rs = np.where(ok, r / np.where(ok, s, 1.0), 0.0).sum(axis=1)
        log_w.append(np.log(float(w)))
        log_rs.append(np.log(np.where(cnt > 0, rs / np.maximum(cnt, 1), 1.0)))
        valid.append(cnt > 0)
        w *= 2
    if not log_w:
        nan = np.full(k, np.nan)
        return nan, nan.copy(), np.zeros(k, dtype=np.int64)
    x = np.array(log_w)
    Y = np.stack(log_rs, axis=1)
    M = np.stack(valid, axis=1)
    n_scales = M.sum(axis=1)
    c = np.maximum(n_scales, 1)
    xbar = (M * x).sum(axis=1) / c
    ybar = np.where(M, Y, 0.0).sum(axis=1) / c
    dx = np.where(M, x - xbar[:, None], 0.0)
    dy = np.where(M, Y - ybar[:, None], 0.0)
    sxx = (dx * dx).sum(axis=1)
    ss_tot = (dy * dy).sum(axis=1)
    fit = n_scales >= 2
    h = np.where(fit, (dx * dy).sum(axis=1) / np.where(fit, sxx, 1.0), np.nan)
    b0 = ybar - h * xbar
    res = np.where(M, Y - (h[:, None] * x + b0[:, None]), 0.0)
    ss_res = (res * res).sum(axis=1)
    r2 = np.where(
        ss_tot > 0, 1.0 - ss_res / np.where(ss_tot > 0, ss_tot, 1.0), 1.0
    )
    return h, np.where(fit, r2, np.nan), n_scales


def hurst_rs_ragged(
    idx: np.ndarray,
    v: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    n: np.ndarray,
    min_len: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Hurst R/S for every series of a packed batch. Series j is the
    length-``n[j]`` zero vector with ``v[starts[j]:ends[j]]`` at
    positions ``idx[starts[j]:ends[j]]`` (a dense series is positions
    0..n-1). Series of one length are scattered into (k, n) chunks of at
    most ``HURST_CHUNK_DOUBLES`` cells for :func:`hurst_rs_batch`.
    Returns ``(hurst, fit_r2, n_scales)`` per series; series shorter than
    ``min_len`` get NaN and 0 scales."""
    m = len(starts)
    h = np.full(m, np.nan)
    r2 = np.full(m, np.nan)
    n_scales = np.zeros(m, dtype=np.int64)
    lens = ends - starts
    for length in np.unique(n[n >= min_len]):
        members = np.flatnonzero(n == length)
        step = max(1, HURST_CHUNK_DOUBLES // max(int(length), 1))
        for c0 in range(0, len(members), step):
            part = members[c0 : c0 + step]
            cnt = lens[part]
            seg = np.cumsum(cnt) - cnt
            src = np.arange(int(cnt.sum())) + np.repeat(starts[part] - seg, cnt)
            V = np.zeros((len(part), int(length)))
            V[np.repeat(np.arange(len(part)), cnt), idx[src]] = v[src]
            h[part], r2[part], n_scales[part] = hurst_rs_batch(V)
    return h, r2, n_scales


def _hurst_frame(
    pdf: pd.DataFrame,
    keys: list[str],
    starts: np.ndarray,
    ends: np.ndarray,
    idx: np.ndarray,
    v: np.ndarray,
    n: np.ndarray,
    min_len: int,
) -> pd.DataFrame:
    """One output row per series of ``pdf`` with a finite Hurst fit
    (arguments as :func:`hurst_rs_ragged`)."""
    h, r2, n_scales = hurst_rs_ragged(idx, v, starts, ends, n, min_len)
    ok = np.flatnonzero(np.isfinite(h))
    out = {k: pdf[k].to_numpy()[starts[ok]] for k in keys}
    out["n_points"] = n[ok].astype(np.int64)
    # Python's correctly rounded round(), not np.round's scaled rint
    out["hurst"] = [round(float(x), 4) for x in h[ok]]
    out["fit_r2"] = [round(float(x), 4) for x in r2[ok]]
    out["n_scales"] = n_scales[ok]
    return pd.DataFrame(out)


def hurst_rs(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    min_len: int = 32,
) -> DataFrame:
    """Per-series Hurst exponent (Hurst 1951; Mandelbrot-Wallis R/S):
    H ≈ 0.5 for iid noise, > 0.5 persistent/trending, < 0.5
    anti-persistent/mean-reverting — the long-memory diagnostic that
    tells a forecaster whether momentum features carry signal. Packed
    grouped map: thousands of series per Arrow batch, one
    :func:`hurst_rs_batch` pass per series length in the batch,
    embarrassingly parallel across keys (the F48/K-mining shape). Series
    shorter than ``min_len`` are skipped (too few R/S scales for a
    meaningful log-log fit)."""

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        starts, ends = key_slices(pdf, keys)
        lens = ends - starts
        pos = np.arange(len(pdf)) - np.repeat(starts, lens)
        v = pdf[value].to_numpy(dtype=np.float64)
        return _hurst_frame(pdf, keys, starts, ends, pos, v, lens, min_len)

    return packed_grouped_map(
        df.select(*keys, ts, value),
        keys,
        [ts],
        _apply,
        f"{key_schema(df, keys)}, n_points long, hurst double, fit_r2 double, "
        "n_scales long",
    )


def hurst_rs_sparse(
    df: DataFrame,
    keys: list[str],
    idx: str,
    n_col: str,
    value: str,
    min_len: int = 32,
) -> DataFrame:
    """``hurst_rs`` over a SPARSE encoding of a dense zero-filled series:
    each row is one non-zero grid cell (``idx`` ∈ [0, n), ``n_col`` the
    per-key grid length), and the dense vectors are scattered into numpy
    zeros inside the Arrow stage. Identical output to running
    ``hurst_rs`` on the materialized dense frame, but the grid explode,
    the dense left join, and the dense-row shuffle/sort/Arrow transfer
    never happen — only the non-zero cells move (11× fewer rows for the
    events corpus, and the gap widens with series sparsity at scale)."""

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        starts, ends = key_slices(pdf, keys)
        return _hurst_frame(
            pdf,
            keys,
            starts,
            ends,
            pdf[idx].to_numpy(dtype=np.int64),
            pdf[value].to_numpy(dtype=np.float64),
            pdf[n_col].to_numpy(dtype=np.int64)[starts],
            min_len,
        )

    return packed_grouped_map(
        df.select(*keys, idx, n_col, value),
        keys,
        [idx],
        _apply,
        f"{key_schema(df, keys)}, n_points long, hurst double, fit_r2 double, "
        "n_scales long",
    )


# ---------------------------------------------------------------------------
# Lomb-Scargle periodogram for IRREGULARLY sampled series
# ---------------------------------------------------------------------------

LS_PERIODS_HOURS = (6.0, 12.0, 24.0, 48.0, 84.0, 168.0, 336.0, 672.0)


def _lomb_scargle_one(
    t_sec: np.ndarray, y: np.ndarray, periods_h=LS_PERIODS_HOURS
) -> tuple[float, float]:
    """Classic Lomb (1976) / Scargle (1982) normalized periodogram for
    one irregularly sampled series, evaluated on a fixed period grid.

    P(w) = 1/(2 s^2) * [ (sum c_i (y_i - ybar))^2 / sum c_i^2
                       + (sum s_i (y_i - ybar))^2 / sum s_i^2 ]
    with the tau phase shift tan(2 w tau) = sum sin(2 w t) / sum cos(2 w t)
    that makes the estimate invariant to time origin. Normalized by the
    sample variance, P ~ Exp(1) per frequency under white noise, so the
    peak value doubles as a significance score. All frequencies at once
    via an (m, n) outer-product broadcast. Returns (best_period_hours,
    best_power); (nan, 0.0) for constant series."""
    ybar = y.mean()
    dy = y - ybar
    s2 = float(dy @ dy) / (len(y) - 1) if len(y) > 1 else 0.0
    if s2 <= 0:
        return float("nan"), 0.0
    w = 2.0 * np.pi / (np.asarray(periods_h, dtype=np.float64) * 3600.0)
    wt = w[:, None] * t_sec[None, :]  # (m, n)
    tau = np.arctan2(np.sin(2 * wt).sum(axis=1),
                     np.cos(2 * wt).sum(axis=1)) / (2.0 * w)
    arg = wt - (w * tau)[:, None]
    c, s = np.cos(arg), np.sin(arg)
    pc = (c @ dy) ** 2 / (c * c).sum(axis=1)
    ps = (s @ dy) ** 2 / np.maximum((s * s).sum(axis=1), 1e-300)
    p = (pc + ps) / (2.0 * s2)
    i = int(np.argmax(p))
    return float(periods_h[i]), float(p[i])


def lomb_scargle_periods(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    min_points: int = 16,
) -> DataFrame:
    """Per-series Lomb-Scargle dominant period over IRREGULAR samples —
    the period detector :func:`dominant_periods` cannot be (the FFT
    periodogram needs a dense regular grid; event streams are neither).
    One hash shuffle on keys -> packed grouped map (many series per
    Arrow batch), numpy-vectorized over the whole frequency grid.
    Output: keys..., n_points, best_period_hours, ls_power."""

    def _fit(t: np.ndarray, y: np.ndarray) -> dict | None:
        if len(t) < min_points:
            return None
        t_s = t.astype(np.int64).astype(np.float64) / 1e9
        period, power = _lomb_scargle_one(
            t_s - t_s[0], np.asarray(y, dtype=np.float64)
        )
        if period != period:  # constant series -> NaN
            return None
        return {
            "n_points": [len(t)],
            "best_period_hours": [period],
            "ls_power": [round(power, 4)],
        }

    return per_series(
        df, keys, [ts], [ts, value], _fit,
        "n_points long, best_period_hours double, ls_power double",
    )


# ---------------------------------------------------------------------------
# PELT: exact optimal multi-changepoint segmentation (Killick 2012)
# ---------------------------------------------------------------------------

def _pelt_one(x: np.ndarray, beta: float | None = None) -> list[int]:
    """Exact penalized least-squares changepoint set for one series via
    PELT (Killick, Fearnhead & Eckley 2012): minimize
    sum_seg SSE(seg) + beta * (#segments - 1). Dynamic program
    F(t) = min_{s in R} F(s) + C(s..t) + beta with the PELT pruning rule
    (drop s once F(s) + C(s..t) > F(t)) — same optimum as the O(n^2)
    DP (the pruned candidate can never win again; equivalence pinned in
    tests), expected O(n) candidates under frequent changes.

    Segment cost from prefix sums: C(a..b) = ss - s^2/len on [a, b).
    Default beta = 2 * sigma^2 * ln(n) (BIC-flavored), sigma^2 from the
    lag-1 difference variance (robust to the mean shifts being sought).
    Returns sorted 0-based changepoint indices (segment starts > 0)."""
    n = len(x)
    if n < 4:
        return []
    if beta is None:
        d = np.diff(x)
        sigma2 = float(d @ d) / (2.0 * max(len(d), 1))
        beta = 2.0 * max(sigma2, 1e-12) * np.log(n)
    cs = np.concatenate([[0.0], np.cumsum(x)])
    css = np.concatenate([[0.0], np.cumsum(x * x)])

    def cost(a: int, b: int) -> float:  # [a, b)
        s = cs[b] - cs[a]
        return (css[b] - css[a]) - s * s / (b - a)

    f = np.full(n + 1, np.inf)
    f[0] = -beta
    last = np.zeros(n + 1, dtype=np.int64)
    cands = [0]
    for t in range(1, n + 1):
        vals = [f[s] + cost(s, t) + beta for s in cands]
        i = int(np.argmin(vals))
        f[t] = vals[i]
        last[t] = cands[i]
        cands = [
            s for s, v in zip(cands, vals) if v - beta <= f[t]
        ]  # PELT prune: keep s while F(s)+C(s,t) <= F(t)
        cands.append(t)
    cps = []
    t = n
    while t > 0:
        s = int(last[t])
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def pelt_changepoints(
    df: DataFrame, keys: list[str], ts: str, value: str
) -> DataFrame:
    """Per-series PELT segmentation (packed grouped map). Output one row
    per detected segment: keys..., seg_idx, start_ts, n_points,
    seg_mean. Exact optimum of the penalized cost — the optimal
    counterpart to the greedy 2-level F108 binseg."""

    def _fit(t: np.ndarray, v: np.ndarray) -> dict:
        x = np.asarray(v, dtype=np.float64)
        bounds = np.array([0, *_pelt_one(x), len(x)])
        a, b = bounds[:-1], bounds[1:]
        return {
            "seg_idx": np.arange(len(a)),
            "start_ts": t[a],
            "n_points": b - a,
            "seg_mean": [round(float(x[i:j].mean()), 4) for i, j in zip(a, b)],
        }

    return per_series(
        df, keys, [ts], [ts, value], _fit,
        f"seg_idx int, start_ts {dict(df.dtypes)[ts]}, n_points long,"
        " seg_mean double",
    )
