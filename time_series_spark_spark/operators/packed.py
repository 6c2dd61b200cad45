"""Packed grouped-map: many small groups per Arrow batch.

``df.groupBy(keys).applyInPandas(fn)`` ships ONE Arrow batch and one
Python-function invocation PER GROUP. For wide workloads — one short
series per user, millions of keys at 100 TB — the per-group round trip
(Arrow serialization, pandas DataFrame construction, UDF dispatch)
dominates the actual per-series compute by 10-100×.

``packed_grouped_map`` keeps the same single hash shuffle but streams
each partition through ``mapInPandas`` in bounded Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows), so thousands of
groups share one Python invocation and the per-group cost falls to one
run-length scan of the key columns (:func:`key_slices`) and a slice of
whole-batch numpy arrays. Groups that straddle a batch boundary are
carried over to the next batch, so memory is O(batch + largest group),
never O(partition) — the property that keeps this shape viable on a
1000-executor cluster where a partition can hold millions of rows.

Contract: rows for one key combination land in one partition
(``repartition(keys)``) and arrive key-contiguous and order-sorted
(``sortWithinPartitions(keys + order_cols)``); ``apply_fn`` receives a
pandas DataFrame holding only COMPLETE groups, pre-sorted, and may
return any number of rows matching ``schema``.

An operator that runs one function per series calls :func:`per_series`,
which owns the whole walk: projection, key DDL, batch cut and output
frame. An operator whose kernel works on a whole batch at once (Kalman,
Hurst, LTTB, DTW) calls ``packed_grouped_map`` and cuts the batch with
:func:`key_slices`; both take their key DDL from :func:`key_schema`.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's shuffle-partition count (scale-adaptive: session.py
    sizes it to the machine locally, 2-3x total cores on a cluster)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def pin_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` with the partition count PINNED
    to the session's shuffle parallelism, so AQE's byte-based coalescing
    cannot collapse a downstream compute- or serialization-bound stage
    to one task (measured round 14: every packed Arrow stage and the
    sessionize window ran single-threaded at bench scale). Bytes moved
    are identical to the un-pinned exchange; a downstream window/groupBy
    on the same keys reuses this exchange (ClusteredDistribution is
    satisfied by any subset hash partitioning)."""
    return df.repartition(shuffle_parallelism(df), *keys)


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition a FEW-SPLIT scan up to the session's
    shuffle parallelism, so a compute-bound map stage (gram/resample
    explode, sketch build, wide projection) doesn't run on 1-2 tasks.

    This is the guide-§2.5 "repartition immediately after the read" fix
    for unsplittable/under-split input, made scale-adaptive: when the
    scan already carries >= parallelism/2 input splits (the production
    case — split count tracks bytes), this is a NO-OP, so no corpus
    bytes are ever shuffled for parallelism that the file layout already
    provides. Locally the test tables are single-row-group parquet, so
    every scan is ONE task regardless of `maxPartitionBytes`; the
    repartition costs one exchange of the slim projection and buys a
    machine-wide map stage. ``factor`` multiplies the target when one
    input row fans out into many downstream rows (bounded explodes).
    """
    p = shuffle_parallelism(df) * max(factor, 1)
    have = estimated_splits(df)
    if have is None or 2 * have >= p:
        return df
    return df.repartition(p)


def estimated_splits(df: DataFrame) -> int | None:
    """Input-split count of ``df``'s scan, ESTIMATED from optimizer stats
    with Spark's own ``FilePartition.maxSplitBytes`` formula — NOT
    ``df.rdd.getNumPartitions()``, which physical-plans the subtree and
    enumerates file splits on the driver at every query build (a
    driver-side planning cost per build on big tables). Verified to
    agree with the RDD probe on every ``fan_out`` input shape at bench
    scale, at ~5-8x lower build cost. The bytes-per-core divisor is
    ``spark.sql.files.minPartitionNum``, else
    ``spark.sql.leafNodeDefaultParallelism``, else the default
    parallelism, as in Spark. None when the stats are unreachable."""
    spark = df.sparkSession
    cores = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        conf = spark._jsparkSession.sessionState().conf()
        split = min(
            int(conf.filesMaxPartitionBytes()),
            max(int(conf.filesOpenCostInBytes()), size // max(cores, 1) + 1),
        )
    except (AttributeError, Py4JError):  # no JVM handles (e.g. Connect)
        return None
    return max(1, (size + split - 1) // max(split, 1))


def key_slices(
    pdf: pd.DataFrame, keys: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """Positional ``(starts, ends)`` group boundaries of a key-contiguous
    frame (the ``packed_grouped_map`` batch contract: complete groups,
    key-sorted). One run-length scan of the key columns replaces pandas
    ``groupby`` hashing + per-group index bookkeeping in the apply
    functions — measured 1.5-2x less per-group overhead on the packed
    Arrow stages, which compounds at 100 TB group counts (guide §4.2:
    per-batch work should be vectorized, the per-group residue minimal).
    Callers slice whole-batch numpy arrays with ``arr[s:e]``; group key
    values are ``arr[s]``. Empty frames yield empty boundary arrays.

    A null key is one group, as in Spark's ``groupBy``: Arrow hands a null
    ``long``/``double``/timestamp key to pandas as NaN or NaT, which
    compare unequal to themselves, so two missing values count as equal
    in float and datetime columns (object columns hold ``None``, which
    already compares equal).
    """
    n = len(pdf)
    if not n:
        z = np.empty(0, dtype=np.int64)
        return z, z
    change = np.zeros(n - 1, dtype=bool)
    for k in keys:
        a = pdf[k].to_numpy()
        differ = a[1:] != a[:-1]
        if a.dtype.kind in "fmM":
            na = pd.isna(a)
            differ &= ~(na[1:] & na[:-1])
        change |= differ
    cuts = np.flatnonzero(change) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [n]))
    return starts, ends


def packed_grouped_map(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    apply_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Grouped map over key-packed Arrow batches (see module docstring).

    ``apply_fn(pdf) -> pdf`` sees ≥1 complete groups sorted by
    ``keys + order_cols``; it must handle every group in ``pdf``. A
    function of one series belongs in :func:`per_series`; a batch kernel
    cuts the groups with :func:`key_slices` (slice whole-batch arrays by
    its boundaries), not ``pdf.groupby(keys, sort=False)``, which hashes
    every row and drops null-key groups.

    ``num_partitions``: None (default) pins the exchange to the session's
    shuffle parallelism; 0 leaves it AQE-coalescible (byte-sized). Pin
    for apply fns whose per-row Python cost dwarfs bytes (LTTB, Kalman,
    per-series DP loops) — byte-based coalescing collapses those to ONE
    single-threaded task at bench scale (measured: events_lttb_user
    spent 0.84 s in one Python task on a 32-core host). Leave 0 for
    apply fns that are cheap vectorized passes over their bytes (the
    multi-RHS forecast fit: 27 ms of Python for the whole sf0.1 corpus)
    — there the per-task Python round trip dominates, fewer bigger tasks
    win, and bytes ARE the right cost model, so AQE sizing stays correct
    at cluster scale (measured round 14: the pinned fit 0.33 s vs 0.19 s
    coalesced on the timed path).
    """
    if num_partitions is None:
        num_partitions = shuffle_parallelism(df)
    if num_partitions == 0:
        parted = df.repartition(*keys)
    else:
        parted = df.repartition(num_partitions, *keys)
    parted = parted.sortWithinPartitions(*keys, *order_cols)

    def _mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            # the tail group may continue in the next batch — hold it back
            split = int(key_slices(pdf, keys)[0][-1])
            pending = pdf.iloc[split:].reset_index(drop=True)
            if split:
                yield apply_fn(pdf.iloc[:split].reset_index(drop=True))
        if pending is not None and len(pending):
            yield apply_fn(pending)

    return parted.mapInPandas(_mapper, schema)


def key_schema(df: DataFrame, cols: list[str]) -> str:
    """DDL of ``df``'s columns ``cols``, in ``cols`` order: the leading
    fields of a packed operator's output, which keep their input types."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {types[c]}" for c in cols)


def series(pdf: pd.DataFrame, keys: list[str], cols: list[str]):
    """Walk a packed batch: yields ``(key values, *slices)`` per series, in
    batch order, cut at :func:`key_slices` boundaries, where the slices
    are of ``pdf[c].to_numpy()`` for each ``c`` in ``cols``. Each series
    is already in order: ``packed_grouped_map`` sorts each partition by
    ``keys + order_cols``, so no per-series sort is needed."""
    starts, ends = key_slices(pdf, keys)
    karrs = [pdf[k].to_numpy() for k in keys]
    arrs = [pdf[c].to_numpy() for c in cols]
    for s, e in zip(starts, ends):
        yield (tuple(a[s] for a in karrs), *(a[s:e] for a in arrs))


def with_keys(
    out: pd.DataFrame, kvs: list[tuple], lens: list[int], keys: list[str]
) -> pd.DataFrame:
    """Put the key columns in front of ``out``, whose rows are the series'
    outputs back to back: series i owns ``lens[i]`` rows with key values
    ``kvs[i]``. One ``np.repeat`` per key column, not one setitem per
    series."""
    for i, k in enumerate(keys):
        out.insert(i, k, np.repeat(np.array([kv[i] for kv in kvs]), lens))
    return out


def per_series(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    cols: list[str],
    fit: Callable[..., dict | None],
    out_schema: str,
) -> DataFrame:
    """Run ``fit(*slices)`` once per series of ``df`` on the packed
    grouped-map path, where the slices are the series' rows of the
    ``cols`` columns (see :func:`series`), sorted by ``order_cols``. Only
    ``keys + order_cols + cols`` cross into Python. ``fit`` returns a dict
    of equal-length 1-D columns named as in ``out_schema``, or None to
    emit nothing for the series. The output is ``keys…`` (input types)
    followed by ``out_schema``'s fields, one frame per batch."""
    out_cols = DataType.fromDDL(out_schema).names

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        kvs, parts = [], []
        for kv, *slices in series(pdf, keys, cols):
            part = fit(*slices)
            if part is not None:
                kvs.append(kv)
                parts.append(part)
        if not parts:
            return pd.DataFrame(columns=[*keys, *out_cols])
        out = pd.DataFrame(
            {c: np.concatenate([p[c] for p in parts]) for c in out_cols}
        )
        return with_keys(out, kvs, [len(p[out_cols[0]]) for p in parts], keys)

    return packed_grouped_map(
        df.select(*dict.fromkeys([*keys, *order_cols, *cols])),
        keys,
        order_cols,
        _batch,
        f"{key_schema(df, keys)}, {out_schema}",
    )
