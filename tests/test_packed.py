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
import pytest

from time_series_spark_spark.operators.packed import packed_grouped_map
from time_series_spark_spark.operators.timeseries import ewma


@pytest.fixture()
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield spark
    spark.conf.set(key, old)


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
    spark = tiny_batches
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 20 + ["b"] * 3 + ["c"] * 1,
            "t": list(range(20)) + list(range(3)) + [0],
            "v": [float(x) for x in range(24)],
        }
    )
    df = spark.createDataFrame(pdf).orderBy(F.rand(seed=3))
    got = (
        ewma(df, ["key"], "t", "v", alpha=0.25)
        .toPandas()
        .sort_values(["key", "t"])
        .reset_index(drop=True)
    )
    expected = (
        pdf.sort_values(["key", "t"])
        .groupby("key")["v"]
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
    single- and multi-key, ragged sizes, object and int key dtypes."""
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
