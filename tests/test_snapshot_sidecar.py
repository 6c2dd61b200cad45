"""Round 13: parquet snapshot sidecars (Delta's parquet checkpoints) —
snapshots at/above _PARQUET_SNAPSHOT_MIN_FILES spill the file list +
per-file stats to a columnar sidecar; every reader (batch, planner,
streaming source, vacuum, history, CoW) resolves through it
identically to inline JSON."""

from __future__ import annotations

import json

import pytest

from time_series_spark_spark.sources import io as io_mod
from time_series_spark_spark.sources.fsio import (
    Snapshot,
    as_table_fs,
)
from time_series_spark_spark.sources.io import (
    describe_versioned_history,
    merge_versioned,
    prune_files_by_stats,
    read_versioned,
    restore_versioned,
    vacuum_versioned,
    write_versioned,
)


@pytest.fixture()
def low_threshold(monkeypatch):
    monkeypatch.setattr(io_mod, "_PARQUET_SNAPSHOT_MIN_FILES", 4)


def _table(spark, tmp_path, n_files=8, name="vt"):
    path = str(tmp_path / name)
    df = spark.range(800).selectExpr("id as k", "id * 2 as v")
    write_versioned(
        df.repartitionByRange(n_files, "k").sortWithinPartitions("k"), path
    )
    return path


def test_sidecar_written_and_resolves_identically(
    spark, tmp_path, low_threshold
):
    """Above the threshold the manifest carries files_parquet (no inline
    files/file_stats/col_stats), the JSON stays O(header + adds), and
    all three fsio resolvers return exactly what an inline table's
    would."""
    path = _table(spark, tmp_path, n_files=8)
    tfs = as_table_fs(path)
    m = tfs.read_json("_manifest.0.json")
    assert "files_parquet" in m
    assert "files" not in m and "file_stats" not in m and "col_stats" not in m
    assert tfs.exists(m["files_parquet"])

    files = Snapshot(tfs, 0).files
    assert len(files) == 8 == m["n_files"]
    stats = Snapshot(tfs, 0).file_stats
    assert set(stats) == set(files)
    assert all(isinstance(v, list) and v for v in stats.values())
    cstats = Snapshot(tfs, 0).col_stats
    assert set(cstats) == set(files)
    assert all("k" in env and "v" in env for env in cstats.values())
    # the table reads back whole
    assert read_versioned(spark, path).count() == 800
    # data skipping plans from the sidecar envelopes
    kept, skipped = prune_files_by_stats(path, 0, "k", 0, 90)
    assert len(kept) == 1 and len(skipped) == 7
    # an inline table (threshold not crossed) gives identical shapes
    path2 = str(tmp_path / "inline")
    io_mod._PARQUET_SNAPSHOT_MIN_FILES = 10_000
    df = spark.range(800).selectExpr("id as k", "id * 2 as v")
    write_versioned(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"), path2
    )
    tfs2 = as_table_fs(path2)
    assert "files" in tfs2.read_json("_manifest.0.json")
    assert len(Snapshot(tfs2, 0).files) == 8
    assert set(Snapshot(tfs2, 0).col_stats) == set(Snapshot(tfs2, 0).files)


def test_sidecar_composes_with_cow_vacuum_restore_history(
    spark, tmp_path, low_threshold
):
    """The whole A13 family across sidecar snapshots: carry-forward
    appends chain off them, a checkpointed append re-spills, CoW merge
    rewrites only touched files and re-publishes a sidecar, restore
    re-references, vacuum reference-counts through them, history flags
    checkpoints."""
    path = _table(spark, tmp_path, n_files=8)
    write_versioned(
        spark.range(800, 810).selectExpr("id as k", "id * 2 as v"),
        path,
        carry_forward=True,
    )
    assert read_versioned(spark, path).count() == 810
    rep = merge_versioned(
        spark,
        path,
        spark.createDataFrame(
            [(5, "update", 999), (9000, "insert", 1)],
            "k long, op string, new_v long",
        ),
        ["k"],
    )
    assert rep["n_files_rewritten"] == 1  # envelope-pruned to file 1 of 9
    tfs = as_table_fs(path)
    m2 = tfs.read_json("_manifest.2.json")
    assert "files_parquet" in m2  # the CoW snapshot re-spilled
    got = {r["k"]: r["v"] for r in read_versioned(spark, path).collect()}
    assert got[5] == 999 and got[9000] == 1 and len(got) == 811
    v3 = restore_versioned(path, 1)
    assert v3 == 3
    assert "files_parquet" in tfs.read_json("_manifest.3.json")
    assert read_versioned(spark, path).count() == 810
    hist = {
        r["version"]: (r["mode"], r["is_checkpoint"])
        for r in describe_versioned_history(spark, path).collect()
    }
    assert hist[0] == ("append", True)
    assert hist[1] == ("append", False)  # delta manifest
    assert hist[2] == ("merge", True)
    assert hist[3] == ("restore", True)
    rep = vacuum_versioned(path, keep_last=2)
    assert rep["floor"] == 2
    # v2's merge output file is unreferenced by v3 (restore to v1) but
    # retained because v2 >= floor; v0/v1 files survive via v3's refs
    assert read_versioned(spark, path).count() == 810
    assert read_versioned(spark, path, as_of=2).count() == 811


def test_sidecar_loser_cleanup_on_commit_race(
    spark, tmp_path, low_threshold, monkeypatch
):
    """A loser of the put-if-absent race removes its orphaned sidecar
    along with its staging directory."""
    import time_series_spark_spark.sources.fsio as fsio_mod

    path = _table(spark, tmp_path, n_files=8)
    tfs = as_table_fs(path)
    stolen = dict(tfs.read_json("_manifest.0.json"))
    stolen["version"] = 1
    tfs.write_json_atomic(stolen, "_manifest.1.json", if_absent=True)
    monkeypatch.setattr(fsio_mod, "latest_version", lambda _t: 0)
    with pytest.raises(FileExistsError):
        write_versioned(
            spark.range(99).selectExpr("id as k", "id as v").repartition(6),
            path,
        )
    monkeypatch.undo()
    sidecars = [n for n in tfs.ls() if n.startswith("_snapshot.1-")]
    assert sidecars == []  # loser's sidecar removed with its staging dir


def test_sidecar_streaming_source_plans_without_footer_reads(
    spark, tmp_path, low_threshold
):
    """J11e across a sidecar snapshot: the fresh-consumer snapshot plan
    resolves files AND row-group split stats from the sidecar — zero
    parquet FOOTER reads (sidecar data reads are fine; that is the
    point) — and the feed's rows match the batch read."""
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    path = _table(spark, tmp_path, n_files=8)
    write_versioned(
        spark.range(800, 805).selectExpr("id as k", "id * 2 as v"),
        path,
        carry_forward=True,
    )
    rd = VersionedTableStreamReader({"path": path})
    import pyarrow.parquet as pq

    real_pf = pq.ParquetFile
    opened: list = []

    class CountingPF(real_pf):
        def __init__(self, source, *a, **kw):
            opened.append(str(source))
            super().__init__(source, *a, **kw)

    pq.ParquetFile = CountingPF
    try:
        parts = rd.partitions(
            {"version": 0, "snapshot": True}, {"version": 1, "snapshot": False}
        )
    finally:
        pq.ParquetFile = real_pf
    data_footers = [p for p in opened if "v=" in p]
    assert data_footers == []  # all split stats came from the sidecar
    n = sum(sum(b.num_rows for b in rd.read(p)) for p in parts)
    assert n == 805


def test_distributed_prune_equals_driver_prune(
    spark, tmp_path, low_threshold
):
    """Round 14 (r13 verdict item 4): the Spark-job skipping plan over
    the sidecar returns EXACTLY the driver resolver's kept set —
    including post-checkpoint delta adds (evaluated O(Δ) driver-side),
    stat-less files (never pruned), and open-ended ranges — and
    read_versioned routes through it above _PRUNE_DISTRIBUTED_MIN_FILES."""
    from time_series_spark_spark.sources.io import (
        prune_files_kept_distributed,
    )

    path = _table(spark, tmp_path, n_files=8)  # sidecar snapshot at v0
    # delta adds on top of the checkpoint: two appends with disjoint
    # k-ranges (their envelopes live in add_col_stats, not the sidecar)
    write_versioned(
        spark.range(1000, 1100)
        .selectExpr("id as k", "id * 2 as v")
        .coalesce(1),
        path,
        carry_forward=True,
    )
    write_versioned(
        spark.range(2000, 2100)
        .selectExpr("id as k", "id * 2 as v")
        .coalesce(1),
        path,
        carry_forward=True,
    )
    for lo, hi in ((0, 90), (None, 150), (1050, None), (5000, 6000)):
        kept_driver, _ = prune_files_by_stats(path, 2, "k", lo, hi)
        kept_dist = prune_files_kept_distributed(spark, path, 2, "k", lo, hi)
        assert kept_dist == sorted(kept_driver), (lo, hi)
    # a column with no envelopes anywhere: everything kept, both paths
    kept_driver, _ = prune_files_by_stats(path, 2, "__nope", 0, 1)
    assert prune_files_kept_distributed(
        spark, path, 2, "__nope", 0, 1
    ) == sorted(kept_driver)
    # read_versioned takes the distributed plan above the threshold and
    # returns the same rows
    import time_series_spark_spark.sources.io as io_mod2

    expect = sorted(
        r["k"]
        for r in read_versioned(spark, path, prune=("k", 0, 90))
        .filter("k between 0 and 90")
        .collect()
    )
    old = io_mod2._PRUNE_DISTRIBUTED_MIN_FILES
    try:
        io_mod2._PRUNE_DISTRIBUTED_MIN_FILES = 1
        got = sorted(
            r["k"]
            for r in read_versioned(spark, path, prune=("k", 0, 90))
            .filter("k between 0 and 90")
            .collect()
        )
    finally:
        io_mod2._PRUNE_DISTRIBUTED_MIN_FILES = old
    assert got == expect == list(range(0, 91))
