"""Round 14: merge-on-read deletion vectors (Delta deletion vectors /
Iceberg v2 position deletes) — DELETE/UPDATE/MERGE gain a
``strategy="mor"`` path that tombstones matched row positions per file
instead of rewriting whole files; readers anti-filter, OPTIMIZE
materializes (dataChange=false), restore/vacuum/history/streaming
compose, and the rival-commit conflict classes extend to ``dv_removes``.
Plus the OPTIMIZE rebase-past-blind-appends that makes compaction land
on a continuously-streamed table (r13 verdict item 3)."""

from __future__ import annotations

import pytest

from time_series_spark_spark.sources import io as io_mod
from time_series_spark_spark.sources.fsio import (
    Snapshot,
    as_table_fs,
)
from time_series_spark_spark.sources.io import (
    ConcurrentCommitError,
    compact_versioned,
    delete_versioned,
    describe_versioned_history,
    merge_versioned,
    read_versioned,
    restore_versioned,
    update_versioned,
    vacuum_versioned,
    write_versioned,
)


def _two_file_table(spark, tmp_path, name="vt"):
    """k 0..9: file A holds k<5 (v0), file B holds k>=5 (v1 append)."""
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, i * 10, f"g{i % 2}") for i in range(10)],
        "k long, val long, grp string",
    )
    write_versioned(df.filter("k < 5").coalesce(1), path)
    write_versioned(
        df.filter("k >= 5").coalesce(1), path, carry_forward=True
    )
    return path


def _changelog(spark, rows):
    return spark.createDataFrame(
        rows, "k long, op string, new_val long, new_grp string"
    )


def test_mor_point_delete_write_amplification(spark, tmp_path):
    """The headline economics: a point delete on a multi-file table
    stages ZERO data bytes and rewrites ZERO files (CoW rewrites the
    whole containing file) — every pre-existing file is carried by
    manifest reference, and only the manifest/DV metadata grows."""
    path = _two_file_table(spark, tmp_path)
    tfs = as_table_fs(path)
    before = Snapshot(tfs, 1).files
    rep = delete_versioned(spark, path, "k = 7", strategy="mor")
    assert rep["bytes_staged"] == 0
    assert rep["n_files_added"] == 0
    assert rep["n_files_tombstoned"] == 1
    assert rep["n_rows_tombstoned"] == 1
    # the snapshot's file list is IDENTICAL — nothing was rewritten
    assert Snapshot(tfs, rep["version"]).files == before
    got = sorted(r["k"] for r in read_versioned(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    # the manifest records the MoR conflict-class marker
    m = tfs.read_json(f"_manifest.{rep['version']}.json")
    assert m["removes"] == [] and len(m["dv_removes"]) == 1
    assert m["mode"] == "delete"


def test_mor_equals_cow_across_all_three_ops(spark, tmp_path):
    """Semantics parity: the same DELETE → UPDATE → MERGE sequence run
    MoR on one table and CoW on an identical clone yields identical
    snapshots at every step (the oracle query pins the same law against
    the closed-form relational merge)."""
    p_mor = _two_file_table(spark, tmp_path, "mor")
    p_cow = _two_file_table(spark, tmp_path, "cow")

    def both(fn):
        return fn(p_mor, "mor"), fn(p_cow, "cow")

    def snap(p):
        return sorted(
            (r["k"], r["val"], r["grp"])
            for r in read_versioned(spark, p).collect()
        )

    both(lambda p, s: delete_versioned(spark, p, "k in (1, 8)", strategy=s))
    assert snap(p_mor) == snap(p_cow)
    both(
        lambda p, s: update_versioned(
            spark, p, "k >= 6", {"val": "val + 5"}, strategy=s
        )
    )
    assert snap(p_mor) == snap(p_cow)
    ch = [
        (2, "delete", None, None),
        (3, "update", 999, "gx"),
        (100, "insert", 1000, "gy"),
        (200, "update", 2000, "gz"),  # absent key → insert arm
    ]
    both(
        lambda p, s: merge_versioned(
            spark, p, _changelog(spark, ch), ["k"], strategy=s
        )
    )
    assert snap(p_mor) == snap(p_cow)
    # NULL-predicate rows survive MoR DELETE like CoW (SQL semantics)
    both(
        lambda p, s: delete_versioned(
            spark, p, "if(k = 0, null, k = 4)", strategy=s
        )
    )
    assert snap(p_mor) == snap(p_cow)
    ks = [k for k, _, _ in snap(p_mor)]
    assert 0 in ks and 4 not in ks


def test_mor_tombstones_accumulate_and_time_travel(spark, tmp_path):
    """Successive MoR deletes against the same file merge their
    deletion vectors; re-deleting already-tombstoned rows is a no-op;
    every intermediate version time-travels with its own dv state."""
    path = _two_file_table(spark, tmp_path)
    r1 = delete_versioned(spark, path, "k = 1", strategy="mor")
    r2 = delete_versioned(spark, path, "k = 2", strategy="mor")
    tfs = as_table_fs(path)
    dv = Snapshot(tfs, r2["version"]).dvs
    assert sum(len(ps) for ps in dv.values()) == 2
    # idempotent re-delete: rows already tombstoned add nothing
    r3 = delete_versioned(spark, path, "k <= 2", strategy="mor")
    assert r3["n_rows_tombstoned"] == 1  # only k=0 is new
    assert read_versioned(spark, path).count() == 7
    # time travel: each version sees exactly its own tombstones
    assert read_versioned(spark, path, as_of=1).count() == 10
    assert read_versioned(spark, path, as_of=r1["version"]).count() == 9
    assert read_versioned(spark, path, as_of=r2["version"]).count() == 8


def test_cow_after_mor_does_not_resurrect(spark, tmp_path):
    """A CoW rewrite of a DV-bearing file must apply the tombstones (the
    rewrite reads DV-filtered) and drop the file's dv entry — the
    resurrect-deleted-rows trap."""
    path = _two_file_table(spark, tmp_path)
    delete_versioned(spark, path, "k = 1", strategy="mor")
    # CoW update touches file A (k<5) — the file holding k=1's tombstone
    rep = update_versioned(spark, path, "k = 2", {"val": "998"})
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert 1 not in got and got[2] == 998 and len(got) == 9
    assert Snapshot(as_table_fs(path), rep["version"]).dvs == {}


def test_mor_compaction_materializes_and_restore_resurrects(
    spark, tmp_path
):
    """OPTIMIZE reads DV-aware and publishes with the dv fields cleared
    (materialized, dataChange=false); RESTORE to a DV-bearing version
    brings its tombstone state back; vacuum afterwards keeps referenced
    _dv sidecars and the checkpoint append path carries dv forward."""
    path = _two_file_table(spark, tmp_path)
    r1 = delete_versioned(spark, path, "k in (1, 7)", strategy="mor")
    rows_before = sorted(
        r["k"] for r in read_versioned(spark, path).collect()
    )
    rep = compact_versioned(spark, path, target_file_bytes=1 << 30)
    tfs = as_table_fs(path)
    assert Snapshot(tfs, rep["version"]).dvs == {}
    assert (
        sorted(r["k"] for r in read_versioned(spark, path).collect())
        == rows_before
    )
    m = tfs.read_json(f"_manifest.{rep['version']}.json")
    assert m["mode"] == "optimize"
    # restore to the pre-optimize DV version: tombstones come back
    v = restore_versioned(path, r1["version"])
    assert Snapshot(tfs, v).dvs != {}
    assert (
        sorted(r["k"] for r in read_versioned(spark, path).collect())
        == rows_before
    )


def test_mor_dv_sidecar_spill_roundtrip(spark, tmp_path, monkeypatch):
    """Past _DV_INLINE_MAX_POSITIONS total tombstones the dv state spills
    to a _dv.*.parquet sidecar; resolution and reads are identical, and
    vacuum's orphan pass leaves referenced sidecars alone."""
    monkeypatch.setattr(io_mod, "_DV_INLINE_MAX_POSITIONS", 3)
    path = _two_file_table(spark, tmp_path)
    rep = delete_versioned(
        spark, path, "k in (0, 2, 4, 6, 8)", strategy="mor"
    )
    tfs = as_table_fs(path)
    m = tfs.read_json(f"_manifest.{rep['version']}.json")
    assert "dv" not in m and m["dv_parquet"].startswith("_dv.")
    assert tfs.exists(m["dv_parquet"])
    dv = Snapshot(tfs, rep["version"]).dvs
    assert sum(len(ps) for ps in dv.values()) == 5
    assert sorted(
        r["k"] for r in read_versioned(spark, path).collect()
    ) == [1, 3, 5, 7, 9]
    # vacuum: the referenced dv sidecar survives the orphan pass
    vacuum_versioned(path, keep_last=1)
    assert tfs.exists(m["dv_parquet"])
    assert sorted(
        r["k"] for r in read_versioned(spark, path).collect()
    ) == [1, 3, 5, 7, 9]


def test_mor_rebase_past_blind_append_and_conflicts(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """A MoR commit losing its race applies the CoW conflict classes
    with its tombstone TARGET files as the touched set: blind appends
    and DISJOINT-FILE row-level rivals rebase; a rival that REWROTE a
    target file refuses loudly."""
    path = _two_file_table(spark, tmp_path)
    write_versioned(
        spark.createDataFrame(
            [(50, 500, "gz")], "k long, val long, grp string"
        ),
        path,
        carry_forward=True,
    )  # blind append at v2
    stale_latest_once(1)
    rep = delete_versioned(spark, path, "k = 1", strategy="mor")
    monkeypatch.undo()
    assert rep["version"] == 3
    got = sorted(r["k"] for r in read_versioned(spark, path).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7, 8, 9, 50]

    # DISJOINT-FILE CoW winner (k=7 lives in file B, loser targets file
    # A): the multi-writer CDC case — the MoR loser rebases and lands
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )  # v4, CoW merge on file B
    stale_latest_once(3)
    rep2 = delete_versioned(spark, path, "k = 2", strategy="mor")
    monkeypatch.undo()
    assert rep2["version"] == 5 and rep2["n_rebases"] == 1
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert 2 not in got and got[7] == 777

    # a winner that REWROTE the loser's target file refuses: CoW merge
    # on k=3 rewrites what's left of file A, MoR delete of k=0 targets it
    merge_versioned(
        spark, path, _changelog(spark, [(3, "update", 333, "g3")]), ["k"]
    )  # v6, CoW merge rewriting file A
    stale_latest_once(5)
    with pytest.raises(ConcurrentCommitError, match="also touched"):
        delete_versioned(spark, path, "k = 0", strategy="mor")
    monkeypatch.undo()
    # the loser's change did NOT apply
    assert 0 in {r["k"] for r in read_versioned(spark, path).collect()}


def test_cow_rebase_conflicts_on_rival_dv_removes(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """The new conflict class: a CoW loser whose touched file was
    TOMBSTONED by a MoR winner must refuse to rebase — re-publishing its
    staged rewrite would resurrect the winner's deletes."""
    path = _two_file_table(spark, tmp_path)
    delete_versioned(spark, path, "k = 1", strategy="mor")  # v2 MoR winner
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="tombstoned rows"):
        merge_versioned(
            spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
        )
    monkeypatch.undo()
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert 1 not in got and got[2] == 20  # winner applied, loser not


def test_optimize_rebase_past_streaming_append(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """r13 verdict item 3: OPTIMIZE racing a blind append lands at N+2
    carrying BOTH the compacted layout and the appended batch — no
    re-read, no re-write; racing a non-append winner still refuses."""
    path = _two_file_table(spark, tmp_path)
    write_versioned(
        spark.createDataFrame(
            [(60, 600, "gs")], "k long, val long, grp string"
        ).coalesce(1),
        path,
        carry_forward=True,
    )  # the "streaming" append at v2
    stale_latest_once(1)
    rep = compact_versioned(spark, path, target_file_bytes=1 << 30)
    monkeypatch.undo()
    assert rep["version"] == 3
    assert rep["n_files_rebase_carried"] == 1
    got = sorted(r["k"] for r in read_versioned(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 60]
    tfs = as_table_fs(path)
    m = tfs.read_json("_manifest.3.json")
    assert m["mode"] == "optimize"
    # the appended file is carried in the snapshot but NOT in this
    # commit's adds (it was added by the append's own commit)
    assert len(m["adds"]) + 1 == m["n_files"]

    # non-append winner → refuse
    merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
    )  # v4
    stale_latest_once(3)
    with pytest.raises(ConcurrentCommitError, match="non-append winner"):
        compact_versioned(spark, path, target_file_bytes=1 << 30)
    monkeypatch.undo()
    # no orphaned staging dirs after the refused optimize
    referenced = {
        f.split("/")[0]
        for v in range(5)
        for f in Snapshot(tfs, v).files
    }
    assert {d for d in tfs.ls() if d.startswith("v=")} == referenced


def test_mor_streaming_postures(spark, tmp_path):
    """J11e × MoR: a fresh snapshot-start on a DV-bearing table raises
    loudly (raw row-group reads would emit deleted rows); the
    incremental feed treats MoR commits exactly like CoW row-level
    commits — onReplace=fail refuses, onReplace=added emits only the
    commit's added files (deletes are never retracted)."""
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    path = _two_file_table(spark, tmp_path)
    delete_versioned(spark, path, "k = 1", strategy="mor")  # v2
    merge_versioned(
        spark,
        path,
        _changelog(spark, [(100, "insert", 1000, "gy")]),
        ["k"],
        strategy="mor",
    )  # v3: adds one file

    rd = VersionedTableStreamReader({"path": path})
    with pytest.raises(ValueError, match="deletion vectors"):
        rd.partitions(
            {"version": 3, "snapshot": True}, {"version": 3, "snapshot": False}
        )

    # incremental feed across the MoR commits, onReplace=added: the
    # delete emits nothing (no adds), the merge emits its appended file
    span = ({"version": 1, "snapshot": False}, {"version": 3, "snapshot": False})
    parts = rd.partitions(*span)
    n = sum(sum(b.num_rows for b in rd.read(p)) for p in parts)
    assert n == 1  # just the inserted row

    rd_fail = VersionedTableStreamReader({"path": path, "onReplace": "fail"})
    with pytest.raises(ValueError, match="DELETE"):
        rd_fail.partitions(*span)

    # after OPTIMIZE materializes, a fresh snapshot-start works again
    compact_versioned(spark, path, target_file_bytes=1 << 30)  # v4
    parts = rd.partitions(
        {"version": 4, "snapshot": True}, {"version": 4, "snapshot": False}
    )
    n = sum(sum(b.num_rows for b in rd.read(p)) for p in parts)
    assert n == 10  # 10 - 1 deleted + 1 inserted


def test_mor_merge_schema_evolution(spark, tmp_path):
    """MoR × A13k: an evolving MoR merge commits the new column in the
    same commit; tombstoned/untouched files null-fill under the
    manifest-authoritative schema."""
    path = _two_file_table(spark, tmp_path)
    ch = spark.createDataFrame(
        [(3, "update", 333, "gx", "gold"), (100, "insert", 1000, "gy", "new")],
        "k long, op string, new_val long, new_grp string, new_tier string",
    )
    rep = merge_versioned(
        spark, path, ch, ["k"], strategy="mor", merge_schema=True
    )
    got = {
        r["k"]: (r["val"], r["tier"])
        for r in read_versioned(spark, path).collect()
    }
    assert got[3] == (333, "gold") and got[100] == (1000, "new")
    assert got[7] == (70, None)  # untouched row null-fills
    assert len(got) == 11
    assert rep["n_rows_tombstoned"] == 1
    # pre-merge versions still read the OLD schema
    assert "tier" not in read_versioned(spark, path, as_of=1).columns


def test_mor_rebase_readset_and_rival_tombstone_conflicts(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """The two subtle MoR-vs-MoR races: a rival MoR UPDATE of a key this
    merge also touches conflicts via the exact read-set scan over the
    rival's appended copy (rebasing would duplicate the key); a rival
    tombstone IN a target file conflicts conservatively (positional
    dv union cannot be key-checked without a scan of the old file)."""
    path = _two_file_table(spark, tmp_path)
    # rival MoR merge INSERTS key 100 (no tombstones, one added file);
    # the loser upserts the same key against the stale snapshot — its
    # find-touched saw nothing, so only the exact read-set scan over the
    # rival's added file can catch the would-be duplicate
    merge_versioned(
        spark,
        path,
        _changelog(spark, [(100, "insert", 222, "gw")]),
        ["k"],
        strategy="mor",
    )
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="read set"):
        merge_versioned(
            spark,
            path,
            _changelog(spark, [(100, "update", 999, "gx")]),
            ["k"],
            strategy="mor",
        )
    monkeypatch.undo()
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[100] == 222  # winner's insert survived, loser's refused

    # rival MoR delete of k=1 (file A): a loser tombstoning k=3 in the
    # SAME file refuses conservatively (positional union cannot be
    # key-checked without scanning the old file)
    delete_versioned(spark, path, "k = 1", strategy="mor")  # v3
    stale_latest_once(2)
    with pytest.raises(ConcurrentCommitError, match="tombstoned rows"):
        delete_versioned(spark, path, "k = 3", strategy="mor")
    monkeypatch.undo()
    ks = {r["k"] for r in read_versioned(spark, path).collect()}
    assert 1 not in ks and 3 in ks


def _race_mor_merge(path, lo, hi, barrier, results):
    """Child-process body for test_two_process_mor_race_disjoint: a REAL
    local SparkSession running the production MoR merge path — the
    DV-aware find-matched scan, tombstone collect, append staging,
    commit race, and rebase all execute production code per process."""
    try:
        from time_series_spark_spark.session import get_spark
        from time_series_spark_spark.sources.io import merge_versioned

        spark = get_spark(
            f"mor-race-{lo}",
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={"spark.driver.memory": "1g"},
        )
        ch = spark.createDataFrame(
            [(k, "update", k * 1000, "gr") for k in range(lo, hi)],
            "k long, op string, new_val long, new_grp string",
        )
        barrier.wait(timeout=180)
        rep = merge_versioned(
            spark, path, ch, ["k"], max_attempts=5, strategy="mor"
        )
        results.put((lo, rep["version"]))
        spark.stop()
    except Exception as e:  # noqa: BLE001 — surface in the assert
        results.put((lo, f"{type(e).__name__}: {e}"))


def test_two_process_mor_race_disjoint(spark, tmp_path):
    """A REAL two-process race of two MERGE-ON-READ commits over
    disjoint key ranges in DIFFERENT files: one wins v2, the loser
    rebases its staged tombstones + appended file onto the winner's
    snapshot and lands v3 — both updates applied, both dv sets live,
    history shows two merge commits."""
    import multiprocessing as mp

    path = _two_file_table(spark, tmp_path)  # k 0..9 over two files

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(2)
    results: "mp.Queue" = ctx.Queue()
    ps = [
        ctx.Process(
            target=_race_mor_merge, args=(path, lo, hi, barrier, results)
        )
        for lo, hi in ((0, 3), (7, 10))  # file A keys vs file B keys
    ]
    for p in ps:
        p.start()
    outcomes = dict(results.get(timeout=600) for _ in ps)
    for p in ps:
        p.join(timeout=600)
    assert sorted(
        v for v in outcomes.values() if isinstance(v, int)
    ) == [2, 3], outcomes
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    for k in (0, 1, 2, 7, 8, 9):
        assert got[k] == k * 1000
    for k in (3, 4, 5, 6):
        assert got[k] == k * 10  # untouched middle keys pass through
    hist = describe_versioned_history(spark, path).collect()
    assert [r["mode"] for r in sorted(hist, key=lambda r: r["version"])] == [
        "append", "append", "merge", "merge"
    ]
    # both MoR commits' tombstones are live in the final dv state (the
    # rebase merged the loser's positions onto the winner's state)
    dv = Snapshot(as_table_fs(path), 3).dvs
    assert sum(len(ps_) for ps_ in dv.values()) == 6  # 3 keys per writer


def test_change_feed_across_mor_commits(spark, tmp_path):
    """M8 × A13n: the version change feed (snapshot diff between two
    read_versioned frames) sees MoR tombstones as DELETES and MoR
    upserts as UPDATES/INSERTS — the reader's DV anti-filter makes the
    diff layer entirely oblivious to the storage strategy."""
    from time_series_spark_spark.operators.cdc import snapshot_diff

    path = _two_file_table(spark, tmp_path)
    delete_versioned(spark, path, "k = 1", strategy="mor")  # v2
    merge_versioned(
        spark,
        path,
        _changelog(
            spark, [(2, "update", 999, "gx"), (100, "insert", 1000, "gy")]
        ),
        ["k"],
        strategy="mor",
    )  # v3
    old = read_versioned(spark, path, as_of=1)
    new = read_versioned(spark, path, as_of=3)
    diff = snapshot_diff(old, new, ["k"], ["val", "grp"])
    ops = {r["k"]: r["op"] for r in diff.collect()}
    assert ops == {1: "delete", 2: "update", 100: "insert"}
