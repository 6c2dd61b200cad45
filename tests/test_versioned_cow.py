"""A13f row-level MERGE / DELETE / UPDATE on the manifest-versioned table
(round 12): copy-on-write commits that rewrite only the files containing
matched rows, plus the commit-protocol hardening that shipped with them —
writer-unique data staging (ADVICE item 1), monotonic committed_at
stamps (ADVICE item 2), and the scaled DESCRIBE HISTORY."""

from __future__ import annotations

import pytest

from time_series_spark_spark.sources.fsio import Snapshot, as_table_fs
from time_series_spark_spark.sources.io import (
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
    """k 0..9: file A holds k<5, file B holds k>=5 (two commits)."""
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


def test_merge_upsert_delete_insert(spark, tmp_path):
    """MERGE semantics: delete drops, update overwrites, insert adds, an
    update on an absent key inserts (WHEN NOT MATCHED), untouched rows
    pass through byte-identical."""
    path = _two_file_table(spark, tmp_path)
    ch = _changelog(
        spark,
        [
            (1, "delete", None, None),
            (2, "update", 999, "g9"),
            (100, "insert", 1000, "gx"),
            (200, "update", 2000, "gy"),  # absent key → insert arm
        ],
    )
    rep = merge_versioned(spark, path, ch, ["k"])
    got = {
        r["k"]: (r["val"], r["grp"])
        for r in read_versioned(spark, path).collect()
    }
    assert 1 not in got
    assert got[2] == (999, "g9")
    assert got[100] == (1000, "gx")
    assert got[200] == (2000, "gy")
    assert got[7] == (70, "g1")  # untouched row intact
    assert len(got) == 9 + 2
    assert rep["n_rows_touched"] == 5  # only file A's rows were read


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """The copy-on-write core: a merge whose keys all live in file A
    carries file B forward BY REFERENCE (same rel path in the new
    manifest, zero I/O) and records the replaced files in `removes`."""
    path = _two_file_table(spark, tmp_path)
    tfs = as_table_fs(path)
    before = Snapshot(tfs, 1).files
    file_b = [f for f in before if f not in Snapshot(tfs, 0).files]
    rep = merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 999, "g9")]), ["k"]
    )
    assert rep["n_files_rewritten"] == 1
    assert rep["n_files_carried"] == 1
    after = Snapshot(tfs, rep["version"]).files
    assert set(file_b) <= set(after)  # carried, not rewritten
    m = tfs.read_json(f"_manifest.{rep['version']}.json")
    assert m["mode"] == "merge"
    assert m["removes"] == [f for f in before if f not in file_b]
    # prior version still time-travels to the pre-merge snapshot
    old = read_versioned(spark, path, as_of=1)
    assert old.filter("k = 2").collect()[0]["val"] == 20


def test_merge_into_empty_and_no_match(spark, tmp_path):
    """Inserts against an empty table and deletes matching nothing both
    commit cleanly (zero touched files)."""
    path = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([], "k long, val long, grp string"), path
    )
    rep = merge_versioned(
        spark, path, _changelog(spark, [(1, "insert", 10, "g0")]), ["k"]
    )
    assert rep["n_files_rewritten"] == 0
    assert read_versioned(spark, path).count() == 1
    rep2 = merge_versioned(
        spark, path, _changelog(spark, [(99, "delete", None, None)]), ["k"]
    )
    assert rep2["n_rows_touched"] == 0
    assert read_versioned(spark, path).count() == 1


def test_merge_validation_errors(spark, tmp_path):
    path = _two_file_table(spark, tmp_path)
    with pytest.raises(ValueError, match="at most one source row"):
        merge_versioned(
            spark,
            path,
            _changelog(
                spark,
                [(2, "update", 1, "a"), (2, "delete", None, None)],
            ),
            ["k"],
        )
    with pytest.raises(ValueError, match="not one of"):
        merge_versioned(
            spark, path, _changelog(spark, [(2, "upsert", 1, "a")]), ["k"]
        )
    with pytest.raises(ValueError, match="missing columns"):
        merge_versioned(
            spark,
            path,
            spark.createDataFrame([(2, "update")], "k long, op string"),
            ["k"],
        )


def test_delete_versioned_predicate_and_null_semantics(spark, tmp_path):
    """DELETE removes only rows where the predicate is TRUE — NULL
    evaluations survive (SQL DELETE semantics) — and rewrites only the
    files containing matches."""
    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40)], "k long, val long"
    )
    write_versioned(df.filter("k <= 2").coalesce(1), path)
    write_versioned(
        df.filter("k > 2").coalesce(1), path, carry_forward=True
    )
    rep = delete_versioned(spark, path, "val < 20")  # NULL for k=2
    assert rep["n_files_rewritten"] == 1  # only the k<=2 file
    got = sorted(r["k"] for r in read_versioned(spark, path).collect())
    assert got == [2, 3, 4]  # k=1 deleted, NULL row kept
    m = as_table_fs(path).read_json(f"_manifest.{rep['version']}.json")
    assert m["mode"] == "delete"


def test_update_versioned_assignments(spark, tmp_path):
    path = _two_file_table(spark, tmp_path)
    rep = update_versioned(
        spark, path, "grp = 'g1'", {"val": "val + 1", "grp": "'bumped'"}
    )
    got = {
        r["k"]: (r["val"], r["grp"])
        for r in read_versioned(spark, path).collect()
    }
    assert got[1] == (11, "bumped") and got[9] == (91, "bumped")
    assert got[2] == (20, "g0")  # non-matching row byte-identical
    m = as_table_fs(path).read_json(f"_manifest.{rep['version']}.json")
    assert m["mode"] == "update"
    with pytest.raises(ValueError, match="unknown columns"):
        update_versioned(spark, path, "k = 1", {"nope": "1"})


def test_cow_commits_in_history_and_stream_posture(spark, tmp_path):
    """DESCRIBE HISTORY surfaces the A13f modes; the J11e streaming
    source refuses them under onReplace=fail (rows logically removed are
    never retracted downstream) and re-emits the rewritten files under
    the default onReplace=added."""
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 999, "g9")]), ["k"]
    )
    delete_versioned(spark, path, "k = 3")
    modes = [
        r["mode"]
        for r in describe_versioned_history(spark, path)
        .orderBy("version")
        .collect()
    ]
    assert modes == ["append", "append", "merge", "delete"]

    span = (
        {"version": 1, "snapshot": False},
        {"version": 2, "snapshot": False},
    )
    rd_fail = VersionedTableStreamReader(
        {"path": path, "onReplace": "fail"}
    )
    with pytest.raises(ValueError, match="MERGE"):
        rd_fail.partitions(*span)
    rd = VersionedTableStreamReader({"path": path})
    n = sum(
        sum(b.num_rows for b in rd.read(p)) for p in rd.partitions(*span)
    )
    assert n == 5  # the rewritten file's rows re-emitted as adds


def test_cow_vacuum_and_restore_interplay(spark, tmp_path):
    """Replaced files stay readable for time travel until vacuum prunes
    them; restore to the pre-merge version re-references the original
    files and re-protects them."""
    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 999, "g9")]), ["k"]
    )
    # restore to pre-merge: metadata-only, snapshot is v1's again
    v = restore_versioned(path, 1)
    assert read_versioned(spark, path).filter("k = 2").collect()[0][
        "val"
    ] == 20
    # vacuum keeping the last 2 versions (v2 merge + v3 restore): the
    # merge's REWRITTEN file is still referenced by retained v2 and
    # survives; nothing the restore re-referenced may be deleted
    rep = vacuum_versioned(path, keep_last=2)
    assert rep["floor"] == 2
    assert read_versioned(spark, path, as_of=v).count() == 10
    with pytest.raises(ValueError, match="retention floor"):
        read_versioned(spark, path, as_of=1)


def test_committed_at_monotonic_under_clock_regression(
    spark, tmp_path, monkeypatch
):
    """ADVICE item 2: commit stamps are max(prev + 1, now) — a wall
    clock stepping BACKWARDS between commits still yields strictly
    increasing committed_at, keeping TIMESTAMP AS OF total-ordered."""
    import time as real_time

    import time_series_spark_spark.sources.io as io_mod

    path = str(tmp_path / "vt")
    t0 = int(real_time.time() * 1_000_000)
    clock = iter([t0, t0 - 3_600_000_000, t0 - 7_200_000_000])
    monkeypatch.setattr(io_mod, "_now_us", lambda: next(clock))
    write_versioned(spark.range(1).selectExpr("id"), path)
    write_versioned(
        spark.range(1, 2).selectExpr("id"), path, carry_forward=True
    )
    write_versioned(
        spark.range(2, 3).selectExpr("id"), path, carry_forward=True
    )
    tfs = as_table_fs(path)
    stamps = [
        tfs.read_json(f"_manifest.{v}.json")["committed_at"]
        for v in range(3)
    ]
    assert stamps[0] == t0
    # the regressed clock was clamped to prev + 1 — strictly increasing
    assert stamps[1] == stamps[0] + 1 and stamps[2] == stamps[1] + 1
    # boundary-exact timestamp travel still resolves each version
    monkeypatch.undo()
    for v in range(3):
        got = read_versioned(spark, path, as_of_timestamp=stamps[v])
        assert got.count() == v + 1


def test_writer_unique_staging_and_loser_cleanup(spark, tmp_path, monkeypatch):
    """ADVICE item 1: each writer stages data under its own
    v=N-<token>/ directory, so a loser's write can never delete the
    winner's data files; on publish loss the loser's staging dir is
    removed. The race is simulated by pre-publishing the version the
    writer resolves (latest_version pinned to the pre-race view —
    otherwise the probe-forward would simply see the rival's manifest
    and commit the next number)."""
    import time_series_spark_spark.sources.fsio as fsio_mod

    path = str(tmp_path / "vt")
    write_versioned(spark.range(5).selectExpr("id"), path)
    tfs = as_table_fs(path)
    winner_files = Snapshot(tfs, 0).files
    # steal version 1: publish a manifest the racing writer will lose to
    stolen = dict(tfs.read_json("_manifest.0.json"))
    stolen["version"] = 1
    tfs.write_json_atomic(stolen, "_manifest.1.json", if_absent=True)
    monkeypatch.setattr(fsio_mod, "latest_version", lambda _tfs: 0)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        write_versioned(spark.range(99).selectExpr("id"), path)
    monkeypatch.undo()
    # winner's manifest + data intact, loser's staging dir cleaned up
    assert tfs.read_json("_manifest.1.json") == stolen
    for f in winner_files:
        assert tfs.exists(f)
    dirs = [d for d in tfs.ls() if d.startswith("v=1-")]
    assert dirs == []  # no orphaned staging directory
    assert read_versioned(spark, path, as_of=0).count() == 5


def test_two_process_commit_race(spark, tmp_path):
    """A REAL two-process race (r11 verdict item 8): two writers race
    write_versioned on one table via multiprocessing — exactly one wins
    version 1, the loser raises FileExistsError, the ledger/history
    stay consistent, and no orphaned staging dir survives."""
    import multiprocessing as mp

    path = str(tmp_path / "vt")
    write_versioned(spark.range(4).selectExpr("id"), path)

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(2)
    results: "mp.Queue" = ctx.Queue()
    ps = [
        ctx.Process(
            target=_race_commit, args=(path, tag, barrier, results)
        )
        for tag in ("a", "b")
    ]
    for p in ps:
        p.start()
    outcomes = sorted(results.get(timeout=120)[1] for _ in ps)
    for p in ps:
        p.join(timeout=120)
    assert outcomes == ["lost", "won"]
    tfs = as_table_fs(path)
    assert tfs.exists("_manifest.1.json")
    assert not tfs.exists("_manifest.2.json")  # exactly one commit landed
    # every staging dir still on disk is referenced by a manifest
    referenced = set(Snapshot(tfs, 1).files) | set(Snapshot(tfs, 0).files)
    ref_dirs = {f.split("/")[0] for f in referenced}
    disk_dirs = {d for d in tfs.ls() if d.startswith("v=")}
    assert disk_dirs == ref_dirs
    assert read_versioned(spark, path, as_of=1).count() == 1


def _race_commit(path, tag, barrier, results):
    """Child-process body for test_two_process_commit_race: write one
    row without Spark (pyarrow), racing the manifest publish. Runs the
    REAL write_versioned with only the Spark df.write step swapped for
    a direct pyarrow parquet write (no SparkSession in a child
    process), so the version resolution, staging layout, put-if-absent
    publish, and loser cleanup are all production code."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from time_series_spark_spark.sources import io as io_mod
    from time_series_spark_spark.sources.fsio import as_table_fs

    tfs = as_table_fs(path)

    class _FakeDF:  # carries only what the replace commit path touches
        schema = T.StructType([T.StructField("id", T.LongType())])

    def _stage(df, tfs_, version):
        import uuid

        stage = f"v={version}-{uuid.uuid4().hex[:8]}"
        tfs_.mkdirs(stage)
        pq.write_table(
            pa.table({"id": pa.array([0], type=pa.int64())}),
            tfs_.path(stage, "part-0.parquet"),
        )
        return stage, [f"{stage}/part-0.parquet"]

    orig = io_mod._stage_data_files
    io_mod._stage_data_files = _stage
    try:
        barrier.wait(timeout=60)
        v = io_mod.write_versioned(_FakeDF(), tfs)
        results.put((tag, "won" if v == 1 else f"v={v}"))
    except FileExistsError:
        results.put((tag, "lost"))
    except Exception as e:  # noqa: BLE001 — surface in the assert
        results.put((tag, f"{type(e).__name__}: {e}"))
    finally:
        io_mod._stage_data_files = orig


def test_describe_history_paging_and_distributed_reads(spark, tmp_path):
    """r11 verdict item 4: DESCRIBE HISTORY over a long history fans the
    manifest reads out via mapInPandas — the driver-side TableFS sees
    only O(1) reads (counted), not O(versions); since_version/limit
    bound the range; output identical to the serial path."""
    from time_series_spark_spark.sources.fsio import TableFS
    from time_series_spark_spark.sources.io import _HISTORY_DRIVER_BATCH

    path = str(tmp_path / "vt")
    tfs = as_table_fs(path)
    tfs.mkdirs()
    n = _HISTORY_DRIVER_BATCH + 36  # force the distributed path
    for v in range(n):
        tfs.write_json_atomic(
            {
                "version": v,
                "mode": "append",
                "committed_at": 1_000 + v,
                "files": [],
                "adds": [],
                "n_rows_added": v,
                "schema": "{}",
                "n_files": 0,
                "batch_id": None,
                "stream_id": None,
                "ledger": [],
            },
            f"_manifest.{v}.json",
        )
    tfs.write_json_atomic({"version": n - 1}, "_latest.json")

    class CountingFS(TableFS):
        reads = 0

        def read_json(self, *rel):
            CountingFS.reads += 1
            return super().read_json(*rel)

    cfs = CountingFS(path)
    hist = describe_versioned_history(spark, cfs)
    rows = hist.collect()
    assert [r["version"] for r in rows] == list(range(n))
    assert [r["n_rows_added"] for r in rows] == list(range(n))
    assert rows[5]["committed_at"] == 1_005
    # driver-side manifest reads stay O(1): latest_version's hint probes
    # only — the per-version reads ran in executors on pickled copies
    assert CountingFS.reads <= 3
    # pagination: the recent tail, and an explicit since_version
    tail = describe_versioned_history(spark, cfs, limit=5).collect()
    assert [r["version"] for r in tail] == list(range(n - 5, n))
    since = describe_versioned_history(
        spark, cfs, since_version=n - 3
    ).collect()
    assert [r["version"] for r in since] == [n - 3, n - 2, n - 1]


def test_data_skipping_prunes_and_stays_safe(spark, tmp_path):
    """A13g (round 12): per-file column min/max envelopes recorded at
    commit drive manifest-only file pruning — a file is skipped only
    when its envelope PROVES no match; legacy manifests without
    envelopes are never pruned; the pruned scan + caller filter equals
    the full scan + filter (skipping is an optimization, never a
    correctness filter)."""
    import json

    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import (
        prune_files_by_stats,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.range(1000).select(
        "id", F.format_string("s%04d", "id").alias("s")
    )
    write_versioned(df.filter("id < 500").coalesce(1), path)
    write_versioned(
        df.filter("id >= 500").coalesce(1), path, carry_forward=True
    )
    kept, skipped = prune_files_by_stats(path, 1, "id", 600, 700)
    assert len(kept) == 1 and len(skipped) == 1
    # string envelopes prune too
    k2, s2 = prune_files_by_stats(path, 1, "s", "s0100", "s0200")
    assert len(k2) == 1 and len(s2) == 1
    # open-ended predicate
    k3, s3 = prune_files_by_stats(path, 1, "id", 500, None)
    assert len(k3) == 1 and len(s3) == 1
    # pruned scan + filter ≡ full scan + filter
    pruned = read_versioned(spark, path, prune=("id", 600, 700)).filter(
        "id between 600 and 700"
    )
    full = read_versioned(spark, path).filter("id between 600 and 700")
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    # boundary overlap keeps the file (max == lo)
    k4, s4 = prune_files_by_stats(path, 1, "id", 499, 499)
    assert len(k4) == 1 and len(s4) == 1

    # legacy manifests (no col stats keys) are NEVER pruned
    tfs = as_table_fs(path)
    for v in (0, 1):
        m = tfs.read_json(f"_manifest.{v}.json")
        m.pop("col_stats", None)
        m.pop("add_col_stats", None)
        (tmp_path / "vt" / f"_manifest.{v}.json").write_text(json.dumps(m))
    k5, s5 = prune_files_by_stats(path, 1, "id", 600, 700)
    assert len(k5) == 2 and s5 == []


def test_data_skipping_composes_with_cow_and_restore(spark, tmp_path):
    """Envelopes follow the snapshot through merge (rewritten files get
    fresh envelopes, carried files keep theirs) and restore (the target
    version's envelopes are re-referenced)."""
    from time_series_spark_spark.sources.io import (
        merge_versioned,
        prune_files_by_stats,
        restore_versioned,
        write_versioned,
    )

    path = _two_file_table(spark, tmp_path)  # k<5 file A, k>=5 file B
    merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 999, "g9")]), ["k"]
    )
    # after the merge, pruning on k still sees both halves' envelopes
    kept, skipped = prune_files_by_stats(path, 2, "k", 7, 9)
    assert len(kept) == 1 and len(skipped) == 1  # only file B kept
    # the rewritten file's val envelope includes the new 999
    kv, sv = prune_files_by_stats(path, 2, "val", 999, 999)
    assert len(kv) == 1 and len(sv) == 1
    v = restore_versioned(path, 1)
    kept_r, skipped_r = prune_files_by_stats(path, v, "k", 7, 9)
    assert len(kept_r) == 1 and len(skipped_r) == 1


def test_write_versioned_with_retry(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency append retry: a writer that loses the
    put-if-absent race once (stale latest_version view) re-resolves and
    lands at the next version; replace commits are refused upfront; a
    persistent loser surfaces the FileExistsError."""
    import time_series_spark_spark.sources.fsio as fsio_mod
    from time_series_spark_spark.sources.io import (
        write_versioned_with_retry,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.range(5).selectExpr("id"), path)
    tfs = as_table_fs(path)
    stolen = dict(tfs.read_json("_manifest.0.json"))
    stolen["version"] = 1
    tfs.write_json_atomic(stolen, "_manifest.1.json", if_absent=True)

    real = fsio_mod.latest_version
    calls = {"n": 0}

    def stale_once(t):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real(t)

    monkeypatch.setattr(fsio_mod, "latest_version", stale_once)
    v = write_versioned_with_retry(
        spark.range(5, 8).selectExpr("id"), path, carry_forward=True
    )
    monkeypatch.undo()
    assert v == 2  # lost v1, retried, won v2
    assert read_versioned(spark, path).count() == 5 + 3
    # replace commits are refused upfront
    with pytest.raises(ValueError, match="carry_forward=True"):
        write_versioned_with_retry(spark.range(1).selectExpr("id"), path)
    # a persistent loser gives up loudly after max_attempts
    monkeypatch.setattr(fsio_mod, "latest_version", lambda t: 0)
    with pytest.raises(FileExistsError, match="lost the commit race"):
        write_versioned_with_retry(
            spark.range(1).selectExpr("id"),
            path,
            max_attempts=2,
            carry_forward=True,
        )
    monkeypatch.undo()


def test_vacuum_grace_period(spark, tmp_path, monkeypatch):
    """Delta's deletedFileRetentionDuration: under a nonzero grace, a
    doomed file is deleted only once the commit that unreferenced it is
    old enough — young files are deferred (still on disk) while the
    floor still rises; aged files go on the next run; grace_us=0
    deletes at once."""
    import time_series_spark_spark.sources.io as io_mod

    path = str(tmp_path / "vt")
    write_versioned(spark.range(5).selectExpr("id"), path)   # v0
    write_versioned(spark.range(9).selectExpr("id"), path)   # v1 replace
    write_versioned(spark.range(3).selectExpr("id"), path)   # v2 replace
    tfs = as_table_fs(path)
    v0_files = Snapshot(tfs, 0).files

    # young unreference → deferred, but the floor rises and below-floor
    # reads refuse while the file is still physically present
    rep = vacuum_versioned(path, keep_last=2, grace_us=3_600_000_000)
    assert rep["n_files_deleted"] == 0
    assert rep["n_files_deferred"] == len(v0_files)
    assert rep["floor"] == 1
    for f in v0_files:
        assert tfs.exists(f)
    with pytest.raises(ValueError, match="retention floor"):
        read_versioned(spark, path, as_of=0)

    # age the clock past the grace: the deferred file is now deletable
    real_now = io_mod._now_us
    monkeypatch.setattr(io_mod, "_now_us", lambda: real_now() + 7_200_000_000)
    rep2 = vacuum_versioned(path, keep_last=2, grace_us=3_600_000_000)
    assert rep2["n_files_deleted"] == len(v0_files)
    assert rep2["n_files_deferred"] == 0
    monkeypatch.undo()

    # grace_us=0 keeps the original immediate-delete contract
    path2 = str(tmp_path / "vt2")
    write_versioned(spark.range(4).selectExpr("id"), path2)
    write_versioned(spark.range(2).selectExpr("id"), path2)
    write_versioned(spark.range(1).selectExpr("id"), path2)
    rep3 = vacuum_versioned(path2, keep_last=2)
    assert rep3["n_files_deleted"] >= 1 and rep3["n_files_deferred"] == 0


def test_stream_merge_upsert_multibatch_and_redelivery(spark, tmp_path):
    """J11g (round 12): two staged files replayed one-per-batch through
    foreachBatch MERGE — the final snapshot is last-writer-wins per key
    across both batches, the intermediate version time-travels to the
    post-batch-1 state, the history records merge commits with batch
    provenance, and a re-run on the same checkpoint commits nothing
    (ledger redelivery absorption — MERGE is not idempotent by content,
    so this is load-bearing)."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.streaming.jobs import (
        stream_merge_to_versioned_table,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def stage(name, rows):
        k, v, cents, seq = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(k, pa.int64()),
                    "v": pa.array(v, pa.string()),
                    "cents": pa.array(cents, pa.int64()),
                    "seq": pa.array(seq, pa.int64()),
                }
            ),
            str(src / name),
        )

    stage("f1.parquet", [(1, "a", 10, 100), (2, "b", 20, 101), (1, "c", 30, 102)])
    stage("f2.parquet", [(2, "d", 40, 200), (3, "e", 50, 201)])
    # the file source orders batches by modification time — staged
    # within the same clock tick the order is arbitrary, so pin it
    import os
    import time as _t

    now = _t.time()
    os.utime(src / "f1.parquet", (now - 10, now - 10))
    os.utime(src / "f2.parquet", (now, now))

    table = str(tmp_path / "vt")
    ck = str(tmp_path / "ck")

    def run():
        sdf = (
            spark.readStream.schema("k long, v string, cents long, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return stream_merge_to_versioned_table(
            sdf, table, ["k"], ["seq"], checkpoint_dir=ck
        )

    committed = run()
    assert len(committed) == 2  # initial snapshot + one merge
    got = {
        r["k"]: (r["v"], r["cents"])
        for r in read_versioned(spark, table).collect()
    }
    # within-batch last-writer-wins (k=1 seq 102) + cross-batch (k=2 -> d)
    assert got == {1: ("c", 30), 2: ("d", 40), 3: ("e", 50)}
    # intermediate version = post-batch-1 state
    v1 = {
        r["k"]: r["v"]
        for r in read_versioned(spark, table, as_of=committed[0]).collect()
    }
    assert v1 == {1: "c", 2: "b"}
    hist = describe_versioned_history(spark, table).orderBy("version").collect()
    assert [r["mode"] for r in hist] == ["append", "merge"]
    assert all(r["batch_id"] is not None for r in hist)
    # redelivery: same checkpoint, same files -> nothing new committed.
    # (availableNow on an unchanged source normally plans no batch; the
    # ledger is the guard if the engine replays one anyway)
    assert run() == []
    assert read_versioned(spark, table).count() == 3


def test_change_feed_across_merge_commit(spark, tmp_path):
    """M8 ∘ A13f closure: the snapshot-diff change feed between the
    pre-merge and post-merge versions reproduces exactly the applied
    changelog (CDF is derived from resolved snapshots, so it is
    commit-mode agnostic — merge commits included)."""
    from time_series_spark_spark.operators.cdc import snapshot_diff

    path = _two_file_table(spark, tmp_path)
    ch = _changelog(
        spark,
        [
            (1, "delete", None, None),
            (2, "update", 999, "g9"),
            (100, "insert", 1000, "gx"),
        ],
    )
    rep = merge_versioned(spark, path, ch, ["k"])
    v_pre = read_versioned(spark, path, as_of=1)
    v_post = read_versioned(spark, path, as_of=rep["version"])
    feed = {
        r["k"]: (r["op"], r["new_val"], r["new_grp"])
        for r in snapshot_diff(
            v_pre, v_post, ["k"], ["val", "grp"]
        ).collect()
    }
    assert feed == {
        1: ("delete", None, None),
        2: ("update", 999, "g9"),
        100: ("insert", 1000, "gx"),
    }


def test_merge_prunes_candidates_from_envelopes(spark, tmp_path, monkeypatch):
    """A13g × A13f: a single-key merge prunes candidate files from the
    manifest envelopes before the find-touched scan — against a
    range-clustered layout the scan touches only the files whose key
    envelope overlaps the changelog's key range (recorded via a probe
    on the pruner), and the result is identical to the unpruned path."""
    import time_series_spark_spark.sources.io as io_mod

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, i * 10, "g") for i in range(100)], "k long, val long, grp string"
    )
    # four disjoint key-range files: 0-24 / 25-49 / 50-74 / 75-99
    write_versioned(df.filter("k < 25").coalesce(1), path)
    for lo in (25, 50, 75):
        write_versioned(
            df.filter(f"k >= {lo} and k < {lo + 25}").coalesce(1),
            path,
            carry_forward=True,
        )
    calls = []
    real = io_mod._split_by_stats

    def probe(*a, **kw):
        kept, skipped = real(*a, **kw)
        calls.append((len(kept), len(skipped)))
        return kept, skipped

    monkeypatch.setattr(io_mod, "_split_by_stats", probe)
    rep = merge_versioned(
        spark,
        path,
        _changelog(spark, [(60, "update", 999, "g9"), (61, "delete", None, None)]),
        ["k"],
    )
    monkeypatch.undo()
    assert calls == [(1, 3)]  # only the 50-74 file was ever a candidate
    assert rep["n_files_rewritten"] == 1
    assert rep["n_files_carried"] == 3
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[60] == 999 and 61 not in got and len(got) == 99


def test_merge_composite_key_pruning_and_semantics(spark, tmp_path):
    """Composite-key MERGE: the per-column candidate sets intersect (a
    file must overlap the bounding box on EVERY key column), and the
    upsert applies on the full key tuple."""
    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 10) for i in range(100)],
        "k long, sub string, val long",
    )
    write_versioned(df.filter("k < 50").coalesce(1), path)
    write_versioned(
        df.filter("k >= 50").coalesce(1), path, carry_forward=True
    )
    # the table holds (k, s{k%3}) pairs: (60,s0) and (63,s0) exist
    ch = spark.createDataFrame(
        [(60, "s0", "update", 999), (63, "s0", "delete", None)],
        "k long, sub string, op string, new_val long",
    )
    rep = merge_versioned(spark, path, ch, ["k", "sub"])
    assert rep["n_files_rewritten"] == 1  # k-envelope excludes the k<50 file
    got = {
        (r["k"], r["sub"]): r["val"]
        for r in read_versioned(spark, path).collect()
    }
    assert got[(60, "s0")] == 999
    assert (63, "s0") not in got
    assert got[(61, "s1")] == 610  # same k-ish neighborhood untouched
    assert len(got) == 99


# ---------------------------------------------------------------------------
# Round 13: optimistic concurrency for row-level CoW commits (A13h × A13f —
# Delta's transaction retry + conflict classes). A loser of the put-if-absent
# race REBASES its already-staged rewrite onto the new latest when the
# winners are compatible (disjoint rewritten-file sets, no read-set overlap,
# schema unchanged); real conflicts raise ConcurrentCommitError.
# ---------------------------------------------------------------------------


def test_merge_rebase_disjoint_merges_both_land(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """Two merges over DISJOINT key ranges race: the rival lands first,
    the loser (planned against the stale snapshot) loses put-if-absent,
    proves the rival compatible, rebases its staged rewrite, and lands at
    the NEXT version — both changelogs applied, history shows both merge
    commits, no orphaned staging directory."""
    path = _two_file_table(spark, tmp_path)  # v0 (k<5 file A), v1 (+file B)
    # rival merge: key 7 (file B) lands v2 for real
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )
    # loser merge: key 2 (file A) planned against stale latest=1
    stale_latest_once(1)
    rep = merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
    )
    monkeypatch.undo()
    assert rep["version"] == 3  # lost v2, rebased, landed v3
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[7] == 777 and got[2] == 222 and len(got) == 10
    hist = describe_versioned_history(spark, path).collect()
    assert [r["mode"] for r in sorted(hist, key=lambda r: r["version"])] == [
        "append", "append", "merge", "merge"
    ]
    # no orphaned staging dirs: everything on disk is manifest-referenced
    tfs = as_table_fs(path)
    referenced = {
        f.split("/")[0]
        for v in range(4)
        for f in Snapshot(tfs, v).files
    }
    disk = {d for d in tfs.ls() if d.startswith("v=")}
    assert disk == referenced


def test_merge_rebase_overlapping_files_refuses(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """The rival rewrote the SAME file the loser touched (overlapping key
    neighborhoods): rebase is refused loudly — the loser's rewrite was
    computed from a file that no longer exists in the snapshot (Delta:
    ConcurrentDeleteReadException)."""
    from time_series_spark_spark.sources.io import ConcurrentCommitError

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(1, "update", 111, "g1")]), ["k"]
    )
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="rewrote .* also touched"):
        merge_versioned(
            spark, path, _changelog(spark, [(3, "update", 333, "g3")]), ["k"]
        )
    monkeypatch.undo()
    # loser's staging dir cleaned up; table state is the rival's commit
    tfs = as_table_fs(path)
    referenced = {
        f.split("/")[0]
        for v in range(3)
        for f in Snapshot(tfs, v).files
    }
    assert {d for d in tfs.ls() if d.startswith("v=")} == referenced
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[1] == 111 and got[3] == 30  # loser's change did NOT apply


def test_merge_rebase_readset_insert_conflict(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """The rival merge INSERTED a key the loser's merge also upserts: the
    loser's find-touched never saw it (stale snapshot), so rebasing would
    duplicate the key — the exact read-set scan over the rival's added
    files refuses (Delta: ConcurrentAppendException)."""
    from time_series_spark_spark.sources.io import ConcurrentCommitError

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(100, "insert", 1000, "gx")]), ["k"]
    )
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="read set"):
        merge_versioned(
            spark,
            path,
            _changelog(spark, [(100, "update", 2000, "gy")]),
            ["k"],
        )
    monkeypatch.undo()
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[100] == 1000 and len(got) == 11


def test_merge_rebase_replace_and_restore_refuse(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """A replace (or restore) winner changes the snapshot wholesale — no
    rebase, ever."""
    from time_series_spark_spark.sources.io import ConcurrentCommitError

    path = _two_file_table(spark, tmp_path)
    write_versioned(
        spark.createDataFrame([(1, 10, "g1")], "k long, val long, grp string"),
        path,
    )  # replace at v2
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="replace"):
        merge_versioned(
            spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
        )
    monkeypatch.undo()


def test_merge_rebase_blind_append_ok(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """A blind-append winner never conflicts (WriteSerializable — Delta's
    default): the rebased merge lands and the appended rows survive, even
    when an appended key matches the merge's read set (the result equals
    the serial schedule merge-then-append)."""
    path = _two_file_table(spark, tmp_path)
    write_versioned(
        spark.createDataFrame(
            [(50, 500, "gz")], "k long, val long, grp string"
        ),
        path,
        carry_forward=True,
    )  # blind append at v2
    stale_latest_once(1)
    rep = merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
    )
    monkeypatch.undo()
    assert rep["version"] == 3
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[2] == 222 and got[50] == 500 and len(got) == 11


@pytest.mark.parametrize("op", ["cow_delete", "mor_delete", "compact"])
def test_rebase_resolves_the_new_head_once(
    spark, tmp_path, monkeypatch, stale_latest_once, op
):
    """A commit planned at version 1 (chain 1→0) loses version 2 to a
    blind append, rebases and lands at version 3. The loser resolves the
    new head once and its conflict rule reuses it: the latest-version
    hint and the winner's manifest are read once, and the planned
    head's chain once more for the rebased snapshot."""
    from time_series_spark_spark.sources.fsio import TableFS
    from time_series_spark_spark.sources.io import compact_versioned

    path = _two_file_table(spark, tmp_path)
    write_versioned(
        spark.createDataFrame([(50, 500, "gz")], "k long, val long, grp string"),
        path,
        carry_forward=True,
    )  # blind append at v2
    reads = []
    real = TableFS.read_json

    def counting(self, *rel):
        reads.append(rel[-1])
        return real(self, *rel)

    monkeypatch.setattr(TableFS, "read_json", counting)
    stale_latest_once(1)
    if op == "compact":
        rep = compact_versioned(spark, path, target_file_bytes=1 << 30)
    else:
        strategy = "cow" if op == "cow_delete" else "mor"
        rep = delete_versioned(spark, path, "k = 2", strategy=strategy)
    monkeypatch.undo()
    assert rep["version"] == 3
    assert sorted(reads) == [
        "_latest.json",
        "_manifest.0.json",
        "_manifest.0.json",
        "_manifest.1.json",
        "_manifest.1.json",
        "_manifest.2.json",
    ]
    got = {r["k"] for r in read_versioned(spark, path).collect()}
    assert got == set(range(10)) - ({2} if op != "compact" else set()) | {50}


def test_delete_and_update_rebase_disjoint(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """DELETE and UPDATE get the same optimistic retry: racing a disjoint
    rival merge, both rebase and land; the rival's change survives."""
    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )
    stale_latest_once(1)
    rep = delete_versioned(spark, path, "k = 1")  # file A; rival touched B
    monkeypatch.undo()
    assert rep["version"] == 3
    merge_versioned(
        spark, path, _changelog(spark, [(8, "update", 888, "g8")]), ["k"]
    )  # v4, rewrites file B's successor
    stale_latest_once(3)
    rep2 = update_versioned(spark, path, "k = 2", {"val": "val + 1"})
    monkeypatch.undo()
    assert rep2["version"] == 5
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert 1 not in got and got[2] == 21 and got[7] == 777 and got[8] == 888


def test_delete_rebase_readset_conflict(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """A rival merge inserts a row MATCHING the loser DELETE's predicate:
    rebasing would leave a row the delete logically covers — refused."""
    from time_series_spark_spark.sources.io import ConcurrentCommitError

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(100, "insert", -5, "gx")]), ["k"]
    )
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="read set"):
        delete_versioned(spark, path, "val < 0")
    monkeypatch.undo()


def _race_merge(path, lo, hi, barrier, results):
    """Child-process body for test_two_process_merge_race_disjoint: build a
    REAL local SparkSession and run the production merge_versioned on a
    disjoint key range — the full find-touched scan, CoW rewrite, commit
    race, and rebase all execute production code in each process."""
    try:
        from time_series_spark_spark.session import get_spark
        from time_series_spark_spark.sources.io import merge_versioned

        spark = get_spark(
            f"race-{lo}",
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={"spark.driver.memory": "1g"},
        )
        ch = spark.createDataFrame(
            [(k, "update", k * 1000, "gr") for k in range(lo, hi)],
            "k long, op string, new_val long, new_grp string",
        )
        barrier.wait(timeout=180)
        rep = merge_versioned(spark, path, ch, ["k"], max_attempts=5)
        results.put((lo, rep["version"]))
        spark.stop()
    except Exception as e:  # noqa: BLE001 — surface in the assert
        results.put((lo, f"{type(e).__name__}: {e}"))


def test_two_process_merge_race_disjoint(spark, tmp_path):
    """The round-13 headline: a REAL two-process race of two MERGEs over
    DISJOINT key ranges — each child process runs its own SparkSession and
    the production merge path. Exactly one wins the put-if-absent at v2;
    the other detects the winner is compatible, rebases its staged
    rewrite, and lands at v3. BOTH changelogs applied; history shows both
    merge commits."""
    import multiprocessing as mp

    path = _two_file_table(spark, tmp_path)  # k 0..9 over two files

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(2)
    results: "mp.Queue" = ctx.Queue()
    ps = [
        ctx.Process(target=_race_merge, args=(path, lo, hi, barrier, results))
        for lo, hi in ((0, 3), (7, 10))  # file A keys vs file B keys
    ]
    for p in ps:
        p.start()
    outcomes = dict(results.get(timeout=600) for _ in ps)
    for p in ps:
        p.join(timeout=600)
    assert sorted(outcomes.values()) == [2, 3], outcomes
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    for k in (0, 1, 2, 7, 8, 9):
        assert got[k] == k * 1000
    for k in (3, 4, 5, 6):
        assert got[k] == k * 10  # untouched middle keys pass through
    hist = describe_versioned_history(spark, path).collect()
    assert [r["mode"] for r in sorted(hist, key=lambda r: r["version"])] == [
        "append", "append", "merge", "merge"
    ]


# ---------------------------------------------------------------------------
# Round 13: MERGE × additive schema evolution (A13f × A13c — Delta's
# mergeSchema MERGE): a changelog that ADDS columns commits an evolved
# schema; untouched files null-fill at read time; old versions time-travel
# under the old schema.
# ---------------------------------------------------------------------------


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    path = _two_file_table(spark, tmp_path)  # k, val, grp over two files
    ch = spark.createDataFrame(
        [
            (2, "update", 222, "g2", "eu"),
            (100, "insert", 1000, "gx", "us"),
        ],
        "k long, op string, new_val long, new_grp string, new_region string",
    )
    # default: unknown new_<col> refused loudly, never silently dropped
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_versioned(spark, path, ch, ["k"])
    rep = merge_versioned(spark, path, ch, ["k"], merge_schema=True)
    assert rep["n_files_rewritten"] == 1  # only file A (k=2) matched
    cur = read_versioned(spark, path)
    assert [f.name for f in cur.schema.fields] == ["k", "val", "grp", "region"]
    got = {r["k"]: (r["val"], r["region"]) for r in cur.collect()}
    assert got[2] == (222, "eu") and got[100] == (1000, "us")
    # untouched file B's rows null-fill the evolved column
    assert got[7] == (70, None)
    assert len(got) == 11
    # time travel: the pre-merge version still reads the OLD schema
    old = read_versioned(spark, path, as_of=1)
    assert [f.name for f in old.schema.fields] == ["k", "val", "grp"]
    assert old.count() == 10


def test_merge_schema_evolution_roundtrips_through_second_merge(
    spark, tmp_path
):
    """After an evolving merge, a PLAIN merge against the evolved schema
    works (new_region now required), and the evolved column survives the
    copy-on-write rewrite of previously-untouched files."""
    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark,
        path,
        spark.createDataFrame(
            [(2, "update", 222, "g2", "eu")],
            "k long, op string, new_val long, new_grp string, "
            "new_region string",
        ),
        ["k"],
        merge_schema=True,
    )
    # plain merge on file B now must carry the evolved column set
    with pytest.raises(ValueError, match="missing columns"):
        merge_versioned(
            spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
        )
    merge_versioned(
        spark,
        path,
        spark.createDataFrame(
            [(7, "update", 777, "g7", None)],
            "k long, op string, new_val long, new_grp string, "
            "new_region string",
        ),
        ["k"],
    )
    got = {
        r["k"]: (r["val"], r["region"])
        for r in read_versioned(spark, path).collect()
    }
    assert got[2] == (222, "eu") and got[7] == (777, None) and len(got) == 10


def test_merge_schema_evolution_never_rebases(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """An evolving merge that loses the commit race refuses to rebase —
    the schema-change conflict class fires (publishing old-schema staged
    files as the table's latest word on a different schema is never
    safe)."""
    from time_series_spark_spark.sources.io import ConcurrentCommitError

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )
    stale_latest_once(1)
    with pytest.raises(ConcurrentCommitError, match="schema"):
        merge_versioned(
            spark,
            path,
            spark.createDataFrame(
                [(2, "update", 222, "g2", "eu")],
                "k long, op string, new_val long, new_grp string, "
                "new_region string",
            ),
            ["k"],
            merge_schema=True,
        )
    monkeypatch.undo()


def test_merge_rebase_chains_past_multiple_winners(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """The rebase conflict check walks EVERY winner between the stale
    snapshot and the new latest: two rival commits (a disjoint merge AND
    a blind append) landed while the loser planned — one rebase clears
    both and the loser lands at latest+1 with all three changes
    applied."""
    path = _two_file_table(spark, tmp_path)  # v0, v1
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )  # v2 (rival merge, file B)
    write_versioned(
        spark.createDataFrame(
            [(50, 500, "gz")], "k long, val long, grp string"
        ),
        path,
        carry_forward=True,
    )  # v3 (blind append)
    stale_latest_once(1)  # loser planned against v1
    rep = merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
    )
    monkeypatch.undo()
    assert rep["version"] == 4
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[7] == 777 and got[50] == 500 and got[2] == 222
    assert len(got) == 11
    hist = describe_versioned_history(spark, path).collect()
    assert [r["mode"] for r in sorted(hist, key=lambda r: r["version"])] == [
        "append", "append", "merge", "append", "merge"
    ]


def test_rebased_merge_manifest_carries_rival_stats(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """A rebased CoW manifest rebuilds its snapshot fields against the
    NEW latest: the rival's added files appear in the file list WITH
    their row-group stats and column envelopes (stats resolution runs
    against the rebased base, not the stale snapshot), so data skipping
    and the streaming planner stay exact after a rebase."""
    from time_series_spark_spark.sources.io import prune_files_by_stats

    path = _two_file_table(spark, tmp_path)
    merge_versioned(
        spark, path, _changelog(spark, [(7, "update", 777, "g7")]), ["k"]
    )  # rival rewrote file B at v2
    stale_latest_once(1)
    rep = merge_versioned(
        spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
    )  # loser rebases onto v2, lands v3
    monkeypatch.undo()
    assert rep["version"] == 3
    tfs = as_table_fs(path)
    files = Snapshot(tfs, 3).files
    stats = Snapshot(tfs, 3).file_stats
    cstats = Snapshot(tfs, 3).col_stats
    assert set(stats) == set(files) and set(cstats) == set(files)
    # skipping on the rebased version sees BOTH rewrites' envelopes:
    # k=7 (rival's file) and k=2 (loser's file) each prune to one file
    for key in (2, 7):
        kept, skipped = prune_files_by_stats(path, 3, "k", key, key)
        assert len(kept) == 1 and len(skipped) == 1, key


def test_merge_rebase_past_optimize_skips_table_scan(
    spark, tmp_path, monkeypatch, stale_latest_once
):
    """Round 14 (ADVICE fix): an insert-only loser rebasing past an
    'optimize' winner must NOT read-set-scan the winner's adds — they
    are the entire compacted table, so the check would be O(table). The
    rebase decision is provably exact without the scan (snapshot rows
    were already key-checked by find-touched; blind-append rows never
    conflict; non-blind rivals' adds are scanned from their own
    manifests). A loser that DID touch files still conflicts via the
    touched⊆files check."""
    import time_series_spark_spark.sources.io as io_mod
    from time_series_spark_spark.sources.io import (
        ConcurrentCommitError,
        compact_versioned,
    )

    path = _two_file_table(spark, tmp_path)
    compact_versioned(spark, path, target_file_bytes=1 << 30)  # v2 optimize
    calls: list[list[str]] = []
    real = io_mod._snapshot_frame

    def spy(spark_, tfs_, files_, schema_, **kw):
        calls.append(list(files_))
        return real(spark_, tfs_, files_, schema_, **kw)

    monkeypatch.setattr(io_mod, "_snapshot_frame", spy)
    stale_latest_once(1)
    rep = merge_versioned(
        spark, path, _changelog(spark, [(100, "insert", 1000, "gx")]), ["k"]
    )
    monkeypatch.undo()
    assert rep["version"] == 3  # lost v2 to the optimize, rebased, landed
    # the rebase decision read ZERO data files: no recorded scan touches
    # the optimize winner's v=2- output (the planning find-touched and
    # the empty-touched base read both cover only pre-optimize files)
    assert not any(
        any(f.startswith("v=2-") for f in fl) for fl in calls
    )
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[100] == 1000 and len(got) == 11

    # a loser whose rewrite touched pre-optimize files still refuses:
    # the optimize dropped those files from the snapshot
    compact_versioned(spark, path, target_file_bytes=1 << 30)  # v4 optimize
    stale_latest_once(3)
    with pytest.raises(
        ConcurrentCommitError, match="no longer part of the latest snapshot"
    ):
        merge_versioned(
            spark, path, _changelog(spark, [(2, "update", 222, "g2")]), ["k"]
        )
    monkeypatch.undo()
