"""Round 14: table-level write invariants on the manifest-versioned
table (Delta's NOT NULL / CHECK constraints) — declared at table
definition, restated on every manifest like the schema, enforced on
every commit's STAGED data via one Observation riding the staging write
(zero extra scans), refused loudly on violation with the table
unchanged."""

from __future__ import annotations

import pytest

from time_series_spark_spark.sources.fsio import as_table_fs, latest_version
from time_series_spark_spark.sources.io import (
    ConstraintViolationError,
    compact_versioned,
    delete_versioned,
    merge_versioned,
    read_versioned,
    restore_versioned,
    table_constraints,
    update_versioned,
    write_versioned,
)

CONS = {"not_null": ["k"], "check": {"non_negative_val": "val >= 0"}}


def _mk(spark, rows, schema="k long, val long"):
    return spark.createDataFrame(rows, schema)


def _table(spark, tmp_path, name="vt"):
    path = str(tmp_path / name)
    write_versioned(
        _mk(spark, [(1, 10), (2, 20)]).coalesce(1), path, constraints=CONS
    )
    return path


def test_establish_enforce_and_refuse(spark, tmp_path):
    path = _table(spark, tmp_path)
    assert table_constraints(path) == CONS
    # compliant append passes and inherits the declaration
    write_versioned(
        _mk(spark, [(3, 30)]).coalesce(1), path, carry_forward=True
    )
    assert table_constraints(path) == CONS
    # NOT NULL violation refused; table unchanged
    before = latest_version(as_table_fs(path))
    with pytest.raises(ConstraintViolationError, match=r"not_null\(k\)"):
        write_versioned(
            _mk(spark, [(None, 40)]).coalesce(1), path, carry_forward=True
        )
    # CHECK violation refused
    with pytest.raises(
        ConstraintViolationError, match="non_negative_val"
    ):
        write_versioned(
            _mk(spark, [(4, -1)]).coalesce(1), path, carry_forward=True
        )
    assert latest_version(as_table_fs(path)) == before
    assert read_versioned(spark, path).count() == 3
    # no orphaned staging dirs from the refused commits
    tfs = as_table_fs(path)
    from time_series_spark_spark.sources.fsio import Snapshot

    referenced = {
        f.split("/")[0]
        for v in range(before + 1)
        for f in Snapshot(tfs, v).files
    }
    assert {d for d in tfs.ls() if d.startswith("v=")} == referenced


def test_check_null_passes_sql_semantics(spark, tmp_path):
    """SQL-standard CHECK: NULL/UNKNOWN passes (declare not_null too if
    NULLs should fail) — pinned so the semantics never drift."""
    path = _table(spark, tmp_path)
    write_versioned(
        _mk(spark, [(5, None)]).coalesce(1), path, carry_forward=True
    )  # val NULL → check is UNKNOWN → passes
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got[5] is None


def test_declaration_validation_errors(spark, tmp_path):
    path = str(tmp_path / "vt")
    with pytest.raises(ValueError, match="unknown columns"):
        write_versioned(
            _mk(spark, [(1, 10)]).coalesce(1),
            path,
            constraints={"not_null": ["nope"]},
        )
    with pytest.raises(ValueError, match="unknown constraint kinds"):
        write_versioned(
            _mk(spark, [(1, 10)]).coalesce(1),
            path,
            constraints={"unique": ["k"]},
        )
    # declaring on a live table via an append is refused (no validation
    # of existing data) — a replace redefines instead
    write_versioned(_mk(spark, [(1, 10)]).coalesce(1), path)
    with pytest.raises(ValueError, match="FIRST commit or a REPLACE"):
        write_versioned(
            _mk(spark, [(2, 20)]).coalesce(1),
            path,
            carry_forward=True,
            constraints=CONS,
        )
    write_versioned(
        _mk(spark, [(1, 10)]).coalesce(1), path, constraints=CONS
    )  # replace establishes
    assert table_constraints(path) == CONS


def test_cow_and_mor_commits_enforce(spark, tmp_path):
    """Row-level commits enforce on their rewritten/appended output:
    an UPDATE driving a value negative and a MERGE inserting a negative
    value are refused under either strategy; compliant ones land."""
    path = _table(spark, tmp_path)
    before = latest_version(as_table_fs(path))

    def ch(rows):
        return spark.createDataFrame(rows, "k long, op string, new_val long")

    for strategy in ("cow", "mor"):
        with pytest.raises(ConstraintViolationError, match="non_negative"):
            update_versioned(
                spark, path, "k = 1", {"val": "-5"}, strategy=strategy
            )
        with pytest.raises(ConstraintViolationError, match="non_negative"):
            merge_versioned(
                spark,
                path,
                ch([(9, "insert", -1)]),
                ["k"],
                strategy=strategy,
            )
    assert latest_version(as_table_fs(path)) == before
    # compliant row-level commits pass under both strategies
    update_versioned(spark, path, "k = 1", {"val": "11"})
    merge_versioned(spark, path, ch([(9, "insert", 90)]), ["k"], strategy="mor")
    delete_versioned(spark, path, "k = 2", strategy="mor")
    got = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert got == {1: 11, 9: 90}
    assert table_constraints(path) == CONS  # carried through all commits


def test_constraints_survive_evolution_optimize_restore(spark, tmp_path):
    """The declaration rides schema evolution, OPTIMIZE, and RESTORE —
    and stays ENFORCED afterwards."""
    path = _table(spark, tmp_path)
    # additive evolution: new column, constraints intact
    write_versioned(
        _mk(spark, [(7, 70, "x")], "k long, val long, tag string")
        .coalesce(1),
        path,
        carry_forward=True,
    )
    assert table_constraints(path) == CONS
    rep = compact_versioned(spark, path, target_file_bytes=1 << 30)
    assert table_constraints(path, rep["version"]) == CONS
    v = restore_versioned(path, 1)
    assert table_constraints(path, v) == CONS
    with pytest.raises(ConstraintViolationError, match=r"not_null\(k\)"):
        write_versioned(
            _mk(spark, [(None, 1, "y")], "k long, val long, tag string")
            .coalesce(1),
            path,
            carry_forward=True,
        )
