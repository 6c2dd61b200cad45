import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from time_series_spark_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def tiny_batches(spark):
    """7-row Arrow batches, so packed groups straddle batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield spark
    spark.conf.set(key, old)


@pytest.fixture()
def stale_latest_once(monkeypatch):
    """``pin(stale_value)`` makes ``fsio.latest_version`` return
    ``stale_value`` for its FIRST call (the planning read inside
    ``io._require_table``), then the true latest — the deterministic
    single-process equivalent of a writer that planned before a rival's
    commit landed. The loser's re-resolution after its lost publish (in
    ``io._commit``) then sees the rival. ``monkeypatch.undo()`` restores
    the real function."""
    import time_series_spark_spark.sources.fsio as fsio_mod

    def pin(stale_value):
        real = fsio_mod.latest_version
        calls = {"n": 0}

        def stale_once(t):
            calls["n"] += 1
            return stale_value if calls["n"] == 1 else real(t)

        monkeypatch.setattr(fsio_mod, "latest_version", stale_once)

    return pin
