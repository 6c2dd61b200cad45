"""zipcache: the stamp-guarded zipimporter.invalidate_caches must skip
re-parsing unchanged archives but still observe real changes (the only
event the upstream unconditional re-read exists for)."""

import os
import subprocess
import sys
import time
import zipfile
import zipimport
from pathlib import Path

import pytest

from time_series_spark_spark import zipcache


@pytest.fixture
def patched():
    orig_method = zipimport.zipimporter.invalidate_caches
    orig_installed = zipcache._installed
    zipcache._installed = False
    zipcache.install()
    yield
    zipimport.zipimporter.invalidate_caches = orig_method
    zipcache._installed = orig_installed


def _make_zip(path, payload):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_probe_mod.py", payload)


def test_unchanged_archive_skips_reread(tmp_path, patched):
    zp = str(tmp_path / "a.zip")
    _make_zip(zp, "x = 1\n")
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()  # first call under the guard: re-reads + stamps
    files_after_first = imp._files
    imp.invalidate_caches()  # unchanged: must skip
    assert imp._files is files_after_first


def test_changed_archive_is_rereadd(tmp_path, patched):
    zp = str(tmp_path / "a.zip")
    _make_zip(zp, "x = 1\n")
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()
    assert "zc_probe_new.py" not in {
        os.path.basename(k) for k in imp._files
    }
    # rewrite with an extra member; ensure the stat stamp moves even on
    # coarse-mtime filesystems by nudging mtime explicitly
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("zc_probe_mod.py", "x = 2\n")
        zf.writestr("zc_probe_new.py", "y = 3\n")
    st = os.stat(zp)
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    imp.invalidate_caches()
    assert "zc_probe_new.py" in {os.path.basename(k) for k in imp._files}


def test_deleted_archive_falls_back_to_original(tmp_path, patched):
    zp = str(tmp_path / "a.zip")
    _make_zip(zp, "x = 1\n")
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()
    os.remove(zp)
    # upstream drops the cache on ZipImportError; the guard must defer
    imp.invalidate_caches()
    assert imp._files == {}


def test_install_is_idempotent(patched):
    fn = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is fn


def test_not_installed_in_plain_driver_process():
    # this pytest process is not a pyspark worker
    assert not zipcache.in_pyspark_worker()


_REPO = Path(__file__).resolve().parent.parent

_LOAD_IN_WORKER = """
import pickle, sys, zipimport
assert not any(m.startswith("time_series_spark_spark") for m in sys.modules)
fn = pickle.loads(sys.stdin.buffer.read())
assert callable(fn)
guard = zipimport.zipimporter.invalidate_caches
print(guard.__module__ + "." + guard.__qualname__)
"""

_GUARD = "time_series_spark_spark.zipcache._guarded_invalidate_caches"


def _unpickle_in_worker(payload: bytes) -> str:
    env = {
        **os.environ,
        "PYTHON_WORKER_FACTORY_SECRET": "test",
        "PYTHONPATH": str(_REPO),
    }
    out = subprocess.run(
        [sys.executable, "-c", _LOAD_IN_WORKER],
        input=payload,
        env=env,
        capture_output=True,
        check=True,
    )
    return out.stdout.decode().strip()


_USER_CLOSURE_ON_FRESH_SESSION = """
import pandas as pd
from time_series_spark_spark.session import get_spark

def guard_of(batches):  # a user closure, pickled by value
    import zipimport
    list(batches)
    g = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"guard": [g.__module__ + "." + g.__qualname__]})

spark = get_spark("zipcache-user-closure", master="local[2]")
for _ in range(2):  # the second job runs on reused workers
    for row in spark.range(40, numPartitions=4).mapInPandas(guard_of, "guard string").collect():
        print(row.guard)
"""


def test_user_closure_gets_guard_on_fresh_local_session(tmp_path):
    # its own process: on the shared test session, a reused worker may
    # carry the guard from an earlier test
    env = {**os.environ, "PYTHONPATH": str(_REPO), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _USER_CLOSURE_ON_FRESH_SESSION],
        cwd=tmp_path, env=env, capture_output=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert out.stdout.decode().split() == [_GUARD] * 8


def test_stateful_updates_pickle_by_reference_and_install_guard():
    from unittest import mock

    from pyspark import cloudpickle

    from time_series_spark_spark.streaming import jobs

    sdf = mock.Mock()
    sdf.select.return_value = sdf.groupBy.return_value = sdf
    for name in ("anomaly_flags", "page_hinkley", "debounce",
                 "heavy_hitters", "token_bucket"):
        getattr(jobs, f"stateful_{name}")(sdf)
    updates = [c.args[0] for c in sdf.applyInPandasWithState.call_args_list]
    assert len(updates) == 5
    for fn in updates:
        assert _unpickle_in_worker(cloudpickle.dumps(fn)) == _GUARD, fn
    # control: a closure pickled by value leaves zipimport's own method
    assert _unpickle_in_worker(cloudpickle.dumps(lambda *a: None)) == (
        "zipimport.zipimporter.invalidate_caches"
    )
