"""zipcache: the stamp-guarded zipimporter.invalidate_caches must skip
re-parsing unchanged archives but still observe real changes (the only
event the upstream unconditional re-read exists for)."""

import ast
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
assert type(fn).__name__ == "function" and fn(20) == 21
guard = zipimport.zipimporter.invalidate_caches
print(guard.__module__ + "." + guard.__qualname__)
"""


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


def test_unpickling_wrapped_closure_installs_guard_in_worker():
    from pyspark import cloudpickle

    k = 1

    def update(x):  # a closure, pickled by value like the stream updates
        return x + k

    guard = "time_series_spark_spark.zipcache._guarded_invalidate_caches"
    assert _unpickle_in_worker(cloudpickle.dumps(zipcache.on_worker(update))) == guard
    # control: the bare closure never imports the package
    assert _unpickle_in_worker(cloudpickle.dumps(update)) == (
        "zipimport.zipimporter.invalidate_caches"
    )


def test_every_stateful_update_is_wrapped():
    tree = ast.parse(
        (_REPO / "time_series_spark_spark/streaming/jobs.py").read_text()
    )
    first_args = [
        node.args[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert len(first_args) == 6
    for arg in first_args:
        assert (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Name)
            and arg.func.id == "on_worker"
        ), ast.dump(arg)
