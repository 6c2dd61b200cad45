"""Stamp-guarded ``zipimport`` cache invalidation for PySpark workers.

Every PySpark task re-runs ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. CPython's
``zipimport.zipimporter.invalidate_caches`` (3.8-3.12) re-reads the
archive's central directory UNCONDITIONALLY — and the worker's
``sys.path_importer_cache`` holds one zipimporter per *probed zip
subpath* (``pyspark.zip/pyspark``, ``pyspark.zip/pyspark/sql``, …), so
one ``importlib.invalidate_caches()`` re-parses the same multi-MB
``pyspark.zip`` a dozen times. Measured on this host (guide §4 — the
Python boundary): 110-160 ms of the ~165 ms executor run time of an
IDENTITY ``mapInPandas`` task, i.e. nearly the entire per-task cost of
every Python-boundary stage, paid per task forever because worker
reuse never amortizes it. At cluster scale the same tax lands on every
Arrow/pandas task of every job.

:func:`install` replaces the method with a semantics-preserving guard:
re-read the directory exactly as before whenever the archive's
``(st_mtime_ns, st_size)`` differs from the stamp of the LAST re-read
*by that importer instance* (or the instance has never re-read), skip
otherwise. A zip that changes on disk — the only event the upstream
re-read exists to observe — changes its stat stamp, so a subsequent
``invalidate_caches()`` still reloads it; ``addPyFile`` ships new
archives under fresh paths, which are new importer instances and
unaffected. The only behavior delta is skipping byte-identical
re-parses of an unchanged file.

The patch is installed only inside PySpark worker processes, never in
the driver or in plain Python programs importing this library. On
``local*`` sessions from ``session.get_spark``, the daemon module
``workerd`` installs it before it forks, so every worker has it, also
one that only runs user closures pickled by value. Elsewhere the package
``__init__`` installs it (detecting a worker by the worker-factory
environment the JVM sets) when a task loads a function of this package,
as the stateful stream updates in ``streaming.jobs`` do.
"""

from __future__ import annotations

import os
import zipimport

_STAMP_ATTR = "_tss_zipcache_stamp"
_installed = False


def _guarded_invalidate_caches(self):  # noqa: ANN001 - zipimporter
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        # stat failure: defer to the original (which drops the cache)
        _original(self)
        return
    if (
        getattr(self, _STAMP_ATTR, None) == stamp
        and getattr(self, "_files", None)
    ):
        return
    _original(self)
    setattr(self, _STAMP_ATTR, stamp)


_original = zipimport.zipimporter.invalidate_caches


def install() -> None:
    """Idempotently install the stamp guard on ``zipimport.zipimporter``.

    Existing importer instances in ``sys.path_importer_cache`` are
    stamped with their archive's current stat: in a worker this runs
    during task setup, microseconds after that same task's
    ``importlib.invalidate_caches()`` re-read every one of them, so
    their ``_files`` are current and the next task can skip straight to
    the guard. (A zip rewritten inside that microsecond window would be
    picked up one change later — none of the session-lifetime archives
    on a worker's path ever change at all.)
    """
    global _installed
    if _installed:
        return
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    import sys

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and getattr(
            finder, "_files", None
        ):
            try:
                st = os.stat(finder.archive)
            except OSError:
                continue
            setattr(finder, _STAMP_ATTR, (st.st_mtime_ns, st.st_size))
    _installed = True


def in_pyspark_worker() -> bool:
    """True inside a PySpark worker process. Workers are either forked by
    ``pyspark.daemon`` (unix default — ``__main__`` is daemon.py and the
    JVM passes the worker-factory auth secret in the environment) or
    launched directly as ``pyspark.worker`` with the factory socket
    variables. The driver process has none of these."""
    import sys

    if (
        "PYTHON_WORKER_FACTORY_SECRET" in os.environ
        or "PYTHON_WORKER_FACTORY_SOCK_PATH" in os.environ
        or "PYTHON_WORKER_FACTORY_PORT" in os.environ
    ):
        return True
    main_file = getattr(sys.modules.get("__main__"), "__file__", "") or ""
    return main_file.replace("\\", "/").endswith(
        ("pyspark/daemon.py", "pyspark/worker.py")
    )


def install_if_worker() -> None:
    if in_pyspark_worker():
        install()
