"""SparkSession factory for the engine.

Centralizes every config the engine depends on (SURVEY.md §0.2, §4.2):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.parquet`` stores
  ``ts`` as parquet ``timestamp[ns]`` which Spark 4 otherwise refuses
  (``PARQUET_TYPE_ILLEGAL``). With the flag the column arrives as LongType
  (raw nanos) and ``sources.io.load`` converts it to a µs TimestampType.
- UTC session timezone — parquet naive timestamps must collect identically
  to the DuckDB oracle, which is timezone-naive.
- AQE on (runtime shuffle coalescing, skew-join splitting) — this is the
  main lever that makes the same plans survive a 100 TB cluster: we size
  ``spark.sql.shuffle.partitions`` generously and let AQE coalesce.
- Arrow enabled — every pandas UDF / applyInPandas path (the forecaster,
  EWMA, as-of cogroup) rides Arrow record batches.
- ``spark.sql.streaming.checkpointFileManagerClass`` set to
  ``FileSystemBasedCheckpointFileManager``, for ``local*`` masters only.
  Spark's default manager works through Hadoop ``FileContext``, whose
  rename and existence checks on ``file:`` paths call
  ``getFileLinkStatus``; without libhadoop, Hadoop answers that by forking
  a ``readlink`` process (2053 in one ``perfbench`` ``stream_replay``
  run, 5 with this manager). On a local disk both managers end in the
  same ``rename(2)``, and Spark falls back to this class by itself where
  ``FileContext`` is missing. Cluster masters keep the default: their
  checkpoints live on HDFS or object stores, where ``FileContext`` gives
  the atomic overwrite-rename and spawns no process.
- ``spark.python.daemon.module=time_series_spark_spark.workerd`` and
  ``spark.executorEnv.PYTHONPATH=<package zip>``, static confs for
  ``local*`` masters only: the daemon installs the ``zipcache`` guard
  before it forks, so every Python worker has it, user closures included.
  Cluster executors lack the driver's zip path and keep Spark's daemon.

At 100 TB the same builder applies; only ``master``/``shuffle_partitions``
change (cluster manager sets master; shuffle partitions ≈ 2-3× total cores).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package once per process so it can be shipped to executor
    Python workers (UDFs are pickled by module reference — workers must be
    able to import ``time_series_spark_spark`` regardless of the driver's
    working directory)."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).resolve().parent
        fd, path = tempfile.mkstemp(
            prefix="time_series_spark_spark_", suffix=".zip"
        )
        os.close(fd)
        with zipfile.ZipFile(path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
        _PKG_ZIP = path
    return _PKG_ZIP


_SHIPPED_CONTEXTS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to executors (idempotent per SparkContext).

    A genuine zip/addPyFile failure propagates — swallowing it would only
    resurface later as an opaque ModuleNotFoundError inside executor UDF
    workers. Only the benign already-added case is suppressed, tracked by
    a per-context flag rather than exception sniffing.
    """
    sc = spark.sparkContext
    ctx_id = sc.applicationId
    if ctx_id in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED_CONTEXTS.add(ctx_id)


def local_df(spark: SparkSession, rows, schema) -> "DataFrame":
    """Arrow-backed local DataFrame for driver-computed result rows.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into an
    RDD (``LogicalRDD`` scan): every collect of the result pays a full
    32-task pickled-Python job — measured 0.39 s for a 20-row frame on
    local[32] vs 0.05 s through Arrow (round 14, guide §6 "Arrow for
    driver transfers"). Routing the same rows through a pandas frame
    produces a ``LocalRelation`` (no cluster job at all on collect).
    Values and dtypes are unchanged — the driver's dtype-strict oracle
    sweep is the regression net. A conversion error (exotic nested types,
    resolution mismatches — Arrow's and PySpark's conversion errors
    subclass ``TypeError``/``ValueError``/``NotImplementedError``), or
    non-list input, falls back to the exact old path; anything else is a
    real failure and propagates.
    """
    import pandas as pd
    from pyspark.sql import types as T

    try:
        if not isinstance(rows, (list, tuple)):
            raise TypeError("list-of-rows input only")
        if isinstance(schema, str):
            struct = T._parse_datatype_string(schema)
        else:
            struct = schema
        if not isinstance(struct, T.StructType):
            raise TypeError("struct schema only")
        names = struct.fieldNames()
        data = [tuple(r) for r in rows]
        pdf = pd.DataFrame(data, columns=names, dtype=object)
        return spark.createDataFrame(pdf, struct)
    except (TypeError, ValueError, NotImplementedError):
        return spark.createDataFrame(rows, schema)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _engine_conf(
    master: str, shuffle_partitions: int | None = None
) -> dict[str, str]:
    """The runtime-settable engine configs for a session on ``master``,
    shared by ``get_spark`` (as builder ``.config``) and
    ``ensure_engine_conf`` (as ``spark.conf.set``). Static configs (master,
    driver memory, UI) live in ``get_spark`` only.
    """
    conf = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        # An externally-built session keeps Spark's default 200 shuffle
        # partitions, which at test scale is pure task overhead; AQE
        # coalescing makes the generous-but-bounded value safe either way.
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or default_parallelism()
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # File-split sizing: Spark's maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/defaultParallelism)). With the
        # 4 MB default openCost, a mid-size compute-heavy input (the 100x
        # stress corpus's 57 MB documents file) splits into ~14 partitions
        # on 32 cores — scan-stage parallelism capped at half the machine
        # for n-gram explodes and Arrow UDFs. 1 MB keeps splits aligned to
        # bytesPerCore until files are genuinely small. (Measured: the
        # 100x docs_lm_perplexity scan went 14 -> 32 tasks.)
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 64k-row Arrow batches (default 10k): the engine's Python-stage
        # rows are narrow numerics (guide §4.2 — "raise it for narrow
        # numeric data"), and the packed mapper pays a concat + boundary
        # scan per batch seam, so fewer/larger batches cut per-batch
        # overhead (measured round 14: forecast_user_events 0.182->0.150,
        # events_lttb_user 0.177->0.127 timed, byte-identical output;
        # toPandas collection rides the same knob). Memory for WIDE rows
        # (document text) stays bounded by Spark 4's byte-based cap,
        # spark.sql.execution.arrow.maxBytesPerBatch (64 MB default),
        # which applies first.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    }
    if master.startswith("local"):
        conf["spark.sql.streaming.checkpointFileManagerClass"] = (
            _LOCAL_CHECKPOINT_FILE_MANAGER
        )
    return conf


def get_spark(
    app_name: str = "time-series-spark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's required config."""
    master = master or f"local[{default_parallelism()}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "time_series_spark_spark.workerd"
        ).config("spark.executorEnv.PYTHONPATH", _package_zip())
    conf = {**_engine_conf(master, shuffle_partitions), **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine configs to an externally-built
    session (the driver hands us its own SparkSession in ``entry()``).
    Static configs (driver memory) can't change here.
    """
    for k, v in _engine_conf(spark.sparkContext.master).items():
        spark.conf.set(k, v)
    ship_package(spark)
    return spark
