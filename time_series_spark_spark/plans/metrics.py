"""EXPLAIN ANALYZE: execute a DataFrame's physical plan and report the
per-operator EXECUTED metrics (output rows, files read) — the runtime
counterpart of ``plans/audit.py``'s static plan pins, and the parity
feature for engines whose profiler prints actual-vs-estimated rows.

Execution is ``executedPlan().execute().count()`` — a JVM-side action on
the physical plan itself, so rows are counted where they are produced and
NEVER materialized to the Python driver (the scale requirement; a
``collect()``-based profiler would be the anti-pattern this repo bans).
AQE wrappers (``AdaptiveSparkPlan``, ``*QueryStage``) are unwrapped to the
final adaptive plan, so the report shows what actually ran, including
runtime re-plans like ``AQEShuffleRead`` coalescing.

Determinism note for the registered query: at fixed data, confs, and
AQE thresholds the final plan and its row counts are a pure function of
the input, so the report is stable run-to-run (pinned by tests).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from time_series_spark_spark.session import local_df


def _unwrap(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _unwrap(node.executedPlan())
    if name.endswith("QueryStage"):
        return _unwrap(node.plan())
    return node


def _walk(node, depth=0, out=None):
    if out is None:
        out = []
    node = _unwrap(node)
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        try:
            metrics[kv._1()] = kv._2().value()
        except Py4JError:  # a metric without a value yet
            pass
    out.append((depth, node.nodeName(), metrics))
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), depth + 1, out)
    return out


# pure pass-through wrappers: no semantics of their own, their row counts
# (when present) duplicate the operator they wrap
_WRAPPERS = {"WholeStageCodegen", "InputAdapter", "ColumnarToRow"}


def explain_analyze(df: DataFrame) -> DataFrame:
    """Execute ``df``'s plan and return one row per physical operator:
    ``op_seq`` (preorder position), ``depth``, ``operator``, ``rows_out``
    (null for operators without a row-count metric, e.g. Exchange), and
    ``n_files`` (parquet scans). Wrapper nodes (codegen spans, adapters)
    are dropped; everything else that ran is reported."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()  # JVM-side: executes + populates metrics
    rows = []
    seq = 0
    for depth, name, metrics in _walk(plan):
        base = name.split(" (")[0].strip()
        if base in _WRAPPERS:
            continue
        rows.append(
            (
                seq,
                depth,
                base,
                metrics.get("numOutputRows"),
                metrics.get("numFiles"),
            )
        )
        seq += 1
    return local_df(spark, 
        rows,
        "op_seq int, depth int, operator string, rows_out long, n_files long",
    )


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange operators that actually executed — the
    runtime shuffle count (used by layout/plan reports)."""
    report = explain_analyze(df)
    return report.filter(report.operator == "Exchange").count()
