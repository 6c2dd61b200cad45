"""The public API façade (package __init__): every exported name
resolves to a callable in its implementing module, importing the
package alone stays cheap (no query-registry import), and a
representative operator works through the façade path."""

from __future__ import annotations

import subprocess
import sys


def test_every_api_name_resolves():
    import time_series_spark_spark as ts

    for name in ts.__all__:
        obj = getattr(ts, name)
        assert callable(obj), name


def test_package_import_does_not_load_query_registry():
    # fresh interpreter: importing the package must NOT pull in the
    # 200-query registry modules (lazy façade contract)
    code = (
        "import sys, time_series_spark_spark;"
        "bad = [m for m in sys.modules if 'queries' in m];"
        "print('LOADED', bad)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    assert "LOADED []" in out.stdout, out.stdout


def test_facade_operator_roundtrip(spark):
    import datetime as dt

    from time_series_spark_spark import ewma

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("k", t0 + dt.timedelta(days=i), float(i)) for i in range(5)],
        "key string, ds timestamp, y double",
    )
    out = ewma(df, ["key"], "ds", "y", alpha=0.5).collect()
    assert len(out) == 5


def test_training_pipeline_funnel_monotone(spark):
    """The end-to-end curation composite: stages only ever REMOVE docs
    and tokens (every stage is a filter/sample), stage order is pinned,
    and the budget stage respects the per-language 2000-token cap."""
    from time_series_spark_spark.queries import REGISTRY

    pdf = (
        REGISTRY["training_data_pipeline_report"]
        .fn(spark, "/root/testdata/sf0.01")
        .toPandas()
        .sort_values("stage_idx")
    )
    assert list(pdf.stage_idx) == [0, 1, 2, 3, 4, 5]
    assert pdf.n_docs.is_monotonic_decreasing
    assert pdf.n_tokens.is_monotonic_decreasing
    assert pdf.n_docs.iloc[-1] > 0
    # 5 languages × 2000-token budget bounds the final stage
    assert pdf.n_tokens.iloc[-1] <= 5 * 2000
    assert (pdf.n_shards_final == 16).all()


def test_local_df_propagates_non_conversion_errors(spark, monkeypatch):
    """Only conversion errors fall back to the row path; any other failure
    on the pandas route is real and must surface."""
    import pandas as pd
    import pytest

    from time_series_spark_spark.session import local_df

    create = spark.createDataFrame

    def fake_create(data, *args, **kwargs):
        if isinstance(data, pd.DataFrame):
            raise RuntimeError("boom")
        return create(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", fake_create)
    with pytest.raises(RuntimeError, match="boom"):
        local_df(spark, [(1, "a")], "k long, v string")


def test_local_df_generator_falls_back_with_same_rows(spark):
    from time_series_spark_spark.session import local_df

    rows = [(1, "a"), (2, None), (3, "c")]
    got = local_df(spark, (r for r in rows), "k long, v string").collect()
    assert [tuple(r) for r in got] == rows
