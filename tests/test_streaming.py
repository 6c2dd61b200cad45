"""Stream-replay equivalence tests (SURVEY.md §5.5): each streaming
operator over file-replayed events must equal its batch counterpart on the
same data — including a genuinely multi-batch replay (chunked files +
maxFilesPerTrigger=1) for the stateful paths."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from pyspark.sql.window import Window

from time_series_spark_spark.operators.timeseries import session_summary
from time_series_spark_spark.sources.io import load
from time_series_spark_spark.streaming.jobs import (
    foreach_batch_collect,
    hourly_counts,
    read_events_stream,
    run_available_now,
    session_windows,
    stateful_user_totals,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load(spark, SF, "events").cache()


@pytest.fixture(scope="module")
def chunked_dir(spark, batch_events, tmp_path_factory):
    """events split into 4 time-ordered parquet chunks → real multi-batch
    replay when streamed with maxFilesPerTrigger=1."""
    d = tmp_path_factory.mktemp("chunks")
    n = batch_events.count()
    ordered = batch_events.orderBy("ts").withColumn(
        "chunk", (F.monotonically_increasing_id() * 4 / n).cast("int")
    )
    pdf = ordered.toPandas()
    for i, grp in pdf.groupby("chunk"):
        sub = grp.drop(columns=["chunk"]).copy()
        sub["ts"] = sub["ts"].astype("datetime64[us]").astype("int64") * 1000
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(sub), d / f"part-{i}.parquet")
    return str(d)


def test_stream_hourly_equals_batch(spark, batch_events):
    got = run_available_now(
        hourly_counts(read_events_stream(spark, SF)), output_mode="complete"
    )
    exp = (
        batch_events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stream_session_equals_batch_sessionize(spark, batch_events):
    got = run_available_now(
        session_windows(read_events_stream(spark, SF)), output_mode="complete"
    )
    exp = session_summary(batch_events, "user_id", "ts", 1800)
    g = got.select("user_id", "session_start", "n_events")
    # native session_window end = last_ts + gap; compare start/count/size
    e = exp.select("user_id", "session_start", "n_events")
    assert g.exceptAll(e).count() == 0 and e.exceptAll(g).count() == 0


def _plan_nodes(df):
    """``(node name, child output column names)`` for every node of
    ``df``'s analyzed plan, walked through the JVM plan tree (a streaming
    plan is not optimized until a query runs it)."""
    nodes, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        kids = [node.children().apply(i) for i in range(node.children().size())]
        cols = [
            k.output().apply(i).name()
            for k in kids[:1]
            for i in range(k.output().size())
        ]
        nodes.append((node.nodeName(), cols))
        todo += kids
    return nodes


def test_stateful_totals_multibatch(spark, batch_events, chunked_dir):
    """The running per-user totals are a native streaming aggregate: no
    Python node in the plan, and over a four-batch replay the last
    update per user equals the batch GROUP BY on both columns."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    totals = stateful_user_totals(sdf)
    names = [name for name, _ in _plan_nodes(totals)]
    assert "Aggregate" in names
    assert not [n for n in names if "Python" in n or "Pandas" in n], names
    assert totals.schema.simpleString() == (
        "struct<user_id:bigint,n_events:bigint,total_value:double>"
    )
    table = run_available_now(totals, output_mode="update")
    assert table.count() > table.select("user_id").distinct().count()
    # last update per user holds the final running state
    last = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        table.withColumn("r", F.row_number().over(last))
        .filter("r = 1")
        .drop("r")
    )
    exp = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert final.exceptAll(exp).count() == 0 and exp.exceptAll(final).count() == 0


@pytest.mark.parametrize(
    "job, inputs",
    [
        ("anomaly_flags", ["user_id", "event_id", "value"]),
        ("page_hinkley", ["event_type", "event_id", "value"]),
        ("debounce", ["user_id", "event_type", "ts", "event_id"]),
        ("heavy_hitters", ["event_type", "event_id", "user_id"]),
        ("token_bucket", ["user_id", "ts", "event_id"]),
    ],
)
def test_stateful_python_updates_read_only_their_columns(spark, job, inputs):
    """Spark cannot prune columns through an opaque pandas function, so
    each ``applyInPandasWithState`` job selects its keys and the columns
    its update reads: exactly those cross to the Python worker."""
    from time_series_spark_spark.streaming import jobs

    out = getattr(jobs, f"stateful_{job}")(read_events_stream(spark, SF))
    fed = [
        cols for name, cols in _plan_nodes(out)
        if name == "FlatMapGroupsInPandasWithState"
    ]
    assert fed == [inputs]


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local-cluster[2,1,1024]", True),
        ("yarn", False),
        ("spark://host:7077", False),
    ],
)
def test_engine_conf_sets_checkpoint_manager_for_local_masters_only(
    master, local
):
    from time_series_spark_spark.session import (
        _LOCAL_CHECKPOINT_FILE_MANAGER,
        _engine_conf,
    )

    conf = _engine_conf(master)
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert (key in conf) is local
    if local:
        assert conf[key] == _LOCAL_CHECKPOINT_FILE_MANAGER


def test_stateful_totals_resume_from_checkpoint(
    spark, batch_events, chunked_dir, tmp_path
):
    """A restart restores the per-user state: replaying the first file,
    then the rest on the same checkpoint, equals one full replay and the
    batch totals. The session runs on a ``local`` master, so the second
    run reads state from delta files the FileSystem-based checkpoint
    manager wrote."""
    import os
    import shutil

    from time_series_spark_spark.session import _LOCAL_CHECKPOINT_FILE_MANAGER

    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == _LOCAL_CHECKPOINT_FILE_MANAGER
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replay(src, ck):
        sdf = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        # foreachBatch: the memory sink refuses to resume in update mode
        batches = []
        q = (
            stateful_user_totals(sdf)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ck)
            .foreachBatch(lambda df, _: batches.append(df.toPandas()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return pd.concat(batches, ignore_index=True)

    def final(pdf):
        last = pdf.loc[pdf.groupby("user_id")["n_events"].idxmax()]
        return {
            int(u): (int(n), round(float(t), 2))
            for u, n, t in zip(last.user_id, last.n_events, last.total_value)
        }

    chunks = sorted(f for f in os.listdir(chunked_dir) if f.endswith(".parquet"))
    src, ck = tmp_path / "arriving", str(tmp_path / "ck")
    src.mkdir()
    shutil.copy(os.path.join(chunked_dir, chunks[0]), src)
    first = replay(str(src), ck)
    for f in chunks[1:]:
        shutil.copy(os.path.join(chunked_dir, f), src)
    second = replay(str(src), ck)

    assert any(
        f.endswith(".delta") for _, _, fs in os.walk(os.path.join(ck, "state"))
        for f in fs
    )
    # users seen in both runs: their second-run totals carry restored state
    assert set(first.user_id) & set(second.user_id)
    resumed = final(pd.concat([first, second], ignore_index=True))
    full = final(replay(chunked_dir, str(tmp_path / "ck_full")))
    exp = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    ).toPandas()
    assert resumed == full == final(exp)


def test_foreach_batch_sink_roundtrip(spark, batch_events, tmp_path):
    out = str(tmp_path / "sink")
    foreach_batch_collect(read_events_stream(spark, SF), out)
    written = spark.read.parquet(out)
    assert written.count() == batch_events.count()


def test_rate_source_produces_rows(spark):
    """A5 rate source: micro-batches of fixed size arrive with the
    (timestamp, value) schema and consecutive values."""
    import time

    from time_series_spark_spark.streaming.jobs import read_rate_stream

    q = (
        read_rate_stream(spark, rows_per_batch=50)
        .writeStream.format("memory")
        .queryName("rate_test_sink")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline and spark.table("rate_test_sink").count() < 100:
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(20)
    got = spark.table("rate_test_sink")
    n = got.count()
    assert n >= 100 and n % 50 == 0
    vals = sorted(r.value for r in got.collect())
    assert vals == list(range(n))


def test_incremental_bitmap_partials_multibatch(
    spark, batch_events, chunked_dir, tmp_path
):
    """J9: the streaming partial log (4 real micro-batches, appended
    partials) merge-on-reads to EXACTLY the batch count(DISTINCT) — the
    streaming half of the continuous-aggregate pattern, with no estimate
    error because the partials are bitmaps."""
    from time_series_spark_spark.streaming.jobs import (
        incremental_bitmap_partials,
        read_incremental_distinct,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    log = str(tmp_path / "bitmap_partials")
    incremental_bitmap_partials(sdf, log)
    got = {
        (r.event_type, r.d): r.n_distinct
        for r in read_incremental_distinct(spark, log).collect()
    }
    want = {
        (r.event_type, r.d): r.n
        for r in batch_events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("d")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_equals_batch_range_join(spark, batch_events):
    from time_series_spark_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    clicks_s = read_events_stream(spark, SF).filter(F.col("event_type") == "click")
    purch_s = read_events_stream(spark, SF).filter(
        F.col("event_type") == "purchase"
    )
    got = run_available_now(
        stream_stream_interval_join(clicks_s, purch_s), output_mode="append"
    )
    c = batch_events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    p = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    exp = c.join(
        p,
        F.expr(
            "l_key = r_key AND r_ts >= l_ts "
            "AND r_ts <= l_ts + interval 30 minutes"
        ),
    )
    assert got.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stateful_anomaly_flags_match_welford_simulation(spark, tmp_path):
    """J7b: replaying a planted stream must reproduce a driver-side
    Welford simulation EXACTLY — each event z-scored against prior
    events only (the spike is flagged, the stats it pollutes only
    affect later events), state bounded at three scalars per key."""
    import math

    from time_series_spark_spark.streaming.jobs import stateful_anomaly_flags

    rows = []
    vals = {1: [10.0, 11.0, 9.0, 10.5, 100.0, 10.2, 9.8],
            2: [5.0, 5.0, 5.0, 5.0]}
    eid = 0
    base = 1_700_000_000_000_000  # µs
    for uid, vs in vals.items():
        for i, v in enumerate(vs):
            rows.append((eid, base + eid * 1_000_000, uid, "click", v, "{}"))
            eid += 1
    import pandas as pd_

    pdf = pd_.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd_.to_datetime(pdf["ts"], unit="us")
    src = str(tmp_path / "planted")
    spark.createDataFrame(pdf).write.parquet(src)
    sdf = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(src)
    )
    table = run_available_now(
        stateful_anomaly_flags(sdf), output_mode="append"
    )
    got = {
        (r.user_id, r.event_id): (r.z, r.is_anomaly) for r in table.collect()
    }

    eid = 0
    for uid, vs in vals.items():
        n, mean, m2 = 0, 0.0, 0.0
        for v in vs:
            if n >= 2 and m2 > 0:
                sd = math.sqrt(m2 / (n - 1))
                z = (v - mean) / sd if sd > 0 else 0.0
            else:
                z = 0.0
            assert got[(uid, eid)] == (round(z, 4), abs(z) > 3.0), (uid, eid)
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
            eid += 1
    # the planted spike is the only flag
    flags = [k for k, (_, a) in got.items() if a]
    assert flags == [(1, 4)]


def test_incremental_cm_partials_multibatch(
    spark, batch_events, chunked_dir, tmp_path
):
    """J9b: the streaming Count-Min partial log (4 real micro-batches)
    merge-on-reads to the EXACT cell table of sketching the whole
    corpus at once — cell addition is associative, so the continuous
    aggregate carries the same estimation guarantees as a batch
    sketch."""
    from time_series_spark_spark.operators.sketches import cm_partials
    from time_series_spark_spark.streaming.jobs import (
        incremental_cm_partials,
        read_incremental_cm,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    log = str(tmp_path / "cm_partials")
    incremental_cm_partials(sdf, log)
    merged = {
        (r.r, r.c): r.cnt for r in read_incremental_cm(spark, log).collect()
    }
    direct = {
        (r.r, r.c): r.cnt
        for r in cm_partials(batch_events, F.col("user_id")).collect()
    }
    assert merged == direct


def test_incremental_hist_partials_multibatch(
    spark, batch_events, chunked_dir, tmp_path
):
    """J9c: the streaming histogram partial log (real micro-batches via
    maxFilesPerTrigger=1) merge-on-reads to the EXACT bucket table of
    histogramming the whole corpus at once — count addition is
    associative — and the p95 answered FROM THE LOG equals the batch
    answer bucket-for-bucket."""
    from time_series_spark_spark.operators.sketches import (
        hist_partials,
        hist_quantile,
    )
    from time_series_spark_spark.streaming.jobs import (
        incremental_hist_partials,
        read_incremental_hist,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    log = str(tmp_path / "hist_partials")
    incremental_hist_partials(sdf, log)
    merged_df = read_incremental_hist(spark, log)
    merged = {
        (r.event_type, r.d, r.bucket): r.cnt for r in merged_df.collect()
    }
    direct = {
        (r.event_type, r.d, r.bucket): r.cnt
        for r in hist_partials(
            batch_events.select(
                "event_type", F.date_trunc("day", "ts").alias("d"), "value"
            ),
            ["event_type", "d"],
            "value",
            0.0,
            512.0,
            64,
        ).collect()
    }
    assert merged == direct
    from_log = {
        (r.event_type, r.d): r.p95_est
        for r in hist_quantile(
            merged_df, ["event_type", "d"], 0.95, 0.0, 512.0, 64
        ).collect()
    }
    assert len(from_log) == len({k[:2] for k in direct})


def test_incremental_partials_idempotent_under_redelivery(
    spark, batch_events, chunked_dir, tmp_path
):
    """Round-4 exactly-once guard: re-running the whole partial-log stream
    (same batch ids — the at-least-once redelivery case) must leave the
    merged result UNCHANGED, because each micro-batch dynamically
    overwrites its own batch_id partition instead of appending a second
    generation. With blind append this doubles every count."""
    from time_series_spark_spark.operators.sketches import hist_partials
    from time_series_spark_spark.streaming.jobs import (
        incremental_hist_partials,
        read_incremental_hist,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def run_once():
        sdf = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(chunked_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        incremental_hist_partials(sdf, str(tmp_path / "hist_log"))

    run_once()
    run_once()  # redelivery: same files, same batch ids
    merged = {
        (r.event_type, r.d, r.bucket): r.cnt
        for r in read_incremental_hist(spark, str(tmp_path / "hist_log")).collect()
    }
    direct = {
        (r.event_type, r.d, r.bucket): r.cnt
        for r in hist_partials(
            batch_events.select(
                "event_type", F.date_trunc("day", "ts").alias("d"), "value"
            ),
            ["event_type", "d"],
            "value",
            0.0,
            512.0,
            64,
        ).collect()
    }
    assert merged == direct


def test_incremental_partials_checkpoint_restart_recovery(
    spark, batch_events, chunked_dir, tmp_path
):
    """Round-4 restart-recovery guard: with a checkpointLocation, a
    RESTARTED partial-log stream resumes from committed source offsets —
    the second run processes ONLY files that arrived after the first run
    (new batch ids appended, old ones untouched) — and the merged log
    still equals the batch answer over everything. This is the long-lived
    ingestion-job lifecycle: run, stop, more data lands, run again."""
    import os
    import shutil

    from time_series_spark_spark.operators.sketches import hist_partials
    from time_series_spark_spark.streaming.jobs import (
        incremental_hist_partials,
        read_incremental_hist,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = str(tmp_path / "arriving")
    os.makedirs(src)
    chunks = sorted(
        f for f in os.listdir(chunked_dir) if f.endswith(".parquet")
    )
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")

    def run_once():
        sdf = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        incremental_hist_partials(sdf, log, checkpoint_dir=ckpt)

    for f in chunks[:2]:
        shutil.copy(os.path.join(chunked_dir, f), os.path.join(src, f))
    run_once()
    gens_first = {p for p in os.listdir(log) if p.startswith("batch_id=")}
    for f in chunks[2:]:
        shutil.copy(os.path.join(chunked_dir, f), os.path.join(src, f))
    run_once()  # restart: must pick up ONLY the two new files
    gens_second = {p for p in os.listdir(log) if p.startswith("batch_id=")}
    assert gens_first < gens_second  # old generations kept, new ones added
    assert len(gens_second) == len(gens_first) + 2

    merged = {
        (r.event_type, r.d, r.bucket): r.cnt
        for r in read_incremental_hist(spark, log).collect()
    }
    direct = {
        (r.event_type, r.d, r.bucket): r.cnt
        for r in hist_partials(
            batch_events.select(
                "event_type", F.date_trunc("day", "ts").alias("d"), "value"
            ),
            ["event_type", "d"],
            "value",
            0.0,
            512.0,
            64,
        ).collect()
    }
    assert merged == direct


def test_incremental_mg_partials_multibatch(
    spark, batch_events, chunked_dir, tmp_path
):
    """J9d: the streaming MG partial log merges to bounds that contain
    the exact per-item counts; with counters >= distinct items the
    bounds collapse to the exact batch counts (every D_p = 0)."""
    from time_series_spark_spark.streaming.jobs import (
        incremental_mg_partials,
        read_incremental_mg,
    )

    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    log = str(tmp_path / "mg_partials")
    incremental_mg_partials(sdf, log, item_col="event_type", counters=512)
    got = {
        r.item: (r.cnt_lower, r.cnt_upper)
        for r in read_incremental_mg(spark, log, k=10).collect()
    }
    exact = {
        r.event_type: r.n
        for r in batch_events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(exact)  # 5 types, k=10 → all present
    for item, (lo, hi) in got.items():
        assert lo == hi == exact[item]  # counters >> distinct → exact


def test_incremental_mg_bounds_under_pressure(
    spark, batch_events, chunked_dir, tmp_path
):
    """With counters < distinct items (pressure on user_id), the merged
    bounds must still bracket every emitted item's true count."""
    from time_series_spark_spark.streaming.jobs import (
        incremental_mg_partials,
        read_incremental_mg,
    )

    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    log = str(tmp_path / "mg_pressure")
    incremental_mg_partials(sdf, log, item_col="user_id", counters=8)
    exact = {
        str(r.user_id): r.n
        for r in batch_events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = read_incremental_mg(spark, log, k=10).collect()
    assert rows
    for r in rows:
        assert r.cnt_lower <= exact[r.item] <= r.cnt_upper


def test_stream_forecast_serving_equals_batch(spark):
    """J12: the served stream result equals the same pipeline computed
    fully batch-side (same baseline, same join, same flags)."""
    from time_series_spark_spark.operators.forecast import (
        daily_series,
        holt_winters,
    )
    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.sources.io import load

    got = (
        REGISTRY["stream_forecast_serving"]
        .fn(spark, SF)
        .select("user_id", "d", "expected", "actual", "flag")
    )
    ev = load(spark, SF, "events")
    train = ev.filter(F.col("ts") < "2024-01-22")
    series = daily_series(train, ["user_id"], "ts", F.sum("value"))
    baseline = holt_winters(
        series, ["user_id"], "ds", "y", season_length=7, horizon=9
    ).select(
        "user_id",
        F.date_trunc("day", F.col("ds")).alias("d"),
        F.col("yhat").alias("expected"),
    )
    actual = (
        ev.filter(F.col("ts") >= "2024-01-22")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("actual"))
    )
    exp = (
        actual.join(baseline, ["user_id", "d"])
        .withColumn(
            "flag",
            (F.col("actual") > 3 * F.greatest(F.col("expected"), F.lit(1.0)))
            | (F.col("actual") * 3 < F.col("expected")),
        )
        .select("user_id", "d", F.round("expected", 2).alias("expected"),
                "actual", "flag")
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_dedup_within_watermark_drops_jittered_redelivery(spark, tmp_path):
    """J6b: redelivered events with jittered timestamps (same event_id,
    ts shifted by seconds) collapse to one row — the case classic
    dropDuplicates([id, ts]) cannot handle."""
    import datetime as dt

    from time_series_spark_spark.streaming.jobs import (
        dedup_stream_within_watermark,
        run_available_now,
    )

    t0 = dt.datetime(2024, 1, 1)
    original = [
        (i, t0 + dt.timedelta(minutes=i), i % 5, "click", 1.0, "{}")
        for i in range(50)
    ]
    jittered = [
        (i, t0 + dt.timedelta(minutes=i, seconds=30), i % 5, "click", 1.0, "{}")
        for i in range(0, 50, 2)  # half the events redelivered
    ]
    df = spark.createDataFrame(
        original + jittered,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "events_wm")
    df.coalesce(2).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = run_available_now(
        dedup_stream_within_watermark(sdf), output_mode="append"
    )
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50


def test_stream_left_outer_join_piecewise_equals_batch(spark, batch_events):
    """J10b piecewise replay equivalence: matched pairs ≡ the batch
    inner interval join EXACTLY; emitted NULL rows ≡ the batch
    anti-join restricted to the provably-expired region (l_ts older
    than max_ts − watermark − interval); no null row may leak from the
    withheld tail."""
    from time_series_spark_spark.streaming.jobs import (
        stream_stream_left_outer_join,
    )

    views_s = read_events_stream(spark, SF).filter(F.col("event_type") == "view")
    purch_s = read_events_stream(spark, SF).filter(
        F.col("event_type") == "purchase"
    )
    got = run_available_now(
        stream_stream_left_outer_join(views_s, purch_s), output_mode="append"
    ).cache()

    v = batch_events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    p = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    cond = F.expr(
        "l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval 30 minutes"
    )
    inner = v.join(p, cond)
    got_matched = got.filter(F.col("r_id").isNotNull())
    assert got_matched.exceptAll(inner).count() == 0
    assert inner.exceptAll(got_matched).count() == 0

    horizon = batch_events.agg(
        (F.max("ts") - F.expr("interval 1 hour 30 minutes")).alias("h")
    ).collect()[0]["h"]
    unmatched_expired = (
        v.join(p, cond, "left_anti").filter(F.col("l_ts") < F.lit(horizon))
    )
    got_nulls = got.filter(F.col("r_id").isNull()).select(
        "l_key", "l_ts", "l_id"
    )
    # every expired-unmatched batch row must appear as a null row...
    assert unmatched_expired.exceptAll(got_nulls).count() == 0
    # ...and no null row may be a row the batch join matches
    assert (
        got_nulls.join(inner.select("l_id"), "l_id", "left_semi").count() == 0
    )


def test_python_stream_source_offsets_and_replay(spark):
    """A12 streaming Python DataSource: (1) engine-level drain returns
    exactly max_rows deterministic ticks twice in a row; (2) reader-level
    offset walk advances in rows_per_batch steps and concatenates to the
    same rows; (3) readBetweenOffsets (the failure-replay path) returns
    the identical slice."""
    from time_series_spark_spark.sources.pydatasource import (
        SyntheticTickStreamReader,
        register_tick_stream_source,
    )

    register_tick_stream_source(spark)

    def drain():
        sdf = (
            spark.readStream.format("synthetic_ticks")
            .option("rows_per_batch", 120)
            .option("max_rows", 120)
            .option("seed", 11)
            .load()
        )
        return sorted(map(tuple, run_available_now(sdf).collect()))

    a, b = drain(), drain()
    assert a == b and len(a) == 120

    r = SyntheticTickStreamReader(
        {"rows_per_batch": "50", "max_rows": "120", "seed": "11"}
    )
    off = r.initialOffset()
    walked = []
    while off["i"] < 120:
        rows, nxt = r.read(off)
        walked.extend(rows)
        assert nxt["i"] - off["i"] <= 50
        off = nxt
    assert sorted(map(tuple, walked)) == a
    replay = list(r.readBetweenOffsets({"i": 50}, {"i": 100}))
    assert replay == walked[50:100]


def test_incremental_hll_partials_multibatch_equals_batch(
    spark, chunked_dir, tmp_path
):
    """J9c: the streaming HLL partial log (real micro-batches, appended
    day sketches) merge-on-reads to EXACTLY the batch sliding-HLL query —
    register-max union is order/batching-invariant, so the streaming and
    batch estimates are identical, not merely close."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.streaming.jobs import (
        incremental_hll_partials,
        read_incremental_hll_7d,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    log = str(tmp_path / "hll_partials")
    incremental_hll_partials(sdf, log)
    got = {
        (str(r["d"])[:10], r["users_7d_approx"])
        for r in read_incremental_hll_7d(spark, log).collect()
    }
    want = {
        (str(r["d"])[:10], r["users_7d_approx"])
        for r in REGISTRY["events_sliding_hll_users"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_incremental_kll_partials_rank_error(spark, chunked_dir, tmp_path):
    """J9d+: the streaming KLL quantile log merges to within KLL(200)
    rank error of the EXACT batch percentiles — the mergeable-quantile
    guarantee survives micro-batching."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import load
    from time_series_spark_spark.streaming.jobs import (
        incremental_kll_partials,
        read_incremental_kll_quantiles,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    log = str(tmp_path / "kll_partials")
    incremental_kll_partials(sdf, log)
    got = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in read_incremental_kll_quantiles(
            spark, log, {"p50": 0.5, "p95": 0.95}
        ).collect()
    }
    ev = load(spark, "/root/testdata/sf0.001", "events")
    for r in ev.groupBy("event_type").agg(
        F.expr("count(*)").alias("n"),
        F.expr("sort_array(collect_list(value))").alias("vals"),
    ).collect():
        vals, n = r["vals"], r["n"]
        for q, approx in zip((0.5, 0.95), got[r["event_type"]]):
            # KLL(200) normalized rank error ~1.65%; allow 3% of n
            rank = sum(1 for v in vals if v <= approx)
            assert abs(rank - q * n) <= max(3, 0.03 * n), (
                r["event_type"], q, rank, n,
            )


def test_incremental_fd_partials_keep_bound(spark, tmp_path):
    """J9e+: the streaming FD log, re-reduced at read time, still
    satisfies the Frequent Directions covariance bound over the WHOLE
    streamed matrix (the FD merge theorem, exercised through real
    micro-batches)."""
    import numpy as np

    from time_series_spark_spark.sources.io import load
    from time_series_spark_spark.streaming.jobs import (
        incremental_fd_partials,
        read_incremental_fd,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    chunks = str(tmp_path / "emb_chunks")
    emb.repartition(3, "vec_id").write.parquet(chunks)
    sdf = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    log = str(tmp_path / "fd_partials")
    incremental_fd_partials(sdf, log, ell=16)
    B = read_incremental_fd(spark, log, ell=16)
    A = np.array(
        [list(r["embedding"]) for r in emb.collect()], dtype=float
    )
    err = np.linalg.norm(A.T @ A - B.T @ B, 2)
    assert err <= (A**2).sum() / 16 + 1e-6
    assert B.shape[1] == A.shape[1]


def test_state_store_reader_completes_emitted_to_batch(spark, tmp_path):
    """J11: append-mode emitted rows are the CLOSED windows; the state
    store holds the OPEN ones. Emitted ∪ state (read offline via the
    statestore source) must exactly equal the batch aggregate."""
    from time_series_spark_spark.sources.io import load
    from time_series_spark_spark.streaming.jobs import (
        hourly_counts,
        read_events_stream,
        read_state_metadata,
        read_state_store,
        run_available_now_checkpointed,
    )

    sf = "/root/testdata/sf0.001"
    ck = str(tmp_path / "ck_ssr")
    emitted, _ = run_available_now_checkpointed(
        hourly_counts(read_events_stream(spark, sf)), ck
    )
    md = read_state_metadata(spark, ck).collect()
    assert any(r["operatorName"] == "stateStoreSave" for r in md)

    state = read_state_store(spark, ck)
    open_windows = state.select(
        F.col("key.window.start").alias("bucket"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.round(F.col("value.sum"), 2).alias("total_value"),
    )
    got = {
        (r["bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in emitted.collect() + open_windows.collect()
    }
    ev = load(spark, sf, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n",
                "total_value")
    )
    exp = {
        (r["bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert got == exp
    # emitted and state are disjoint AND both non-trivial on this corpus
    assert len(got) == emitted.count() + open_windows.count()
    assert open_windows.count() > 0


def test_watermark_drop_accounting_counts_late_rows(spark, tmp_path):
    """J11c: a late row arriving once the watermark has passed its event
    time is excluded from the aggregate AND shows up in
    numRowsDroppedByWatermark - the silent-loss ledger.

    Semantics pinned here (measured, Spark 4.1): late-record filtering
    uses the watermark as of the PREVIOUS batch commit - a one-batch
    lag. A late row landing in the very first batch after the fresh
    data is NOT yet filtered (the new watermark only takes effect next
    batch), so the probe stages fresh -> fresh -> late across THREE
    microbatches (mtime-ordered files, maxFilesPerTrigger=1)."""
    import datetime as dt
    import os

    from time_series_spark_spark.streaming.jobs import (
        EVENTS_SCHEMA_NTZ,
        run_available_now_checkpointed,
        watermark_drop_stats,
    )

    src = tmp_path / "late_src"
    src.mkdir()
    batches = [
        [(1, dt.datetime(2024, 1, 2, 12, 30)), (2, dt.datetime(2024, 1, 2, 12, 40))],
        [(4, dt.datetime(2024, 1, 2, 13, 30))],
        [(3, dt.datetime(2024, 1, 1, 0, 5))],  # 36h late
    ]
    now = 2_000_000_000
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(eid, ts, 1, "click", 1.0, "{}") for eid, ts in rows],
            EVENTS_SCHEMA_NTZ,
        )
        d = src / f"f{i}"
        df.coalesce(1).write.parquet(str(d))
        for f in d.rglob("*"):
            os.utime(f, (now - 1000 * (len(batches) - i), now - 1000 * (len(batches) - i)))

    sdf = (
        spark.readStream.schema(EVENTS_SCHEMA_NTZ)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("bucket"), "n")
    )
    out, progress = run_available_now_checkpointed(
        agg, str(tmp_path / "ck_wm"), output_mode="update"
    )
    stats = watermark_drop_stats(progress)
    assert stats["n_batches"] >= 3
    assert stats["total_dropped"] == 1, stats
    # the drop lands in the LAST data batch, not earlier
    assert stats["per_batch"][-1]["dropped"] == 1
    # the late row's hour never appears in results
    buckets = {r["bucket"] for r in out.collect()}
    assert dt.datetime(2024, 1, 1, 0, 0) not in buckets
    assert dt.datetime(2024, 1, 2, 12, 0) in buckets


def test_stream_page_hinkley_matches_python_replay(spark):
    """J7c: the state-store recursion equals the plain-Python Page-
    Hinkley recursion run over each type's events in event_id order."""
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in REGISTRY["stream_page_hinkley_drift"].fn(spark, sf).collect()
    }
    ev = pd.read_parquet(f"{sf}/events.parquet").sort_values("event_id")
    for etype, grp in ev.groupby("event_type"):
        n, total, m, m_min, alarms, ph = 0, 0.0, 0.0, 0.0, 0, 0.0
        for v in grp["value"]:
            cents = float(round(float(v) * 100))
            n += 1
            total += cents
            m += cents - total / n - 50.0
            m_min = min(m_min, m)
            ph = m - m_min
            alarms += ph > 5000.0
        row = got[etype]
        assert row["n_events"] == n, etype
        assert row["n_alarms"] == alarms, etype
        assert abs(row["final_ph"] - round(ph, 4)) < 1e-6, etype


def test_stream_debounce_equals_batch_burst_starts(spark):
    """J12 ≡ F105: the streamed keeper set (one state scalar per key)
    equals the batch burst-start set computed with the ordered-window
    rule, per (user, event_type) — and the per-type kept counts equal
    the batch query's n_bursts totals."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.sources.io import load
    from time_series_spark_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        stateful_debounce,
    )

    sf = "/root/testdata/sf0.001"
    kept = run_available_now(
        stateful_debounce(read_events_stream(spark, sf))
    )
    got = sorted(
        (r["user_id"], r["event_type"], r["event_id"])
        for r in kept.collect()
    )

    key = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ev = load(spark, sf, "events")
    batch = ev.select(
        "user_id", "event_type", "event_id",
        (
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(key)
                > 300_000_000
            )
            | F.lag("ts").over(key).isNull()
        ).alias("is_start"),
    ).filter("is_start")
    want = sorted(
        (r["user_id"], r["event_type"], r["event_id"])
        for r in batch.collect()
    )
    assert got == want

    # and the registered report's totals agree with batch F105
    rep = {
        r["event_type"]: r["n_kept"]
        for r in REGISTRY["stream_debounce_user_type"].fn(spark, sf).collect()
    }
    f105 = (
        REGISTRY["events_debounce_user_type"]
        .fn(spark, sf)
        .groupBy("event_type")
        .agg(F.sum("n_bursts").alias("n"))
        .collect()
    )
    assert rep == {r["event_type"]: r["n"] for r in f105}


def test_stream_heavy_hitters_bounds_and_state(spark):
    """J13: every emitted (item, bounds) pair brackets the EXACT count
    (cnt_lower <= true <= cnt_upper); with a counter budget below the
    domain size the decrement path runs (some lower bound < true);
    state arrays never exceed the counter budget."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.sources.io import load

    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["stream_heavy_hitters_users"].fn(spark, sf).collect()
    assert rows, "no heavy hitters emitted"

    exact = {
        (r["event_type"], str(r["item"])): r["n"]
        for r in load(spark, sf, "events")
        .groupBy(
            "event_type", (F.col("user_id") % 100).cast("string").alias("item")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) > 0
    decremented = 0
    for r in rows:
        true = exact[(r["event_type"], r["item"])]
        assert r["cnt_lower"] <= true <= r["cnt_upper"], (r, true)
        if r["cnt_lower"] < true:
            decremented += 1
        assert 1 <= r["rnk"] <= 10
    # 100-item domain vs 64 counters: decrements must have happened
    assert decremented > 0


def test_sprt_partials_multibatch_equals_sequential_replay(
    spark, tmp_path
):
    """J14: the partial log written over MANY micro-batches merges to
    the exact cumulative counts of the whole stream, the LLR path
    equals a plain-Python sequential replay, and planted streams
    cross the correct Wald bound (B-heavy -> accept_h1 at the right
    batch; balanced -> accept_h0 or continue; never the wrong bound)."""
    import hashlib
    import math

    from time_series_spark_spark.streaming.jobs import (
        SPRT_ALPHA,
        SPRT_BETA,
        SPRT_Q1,
        incremental_sprt_partials,
        read_sprt_decisions,
    )

    src = str(tmp_path / "src")
    log = str(tmp_path / "log")
    ev = load(spark, "/root/testdata/sf0.01", "events")
    # write the corpus as 4 file-chunks -> 4 micro-batches
    ev.withColumn(
        "chunk", (F.col("event_id") % 4).cast("int")
    ).write.partitionBy("chunk").parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    incremental_sprt_partials(sdf, log)
    out = read_sprt_decisions(spark, log).collect()
    assert len(out) >= 2  # really multi-batch

    # merge-law: final cumulative counts == batch aggregation
    purch = ev.filter(F.col("event_type") == "purchase").collect()
    k_a = sum(
        1 for r in purch
        if hashlib.md5(str(r.user_id).encode()).hexdigest()[0] < "8"
    )
    k_b = len(purch) - k_a
    assert (out[-1]["k_a"], out[-1]["k_b"]) == (k_a, k_b)

    # LLR path replay at every prefix
    for r in out:
        want = r["k_b"] * math.log(2 * SPRT_Q1) + r["k_a"] * math.log(
            2 * (1 - SPRT_Q1)
        )
        assert math.isclose(r["llr"], round(want, 6), abs_tol=1e-9)

    # planted sequential behavior (pure replay of the decision rule)
    up = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    lo = math.log(SPRT_BETA / (1 - SPRT_ALPHA))

    def verdict_path(arms):
        llr, v = 0.0, "continue"
        path = []
        for a in arms:
            llr += math.log(2 * SPRT_Q1) if a else math.log(
                2 * (1 - SPRT_Q1)
            )
            if v == "continue":
                if llr >= up:
                    v = "accept_h1"
                elif llr <= lo:
                    v = "accept_h0"
            path.append(v)
        return path

    heavy_b = verdict_path([1] * 40)
    assert heavy_b[-1] == "accept_h1"
    assert "accept_h0" not in heavy_b
    balanced = verdict_path([0, 1] * 200)
    assert "accept_h1" not in balanced[:50]


def test_token_bucket_stream_equals_batch_and_hand_replay(
    spark, tmp_path
):
    """F163/J15: the streaming token-bucket audit over MANY micro-
    batches equals the batch packed audit row-for-row; a hand-built
    burst scenario admits exactly the bucket semantics (capacity 2,
    one token per 6h: two immediate admits, third rejected, refill
    readmits)."""
    import pandas as pd

    from time_series_spark_spark.operators.analytics import (
        token_bucket_flags,
    )
    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.streaming.jobs import (
        run_available_now,
        stateful_token_bucket,
    )

    # hand replay: one user, a burst then a refill
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    h = timedelta(hours=1)
    df = spark.createDataFrame(
        [
            (1, 10, t0),            # admit (tokens 2 -> 1)
            (1, 11, t0 + h),        # admit (refill 1/6 -> spends)
            (1, 12, t0 + 2 * h),    # reject (below one token)
            (1, 13, t0 + 14 * h),   # admit (12h refill, capped)
        ],
        "user_id long, event_id long, ts timestamp",
    )
    flags = {
        r["event_id"]: r["admitted"]
        for r in token_bucket_flags(df, "user_id", "ts").collect()
    }
    assert flags == {10: 1, 11: 1, 12: 0, 13: 1}

    # multibatch streaming == batch on sf0.001
    src = str(tmp_path / "src")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    # chunk by TIME (week index), not by id — micro-batches must arrive
    # in event-time order for the carried (last_us, stok) state to mean
    # anything, exactly like a real ingestion stream
    ev.withColumn(
        "chunk",
        F.expr(
            "CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') DIV 8 AS INT)"
        ),
    ).write.partitionBy("chunk").parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    table = run_available_now(
        stateful_token_bucket(sdf), output_mode="append"
    )
    stream_flags = {
        (r["user_id"], r["event_id"]): (r["admitted"],
                                        r["tokens_after_p"])
        for r in table.collect()
    }
    batch_flags = {
        (r["user_id"], r["event_id"]): (r["admitted"],
                                        r["tokens_after_p"])
        for r in token_bucket_flags(ev, "user_id", "ts").collect()
    }
    assert stream_flags == batch_flags
    assert any(adm == 0 for adm, _ in batch_flags.values())


def test_versioned_sink_crash_atomicity_redelivery_and_time_travel(
    spark, tmp_path
):
    """J11d+A13: (1) a writer crash mid-batch — data dir + .tmp manifest
    on disk, rename never happened — is INVISIBLE to readers (the table
    stays at the previous version, no torn read); (2) recovery
    overwrites the orphaned dir, versions stay monotone, every stream
    version is a time-travel point; (3) at-least-once redelivery of an
    already-committed (stream_id, batch_id) publishes nothing, while a
    FRESH stream identity whose batch ids restart at 0 publishes
    normally (the batch-id-alone keying bug would have dropped it)."""
    import os

    import pandas as pd

    from time_series_spark_spark.sources.io import (
        committed_batch_ids,
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        stream_to_versioned_table,
    )

    table = str(tmp_path / "table")
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": [1, 2], "v": [10, 20]}).to_parquet(src / "a.parquet")
    pd.DataFrame({"id": [3, 4], "v": [30, 40]}).to_parquet(src / "b.parquet")

    # version 0: a plain batch commit (no batch id)
    base = spark.createDataFrame([(0, 0)], "id long, v long")
    assert write_versioned(base, table) == 0

    # simulated CRASH mid-batch: data dir written, manifest never renamed
    crash_dir = os.path.join(table, "v=1")
    os.makedirs(crash_dir)
    pd.DataFrame({"id": [999], "v": [999]}).to_parquet(
        os.path.join(crash_dir, "junk.parquet")
    )
    with open(os.path.join(table, "_manifest.1.json.tmp"), "w") as fh:
        fh.write("{torn")
    # readers still resolve version 0 — the crash is invisible
    assert [r["id"] for r in read_versioned(spark, table).collect()] == [0]

    # recovery: the stream publishes each micro-batch as the next version
    sdf = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = stream_to_versioned_table(
        sdf, table, checkpoint_dir=str(tmp_path / "ck1")
    )
    assert got == [1, 2]  # monotone, orphaned v=1 dir reclaimed
    latest = {
        (r["id"], r["v"]) for r in read_versioned(spark, table).collect()
    }
    # append snapshots: latest = base + both micro-batches, junk absent
    assert latest == {(0, 0), (1, 10), (2, 20), (3, 30), (4, 40)}
    # every stream version is a time-travel point: v1 = base + exactly
    # one micro-batch (one source file), v2 = everything
    v1 = {(r["id"], r["v"]) for r in read_versioned(spark, table, as_of=1).collect()}
    assert v1 in (
        {(0, 0), (1, 10), (2, 20)},
        {(0, 0), (3, 30), (4, 40)},
    )
    sid1 = str(tmp_path / "ck1")
    assert committed_batch_ids(table, sid1) == {0, 1}
    # the ledger is scoped by stream identity: the base batch commit
    # (no stream id) is invisible under sid1 and vice versa
    assert committed_batch_ids(table) == set()

    # TRUE redelivery: crash between the sink commit and the checkpoint
    # commit marker — delete commits/1 so the restart replays batch 1
    # with the SAME (stream_id, batch_id); the ledger absorbs it.
    os.remove(os.path.join(sid1, "commits", "1"))
    # the local checksum fs would otherwise reject the recreated file
    os.remove(os.path.join(sid1, "commits", ".1.crc"))
    sdf_replay = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    replay = stream_to_versioned_table(sdf_replay, table, checkpoint_dir=sid1)
    assert replay == []
    assert {
        (r["id"], r["v"]) for r in read_versioned(spark, table).collect()
    } == latest

    # a FRESH checkpoint is a DIFFERENT stream identity: its batch ids
    # restart at 0 but its micro-batches are genuinely new work — they
    # MUST publish (keying on batch_id alone silently dropped them;
    # this is Delta's (txnAppId, txnVersion) rule)
    sdf2 = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    again = stream_to_versioned_table(
        sdf2, table, checkpoint_dir=str(tmp_path / "ck2")
    )
    assert len(again) == 2
    assert committed_batch_ids(table, str(tmp_path / "ck2")) == {0, 1}
    # both streams' rows are present (append semantics, two producers)
    assert read_versioned(spark, table).count() == len(latest) + 4


def test_compact_versioned_publishes_new_version_time_travel_intact(
    spark, tmp_path
):
    """A17 on A13: compaction rewrites the latest snapshot into fewer
    files as the NEXT version — same rows, old versions still readable,
    and a subsequent streaming append carries the COMPACTED file list
    forward."""
    import pandas as pd

    from time_series_spark_spark.sources.io import (
        compact_versioned,
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        stream_to_versioned_table,
    )

    table = str(tmp_path / "table")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    assert write_versioned(df.repartition(16), table) == 0

    stats = compact_versioned(spark, table, target_file_bytes=1 << 30)
    assert stats["version"] == 1
    assert stats["n_files_before"] == 16 and stats["n_files_after"] == 1
    latest = read_versioned(spark, table)
    assert latest.count() == 2000
    assert latest.agg(F.sum("id")).first()[0] == 2000 * 1999 // 2
    # time travel: the pre-compaction version is untouched
    assert read_versioned(spark, table, as_of=0).count() == 2000

    # streaming append on top of the compacted snapshot
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": [9001, 9002], "g": [1, 2]}).to_parquet(
        src / "a.parquet"
    )
    sdf = spark.readStream.schema("id long, g long").parquet(str(src))
    got = stream_to_versioned_table(
        sdf, table, checkpoint_dir=str(tmp_path / "ck")
    )
    assert got == [2]
    assert read_versioned(spark, table).count() == 2002
    assert read_versioned(spark, table, as_of=1).count() == 2000


def test_vacuum_versioned_prunes_old_versions_and_composes(
    spark, tmp_path
):
    """A13 retention (VACUUM): (1) the floor is published atomically and
    reads below it fail LOUDLY (never a partial scan); (2) files shared
    with retained manifests survive (carry-forward reference counting);
    (3) the latest snapshot is byte-identical before/after; (4) a
    streaming append composes on the vacuumed table; (5) the floor is
    monotone — a second, laxer vacuum cannot resurrect pruned versions."""
    import os

    import pandas as pd
    import pytest as _pytest

    from time_series_spark_spark.sources.io import (
        read_versioned,
        retention_floor,
        vacuum_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        stream_to_versioned_table,
    )

    table = str(tmp_path / "table")
    # v0: ids 0..9; v1 REPLACES with 10..14; v2 APPENDS 100 (carry-forward
    # shares v1's files, so v1's files must survive a floor at v2)
    write_versioned(spark.range(10).select(F.col("id")), table)
    write_versioned(spark.range(10, 15).select(F.col("id")), table)
    write_versioned(
        spark.range(100, 101).select(F.col("id")),
        table,
        carry_forward=True,
    )
    before = {r["id"] for r in read_versioned(spark, table).collect()}
    assert before == set(range(10, 15)) | {100}

    stats = vacuum_versioned(table, keep_last=2)
    assert stats["floor"] == 1 and stats["versions_pruned"] == [0]
    assert stats["n_files_deleted"] > 0
    assert retention_floor(table) == 1

    # pruned version: loud retention error, not a partial read
    with _pytest.raises(ValueError, match="retention floor"):
        read_versioned(spark, table, as_of=0)
    # retained versions intact — including v1, whose files v2 shares
    assert {
        r["id"] for r in read_versioned(spark, table, as_of=1).collect()
    } == set(range(10, 15))
    assert {
        r["id"] for r in read_versioned(spark, table).collect()
    } == before

    # streaming append composes on the vacuumed table
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": [777]}).to_parquet(src / "a.parquet")
    sdf = spark.readStream.schema("id long").parquet(str(src))
    got = stream_to_versioned_table(
        sdf, table, checkpoint_dir=str(tmp_path / "ck")
    )
    assert got == [3]
    assert {
        r["id"] for r in read_versioned(spark, table).collect()
    } == before | {777}

    # monotone floor: keep_last=10 now would allow floor 0, but the
    # published floor must never move backwards
    stats2 = vacuum_versioned(table, keep_last=10)
    assert stats2["floor"] == 1
    with _pytest.raises(ValueError, match="retention floor"):
        read_versioned(spark, table, as_of=0)
    # idempotent stats: a re-run at the SAME floor finds v0's files
    # already gone and must report zero deletions (not re-count doomed
    # files the earlier run removed — round-8 advice)
    stats3 = vacuum_versioned(table, keep_last=3)
    assert stats3["floor"] == 1
    assert stats3["n_files_deleted"] == 0
    assert stats3["bytes_deleted"] == 0


def test_tick_stream_values_oracle_rederived_in_numpy():
    """The VALUES oracle of stream_python_source_ticks is NOT circular:
    re-derive every bucket from the generator SPEC (per-row PCG64 seeded
    seed*999_983+i, fixed epoch, 60 s step) in plain numpy and parse the
    oracle's literals back out of the registered SQL — they must agree
    row for row."""
    import datetime
    import re
    from collections import defaultdict

    import numpy as np

    from time_series_spark_spark.queries import REGISTRY

    epoch_us = 1_700_000_000_000_000
    buckets: dict[int, list[float]] = defaultdict(list)
    for i in range(200):
        rng = np.random.default_rng(7 * 999_983 + i)
        ts_us = epoch_us + i * 60_000_000
        buckets[(ts_us // 600_000_000) * 600_000_000].append(
            round(float(10.0 + rng.normal(0.0, 1.0)), 6)
        )
    expect = [
        (
            str(
                datetime.datetime.fromtimestamp(
                    k / 1e6, tz=datetime.timezone.utc
                ).replace(tzinfo=None)
            ),
            len(v),
            round(float(np.mean(v)), 4),
        )
        for k, v in sorted(buckets.items())
    ]
    sql = REGISTRY["stream_python_source_ticks"].oracle
    got = [
        (ts, int(n), float(m))
        for ts, n, m in re.findall(
            r"TIMESTAMP '([^']+)', (\d+), ([\d.]+)\)", sql
        )
    ]
    assert got == expect


def test_series_source_values_oracle_rederived_in_numpy():
    """Same non-circularity check for synthetic_source_series_stats: the
    per-series means in the VALUES oracle re-derived from the generator
    spec (PCG64 seeded seed*100_003+sid, 10+sid+3sin(2πt/24)+N(0,0.5),
    values rounded to 6 dp at emission)."""
    import re

    import numpy as np

    from time_series_spark_spark.queries import REGISTRY

    expect = []
    for sid in range(8):
        rng = np.random.default_rng(7 * 100_003 + sid)
        vals = (
            10.0
            + sid
            + 3.0 * np.sin(2 * np.pi * np.arange(96) / 24.0)
            + rng.normal(0.0, 0.5, 96)
        )
        vals6 = [round(float(x), 6) for x in vals]
        expect.append((sid, round(float(np.mean(vals6)), 4)))
    sql = REGISTRY["synthetic_source_series_stats"].oracle
    got = [
        (int(s), float(m))
        for s, m in re.findall(r"\((\d), ([\d.]+)\)", sql)
    ]
    assert got == expect


def test_versioned_sink_stream_identity_normalized_and_fresh_stream(
    spark, tmp_path
):
    """Two hardening rules for the (stream_id, batch_id) redelivery
    ledger (round-8 advice):

    1. NORMALIZATION — different spellings of the SAME checkpoint dir
       (e.g. with redundant ``sub/..`` components) are ONE stream
       identity. Spark's checkpoint resume treats them identically, so
       a resume under a different spelling must hit the same ledger —
       otherwise a redelivered micro-batch republishes as duplicates.
    2. A BRAND-NEW stream (fresh checkpoint, batch ids restarting at 0)
       must NOT absorb the None-scoped ledger that batch writes with a
       ``batch_id`` record — that would silently drop its first
       micro-batches as phantom redeliveries (round-9 advice).
    """
    import os

    import pandas as pd

    from time_series_spark_spark.sources.io import (
        committed_batch_ids,
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        stream_to_versioned_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": [1], "v": [10]}).to_parquet(src / "a.parquet")
    pd.DataFrame({"id": [2], "v": [20]}).to_parquet(src / "b.parquet")

    # --- (1) normalization: publish under a denormalized spelling ---
    (tmp_path / "sub").mkdir()
    table1 = str(tmp_path / "t1")
    ck_clean = str(tmp_path / "ck")
    ck_denorm = str(tmp_path / "sub" / ".." / "ck")
    sdf = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = stream_to_versioned_table(sdf, table1, checkpoint_dir=ck_denorm)
    assert got == [0, 1]
    # the ledger is keyed by the NORMALIZED path, not the raw spelling
    assert committed_batch_ids(table1, ck_clean) == {0, 1}
    # redelivery under the CLEAN spelling: drop batch 1's checkpoint
    # commit marker so the restart replays (stream_id, batch_id=1)
    os.remove(os.path.join(ck_clean, "commits", "1"))
    os.remove(os.path.join(ck_clean, "commits", ".1.crc"))
    sdf_replay = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    replay = stream_to_versioned_table(
        sdf_replay, table1, checkpoint_dir=ck_clean
    )
    assert replay == []  # absorbed — same identity under both spellings
    assert read_versioned(spark, table1).count() == 2

    # --- (2) a BRAND-NEW stream does NOT absorb the None scope ---
    table2 = str(tmp_path / "t2")
    batch = spark.createDataFrame([(99, 990)], "id long, v long")
    # a batch commit: batch_id recorded, no stream identity
    assert write_versioned(batch, table2, batch_id=0) == 0
    sdf2 = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got2 = stream_to_versioned_table(
        sdf2, table2, checkpoint_dir=str(tmp_path / "ck2")
    )
    # ck2 is a FRESH checkpoint: its batch ids 0,1 are new work, not
    # redeliveries of the batch write's batch 0 — both must publish
    assert got2 == [1, 2]
    rows = {
        (r["id"], r["v"]) for r in read_versioned(spark, table2).collect()
    }
    assert rows == {(99, 990), (1, 10), (2, 20)}


@pytest.mark.parametrize("sink", ["append", "merge"])
def test_versioned_sink_reads_each_head_manifest_once(
    spark, tmp_path, monkeypatch, sink
):
    """One micro-batch on a non-checkpoint version resolves the table's
    head once: the redelivery check and the commit (and the merge sink's
    column projection) share one snapshot, so the latest-version hint
    and each manifest of the head's chain are read exactly once."""
    from time_series_spark_spark.sources.fsio import TableFS
    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        stream_merge_to_versioned_table,
        stream_to_versioned_table,
    )

    table = str(tmp_path / "vt")
    for i in range(5):  # a snapshot at 0, then four delta manifests
        write_versioned(
            spark.createDataFrame([(i, i)], "id long, v long"),
            table,
            carry_forward=i > 0,
        )
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": [2, 9], "v": [20, 90]}).to_parquet(src / "a.parquet")
    sdf = spark.readStream.schema("id long, v long").parquet(str(src))
    reads = []
    real = TableFS.read_json

    def counting(self, *rel):
        reads.append(rel[-1])
        return real(self, *rel)

    monkeypatch.setattr(TableFS, "read_json", counting)
    ck = str(tmp_path / "ck")
    if sink == "append":
        got = stream_to_versioned_table(sdf, table, checkpoint_dir=ck)
    else:
        got = stream_merge_to_versioned_table(
            sdf, table, ["id"], ["v"], checkpoint_dir=ck
        )
    monkeypatch.undo()
    assert got == [5]
    assert sorted(reads) == ["_latest.json"] + [
        f"_manifest.{v}.json" for v in range(5)
    ]
    rows = {(r["id"], r["v"]) for r in read_versioned(spark, table).collect()}
    kept = {(i, i) for i in range(5)} - ({(2, 2)} if sink == "merge" else set())
    assert rows == kept | {(2, 20), (9, 90)}


def test_versioned_stream_source_snapshot_incremental_prune(
    spark, tmp_path
):
    """J11e versioned-table streaming source: (1) a fresh consumer gets
    every committed row with exact per-version attribution; (2) a resume
    on the same checkpoint emits ONLY versions committed since (offset =
    version number, checkpointed by the engine); (3) after vacuum, a
    fresh consumer starts at the FLOOR SNAPSHOT — carried-forward rows
    are emitted once, tagged with the floor version (Delta's
    isStartingVersion), never silently dropped; (4) reading a range
    whose data files were pruned raises loudly at plan time; (5) one
    InputPartition per added file — read parallelism scales with the
    commit's file count, not 1."""
    from time_series_spark_spark.sources.io import (
        vacuum_versioned,
        write_versioned,
    )
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
        register_versioned_table_stream_source,
    )

    table = str(tmp_path / "vt")
    for r in range(3):
        write_versioned(
            spark.range(r * 10, (r + 1) * 10).selectExpr(
                "id", "id * 2 AS v"
            ),
            table,
            carry_forward=True,
        )
    register_versioned_table_stream_source(spark)
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    def drain():
        sdf = (
            spark.readStream.format("versioned_table")
            .option("path", table)
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    # (1) full feed, per-version attribution
    got = drain()
    assert got.count() == 30
    per_v = dict(
        (r["_commit_version"], r["count"])
        for r in got.groupBy("_commit_version").count().collect()
    )
    assert per_v == {0: 10, 1: 10, 2: 10}

    # (2) incremental resume: only the new version arrives
    write_versioned(
        spark.range(30, 35).selectExpr("id", "id * 2 AS v"),
        table,
        carry_forward=True,
    )
    got = drain()
    assert got.count() == 35
    assert got.filter("_commit_version = 3").count() == 5

    # (3) floor snapshot for a fresh consumer after vacuum: carry-forward
    # retention keeps every file (all referenced by the floor manifest),
    # and the fresh feed re-emits them ONCE, tagged with the floor version
    vacuum_versioned(table, keep_last=2)  # floor = 2
    ck2, out2 = str(tmp_path / "ck2"), str(tmp_path / "out2")
    sdf = (
        spark.readStream.format("versioned_table")
        .option("path", table)
        .load()
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fresh = spark.read.parquet(out2)
    assert fresh.count() == 35  # nothing dropped
    assert dict(
        (r["_commit_version"], r["count"])
        for r in fresh.groupBy("_commit_version").count().collect()
    ) == {2: 30, 3: 5}  # snapshot-at-floor + increment

    # (4) pruned range raises at plan time (reader-level: REPLACE
    # versions so vacuum genuinely deletes files)
    import pytest as _pytest

    table2 = str(tmp_path / "vt2")
    for r in range(3):
        write_versioned(
            spark.range(r * 5, (r + 1) * 5).selectExpr("id"), table2
        )
    vacuum_versioned(table2, keep_last=1)  # floor = 2; v0/v1 files gone
    rd = VersionedTableStreamReader({"path": table2})
    assert rd.initialOffset() == {"version": 2, "snapshot": True}
    with _pytest.raises(ValueError, match="pruned by"):
        rd.partitions(
            {"version": 0, "snapshot": False},
            {"version": 2, "snapshot": False},
        )
    # the surviving range still plans fine
    assert rd.partitions(
        {"version": 1, "snapshot": False},
        {"version": 2, "snapshot": False},
    )

    # (5) partition planning: tiny files BIN-PACK into one task (round
    # 11 — openCostInBytes semantics: a Python data source pays a worker
    # round-trip per partition, so one-partition-per-small-file turns a
    # streaming backfill into thousands of fixed-overhead tasks)...
    table3 = str(tmp_path / "vt3")
    write_versioned(
        spark.range(100).repartition(4).selectExpr("id"), table3
    )
    rd3 = VersionedTableStreamReader({"path": table3})
    parts = rd3.partitions(
        {"version": 0, "snapshot": True}, {"version": 0, "snapshot": False}
    )
    assert len(parts) == 1 and len(parts[0].chunks) == 4
    assert {v for _, v, _ in parts[0].chunks} == {0}
    assert sum(sum(b.num_rows for b in rd3.read(p)) for p in parts) == 100
    # ...and raising the open cost to the partition target forces the
    # old one-task-per-file fan-out (each file alone fills a partition)
    rd3b = VersionedTableStreamReader({"path": table3})
    rd3b.OPEN_COST_BYTES = rd3b.TARGET_SLICE_BYTES
    parts_b = rd3b.partitions(
        {"version": 0, "snapshot": True}, {"version": 0, "snapshot": False}
    )
    assert len(parts_b) == 4
    assert {p.version for p in parts_b} == {0}

    # (6) a single BIG multi-row-group file splits at row-group
    # boundaries (round 10 — the A19 lesson: one-partition-per-file
    # would serialize the read of a large appended file)
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    table4 = tmp_path / "vt4"
    (table4 / "v=0").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": list(range(5000))}),
        table4 / "v=0" / "big.parquet",
        row_group_size=1000,  # 5 groups — 5 parquet split points
    )
    md4 = pq.ParquetFile(table4 / "v=0" / "big.parquet").metadata
    with open(table4 / "_manifest.0.json", "w") as fh:
        json.dump(
            {
                "version": 0,
                "files": ["v=0/big.parquet"],
                "file_stats": {
                    "v=0/big.parquet": [
                        md4.row_group(g).total_byte_size for g in range(5)
                    ]
                },
                "schema": spark.range(1).schema.json(),
                "n_files": 1,
                "batch_id": None,
                "stream_id": None,
            },
            fh,
        )
    rd4 = VersionedTableStreamReader({"path": str(table4)})
    rd4.TARGET_SLICE_BYTES = 8_000  # ~one 1000-row int64 group per slice
    parts4 = rd4.partitions(
        {"version": 0, "snapshot": True}, {"version": 0, "snapshot": False}
    )
    assert len(parts4) == 5  # one slice per row group
    got_groups = sorted(g for p in parts4 for g in p.row_groups)
    assert got_groups == [0, 1, 2, 3, 4]
    # the slices partition the file: no row read twice, none dropped
    n = sum(
        sum(b.num_rows for b in rd4.read(p)) for p in parts4
    )
    assert n == 5000
    # default target keeps small files whole: one slice, all 5 groups
    rd4b = VersionedTableStreamReader({"path": str(table4)})
    parts4b = rd4b.partitions(
        {"version": 0, "snapshot": True}, {"version": 0, "snapshot": False}
    )
    assert len(parts4b) == 1 and parts4b[0].row_groups == [0, 1, 2, 3, 4]


def test_versioned_table_additive_schema_evolution(spark, tmp_path):
    """A13c: (1) a carry-forward commit may ADD columns — the manifest
    is the read schema, so pre-evolution files null-fill the addition;
    (2) time travel to a pre-evolution version shows the ORIGINAL
    schema; (3) non-additive carry-forward changes (drop, retype) are
    rejected at write time; (4) the J11e streaming source pads
    pre-evolution files to the latest schema the same way."""
    import pytest as _pytest

    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.sources.pydatasource import (
        register_versioned_table_stream_source,
    )

    table = str(tmp_path / "vt")
    write_versioned(
        spark.range(5).selectExpr("id", "id * 2 AS v"), table
    )
    write_versioned(
        spark.range(5, 8).selectExpr("id", "id * 2 AS v", "id * 3 AS w"),
        table,
        carry_forward=True,
    )
    latest = read_versioned(spark, table)
    assert latest.columns == ["id", "v", "w"]
    rows = {r["id"]: (r["v"], r["w"]) for r in latest.collect()}
    assert rows[0] == (0, None) and rows[7] == (14, 21)  # null-filled
    assert latest.filter("w IS NULL").count() == 5
    # (2) as-of the pre-evolution version: original schema, no w
    v0 = read_versioned(spark, table, as_of=0)
    assert v0.columns == ["id", "v"] and v0.count() == 5
    # (3) non-additive changes rejected at write time
    with _pytest.raises(ValueError, match="not additive"):
        write_versioned(
            spark.range(3).selectExpr("id"), table, carry_forward=True
        )  # drops v and w
    with _pytest.raises(ValueError, match="not additive"):
        write_versioned(
            spark.range(3).selectExpr(
                "id", "CAST(id AS STRING) AS v", "id * 3 AS w"
            ),
            table,
            carry_forward=True,
        )  # retypes v
    # REPLACE commits are schema-free by design (a new snapshot)
    # ... but don't publish one here: the stream below reads the table.
    # (4) streaming source pads pre-evolution files identically
    register_versioned_table_stream_source(spark)
    sdf = (
        spark.readStream.format("versioned_table")
        .option("path", table)
        .load()
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(str(tmp_path / "out"))
    assert set(feed.columns) == {"id", "v", "w", "_commit_version"}
    assert feed.count() == 8
    assert feed.filter("w IS NULL").count() == 5
    assert feed.filter("_commit_version = 1 AND w IS NOT NULL").count() == 3
    # (5) the BATCH read schema is all-nullable (round-9 advice): w came
    # from spark.range (non-nullable in the commit's schema), but old
    # files null-fill it — a read schema asserting non-null would let
    # the optimizer mis-prune the IS NULL filters above
    assert all(f.nullable for f in latest.schema.fields)
    # (6) a NULLABILITY-ONLY carry-forward difference is not a schema
    # change (round-9 advice): same columns, different nullability, must
    # pass the additive gate without touching the compat check
    nullable_df = spark.createDataFrame(
        [(100, 200, 300)],
        T.StructType(
            [
                T.StructField("id", T.LongType(), True),
                T.StructField("v", T.LongType(), True),
                T.StructField("w", T.LongType(), True),
            ]
        ),
    )
    v_null = write_versioned(nullable_df, table, carry_forward=True)
    assert read_versioned(spark, table, as_of=v_null).count() == 9


def test_incremental_pipeline_exactly_once_composition(spark, tmp_path):
    """J11f: the J11e-source -> transform -> J11d-sink pipeline is
    exactly-once across BOTH versioned tables: (1) first run transforms
    the full src snapshot; (2) re-running with no new src versions
    publishes NOTHING (no-op law); (3) appending a src version flows
    exactly the increment; (4) a crash between the dst manifest commit
    and the checkpoint commit (replayed micro-batch) is absorbed by the
    dst ledger — no duplicate rows, no duplicate versions."""
    import os

    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.streaming.jobs import (
        run_incremental_pipeline,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    for r in range(2):
        write_versioned(
            spark.range(r * 10, (r + 1) * 10).selectExpr(
                "id", "id * 2 AS v"
            ),
            src,
            carry_forward=True,
        )

    def transform(feed):
        return feed.filter(F.col("v") % 4 == 0).select(
            "id", "v", F.col("_commit_version").alias("src_version")
        )

    got1 = run_incremental_pipeline(spark, src, dst, transform, ck)
    assert got1  # committed at least one dst version
    d1 = read_versioned(spark, dst)
    assert d1.count() == 10  # v multiples of 4 among 0..38
    assert {r["src_version"] for r in d1.collect()} == {0, 1}

    # (2) no-op law
    assert run_incremental_pipeline(spark, src, dst, transform, ck) == []
    assert read_versioned(spark, dst).count() == 10

    # (3) incremental: new src version flows exactly once
    write_versioned(
        spark.range(20, 24).selectExpr("id", "id * 2 AS v"),
        src,
        carry_forward=True,
    )
    got3 = run_incremental_pipeline(spark, src, dst, transform, ck)
    assert len(got3) >= 1
    d3 = read_versioned(spark, dst)
    assert d3.count() == 12  # +2 (v=40,44)
    assert d3.filter("src_version = 2").count() == 2

    # (4) replay: drop the checkpoint's last commit marker so the next
    # run re-delivers the already-committed micro-batch
    commits = sorted(
        f for f in os.listdir(os.path.join(ck, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ck, "commits", commits[-1]))
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got4 = run_incremental_pipeline(spark, src, dst, transform, ck)
    assert got4 == []  # redelivery absorbed by the dst ledger
    assert read_versioned(spark, dst).count() == 12
