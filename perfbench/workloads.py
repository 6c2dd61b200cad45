"""The workloads and their correctness checks.

One closed-loop client (this thread) builds each query fresh from the
registry or the ``streaming.jobs`` operators, runs it, materializes the
result with ``toPandas`` and checks it, then moves on to the next. A pass
runs every query of the workload once. The first pass warms the JVM (class
loading, code generation and JIT compilation of the paths the workload
takes) and its timings are discarded; passes then repeat until the run's
seconds are used up. Every pass's outputs are checked.
"""

from __future__ import annotations

import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import layers

QUERY_COLD = (
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "rollup_orders", "window_running_rev", "topk_parts_per_brand",
    "events_hourly", "events_sessionize", "docs_dedup", "docs_lang_stats",
)
FORECAST = (
    "forecast_user_events", "forecast_daily_revenue", "forecast_hw_weekly_revenue",
    "events_kalman_user_daily", "events_lttb_user", "events_hurst_user",
)
LLM_DEDUP = (
    "docs_minhash_lsh_pairs", "emb_semantic_dedup", "docs_remove_dup_spans",
    "docs_edit_pairs", "docs_lm_perplexity", "docs_cluster_keep_best",
)
LSH_THRESHOLD = 0.4  # the threshold docs_minhash_lsh_pairs joins at
REVENUE_SERIES = 3  # one per l_returnflag
FORECAST_ROWS = {"forecast_user_events": 7, "forecast_daily_revenue": 30,
                 "forecast_hw_weekly_revenue": 14}
LTTB_POINTS = 24


@dataclass
class Context:
    spark: object
    harness: object
    spans: layers.Spans
    seed: int
    seconds: float
    work: Path
    corpus: Path
    meta: dict
    ops: list = field(default_factory=list)       # op latencies, s
    op_names: list = field(default_factory=list)  # query of each op
    reruns: list = field(default_factory=list)    # re-collect latencies, s
    items: float = 0.0                            # work units processed
    busy_s: float = 0.0                           # time spent on those units
    cpu_s: float = 0.0                            # CPU time of the measured passes
    passes: int = 0
    pass_s: list = field(default_factory=list)    # wall time of each pass, s
    attempted: int = 0
    failed: int = 0
    layer: dict = field(default_factory=dict)     # traced per-layer sums
    materialize_s: dict = field(default_factory=dict)
    window_ms: list = field(default_factory=list)  # measured passes, epoch ms
    window_s: tuple = (0.0, 0.0)                    # the same, perf_counter s
    _next: int = 0

    @property
    def tracing(self) -> bool:
        return self.spans.enabled

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + value

    def group(self, prefix: str, i: int) -> None:
        if self.tracing:
            self.spark.sparkContext.setJobGroup(f"{prefix}{i}", prefix)

    def next_id(self) -> int:
        self._next += 1
        return self._next

    def record(self, problems: list[str], name: str) -> None:
        """Count one checked output."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"[FAIL] {name}: {p}", file=sys.stderr)

    def measure(self, one_pass) -> None:
        """Run the warm-up pass, then whole passes until the run's seconds
        are used up. Timings and per-layer numbers gathered before the
        measured passes are discarded."""
        one_pass()
        self.ops.clear()
        self.op_names.clear()
        self.reruns.clear()
        self.busy_s = 0.0
        for key in self.layer:
            self.layer[key] = 0
        self.materialize_s.clear()
        cpu0 = layers.tree_cpu_s()
        start = time.perf_counter()
        self.window_ms = [int(time.time() * 1000), 0]
        while self.passes == 0 or time.perf_counter() - start < self.seconds:
            t0 = time.perf_counter()
            one_pass()
            self.pass_s.append(time.perf_counter() - t0)
            self.passes += 1
        self.window_ms[1] = int(time.time() * 1000)
        self.window_s = (start, time.perf_counter())
        self.cpu_s = layers.tree_cpu_s() - cpu0


class _Frame:
    """A result already materialized, in the shape ``oracle_harness.compare``
    expects from a query function's DataFrame."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class OracleCache:
    """A DuckDB connection that runs each oracle statement once."""

    def __init__(self, con):
        self.con = con
        self.frames: dict[str, pd.DataFrame] = {}

    def execute(self, sql: str) -> "OracleCache":
        if sql not in self.frames:
            self.frames[sql] = self.con.execute(sql).fetchdf()
        self._last = self.frames[sql]
        return self

    def fetchdf(self) -> pd.DataFrame:
        return self._last


def oracle_problems(ctx: Context, con, name: str, pdf: pd.DataFrame, sql: str) -> list[str]:
    ok = ctx.harness.compare(None, con, name, lambda *_: _Frame(pdf), sql, verbose=False)
    if ok:
        return []
    ctx.harness.compare(None, con, name, lambda *_: _Frame(pdf), sql, verbose=True)
    return ["differs from its DuckDB oracle"]


def run_query(ctx: Context, name: str, sf_dir: str, rerun: bool = False) -> pd.DataFrame:
    """Build, run and materialize one registry query; time it as one op."""
    from time_series_spark_spark.queries import REGISTRY

    i = ctx.next_id()
    tracker = ctx.spark.sparkContext.statusTracker()
    loads_before = ctx.layer.get("load_jobs", 0)
    ctx.group(layers.BUILD, i)
    t0 = time.perf_counter()
    with ctx.spans.span("queries.build"):
        df = REGISTRY[name].fn(ctx.spark, sf_dir)
    t1 = time.perf_counter()
    ctx.group(layers.EXEC, i)
    with ctx.spans.span("queries.materialize"):
        pdf = df.toPandas()
    t2 = time.perf_counter()
    ctx.ops.append(t2 - t0)
    ctx.op_names.append(name)
    if rerun:
        ctx.group(layers.RERUN, i)
        df.toPandas()
        ctx.reruns.append(time.perf_counter() - t2)
    if ctx.tracing:
        ctx.add("queries.build_s", t1 - t0)
        ctx.add("queries.build_jobs", len(tracker.getJobIdsForGroup(f"{layers.BUILD}{i}"))
                + ctx.layer.get("load_jobs", 0) - loads_before)
        ctx.add("queries.result_rows", len(pdf))
        ctx.materialize_s[f"{layers.EXEC}{i}"] = t2 - t1
    return pdf


# --------------------------------------------------------------------------
# query_cold
# --------------------------------------------------------------------------
def query_cold(ctx: Context) -> None:
    from time_series_spark_spark.queries import REGISTRY

    d = ctx.corpus
    con = OracleCache(ctx.harness.duck_connect(str(d)))
    rng = np.random.default_rng(ctx.seed)

    def one_pass():
        for k in rng.permutation(len(QUERY_COLD)):
            name = QUERY_COLD[k]
            pdf = run_query(ctx, name, str(d), rerun=True)
            ctx.record(oracle_problems(ctx, con, name, pdf, REGISTRY[name].oracle), name)

    ctx.measure(one_pass)
    ctx.items = len(ctx.ops)
    ctx.busy_s = sum(ctx.ops)


# --------------------------------------------------------------------------
# forecast_series
# --------------------------------------------------------------------------
def _replica_problems(pdf: pd.DataFrame, exact_users: list[int]) -> list[str]:
    """Unperturbed replicas of a source user must get the source's output."""
    cols = [c for c in pdf.columns if c not in ("user_id", "event_id")]
    src = pdf[pdf["user_id"].isin(exact_users)]
    rep = pdf[pdf["user_id"].isin([u + gen.SHIFT for u in exact_users])].copy()
    rep["user_id"] -= gen.SHIFT
    key = ["user_id", *cols]
    a = src[key].sort_values(key, kind="mergesort").reset_index(drop=True)
    b = rep[key].sort_values(key, kind="mergesort").reset_index(drop=True)
    if len(a) != len(b) or len(a) == 0:
        return [f"replica rows {len(b)} != source rows {len(a)}"]
    for c in key:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x):
            same = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-6, equal_nan=True)
        else:
            same = (x.to_numpy() == y.to_numpy())
        if not same.all():
            return [f"replica column {c} differs in {int((~same).sum())} rows"]
    return []


def forecast_problems(name: str, pdf: pd.DataFrame, meta: dict, con) -> list[str]:
    users = meta["series"]["users"]
    exact = meta["series"]["exact_users"]
    problems = []
    if name in FORECAST_ROWS:
        n_series = users if name == "forecast_user_events" else REVENUE_SERIES
        want = n_series * FORECAST_ROWS[name]
        if len(pdf) != want:
            problems.append(f"{len(pdf)} rows, expected {want}")
        if "yhat_lower" in pdf:
            lo, y, hi = (pdf[c].to_numpy() for c in ("yhat_lower", "yhat", "yhat_upper"))
            bad = ~((lo <= y) & (y <= hi))
            if bad.any():
                problems.append(f"{int(bad.sum())} rows outside yhat_lower <= yhat <= yhat_upper")
    elif name == "events_kalman_user_daily":
        want = con.execute("SELECT count(*) FROM (SELECT DISTINCT user_id, "
                           "date_trunc('day', ts) FROM events)").fetchdf().iat[0, 0]
        if len(pdf) != want:
            problems.append(f"{len(pdf)} rows, expected one per user-day ({want})")
    elif name == "events_lttb_user":
        want = con.execute(f"SELECT sum(least(n, {LTTB_POINTS})) FROM (SELECT count(*) n "
                           "FROM events GROUP BY user_id)").fetchdf().iat[0, 0]
        if len(pdf) != want:
            problems.append(f"{len(pdf)} rows, expected min(n, {LTTB_POINTS}) per user ({want})")
    if "user_id" in pdf and not problems:
        problems += _replica_problems(pdf, exact)
    return problems


def forecast_series(ctx: Context) -> None:
    from time_series_spark_spark.queries import REGISTRY

    d, meta = ctx.corpus, ctx.meta
    con = OracleCache(ctx.harness.duck_connect(str(d)))
    users = meta["series"]["users"]
    series = {n: users if n not in FORECAST_ROWS or n == "forecast_user_events"
              else REVENUE_SERIES for n in FORECAST}

    def one_pass():
        for name in FORECAST:
            pdf = run_query(ctx, name, str(d))
            sql = REGISTRY[name].oracle
            ctx.record(oracle_problems(ctx, con, name, pdf, sql) if sql
                       else forecast_problems(name, pdf, meta, con), name)

    ctx.measure(one_pass)
    ctx.items = sum(series.values()) * ctx.passes
    ctx.busy_s = sum(ctx.ops)


# --------------------------------------------------------------------------
# llm_dedup
# --------------------------------------------------------------------------
def _shingles(text: str, k: int = 3) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def lsh_problems(pdf: pd.DataFrame, shingles: dict[int, set[str]]) -> list[str]:
    """Every LSH pair must be ordered, reach the Jaccard threshold on the
    exact word 3-gram sets, and report that Jaccard."""
    bad = 0
    for a, b, est in pdf[["id_a", "id_b", "jaccard_est"]].itertuples(index=False):
        sa, sb = shingles[a], shingles[b]
        exact = len(sa & sb) / len(sa | sb)
        bad += not (a < b and exact >= LSH_THRESHOLD and abs(exact - est) < 1e-6)
    return [f"{bad} of {len(pdf)} pairs fail the Jaccard check"] if bad else []


def llm_dedup(ctx: Context) -> None:
    from time_series_spark_spark.queries import REGISTRY

    d = ctx.corpus
    con = OracleCache(ctx.harness.duck_connect(str(d)))
    docs = pq.read_table(d / "documents.parquet", columns=["doc_id", "text"])
    shingles = {int(i): _shingles(t) for i, t in
                zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())}

    def one_pass():
        for name in LLM_DEDUP:
            pdf = run_query(ctx, name, str(d))
            sql = REGISTRY[name].oracle
            ctx.record(oracle_problems(ctx, con, name, pdf, sql) if sql
                       else lsh_problems(pdf, shingles), name)

    ctx.measure(one_pass)
    ctx.items = ctx.meta["rows"]["documents"] * ctx.passes
    ctx.busy_s = sum(ctx.ops)


# --------------------------------------------------------------------------
# stream_replay
# --------------------------------------------------------------------------
HOURLY_ORACLE = """
SELECT * FROM (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events WHERE event_id NOT IN (SELECT event_id FROM late)
    GROUP BY 1, 2
) WHERE bucket + INTERVAL 1 HOUR <= make_timestamp({wm_us})
"""
DEDUP_ORACLE = """
SELECT DISTINCT * FROM events WHERE event_id NOT IN (SELECT event_id FROM late)
"""
TOTALS_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1
"""


def _stream_oracle(d: Path, meta: dict):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{d}/events.parquet/*.parquet')")
    late = pd.DataFrame({"event_id": np.asarray(meta["stream"]["late_ids"], dtype=np.int64)})
    con.register("late_ids_df", late)
    con.execute("CREATE TABLE late AS SELECT * FROM late_ids_df")
    return con


def _replay(ctx: Context, d: Path, i: int):
    """One catch-up replay of the three operators, one file per
    micro-batch: the hourly window aggregate into a versioned table (read
    back with ``read_versioned``), dedup and the per-user state into
    memory sinks. Returns the three results and the progress of the two
    memory-sink replays."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import read_versioned
    from time_series_spark_spark.streaming import jobs

    base = ctx.work / "stream"
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)

    def source():
        # jobs.read_events_stream reads a single events file; this corpus is
        # a directory of files, read with the same schema and ts cast
        return (ctx.spark.readStream.schema(jobs.EVENTS_SCHEMA_NTZ)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(d / "events.parquet"))
                .withColumn("ts", F.col("ts").cast("timestamp")))

    def hourly():
        jobs.stream_to_versioned_table(
            jobs.hourly_counts(source()), str(base / "hourly_table"),
            checkpoint_dir=str(base / "ck_hourly"))
        return read_versioned(ctx.spark, str(base / "hourly_table")).toPandas(), []

    def dedup():
        out, progress = jobs.run_available_now_checkpointed(
            jobs.dedup_stream(source()), str(base / "ck_dedup"), output_mode="append")
        return out.toPandas(), progress

    def totals():
        out, progress = jobs.run_available_now_checkpointed(
            jobs.stateful_user_totals(source()), str(base / "ck_totals"),
            output_mode="update")
        return out.toPandas(), progress

    ctx.group(layers.EXEC, i)
    results = []
    for replay in (hourly, dedup, totals):
        with ctx.spans.span("streaming.replay"):
            results.append(replay())
    (h, _), (d, prog_d), (t, prog_t) = results
    return h, d, t, prog_d, prog_t


def stream_problems(ctx, con, meta, hourly, dedup, totals, prog_d) -> list[str]:
    problems = []
    # the watermark is kept in whole milliseconds
    wm_ms = (meta["stream"]["max_ts_us"] - gen.US_PER_HOUR) // 1000
    last_wm = prog_d[-1].eventTime.get("watermark") if prog_d else None
    if last_wm is None or pd.Timestamp(last_wm).value // 10**6 != wm_ms:
        problems.append(f"final watermark {last_wm}, expected newest event - 1 h")
    dropped = sum(int(op.numRowsDroppedByWatermark or 0) for p in prog_d for op in p.stateOperators)
    if dropped != meta["stream"]["late_rows"]:
        problems.append(f"{dropped} rows dropped by watermark, "
                        f"{meta['stream']['late_rows']} late rows planted")
    problems += oracle_problems(ctx, con, "stream_hourly_versioned", hourly,
                                HOURLY_ORACLE.format(wm_us=wm_ms * 1000))
    problems += oracle_problems(ctx, con, "stream_dedup", dedup, DEDUP_ORACLE)
    final = totals.sort_values("n_events").groupby("user_id", as_index=False).last()
    problems += oracle_problems(ctx, con, "stream_user_totals", final, TOTALS_ORACLE)
    return problems


def _data_batches(progress) -> list[float]:
    """``triggerExecution`` seconds of the batches that read a file."""
    return [float(p.durationMs.get("triggerExecution", 0)) / 1e3
            for p in progress if p.numInputRows]


def stream_replay(ctx: Context) -> None:
    d, meta = ctx.corpus, ctx.meta
    con = OracleCache(_stream_oracle(d, meta))

    def one_pass():
        i = ctx.next_id()
        t0 = time.perf_counter()
        hourly, dedup, totals, prog_d, prog_t = _replay(ctx, d, i)
        ctx.busy_s += time.perf_counter() - t0
        # one op per micro-batch that read a file
        for name, prog in (("dedup batch", prog_d), ("totals batch", prog_t)):
            batches = _data_batches(prog)
            ctx.ops += batches
            ctx.op_names += [name] * len(batches)
        if ctx.tracing:
            for prog in (prog_d, prog_t):
                for k, v in layers.stream_progress(prog).items():
                    ctx.add(k, v)
        ctx.record(stream_problems(ctx, con, meta, hourly, dedup, totals, prog_d),
                   "stream_replay")

    ctx.measure(one_pass)
    ctx.items = meta["rows"]["events"] * ctx.passes


WORKLOADS = {
    "query_cold": query_cold,
    "forecast_series": forecast_series,
    "llm_dedup": llm_dedup,
    "stream_replay": stream_replay,
}
