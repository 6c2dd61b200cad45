"""Benchmark entry point.

    python3 perfbench/run.py --workload query_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The inputs are
generated from ``--seed`` (see ``gen.py``); every file the run writes goes
under ``.perfbench/`` in the checkout. A run

1. generates (or finds in the cache) the workload's corpus;
2. starts the session ``SETUPS`` times, each time launching a fresh JVM
   and running one trivial query, and keeps the last session;
3. runs one warm-up pass over the corpus, so the JVM has loaded and
   compiled the code paths the workload takes;
4. measures whole passes over the corpus until ``--seconds`` are used up.

The outputs of every pass are checked.

With ``--trace 0`` the run measures the end-to-end metrics with event
logging off; with ``--trace 1`` it enables Spark's event log, job groups,
the source wrappers and spans, and reports the per-layer metrics.
Human-readable lines come first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is non-zero when an output is wrong or the run cannot start.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DRIVER_MEMORY = "3g"
SETUPS = 2

# Metrics that are not sums over passes: reported as measured.
NOT_PER_PASS = {
    "operators.task_skew", "operators.peak_exec_mem_bytes",
    "queries.rerun_p50_s", "session.start_s", "session.first_task_s",
}
# What one operation and the work units are, per workload, for the summary.
UNITS = {
    "query_cold": ("query", "queries", "query"),
    "forecast_series": ("query", "series", "series"),
    "llm_dedup": ("query", "docs", "doc"),
    "stream_replay": ("batch", "events", "event"),
}


def _metric_specs() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {"end_to_end": spec["end_to_end"], "per_layer": spec["per_layer"]}


def _load_harness():
    """The repository's DuckDB oracle harness, imported from its file."""
    path = ROOT / "tests" / "oracle_harness.py"
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _prepare_dirs(trace: bool) -> dict[str, str]:
    for sub in ("tmp", "spark-local", "warehouse", "eventlog", "stream"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    tmp = str(WORK / "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def _start(conf: dict, spans) -> tuple[object, float, float]:
    """Start a session in a fresh JVM and run one trivial query on it.
    Returns the session, its start time and its first query's time."""
    from time_series_spark_spark.session import get_spark

    t0 = time.perf_counter()
    with spans.span("session.start"):
        spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    with spans.span("session.first_task"):
        spark.range(1).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop(spark) -> None:
    """Stop the session, wait for the JVM it launched to exit and forget
    the gateway, so the next ``_start`` launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _per_layer(ctx, log: dict, setup: dict, e2e: dict, names: list[str]) -> dict:
    values = dict(ctx.layer)
    values.update({k: v for k, v in log.items() if not k.startswith("_")})
    values["sources.load_s"] = ctx.spans.total("sources.load", ctx.window_s)
    values["sources.commit_s"] = ctx.spans.total("sources.commit", ctx.window_s)
    values["sources.load_jobs"] = ctx.layer.get("load_jobs", 0)
    values["sources.commit_bytes"] = ctx.layer.get("commit_bytes", 0)
    exec_span = log.get("_group_span_s", {})
    values["queries.collect_s"] = sum(
        max(0.0, mat - exec_span.get(group, 0.0)) for group, mat in ctx.materialize_s.items())
    if ctx.reruns:
        from stats import median
        values["queries.rerun_p50_s"] = median(ctx.reruns)
    out = {}
    for name in names:
        v = values.get(name, 0)
        if name.startswith("trace."):
            v = e2e[name[len("trace."):]]
        elif name in setup:
            v = setup[name]
        elif name not in NOT_PER_PASS:
            v = v / ctx.passes
        out[name] = v
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fail fast when the engine or its oracle harness is not in the checkout.
    for needed in ("time_series_spark_spark/__init__.py", "tests/oracle_harness.py",
                   "BENCHMARK.json"):
        if not (ROOT / needed).is_file():
            print(f"perfbench: {needed} is missing; run from a full checkout",
                  file=sys.stderr)
            return 2
    specs = _metric_specs()
    import gen
    import layers
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tracing = bool(args.trace)
    conf = _prepare_dirs(tracing)
    sys.path.insert(0, str(ROOT))

    # Inputs are generated (or found in the cache) before set-up is timed.
    t_start = time.perf_counter()
    data_root = WORK / "data"
    corpus, meta = gen.corpus(data_root, args.workload, args.seed)
    harness = _load_harness()

    spans = layers.Spans(tracing)
    setups = []
    with layers.RssSampler() as rss:
        t0 = time.perf_counter()
        for i in range(SETUPS):
            spark, start_s, first_s = _start(conf, spans)
            setups.append((start_s, first_s))
            if i < SETUPS - 1:
                _stop(spark)
        t1 = time.perf_counter()
        try:
            spark.sparkContext.setLogLevel("ERROR")
            ctx = workloads.Context(spark=spark, harness=harness, spans=spans,
                                    seed=args.seed, seconds=args.seconds, work=WORK,
                                    corpus=corpus, meta=meta)
            if tracing:
                ctx.layer = {"load_jobs": 0, "commit_bytes": 0}
                layers.instrument_sources(spans, spark.sparkContext, ctx.layer)
            workloads.WORKLOADS[args.workload](ctx)
            app_id = spark.sparkContext.applicationId
        finally:
            t3 = time.perf_counter()
            _stop(spark)

    e2e = {
        "setup_s": stats.median([a + b for a, b in setups]),
        "op_p50_s": stats.median(ctx.ops),
        "items_per_s": ctx.items / ctx.busy_s,
        "cpu_ms_per_item": 1e3 * ctx.cpu_s / ctx.items,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    op_name, items, item = UNITS[args.workload]
    summary = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s", "samples": SETUPS},
        f"{op_name}_p50_s": {"value": e2e["op_p50_s"], "unit": "s", "samples": len(ctx.ops)},
    }
    try:
        value, pct, n = stats.tail(ctx.ops)
        summary[f"{op_name}_tail_s"] = {"value": value, "unit": "s", "percentile": pct,
                                        "samples": n}
    except ValueError as exc:
        summary[f"{op_name}_tail_s"] = {"value": None, "unit": "s", "error": str(exc)}
    if ctx.reruns:
        summary["query_rerun_p50_s"] = {"value": stats.median(ctx.reruns), "unit": "s",
                                        "samples": len(ctx.reruns)}
    summary[f"{items}_per_s"] = {"value": e2e["items_per_s"], "unit": "1/s"}
    summary[f"cpu_ms_per_{item}"] = {"value": e2e["cpu_ms_per_item"], "unit": "ms"}
    summary["fail_ratio"] = {"value": ctx.failed / ctx.attempted, "unit": "ratio",
                             "failed": ctx.failed, "attempted": ctx.attempted}
    summary["peak_rss_mb"] = {"value": e2e["peak_rss_mb"], "unit": "MB"}

    print(f"workload {args.workload} seed {args.seed} passes {ctx.passes} "
          f"ops {len(ctx.ops)} trace {args.trace}")
    print(f"  phases: generate {t0 - t_start:.1f} s, {SETUPS} set-ups {t1 - t0:.1f} s, "
          f"warm-up {ctx.window_s[0] - t1:.1f} s, "
          f"measured {ctx.window_s[1] - ctx.window_s[0]:.1f} s, "
          f"stop {time.perf_counter() - t3:.1f} s")
    print("  passes: " + ", ".join(f"{s:.2f} s" for s in ctx.pass_s))
    for name, m in summary.items():
        detail = ", ".join(f"{k} {v:g}" for k, v in m.items()
                           if k not in ("value", "unit", "error"))
        shown = m.get("error") or f"{m['value']:.6g} {m['unit']}"
        print(f"  {name:<20} {shown}" + (f" ({detail})" if detail else ""))
    for name in dict.fromkeys(ctx.op_names):
        times = [t for t, n in zip(ctx.ops, ctx.op_names) if n == name]
        print(f"    {name:<30} median {stats.median(times):.4f} s over {len(times)}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "summary": summary}))

    if tracing:
        with open(WORK / "eventlog" / app_id) as fh:
            log = layers.harvest_event_log(fh, tuple(ctx.window_ms))
        setup = {"session.start_s": stats.median([a for a, _ in setups]),
                 "session.first_task_s": stats.median([b for _, b in setups])}
        metrics = _per_layer(ctx, log, setup, e2e, [m["name"] for m in specs["per_layer"]])
        spans.dump(WORK / f"spans-{app_id}.json")
        units = {m["name"]: m["unit"] for m in specs["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in specs["end_to_end"]}
        metrics = {name: e2e[name] for name in units}
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
