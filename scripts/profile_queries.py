"""Per-query measurement harness: plans, timings, job and stage counts.

For every query named on the command line (default: bench.py's HEADLINE +
HEAVY_TAIL), builds the DataFrame once, captures ``explain("formatted")``
to ``plans/profile/<name>_<tag>.txt``, then times it with the noop sink
(guide §1.4 — computes every column, no driver materialization) AND with
``toPandas()`` (the bench's timed action, kept for comparability), and
counts Spark jobs/stages per run via the status tracker.

Usage:
    python scripts/profile_queries.py [--tag before|after] [--runs 3] [name ...]

Writes one JSON line per query to stdout and a summary to
``plans/profile/profile_<tag>.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = sys.argv[1:]
    tag = "before"
    runs = 3
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]

    import bench as _bench
    from time_series_spark_spark.queries import REGISTRY
    from time_series_spark_spark.session import get_spark

    names = args or (_bench.HEADLINE + _bench.HEAVY_TAIL)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "profile"
    plans_dir.mkdir(parents=True, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()

    def job_stage_count() -> tuple[int, int]:
        ids = tracker.getJobIdsForGroup(None) or []
        stages = 0
        for jid in ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages += len(info.stageIds)
        return len(ids), stages

    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            out[name] = {"err": repr(e)}
            print(json.dumps({"name": name, "err": repr(e)}), flush=True)
            continue
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (plans_dir / f"{name}_{tag}.txt").write_text(plan)

        # warm-up (plan analysis, codegen, file listing) — untimed
        df.write.format("noop").mode("overwrite").save()

        j0, s0 = job_stage_count()
        best_noop = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.perf_counter() - t0)
        j1, s1 = job_stage_count()

        df.toPandas()  # warm the collect path too
        best_pd = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.toPandas()
            best_pd = min(best_pd, time.perf_counter() - t0)

        n_exchange = plan.count("Exchange")
        rec = {
            "name": name,
            "noop_best": round(best_noop, 4),
            "topandas_best": round(best_pd, 4),
            "jobs_per_noop": round((j1 - j0) / runs, 1),
            "stages_per_noop": round((s1 - s0) / runs, 1),
            "exchanges_in_plan": n_exchange,
            "python_eval_nodes": sum(
                plan.count(k)
                for k in (
                    "BatchEvalPython",
                    "ArrowEvalPython",
                    "MapInPandas",
                    "MapInArrow",
                    "FlatMapGroupsInPandas",
                    "AggregateInPandas",
                )
            ),
        }
        out[name] = rec
        print(json.dumps(rec), flush=True)
        spark.sparkContext.setJobDescription(None)

    (plans_dir / f"profile_{tag}.json").write_text(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
