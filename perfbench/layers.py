"""Measurement taken from outside the engine.

- ``Spans``: the benchmark's own spans around its calls into each layer,
  kept in memory and written once at exit.
- ``RssSampler`` and ``tree_cpu_s``: peak resident memory and CPU time
  of this process tree (driver Python, the JVM it launched and the JVM's
  Python workers).
- ``instrument_sources``: timing wrappers around ``sources.io.load`` and
  ``sources.io.write_versioned``, installed only in the traced run.
- ``harvest_event_log``: the per-layer numbers in Spark's event log (task,
  stage and job records and SQL accumulables), with jobs attributed to
  build, load, execute or stream by job group.
- ``stream_progress``: the ``StreamingQueryProgress`` phase and state
  numbers of the stream replays.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import sys
import threading
import time
from pathlib import Path

# job-group prefixes the workloads set in the traced run
BUILD, LOAD, EXEC, RERUN = "pb-build-", "pb-load-", "pb-exec-", "pb-rerun-"
STREAM = "stream"


class Spans:
    """Spans (name, start, end, parent) recorded by one client thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.records)
        parent = self._stack[-1] if self._stack else None
        self.records.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.records[idx][2] = time.perf_counter()

    def total(self, name: str, window: tuple[float, float]) -> float:
        """Summed duration of the spans called ``name`` inside ``window``."""
        lo, hi = window
        return sum(e - s for n, s, e, _ in self.records
                   if n == name and e is not None and lo <= s and e <= hi)

    def dump(self, path: Path) -> None:
        keys = ("name", "start", "end", "parent")
        path.write_text(json.dumps([dict(zip(keys, r)) for r in self.records]))


def _proc_tree() -> list[list[str]]:
    """The ``/proc/<pid>/stat`` fields (from the state on) of this process
    and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listdir and open
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user and system, including reaped children) used so
    far by this process tree."""
    ticks = sum(sum(int(f[i]) for i in range(11, 15)) for f in _proc_tree())
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        return sum(int(f[21]) for f in _proc_tree()) * self._page

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def instrument_sources(spans: Spans, sc, counters: dict) -> None:
    """Wrap ``load`` and ``write_versioned`` of ``sources.io``.

    Query modules import ``load`` by name, so every engine module holding
    the original function gets the wrapper. Each load runs under its own
    job group so the status tracker counts the jobs it starts (schema
    inference); the caller's group is restored afterwards."""
    from time_series_spark_spark.sources import io

    orig_load, orig_write = io.load, io.write_versioned
    tracker = sc.statusTracker()
    load_ids = itertools.count()

    def load(spark, sf_dir, table):
        gid = f"{LOAD}{next(load_ids)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", gid)
        try:
            with spans.span("sources.load"):
                return orig_load(spark, sf_dir, table)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            counters["load_jobs"] += len(tracker.getJobIdsForGroup(gid))

    def write_versioned(df, table_path, *args, **kwargs):
        before = _dir_bytes(table_path)
        with spans.span("sources.commit"):
            version = orig_write(df, table_path, *args, **kwargs)
        counters["commit_bytes"] += _dir_bytes(table_path) - before
        return version

    for name, mod in list(sys.modules.items()):
        if not name.startswith("time_series_spark_spark"):
            continue
        if getattr(mod, "load", None) is orig_load:
            mod.load = load
        if getattr(mod, "write_versioned", None) is orig_write:
            mod.write_versioned = write_versioned


def _job_class(props: dict) -> str | None:
    if "sql.streaming.queryId" in props:
        return STREAM
    gid = props.get("spark.jobGroup.id") or ""
    for prefix in (BUILD, LOAD, EXEC, RERUN):
        if gid.startswith(prefix):
            return prefix
    return None


def _plan_metrics(info: dict, out: dict) -> None:
    node = info.get("nodeName", "").split(" (")[0].strip()
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def harvest_event_log(lines, window_ms: tuple[int, int]) -> dict:
    """Per-layer numbers from an uncompressed, non-rolling event log.

    Only jobs submitted inside ``window_ms`` (epoch ms) count. Execute-side
    numbers (``operators.*``, ``sources.scan_*``) cover jobs of the
    execute groups and the stream micro-batches; build, load and re-collect
    jobs are counted by class only."""
    lo, hi = window_ms
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    accum_names: dict[int, tuple[str, str]] = {}
    executed_sql: dict[int, bool] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            cls = _job_class(e.get("Properties") or {})
            if lo <= t <= hi and cls is not None:
                group = (e.get("Properties") or {}).get(
                    "sql.streaming.queryId" if cls == STREAM else "spark.jobGroup.id")
                jobs[e["Job ID"]] = {"class": cls, "group": group, "start": t, "end": t}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job:
                stages[info["Stage ID"]] = {
                    "job": stage_job[info["Stage ID"]],
                    "dur": (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0),
                }
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks.append(e)
        elif kind.endswith("SQLExecutionStart"):
            cls = _job_class({"spark.jobGroup.id": e.get("jobGroupId")})
            executed_sql[e["executionId"]] = (
                lo <= e.get("time", 0) <= hi and cls not in (BUILD, LOAD, RERUN))
            _plan_metrics(e["sparkPlanInfo"], accum_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], accum_names)
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_updates.append((e["executionId"], acc_id, value))

    executed = {j for j, v in jobs.items() if v["class"] in (EXEC, STREAM)}
    out: dict[str, float] = {
        "queries.build_jobs_log": sum(v["class"] == BUILD for v in jobs.values()),
        "sources.load_jobs_log": sum(v["class"] == LOAD for v in jobs.values()),
        "operators.jobs": len(executed),
        "operators.stages": sum(s["job"] in executed for s in stages.values()),
    }
    # wall time of each executed group: first job submitted to last job done
    spans_by_group: dict[str, list[int]] = {}
    for j in executed:
        v = jobs[j]
        g = spans_by_group.setdefault(f"{v['class']}:{v['group']}", [v["start"], v["end"]])
        g[0], g[1] = min(g[0], v["start"]), max(g[1], v["end"])
    out["operators.exec_s"] = sum(b - a for a, b in spans_by_group.values()) / 1e3
    out["_group_span_s"] = {
        k.split(":", 1)[1]: (b - a) / 1e3
        for k, (a, b) in spans_by_group.items() if k.startswith(EXEC)}

    sums = dict.fromkeys((
        "run_ms", "cpu_ns", "gc_ms", "sched_ms", "sw_bytes", "sw_ns", "sr_bytes",
        "fetch_ms", "spill", "in_bytes", "scan_ms", "codegen_ms", "py_init_ms",
        "py_run_ms", "py_sent", "py_tasks", "failed", "tasks"), 0)
    peak_mem = 0
    stage_runs: dict[int, list[int]] = {}
    for t in tasks:
        if stage_job[t["Stage ID"]] not in executed:
            continue
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        sums["tasks"] += 1
        failed = info.get("Failed") or t["Task End Reason"].get("Reason") != "Success"
        sums["failed"] += bool(failed)
        run = m.get("Executor Run Time", 0)
        stage_runs.setdefault(t["Stage ID"], []).append(run)
        sums["run_ms"] += run
        sums["cpu_ns"] += m.get("Executor CPU Time", 0)
        sums["gc_ms"] += m.get("JVM GC Time", 0)
        dur = info["Finish Time"] - info["Launch Time"]
        sums["sched_ms"] += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                                - m.get("Result Serialization Time", 0)
                                - info.get("Getting Result Time", 0))
        sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
        sums["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sums["sw_ns"] += sw.get("Shuffle Write Time", 0)
        sums["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sums["fetch_ms"] += sr.get("Fetch Wait Time", 0)
        sums["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sums["in_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        peak_mem = max(peak_mem, m.get("Peak Execution Memory", 0))
        python = False
        codegen_ms = 0
        for acc in info.get("Accumulables", ()):
            name = acc.get("Name")
            try:
                upd = int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                continue
            if name == "scan time":
                sums["scan_ms"] += upd
            elif name == "duration" and accum_names.get(acc["ID"], ("",))[0] == "WholeStageCodegen":
                # a pipeline's duration includes the pipelines feeding it
                # inside the same task, so the task's longest one covers all
                codegen_ms = max(codegen_ms, upd)
            elif name in ("time to start Python workers", "time to initialize Python workers"):
                sums["py_init_ms"] += upd
                python = True
            elif name == "time to run Python workers":
                sums["py_run_ms"] += upd
                python = True
            elif name == "data sent to Python workers":
                sums["py_sent"] += upd
        sums["codegen_ms"] += codegen_ms
        sums["py_tasks"] += python

    bcast_bytes = bcast_ms = 0
    for exec_id, acc_id, value in driver_updates:
        if not executed_sql.get(exec_id):
            continue
        node, name = accum_names.get(acc_id, ("", ""))
        if node != "BroadcastExchange":
            continue
        if name == "data size":
            bcast_bytes += value
        elif name in ("time to collect", "time to build", "time to broadcast"):
            bcast_ms += value

    skew = 0.0
    if stages and any(s["job"] in executed for s in stages.values()):
        slowest = max((sid for sid, s in stages.items() if s["job"] in executed),
                      key=lambda sid: stages[sid]["dur"])
        runs = stage_runs.get(slowest) or [0]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0

    out.update({
        "operators.tasks": sums["tasks"],
        "operators.sched_delay_s": sums["sched_ms"] / 1e3,
        "operators.task_run_s": sums["run_ms"] / 1e3,
        "operators.task_cpu_s": sums["cpu_ns"] / 1e9,
        "operators.gc_s": sums["gc_ms"] / 1e3,
        "operators.codegen_s": sums["codegen_ms"] / 1e3,
        "operators.shuffle_write_bytes": sums["sw_bytes"],
        "operators.shuffle_write_s": sums["sw_ns"] / 1e9,
        "operators.shuffle_read_bytes": sums["sr_bytes"],
        "operators.shuffle_fetch_wait_s": sums["fetch_ms"] / 1e3,
        "operators.broadcast_bytes": bcast_bytes,
        "operators.broadcast_s": bcast_ms / 1e3,
        "operators.task_skew": skew,
        "operators.spill_bytes": sums["spill"],
        "operators.peak_exec_mem_bytes": peak_mem,
        "operators.python_init_s": sums["py_init_ms"] / 1e3,
        "operators.python_s": sums["py_run_ms"] / 1e3,
        "operators.python_bytes_sent": sums["py_sent"],
        "operators.python_tasks": sums["py_tasks"],
        "operators.failed_tasks": sums["failed"],
        "sources.scan_s": sums["scan_ms"] / 1e3,
        "sources.scan_bytes": sums["in_bytes"],
    })
    return out


def stream_progress(progress_list) -> dict:
    """Phase and state numbers of one replay's micro-batches."""
    phases = {
        "latestOffset": "streaming.latest_offset_ms",
        "getBatch": "streaming.get_batch_ms",
        "queryPlanning": "streaming.query_planning_ms",
        "addBatch": "streaming.add_batch_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
    }
    out = dict.fromkeys(phases.values(), 0.0)
    out.update({"streaming.batches": len(progress_list), "streaming.state_commit_ms": 0.0,
                "streaming.rows_dropped": 0, "streaming.state_rows": 0,
                "streaming.state_mem_bytes": 0, "streaming.state_instances": 0})
    for p in progress_list:
        for key, metric in phases.items():
            out[metric] += float(p.durationMs.get(key, 0) or 0)
        for op in p.stateOperators:
            out["streaming.state_commit_ms"] += float(op.commitTimeMs or 0)
            out["streaming.rows_dropped"] += int(op.numRowsDroppedByWatermark or 0)
    if progress_list:
        last = progress_list[-1].stateOperators
        out["streaming.state_rows"] = sum(int(op.numRowsTotal or 0) for op in last)
        out["streaming.state_mem_bytes"] = sum(int(op.memoryUsedBytes or 0) for op in last)
        out["streaming.state_instances"] = sum(int(op.numStateStoreInstances or 0) for op in last)
    return out
