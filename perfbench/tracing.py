"""Measurement plumbing: spans, process-tree memory, and the Spark event
log reader.

Spans are recorded by the benchmark around each call into a layer
(name, start, end, parent, operation id), kept in memory and written out
when the run ends. The event-log reader joins each SQL execution's
``sparkPlanInfo`` metric ids to the ``TaskEnd`` accumulables and keys
everything by the job group the benchmark set for the operation.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span list; ``span()`` nests through a parent stack."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.items: list[dict] = []
        self._stack: list[int] = []
        self.current_op: str | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {"name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.items.append(rec)
        self._stack.append(len(self.items) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items
                   if s["name"] == name and s["end"] is not None)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed resident memory of this process, the JVM and the
    Python workers (the whole process tree) from ``/proc``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in process_tree(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Driver-side plan introspection (one py4j call each)
# --------------------------------------------------------------------------

def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis / optimization / planning, from the
    DataFrame's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


_PLAN_PATTERNS = {
    "exchanges": re.compile(r"\b(Exchange|ShuffleExchange|BroadcastExchange)"
                            r"\b"),
    "scans": re.compile(r"\b(FileScan|Scan parquet|BatchScan|Scan \w+)"),
    "generates": re.compile(r"\bGenerate\b"),
    "python_nodes": re.compile(r"\b(MapInPandas|MapInArrow|ArrowEvalPython|"
                               r"BatchEvalPython|FlatMapGroupsInPandas|"
                               r"FlatMapCoGroupsInPandas|"
                               r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF|"
                               r"WindowInPandas|AggregateInPandas)\w*"),
}


def plan_shape(df) -> dict[str, int]:
    """Exact operator counts of the executed physical plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    counts = {k: 0 for k in _PLAN_PATTERNS}
    for line in text.splitlines():
        node = line.lstrip(" :+-*()0123456789")
        for k, pat in _PLAN_PATTERNS.items():
            if pat.match(node):
                counts[k] += 1
    return counts


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

#: SQL metric (operator class, metric name) -> per-layer metric name.
#: Times are reported per operator class and never summed across classes:
#: a WholeStageCodegen duration includes the time its stage spent pulling
#: from upstream operators (including Python output).
SQL_METRICS = {
    ("scan", "scan time"): "scan.time_ms",
    ("scan", "size of files read"): "scan.bytes",
    ("sort", "sort time"): "op.sort_ms",
    ("agg", "time in aggregation build"): "op.agg_build_ms",
    ("wscg", "duration"): "op.wscg_ms",
    ("batched", "time to run Python workers"): "batched.python_worker_ms",
    ("batched", "data sent to Python workers"): "batched.bytes_to_python",
    ("batched", "data returned from Python workers"):
        "batched.bytes_from_python",
    ("udtf", "time to run Python workers"): "sql.udtf_python_ms",
    ("udtf", "data sent to Python workers"): "sql.udtf_bytes_to_python",
}


def _node_class(name: str) -> str | None:
    if name.startswith("Scan ") or "FileScan" in name or name == "BatchScan":
        return "scan"
    if name == "Sort":
        return "sort"
    if name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
        return "agg"
    if name.startswith("WholeStageCodegen"):
        return "wscg"
    if name in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "ArrowEvalPython"):
        return "batched"
    if "PythonUDTF" in name:
        return "udtf"
    return None


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    cls = _node_class(info.get("nodeName", ""))
    for m in info.get("metrics", []):
        if cls is not None:
            out[int(m["accumulatorId"])] = (cls, m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def read_event_log(paths: list[str], build_jobs: frozenset[int] = frozenset()
                   ) -> dict[str, dict[str, float]]:
    """Per-operation Spark execution metrics from an uncompressed event log.

    Returns ``{job_group: {metric: value}}``; each job group is one timed
    operation (the benchmark sets it before the operation's build).
    ``exec.action_task_ms`` is the task time of the jobs not in
    ``build_jobs``, the jobs a builder call started before the action."""
    stage_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}
    exec_accs: dict[int, set[int]] = defaultdict(set)
    acc_sum: dict[int, float] = defaultdict(float)
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages: dict[str, set[int]] = defaultdict(set)
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties", {})
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
                stage_job.setdefault(sid, int(ev.get("Job ID", -1)))
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group[int(eid)] = group
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            metas: dict[int, tuple[str, str, str]] = {}
            _walk_plan(ev.get("sparkPlanInfo", {}), metas)
            acc_meta.update(metas)
            exec_accs[int(ev["executionId"])].update(metas)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # driver-side metrics, e.g. a scan's "size of files read"
            for aid, val in ev.get("accumUpdates", []):
                if int(aid) in acc_meta:
                    acc_sum[int(aid)] += float(val)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            m = per[group]
            m["exec.tasks"] += 1
            stages[group].add(ev.get("Stage ID"))
            m["exec.run_ms"] += tm.get("Executor Run Time", 0)
            m["exec.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["exec.gc_ms"] += tm.get("JVM GC Time", 0)
            if stage_job.get(ev.get("Stage ID")) not in build_jobs:
                m["exec.action_task_ms"] += (info.get("Finish Time", 0)
                                             - info.get("Launch Time", 0))
            sw = tm.get("Shuffle Write Metrics", {})
            m["exchange.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["exchange.write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
            m["exec.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", []):
                aid = int(acc.get("ID", -1))
                if aid in acc_meta:
                    try:
                        acc_sum[aid] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    for eid, accs in exec_accs.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        for aid in accs:
            cls, name, mtype = acc_meta[aid]
            key = SQL_METRICS.get((cls, name))
            if key is None:
                continue
            val = acc_sum.get(aid, 0.0)
            if mtype == "nsTiming":
                val /= 1e6
            per[group][key] += val
    for group, sids in stages.items():
        per[group]["exec.stages"] = len(sids)
    return {g: dict(m) for g, m in per.items()}


def instrument_sources(spans: Spans) -> None:
    """Wrap every public function of ``anofox_forecast_spark.sources``
    (table loads and panel builders, including their schema inference) in
    a ``sources.read`` span, wherever a loaded module bound it by name.
    Only the outermost call of a nested chain is recorded."""
    import inspect
    import sys

    from anofox_forecast_spark import sources
    depth = [0]

    def wrap(fn):
        def timed(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            depth[0] += 1
            try:
                with spans.span("sources.read", spans.current_op):
                    return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return timed

    originals = {name: fn for name, fn in vars(sources).items()
                 if inspect.isfunction(fn) and not name.startswith("_")
                 and fn.__module__ == sources.__name__}
    wrapped = {id(fn): wrap(fn) for fn in originals.values()}
    for mod in list(sys.modules.values()):
        if mod is None or not (mod.__name__.startswith("anofox_forecast_spark")
                               or mod.__name__ == "__spark_entry__"):
            continue
        for name, val in list(vars(mod).items()):
            if inspect.isfunction(val) and id(val) in wrapped:
                setattr(mod, name, wrapped[id(val)])


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def find_event_log(log_dir: str) -> list[str]:
    """The files of the one application log in ``log_dir``: a plain file,
    or the parts of a rolling ``eventlog_v2_*`` directory in order."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {apps}")
    if os.path.isfile(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
