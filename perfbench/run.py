"""Repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload forecast_m4d --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. The load is a closed loop with one client:
the driver thread issues one operation at a time on ``local[<nproc>]``
and the next only after the previous result is collected. A run sets up
(session start, SQL registration, input generation, warm-up), then
repeats passes over the workload's operations until ``--seconds`` have
elapsed (at least one whole pass), then checks every collected output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
with Spark's event log on, then replays a few operations untraced and
traced to price the tracing, and prints the per-layer metrics instead
(see ``Bench._traced``). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable table with sample counts. Everything the run writes stays
under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: Session confs set beyond ``get_spark``'s defaults, with the reason.
SESSION_CONFS = {
    "spark.sql.shuffle.partitions": (
        "8", "bench.py's value below sf1: the package default "
             "max(nproc, 32) makes every small shuffle 32 near-empty tasks"),
    "spark.sql.adaptive.enabled": (
        "false", "bench.py parity; fixed executed plans keep plan-shape "
                 "counts exact and keep adaptive re-plans out of the "
                 "event log"),
    "spark.sql.warehouse.dir": (
        "<work>/warehouse", "keep every file the run writes inside the "
                            "working directory"),
    "spark.ui.showConsoleProgress": (
        "false", "stage progress bars would interleave with the result "
                 "lines"),
    "spark.driver.extraJavaOptions": (
        "-Djava.io.tmpdir=<work>/tmp -Dderby.system.home=<work> "
        "-XX:-UsePerfData",
        "same reason: JVM temp files stay inside the working directory, "
        "and no hsperfdata file is written to the system temp directory"),
}
#: Set on the live session (``get_spark`` takes the shuffle width as an
#: argument); the others go on the JVM command line.
RUNTIME_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
TRACE_CONFS = {
    "spark.eventLog.enabled": ("true", "traced run only: the per-layer "
                                       "source"),
    "spark.eventLog.compress": ("false", "parse the log as plain JSON lines"),
    "spark.eventLog.dir": ("<work>/eventlog-<phase>", "one log per phase"),
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return list(os.getloadavg())


def _cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _pct(values: list[float], q: float) -> float:
    """Inclusive-linear percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _tail_q(n: int) -> float | None:
    """Highest whole percentile with at least ten samples beyond it."""
    for q in range(99, 0, -1):
        if n * (100 - q) / 100.0 >= 10:
            return float(q)
    return None


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 tiny: bool = False):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tiny = trace, tiny
        self.work = os.path.join(ROOT, ".perfbench",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": trace,
                             "nproc": _nproc(), "loadavg_start": _loadavg(),
                             "loop": "closed, one client",
                             "session_confs": {}}
        self.failures: list[dict] = []
        self._stat0 = _cpu_stat()

    # ---- environment -----------------------------------------------------

    def _isolate(self) -> None:
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".perfbench",
                                                    "cache")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work,
                                                      "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        confs = {k: v for k, (v, _) in SESSION_CONFS.items()
                 if k not in RUNTIME_CONFS}
        if self.trace:
            confs.update({k: v for k, (v, _) in TRACE_CONFS.items()})
            confs["spark.eventLog.dir"] = "<work>/eventlog-a"
            os.makedirs(os.path.join(self.work, "eventlog-a"))
        args = []
        for k, v in confs.items():
            v = v.replace("<work>", self.work)
            if k == "spark.eventLog.dir":
                v = "file://" + v
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f'"{a}"' if " " in a else a for a in args) + " pyspark-shell"
        table = dict(SESSION_CONFS)
        if self.trace:
            table.update(TRACE_CONFS)
        self.record["session_confs"] = {
            k: {"value": v.replace("<work>", ".perfbench/<run>"),
                "reason": r} for k, (v, r) in table.items()}
        sys.path[:0] = [ROOT, HERE]

    def _guard(self) -> None:
        from anofox_forecast_spark import sources
        if getattr(sources, "_CACHE_ENABLED", False):
            _fail("the sources module has its source cache enabled; "
                  "cached inputs would skip the scans being measured")
        from anofox_forecast_spark.functions import cfilters
        self.record["cfilters.loaded"] = cfilters.get_lib() is not None

    def _start_session(self):
        from anofox_forecast_spark.session import get_spark
        spark = get_spark(app_name=f"perfbench-{self.workload}",
                          shuffle_partitions=8)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _restart(self, spark, phase: str | None):
        """New SparkContext in the same JVM with the event log on (into
        ``eventlog-<phase>``) or off."""
        spark.stop()
        from pyspark import SparkContext
        sysprops = SparkContext._jvm.java.lang.System
        if phase is None:
            sysprops.setProperty("spark.eventLog.enabled", "false")
        else:
            d = os.path.join(self.work, f"eventlog-{phase}")
            os.makedirs(d)
            sysprops.setProperty("spark.eventLog.enabled", "true")
            sysprops.setProperty("spark.eventLog.compress", "false")
            sysprops.setProperty("spark.eventLog.dir", "file://" + d)
        # no register_all: the replayed operations precede the SQL surface
        return self._start_session()

    # ---- the closed loop -------------------------------------------------

    def _run_op(self, spark, op, tag: str, spans, detail: bool) -> dict:
        """Build, materialize (``toArrow``) and keep one operation's result
        for the checks after the pass."""
        sc = spark.sparkContext
        # the group's description is the jobs' spark.job.description
        sc.setJobGroup(tag, f"{tag} {op.name}")
        rec = {"id": tag, "op": op.name, "kind": op.kind,
               "series": op.series, "error": None, "build_s": 0.0,
               "action_s": 0.0}
        df = None
        spans.current_op = tag
        with spans.span("op", tag) as s_op:
            try:
                with spans.span("operators.build", tag) as s:
                    df = op.build()
                rec["build_s"] = s["end"] - s["start"]
                rec["build_job_ids"] = [int(j) for j in sc.statusTracker()
                                        .getJobIdsForGroup(tag)]
                rec["build_jobs"] = len(rec["build_job_ids"])
                with spans.span("exec.action", tag) as s:
                    rec["result"] = df.toArrow()
                rec["action_s"] = s["end"] - s["start"]
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                traceback.print_exc(file=sys.stderr)
        spans.current_op = None
        rec["wall_s"] = s_op["end"] - s_op["start"]
        if detail and rec["error"] is None:
            from tracing import catalyst_phases, plan_shape
            rec["catalyst"] = catalyst_phases(df)
            rec["plan"] = plan_shape(df)
        return rec

    def _pass(self, spark, tag: str, spans, detail: bool,
              limit: int | None = None):
        ops = self.wl.ops(spark)[:limit]
        with spans.span("pass", tag):
            recs = [self._run_op(spark, op, f"{tag}.{i}", spans, detail)
                    for i, op in enumerate(ops)]
        return recs, {op.name: op for op in ops}

    def _check(self, recs: list[dict], ops_by_name: dict) -> None:
        """Outside the timed region: validate every collected result and
        record each exception or mismatch as a failed operation."""
        from checks import arrow_to_pandas
        for rec in recs:
            if rec["error"] is None:
                got = arrow_to_pandas(rec.pop("result"))
                try:
                    msg = ops_by_name[rec["op"]].check(got)
                except Exception as exc:  # noqa: BLE001 - a failed check
                    msg = f"check raised {type(exc).__name__}: {exc}"
                rec["error"] = None if msg is None else f"mismatch: {msg}"
            if rec["error"] is not None:
                self.failures.append({"op": rec["op"], "id": rec["id"],
                                      "error": rec["error"]})

    # ---- main ------------------------------------------------------------

    def run(self) -> dict:
        self._isolate()
        self._guard()
        import tracing as T
        import workloads as W
        spans = T.Spans()
        self.wl = W.make(self.workload, self.seed, self.work, spans,
                         self.tiny)
        if self.trace:
            T.instrument_sources(spans)
        with T.PeakRss() as rss:
            t0 = time.perf_counter()
            with spans.span("setup"):
                with spans.span("session.start"):
                    spark = self._start_session()
                if self.wl.uses_sql:
                    from anofox_forecast_spark.functions.sql import \
                        register_all
                    with spans.span("sql.register"):
                        register_all(spark)
                with spans.span("inputs"):
                    self.record["inputs"] = self.wl.prepare()
                with spans.span("warmup"):
                    warm = [self._run_op(spark, op, f"w.{i}", spans, False)
                            for i, op in enumerate(
                                self.wl.warmup_ops(spark))]
            setup_s = time.perf_counter() - t0
            self.record["warmup_failures"] = [
                {"op": r["op"], "error": r["error"]} for r in warm
                if r["error"] is not None]
            recs: list[dict] = []
            passes: list[float] = []
            t_loop = time.perf_counter()
            while not passes or time.perf_counter() - t_loop < self.seconds:
                p, ops = self._pass(spark, f"p{len(passes)}", spans,
                                    detail=self.trace and not passes)
                passes.append(sum(r["wall_s"] for r in p))
                with spans.span("checks"):
                    self._check(p, ops)
                recs += p
            if self.trace and not self.wl.uses_sql:
                # the SQL layer's registration cost, measured where the
                # workload itself does not register
                from anofox_forecast_spark.functions.sql import register_all
                with spans.span("sql.register"):
                    register_all(spark)
            traced = self._traced(spark, spans, recs) if self.trace \
                else None
            if traced is None:
                spark.stop()
        self.record["loadavg_end"] = _loadavg()
        # CPU time the hypervisor gave to other guests: the host noise
        # that no setting of the benchmark removes
        steal, total = (b - a for a, b in zip(self._stat0, _cpu_stat()))
        self.record["cpu_steal_share"] = steal / max(total, 1)
        self.record["spans"] = spans.items
        return self._report(recs, passes, setup_s, rss.peak, spans, traced)

    def _traced(self, spark, spans, recs) -> dict:
        """The session started with the event log on, so the passes above
        are logged (log A: the same cold state as the untraced end-to-end
        runs; the per-layer table comes from it, and the Catalyst phases
        and plan shapes are read after each of its actions). Then the first
        ``REPLAY_OPS`` operations are replayed untraced (B), traced (C) and
        untraced again (B2) in fresh SparkContexts of the same JVM. Each
        replay runs warmer than the one before, so C is compared with the
        mean of B and B2: C / mean(B, B2) - 1 is the tracing overhead."""
        import tracing as T
        walls = {}
        for tag, phase in (("b", None), ("c", "c"), ("b2", None)):
            spark = self._restart(spark, phase)
            rs, _ = self._pass(spark, tag, spans, detail=False,
                               limit=REPLAY_OPS)
            walls[tag] = sum(r["wall_s"] for r in rs)
        spark.stop()
        build_jobs = frozenset(j for r in recs
                               for j in r.get("build_job_ids", ()))
        log_a = T.read_event_log(T.find_event_log(
            os.path.join(self.work, "eventlog-a")), build_jobs)
        self.record["replay_walls_s"] = walls
        return {"log_a": log_a,
                "overhead": walls["c"] / ((walls["b"] + walls["b2"]) / 2)
                - 1.0}

    def _report(self, recs, passes, setup_s, peak, spans, traced) -> dict:
        walls = [r["wall_s"] for r in recs if r["error"] is None] or [0.0]
        n = len(walls)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "op_p50_s": (_pct(walls, 50), "s"),
            "op_p90_s": (_pct(walls, 90), "s"),
        }
        samples = {"setup_s": 1, "pass_s": len(passes), "op_p50_s": n,
                   "op_p90_s": n}
        attempted = len(recs)
        failed = sum(r["error"] is not None for r in recs)
        self.record["failures"] = self.failures
        self.record["ops"] = [{k: v for k, v in r.items() if k != "result"}
                              for r in recs]
        # surface throughputs and aliases for the readable table
        by_kind: dict[str, list] = {}
        for r in recs:
            if r["error"] is None and r["series"]:
                by_kind.setdefault(r["kind"], []).append(r)
        rates = {k: sum(r["series"] for r in v) / sum(r["wall_s"] for r in v)
                 for k, v in by_kind.items()}
        lines = [f"workload {self.workload} seed {self.seed}: "
                 f"{len(passes)} pass(es), {attempted} operations, "
                 f"{failed} failed, error_rate {failed / attempted:.4f}",
                 f"  host: nproc {self.record['nproc']}, load average "
                 f"{self.record['loadavg_start'][0]:.2f} -> "
                 f"{self.record['loadavg_end'][0]:.2f}, CPU steal share "
                 f"{self.record['cpu_steal_share']:.4f}"]
        for name, (val, unit) in e2e.items():
            lines.append(f"  {name:<26} {val:>12.4f} {unit:<6} "
                         f"n={samples[name]}")
        lines.append(f"  {'peak_rss_mb':<26} {peak / 2**20:>12.4f} MB     n=1")
        tq = _tail_q(n)
        if tq is not None:
            lines.append(f"  op_p{int(tq)}_s (tail, 10 beyond) "
                         f"{_pct(walls, tq):>10.4f} s      n={n}")
        if self.workload == "mix_sf0.1":
            lines.append("  mix_pass_s = pass_s; mix_query_p50_s = "
                         "op_p50_s; mix_query_p90_s = op_p90_s")
        for kind, key in (("py", "fc_py"), ("fold", "fc_fold"),
                          ("sql", "fc_sql")):
            if kind in rates:
                lines.append(f"  {key + '_series_per_s':<26} "
                             f"{rates[kind]:>12.4f} 1/s    "
                             f"n={len(by_kind[kind])}")
        for f in self.failures + [dict(w, id="warmup") for w in
                                  self.record["warmup_failures"]]:
            lines.append(f"  FAILED {f['id']} {f['op']}: {f['error']}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if traced is not None:
            metrics = self._per_layer(recs, traced, spans, rates, peak)
            lines.append("  per-layer metrics: see the JSON line and the "
                         f"trace file {self.trace_path()}")
        self.record["metrics"] = metrics
        return {"lines": lines,
                "result": {"correct": failed == 0
                           and not self.record["warmup_failures"],
                           "attempted": attempted, "failed": failed,
                           "metrics": metrics}}

    def trace_path(self) -> str:
        return os.path.join(".perfbench", "traces",
                            f"{self.workload}-seed{self.seed}.json")

    def _per_layer(self, recs, traced, spans, rates, peak) -> dict:
        import workloads as W
        first = [r for r in recs if r["id"].startswith("p0.")]
        log = traced["log_a"]
        wall = sum(r["wall_s"] for r in first)
        action = sum(r["action_s"] for r in first)
        sums: dict[str, float] = {}
        for r in first:
            for k, v in log.get(r["id"], {}).items():
                sums[k] = sums.get(k, 0.0) + v
        cores = self.record["nproc"]
        per_op = {}
        for r in first:
            m = dict(log.get(r["id"], {}))
            m.update({"build_s": r["build_s"], "action_s": r["action_s"],
                      "build_jobs": r.get("build_jobs", 0)})
            m.update({f"catalyst.{k}_s": v
                      for k, v in r.get("catalyst", {}).items()})
            m.update({f"plan.{k}": v for k, v in r.get("plan", {}).items()})
            per_op[r["op"]] = m
        sources_s = sum(s["end"] - s["start"] for s in spans.items
                        if s["name"] == "sources.read"
                        and (s["op"] or "").startswith("p0."))
        kernel_ms = self.wl.kernel_ms_total()
        py_worker = sums.get("batched.python_worker_ms", 0.0)
        m = {
            "peak_rss_mb": peak / 2**20,
            "session.start_s": spans.total("session.start"),
            "sql.register_s": spans.total("sql.register"),
            "sources.read_s": sources_s,
            "operators.build_s": sum(r["build_s"] for r in first),
            "operators.build_jobs": float(sum(r.get("build_jobs", 0)
                                              for r in first)),
            "exec.action_s": action,
            # task time of the collect jobs only: jobs started inside a
            # builder call ran before the action span
            "exec.slot_idle_share": (
                1.0 - sums.get("exec.action_task_ms", 0.0)
                / (1000.0 * action * cores) if action > 0 else 0.0),
            "build_share": sum(r["build_s"] for r in first) / wall,
            "cfilters.loaded": float(self.record["cfilters.loaded"]),
            "models.kernel_share": (kernel_ms / py_worker
                                    if py_worker > 0 else 0.0),
            "trace.overhead_share": traced["overhead"],
            "error_rate": (sum(r["error"] is not None for r in recs)
                           / len(recs)),
            "fc_py_series_per_s": rates.get("py", 0.0),
            "fc_fold_series_per_s": rates.get("fold", 0.0),
            "fc_sql_series_per_s": rates.get("sql", 0.0),
        }
        for k in ("catalyst.analysis_s", "catalyst.optimization_s",
                  "catalyst.planning_s", "plan.exchanges", "plan.scans",
                  "plan.generates", "plan.python_nodes"):
            m[k] = float(sum(v.get(k, 0.0) for v in per_op.values()))
        for k in ("exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks",
                  "exec.stages", "scan.time_ms", "scan.bytes",
                  "exchange.write_bytes", "exchange.write_ms",
                  "exec.spill_bytes",
                  "op.sort_ms", "op.agg_build_ms", "op.wscg_ms",
                  "batched.python_worker_ms", "batched.bytes_to_python",
                  "batched.bytes_from_python", "sql.udtf_python_ms",
                  "sql.udtf_bytes_to_python"):
            m[k] = float(sums.get(k, 0.0))
        extra = self.wl.extra_metrics()
        for model in W.PY_MODELS:
            key = f"models.kernel_ms_per_series.{model}"
            m[key] = float(extra.get(key, 0.0))
        m["forecast.series_dropped"] = float(
            extra.get("forecast.series_dropped", 0.0))
        self.record["per_op"] = per_op
        self.record["series_dropped"] = self.wl.dropped
        units = {k: _unit(k) for k in m}
        return {k: {"value": float(v), "unit": units[k]}
                for k, v in m.items()}


#: Operations replayed untraced and traced to measure tracing overhead; in
#: forecast_m4d they are DataFrame-surface operations (no SQL registration
#: needed after a restart).
REPLAY_OPS = 5


def _unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or ".kernel_ms_per_series." in name:
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("share") or name == "error_rate":
        return "ratio"
    if name == "peak_rss_mb":
        return "MB"
    if name == "cfilters.loaded":
        return "bool"
    return "count"


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM and every process it
    started (Python workers) to end."""
    import tracing as T
    try:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=30)
    except ImportError:
        pass
    deadline = time.time() + 60
    me = os.getpid()
    while time.time() < deadline:
        rest = [p for p in T.process_tree(me) if p != me]
        if not rest:
            return
        time.sleep(0.2)
    for p in T.process_tree(me):
        if p != me:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (not comparable)")
    a = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import workloads as W
    if a.workload not in W.WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; one of {W.WORKLOADS}")
    for need in ("anofox_forecast_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found: run from the repository root")
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), a.tiny)
    try:
        out = bench.run()
    finally:
        _stop_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(os.path.dirname(bench.trace_path()), exist_ok=True)
    with open(bench.trace_path(), "w") as fh:
        json.dump(bench.record, fh, indent=1, default=str)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
