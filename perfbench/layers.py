"""Per-layer metrics, observed from outside the program.

Nothing here edits ``stepist_spark``. The tracer

- wraps the public functions ``session.load_table``, ``session.spread``
  and ``pipeline.Hub.__call__`` to count and time calls into them;
- registers a ``StreamingQueryListener`` for streaming progress;
- reads Spark's own job, stage, task, storage and SQL-execution records
  from the status stores after each traced pass;
- reads CPU time from /proc.

Spark jobs are attributed to a gate call by time window, not by job
group, because jobs submitted from a build's thread pool lose the
caller's job group. Layers are named after the package's modules.
"""

from __future__ import annotations

import json
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

import procfs

MIB = float(1 << 20)

# Per-layer metrics and their units, in report order. ``queries.<gate>.wall_s``
# for each benchmarked gate is appended by ``layer_metric_names``.
LAYER_METRICS: dict[str, str] = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.build_gap_s": "s",
    "plans.final_s": "s",
    "plans.exchanges": "count",
    "plans.scans": "count",
    "plans.python_nodes": "count",
    "operators.collect_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.task_p50_ms": "ms",
    "operators.task_max_ms": "ms",
    "operators.input_mb": "MiB",
    "operators.shuffle_read_mb": "MiB",
    "operators.shuffle_write_mb": "MiB",
    "operators.spill_mb": "MiB",
    "operators.gc_s": "s",
    "functions.py_total_s": "s",
    "functions.py_boot_s": "s",
    "functions.py_init_s": "s",
    "functions.py_rows": "count",
    "functions.py_sent_mb": "MiB",
    "functions.py_recv_mb": "MiB",
    "functions.py_worker_cpu_s": "s",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_commit_s": "s",
    "streaming.idle_s": "s",
    "sources.write_mb": "MiB",
    "sources.write_records": "count",
    "session.load_table_calls": "count",
    "session.load_table_s": "s",
    "session.spread_calls": "count",
    "session.spread_repartitions": "count",
    "pipeline.hub_calls": "count",
    "pipeline.hub_s": "s",
    "pipeline.cached_mb": "MiB",
    "driver.python_cpu_s": "s",
    "driver.jvm_cpu_s": "s",
    "driver.jit_cpu_s": "s",
    "trace.overhead_s": "s",
}


def gate_wall_metric(gate: str) -> str:
    return f"queries.{gate.split('_', 1)[0]}.wall_s"


def layer_metric_names(gates: list[str]) -> dict[str, str]:
    """Every per-layer metric name with its unit, for these gates."""
    return {**LAYER_METRICS, **{gate_wall_metric(g): "s" for g in gates}}


@dataclass
class Call:
    """One gate call. Times are epoch seconds; ``planned`` marks the end
    of final planning and ``done`` the end of ``collect()``."""

    gate: str
    start: float
    built: float
    planned: float
    done: float
    error: str | None = None
    plan: str | None = None

    @property
    def wall(self) -> float:
        return self.done - self.start


# ---------------------------------------------------------------- plans

_TREE_LINE = re.compile(r"^([\s:+|-]*)(?:\*\(\d+\)\s*)?")


def plan_counts(plan: str) -> dict[str, int]:
    """Exchanges, scans and Python-worker nodes in an executed plan's
    text, skipping the "Initial Plan" halves of adaptive plans."""
    counts = {"exchanges": 0, "scans": 0, "python_nodes": 0}
    skip_below = None
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        tree, body = m.group(1), line[m.end():]
        depth = len(tree) - 3 if tree.endswith(("+- ", ":- ")) else len(tree)
        if skip_below is not None:
            if depth > skip_below:
                continue
            skip_below = None
        if body.startswith("== Initial Plan"):
            skip_below = depth
            continue
        name = re.match(r"\w*", body).group(0)
        if name.endswith("Exchange"):
            counts["exchanges"] += 1
        elif "Scan" in name:
            counts["scans"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            counts["python_nodes"] += 1
    return counts


# ----------------------------------------------------------- SQL metrics

_PY_METRICS = {
    "time to run Python workers": "py_total_s",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_SCALE = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MIB, "KiB": 1024 / MIB, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value ("981 ms", "1027.9 KiB", "1,234",
    or "total (min, med, max ...)\\n3.3 s (...)") in s, MiB or count."""
    m = re.match(r"\s*([0-9][0-9.,]*)\s*([A-Za-z]*)", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _span_union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# ------------------------------------------------------ streaming events


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.ended: dict[str, float] = {}
            self.progress: list = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = time.time()

        def onQueryProgress(self, event):
            with self.lock:
                self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.ended[str(event.runId)] = time.time()

    return Listener


# ----------------------------------------------------------------- tracer


def _rebind(pairs: list[tuple[object, object]]) -> None:
    """In every loaded ``stepist_spark`` module, rebind each name bound to
    the first object of a pair to the second (``from x import f`` copies)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("stepist_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            for old, new in pairs:
                if value is old:
                    setattr(mod, attr, new)


class Tracer:
    """Collects the per-layer metrics of one pass at a time."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._counts: dict[str, float] = defaultdict(float)
        self._active = False
        self._listener = _stream_listener_class()()
        self._install()

    # -- wrappers around the program's public functions

    def _add(self, **kw: float) -> None:
        if self._active:
            with self._lock:
                for k, v in kw.items():
                    self._counts[k] += v

    def _install(self) -> None:
        from stepist_spark import pipeline, session

        orig_load, orig_spread, orig_hub = session.load_table, session.spread, pipeline.Hub.__call__
        tracer = self

        def load_table(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig_load(*a, **k)
            finally:
                tracer._add(load_table_calls=1, load_table_s=time.perf_counter() - t0)

        def spread(df, *a, **k):
            out = orig_spread(df, *a, **k)
            tracer._add(spread_calls=1, spread_repartitions=float(out is not df))
            return out

        def hub_call(hub, df):
            depth = getattr(tracer._depth, "n", 0)
            tracer._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return orig_hub(hub, df)
            finally:
                tracer._depth.n = depth
                # nested Hubs count as calls; only the outermost adds time
                tracer._add(hub_calls=1, hub_s=0.0 if depth else time.perf_counter() - t0)

        _rebind([(orig_load, load_table), (orig_spread, spread)])
        self._restore = [(load_table, orig_load), (spread, orig_spread)]
        self._orig_hub = orig_hub
        pipeline.Hub.__call__ = hub_call

    def close(self) -> None:
        """Restore every wrapped function, also in modules imported since."""
        from stepist_spark import pipeline

        _rebind(self._restore)
        pipeline.Hub.__call__ = self._orig_hub

    # -- status-store readers

    def _read(self, jobj) -> list | dict:
        return json.loads(self._json.writeValueAsString(jobj))

    def _jobs(self) -> list[dict]:
        return self._read(self._store.jobsList(None))

    def _executions(self) -> list[dict]:
        return self._read(self._sql.executionsList())

    # -- one pass

    def begin_pass(self) -> None:
        self._counts.clear()
        self._last_job = max((j["jobId"] for j in self._jobs()), default=-1)
        self._last_exec = max((e["executionId"] for e in self._executions()), default=-1)
        with self._listener.lock:
            self._listener.started.clear()
            self._listener.ended.clear()
            self._listener.progress.clear()
        self.spark.streams.addListener(self._listener)
        self._cpu0 = procfs.cpu_seconds()
        self._active = True

    def end_pass(self, calls: list[Call]) -> dict[str, float]:
        self._active = False
        cpu = procfs.cpu_seconds()
        deadline = time.time() + 10
        while time.time() < deadline:
            with self._listener.lock:
                if set(self._listener.started) <= set(self._listener.ended):
                    break
            time.sleep(0.05)
        self.spark.streams.removeListener(self._listener)
        out: dict[str, float] = {}
        out.update(self._phases(calls))
        out.update(self._functions())
        out.update(self._streaming())
        out.update(self._session_pipeline())
        out["functions.py_worker_cpu_s"] = cpu["workers"] - self._cpu0["workers"]
        out["driver.python_cpu_s"] = cpu["python"] - self._cpu0["python"]
        out["driver.jvm_cpu_s"] = cpu["jvm"] - self._cpu0["jvm"]
        out["driver.jit_cpu_s"] = cpu["jit"] - self._cpu0["jit"]
        return out

    def _phases(self, calls: list[Call]) -> dict[str, float]:
        jobs = [j for j in self._jobs() if j["jobId"] > self._last_job]
        build_jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for j in jobs:
            t = j["submissionTime"] / 1000.0
            for i, c in enumerate(calls):
                if c.start <= t < c.planned:
                    end = (j.get("completionTime") or j["submissionTime"]) / 1000.0
                    build_jobs[i].append((t, end))
                    break
        build_s = sum(c.built - c.start for c in calls)
        build_job_s = sum((_span_union(s) for s in build_jobs.values()), 0.0)
        out = {
            "queries.build_s": build_s,
            "queries.build_jobs": float(sum(len(s) for s in build_jobs.values())),
            "queries.build_job_s": build_job_s,
            "queries.build_gap_s": build_s - build_job_s,
            "plans.final_s": sum(c.planned - c.built for c in calls),
            "operators.collect_s": sum(c.done - c.planned for c in calls),
            "operators.jobs": float(len(jobs)),
        }
        for c in calls:
            out[gate_wall_metric(c.gate)] = out.get(gate_wall_metric(c.gate), 0.0) + c.wall
        for key in ("exchanges", "scans", "python_nodes"):
            out[f"plans.{key}"] = float(
                sum(plan_counts(c.plan)[key] for c in calls if c.plan)
            )
        out.update(self._stages({s for j in jobs for s in j["stageIds"]}))
        return out

    def _stages(self, stage_ids: set[int]) -> dict[str, float]:
        stages = [
            s
            for s in self._read(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        durations: list[float] = []
        for s in stages:
            tasks = self._read(self._store.taskList(s["stageId"], s["attemptId"], 1 << 30))
            durations += [t["duration"] for t in tasks if t.get("duration") is not None]

        def total(key: str) -> float:
            return float(sum(s[key] for s in stages))

        return {
            "operators.stages": float(len(stages)),
            "operators.tasks": total("numCompleteTasks") + total("numFailedTasks"),
            "operators.failed_tasks": total("numFailedTasks"),
            "operators.task_p50_ms": float(statistics.median(durations)) if durations else 0.0,
            "operators.task_max_ms": float(max(durations, default=0)),
            "operators.input_mb": total("inputBytes") / MIB,
            "operators.shuffle_read_mb": total("shuffleReadBytes") / MIB,
            "operators.shuffle_write_mb": total("shuffleWriteBytes") / MIB,
            "operators.spill_mb": total("diskBytesSpilled") / MIB,
            "operators.gc_s": total("jvmGcTime") / 1000.0,
            "sources.write_mb": total("outputBytes") / MIB,
            "sources.write_records": total("outputRecords"),
        }

    def _functions(self) -> dict[str, float]:
        """Python-worker SQL metrics of every SQL execution the pass ran,
        build-time checkpoints included."""
        out = {f"functions.{k}": 0.0 for k in (*_PY_METRICS.values(), "py_rows")}
        for e in self._executions():
            eid = e["executionId"]
            if eid <= self._last_exec:
                continue
            nodes = self._read(self._sql.planGraph(eid).allNodes())
            py_nodes = [
                n for n in nodes if any(m["name"] in _PY_METRICS for m in n["metrics"])
            ]
            if not py_nodes:
                continue
            values = e.get("metricValues") or self._read(self._sql.executionMetrics(eid))
            values = {str(k): v for k, v in values.items()}
            for n in py_nodes:
                for m in n["metrics"]:
                    text = values.get(str(m["accumulatorId"]))
                    if text is None:
                        continue
                    if m["name"] in _PY_METRICS:
                        out[f"functions.{_PY_METRICS[m['name']]}"] += parse_sql_metric(text)
                    elif m["name"] == "number of output rows":
                        out["functions.py_rows"] += parse_sql_metric(text)
        return out

    def _streaming(self) -> dict[str, float]:
        with self._listener.lock:
            progress = list(self._listener.progress)
            started = dict(self._listener.started)
            ended = dict(self._listener.ended)
        out = {k: 0.0 for k in LAYER_METRICS if k.startswith("streaming.")}
        out["streaming.queries"] = float(len(started))
        for p in progress:
            d = p.durationMs or {}
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += p.numInputRows
            out["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            for op in p.stateOperators or []:
                out["streaming.state_rows"] += op.numRowsUpdated
                out["streaming.state_commit_s"] += op.commitTimeMs / 1000.0
        lifetime = sum(ended[r] - t for r, t in started.items() if r in ended)
        out["streaming.idle_s"] = max(0.0, lifetime - out["streaming.trigger_s"])
        return out

    def _session_pipeline(self) -> dict[str, float]:
        c = self._counts
        cached = self._read(self._store.rddList(True))
        return {
            "session.load_table_calls": c["load_table_calls"],
            "session.load_table_s": c["load_table_s"],
            "session.spread_calls": c["spread_calls"],
            "session.spread_repartitions": c["spread_repartitions"],
            "pipeline.hub_calls": c["hub_calls"],
            "pipeline.hub_s": c["hub_s"],
            "pipeline.cached_mb": sum(r["memoryUsed"] + r["diskUsed"] for r in cached) / MIB,
        }
