"""Closed-loop benchmark of the registered gates.

    python3 perfbench/run.py --workload relational_io --seed 1 --seconds 16 --trace 0

One client makes one gate call at a time on ``local[nproc]``. A call
runs the gate's builder, then final planning, then ``collect()``; after
its timer stops, the rows are checked against the gate's stored
reference fingerprint. Set-up is session start and the workload's
untimed warm passes. Then come the timed passes: as many as fit in
``--seconds`` at the workload's nominal pass time, at least one. The
seed permutes the call order of every pass.

The timed phase is a count of passes, not a time box, because passes
keep getting faster for ~40 s after the first while the JIT compiles hot
code, longer than a run can wait. In a time box a fast run makes more
passes, further down that curve, than a slow one; with a fixed count
every run, and both sides of a comparison, measure the same stretch.

Times are reported in host-normalized seconds. After every pass the run
times a fixed JVM task that uses neither Spark nor the program (a
parallel sort of seeded ints), and every wall and CPU time is scaled by
``PROBE_REF_S`` over the median of those probe times: the time the run
would have taken on a host where the probe takes ``PROBE_REF_S``. Raw
times are kept in the detail line.

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` the timed passes, rounded up to a multiple of four, run in
untraced/traced/traced/untraced blocks, and the result carries the
per-layer metrics of the traced passes plus the tracing overhead. The last line of stdout is the
result; the line before it holds every sample and the run's context.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from fingerprint import fingerprint  # noqa: E402
from layers import Call, Tracer, layer_metric_names  # noqa: E402
from workloads import (  # noqa: E402
    DATA_DIR, ROOT, WORKLOADS, ensure_importable, gate_names, timed_passes, warm_passes,
)

END_TO_END = {
    "pass_s": "s",
    "gate_geomean_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
}
CALL_TIMEOUT_S = 30.0
# The host probe: a parallel sort of PROBE_INTS seeded ints in the JVM.
# Shared hosts lend their CPUs to other guests: the same code has run
# 1.3x slower a few minutes later, JVM start and every pass alike. The
# slowdowns seen on a 4-vCPU VM were mostly not steal time: each vCPU ran
# slower, so CPU time per unit of work rose with wall time. Over five
# relational_io seeds that straddled one, raw pass_s spread 0.19 and raw
# cpu_s 0.20; scaled by the probe, 0.07 and 0.09. Scaling by the probe's
# own CPU time tracked the workload less well. Under steal, which slows
# the probe but is not in cpu_s, the scale understates cpu_s. On a steady
# host the probe's own noise shows instead, and scaled spreads can be a
# few points wider than raw ones.
PROBE_INTS = 4_000_000
PROBE_REPEATS = 3
PROBE_REF_S = 0.15


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_references() -> dict[str, dict]:
    with open(os.path.join(HERE, "references.json")) as fh:
        return json.load(fh)


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, or
    None when there are too few samples for any above the median."""
    n = len(samples)
    if n < 20:
        return None
    q = 1.0 - 10.0 / n
    return {"q": q, "value": statistics.quantiles(samples, n=1000)[int(q * 1000) - 1]}


class HostProbe:
    """Copies PROBE_INTS seeded ints into a buffer and parallel-sorts
    them on all cores in the JVM, PROBE_REPEATS times; a call returns
    the median seconds of one copy and sort. The buffers are allocated
    once, so the probe makes no garbage for the collector."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.system, self.arrays = jvm.java.lang.System, jvm.java.util.Arrays
        self.src = jvm.java.util.Random(7).ints(PROBE_INTS).toArray()
        self.buf = self.arrays.copyOf(self.src, PROBE_INTS)
        self()  # compiles the probe's code

    def __call__(self) -> float:
        walls = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            self.system.arraycopy(self.src, 0, self.buf, 0, PROBE_INTS)
            self.arrays.parallelSort(self.buf)
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)


class Watchdog:
    """Cancels the running Spark jobs and streams if a call overruns."""

    def __init__(self, spark, timeout: float):
        self.spark, self.timeout, self.fired = spark, timeout, False

    def _fire(self) -> None:
        self.fired = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self) -> "Watchdog":
        self.timer = threading.Timer(self.timeout, self._fire)
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self.timer.cancel()


def call_gate(spark, gate: str, fn, ref: dict | None, keep_plan: bool) -> Call:
    """One timed call: build, final planning, collect; then the check."""
    start = time.time()
    built = planned = None
    try:
        with Watchdog(spark, CALL_TIMEOUT_S) as dog:
            df = fn(spark, DATA_DIR)
            built = time.time()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            planned = time.time()
            rows = df.collect()
        done = time.time()
    except Exception as exc:  # a failing gate is counted, the run goes on
        done = time.time()
        traceback.print_exc(file=sys.stderr)
        return Call(gate, start, built or done, planned or done, done,
                    error=f"{type(exc).__name__}: {exc}"[:300])
    call = Call(gate, start, built, planned, done)
    got = fingerprint(df.columns, rows)
    if dog.fired:
        call.error = f"timed out after {CALL_TIMEOUT_S:.0f}s"
    elif ref is None:
        call.error = "no reference fingerprint"
    elif got["rows"] != ref["rows"]:
        call.error = f"{got['rows']} rows, reference has {ref['rows']}"
    elif got["sha256"] != ref["sha256"]:
        call.error = "rows differ from the reference"
    if keep_plan:
        call.plan = qe.executedPlan().toString()
    return call


@dataclass
class Pass:
    calls: list[Call]
    wall: float
    cpu_s: float
    jit_s: float
    layers: dict[str, float] | None = None

    @property
    def pass_s(self) -> float:
        return sum(c.wall for c in self.calls)


class Bench:
    """Runs passes over a fixed set of gates in seeded random order."""

    def __init__(self, spark, gates: dict, refs: dict[str, dict], seed: int):
        self.spark, self.gates, self.refs = spark, gates, refs
        self.rng = random.Random(seed)

    def run_pass(self, tracer: Tracer | None = None) -> Pass:
        order = list(self.gates)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        if tracer:
            tracer.begin_pass()
        cpu0 = procfs.cpu_seconds()
        calls = [
            call_gate(self.spark, g, self.gates[g], self.refs.get(g), tracer is not None)
            for g in order
        ]
        cpu1 = procfs.cpu_seconds()
        layers = tracer.end_pass(calls) if tracer else None
        return Pass(calls, time.perf_counter() - t0, cpu1["total"] - cpu0["total"],
                    cpu1["jit"] - cpu0["jit"], layers)


def measure(spark, gates: dict, refs: dict[str, dict], *, seed: int, timed: int,
            trace: bool, warm: int = 2, setup_s: float = 0.0) -> tuple[dict, dict]:
    """``warm`` warm passes, then ``timed`` timed passes, with a host
    probe after each pass. ``setup_s`` is the set-up time spent before
    the call; the warm passes are added to it. Returns the result object
    and the detail record of every sample."""
    bench = Bench(spark, gates, refs, seed)
    host_probe = HostProbe(spark)
    probes = []
    warmups = []
    for _ in range(warm):
        warmups.append(bench.run_pass())
        probes.append(host_probe())
    setup_s += sum(p.wall for p in warmups)

    tracer = Tracer(spark) if trace else None
    # A traced run takes its passes in untraced, traced, traced, untraced
    # blocks, so passes that get faster during the JIT warm-up do not bias
    # trace.overhead_s.
    modes = [False, True, True, False] * math.ceil(timed / 4) if trace else [False] * timed
    passes: list[Pass] = []
    try:
        for with_trace in modes:
            passes.append(bench.run_pass(tracer if with_trace else None))
            probes.append(host_probe())
    finally:
        if tracer:
            tracer.close()
    peak_rss = procfs.peak_rss_mb()

    plain = [p for p in passes if p.layers is None]
    traced = [p for p in passes if p.layers is not None]
    calls = [c for p in (*warmups, *passes) for c in p.calls]
    failures = [{"gate": c.gate, "error": c.error} for c in calls if c.error]
    per_gate = {g: [c.wall for p in plain for c in p.calls if c.gate == g] for g in gates}
    pass_samples = [p.pass_s for p in plain]
    scale = PROBE_REF_S / statistics.median(probes)

    if trace:
        names = layer_metric_names(sorted(
            {g for w in WORKLOADS.values() for g in w["gates"]} | set(gates)
        ))
        per_pass = {n: [p.layers.get(n, 0.0) for p in traced] for n in names if n != "trace.overhead_s"}
        values = {n: statistics.median(v) for n, v in per_pass.items()}
        values["trace.overhead_s"] = (
            statistics.median(p.pass_s for p in traced) - statistics.median(pass_samples)
        )
        metrics = {n: {"value": values[n], "unit": u} for n, u in names.items()}
    else:
        per_pass = None
        values = {
            "pass_s": statistics.median(pass_samples) * scale,
            "gate_geomean_s": math.exp(statistics.fmean(
                math.log(max(statistics.median(w), 1e-9)) for w in per_gate.values()
            )) * scale,
            "cpu_s": statistics.median(p.cpu_s - p.jit_s for p in plain) * scale,
            "setup_s": setup_s * scale,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    result = {
        "correct": not failures,
        "attempted": len(calls),
        "failed": len(failures),
        "metrics": metrics,
    }
    detail = {
        "host_probe_s": probes,
        "scale": scale,
        "setup_s": setup_s,
        "warm_pass_s": [p.pass_s for p in warmups],
        "passes": [
            {"traced": p.layers is not None, "pass_s": p.pass_s, "cpu_s": p.cpu_s,
             "jit_s": p.jit_s,
             "order": [c.gate for c in p.calls]}
            for p in passes
        ],
        "pass_s": {
            "median": statistics.median(pass_samples),
            "n": len(pass_samples),
            "tail": tail_percentile(pass_samples),
        },
        "calls": per_gate,
        "n_calls": sum(len(v) for v in per_gate.values()),
        "error_rate": len(failures) / len(calls),
        "failures": failures,
        "layers_per_pass": per_pass,
        "peak_rss_mb": peak_rss,
    }
    return result, detail


def start_spark(work: str):
    """``get_spark(cpus=nproc)`` with every local write under ``work``.
    ``-XX:-UsePerfData`` stops the JVMs writing hsperfdata files to the
    system temp dir. Keeping the JIT compiler threads alive for the JVM's
    life lets /proc account their CPU time, which ``cpu_s`` leaves out."""
    for key, sub in (("SPARK_LOCAL_DIRS", "local"), ("SPARK_GRAFT_SCRATCH", "scratch"),
                     ("TMPDIR", "tmp")):
        os.environ[key] = os.path.join(work, sub)
        os.makedirs(os.environ[key], exist_ok=True)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from stepist_spark.session import get_spark

    return get_spark("perfbench", cpus=nproc(), extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and procfs.children(os.getpid()):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the registered gates.")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        ensure_importable()
    except FileNotFoundError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()[0]
    steal_before = procfs.host_steal_s()
    refs = load_references()
    from stepist_spark.queries import all_queries

    registry = all_queries()
    gates = {g: registry[g].spark for g in gate_names(args.workload)}
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        result, detail = measure(spark, gates, refs, seed=args.seed,
                                 timed=timed_passes(args.workload, args.seconds),
                                 warm=warm_passes(args.workload),
                                 trace=bool(args.trace), setup_s=session_s)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "context": {
                "nproc": nproc(),
                "loadavg_1min": [load_before, os.getloadavg()[0]],
                "host_steal_s": procfs.host_steal_s() - steal_before,
                "spark": spark.version,
                "data": os.path.relpath(DATA_DIR, ROOT),
            },
            "session_s": session_s,
            **detail,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
