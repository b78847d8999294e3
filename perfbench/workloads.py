"""The benchmark's workloads: which registered gates each one calls.

Each workload is a fixed list of gates from ``stepist_spark.queries``.
One pass calls every gate of the workload once, in an order the run's
seed permutes. The inputs are a byte-identical copy, under
``perfbench/data``, of the read-only sf0.01 test tables that TESTDATA.md
describes; the seed cannot vary them.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# ``warm_passes`` are the untimed passes in set-up. The first pays for
# class loading, code generation, the first Python worker and the
# streaming engine, and runs 2-4x slower than later ones. Passes keep
# getting faster for ~40 s more while the JIT compiles hot code, mostly
# in CPU spent by the compiler threads, which ``cpu_s`` leaves out; on
# llm_curation the pass after two warm passes was still 10-25% slower
# than the ones after it, so it takes a third.
# ``pass_s`` is a workload's nominal pass time: the raw wall time of a
# pass after its warm passes, on a quiet 4-vCPU host. It sizes the timed
# phase (``timed_passes``) and nothing else.
WORKLOADS: dict[str, dict] = {
    "relational_io": {
        "gates": [
            "q01_pricing_summary",
            "q04_semi_anti_join",
            "q08_window_suite",
            "p01_hub_branch_union",
            "s04_rate_windows",
            "w02_envelope_roundtrip",
        ],
        "warm_passes": 2,
        "pass_s": 5.0,
        "why": "aggregates, semi/anti joins, windows and a Step/Hub fan-out, plus the "
        "streaming runtime and file sinks read back: the only workload that writes; of "
        "its gates only s04 runs Python workers",
    },
    "llm_curation": {
        "gates": [
            "c01_curation_pipeline",
            "m01_media_features",
            "v06_label_centroids",
            "t01_exact_dup_groups",
        ],
        "warm_passes": 3,
        "pass_s": 3.3,
        "why": "Arrow pandas_udf and mapInPandas traffic (c01, m01), plus text hashing, "
        "vector higher-order functions and spread() over the document tables",
    },
}


def ensure_importable() -> None:
    """Make the checkout's ``stepist_spark`` importable here and in the
    Python workers Spark starts; raise if the checkout has none."""
    if not os.path.isdir(os.path.join(ROOT, "stepist_spark")):
        raise FileNotFoundError(f"no stepist_spark package in {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def gate_names(workload: str) -> list[str]:
    """The gates of ``workload``; ``all`` is every registered gate (a
    full correctness sweep, not one of the benchmark's workloads)."""
    if workload == "all":
        from stepist_spark.queries import all_queries

        return list(all_queries())
    return list(WORKLOADS[workload]["gates"])


def timed_passes(workload: str, seconds: float) -> int:
    """How many timed passes fit in ``seconds`` at the workload's nominal
    pass time; at least one. ``all`` makes one."""
    if workload == "all":
        return 1
    return max(1, int(seconds // WORKLOADS[workload]["pass_s"]))


def warm_passes(workload: str) -> int:
    """Untimed passes in set-up; ``all`` makes one."""
    if workload == "all":
        return 1
    return WORKLOADS[workload]["warm_passes"]
