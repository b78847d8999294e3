"""Compute the reference fingerprint of every registered gate.

Runs each gate's DuckDB oracle over the benchmark's tables and writes
``perfbench/references.json``. Run from the repository root:

    python3 perfbench/make_refs.py

DuckDB uses every CPU. Every gate's oracle finishes at sf0.01 (c03, the
slowest, in ~30 s on 4 threads). An oracle that runs past
``ORACLE_TIMEOUT_S`` is an error: nothing is written.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from fingerprint import fingerprint  # noqa: E402
from workloads import DATA_DIR, TABLES, ensure_importable  # noqa: E402

ORACLE_TIMEOUT_S = 600.0


def _oracle(sql: str) -> tuple[list[str], list] | None:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def main() -> int:
    ensure_importable()
    from stepist_spark.queries import all_queries

    refs: dict[str, dict] = {}
    for name, spec in all_queries().items():
        t0 = time.perf_counter()
        got = _oracle(spec.oracle) if spec.oracle else None
        if got is None:
            print(f"{name}: no oracle result within {ORACLE_TIMEOUT_S:.0f}s", file=sys.stderr)
            return 1
        refs[name] = {**fingerprint(*got), "source": "duckdb"}
        print(f"{name}: {refs[name]['rows']} rows, {time.perf_counter() - t0:.1f}s", flush=True)
    with open(os.path.join(HERE, "references.json"), "w") as fh:
        json.dump(dict(sorted(refs.items())), fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
