#!/usr/bin/env python
"""Per-run JIT and compile cost of registry queries in one fresh session.

Usage:
  python scripts/jit_profile.py --sf SF_DIR [--runs N] QUERY [QUERY...]

Starts one engine session (``session.get_session``), then runs the named
registry queries in ``N`` rounds (each round runs every query once, in
the order given) through the noop sink, and prints one JSON line per run:

- ``query``, ``run`` (1-based round number);
- ``wall_s``: the run's wall time;
- ``cpu_s``: CPU seconds of the process tree (this process, the JVM and
  its Python workers) over the run;
- ``executor_cpu_s``: task CPU Spark's status store adds over the run;
- the deltas of every ``Counters.compile_report()`` key over the run:
  Janino compiles and milliseconds, HotSpot's total JIT milliseconds,
  and the C1 and C2 compiler threads' CPU seconds (``c1_cpu_s``,
  ``c2_cpu_s``; absent where ``/proc`` cannot be read).

Rerun it on two checkouts to see where a JIT or codegen change moves
the cost: a query's first run pays for compiling its plan's code, later
runs show what the JIT still spends once that code exists.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from gomrjob_spark.counters import Counters  # noqa: E402
from perfbench.tracing import tree_cpu_s  # noqa: E402


def _reading(counters: Counters) -> dict[str, float]:
    return {**counters.compile_report(), "executor_cpu_s": counters.cpu_report()["executor_cpu_ns"] / 1e9}


def profile(spark, sf_dir: str, names: list[str], runs: int):
    """Yield one record per run of each query in ``names``, ``runs``
    rounds, in ``spark`` (see the module docstring for the fields)."""
    from gomrjob_spark import plans
    from gomrjob_spark.cache import release_scoped

    counters = Counters(spark)
    for run in range(1, runs + 1):
        for name in names:
            before = _reading(counters)
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            finally:
                release_scoped()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0
            after = _reading(counters)
            deltas = {k: round(after[k] - before[k], 3) for k in after if k in before}
            yield {"query": name, "run": run, "wall_s": round(wall, 3), "cpu_s": round(cpu, 2), **deltas}


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", required=True, metavar="DIR", help="catalog directory the queries read")
    p.add_argument("--runs", type=int, default=6, help="rounds (default 6)")
    p.add_argument("queries", nargs="+", metavar="QUERY")
    args = p.parse_args(argv)

    from gomrjob_spark import plans
    from gomrjob_spark.session import get_session

    unknown = [q for q in args.queries if q not in plans.QUERIES]
    if unknown:
        p.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_session(app_name="gomrjob_spark_jit_profile")
    try:
        for record in profile(spark, args.sf, args.queries, args.runs):
            print(json.dumps(record), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
