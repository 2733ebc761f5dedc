#!/usr/bin/env python
"""Executed-plan snapshots of registered queries, for checking that a
refactor leaves plans unchanged.

``capture`` runs each named query once (collect) in one local session
and stores its row count, final adaptive plan, operator list and
Exchange count. ``diff`` compares two snapshots and exits nonzero when
any row count or plan differs once the numbering that changes from run
to run is stripped: expression ids, plan ids, query-stage and codegen
stage numbers (adaptive execution numbers stages in the order they
finish), and the Python function names of MapInPandas nodes.

Usage:
  python scripts/plan_snapshot.py capture OUT.json QUERY[,QUERY...] SF_DIR [--repo DIR]
  python scripts/plan_snapshot.py diff A.json B.json

``--repo DIR`` imports the engine from another checkout (e.g. the
parent commit) so both sides are captured by the same script.
"""

from __future__ import annotations

import difflib
import json
import os
import re
import sys


def _normalize(plan: str) -> str:
    plan = re.sub(r"MapInPandas \w+\(", "MapInPandas <fn>(", plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"(QueryStage) \d+", r"\1 N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    return re.sub(r"id=#?\d+", "id=", plan)


def _operators(plan: str) -> list[str]:
    ops = []
    for line in plan.splitlines():
        m = re.match(r"^[\s:|+\-]*(?:\*\(\d+\) )?([A-Z][A-Za-z]+)", line)
        if m:
            ops.append(m.group(1))
    return ops


def capture(out_path: str, names: list[str], sf_dir: str) -> None:
    from gomrjob_spark import plans
    from gomrjob_spark.cache import release_scoped
    from gomrjob_spark.session import get_session

    spark = get_session(app_name="plan_snapshot")
    snap = {}
    try:
        for name in names:
            df = plans.QUERIES[name](spark, sf_dir)
            rows = len(df.collect())
            plan = df._jdf.queryExecution().executedPlan().toString()
            ops = _operators(plan)
            snap[name] = {
                "rows": rows,
                "exchanges": ops.count("Exchange"),
                "ops": ops,
                "plan": plan,
            }
            release_scoped()
    finally:
        spark.stop()
    with open(out_path, "w") as f:
        json.dump(snap, f, indent=1)
    print(f"captured {len(snap)} plans -> {out_path}")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    changed = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            changed += 1
            continue
        pa, pb = a[name], b[name]
        plan_a, plan_b = _normalize(pa["plan"]), _normalize(pb["plan"])
        if plan_a == plan_b and pa["rows"] == pb["rows"]:
            continue
        changed += 1
        print(f"{name}: rows {pa['rows']} -> {pb['rows']}, "
              f"exchanges {pa['exchanges']} -> {pb['exchanges']}")
        for line in difflib.unified_diff(
            plan_a.splitlines(), plan_b.splitlines(), lineterm="", n=0
        ):
            print("  " + line)
    print(f"{len(set(a) & set(b)) - changed} of {len(set(a) | set(b))} plans identical")
    return 1 if changed else 0


def main(argv: list[str]) -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if "--repo" in argv:
        i = argv.index("--repo")
        repo = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    if len(argv) == 4 and argv[0] == "capture":
        sys.path.insert(0, os.path.abspath(repo))
        capture(argv[1], argv[2].split(","), argv[3])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
