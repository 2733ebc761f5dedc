#!/usr/bin/env python
"""Executed-plan and oracle snapshots of registered queries, for
checking that a refactor leaves plans and oracle SQL unchanged.

``capture`` runs each named query once (collect) in one local session
and stores its row count, final adaptive plan, operator list and
Exchange count. ``oracles`` writes every registered DuckDB oracle as
sorted JSON (``json.dumps(registry.ORACLES, sort_keys=True)``, no
Spark session) and prints that text's sha256. ``diff`` compares two
snapshots of either kind and exits nonzero when they differ: for
oracle dumps it names every oracle whose text differs or that only one
side has; for plan snapshots, every row count or plan that differs
once the numbering that changes from run to run is stripped:
expression ids, plan ids, query-stage and codegen stage numbers
(adaptive execution numbers stages in the order they finish), and the
Python function names of MapInPandas nodes.

Usage:
  python scripts/plan_snapshot.py capture OUT.json QUERY[,QUERY...] SF_DIR [--repo DIR]
  python scripts/plan_snapshot.py oracles OUT.json [--repo DIR]
  python scripts/plan_snapshot.py diff A.json B.json

``--repo DIR`` imports the engine from another checkout (e.g. the
parent commit) so both sides are captured by the same script.
"""

from __future__ import annotations

import difflib
import hashlib
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


def oracles(out_path: str) -> None:
    from gomrjob_spark.plans import ORACLES

    text = json.dumps(ORACLES, sort_keys=True)
    with open(out_path, "w") as f:
        f.write(text)
    digest = hashlib.sha256(text.encode()).hexdigest()
    print(f"{len(ORACLES)} oracles -> {out_path} sha256 {digest}")


def _diff_oracles(a: dict, b: dict, a_path: str, b_path: str) -> int:
    changed = 0
    for name in sorted(set(a) | set(b)):
        if a.get(name) == b.get(name):
            continue
        changed += 1
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            continue
        print(f"{name}: oracle text differs")
        for line in difflib.unified_diff(
            a[name].splitlines(), b[name].splitlines(), lineterm="", n=0
        ):
            print("  " + line)
    print(f"{len(set(a) | set(b)) - changed} of {len(set(a) | set(b))} oracles identical")
    return 1 if changed else 0


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if all(isinstance(v, str) for v in (*a.values(), *b.values())):
        return _diff_oracles(a, b, a_path, b_path)
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
    sys.path.insert(0, os.path.abspath(repo))
    if len(argv) == 4 and argv[0] == "capture":
        capture(argv[1], argv[2].split(","), argv[3])
        return 0
    if len(argv) == 2 and argv[0] == "oracles":
        oracles(argv[1])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
