"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Run it from the repository root; exits 0 when every check passes. It
checks that the generator is deterministic, that every metric named in
BENCHMARK.json is emitted with its unit, that every output verifies,
that the traced run attributes cost as the workloads intend, that a
corrupted output is counted as failed, and that the benchmark refuses to
run where the engine is missing.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

SEED = 5


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(base, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _bench(argv: list[str]) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(argv) == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", str(SEED), "--seconds", "0", "--trace", str(trace)]


def check_generator(scratch: str) -> None:
    for name, w in workloads.WORKLOADS.items():
        digests = []
        for i, seed in enumerate((SEED, SEED, SEED + 1)):
            d = os.path.join(scratch, f"{name}-{i}")
            w.generate(d, seed, 2)
            digests.append(_tree_digest(d))
        assert digests[0] == digests[1], f"{name}: one seed gave different bytes"
        assert digests[0] != digests[2], f"{name}: two seeds gave the same bytes"


def check_metrics(spec: dict) -> None:
    e2e = _bench(_args("mr_jsonlines", 0))
    assert e2e["correct"] and e2e["failed"] == 0, e2e
    assert {k: v["unit"] for k, v in e2e["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = {}
    for name in workloads.WORKLOADS:
        res = _bench(_args(name, 1))
        assert res["correct"] and res["failed"] == 0, (name, res)
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want, name
        layers[name] = {k: v["value"] for k, v in res["metrics"].items()}
    for name, m in layers.items():
        pipeline = [m[k] for k in ("pipeline.mapper_s", "pipeline.reducer_s", "pipeline.combiner_s")]
        assert (min(pipeline) > 0) == (max(pipeline) > 0) == (name == "mr_jsonlines"), (name, pipeline)
    assert layers["crawl_dedup"]["dedup.cc_rounds"] >= 1
    assert layers["mr_jsonlines"]["protocols.malformed"] > 0
    assert layers["mr_jsonlines"]["sink.files"] > 0
    with open(os.path.join(os.getcwd(), ".perfbench_out", f"trace-crawl_dedup-{SEED}.json")) as fh:
        trace = json.load(fh)
    calls: dict[str, list] = {}
    for job in trace["jobs"]:
        calls.setdefault(job["name"], []).append(job["metrics"])
    # the connected-components loop runs Spark jobs inside the construct call
    assert all(m["construct.jobs"] > 0 for m in calls["dedup_cluster_survivors"]), calls
    # construct.py4j_calls repeats exactly for every build of one query
    py4j = {name: {m["construct.py4j_calls"] for m in ms} for name, ms in calls.items()}
    assert set(py4j) == {*workloads.WEB_QUERIES, "dedup_cluster_survivors"}, py4j
    assert all(len(ms) >= 2 for ms in calls.values()) and all(len(v) == 1 for v in py4j.values()), py4j
    assert {s["name"] for s in trace["spans"]} >= {"job", "construct", "catalyst", "execute"}


def check_corruption() -> None:
    """Drop one part file from one job's output: that job must fail."""
    w = workloads.WORKLOADS["mr_jsonlines"]
    make_jobs = w.jobs
    state = {"left": 1}

    def jobs(*args):
        out = make_jobs(*args)
        job_run = out[0].run

        def corrupted(t):
            path = job_run(t)
            if state["left"]:
                state["left"] -= 1
                os.remove(workloads.part_files(path)[0])
            return path

        out[0].run = corrupted
        return out

    w.jobs = jobs
    try:
        res = _bench(_args("mr_jsonlines", 1))
    finally:
        w.jobs = make_jobs
    assert not res["correct"] and res["failed"] == 1, res
    assert res["metrics"]["fail_frac"]["value"] == 1 / res["attempted"], res


def check_refuses_without_engine(scratch: str) -> None:
    bare = os.path.join(scratch, "bare")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *_args("mr_jsonlines", 0)],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and '"correct"' not in proc.stdout, proc


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads.MR_JSON_LINES = workloads.MR_KV_LINES = 4_000
    workloads.CORPUS_DOCS = 200
    os.makedirs(os.path.join(os.getcwd(), ".perfbench_work"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(os.getcwd(), ".perfbench_work"))
    try:
        check_generator(scratch)
        check_refuses_without_engine(scratch)
        check_metrics(spec)
        check_corruption()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
