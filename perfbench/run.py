"""Seeded benchmark of the gomrjob_spark engine: one command per workload.

    python3 perfbench/run.py --workload mr_jsonlines --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, starts a ``local[<cores>]`` Spark
session, runs the workload's jobs from one client in a closed loop (the
next job starts when the previous one's output is complete) for
``--seconds``, checks every output, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (see ``perfbench/workloads.py``):

- ``mr_jsonlines``: the paper's example job (JSON field-name count, SUM)
  over gzip JSON-lines, plus a ``k\\tv`` job with a Python combiner and
  reducer. Python workers, gzip reads and part-file writes.
- ``crawl_dedup``: two short crawl queries (plan construction, Catalyst
  and job scheduling dominate) and the near-dup clustering query (JVM
  shuffle joins and the driver-paced connected-components loop) over one
  generated corpus.

Each round runs every job of the workload once, in a seeded order; an
untimed warm-up runs every job twice first and checks the outputs of
the registry queries against the DuckDB oracle. ``--trace 0`` reports the
end-to-end metrics: ``setup_s`` (the time to start a fresh session;
Python worker start-up is measured apart, as ``session.warm_s``) and
``job_cpu_s`` (the mean over the workload's jobs of each job's median
CPU seconds over the rounds, summed over this process, the JVM and the
Python workers). A job's wall time is reported too, with ``--trace 1``:
on a virtual machine whose hypervisor takes CPU time away in bursts
that last minutes, a job's wall time moves with the bursts (the
connected-components loop, which waits on many small Spark jobs, took
about 1.4 times as long while 15-19% of the CPU time was stolen), while
CPU time leaves the stolen time out. ``--trace 1`` alternates untraced
and traced rounds and reports the per-layer metrics of the traced jobs
(means per job);
``job_s`` (the mean over the jobs of each job's median wall time in the
untraced rounds) and ``rows_per_s`` (input records of one round over the
sum of those medians); the peak resident memory (``peak_rss_mb``, VmHWM
of the driver plus the JVM); the first job's time in the fresh session
(``session.first_job_s``); the tracing overhead; and writes every span
to ``.perfbench_out/``.
``python3 perfbench/selftest.py`` checks the benchmark itself at a tiny
size.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload, frame_digest, round_order, warm_batches  # noqa: E402

# Untimed runs of every job before the timed rounds. A job's second run
# still takes up to 1.4 times its third (on 4 cores; later runs take
# about as long as the third): until the JIT has compiled the engine's
# code, each small Spark job waits on the interpreter.
WARMUP_RUNS = 2
# A run measures at least this many rounds, then starts another only
# while one as long as the last still fits in --seconds. Three rounds
# give each job a median that one disturbed round does not move.
MIN_ROUNDS = 3

END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
}
PER_LAYER = {
    "job_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.first_job_s": "s",
    "construct.s": "s",
    "construct.py4j_calls": "count",
    "construct.jobs": "count",
    "catalyst.s": "s",
    "catalyst.exchanges": "count",
    "catalyst.python_nodes": "count",
    "catalyst.bnlj": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.failed_tasks": "count",
    "exec.idle_s": "s",
    "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "protocols.malformed": "count",
    "pipeline.mapper_s": "s",
    "pipeline.combiner_s": "s",
    "pipeline.reducer_s": "s",
    "pipeline.combine_ratio": "ratio",
    "pipeline.groups": "count",
    "dedup.cc_rounds": "count",
    "dedup.pairs": "count",
    "dedup.jobs_per_round": "count",
    "cache.released": "count",
    "sink.write_s": "s",
    "sink.output_bytes": "bytes",
    "sink.files": "count",
    "counters.read_s": "s",
    "trace.overhead_s": "s",
    "fail_frac": "ratio",
}


class _Collected:
    """A collected result in the shape ``oracle.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Run:
    """One process's engine session plus the bookkeeping of checked jobs."""

    def __init__(self, workload: Workload, inputs: dict, work: str):
        self.workload = workload
        self.inputs = inputs
        self.work = work
        self.refs: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- engine lifecycle -------------------------------------------------

    def start(self) -> float:
        """Start a fresh session; returns seconds."""
        from gomrjob_spark.session import get_session

        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp  # for the JVM and Python workers
        tempfile.tempdir = tmp  # this process caches its first temp dir
        os.environ["SPARK_LOCAL_DIRS"] = local
        t0 = time.perf_counter()
        self.spark = get_session(
            app_name=f"perfbench-{self.workload.name}",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        start_s = time.perf_counter() - t0
        # read_text_dir's glob makes Spark log a stack trace per read
        self.spark.sparkContext.setLogLevel("ERROR")
        return start_s

    def warm_workers(self) -> float:
        """Start one Python worker per core; returns seconds."""
        cpus = self.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        self.spark.range(cpus, numPartitions=cpus).mapInPandas(warm_batches, "id long").collect()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return tracing.vm_hwm_mb() + tracing.vm_hwm_mb(jvm_pid)

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # -- jobs ---------------------------------------------------------------

    def jobs(self):
        return self.workload.jobs(self.spark, self.inputs, os.path.join(self.work, "out"), self.refs)

    def verify(self, job, out) -> bool:
        """Check one output; the first output of a registry query is
        checked against the DuckDB oracle and becomes the reference."""
        try:
            if job.oracle and job.name not in self.refs:
                from gomrjob_spark import oracle
                from gomrjob_spark.plans import ORACLES

                want = oracle.run_oracle(ORACLES[job.name], self.inputs["sf_dir"])
                oracle.compare(_Collected(out), want, job.name)
                self.refs[job.name] = frame_digest(out)
            return bool(job.check(out))
        except Exception:
            traceback.print_exc()
            return False

    def run_job(self, job, tracer=None) -> tuple[float, float, dict | None]:
        """Run and check one job, timed from the call until its output is
        complete; returns (seconds, CPU seconds of every process, per-layer
        metrics if traced)."""
        from gomrjob_spark.cache import release_scoped

        if tracer:
            tracer.begin(job.name)
        cpu0 = tracing.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out, error = job.run(tracer or tracing.Untraced()), False
        except Exception:
            traceback.print_exc()
            out, error = None, True
        dt = time.perf_counter() - t0
        cpu = tracing.tree_cpu_s(os.getpid()) - cpu0
        if tracer:
            tracer.end()
        ok = not error and self.verify(job, out)
        self.attempted += 1
        self.failed += not ok
        released = release_scoped()
        if not tracer:
            return dt, cpu, None
        extra = {"cache.released": released}
        if ok and job.layer_counts:
            extra.update(job.layer_counts(out))
        return dt, cpu, tracer.finish(extra)["metrics"]


# -- the measuring process ------------------------------------------------------------


def job_times(rounds: list[dict]) -> dict[str, dict]:
    """Per job: seconds and CPU seconds in each round, input records."""
    out: dict[str, dict] = {}
    for r in rounds:
        for name, dt, cpu, n in zip(r["names"], r["times"], r["cpu"], r["records"]):
            job = out.setdefault(name, {"times": [], "cpu": [], "records": n})
            job["times"].append(dt)
            job["cpu"].append(cpu)
    return out


def job_s(jobs: dict[str, dict], key: str = "times") -> float:
    """Mean over the workload's jobs of each job's median time (or CPU
    time, with ``key="cpu"``)."""
    return statistics.fmean(statistics.median(j[key]) for j in jobs.values())


def rows_per_s(jobs: dict[str, dict]) -> float:
    """Input records of one round over the sum of the jobs' median times."""
    return sum(j["records"] for j in jobs.values()) / sum(statistics.median(j["times"]) for j in jobs.values())


def layer_metrics(records: list[dict], session: dict, overhead_s: float, fail_frac: float) -> dict:
    tot: dict[str, float] = defaultdict(float)
    for r in records:
        for k, v in r.items():
            tot[k] += v
    n = len(records)
    cc_calls = tot["dedup.cc_calls"]
    cc_construct_jobs = sum(r.get("construct.jobs", 0) for r in records if r.get("dedup.cc_calls"))
    per_job = {k: tot[k] / n for k in PER_LAYER}
    derived = {
        **session,
        "exec.s": (tot["execute.s"] + tot["write.s"]) / n,
        "sink.write_s": tot["write.s"] / n,
        "pipeline.combine_ratio": (
            tot["pipeline.combiner_rows_out"] / tot["pipeline.combiner_rows_in"]
            if tot["pipeline.combiner_rows_in"] else 0.0
        ),
        "pipeline.groups": tot["pipeline.reducer_calls"] / n,
        "dedup.cc_rounds": tot["dedup.cc_rounds"] / cc_calls if cc_calls else 0.0,
        "dedup.pairs": tot["dedup.pairs"] / cc_calls if cc_calls else 0.0,
        "dedup.jobs_per_round": cc_construct_jobs / tot["dedup.cc_rounds"] if tot["dedup.cc_rounds"] else 0.0,
        "trace.overhead_s": overhead_s,
        "fail_frac": fail_frac,
    }
    return {**per_job, **derived}


def measure(args, work: str) -> dict:
    workload = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    inputs = workload.generate(os.path.join(work, "in"), args.seed, cpus)

    run = Run(workload, inputs, work)
    try:
        # one session start per run: a second one (6-14 s on 4 cores)
        # would not leave the runs of both workloads inside their budget
        start_s = run.start()
        # Python workers start once, in the session that runs the jobs,
        # outside setup_s (a one-shot submission pays this in its first job)
        warm_s = run.warm_workers() if workload.python_workers else 0.0
        _log(args, "generated and set up")
        jobs = run.jobs()
        first_job_s, _, _ = run.run_job(jobs[0])
        # the rest of the untimed warm-up; its first runs check the
        # registry queries against the oracle
        for job in (jobs * WARMUP_RUNS)[1:]:
            run.run_job(job)
        _log(args, "warm-up round done")

        tracer = tracing.Tracer(run.spark, _counters()) if args.trace else None
        rng = random.Random(args.seed)
        rounds: list[dict] = []
        # traced runs alternate plain and traced rounds, MIN_ROUNDS of each
        min_rounds = 2 * MIN_ROUNDS if tracer else MIN_ROUNDS
        deadline = time.perf_counter() + args.seconds
        round_s = 0.0
        # start another round only if one as long as the last still fits
        while len(rounds) < min_rounds or time.perf_counter() + round_s <= deadline:
            r0 = time.perf_counter()
            traced = bool(tracer) and len(rounds) % 2 == 1
            rnd = {"traced": traced, "names": [], "times": [], "cpu": [], "records": [], "layers": []}
            for job in round_order(jobs, rng):
                dt, cpu, layers = run.run_job(job, tracer if traced else None)
                rnd["names"].append(job.name)
                rnd["times"].append(dt)
                rnd["cpu"].append(cpu)
                rnd["records"].append(job.records)
                if layers is not None:
                    rnd["layers"].append(layers)
            rounds.append(rnd)
            round_s = time.perf_counter() - r0
        peak_rss = run.peak_rss_mb()
        _log(args, f"{len(rounds)} rounds measured")
    finally:
        if run.spark is not None:
            run.stop()

    plain = job_times([r for r in rounds if not r["traced"]])
    if tracer:
        traced_rounds = [r for r in rounds if r["traced"]]
        os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(os.getcwd(), ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(
            [layers for r in traced_rounds for layers in r["layers"]],
            {
                "job_s": job_s(plain),
                "rows_per_s": rows_per_s(plain),
                "peak_rss_mb": peak_rss,
                "session.start_s": start_s,
                "session.warm_s": warm_s,
                "session.first_job_s": first_job_s,
            },
            job_s(job_times(traced_rounds)) - job_s(plain),
            run.failed / run.attempted,
        )
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": start_s,
            "job_cpu_s": job_s(plain, "cpu"),
        }
        units = END_TO_END
    print(
        f"# {args.workload} seed={args.seed}: {len(rounds)} rounds of {len(jobs)} jobs "
        "(medians only: a p90 needs 100 samples); median s per job, then each round's s and CPU s: "
        + ", ".join(
            f"{name}={statistics.median(j['times']):.3f} [{' '.join(f'{x:.3f}' for x in j['times'])}]"
            f" [{' '.join(f'{x:.2f}' for x in j['cpu'])}]"
            for name, j in plain.items()
        )
    )
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _log(args, what: str) -> None:
    print(f"perfbench {args.workload} seed={args.seed}: {what} at {time.perf_counter() - _T0:.1f} s", file=sys.stderr)


def _counters():
    from gomrjob_spark.counters import Counters

    return Counters


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gomrjob_spark")):
        print(f"perfbench: the gomrjob_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    # Python workers import the engine and the workloads' functions
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
