"""Layer-split tracing, measured from outside the engine.

Every number here comes from timing public engine calls or from Spark's
own state: the py4j gateway client (plan-construction round trips), the
query's ``executedPlan`` (Catalyst), the status store (Spark jobs,
stages, tasks, shuffle and spill), and accumulators from
``counters.Counters`` (time inside the workload's Python functions).

:class:`Untraced` and :class:`Tracer` share one interface, so a job's
code is identical in timed and traced runs; :class:`Untraced` only calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from collections import Counter, defaultdict

# py4j's garbage-collect deletes (``m``+``d`` commands) go through the same
# send_command, at times set by the Python GC; they are not plan work.
_GC_DELETE = "m\nd\n"

_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


class Py4jCounter:
    """Counts py4j commands sent by the gateway client while active,
    skipping the GC deletes, so repeated builds of one plan repeat the
    count exactly."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self) -> "Py4jCounter":
        send = self._client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith(_GC_DELETE):
                self.calls += 1
            return send(command, *args, **kwargs)

        self._client.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command  # back to the class method


def plan_counts(plan_string: str) -> dict[str, int]:
    """Node counts of a physical plan tree string."""
    names = Counter(m.group(1) for line in plan_string.splitlines() if (m := _NODE.match(line)))
    return {
        "catalyst.exchanges": sum(n for k, n in names.items() if k.endswith("Exchange")),
        "catalyst.python_nodes": sum(names[k] for k in _PYTHON_NODES),
        "catalyst.bnlj": names["BroadcastNestedLoopJoin"],
    }


class StatusReader:
    """Job intervals and stage metrics of one job group, read from
    Spark's status store (one JSON round trip per job and per stage)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        ids = self._sc.statusTracker().getJobIdsForGroup(group)
        return [json.loads(self._json.writeValueAsString(self._store.job(j))) for j in ids]

    def stage(self, stage_id: int) -> dict:
        return json.loads(self._json.writeValueAsString(self._store.lastStageAttempt(stage_id)))


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user plus system) used so far by process ``root`` and
    its descendants: the benchmark's process, the JVM it launched and the
    JVM's Python workers. Time the kernel accounts as stolen by the
    hypervisor is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        # utime, stime, and cutime, cstime of the children it has reaped
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Untraced:
    """The timed-run form: phases just run, user functions run bare."""

    def phase(self, name: str, fn):
        return fn()

    def catalyst(self, df) -> None:
        pass

    def user_fn(self, kind: str, fn):
        return fn

    @contextlib.contextmanager
    def observe(self, module, attr: str, on_call):
        yield


class Tracer(Untraced):
    """The traced-run form: one span per phase boundary (job, construct,
    catalyst, execute, write) with Spark jobs as child spans, per-layer
    counts per job, all kept in memory until :meth:`dump`."""

    def __init__(self, spark, counters_cls):
        self._spark = spark
        self._counters_cls = counters_cls
        self._status = StatusReader(spark)
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._job: dict | None = None
        self._n = 0

    # -- job lifecycle ---------------------------------------------------

    def begin(self, name: str) -> None:
        self._n += 1
        self._job = {
            "id": f"job{self._n}",
            "name": name,
            "phases": [],
            "metrics": defaultdict(float),
            "counters": self._counters_cls(self._spark),
            "t0": time.time(),
        }

    def end(self) -> None:
        job = self._job
        job["t1"] = time.time()
        self.spans.append(self._span(job["id"], "job", None, job["t0"], job["t1"], job_name=job["name"]))

    def finish(self, extra: dict | None = None) -> dict:
        """Read the status store and accumulators for the job just ended
        (outside its span) and return its per-layer metrics."""
        job, m = self._job, self._job["metrics"]
        t = time.perf_counter()
        self._status.drain()
        intervals = []
        stage_ids: set[int] = set()
        for phase, p0, p1 in job["phases"]:
            for sj in self._status.jobs(f"{job['id']}.{phase}"):
                a = sj["submissionTime"] / 1000.0
                b = (sj.get("completionTime") or sj["submissionTime"]) / 1000.0
                intervals.append((a, b))
                stage_ids.update(sj["stageIds"])
                m["construct.jobs" if phase == "construct" else "exec.jobs"] += 1
                self.spans.append(
                    self._span(job["id"], f"spark.job.{sj['jobId']}", phase, a, b, status=sj["status"])
                )
        for sid in sorted(stage_ids):
            sd = self._status.stage(sid)
            if sd["status"] == "SKIPPED":
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += sd["numTasks"]
            m["exec.failed_tasks"] += sd["numFailedTasks"]
            m["exec.cpu_s"] += sd["executorCpuTime"] / 1e9
            m["exec.spill_bytes"] += sd["diskBytesSpilled"]
            m["shuffle.write_bytes"] += sd["shuffleWriteBytes"]
            m["shuffle.read_bytes"] += sd["shuffleReadBytes"]
            m["sources.input_bytes"] += sd["inputBytes"]
            m["sources.input_records"] += sd["inputRecords"]
        m["exec.idle_s"] = (job["t1"] - job["t0"]) - covered_s(intervals, job["t0"], job["t1"])
        for key, value in job["counters"].report().items():
            group, name = key.split(".", 1)
            if name.endswith("_ns"):
                m[f"{group}.{name[:-3]}_s"] += value / 1e9
            else:
                m[key] += value
        for key, value in (extra or {}).items():
            m[key] += value
        m["counters.read_s"] = time.perf_counter() - t
        m["job_s"] = job["t1"] - job["t0"]
        out = {"id": job["id"], "name": job["name"], "metrics": dict(m)}
        self.jobs.append(out)
        self._job = None
        return out

    # -- phases ----------------------------------------------------------

    def phase(self, name: str, fn):
        job = self._job
        sc = self._spark.sparkContext
        sc.setJobGroup(f"{job['id']}.{name}", f"{job['name']} {name}")
        counter = Py4jCounter(self._spark) if name == "construct" else contextlib.nullcontext()
        t0 = time.time()
        try:
            with counter:
                return fn()
        finally:
            t1 = time.time()
            sc._jsc.clearJobGroup()
            job["phases"].append((name, t0, t1))
            self.spans.append(self._span(job["id"], name, "job", t0, t1))
            job["metrics"][f"{name}.s"] += t1 - t0
            if name == "construct":
                job["metrics"]["construct.py4j_calls"] += counter.calls

    def catalyst(self, df) -> None:
        def plan():
            return df._jdf.queryExecution().executedPlan().toString()

        plan_string = self.phase("catalyst", plan)
        for key, value in plan_counts(plan_string).items():
            self._job["metrics"][key] += value

    def user_fn(self, kind: str, fn):
        """Wrap a workload's own Python function so its time, calls and
        rows in and out sum into accumulators (read after the job)."""
        c = self._job["counters"]
        ns = c.counter("pipeline", f"{kind}_ns")
        calls = c.counter("pipeline", f"{kind}_calls")
        rows_in = c.counter("pipeline", f"{kind}_rows_in")
        rows_out = c.counter("pipeline", f"{kind}_rows_out")

        def timed(*args):
            t = time.perf_counter_ns()
            out = fn(*args)
            ns.add(time.perf_counter_ns() - t)
            calls.add(1)
            rows_in.add(len(args[-1]))
            rows_out.add(0 if out is None else len(out))
            return out

        return timed

    @contextlib.contextmanager
    def observe(self, module, attr: str, on_call):
        """Route calls of ``module.attr`` through ``on_call(fn, *args,
        **kwargs)`` for the duration of the block."""
        fn = getattr(module, attr)
        setattr(module, attr, lambda *a, **kw: on_call(fn, *a, **kw))
        try:
            yield
        finally:
            setattr(module, attr, fn)

    # -- output ----------------------------------------------------------

    @staticmethod
    def _span(job_id, name, parent, start, end, **attrs) -> dict:
        return {"job": job_id, "name": name, "parent": parent, "start": start, "end": end, **attrs}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "jobs": self.jobs}, fh, indent=1, sort_keys=True)
