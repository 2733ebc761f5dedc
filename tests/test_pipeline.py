"""Pipeline/Step API tests, incl. the reference example job's golden output.

Golden fixture source: /root/reference/example/example_mr_test.go:14-31
(6 JSON lines -> exact 3-line `"key"\tcount` output).
"""

from __future__ import annotations

import pandas as pd
import pytest

from gomrjob_spark.counters import Counters
from gomrjob_spark.pipeline import COUNT, SUM, Pipeline, Step, map_rows
from gomrjob_spark.plans.mr import field_count_mapper
from gomrjob_spark.testing import assert_golden, lines_df, run_steps

EXAMPLE_INPUT = """{"key_field":"z"}
{"key_field":"a"}
{"key_field":"another"}
{"key_field":"z"}
{"key_field":"z"}
{"another_key":"a"}
"""

EXAMPLE_GOLDEN = '"another_key"\t1\n"key_field"\t5\n"lines_read"\t6\n'


def test_example_job_golden(spark):
    """The reference's end-to-end golden test, byte-for-byte."""
    assert_golden(
        spark,
        [Step(mapper=field_count_mapper, reducer=SUM)],
        EXAMPLE_INPUT,
        EXAMPLE_GOLDEN,
    )


def test_example_job_skips_bad_json(spark):
    out = run_steps(
        spark,
        [Step(mapper=field_count_mapper, reducer=SUM)],
        EXAMPLE_INPUT + "not-json-data\n",
    )
    assert out == EXAMPLE_GOLDEN  # bad line skipped, not counted


def test_identity_mapper_default(spark):
    """Step without a mapper passes rows through (runner.go:281-287)."""
    kv = spark.createDataFrame([("a", "1"), ("a", "2"), ("b", "3")], "key string, value string")
    got = Pipeline(steps=[Step(reducer=SUM)]).run(kv).orderBy("key").collect()
    assert [(r.key, r.value) for r in got] == [("a", 3), ("b", 3)]


def test_sum_skips_non_int_values(spark):
    """Sum parity (protocol.go:344-346): non-int values skipped."""
    kv = spark.createDataFrame(
        [("a", "1"), ("a", "not-a-number"), ("a", "2"), ("b", "1.5")],
        "key string, value string",
    )
    got = Pipeline(steps=[Step(reducer=SUM)]).run(kv).orderBy("key").collect()
    # a group whose values ALL fail to parse sums to 0, not NULL — the
    # reference's accumulator starts at 0 and skips (protocol.go:339-356)
    assert [(r.key, r.value) for r in got] == [("a", 3), ("b", 0)]


def test_count_builtin(spark):
    kv = spark.createDataFrame([("a", "x"), ("a", "y"), ("b", "z")], "key string, value string")
    got = Pipeline(steps=[Step(reducer=COUNT)]).run(kv).orderBy("key").collect()
    assert [(r.key, r.value) for r in got] == [("a", 2), ("b", 1)]


def test_multistep_chaining(spark):
    """Two steps chain without materialization (runner.go:352-356 analog)."""

    def rekey(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": ["total"] * len(pdf), "value": pdf["value"].astype(str)})

    kv = spark.createDataFrame(
        [("a", "1"), ("a", "1"), ("b", "1"), ("c", "1")], "key string, value string"
    )
    pipe = Pipeline(steps=[Step(reducer=SUM), Step(mapper=rekey, reducer=SUM)])
    got = pipe.run(kv).collect()
    assert [(r.key, r.value) for r in got] == [("total", 4)]


def test_python_reducer_sorted_values(spark):
    """sorted_values gives the reducer the byte-sorted stream the reference
    guarantees (SURVEY.md §1.3)."""

    def first_value(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": [key], "value": [pdf["value"].iloc[0]]})

    kv = spark.createDataFrame(
        [("a", "z"), ("a", "m"), ("a", "b")], "key string, value string"
    ).repartition(4)
    pipe = Pipeline(
        steps=[
            Step(reducer=first_value, reduce_schema="key string, value string", sorted_values=True)
        ]
    )
    got = pipe.run(kv).collect()
    assert [(r.key, r.value) for r in got] == [("a", "b")]


def test_reducer_tasks_override(spark):
    """Per-step parallelism hint (map_reduce_step.go:19-21 analog)."""
    kv = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    pipe = Pipeline(steps=[Step(reducer=SUM, reducer_tasks=2)])
    got = pipe.run(kv).orderBy("key").collect()
    assert [(r.key, r.value) for r in got] == [("a", 1), ("b", 2)]


def test_empty_pipeline_raises(spark):
    with pytest.raises(ValueError):
        Pipeline().run(lines_df(spark, "x"))


def test_counters_accumulate(spark):
    """Counter analog of reporter.go:12-15 through a real distributed job."""
    counters = Counters(spark)
    acc = counters.counter("example_mr", "lines_read")

    def count_mapper(pdf: pd.DataFrame) -> pd.DataFrame:
        acc.add(len(pdf))
        return pd.DataFrame({"key": pdf["value"], "value": ["1"] * len(pdf)})

    df = lines_df(spark, "a\nb\nc\n")
    Pipeline(steps=[Step(mapper=count_mapper, reducer=SUM)]).run(df).collect()
    assert counters.value("example_mr", "lines_read") == 3
    assert counters.report() == {"example_mr.lines_read": 3}


def test_combiner_matches_combiner_free_plan(spark):
    """An associative combiner must not change the answer."""
    import pandas as pd

    def agg_max(key, pdf):
        return pd.DataFrame({"key": [key], "value": [int(pdf["value"].max())]})

    kv = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i * 7) for i in range(50)],
        "key string, value bigint",
    ).repartition(4)
    plain = Pipeline(
        steps=[Step(reducer=agg_max, reduce_schema="key string, value bigint")]
    ).run(kv)
    combined = Pipeline(
        steps=[
            Step(
                reducer=agg_max,
                combiner=agg_max,
                reduce_schema="key string, value bigint",
            )
        ]
    ).run(kv)
    assert sorted(plain.collect()) == sorted(combined.collect())


def test_combiner_shrinks_shuffle_rows_on_hot_key(spark):
    """The point of the combiner (map_reduce_step.go:15-17): a hot key
    must NOT ship every row through the shuffle. The reducer observes how
    many rows actually arrived — with a combiner that is at most one
    partial per (key, map task); without it, every input row."""
    import pandas as pd

    n_rows, n_parts = 2000, 8
    kv = spark.createDataFrame(
        [("hot", i) for i in range(n_rows)], "key string, value bigint"
    ).repartition(n_parts)

    def rows_seen(key, pdf):
        return pd.DataFrame({"key": [key], "value": [len(pdf)]})

    def max_partial(key, pdf):
        return pd.DataFrame({"key": [key], "value": [int(pdf["value"].max())]})

    without = Pipeline(
        steps=[Step(reducer=rows_seen, reduce_schema="key string, value bigint")]
    ).run(kv).collect()
    with_comb = Pipeline(
        steps=[
            Step(
                reducer=rows_seen,
                combiner=max_partial,
                reduce_schema="key string, value bigint",
            )
        ]
    ).run(kv).collect()
    assert without[0].value == n_rows  # every row crossed the shuffle
    # one partial per (key, map task): bounded by the partition count,
    # orders of magnitude below the row count
    assert with_comb[0].value <= n_parts
    assert with_comb[0].value < n_rows // 100


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow batches of 50 rows, so one map task spans many batches; the
    session's batch size is restored when the test ends."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    yield 50
    spark.conf.set(key, prev)


def _keyed_range(spark, n_rows: int, n_tasks: int, n_keys: int):
    """``n_rows`` rows in ``n_tasks`` contiguous map tasks; every task holds
    every one of ``n_keys`` keys."""
    return spark.range(n_rows, numPartitions=n_tasks).selectExpr(
        f"concat('k', id % {n_keys}) AS key", "CAST(id * 7919 % 1000 AS STRING) AS value"
    )


def _counted_sum_fns(calls):
    """A partial-sum combiner that counts its calls on ``calls`` and the
    total-sum reducer. Built per test: Python workers cannot import this
    module, so its functions must travel by value."""

    def combiner(key, pdf):
        calls.add(1)
        return pd.DataFrame({"key": [key], "value": [str(pdf["value"].astype("int64").sum())]})

    def reducer(key, pdf):
        return pd.DataFrame({"key": [key], "value": [int(pdf["value"].astype("int64").sum())]})

    return combiner, reducer


def test_combiner_runs_once_per_key_per_map_task(spark, small_arrow_batches):
    """4 tasks of 1000 rows arrive as 20 Arrow batches each: the combiner
    still runs once per (key, map task), 4 x 25 calls, not once per
    (key, batch), and the answer is the combiner-free plan's."""
    n_tasks, n_keys = 4, 25
    kv = _keyed_range(spark, 4000, n_tasks, n_keys)
    calls = spark.sparkContext.accumulator(0)
    combiner, reducer = _counted_sum_fns(calls)

    step = dict(reducer=reducer, reduce_schema="key string, value bigint")
    combined = Pipeline(steps=[Step(combiner=combiner, **step)]).run(kv).collect()
    plain = Pipeline(steps=[Step(**step)]).run(kv).collect()
    assert calls.value == n_tasks * n_keys
    assert sorted(combined) == sorted(plain)


def test_combiner_honours_sorted_values(spark, small_arrow_batches):
    """An order-dependent (first in byte order) but associative combiner
    sees each buffered key group sorted: the answer equals the
    combiner-free ``sorted_values`` plan, i.e. each key's least value."""

    def first_value(key, pdf):
        return pd.DataFrame({"key": [key], "value": [pdf["value"].iloc[0]]})

    kv = _keyed_range(spark, 4000, 4, 25)
    step = dict(reducer=first_value, reduce_schema="key string, value string", sorted_values=True)
    combined = Pipeline(steps=[Step(combiner=first_value, **step)]).run(kv).collect()
    plain = Pipeline(steps=[Step(**step)]).run(kv).collect()
    least = kv.groupBy("key").agg({"value": "min"}).collect()
    assert sorted(combined) == sorted(plain) == sorted(tuple(r) for r in least)


def test_combiner_flushes_at_the_row_bound(spark, small_arrow_batches, monkeypatch):
    """A map task larger than the buffer is combined once per
    ``_COMBINE_BUFFER_ROWS`` rows: 1000 rows of one key under a bound of 64
    (not a multiple of the 50-row batch) make ceil(1000 / 64) calls."""
    import math

    from gomrjob_spark import pipeline

    n_rows, bound = 1000, 64
    monkeypatch.setattr(pipeline, "_COMBINE_BUFFER_ROWS", bound)
    kv = _keyed_range(spark, n_rows, 1, 1)
    calls = spark.sparkContext.accumulator(0)
    combiner, reducer = _counted_sum_fns(calls)

    got = Pipeline(
        steps=[Step(reducer=reducer, combiner=combiner, reduce_schema="key string, value bigint")]
    ).run(kv).collect()
    assert calls.value == math.ceil(n_rows / bound)
    assert [(r.key, r.value) for r in got] == [("k0", sum(i * 7919 % 1000 for i in range(n_rows)))]


def test_combiner_ignored_for_builtin_reducer(spark):
    """Builtins keep the native partial-agg path (combiner subsumed)."""
    import pandas as pd

    def never_called(key, pdf):  # pragma: no cover
        raise AssertionError("combiner must not run for builtin reducers")

    kv = spark.createDataFrame([("a", "1"), ("a", "2")], "key string, value string")
    got = (
        Pipeline(steps=[Step(reducer=SUM, combiner=never_called)])
        .run(kv)
        .collect()
    )
    assert [(r.key, r.value) for r in got] == [("a", 3)]


MAP_ROWS_IN = [(i, f"s{i}", bytes([i, 255 - i])) for i in range(12)]
MAP_ROWS_SCHEMA = "i bigint, j int, s string, n int, b binary"


def _fan_out_fns():
    """Row i yields i % 3 tuples (none for i % 3 == 0); ``s`` and ``n``
    are None on alternate tuples, ``b`` passes through. Built inside a
    function so the workers receive them by value."""

    def fan_out(i, s, b):
        for j in range(i % 3):
            yield i, j, None if j else s, None if (i + j) % 2 else i * j, b

    def fan_out_list(i, s, b):
        return list(fan_out(i, s, b)) or None

    return {"generator": fan_out, "list": fan_out_list}


@pytest.mark.parametrize("shape", ["generator", "list"])
def test_map_rows_matches_plain_python(spark, shape):
    """``map_rows`` returns exactly the tuples ``fn`` yields row by row —
    several per row, none for some rows, None in int and string columns,
    binary values unchanged — whether ``fn`` is a generator or returns a
    list or None."""
    fns = _fan_out_fns()
    df = spark.createDataFrame(MAP_ROWS_IN, "i bigint, s string, b binary").repartition(3)
    got = [tuple(r) for r in map_rows(df, fns[shape], MAP_ROWS_SCHEMA).collect()]
    want = [t for row in MAP_ROWS_IN for t in fns["generator"](*row)]
    assert sorted(got, key=lambda t: t[:2]) == sorted(want, key=lambda t: t[:2])
    assert any(t[2] is None for t in got) and any(t[3] is None for t in got)


def test_map_rows_empty_batches(spark):
    """Batches that produce no rows, and an input filtered to nothing,
    both give an empty result with the declared schema."""
    fan_out = _fan_out_fns()["generator"]
    df = spark.createDataFrame(MAP_ROWS_IN, "i bigint, s string, b binary").repartition(3)
    no_output = map_rows(df.filter("i % 3 = 0"), fan_out, MAP_ROWS_SCHEMA)
    no_input = map_rows(df.filter("i < 0"), fan_out, MAP_ROWS_SCHEMA)
    assert no_output.collect() == [] and no_input.collect() == []
    assert no_output.schema == no_input.schema
    assert [f.name for f in no_output.schema] == ["i", "j", "s", "n", "b"]


def test_map_rows_keeps_bigints_next_to_none(spark):
    """A bigint column that also holds None keeps every bit (a float64
    detour would round 2**60 + 1), and an all-None batch is null in
    every column type."""
    df = spark.createDataFrame([(1,), (2,)], "i bigint").repartition(1)

    def fn(i):
        return [(i, 2**60 + 1 if i == 1 else None, None, None)]

    got = map_rows(df, fn, "i bigint, big bigint, s string, b binary").orderBy("i").collect()
    assert [tuple(r) for r in got] == [(1, 2**60 + 1, None, None), (2, None, None, None)]


def test_cpu_report_nonzero_after_run(spark):
    """reporter.go:23-34 auditCpuTime analog: executor CPU totals are
    readable engine-side after a distributed job ran."""
    kv = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    Pipeline(steps=[Step(reducer=SUM)]).run(kv).collect()
    rep = Counters(spark).cpu_report()
    assert rep["n_stages"] > 0
    assert rep["executor_cpu_ns"] > 0
    assert rep["executor_run_ms"] >= 0


def test_run_to_dir_chains_through_materialized_output(spark, tmp_path):
    """The reference's ACTUAL chaining mechanism — job 1 writes part-*
    k\\tv files, job 2 reads them (runner.go:134-163) — round-trips:
    run_to_dir -> read_text_dir + parse_kv_lines -> second pipeline."""
    from gomrjob_spark.protocols import parse_kv_lines
    from gomrjob_spark.sources.lines import read_text_dir

    kv = spark.createDataFrame(
        [("a", "1"), ("a", "2"), ("b", "5")], "key string, value string"
    )
    out_dir = str(tmp_path / "job1")
    Pipeline(steps=[Step(reducer=SUM)]).run_to_dir(kv, out_dir, compress=True)

    back = parse_kv_lines(read_text_dir(spark, out_dir))
    got = Pipeline(steps=[Step(reducer=COUNT)]).run(back).orderBy("key").collect()
    assert [(r.key, r.value) for r in got] == [("a", 1), ("b", 1)]


def test_stage_and_task_report_after_run(spark):
    """remote_logging.go:13-76 replacement: after a pipeline runs, the
    driver can read per-stage progress/IO and per-task rows (host,
    partition, status, duration) straight from the status store — the
    capability the reference needed a UDP side channel for."""
    kv = spark.createDataFrame(
        [("a", "1"), ("a", "2"), ("b", "5")], "key string, value string"
    )
    Pipeline(steps=[Step(reducer=SUM)]).run(kv).collect()
    c = Counters(spark)

    stages = c.stage_report()
    assert stages, "at least one stage recorded"
    done = [s for s in stages if s["status"] == "COMPLETE"]
    assert done and all(s["complete_tasks"] >= 1 for s in done)
    assert all(
        set(s) >= {"stage_id", "num_tasks", "shuffle_read_bytes", "memory_spill_bytes"}
        for s in stages
    )

    tasks = c.task_report()  # most recent stage
    assert tasks and all(t["status"] == "SUCCESS" for t in tasks)
    assert all(t["duration_ms"] is None or t["duration_ms"] >= 0 for t in tasks)
    assert {t["partition_id"] for t in tasks} == set(range(len(tasks)))

    tail = c.task_log_tail(n=5)
    assert 0 < len(tail) <= 5
    assert all(line.startswith("stage ") and " on " in line for line in tail)
    # unknown stage id -> empty, not an exception
    assert c.task_report(stage_id=10**9) == []


def test_run_stream_matches_batch_run(spark, tmp_path):
    """The SAME Step runs batch and streaming: totals from the drained
    stream equal Pipeline.run on the identical input."""
    import pandas as pd

    from gomrjob_spark.streaming import run_to_memory

    rows = [("a", str(i)) for i in range(10)] + [("b", "7"), ("b", "xx")]
    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(rows, "key string, value string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))

    step = Step(mapper=None, reducer=SUM)
    batch = {
        (r.key, r.value)
        for r in Pipeline(steps=[step]).run(spark.read.parquet(str(src))).collect()
    }

    stream_in = spark.readStream.schema("key string, value string").parquet(str(src))
    totals = Pipeline(steps=[step]).run_stream(stream_in)
    q, name = run_to_memory(totals, mode="complete")
    try:
        spark.table(name).count()
    finally:
        q.stop()
    streamed = {(r.key, r.value) for r in spark.table(name).collect()}
    assert streamed == batch == {("a", 45), ("b", 7)}  # "xx" skipped, as in batch


def test_run_stream_validations(spark, tmp_path):
    import pytest

    src = tmp_path / "v_src"
    src.mkdir()
    spark.createDataFrame([("a", "1")], "key string, value string").write.mode(
        "overwrite"
    ).parquet(str(src))
    stream_in = spark.readStream.schema("key string, value string").parquet(str(src))
    batch_df = spark.read.parquet(str(src))

    with pytest.raises(ValueError, match="streaming DataFrame"):
        Pipeline(steps=[Step(reducer=SUM)]).run_stream(batch_df)
    with pytest.raises(ValueError, match="exactly one"):
        Pipeline(steps=[Step(reducer=SUM), Step(reducer=SUM)]).run_stream(stream_in)
    with pytest.raises(ValueError, match="applyInPandasWithState"):
        Pipeline(steps=[Step(reducer=lambda k, pdf: pdf)]).run_stream(stream_in)


def test_on_progress_events_arrive_during_execution(spark):
    """r3 'What's missing' #1, closed: progress callbacks fire WHILE the
    job runs — events exist the instant the action returns (no post-hoc
    read), and at least one snapshot catches a stage mid-flight."""
    import time

    events: list[dict] = []
    c = Counters(spark)

    def slow(batches):
        for b in batches:
            time.sleep(0.15)
            yield b

    df = spark.range(64).repartition(16).mapInPandas(slow, schema="id long")
    with c.on_progress(events.append, interval_s=0.05):
        df.write.format("noop").mode("overwrite").save()
        n_at_action_return = len(events)

    assert n_at_action_return > 0, "no live events before the action returned"
    assert any(e["complete_tasks"] < e["num_tasks"] for e in events), (
        "every event saw a finished stage - not live"
    )
    assert all(
        set(e) >= {"stage_id", "name", "num_tasks", "active_tasks"} for e in events
    )
    # watch is stopped: no further events accumulate
    n = len(events)
    spark.range(10).write.format("noop").mode("overwrite").save()
    time.sleep(0.2)
    assert len(events) == n


def test_worker_log_lines_arrive_as_tasks_complete(spark):
    """r4 verdict missing #2: worker code's own log lines reach the
    driver THROUGH the engine (accumulator channel) at task-completion
    granularity — lines from finished tasks are readable while later
    tasks still run, every line is host:pid-stamped, and the final set
    covers every partition."""
    import threading
    import time

    wl = Counters(spark).worker_log()

    def noisy(batches):
        import time as _t

        for b in batches:
            pid = int(b["id"].iloc[0]) % 16
            _t.sleep(0.05 + 0.12 * (pid % 4))  # staggered completions
            wl.log(f"partition batch min_id={int(b['id'].min())}")
            yield b

    df = spark.range(160).repartition(16).mapInPandas(noisy, schema="id long")

    mid_counts: list[int] = []
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            mid_counts.append(len(wl.lines()))
            time.sleep(0.02)

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        stop.set()
        t.join(timeout=5)

    final = wl.lines()
    assert len(final) == 16
    assert all(l.startswith("[") and "] partition batch min_id=" in l for l in final)
    # liveness: some sample saw a PARTIAL set (tasks still running)
    assert any(0 < c < 16 for c in mid_counts), mid_counts
    assert wl.tail(3) == final[-3:]


def test_on_progress_survives_callback_exceptions(spark):
    """ADVICE r4: a raising user callback must not silently kill the
    watch thread — later events still arrive (the blanket except used
    to swallow callback errors as if the SparkContext were stopping)."""
    import time

    events: list[dict] = []
    calls = {"n": 0}

    def flaky(ev):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("user callback bug")
        events.append(ev)

    def slow(batches):
        for b in batches:
            time.sleep(0.15)
            yield b

    df = spark.range(64).repartition(16).mapInPandas(slow, schema="id long")
    with Counters(spark).on_progress(flaky, interval_s=0.05):
        df.write.format("noop").mode("overwrite").save()
    assert calls["n"] > 1, "watch died after the first callback exception"
    assert events, "no events delivered after the callback recovered"


def test_stream_progress_listener_delivers_batch_events(spark):
    """Streaming half of the live-progress surface: per-micro-batch
    progress dicts arrive via the listener bus while the query runs."""
    import time

    from gomrjob_spark.counters import StreamProgressListener
    from gomrjob_spark.streaming.ops import run_to_memory

    events: list[dict] = []
    lis = StreamProgressListener(events.append).attach(spark)
    try:
        stream = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        q, name = run_to_memory(
            stream.selectExpr("value % 5 AS k").groupBy("k").count(), mode="complete"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener bus delivery is async; give it a beat
        for _ in range(40):
            if events:
                break
            time.sleep(0.25)
    finally:
        lis.detach(spark)
    assert events, "no streaming progress events arrived"
    assert all(set(e) >= {"query_id", "batch_id", "num_input_rows"} for e in events)
