"""Pipeline / Step API — engine analog of the reference's job framework.

Reference contract (/root/reference/map_reduce_step.go:7-25, runner.go):
a job is an ordered ``[]Step``; each step has an optional ``Mapper``, a
required ``Reducer``, an optional ``Combiner``, and an optional per-step
reducer-task count; steps chain through materialized HDFS temp dirs
(runner.go:134-151, :352-356).

Spark-first translation:

========================  ====================================================
reference                 engine
==========================  ==================================================
``Mapper(r, w)``          ``Step.mapper``: pandas-batch fn via ``mapInPandas``
per-record ``Mapper``     ``map_rows(df, fn, schema)``: ``fn`` takes one
                          row's values and returns zero or more tuples
identity mapper           ``mapper=None`` (runner.go:281-287 ``io.Copy``)
``Reducer(r, w)``         ``Step.reducer``: per-key fn via ``applyInPandas``,
                          or a builtin (``SUM``) compiled to a native
                          ``groupBy().agg()`` — the JVM fast path
``Combiner``              builtin reducers: ignored — Spark's partial
                          aggregation already pre-reduces map-side
                          (runner.go:188-190 opt-in, automatic here).
                          Python reducers: honored — a ``mapInPandas``
                          pre-reduce buffers each map task's Arrow
                          batches (up to ``_COMBINE_BUFFER_ROWS``, the
                          spill buffer) and runs the combiner once per
                          key per buffer BEFORE the shuffle
                          (map_reduce_step.go:15-17 contract, dispatch
                          runner.go:290-295), so a hot key ships one
                          partial per map task, not every row
``StepReducerTasksCount`` ``Step.reducer_tasks`` -> ``repartition(n, key)``
                          (AQE coalescing usually makes this unnecessary)
multi-step chain          DataFrame composition — ONE logical plan, no
                          intermediate materialization; Catalyst fuses stages
==========================  ==================================================

Grouped-stream semantics: reference reducers see each key's values in
shuffle-sort (byte) order (SURVEY.md §1.3). ``applyInPandas`` guarantees no
intra-group order, so ``Step(sorted_values=True)`` sorts each group's
values before the reducer runs — only pay that cost for order-dependent
reducers.

Scale: builtin reducers stay entirely JVM-side with map-side partial
aggregation (the reference's Combiner+LRU trick, protocol.go/exampleLRU,
for free). Python reducers move one Arrow batch per group — prefer
builtins; when a Python reducer is unavoidable it still distributes
per-key across executors.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Builtin reducers (the reference ships exactly one: Sum,
# mrproto/protocol.go:339-356). Compiled to native aggregations.
SUM = "sum"
COUNT = "count"

_BUILTIN_REDUCERS = {SUM, COUNT}

# Rows of one map task the combiner sees at once: the analog of Hadoop's
# map-side spill buffer (io.sort.mb, 100 MB), whose every spill the
# reference's combiner runs over (runner.go:188-190). Bounds the
# combine stage's memory, not its result.
_COMBINE_BUFFER_ROWS = 1_000_000

MapperFn = Callable[[pd.DataFrame], pd.DataFrame]
ReducerFn = Callable[[Any, pd.DataFrame], pd.DataFrame]
RowFn = Callable[..., Iterable[tuple] | None]


@dataclass
class Step:
    """One map/reduce stage over a DataFrame with ``key``/``value`` columns.

    mapper: per-batch fn ``pd.DataFrame -> pd.DataFrame`` (None = identity,
        matching runner.go:281-287). Output must contain ``key`` and
        ``value`` columns (any additional columns pass through).
    reducer: builtin name (``pipeline.SUM``/``COUNT``) or per-group fn
        ``(key, pd.DataFrame) -> pd.DataFrame``. Required, as in the
        reference (``Step = Reducer``, map_reduce_step.go:23-25).
    combiner: optional per-group fn ``(key, pd.DataFrame) -> pd.DataFrame``
        run map-side before the shuffle when the reducer is a Python fn
        (ignored for builtins — partial agg subsumes it), once per key per
        map task (per ``_COMBINE_BUFFER_ROWS`` rows of a larger task). Its
        output must have the same schema as its input (the reference's
        combiner rewrites the map-output stream in place,
        runner.go:188-195) and the operation must be associative for the
        result to match the combiner-free plan.
    reducer_tasks: optional shuffle-partition override for this step
        (map_reduce_step.go:19-21 analog).
    map_schema / reduce_schema: Spark DDL schema of the mapper / reducer
        output (pandas paths need declared schemas; Arrow enforces them).
    sorted_values: sort each group by ``value`` before a Python reducer,
        mirroring the byte-sorted shuffle stream the reference consumes.
    """

    mapper: MapperFn | None = None
    reducer: str | ReducerFn = SUM
    combiner: ReducerFn | None = None
    reducer_tasks: int | None = None
    map_schema: str = "key string, value string"
    reduce_schema: str = "key string, value bigint"
    sorted_values: bool = False


@dataclass
class Pipeline:
    """Ordered steps composed into one DataFrame expression.

    Unlike the reference's runner (each step a separate ``hadoop jar``
    submission writing part files, runner.go:352-356), ``run`` builds a
    single lazy plan; nothing materializes until the caller acts.
    """

    steps: list[Step] = field(default_factory=list)
    name: str = "gomrjob_spark_pipeline"

    def step(self, **kwargs) -> "Pipeline":
        self.steps.append(Step(**kwargs))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        if not self.steps:
            raise ValueError("pipeline has no steps")
        for s in self.steps:
            df = _run_step(df, s)
        return df

    def run_stream(self, df: DataFrame) -> DataFrame:
        """Run the same Step graph on a STREAMING DataFrame — the
        reference's batch job re-expressed as a live micro-batch
        topology with zero changes to the Step definitions. The mapper
        (and combiner) are stateless per-batch transforms; a builtin
        reducer becomes Spark's stateful running aggregate (drain in
        ``update``/``complete`` mode, or add a watermark upstream for
        append). Returns the streaming DataFrame; the caller attaches
        the sink (``streaming.run_to_memory`` / ``writeStream``).

        Constraints are Spark's, surfaced as clear errors: one reducing
        step per stream (chained stateful aggregates need watermarked
        append topologies — compose ``streaming/ops`` directly), and a
        Python reducer on a stream needs ``applyInPandasWithState``
        (see ``streaming.stateful_user_counts``) — use SUM/COUNT here."""
        if not self.steps:
            raise ValueError("pipeline has no steps")
        if not df.isStreaming:
            raise ValueError("run_stream needs a streaming DataFrame; use run()")
        if len(self.steps) != 1:
            raise ValueError(
                "streaming pipelines support exactly one map/reduce step; "
                "compose streaming/ops directly for multi-stage stateful topologies"
            )
        s = self.steps[0]
        if not isinstance(s.reducer, str):
            raise ValueError(
                "Python reducers on a stream need applyInPandasWithState "
                "(streaming.stateful_user_counts); use a builtin (SUM/COUNT) here"
            )
        return _run_step(df, s, streaming=True)

    def run_to_dir(
        self,
        df: DataFrame,
        path: str,
        compress: bool = False,
        num_files: int | None = None,
        sorted_output: bool = False,
    ) -> DataFrame:
        """Run and materialize the result as a ``part-*`` text directory
        in the reference's job-output convention (``k\\tv`` lines,
        optional gzip — runner.go:137-163): the interop format an
        existing Hadoop-Streaming consumer (or a later ``read_text_dir``
        + ``parse_kv_lines`` step) reads. Returns the result DataFrame
        as well."""
        from gomrjob_spark.sources.lines import write_tsv_part_files

        out = self.run(df)
        write_tsv_part_files(
            out, path, compress=compress, num_files=num_files, sorted_output=sorted_output
        )
        return out


def map_rows(df: DataFrame, fn: RowFn, schema: str) -> DataFrame:
    """The reference's per-record ``Mapper(r, w)`` (map_reduce_step.go:7-25):
    one input record in, zero or more records out.

    ``fn`` is called once per row of ``df`` with that row's values in
    ``df``'s column order, typed as iterating a pandas column yields them.
    It returns an iterable of tuples in ``schema`` field order (a
    generator, a list, or ``None`` for no rows). Each Arrow batch becomes
    one positional pandas frame; a batch with no output rows ships
    nothing. Row-local, so streaming frames work too."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for row in pdf.itertuples(index=False, name=None) for t in fn(*row) or ()]
            if out:
                # integer labels match the schema by position; object
                # columns reach Arrow as the Python values fn returned (an
                # int column holding None would otherwise pass through
                # float64 and round above 2**53)
                yield pd.DataFrame(
                    {i: pd.Series(col, dtype=object) for i, col in enumerate(zip(*out))}
                )

    # the MapInPandas plan node and the UI then name the row function
    run.__name__ = getattr(fn, "__name__", "map_rows")
    return df.mapInPandas(run, schema=schema)


def _run_step(df: DataFrame, s: Step, streaming: bool = False) -> DataFrame:
    if s.mapper is not None:
        mapper = s.mapper

        def map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = mapper(pdf)
                if out is not None and len(out):
                    yield out

        # mapper-task fan-out parity (the reference gets one mapper per
        # input split; a small local file arrives as ONE split, which
        # would serialize the Python mapper) — no-op on real cluster
        # scans, skipped on streams (micro-batches already arrive split)
        if streaming:
            df = df.mapInPandas(map_batches, schema=s.map_schema)
        else:
            from gomrjob_spark.operators.text import spread

            df = spread(df).mapInPandas(map_batches, schema=s.map_schema)

    # map-side combining for Python reducers (map_reduce_step.go:15-17,
    # wiring runner.go:188-195): pre-reduce each map task's key groups
    # BEFORE the shuffle so a hot key ships one partial row per task
    # instead of its full row stream — the exact case the reference's
    # Combiner existed for. The task's Arrow batches are buffered up to
    # _COMBINE_BUFFER_ROWS so the combiner runs once per key per buffer,
    # not once per key per batch. Builtins skip this: Catalyst's partial
    # aggregation already pre-reduces map-side.
    if s.combiner is not None and not isinstance(s.reducer, str):
        combiner = s.combiner
        comb_sorted = s.sorted_values
        comb_schema = s.map_schema if s.mapper is not None else df.schema
        bound = _COMBINE_BUFFER_ROWS

        def combine(buffer: list[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pdf = pd.concat(buffer, ignore_index=True)
            outs = []
            for k, g in pdf.groupby("key", sort=False):
                if comb_sorted and "value" in g.columns:
                    g = g.sort_values("value", kind="mergesort")
                out = combiner(k, g)
                if out is not None and len(out):
                    outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)

        def combine_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            buffer: list[pd.DataFrame] = []
            n = 0
            for pdf in batches:
                while len(pdf):
                    head, pdf = pdf.iloc[: bound - n], pdf.iloc[bound - n :]
                    buffer.append(head)
                    n += len(head)
                    if n == bound:
                        yield from combine(buffer)
                        buffer, n = [], 0
            if n:
                yield from combine(buffer)

        df = df.mapInPandas(combine_batches, schema=comb_schema)

    if s.reducer_tasks:
        df = df.repartition(s.reducer_tasks, "key")

    if isinstance(s.reducer, str):
        if s.reducer not in _BUILTIN_REDUCERS:
            raise ValueError(f"unknown builtin reducer {s.reducer!r}")
        return _builtin_reduce(df, s.reducer)

    reducer = s.reducer
    sort_first = s.sorted_values

    def reduce_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if sort_first and "value" in pdf.columns:
            pdf = pdf.sort_values("value", kind="mergesort")
        return reducer(key[0] if len(key) == 1 else key, pdf)

    return df.groupBy("key").applyInPandas(reduce_group, schema=s.reduce_schema)


def _builtin_reduce(df: DataFrame, which: str) -> DataFrame:
    """Native compilation of builtin reducers — full JVM path with map-side
    partial aggregation (subsumes the reference's Combiner + in-mapper LRU
    counting, example_mr.go:26-29)."""
    if which == SUM:
        # Sum parity (protocol.go:339-356): values parse as int64; non-int
        # values are skipped (try_cast yields null under ANSI mode, sum
        # ignores nulls — count skipped via protocols.count_malformed_kv).
        # coalesce: a group whose values ALL fail the cast sums to 0, not
        # NULL — the reference's accumulator starts at 0 and skips.
        return df.groupBy("key").agg(
            F.coalesce(F.sum(F.col("value").try_cast("bigint")), F.lit(0)).alias("value")
        )
    if which == COUNT:
        return df.groupBy("key").agg(F.count(F.lit(1)).alias("value"))
    raise AssertionError(which)
