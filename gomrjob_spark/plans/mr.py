"""MapReduce-framework queries — the reference's own analytic surface.

These exercise the Pipeline/Step machinery (gomrjob_spark.pipeline) through
the oracle gate:

- ``mr_field_count``: the reference's example job (JSON field-name
  frequency + lines_read, example/example_mr.go:21-53) rebuilt on the
  engine — the P1 flagship slice from SURVEY.md §7.
- ``mr_sum_reducer``: the one builtin reducer the reference ships
  (mrproto/protocol.go:339-356) over raw internal-protocol lines.
- ``mr_multistep``: two chained steps (runner.go:352-356 chaining, but as
  one fused Spark plan).
- ``mr_python_reducer``: arbitrary per-group Python reducer via
  applyInPandas — the escape hatch matching the reference's "any Go code
  in the Reducer" contract.
"""

from __future__ import annotations

import json
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gomrjob_spark.catalog import load_table
from gomrjob_spark.pipeline import SUM, Pipeline, Step
from gomrjob_spark.plans.registry import query
from gomrjob_spark.protocols import canonical_json_dumps, parse_kv_lines


def field_count_mapper(pdf: pd.DataFrame) -> pd.DataFrame:
    """Example-job mapper (example_mr.go:24-53): per input line, count every
    JSON field name plus ``lines_read``; bad JSON is skipped.

    The per-batch Counter IS the reference's in-mapper LRU combining
    (example_mr.go:26-29) — aggregated once per Arrow batch, so mapper
    output is #distinct-fields rows per batch, not #input rows.
    """
    counts: Counter = Counter()
    for s in pdf["value"]:
        try:
            rec = json.loads(s)
        except (ValueError, TypeError):
            continue
        if not isinstance(rec, dict):
            continue
        counts["lines_read"] += 1
        for k in rec:
            counts[k] += 1
    return pd.DataFrame(
        {
            "key": [canonical_json_dumps(k) for k in counts],
            "value": [str(v) for v in counts.values()],
        }
    )


@query(
    "mr_field_count",
    oracle="""
    WITH f AS (SELECT unnest(json_keys(props)) AS name FROM events)
    SELECT '"' || name || '"' AS key, count(*) AS value FROM f GROUP BY name
    UNION ALL
    SELECT '"lines_read"' AS key, count(*) AS value FROM events
    ORDER BY key
    """,
)
def mr_field_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's example job end-to-end on the engine.

    JSON-lines (events.props) -> mapper counts field names -> Sum reducer.
    Key parity: keys are canonical-JSON strings (``"k"``), matching the
    golden output shape of example_mr_test.go:26-29.
    """
    lines = load_table(spark, sf_dir, "events").select(F.col("props").alias("value"))
    pipe = Pipeline(steps=[Step(mapper=field_count_mapper, reducer=SUM)], name="mr_field_count")
    return pipe.run(lines).orderBy("key")


@query(
    "mr_sum_reducer",
    oracle="""
    SELECT event_type AS key,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value
    FROM events
    GROUP BY event_type
    ORDER BY key
    """,
)
def mr_sum_reducer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The builtin Sum reducer over raw internal-protocol lines: the engine
    round-trips ``key\\tvalue`` text (RawInternalInputProtocol analog,
    protocol.go:189-216) then reduces with the native JVM groupBy-sum."""
    events = load_table(spark, sf_dir, "events")
    lines = events.select(
        F.concat_ws(
            "\t",
            F.col("event_type"),
            F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
        ).alias("value")
    )
    kv = parse_kv_lines(lines)
    pipe = Pipeline(steps=[Step(reducer=SUM)], name="mr_sum")
    return pipe.run(kv).orderBy("key")


def _rekey_total(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"key": ["total"] * len(pdf), "value": pdf["value"].astype(str)})


@query(
    "mr_multistep",
    oracle="""
    SELECT 'total' AS key, count(*) AS value FROM events
    """,
)
def mr_multistep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained steps (count per type -> re-key -> grand total): the
    reference materializes step_0/output to HDFS between jobs
    (runner.go:134-151); here both steps fuse into one Spark plan with two
    exchanges and zero materialization."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(F.col("event_type").alias("key"), F.lit("1").alias("value"))
    pipe = Pipeline(
        steps=[
            Step(reducer=SUM),
            Step(mapper=_rekey_total, reducer=SUM),
        ],
        name="mr_multistep",
    )
    return pipe.run(kv)


def _range_reducer(key, pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["value"].astype("int64")
    return pd.DataFrame({"key": [key], "value": [int(v.max() - v.min())]})


@query(
    "mr_python_reducer",
    oracle="""
    SELECT event_type AS key,
           CAST(round(max(value) * 100, 0) AS BIGINT) - CAST(round(min(value) * 100, 0) AS BIGINT)
             AS value
    FROM events
    GROUP BY event_type
    ORDER BY key
    """,
)
def mr_python_reducer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary Python reducer per key (value range in cents) through
    applyInPandas — the 'any code in the Reducer' parity path. Heavy
    lifting (cents conversion) stays JVM-side; Python sees one small
    Arrow batch per key."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        F.col("event_type").alias("key"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("value"),
    )
    pipe = Pipeline(
        steps=[Step(reducer=_range_reducer, reduce_schema="key string, value bigint")],
        name="mr_python_reducer",
    )
    return pipe.run(kv).orderBy("key")


def _max_combiner(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Map-side partial: per-key max within one map task. Same schema
    in as out (the reference's combiner rewrites the map-output stream,
    runner.go:188-195)."""
    return pd.DataFrame({"key": [key], "value": [int(pdf["value"].max())]})


def _max_reducer(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"key": [key], "value": [int(pdf["value"].max())]})


@query(
    "mr_combiner",
    oracle="""
    SELECT event_type AS key,
           CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value
    FROM events
    GROUP BY event_type
    ORDER BY key
    """,
)
def mr_combiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python reducer WITH a map-side combiner (map_reduce_step.go:15-17,
    dispatch runner.go:290-295): per-event-type max cents. The combiner
    pre-reduces each map task's rows before the shuffle, so each map task
    ships one partial per key instead of every row — the hot-key
    protection the reference's Combiner contract exists for. Shuffle-row
    reduction is asserted in tests/test_pipeline.py."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        F.col("event_type").alias("key"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("value"),
    )
    pipe = Pipeline(
        steps=[
            Step(
                reducer=_max_reducer,
                combiner=_max_combiner,
                reduce_schema="key string, value bigint",
            )
        ],
        name="mr_combiner",
    )
    return pipe.run(kv).orderBy("key")
