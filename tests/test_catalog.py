"""The catalog's memoized table schemas: a second read of an unchanged
file runs no Spark job and gets the schema Spark infers, and a file
rewritten at the same path is inferred again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from gomrjob_spark.catalog import TABLES, load_table, table_path, table_schema


def _jobs(spark, group, fn):
    """(fn's result, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    table = pa.table(
        {"doc_id": pa.array([1, 2], pa.int64()), "text": ["a b", "c d"]},
        schema=pa.schema([pa.field("doc_id", pa.int64(), nullable=False), ("text", pa.string())]),
    )
    pq.write_table(table, table_path(str(tmp_path), "documents"))
    first, _ = _jobs(spark, "catalog_first", lambda: load_table(spark, str(tmp_path), "documents").schema)
    again, n_jobs = _jobs(spark, "catalog_again", lambda: load_table(spark, str(tmp_path), "documents").schema)
    inferred = spark.read.parquet(table_path(str(tmp_path), "documents")).schema
    assert n_jobs == 0
    # StructType equality compares nullability too
    assert first == again == inferred
    assert again.jsonValue() == inferred.jsonValue()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = table_path(str(tmp_path), "documents")
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64()), "lang": ["en"]}), path)
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "lang"]
    assert [tuple(r) for r in df.collect()] == [(1, "en")]


def test_catalog_schemas_match_inference(spark, sf_dir):
    """Every table of the smoke catalog: the memoized schema is the one
    Spark infers, nullability included, and reading it again runs no
    Spark job."""
    for name in TABLES:
        table_schema(spark, sf_dir, name)  # fills the memo (and sets nanosAsLong for events)
        memo, n_jobs = _jobs(spark, f"catalog_{name}", lambda: table_schema(spark, sf_dir, name))
        assert n_jobs == 0, name
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert memo.jsonValue() == inferred.jsonValue(), name
