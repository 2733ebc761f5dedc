"""gomrjob_spark — a PySpark-native analytics engine with the capabilities of
jehiah/gomrjob (plus the full relational / streaming / LLM-pipeline surface).

The reference (/root/reference, Go, 1,944 LoC) is a Hadoop Streaming job
framework: Mapper/Reducer/Combiner over line streams, JSON/raw tab-KV serde,
multi-step chaining, counters, and a golden-test harness. This package
re-expresses those *capabilities* Spark-first:

- ``gomrjob_spark.session``   — SparkSession builder (runner.go:68-96 analog)
- ``gomrjob_spark.catalog``   — testdata table loading / view registration
- ``gomrjob_spark.counters``  — Counter/Status (reporter.go analog)
- ``gomrjob_spark.pipeline``  — Pipeline/Step API (runner.go, map_reduce_step.go)
- ``gomrjob_spark.protocols`` — serde codecs (mrproto/protocol.go analog)
- ``gomrjob_spark.plans``     — the query library + DuckDB oracle registry
- ``gomrjob_spark.operators`` — relational extensions, dedup, similarity, text
- ``gomrjob_spark.streaming`` — Structured Streaming operators
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy: Python workers import this package for their daemon
    # (gomrjob_spark.worker_daemon), which must not pull in pyspark.sql
    if name == "get_session":
        from gomrjob_spark.session import get_session

        return get_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
