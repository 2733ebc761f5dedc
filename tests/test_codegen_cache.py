"""The engine session keeps its generated code: a query that ran before
reuses its Janino-compiled classes instead of recompiling them."""

from __future__ import annotations

from gomrjob_spark.counters import Counters

#: The benchmark's crawl round plus one more dedup query. In a fresh
#: session at sf0.001 one cycle compiles 107 classes (26 + 11 + 55 + 15),
#: more than Spark's default codegen cache holds (100 entries, and it
#: evicts before it is full).
CYCLE = (
    "sitemap_discovery",
    "url_canonicalize",
    "dedup_cluster_survivors",
    "dedup_url_exact",
)


def _compiles(spark, fn) -> int:
    c = Counters(spark)
    before = c.compile_report()["janino_compiles"]
    fn()
    return c.compile_report()["janino_compiles"] - before


def test_compile_report_keys_and_warm_rerun(spark):
    report = Counters(spark).compile_report()
    assert set(report) == {"janino_compiles", "janino_compile_ms", "jit_compile_ms"}
    assert all(v >= 0 for v in report.values())

    def run():
        spark.range(50).selectExpr("id % 7 AS k", "id * 3 AS v").groupBy("k").sum(
            "v"
        ).collect()

    run()
    assert _compiles(spark, run) == 0


def test_warm_cycle_compiles_nothing(spark, sf_dir):
    """The second cycle of the queries compiles no class."""
    from gomrjob_spark import plans
    from gomrjob_spark.cache import release_scoped

    def cycle():
        for name in CYCLE:
            try:
                plans.QUERIES[name](spark, sf_dir).collect()
            finally:
                release_scoped()

    _compiles(spark, cycle)
    assert _compiles(spark, cycle) == 0
