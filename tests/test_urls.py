"""URL/domain curation family (operators/urls.py, plans/web.py).

The driver hash gate proves Spark==DuckDB on the synthesized fixture;
these tests pin the CONTRACT itself on handcrafted URLs (each
normalization rule in isolation), the non-vacuity of the gate fixtures,
and the plan shapes (the gate family must stay shuffle-free)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gomrjob_spark.operators import urls
from gomrjob_spark.plans.web import BLOCKLIST, _docs_with_urls


def _norm(spark, raw: str) -> str:
    df = spark.createDataFrame([(raw,)], "url string")
    return df.select(urls.url_normalize("url").alias("n")).first()["n"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        # rule 1+2: case + www.
        ("HTTP://WWW.A.Example.COM/x", "http://a.example.com/x"),
        # rule 3: default ports stripped, non-default kept
        ("http://a.com:80/x", "http://a.com/x"),
        ("https://a.com:443/x", "https://a.com/x"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),
        ("https://a.com:80/x", "https://a.com:80/x"),  # 80 not https default
        # rule 4: tracking params out, order of the rest preserved
        (
            "http://a.com/x?utm_source=s&b=2&gclid=g&a=1&fbclid=f",
            "http://a.com/x?b=2&a=1",
        ),
        ("http://a.com/x?utm_source=s&utm_campaign=c", "http://a.com/x"),
        # rule 5: fragment dropped
        ("http://a.com/x#frag", "http://a.com/x"),
        # rule 6: empty path -> '/', trailing slash stripped (not root)
        ("http://a.com", "http://a.com/"),
        ("http://a.com/", "http://a.com/"),
        ("http://a.com/x/", "http://a.com/x"),
        # everything at once
        (
            "HTTPS://WWW.B.CO.UK:443/p/q/?id=1&utm_medium=m#top",
            "https://b.co.uk/p/q?id=1",
        ),
        # adversarial shapes: null query, default/odd ports, root
        # paths, uppercase, tracking-only query, multi-label suffix
        ("HTTP://WWW.Site3.CO.UK:80/", "http://site3.co.uk/"),
        (
            "https://cdn1.site7.co.uk:443/a/?utm_source=x&gclid=1",
            "https://cdn1.site7.co.uk/a",
        ),
        (
            "http://a.b.example.com:8080/p/?id=1&fbclid=f2#frag",
            "http://a.b.example.com:8080/p?id=1",
        ),
        ("https://example.org", "https://example.org/"),
        ("http://www.example.com/deep/path/", "http://example.com/deep/path"),
        ("https://site.net/?utm_a=1&utm_b=2", "https://site.net/"),
    ],
)
def test_normalize_contract(spark, raw, expected):
    assert _norm(spark, raw) == expected


def test_normalize_idempotent(spark):
    """normalize(normalize(u)) == normalize(u) — canonical forms are
    fixed points (the property that makes incremental recrawls safe)."""
    df = _docs_with_urls(spark, "/root/testdata/sf0.001")
    staged = df.select(urls.url_normalize("url").alias("n1"))
    twice = staged.select(
        "n1", urls.url_normalize("n1").alias("n2")
    ).filter(F.col("n1") != F.col("n2"))
    assert twice.count() == 0


@pytest.mark.parametrize(
    "host,expected",
    [
        ("a.b.site7.co.uk", "site7.co.uk"),
        ("site7.co.uk", "site7.co.uk"),
        ("cdn1.site3.org", "site3.org"),
        ("deep.sub.domain.example.com", "example.com"),
        ("example.com", "example.com"),
        # hosts of the adversarial normalize cases above
        ("site3.co.uk", "site3.co.uk"),
        ("cdn1.site7.co.uk", "site7.co.uk"),
        ("a.b.example.com", "example.com"),
        ("example.org", "example.org"),
        ("site.net", "site.net"),
    ],
)
def test_registered_domain(spark, host, expected):
    df = spark.createDataFrame([(host,)], "h string")
    got = df.select(urls.registered_domain("h").alias("d")).first()["d"]
    assert got == expected


def test_blocklist_not_vacuous(spark):
    """Every blocklisted domain occurs in the synthesized host space and
    both verdict classes are populated — the gate genuinely gates."""
    out = urls.domain_gate(
        _docs_with_urls(spark, "/root/testdata/sf0.001"), BLOCKLIST
    )
    doms = {r["registered_domain"] for r in out.collect()}
    assert set(BLOCKLIST) <= doms
    verdicts = out.groupBy("blocked").count().collect()
    assert len(verdicts) == 2 and all(r["count"] > 0 for r in verdicts)


def test_dedup_collapses_id_triples(spark):
    """Consecutive id-triples are one resource behind three raw
    variants: interior groups must have n_docs == 3 distinct raw URLs
    collapsing to one canonical URL."""
    out = urls.url_exact_dedup(
        _docs_with_urls(spark, "/root/testdata/sf0.001")
    ).collect()
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    full = [r for r in out if r["keeper"] + 2 < n_docs]
    assert full and all(r["n_docs"] == 3 for r in full)
    assert all(r["n_raw_variants"] == 3 for r in full)
    # and the collapse is genuine: raw URLs deduped exactly would leave
    # ~3x more groups
    assert len(out) * 2 < n_docs


def test_gate_family_is_shuffle_free(spark):
    """The canonicalize/gate path is a pure scan projection — zero
    Exchanges (the position-zero-on-the-raw-crawl property); the dedup
    adds exactly one hash-partitioned partial-agg exchange."""
    docs = _docs_with_urls(spark, "/root/testdata/sf0.001")
    gate_plan = urls.domain_gate(docs, BLOCKLIST)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in gate_plan
    # the dedup's count(DISTINCT url) plans as Catalyst's two-phase
    # distinct aggregate: partial-agg on (norm_url, url), exchange,
    # merge, exchange on norm_url — exactly two hash exchanges, both
    # carrying (canonical url, raw url, partial counts) only
    dedup_plan = urls.url_exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert dedup_plan.count("Exchange hashpartitioning") == 2
    assert "partial_" in dedup_plan  # map-side combine before the shuffle


def test_stream_batch_equivalence(spark):
    """url_gate_stream is the identical column program as the batch
    gate — same verdicts on the same rows (batching-invariance is then
    structural: the program is stateless)."""
    from gomrjob_spark.streaming.ops import url_gate_stream

    docs = _docs_with_urls(spark, "/root/testdata/sf0.001")
    batch = {
        r["doc_id"]: (r["norm_url"], r["blocked"])
        for r in urls.domain_gate(docs, BLOCKLIST).collect()
    }
    # the stream op accepts any DataFrame (stateless projection): feed
    # the batch frame through the stream operator directly
    streamed = {
        r["doc_id"]: (r["norm_url"], r["blocked"])
        for r in url_gate_stream(docs, BLOCKLIST).collect()
    }
    assert batch == streamed


class TestPsl:
    """Exact PSL registrable domains (urls.registered_domain_psl) —
    parity with the heuristic on the fixture's host space, and the
    documented divergence classes on real-world shapes."""

    def _psl(self, spark, hosts):
        import pyspark.sql.functions as F

        from gomrjob_spark.operators.urls import registered_domain_psl

        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        rows = registered_domain_psl(df).select(
            "host", "registered_domain_psl"
        ).collect()
        return {r["host"]: r["registered_domain_psl"] for r in rows}

    def test_parity_with_heuristic_on_fixture_hosts(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from gomrjob_spark.operators import urls
        from gomrjob_spark.operators.urls import registered_domain_psl
        from gomrjob_spark.plans.web import _docs_with_urls

        staged = urls.with_url_columns(_docs_with_urls(spark, sf_dir))
        both = registered_domain_psl(staged)
        diff = both.filter(
            ~F.col("registered_domain_psl").eqNullSafe(
                F.col("registered_domain")
            )
        ).count()
        assert diff == 0  # the snapshot covers the fixture's suffixes

    def test_plain_and_multilabel_suffixes(self, spark):
        m = self._psl(spark, [
            "a.b.example.com", "example.co.uk", "deep.sub.x.org.uk",
        ])
        assert m["a.b.example.com"] == "example.com"
        assert m["example.co.uk"] == "example.co.uk"
        assert m["deep.sub.x.org.uk"] == "x.org.uk"

    def test_wildcard_rule(self, spark):
        # *.ck: every label under .ck is a public suffix
        m = self._psl(spark, ["b.any.ck", "any.ck"])
        assert m["b.any.ck"] == "b.any.ck"
        assert m["any.ck"] is None  # a public suffix has no registrable

    def test_exception_rule(self, spark):
        # !www.ck carves www.ck back OUT of the wildcard
        m = self._psl(spark, ["www.ck", "x.www.ck"])
        assert m["www.ck"] == "www.ck"
        assert m["x.www.ck"] == "www.ck"

    def test_private_section_divergence(self, spark):
        # github.io is a (private-section) public suffix: the PSL path
        # keeps per-user sites apart where the heuristic collapses them
        m = self._psl(spark, ["alice.github.io", "bob.github.io"])
        assert m["alice.github.io"] == "alice.github.io"
        assert m["bob.github.io"] == "bob.github.io"

    def test_default_rule_for_unknown_tld(self, spark):
        # no rule matches -> default '*': last label is the suffix
        m = self._psl(spark, ["foo.bar.unknowntld"])
        assert m["foo.bar.unknowntld"] == "bar.unknowntld"

    def test_zero_shuffle_plan(self, spark):
        import io
        from contextlib import redirect_stdout

        from gomrjob_spark.operators.urls import registered_domain_psl

        df = spark.createDataFrame([("a.example.com",)], "host string")
        buf = io.StringIO()
        with redirect_stdout(buf):
            registered_domain_psl(df).explain("formatted")
        plan = buf.getvalue()
        # the 1-row rule model broadcasts (BroadcastExchange is the
        # allowlisted BNLJ shape); no SHUFFLE exchange anywhere
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan


def test_psl_oracle_rules_match_snapshot():
    """The oracle's VALUES table and the operator's snapshot tuple
    must be the SAME rule set — drift pin for url_registered_domain_psl
    (the gate would catch a behavioral drift, but only on rules the
    fixture hosts exercise; this pins the full set)."""
    import re

    from gomrjob_spark.operators.urls import DEFAULT_PSL_SNAPSHOT
    from gomrjob_spark.plans.web import _PSL_RULES_SQL

    sql_rules = tuple(re.findall(r"\('([^']+)'\)", _PSL_RULES_SQL))
    assert sql_rules == DEFAULT_PSL_SNAPSHOT


def test_psl_gate_fixture_divergence_nonvacuous(spark, sf_dir):
    """The gated output must exercise BOTH verdicts of `diverges` and
    the null-registrable case — otherwise the PSL-vs-heuristic
    comparison is vacuously green."""
    from gomrjob_spark.plans.web import url_registered_domain_psl

    rows = url_registered_domain_psl(spark, sf_dir).collect()
    div = [r for r in rows if r["diverges"]]
    same = [r for r in rows if not r["diverges"]]
    nulls = [r for r in rows if r["registered_domain_psl"] is None]
    assert div and same and nulls
    # the exception class agrees with the heuristic by design
    exc = [r for r in rows if r["host"].endswith(".www.ck")]
    assert exc and all(
        r["registered_domain_psl"] == "www.ck" and not r["diverges"]
        for r in exc
    )
    # the wildcard class keeps the whole 3-label host
    wild = [r for r in rows if ".zone" in r["host"]]
    assert wild and all(
        r["registered_domain_psl"] == r["host"] and r["diverges"]
        for r in wild
    )


def test_surt_transform(spark):
    from gomrjob_spark.operators.urls import surt

    cases = [
        ("https://www.Example.com/a?q=1", "com,example,www)/a?q=1"),
        ("http://c7.example.org/r3", "org,example,c7)/r3"),
        ("https://host.tld", "tld,host)"),  # no path
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(surt(F.col("url"))).collect()]
    assert got == [e for _, e in cases]


def test_cdxj_lines_are_surt_sorted_and_json_parseable(spark, sf_dir):
    import json

    from gomrjob_spark.plans.web import warc_cdx_cdxj

    rows = warc_cdx_cdxj(spark, sf_dir).collect()
    keys = [(r["surt_key"], r["ts14"]) for r in rows]
    assert keys == sorted(keys)  # globally SURT-ordered (binary-searchable)
    for r in rows[:20]:
        skey, ts, blob = r["line"].split(" ", 2)
        assert skey == r["surt_key"] and ts == r["ts14"] and len(ts) == 14
        j = json.loads(blob)  # valid JSON payload (pywb-consumable)
        assert set(j) == {"url", "digest", "length", "offset", "filename"}
        assert j["length"].isdigit() and j["offset"].isdigit()  # CC strings
