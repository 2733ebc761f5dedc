"""sitemap.xml parsing (operators/sitemap.py): comment-decoy immunity,
the spec's whitespace rule, lenient field presence, and fixture
non-vacuity of both decoy classes."""

from __future__ import annotations

import pyspark.sql.functions as F


def _parse(spark, xml: str):
    from gomrjob_spark.operators.sitemap import parse_entries

    df = spark.createDataFrame([(xml,)], "xml string")
    return df.select(parse_entries("xml").alias("e")).first()["e"]


def test_commented_out_entry_is_not_harvested(spark):
    xml = (
        "<urlset>\n"
        "<!-- <url><loc>https://decoy.example/x</loc></url> -->\n"
        "<url><loc>https://a.example/1</loc>"
        "<priority>0.7</priority></url>\n"
        "</urlset>"
    )
    entries = _parse(spark, xml)
    assert [e["loc"] for e in entries] == ["https://a.example/1"]
    assert entries[0]["priority_ppm"] == 700000


def test_multiline_comment_spanning_entries(spark):
    xml = (
        "<urlset><!-- retired:\n<url><loc>x</loc></url>\n"
        "<url><loc>y</loc></url>\n-->"
        "<url><loc>https://kept.example/</loc></url></urlset>"
    )
    assert [e["loc"] for e in _parse(spark, xml)] == ["https://kept.example/"]


def test_loc_whitespace_is_trimmed_including_newlines(spark):
    xml = (
        "<urlset><url><loc>\n   https://a.example/p \n</loc>"
        "<lastmod>\n2026-03-01 </lastmod></url></urlset>"
    )
    (e,) = _parse(spark, xml)
    assert e["loc"] == "https://a.example/p"
    assert e["lastmod"] == "2026-03-01"


def test_missing_fields_are_lenient(spark):
    xml = "<urlset><url><loc>https://a.example/</loc></url></urlset>"
    (e,) = _parse(spark, xml)
    assert e["lastmod"] == "" and e["priority_ppm"] is None


def test_fixture_decoys_nonvacuous(spark, sf_dir):
    from gomrjob_spark.operators.sitemap import synth_sitemap
    from gomrjob_spark.operators import urls
    from gomrjob_spark.plans.web import _docs_with_urls

    doms = (
        urls.with_url_columns(_docs_with_urls(spark, sf_dir))
        .select("registered_domain").distinct()
        .withColumn("k", F.regexp_extract(
            F.col("registered_domain"), "site([0-9]+)", 1).cast("bigint"))
        .withColumn("xml", synth_sitemap("k"))
    )
    n_comment = doms.filter(F.col("xml").contains("<!--")).count()
    n_noise = doms.filter(F.col("xml").contains("<loc>\n")).count()
    assert n_comment > 0 and n_noise > 0


def test_priority_full_spec_range(spark):
    # r12 advisor finding #3: '1.0', multi-digit fractions, and bare
    # integers are spec-legal — fixed-point conversion, no floats
    xml = (
        "<urlset>"
        "<url><loc>https://a.example/1</loc><priority>1.0</priority></url>"
        "<url><loc>https://a.example/2</loc><priority>0.55</priority></url>"
        "<url><loc>https://a.example/3</loc><priority>1</priority></url>"
        "<url><loc>https://a.example/4</loc><priority>0.1234567</priority></url>"
        "<url><loc>https://a.example/5</loc><priority>0.3</priority></url>"
        "</urlset>"
    )
    entries = _parse(spark, xml)
    assert [e["priority_ppm"] for e in entries] == [
        1000000,
        550000,
        1000000,
        123456,  # 7th fraction digit truncates
        300000,
    ]


def test_index_commented_out_child_is_not_harvested(spark):
    from gomrjob_spark.operators.sitemap import parse_index_entries

    xml = (
        "<sitemapindex>\n"
        "<!-- migrated:\n<sitemap><loc>https://decoy.example/old.xml"
        "</loc></sitemap>\n-->\n"
        "<sitemap><loc>\n  https://a.example/sitemap-c0.xml \n</loc>"
        "</sitemap>\n"
        "</sitemapindex>"
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    row = df.select(parse_index_entries("xml").alias("c")).first()["c"]
    assert row == ["https://a.example/sitemap-c0.xml"]


def test_index_parser_yields_nothing_on_a_urlset(spark):
    from gomrjob_spark.operators.sitemap import parse_index_entries

    xml = "<urlset><url><loc>https://a.example/p</loc></url></urlset>"
    df = spark.createDataFrame([(xml,)], "xml string")
    assert (
        df.select(parse_index_entries("xml").alias("c")).first()["c"]
        == []
    )


def test_commented_sitemap_directive_is_not_harvested(spark):
    from gomrjob_spark.operators.robots import parse_sitemap_directives

    txt = (
        "User-agent: *\nDisallow: /a\n"
        "# Sitemap: https://decoy.example/no.xml\n"
        "sitemap:   https://a.example/sitemap-index.xml  \n"
    )
    df = spark.createDataFrame([(txt,)], "robots string")
    got = df.select(
        parse_sitemap_directives("robots").alias("s")
    ).first()["s"]
    assert got == ["https://a.example/sitemap-index.xml"]


def test_discovery_inconsistency_nonvacuous(spark, sf_dir):
    """publisher_inconsistent must occur BOTH ways at fixture scale,
    and only on robots-disallowed paths — otherwise the robots join in
    the composed chain is vacuous."""
    from gomrjob_spark.plans.web import sitemap_discovery

    rows = sitemap_discovery(spark, sf_dir).collect()
    bad = [r for r in rows if r["publisher_inconsistent"]]
    ok = [r for r in rows if not r["publisher_inconsistent"]]
    assert bad and ok
    for r in rows:
        assert r["publisher_inconsistent"] == (not r["allowed"])
        assert r["loc"].startswith("https://" + r["registered_domain"])
        assert r["sitemap_url"].endswith("/sitemap-index.xml")
    # the gated section really is hit: some inconsistent rows are /a...
    assert any("/a" in r["loc"].split(r["registered_domain"])[1] for r in bad)


def test_priority_above_spec_cap_is_null(spark):
    """r13 advisor: '[01](\\.[0-9]+)?' accepted out-of-spec '1.5',
    yielding ppm > 1000000; the sitemaps spec caps priority at 1.0, so
    such values must land as null like any other malformed field."""
    xml = (
        "<urlset>"
        "<url><loc>https://a.example/1</loc><priority>1.5</priority></url>"
        "<url><loc>https://a.example/2</loc><priority>1.9</priority></url>"
        "<url><loc>https://a.example/3</loc><priority>1.0</priority></url>"
        "<url><loc>https://a.example/4</loc><priority>1</priority></url>"
        "</urlset>"
    )
    entries = _parse(spark, xml)
    assert [e["priority_ppm"] for e in entries] == [
        None,
        None,
        1000000,
        1000000,
    ]


def test_gz_payload_roundtrip_is_multimember(spark):
    """The writer twin emits gz children as TWO concatenated gzip
    members split mid-document; the reader must inflate ALL members
    (a first-member-only reader loses the tail entries)."""
    import gzip
    import zlib

    from gomrjob_spark.operators.sitemap import (
        decode_xml_payload,
        encode_xml_payload,
    )

    xml = "<urlset>" + "".join(
        f"<url><loc>https://a.example/p{i}</loc></url>" for i in range(10)
    ) + "</urlset>"
    df = spark.createDataFrame(
        [(xml, True, "https://a.example/sitemap-c0.xml.gz"),
         (xml, False, "https://a.example/sitemap-c1.xml")],
        "xml string, gz boolean, url string",
    )
    enc = df.select(
        "url", encode_xml_payload(F.col("xml"), F.col("gz")).alias("payload")
    )
    rows = {r["url"]: bytes(r["payload"]) for r in enc.collect()}
    gz_bytes = rows["https://a.example/sitemap-c0.xml.gz"]
    # really two members: inflating only the first yields a PREFIX
    d = zlib.decompressobj(31)
    first = d.decompress(gz_bytes)
    assert d.eof and d.unused_data  # a second member follows
    assert first == xml.encode()[: len(xml.encode()) // 2]
    assert gzip.decompress(gz_bytes) == xml.encode()  # stdlib concatenates
    # plain child is raw utf-8
    assert rows["https://a.example/sitemap-c1.xml"] == xml.encode()
    # and the reader round-trips BOTH by extension
    dec = enc.select(
        "url", decode_xml_payload(F.col("payload"), F.col("url")).alias("xml")
    )
    for r in dec.collect():
        assert r["xml"] == xml


def test_gz_index_extension_choice_is_formula(spark):
    from gomrjob_spark.operators.sitemap import (
        parse_index_entries,
        synth_sitemap_index,
    )

    df = spark.createDataFrame(
        [("site7.canon.site", 7)], "registered_domain string, k bigint"
    )
    kids = (
        df.withColumn("xml", synth_sitemap_index("k", gz_children=True))
        .select(parse_index_entries("xml").alias("c"))
        .first()["c"]
    )
    # k=7: children j=0 (7+0 odd -> .xml), j=1 (even -> .xml.gz)
    assert kids == [
        "https://site7.canon.site/sitemap-c0.xml",
        "https://site7.canon.site/sitemap-c1.xml.gz",
    ]
    # default stays extensionless-gz (the r13-gated sitemap_discovery
    # child urls must not change)
    plain = (
        df.withColumn("xml", synth_sitemap_index("k"))
        .select(parse_index_entries("xml").alias("c"))
        .first()["c"]
    )
    assert all(u.endswith(".xml") for u in plain)
