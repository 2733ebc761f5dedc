"""The web expression builders (operators/{urls,robots,html,sitemap}.py)
share one argument convention: a ``str`` is a column NAME, quoted as an
identifier, never spliced into the SQL text."""

from __future__ import annotations

#: appended to every input column name: a space and a backtick pair
ODD = " `odd` name"

ROW = {
    "k": 6,
    "j": 1,
    "doc_id": 7,
    "text": "the quick a brown fox jumps over the lazy dog " * 5,
    "lang": "en",
    "url": "HTTP://WWW.A.com:80/x/?utm_a=1&id=2#f",
    "host": "a.b.site7.co.uk",
    "path": "/a2/p9",
    "txt": (
        "User-agent: *\nDisallow: /a2\nAllow: /a2/p\n"
        "Sitemap: https://a.example/s.xml\n"
    ),
    "html": (
        '<html lang="en"><head><title>T &amp; U</title></head><body>'
        '<p>the quick brown fox jumps over the lazy dog and keeps going '
        '<a href="/r0">more</a></p><script>var p = "<p>x</p>";</script>'
        "</body></html>"
    ),
    "base": "http://cdn1.site4.com/a1/p12",
    "xml": (
        "<urlset><url><loc> https://a.example/1 </loc>"
        "<priority>0.5</priority></url>"
        "<sitemap><loc>https://a.example/c0.xml</loc></sitemap></urlset>"
    ),
}


def test_every_builder_takes_any_column_name(spark):
    """Each builder gives the same value over a column whose name holds
    a space and backticks as over a plain one."""
    # imported here: operators.sitemap defines pandas UDFs, which need
    # the session at import time
    from gomrjob_spark.operators import html as H
    from gomrjob_spark.operators import robots as R
    from gomrjob_spark.operators import sitemap as S
    from gomrjob_spark.operators import urls as U

    # every public builder with the input columns it reads
    calls = [
        (U.synth_url, "doc_id"),
        (U.url_normalize, "url"),
        (U.registered_domain, "host"),
        (R.synth_robots, "k"),
        (R.parse_rules, "txt"),
        (R.robots_verdict, "path", "rules"),
        (R.synth_verdict, "path", "k"),
        (R.parse_sitemap_directives, "txt"),
        (H.synth_html, "doc_id", "text", "lang"),
        (H.decode_entities, "html"),
        (H.block_structs, "html"),
        (H.extract_metadata, "html"),
        (H.extract_links, "html", "base"),
        (S.synth_sitemap, "k"),
        (S.parse_entries, "xml"),
        (S.synth_sitemap_index, "k"),
        (S.parse_index_entries, "xml"),
        (S.synth_child_sitemap, "k", "j"),
    ]
    cols = {**ROW, **{name + ODD: v for name, v in ROW.items()}}
    df = spark.createDataFrame([tuple(cols.values())], list(cols))
    # the sitemap formulas read the domain from this fixed column
    df = df.withColumn("registered_domain", df["host"])
    df = df.withColumn("rules", R.parse_rules("txt")).withColumn(
        "rules" + ODD, R.parse_rules("txt" + ODD)
    )
    plain = df.select(
        [f(*args).alias(str(i)) for i, (f, *args) in enumerate(calls)]
    ).first()
    odd = df.select(
        [
            f(*(a + ODD for a in args)).alias(str(i))
            for i, (f, *args) in enumerate(calls)
        ]
    ).first()
    assert plain == odd
    assert all(v is not None for v in plain)
