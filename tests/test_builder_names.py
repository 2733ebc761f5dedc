"""The web expression builders (operators/{urls,robots,html,sitemap}.py)
share one argument convention: a ``str`` is a column NAME, quoted as an
identifier, never spliced into the SQL text."""

from __future__ import annotations

import pytest

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


def _calls():
    """Every public builder with the input columns it reads, and lists
    of other names for those columns, taken from the lambda variables
    the builders used before they took the reserved prefix (the ones
    the builder or its composed builders used, where it had any)."""
    # imported here: operators.sitemap defines pandas UDFs, which need
    # the session at import time
    from gomrjob_spark.operators import html as H
    from gomrjob_spark.operators import robots as R
    from gomrjob_spark.operators import sitemap as S
    from gomrjob_spark.operators import urls as U

    return [
        (U.synth_url, ("doc_id",), [("i",)]),
        (U.url_normalize, ("url",), [("p",)]),
        (U.registered_domain, ("host",), [("p",)]),
        (R.synth_robots, ("k",), [("ln",)]),
        (R.parse_rules, ("txt",), [("acc",), ("ln",)]),
        (R.robots_verdict, ("path", "rules"), [("r", "acc"), ("acc", "r")]),
        (R.synth_verdict, ("path", "k"), [("r", "ln"), ("acc", "r"), ("ln", "acc")]),
        (R.parse_sitemap_directives, ("txt",), [("ln",)]),
        (H.synth_html, ("doc_id", "text", "lang"), [("i", "w", "b")]),
        (H.decode_entities, ("html",), [("l",)]),
        (H.block_structs, ("html",), [("tag",), ("i",), ("acc",), ("l",), ("w",)]),
        (H.extract_metadata, ("html",), [("b",)]),
        (H.extract_links, ("html", "base"), [("i", "href"), ("href", "p")]),
        (S.synth_sitemap, ("k",), [("i",), ("acc",)]),
        (S.parse_entries, ("xml",), [("b",)]),
        (S.synth_sitemap_index, ("k",), [("j",), ("acc",)]),
        (S.parse_index_entries, ("xml",), [("b",)]),
        (S.synth_child_sitemap, ("k", "j"), [("i", "acc"), ("acc", "i")]),
    ]


def _frame(spark):
    from gomrjob_spark.operators import robots as R

    cols = {**ROW, **{name + ODD: v for name, v in ROW.items()}}
    df = spark.createDataFrame([tuple(cols.values())], list(cols))
    # the sitemap formulas read the domain from this fixed column
    df = df.withColumn("registered_domain", df["host"])
    return df.withColumn("rules", R.parse_rules("txt")).withColumn(
        "rules" + ODD, R.parse_rules("txt" + ODD)
    )


def _plain(df, calls):
    return df.select(
        [f(*args).alias(str(i)) for i, (f, args, _) in enumerate(calls)]
    ).first()


def test_every_builder_takes_any_column_name(spark):
    """Each builder gives the same value over a column whose name holds
    a space and backticks as over a plain one."""
    calls = _calls()
    df = _frame(spark)
    plain = _plain(df, calls)
    odd = df.select(
        [
            f(*(a + ODD for a in args)).alias(str(i))
            for i, (f, args, _) in enumerate(calls)
        ]
    ).first()
    assert plain == odd
    assert all(v is not None for v in plain)


def test_lambda_variables_do_not_shadow_input_columns(spark):
    """Each builder gives the same value over input columns named like
    the lambda variables it used before they took the reserved prefix
    (``html.extract_links("html", "href")`` returned NULL resolved URLs
    when the base-URL column was named ``href``)."""
    from pyspark.sql import functions as F

    calls = _calls()
    df = _frame(spark)
    plain = _plain(df, calls)
    # pack the checks into few one-row frames: a frame holds each
    # column name once, renamed from one plain input column
    frames: list[tuple[dict, list]] = []
    for i, (f, args, shadows) in enumerate(calls):
        for names in shadows:
            renames = dict(zip(names, args))
            for cols, exprs in frames:
                if all(cols.get(n, a) == a for n, a in renames.items()):
                    break
            else:
                cols, exprs = {}, []
                frames.append((cols, exprs))
            cols.update(renames)
            exprs.append((i, f(*names)))
    for cols, exprs in frames:
        renamed = df.select(
            "registered_domain", *(F.col(a).alias(n) for n, a in cols.items())
        )
        row = renamed.select([e.alias(str(k)) for k, (_, e) in enumerate(exprs)]).first()
        assert [plain[i] for i, _ in exprs] == list(row)


def test_reserved_lambda_prefix_is_refused():
    from gomrjob_spark.functions import LAMBDA_PREFIX, sql_ident

    assert sql_ident("lv_x") == "`lv_x`"
    for name in (LAMBDA_PREFIX + "acc", LAMBDA_PREFIX.upper() + "I"):
        with pytest.raises(ValueError, match="reserved"):
            sql_ident(name)
