"""sitemap.xml parsing — the crawl frontier's SEEDING step.

robots.txt says what a crawler may NOT fetch; the sitemap (the
sitemaps.org protocol, referenced from robots.txt's ``Sitemap:``
directive) says what the publisher WANTS fetched, with freshness
hints. A curation pipeline reads it to seed and prioritize the
frontier: per URL entry, ``<loc>`` (the URL — the spec requires
whitespace-tolerant parsing, so values must be trimmed), ``<lastmod>``
(W3C date) and ``<priority>`` (0.0-1.0, kept here as exact fixed-point
ppm — the repo's float-free convention).

The parse is a pure row-local column program (strip XML comments with
one dotall regex, extract ``<url>`` blocks, then per-block field
extraction) — zero UDFs, zero shuffles, the robots-family posture, so
frontier seeding composes into the same scan as robots admission.
Builders and parsers are one SQL string each (the urls-family
convention: a ``_x_sql`` composer over expression text, a public ``x``
over column NAMES).

The fixture synthesizes each domain's sitemap from its site number
(:func:`synth_sitemap` — the robots-family device) with the
adversarial cases baked in: every 3rd domain's file carries a
COMMENTED-OUT ``<url>`` block (a regex harvest that does not strip
comments first counts a phantom entry and fails the hash gate), and
every 2nd domain wraps its ``<loc>`` values in newlines/spaces (the
spec's whitespace rule — an untrimmed extraction cannot match the
oracle's clean URLs).

Reference parity note: jehiah/gomrjob has no crawl layer; this family
is part of the LLM-training-data surface the build brief adds
(SURVEY.md §2F extensions), sitting next to operators/robots.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gomrjob_spark.functions import sql_ident, sql_lit

#: the synthesized files name their domain through this column
_DOMAIN = sql_ident("registered_domain")

_URLSET_OPEN = sql_lit(
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
)
_URLSET_CLOSE = sql_lit("</urlset>\n")
_URL_DECOY = sql_lit(
    "  <!-- retired:\n  <url><loc>https://decoy.example/x</loc>"
    "<lastmod>2026-01-01</lastmod></url>\n  -->\n"
)

#: XML comments (dotall), stripped before any harvest
_COMMENT = sql_lit(r"(?s)<!--.*?-->")

#: the spec's whitespace rule — Spark's trim() strips SPACES only, and
#: the rule includes newlines/tabs, so both ends trim with a regex
_WTRIM = sql_lit(r"(?s)^\s+|\s+$")

#: whitespace noise around a noised ``<loc>`` value
_NOISE = (sql_lit("\n      "), sql_lit(" \n    "))


def _noised_sql(loc: str, noisy: str) -> str:
    """``loc`` wrapped in newline/space noise where ``noisy`` holds."""
    return f"IF({noisy}, concat({_NOISE[0]}, {loc}, {_NOISE[1]}), {loc})"


def _url_entries_sql(n_last: str, loc: str, noisy: str, day: str, pri: str) -> str:
    """``<url>`` entries i = 0..``n_last`` (lambda variable ``i``),
    concatenated in order."""
    entry = ", ".join([
        sql_lit("  <url>\n    <loc>"),
        _noised_sql(loc, noisy),
        sql_lit("</loc>\n    <lastmod>2026-03-"),
        f"lpad(CAST({day} AS STRING), 2, '0')",
        sql_lit("</lastmod>\n    <priority>0."),
        f"CAST({pri} AS STRING)",
        sql_lit("</priority>\n  </url>\n"),
    ])
    return (
        f"aggregate(sequence(CAST(0 AS BIGINT), {n_last}), CAST('' AS STRING), "
        f"(acc, i) -> concat(acc, concat({entry})))"
    )


def _urlset_sql(decoy_when: str, entries: str) -> str:
    return (
        f"concat({_URLSET_OPEN}, IF({decoy_when}, {_URL_DECOY}, ''), "
        f"{entries}, {_URLSET_CLOSE})"
    )


def _synth_sitemap_sql(site_num: str) -> str:
    """:func:`synth_sitemap` as one SQL string over the expression text
    ``site_num``."""
    k = f"CAST({site_num} AS BIGINT)"
    loc = f"concat('https://', {_DOMAIN}, '/page', CAST(i AS STRING))"
    entries = _url_entries_sql(
        f"2 + {k} % 4", loc, f"{k} % 2 = 1", f"1 + ({k} + i) % 28",
        f"1 + ({k} + i) % 9",
    )
    return _urlset_sql(f"{k} % 3 = 0", entries)


def synth_sitemap(site_num: str) -> Column:
    """sitemap.xml text per domain as a PURE formula of the site-number
    column ``site_num`` (``k``) and the ``registered_domain`` column
    (mirrored by the oracle in plans/web.py, which recomputes entries
    from the formulas and never parses): 3 + k%4 ``<url>`` entries with
    formula loc/lastmod/priority; a commented-out decoy entry on
    k%3==0; whitespace-noised ``<loc>`` values on k%2==1."""
    return F.expr(_synth_sitemap_sql(sql_ident(site_num)))


def _parse_entries_sql(xml: str) -> str:
    """:func:`parse_entries` as one SQL string over the sitemap-text
    expression ``xml``."""
    clean = f"regexp_replace({xml}, {_COMMENT}, '')"
    blocks = f"regexp_extract_all({clean}, {sql_lit(r'(?s)<url>(.*?)</url>')}, 1)"

    def field(tag: str) -> str:
        pat = sql_lit(f"(?s)<{tag}>(.*?)</{tag}>")
        return f"regexp_replace(regexp_extract(b, {pat}, 1), {_WTRIM}, '')"

    # full spec range 0.0-1.0 (the r12 advisor's finding #3: '1.0' and
    # multi-digit fractions like '0.55' are legal), converted with
    # fixed-point string arithmetic — int part * 10^6 plus the first 6
    # fraction digits right-padded with zeros — never a float. The
    # integer-1 branch admits only zero fractions (the r13 advisor's
    # finding: '[01](\.[0-9]+)?' accepted out-of-spec '1.5'/'1.9',
    # yielding ppm > 1000000; the spec caps priority at 1.0, so
    # out-of-range values fail the extract and land as null ppm like
    # any other malformed field)
    pri_pat = sql_lit(r"<priority>(0(?:\.[0-9]+)?|1(?:\.0+)?)</priority>")
    pri = f"regexp_extract(b, {pri_pat}, 1)"
    dot = sql_lit(r"\.")
    fp = f"IF(instr({pri}, '.') > 0, split({pri}, {dot})[1], '')"
    ppm = (
        f"CAST(split({pri}, {dot})[0] AS BIGINT) * 1000000 + "
        f"CAST(rpad(substring({fp}, 1, 6), 6, '0') AS BIGINT)"
    )
    return (
        f"transform({blocks}, b -> named_struct('loc', {field('loc')}, "
        f"'lastmod', {field('lastmod')}, "
        f"'priority_ppm', IF({pri} != '', {ppm}, CAST(NULL AS BIGINT))))"
    )


def parse_entries(xml: str) -> Column:
    """sitemap text column -> array<struct<loc, lastmod, priority_ppm>>
    in file order. Comments strip FIRST (one dotall regex — a phantom
    commented-out entry is the classic harvest bug), then ``<url>``
    blocks extract and each field reads per block; ``<loc>`` trims per
    the spec's whitespace rule; ``<priority>`` accepts the full spec
    range 0.0-1.0 ('1.0', '0.55', bare '1') and converts to exact
    integer ppm with fixed-point string arithmetic (int part * 10^6 +
    first 6 fraction digits zero-padded — no floats; digits past the
    6th truncate). Entries missing a field get
    empty string / null ppm rather than erroring (sitemaps are
    publisher input: lenient field presence, strict structure)."""
    return F.expr(_parse_entries_sql(sql_ident(xml)))


@F.pandas_udf("binary")
def encode_xml_payload(xml, gz):  # type: ignore[misc]
    """Writer twin for the fetch layer (r14, the r13 verdict's item
    #5): the sitemap file as the BYTES a crawler would fetch. Plain
    children are utf-8; ``.xml.gz`` children (``gz`` true) compress as
    TWO concatenated gzip members split mid-document (mtime=0,
    deterministic) — real-world large sitemaps ship multi-member, and
    a reader that inflates only the FIRST member silently loses the
    tail entries and fails the hash gate (the member-decode decoy,
    sources/warc.py's device applied one layer up)."""
    import gzip  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    out = []
    for text, g in zip(xml, gz):
        raw = text.encode("utf-8")
        if g:
            cut = len(raw) // 2
            out.append(
                gzip.compress(raw[:cut], mtime=0)
                + gzip.compress(raw[cut:], mtime=0)
            )
        else:
            out.append(raw)
    return pd.Series(out)


@F.pandas_udf("string")
def decode_xml_payload(payload, url):  # type: ignore[misc]
    """Fetched sitemap bytes -> XML text. The compression choice is
    made BY FILENAME EXTENSION (how a real crawler decides — the URL
    it fetched is authoritative), never by magic-byte sniffing; gz
    payloads inflate as a CONCATENATED-MEMBER stream via the WARC
    member splitter (DEFLATE-structure boundaries, sources/warc.py:
    split_gzip_members), so multi-member files decode whole."""
    import pandas as pd  # noqa: PLC0415

    from gomrjob_spark.sources.warc import split_gzip_members  # noqa: PLC0415

    out = []
    for data, u in zip(payload, url):
        b = bytes(data)
        if u.endswith(".gz"):
            b = b"".join(m[2] for m in split_gzip_members(b))
        out.append(b.decode("utf-8"))
    return pd.Series(out)


def _synth_sitemap_index_sql(site_num: str, gz_children: bool) -> str:
    """:func:`synth_sitemap_index` as one SQL string over the
    expression text ``site_num``."""
    k = f"CAST({site_num} AS BIGINT)"
    ext = f"IF(({k} + j) % 2 = 0, '.xml.gz', '.xml')" if gz_children else "'.xml'"
    loc = f"concat('https://', {_DOMAIN}, '/sitemap-c', CAST(j AS STRING), {ext})"
    child = ", ".join([
        sql_lit("  <sitemap>\n    <loc>"),
        _noised_sql(loc, f"{k} % 2 = 1"),
        sql_lit("</loc>\n  </sitemap>\n"),
    ])
    decoy = sql_lit(
        "  <!-- migrated:\n  <sitemap><loc>https://decoy.example/"
        "old-sitemap.xml</loc></sitemap>\n  -->\n"
    )
    head = sql_lit(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
        'sitemap/0.9">\n'
    )
    tail = sql_lit("</sitemapindex>\n")
    return (
        f"concat({head}, IF({k} % 3 = 0, {decoy}, ''), "
        f"aggregate(sequence(CAST(0 AS BIGINT), {k} % 3), CAST('' AS STRING), "
        f"(acc, j) -> concat(acc, concat({child}))), {tail})"
    )


def synth_sitemap_index(site_num: str, gz_children: bool = False) -> Column:
    """``<sitemapindex>`` XML per domain as a PURE formula of the
    site-number column ``site_num`` (``k``) and the
    ``registered_domain`` column — the discovery layer above
    :func:`synth_sitemap`: real publishers shard large sitemaps into an
    index file referenced from robots.txt's ``Sitemap:`` directive.
    1 + k%3 child sitemaps at ``/sitemap-c<j>.xml``; a COMMENTED-OUT
    decoy ``<sitemap>`` block on k%3==0 (an index harvest that does not
    strip comments first fetches a phantom child and over-counts every
    later child's entries); whitespace-noised child ``<loc>`` values on
    k%2==1 (the spec's trimming rule, same device as the urlset
    fixture).

    ``gz_children=True`` (r14): every (k + j) % 2 == 0 child is listed
    with a ``.xml.gz`` extension — the realistic mixed-encoding index
    (most production sitemaps ship gzipped; the spec blesses it). The
    formula choice lets the oracle recompute which children are
    compressed without ever seeing the bytes."""
    return F.expr(_synth_sitemap_index_sql(sql_ident(site_num), gz_children))


def _parse_index_entries_sql(xml: str) -> str:
    """:func:`parse_index_entries` as one SQL string over the
    sitemap-text expression ``xml``."""
    clean = f"regexp_replace({xml}, {_COMMENT}, '')"
    blocks = (
        f"regexp_extract_all({clean}, "
        f"{sql_lit(r'(?s)<sitemap>(.*?)</sitemap>')}, 1)"
    )
    loc = f"regexp_extract(b, {sql_lit(r'(?s)<loc>(.*?)</loc>')}, 1)"
    return f"transform({blocks}, b -> regexp_replace({loc}, {_WTRIM}, ''))"


def parse_index_entries(xml: str) -> Column:
    """sitemapindex text column -> array<string> of child sitemap URLs
    in file order: comments strip FIRST (the urlset rule — a phantom
    commented-out child is the same harvest bug one level up), then
    ``<sitemap>`` blocks extract and each ``<loc>`` trims per the
    spec's whitespace rule. A urlset file yields an empty array (its
    ``<url>`` blocks are not ``<sitemap>`` blocks) — discovery code
    can therefore probe a fetched file for index-ness before choosing
    the parser."""
    return F.expr(_parse_index_entries_sql(sql_ident(xml)))


def _synth_child_sitemap_sql(site_num: str, child_idx: str) -> str:
    """:func:`synth_child_sitemap` as one SQL string over the
    expression texts ``site_num`` and ``child_idx``."""
    k = f"CAST({site_num} AS BIGINT)"
    j = f"CAST({child_idx} AS BIGINT)"
    path = (
        f"IF(i % 2 = 1, concat('/a', CAST(({k} + {j}) % 4 AS STRING), '/p', "
        f"CAST(i AS STRING)), concat('/c', CAST({j} AS STRING), '/page', "
        "CAST(i AS STRING)))"
    )
    entries = _url_entries_sql(
        f"1 + ({k} + {j}) % 3", f"concat('https://', {_DOMAIN}, {path})",
        f"({k} + {j}) % 2 = 1", f"1 + ({k} + {j} + i) % 28",
        f"1 + ({k} + {j} + i) % 9",
    )
    return _urlset_sql(f"({k} + {j}) % 3 = 0", entries)


def synth_child_sitemap(site_num: str, child_idx: str) -> Column:
    """Child urlset ``j`` (the ``child_idx`` column) of domain ``k``
    (the ``site_num`` column) as a pure formula — the sharded second
    level under :func:`synth_sitemap_index`. 2 + (k+j)%3 entries; odd
    entries point INTO the domain's robots-gated ``/a<(k+j)%4>/p...``
    section (so the discovery query's robots join has a real decision
    surface: some publisher-listed URLs are robots-disallowed — the
    inconsistency worth surfacing), even entries to ``/c<j>/page<i>``;
    same comment-decoy (k+j)%3==0 and whitespace-noise (k+j)%2==1
    devices as the flat fixture."""
    return F.expr(
        _synth_child_sitemap_sql(sql_ident(site_num), sql_ident(child_idx))
    )
