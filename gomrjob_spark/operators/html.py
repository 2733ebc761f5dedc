"""HTML main-content extraction — the layer between WARC parsing and text
quality that every crawl pipeline has (jusText / trafilatura / resiliparse
class): a crawl's payloads are HTML pages, and the text operators (langid,
quality, dedup, perplexity) must run on the page's MAIN CONTENT, not its
navigation chrome, ads, scripts, or footers. The family here:

- :func:`synth_html` — deterministic page per document (the multimodal
  synthesis device): the document's text becomes ``<p>`` content blocks
  wrapped in REAL boilerplate (nav link bars, a promo div, a script whose
  string literal embeds a decoy ``<p>`` block, an HTML comment with
  another decoy block, an attribute carrying a raw ``>``, entity-encoded
  text, a footer link cluster). The DuckDB oracle recomputes the same
  page byte-for-byte, so the whole extract pipeline sits under the
  cross-engine hash gate — and the decoys make the gate ADVERSARIAL: a
  tag-stripper that does not remove script/comment content wholesale, or
  a tokenizer that reads ``title="rev>0"`` as a tag boundary, emits
  phantom blocks and cannot match.
- :func:`block_structs` — remove ``<script>``/``<style>`` elements
  (with their content) and comments, which are never visible text,
  then segment the page into BLOCK-level elements
  (``p``/``div``/``nav``/``footer``) and compute per-block metrics:
  visible text (tags stripped, whitespace collapsed, entities decoded —
  in that order: entity-encoded angle brackets are NOT tags), link-text
  chars, link density, word/stopword counts, and the jusText-style
  content verdict.
- :func:`extract_metadata` — title, lang attribute, meta description
  and rel=canonical from the cleaned page head.
- :func:`extract_links` — anchors of the cleaned page, resolved against
  the page URL and normalized through the urls family.
- :func:`doc_content_summary` — per-document rollup (main text, content
  vs boilerplate chars) computed with array higher-order functions over
  the block array: ZERO shuffles, the langid-gate property, which is
  what lets content extraction run scan-local on the raw 100 TB crawl
  right after the WARC walk.
- :func:`content_gate` — per-document admission verdict on the
  content-to-total ratio (fixed-point ppm, the repo's no-floats-in-gates
  convention).

Classification contract (documented thresholds, jusText simplified to
its load-bearing core — block length, link density, stopword evidence):
a block is CONTENT iff

1. visible text length >= ``MIN_CONTENT_CHARS`` (40) — short fragments
   ("updated 7") are chrome regardless of wording;
2. link density <= ``MAX_LINK_DENSITY_PM`` (300 permille) — link bars
   and promo blocks are mostly anchor text;
3. at least one stopword — prose has function words, chrome labels
   ("Home | About | Contact") do not.

Every operator is a row-local column program (regex + array HOFs, all
JVM codegen, no UDF); the only shuffle any registered query adds is the
per-block explode's none at all — ``posexplode`` is a Generate in the
same stage as the scan. Each builder is written once, as SQL text: a
``_x_sql`` composer over expression texts (so composites and lambda
variables compose by text — extract_links runs the urls-family
composers over its own ``transform`` variable) and a public ``x`` that
takes column NAMES and parses the whole expression server-side in one
round trip.

Reference parity note: jehiah/gomrjob has no HTML layer (it is a job
framework); this family is part of the LLM-training-data surface the
build brief adds on top (SURVEY.md §2F extensions), composing with
sources/warc.py (the step before) and operators/text.py (the steps
after).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gomrjob_spark.functions import sql_ident, sql_lit


def _idiv(a: Column, b) -> Column:
    """Exact bigint division (SQL ``div``): float '/'+cast truncates
    correctly only below 2^53 — past it the double quotient rounds and
    can land off-by-one vs DuckDB's integer '//' (all gate operands
    here are non-negative, where truncation == floor on both
    engines)."""
    return F.call_function("div", a.cast("bigint"), F.lit(b) if isinstance(b, int) else b)

#: any tag, quote-aware: a raw ``>`` inside a double-quoted attribute
#: value does NOT terminate the tag (synthesized decoy: title="rev>0")
TAG_ANY = '<(?:[^>"]|"[^"]*")*>'

#: block-level opening tags (split form: non-capturing). The tag name
#: must be followed by whitespace or '>' — without the boundary,
#: '<pre>'/'<param>' match the 'p' alternative and fabricate blocks
#: (the synthesized footer plants a '<pre>' decoy to gate this).
BLOCK_OPEN = '<(?:p|div|nav|footer)(?:[ \t\r\n](?:[^>"]|"[^"]*")*)?>'

#: block-level opening tags (capture form: tag name as group 1)
BLOCK_OPEN_TAG = '<(p|div|nav|footer)(?:[ \t\r\n](?:[^>"]|"[^"]*")*)?>'

#: anchor element inner text (group 1); (?s) because content blocks are
#: arbitrary payload bytes at deployment. Same boundary rule: without
#: it '<abbr>' matches as an anchor open and the lazy capture swallows
#: text up to the next real '</a>' (footer '<abbr>' decoy).
LINK_TEXT = '(?s)<a(?:[ \t\r\n](?:[^>"]|"[^"]*")*)?>(.*?)</a>'

#: invisible elements removed WITH their content, plus comments
INVISIBLE_PATTERNS = (
    '(?s)<script(?:[^>"]|"[^"]*")*>.*?</script>',
    '(?s)<style(?:[^>"]|"[^"]*")*>.*?</style>',
    "(?s)<!--.*?-->",
)

#: entity decode table, applied in order — ``&amp;`` LAST so that
#: double-encoded text never double-decodes
ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&"))

#: function words the fixture vocabulary actually contains; a real
#: deployment uses the per-language sets in text.LANG_STOPWORDS
STOPWORDS = ("the", "a")

MIN_CONTENT_CHARS = 40
MAX_LINK_DENSITY_PM = 300

#: synthesis chunk width (chars of document text per content block)
CHUNK = 200


def _idiv_sql(a: str, b: int) -> str:
    return f"(CAST({a} AS BIGINT) DIV {b})"


def _synth_html_sql(doc_id: str, text: str, lang: str | None) -> str:
    """:func:`synth_html` as ONE SQL string over expression texts: the
    whole page formula parses server-side in one round trip."""
    d = f"CAST({doc_id} AS BIGINT)"
    t = f"coalesce({text}, '')"
    la = f"coalesce({lang if lang is not None else sql_lit('und')}, 'und')"
    g2 = _idiv_sql(d, 6)
    canonical = (
        f"IF({d} % 9 = 8, '', concat("
        "'<link rel=\"canonical\" href=\"https://canon.site', "
        f"CAST({g2} % 11 AS STRING), '.com/c', CAST({g2} AS STRING), '\">'))"
    )
    n = f"length({t})"
    idxs = (
        f"IF({n} > 0, sequence(CAST(0 AS BIGINT), "
        f"{_idiv_sql(f'{n} + {CHUNK - 1}', CHUNK)} - 1), "
        "CAST(array() AS array<bigint>))"
    )
    para = (
        "concat('<p class=\"c', CAST({d} % 3 AS STRING), '\">', "
        "substring({t}, CAST(_lv_i * {c} + 1 AS INT), {c}), "
        "IF(({d} + _lv_i) % 4 = 0, concat(' <a href=\"/r', CAST(_lv_i AS STRING), "
        "'\">more</a>'), ''), '</p>')"
    ).format(d=d, t=t, c=CHUNK)
    paras = f"array_join(transform({idxs}, _lv_i -> {para}), '')"
    # the '<pre>' decoy: a boundary-free block pattern matches its 'p'
    # and fabricates a block; correctly it is inline markup whose text
    # joins the promo fragment
    return (
        "concat('<html lang=\"', {la}, '\"><head><title>Doc ', "
        "CAST({d} AS STRING), "
        "'</title><meta name=\"description\" content=\"Summary ', "
        "CAST({d} % 50 AS STRING), ' &amp; notes\">', {canonical}, "
        "'<style>p{{font:12px}}</style></head><body>', "
        "'<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a> | "
        "<a href=\"/c', CAST({d} % 5 AS STRING), '\">Contact</a></nav>', "
        "{paras}, "
        "'<div class=\"promo\"><a href=\"/buy?x=', CAST({d} AS STRING), "
        "'\">Buy now &amp; save &lt;deals&gt;</a></div>', "
        "'<script>var p = \"<p>fake ', CAST({d} AS STRING), "
        "'</p><a href=\"http://evil', CAST({d} % 4 AS STRING), "
        "'.example/x\">c</a>\";</script>', "
        "'<!-- build ', CAST({d} % 97 AS STRING), ' <p>also fake</p> -->', "
        "'<pre>v', CAST({d} % 5 AS STRING), '</pre>', "
        "'<div class=\"meta\" title=\"rev>0\">updated ', "
        "CAST({d} % 28 AS STRING), '</div>', "
        "'<footer>Copyright &amp; Terms <abbr>TM</abbr> "
        "<a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a> "
        "<a href=\"http://partner', CAST({d} % 7 AS STRING), "
        "'.example/p', CAST({d} % 3 AS STRING), "
        "'\">Partner</a></footer>', '</body></html>')"
    ).format(la=la, d=d, canonical=canonical, paras=paras)


def synth_html(doc_id: str, text: str, lang: str | None = None) -> Column:
    """Deterministic HTML page per document from the ``doc_id``,
    ``text`` and (optional) ``lang`` columns — mirrored byte-for-byte
    by the oracle CTEs in plans/html.py (``_HTML_PAGE_SQL``). Content =
    the document text in CHUNK-char ``<p>`` blocks (every 4th gets an
    inline anchor); boilerplate = nav bar, promo div (entity-encoded
    anchor text), script + comment decoys each embedding a fake
    ``<p>`` block, an attribute with a raw ``>``, and a footer link
    cluster. The head carries the metadata surface real extractors
    read (html_metadata): a lang attribute (the fixture's REAL lang
    column when provided), title, meta description, and — on all but
    every 9th document — a rel=canonical link whose URL derives from
    ``doc_id DIV 6``, so canonical-dedup groups merge TWO url-dedup
    triples (distinct URLs declaring one canonical, the case that
    makes canonical dedup a different operator from URL dedup)."""
    return F.expr(
        _synth_html_sql(
            sql_ident(doc_id),
            sql_ident(text),
            sql_ident(lang) if lang is not None else None,
        )
    )


def _clean_invisible_sql(h: str) -> str:
    """Remove script/style elements with their content, then comments,
    from the html expression ``h`` — BEFORE block segmentation, so
    markup inside script strings or comments can never fabricate
    blocks."""
    out = h
    for pat in INVISIBLE_PATTERNS:
        out = f"regexp_replace({out}, {sql_lit(pat)}, '')"
    return out


def _decode_entities_sql(x: str) -> str:
    out = x
    for ent, ch in ENTITIES:
        out = f"replace({out}, {sql_lit(ent)}, {sql_lit(ch)})"
    return out


def decode_entities(col: str) -> Column:
    """Minimal entity decode of the ``col`` column (module table,
    ``&amp;`` last)."""
    return F.expr(_decode_entities_sql(sql_ident(col)))


#: whitespace runs collapse to one space in visible text
_WS_RUN = sql_lit("\\s+")


def _visible_text_sql(frag: str) -> str:
    """Fragment -> visible text: strip tags (quote-aware), collapse
    whitespace, trim, THEN decode entities (encoded angle brackets are
    text, not markup)."""
    stripped = f"regexp_replace({frag}, {sql_lit(TAG_ANY)}, '')"
    return _decode_entities_sql(
        f"trim(regexp_replace({stripped}, {_WS_RUN}, ' '))"
    )


def _stop_hits_sql(txt: str) -> str:
    stops = ", ".join(sql_lit(w) for w in STOPWORDS)
    return f"size(filter(split({txt}, ' '), _lv_w -> _lv_w IN ({stops})))"


def _block_structs_sql(h: str) -> str:
    """:func:`block_structs` as one SQL string over the html expression
    text ``h``, parsed server-side in one round trip."""
    ch = _clean_invisible_sql(h)
    frags = f"split({ch}, {sql_lit(BLOCK_OPEN)})"
    opens = f"regexp_extract_all({ch}, {sql_lit(BLOCK_OPEN_TAG)}, 1)"
    frag = f"element_at({frags}, CAST(_lv_i + 2 AS INT))"
    txt = _visible_text_sql(frag)
    n_chars = f"CAST(length({txt}) AS BIGINT)"
    link_chars = (
        f"aggregate(regexp_extract_all({frag}, {sql_lit(LINK_TEXT)}, 1), "
        f"CAST(0 AS BIGINT), (_lv_acc, _lv_l) -> _lv_acc + length({_decode_entities_sql('_lv_l')}))"
    )
    ld_pm = (
        f"IF({n_chars} > 0, "
        f"(CAST(1000 * {link_chars} AS BIGINT) DIV {n_chars}), "
        "CAST(1000 AS BIGINT))"
    )
    n_words = (
        f"CAST(IF({txt} = '', 0, size(split({txt}, ' '))) AS BIGINT)"
    )
    n_stop = f"CAST({_stop_hits_sql(txt)} AS BIGINT)"
    build = (
        f"struct(_lv_tag AS tag, {txt} AS block_text, {n_chars} AS n_chars, "
        f"{link_chars} AS link_chars, {ld_pm} AS link_density_pm, "
        f"{n_words} AS n_words, {n_stop} AS n_stop, "
        f"({n_chars} >= {MIN_CONTENT_CHARS} AND {ld_pm} <= {MAX_LINK_DENSITY_PM} "
        f"AND {n_stop} >= 1) AS is_content)"
    )
    return f"transform({opens}, (_lv_tag, _lv_i) -> {build})"


def block_structs(html: str) -> Column:
    """Array of per-block metric structs of the ``html`` column, in
    document order. The page is segmented by splitting on block-level
    OPENING tags (quote-aware pattern — the ``title="rev>0"`` decoy
    cannot truncate a tag) after the invisible elements are removed;
    fragment i then ends with its own closing tag, which the tag strip
    removes. Fields: tag, block_text, n_chars, link_chars,
    link_density_pm, n_words, n_stop, is_content (module contract). All
    metrics are integers (fixed-point permille density: the repo's
    no-floats-in-gates convention); blocks with no text get density
    1000 (pure markup is chrome by definition)."""
    return F.expr(_block_structs_sql(sql_ident(html)))


#: anchor hrefs, in document order; the synthesis contract puts href
#: first in every anchor (a general crawler widens the attribute walk)
HREF_PAT = '<a href="([^"]*)"'


def _extract_metadata_sql(h: str) -> str:
    """:func:`extract_metadata` as one SQL string over the html
    expression text ``h``."""
    ch = _clean_invisible_sql(h)
    title = _decode_entities_sql(
        f"trim(regexp_replace(regexp_extract({ch}, "
        f"'(?s)<title>(.*?)</title>', 1), {_WS_RUN}, ' '))"
    )
    lang_attr = (
        f"regexp_extract({ch}, "
        + sql_lit('<html(?:[^>"]|"[^"]*")*?lang="([^"]*)"')
        + ", 1)"
    )
    description = _decode_entities_sql(
        f"regexp_extract({ch}, "
        + sql_lit('<meta name="description" content="([^"]*)"')
        + ", 1)"
    )
    canonical = (
        f"regexp_extract({ch}, "
        + sql_lit('<link rel="canonical" href="([^"]*)"')
        + ", 1)"
    )
    return (
        f"named_struct('title', {title}, 'lang_attr', {lang_attr}, "
        f"'description', {description}, 'canonical_href', {canonical}, "
        f"'has_canonical', {canonical} != '')"
    )


def extract_metadata(html: str) -> Column:
    """Struct (title, lang_attr, description, canonical_href,
    has_canonical) from the page head of the ``html`` column — the
    metadata surface every crawl extractor reads before touching the
    body: the title and description feed snippet/quality signals, the
    lang attribute is the langid prior, and rel=canonical is the
    publisher's OWN dedup hint (grouping by it merges distinct URLs
    that declare one canonical — see dedup_canonical). Invisible
    elements are removed FIRST (a script string could embed a fake
    ``<title>``); entity decode applies to the human-readable fields.
    Row-local codegen, zero shuffles."""
    return F.expr(_extract_metadata_sql(sql_ident(html)))


def _extract_links_sql(h: str, base: str) -> str:
    """:func:`extract_links` as one SQL string over the html and
    base-URL expression texts: one ``transform`` whose lambda variable
    (the href) feeds the urls-family SQL builders directly."""
    from gomrjob_spark.operators.urls import (
        _registered_domain_sql,
        _url_normalize_sql,
    )

    def host(u: str) -> str:
        return f"regexp_extract({u}, '^[a-z]+://([^/:?#]+)', 1)"

    base_prefix = f"regexp_extract({base}, '^([a-z]+://[^/?#]+)', 1)"
    base_domain = _registered_domain_sql(host(base))
    hrefs = (
        f"regexp_extract_all({_clean_invisible_sql(h)}, {sql_lit(HREF_PAT)}, 1)"
    )
    raw_abs = (
        "IF(_lv_href RLIKE '^[A-Za-z][A-Za-z0-9+.-]*://', _lv_href, "
        f"concat({base_prefix}, _lv_href))"
    )
    resolved = _url_normalize_sql(raw_abs)
    link_domain = _registered_domain_sql(host(resolved))
    return (
        f"transform({hrefs}, _lv_href -> named_struct('href', _lv_href, "
        f"'resolved_url', {resolved}, 'link_domain', {link_domain}, "
        f"'is_internal', {link_domain} = {base_domain}))"
    )


def extract_links(html: str, base_url: str) -> Column:
    """Array of per-link structs (href, resolved_url, link_domain,
    is_internal) of the ``html`` column in document order — the
    link-graph half of WET derivation (the other half is the text;
    both come from the same cleaned page). Invisible elements are
    removed FIRST: the synthesis plants an anchor inside a script
    string (``http://evil<k>``), so an extractor that scans raw bytes
    emits phantom edges and cannot hash-match. Resolution covers the
    two shapes crawl links take: absolute (``scheme://...``, kept) and
    root-relative (``/path``, joined to the ``base_url`` column's
    scheme://host[:port]); the result is re-normalized through the
    urls-family contract, and is_internal compares registered domains
    (the crawl frontier's same-site test). Row-local codegen, zero
    shuffles."""
    return F.expr(_extract_links_sql(sql_ident(html), sql_ident(base_url)))


def with_blocks(
    df: DataFrame, html_col: str = "html", out_col: str = "blocks"
) -> DataFrame:
    """Stage the block-struct array as a real column (staging, not
    CSE-hoping: the repo rule for expressions referenced more than
    once)."""
    return df.withColumn(out_col, block_structs(html_col))


def doc_content_summary(
    df: DataFrame, blocks_col: str = "blocks"
) -> DataFrame:
    """Per-document rollup WITHOUT a groupBy: array HOFs over the
    staged block array (zero shuffles — at 100 TB this is a scan-local
    projection in the same stage as the WARC walk). main_text joins the
    content blocks' visible text in document order — the WET-style
    output the downstream text operators consume."""
    blocks = sql_ident(blocks_col)
    content = f"filter({blocks}, _lv_b -> _lv_b.is_content)"
    summed = (
        lambda arr, field: f"aggregate({arr}, CAST(0 AS BIGINT), "  # noqa: E731
        f"(_lv_acc, _lv_b) -> _lv_acc + _lv_b.{field})"
    )
    # one SQL parse per derived column (the r14 SQL-string device);
    # expression-for-expression identical to the HOF DSL this replaces
    return df.withColumns(
        {
            "n_blocks": F.expr(f"CAST(size({blocks}) AS BIGINT)"),
            "n_content_blocks": F.expr(f"CAST(size({content}) AS BIGINT)"),
            "content_chars": F.expr(summed(content, "n_chars")),
            "total_chars": F.expr(summed(blocks, "n_chars")),
            "main_text": F.expr(
                f"array_join(transform({content}, _lv_b -> _lv_b.block_text), ' ')"
            ),
        }
    )


def content_gate(df: DataFrame, min_ppm: int = 500_000) -> DataFrame:
    """Admission verdict on the content ratio (fixed-point ppm over the
    doc_content_summary columns): a page is admitted iff content text
    dominates chrome AND at least one content block exists. Documents
    with no visible text at all get ppm 0 (rejected) — an empty page is
    chrome."""
    ppm = F.when(
        F.col("total_chars") > 0,
        _idiv(F.lit(1_000_000) * F.col("content_chars"), F.col("total_chars")),
    ).otherwise(F.lit(0).cast("bigint"))
    staged = df.withColumn("content_ppm", ppm)
    return staged.withColumn(
        "admitted",
        (F.col("content_ppm") >= min_ppm) & (F.col("n_content_blocks") >= 1),
    )
