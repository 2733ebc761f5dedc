"""URL/domain-level curation — the FIRST pass of every web-crawl pipeline.

CCNet, RefinedWeb, and Dolma all filter at the URL layer BEFORE any text
operator runs: a crawl's WARC records carry a URL per document, and the
cheapest 100 TB win is dropping or collapsing documents by URL alone —
no tokenization, no fingerprinting, no model. The family here:

- :func:`url_normalize` — canonicalize a raw URL so that tracking-param
  / fragment / case / default-port / trailing-slash variants of the same
  resource become ONE string (the precondition for URL-level dedup).
- :func:`registered_domain` — extract the registrable domain (the label
  directly under the public suffix: ``a.b.site7.co.uk`` → ``site7.co.uk``)
  for domain-level gating and per-domain statistics.
- :func:`url_exact_dedup` — exact URL-level dedup groups over the
  CANONICAL url (one partial-agg shuffle; the survivorship convention is
  min doc_id, matching operators.dedup.exact_dedup).
- :func:`domain_gate` — blocklist admission verdicts per document.

Every operator is a ROW-LOCAL column program over the scan projection
(``parse_url`` + regexes + array higher-order functions, all JVM
codegen) — the same zero-extra-shuffle property as the language-ID gate,
which is what lets URL curation run first on the raw crawl: the only
shuffle in the whole family is the dedup groupBy, and that one carries
canonical URLs + ids, never document text. The expression builders
(synth_url, url_normalize, registered_domain) are each one SQL string:
a ``_x_sql`` composer over expression text that other builders compose
(html.extract_links, over a lambda variable), and a public ``x`` that
takes a column NAME and parses the string server-side in one round
trip instead of ~100 py4j Column calls.

Canonicalization rules (documented contract, applied in this order):

1. scheme and host lowercased;
2. a single leading ``www.`` host label stripped;
3. the scheme's DEFAULT port stripped (``http:80`` / ``https:443``) —
   non-default ports are semantic and kept;
4. tracking parameters removed (``utm_*``, ``gclid``, ``fbclid`` — the
   CCNet/Dolma convention), preserving the relative order of the rest;
   a query left empty drops its ``?``;
5. the fragment (``#...``) dropped — never sent to the server;
6. an empty path becomes ``/`` and a non-root trailing ``/`` is
   stripped.

The fixture's documents table has no URL column, so the registered
queries SYNTHESIZE one per document as a pure formula in ``doc_id``
(:func:`synth_url` — the multimodal device: the DuckDB oracle recomputes
the same formula byte-for-byte, so the whole normalize→dedup→gate chain
sits under the cross-engine hash gate). The formula is adversarial by
construction: every noise class above appears, and the SEMANTIC parts
derive from ``doc_id DIV 3`` while the NOISE derives from ``doc_id`` —
so consecutive id-triples are true duplicates that only normalization
can collapse.

Reference parity note: jehiah/gomrjob has no URL layer (it is a job
framework); this family is part of the LLM-training-data surface the
build brief adds on top (SURVEY.md §2F extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gomrjob_spark.functions import sql_ident

#: query-parameter name prefixes that never change the resource
TRACKING_PREFIXES = ("utm_", "gclid=", "fbclid=")

#: multi-label public suffixes the extractor knows about (a full
#: deployment broadcasts the Mozilla PSL snapshot; the rule is the same)
MULTI_LABEL_SUFFIXES = ("co.uk",)


def _synth_url_sql(doc_id: str) -> str:
    """:func:`synth_url` as ONE SQL string over the expression text
    ``doc_id``: the whole formula parses server-side in one round trip
    instead of ~100 py4j Column calls per consuming query."""
    d = f"CAST({doc_id} AS BIGINT)"
    # exact bigint DIV (float '/'+cast rounds past 2^53 — the html
    # family's _idiv rationale)
    g = f"({d} DIV 3)"
    scheme_sem = f"IF({g} % 2 = 0, 'http', 'https')"
    # noise: uppercase scheme on d%4==2, uppercase host on d%4==3
    scheme = f"IF({d} % 4 = 2, upper({scheme_sem}), {scheme_sem})"
    suffix = (
        f"CASE WHEN {g} % 3 = 0 THEN '.com' "
        f"WHEN {g} % 3 = 1 THEN '.org' ELSE '.co.uk' END"
    )
    host_sem = (
        f"concat('cdn', CAST({g} % 5 AS STRING), '.site', "
        f"CAST({g} % 11 AS STRING), {suffix})"
    )
    host0 = f"IF({d} % 5 = 0, concat('www.', {host_sem}), {host_sem})"
    host = f"IF({d} % 4 = 3, upper({host0}), {host0})"
    # ports: g%7==0 carries a SEMANTIC :8080; otherwise d%5==1 appends
    # the scheme's default port as pure noise
    port = (
        f"CASE WHEN {g} % 7 = 0 THEN ':8080' "
        f"WHEN {d} % 5 = 1 THEN IF({g} % 2 = 0, ':80', ':443') "
        f"ELSE '' END"
    )
    # path: root for g%13==0 (raw '' or '/'), else /a<g%4>/p<g> with a
    # trailing-slash variant on d%3==1
    path = (
        f"CASE WHEN {g} % 13 = 0 THEN IF({d} % 3 = 1, '/', '') "
        f"ELSE concat('/a', CAST({g} % 4 AS STRING), '/p', "
        f"CAST({g} AS STRING), IF({d} % 3 = 1, '/', '')) END"
    )
    # query: the real param id=<g> (absent for g%17==0) interleaved with
    # per-doc tracking noise in three arrangements
    id_amp = f"IF({g} % 17 = 0, '', concat('&id=', CAST({g} AS STRING)))"
    id_q = f"IF({g} % 17 = 0, '', concat('id=', CAST({g} AS STRING), '&'))"
    qs = (
        f"CASE WHEN {d} % 3 = 0 THEN concat('?utm_source=u', "
        f"CAST({d} % 7 AS STRING), {id_amp}, '&utm_campaign=x') "
        f"WHEN {d} % 3 = 1 THEN concat('?', {id_q}, 'gclid=g', "
        f"CAST({d} AS STRING)) "
        f"ELSE concat('?fbclid=f', CAST({d} AS STRING), {id_amp}) END"
    )
    frag = f"IF({d} % 2 = 0, concat('#s', CAST({d} % 4 AS STRING)), '')"
    return f"concat({scheme}, '://', {host}, {port}, {path}, {qs}, {frag})"


def synth_url(doc_id: str) -> Column:
    """Per-document URL of the column ``doc_id`` as a PURE formula —
    semantic parts from ``g = doc_id DIV 3``, noise from ``doc_id``
    itself, so each id-triple names one resource behind three raw
    variants. Mirrored verbatim by the oracle CTE ``_URL_RAW_SQL``
    (plans/web.py)."""
    return F.expr(_synth_url_sql(sql_ident(doc_id)))


def _url_normalize_sql(u: str) -> str:
    """:func:`url_normalize` as ONE SQL string over the URL expression
    text ``u`` (a lambda variable works too: extract_links)."""
    scheme = f"lower(parse_url({u}, 'PROTOCOL'))"
    host = f"regexp_replace(lower(parse_url({u}, 'HOST')), '^www\\\\.', '')"
    port = f"regexp_extract(parse_url({u}, 'AUTHORITY'), ':(\\\\d+)$', 1)"
    default_port = f"IF({scheme} = 'http', '80', IF({scheme} = 'https', '443', ''))"
    port_part = (
        f"IF({port} = '' OR {port} = {default_port}, '', concat(':', {port}))"
    )
    raw_path = f"coalesce(parse_url({u}, 'PATH'), '')"
    path = (
        f"IF({raw_path} = '', '/', "
        f"IF(length({raw_path}) > 1 AND endswith({raw_path}, '/'), "
        f"substring({raw_path}, 1, length({raw_path}) - 1), {raw_path}))"
    )
    # tracking parameters out, survivors in their original order;
    # NULL/empty queries collapse to ''
    drops = " OR ".join(
        [f"startswith(_lv_p, '{pref}')" for pref in TRACKING_PREFIXES] + ["_lv_p = ''"]
    )
    q = (
        f"array_join(filter(split(coalesce(parse_url({u}, 'QUERY'), ''), "
        f"'&'), _lv_p -> NOT ({drops})), '&')"
    )
    q_part = f"IF({q} = '', '', concat('?', {q}))"
    return f"concat({scheme}, '://', {host}, {port_part}, {path}, {q_part})"


def url_normalize(url: str) -> Column:
    """Canonical URL of the column ``url`` per the module contract —
    one codegen'd column expression over ``parse_url`` parts (no UDF,
    no shuffle)."""
    return F.expr(_url_normalize_sql(sql_ident(url)))


def _registered_domain_sql(h: str) -> str:
    """:func:`registered_domain` as one SQL string over the host
    expression text ``h``."""
    out = f"regexp_extract({h}, '([^.]+\\\\.[^.]+)$', 1)"
    for suf in MULTI_LABEL_SUFFIXES:
        pat = "([^.]+\\\\." + suf.replace(".", "\\\\.") + ")$"
        out = (
            f"IF(endswith({h}, '.{suf}') OR {h} = '{suf}', "
            f"regexp_extract({h}, '{pat}', 1), {out})"
        )
    return out


def registered_domain(host: str) -> Column:
    """Registrable domain of the already-normalized host column
    ``host``: the label directly under the public suffix. Multi-label
    suffixes come from :data:`MULTI_LABEL_SUFFIXES`; everything else is
    treated as a single-label TLD (the PSL default rule)."""
    return F.expr(_registered_domain_sql(sql_ident(host)))


def with_url_columns(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Scan projection with the canonical URL, normalized host, and
    registered domain staged as real columns (staging, not CSE-hoping:
    the repo rule for expressions referenced more than once)."""
    staged = docs.withColumn("norm_url", url_normalize(url_col))
    staged = staged.withColumn(
        "host",
        F.regexp_extract(F.col("norm_url"), r"^[a-z]+://([^/:?#]+)", 1),
    )
    return staged.withColumn(
        "registered_domain", registered_domain("host")
    )


def url_exact_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Exact URL-level dedup groups over the canonical URL: one
    partial-aggregated shuffle keyed on norm_url (ids + canonical
    strings only — document text never enters the exchange). Survivor
    convention: min id, matching dedup.exact_dedup."""
    return (
        with_url_columns(docs, url_col, id_col)
        .groupBy("norm_url")
        .agg(
            F.min(id_col).cast("bigint").alias("keeper"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct(url_col).cast("bigint").alias("n_raw_variants"),
        )
    )


def domain_gate(
    docs: DataFrame,
    blocklist: list[str],
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document blocklist admission verdict — row-local membership
    test against a literal blocklist (a real deployment broadcasts the
    list as a 1-row array and uses array_contains; at a few thousand
    entries the plan-literal IN is equally codegen'd)."""
    staged = with_url_columns(docs, url_col, id_col)
    blocked = F.col("registered_domain").isin(*blocklist)
    return staged.select(
        F.col(id_col),
        "norm_url",
        "registered_domain",
        blocked.alias("blocked"),
        (~blocked).alias("admitted"),
    )


# ---------------------------------------------------------------------------
# Public-suffix-list registrable domains (r12 — the exact path behind
# the registered_domain() heuristic, r11 verdict next-round #8).
# ---------------------------------------------------------------------------

#: A CURATED SNAPSHOT of publicsuffix.org rules — a few dozen entries
#: demonstrating every rule class the real ~10k-line file uses: plain
#: suffixes, multi-label suffixes, a wildcard rule (``*.ck``: every
#: label under .ck is a public suffix), its canonical exception
#: (``!www.ck``), and a private-section suffix (``github.io``). A real
#: deployment swaps in the full published snapshot — the mechanics
#: (and the plan) are unchanged, which is the point of keeping the
#: model as DATA broadcast to the scan rather than code.
DEFAULT_PSL_SNAPSHOT = (
    "com", "org", "net", "edu", "gov", "io", "co",
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "jp", "co.jp", "ne.jp",
    "au", "com.au", "org.au",
    "*.ck", "!www.ck",
    "github.io",
)


def registered_domain_psl(
    df: DataFrame,
    host_col: str = "host",
    psl: tuple[str, ...] = DEFAULT_PSL_SNAPSHOT,
    out_col: str = "registered_domain_psl",
) -> DataFrame:
    """EXACT public-suffix-list registrable domain — the precise path
    behind :func:`registered_domain`'s documented two-label heuristic.

    Implements the published PSL algorithm: among all rules matching a
    right-aligned label suffix of the host, an EXCEPTION rule prevails
    (the matched suffix is itself registrable); otherwise the rule with
    the most labels wins (wildcard ``*.`` rules match exactly one extra
    label) and the registrable domain is the matched public suffix plus
    one more label; when no rule matches, the default ``*`` rule makes
    the last label the public suffix (exactly the heuristic's default).
    A host that IS a public suffix has no registrable domain (null).

    Scale shape (the langid-gate device): the rule set is a 1-ROW frame
    of three lookup maps (plain rules, wildcard tails, exceptions)
    broadcast-crossed onto the scan, and the decision is one row-local
    fold over the host's <=~10 label suffixes — ZERO shuffles, so the
    exact path costs the same plan as the heuristic and runs at
    position zero on the raw crawl. Divergences from the heuristic on
    real-world hosts are intentional and tested
    (tests/test_urls.py::TestPsl): private-section suffixes
    (``a.github.io`` -> ``a.github.io``, not ``github.io``), wildcard
    TLDs (``b.any.ck`` -> ``b.any.ck``), and exceptions
    (``x.www.ck`` -> ``www.ck``)."""
    spark = df.sparkSession
    plain, wild, excep = [], [], []
    for rule in psl:
        if rule.startswith("!"):
            excep.append(rule[1:])
        elif rule.startswith("*."):
            wild.append(rule[2:])
        else:
            plain.append(rule)

    def as_map(keys: list[str]) -> Column:
        if not keys:
            return F.create_map().cast("map<string,boolean>")
        pairs = []
        for k in keys:
            pairs += [F.lit(k), F.lit(True)]
        return F.create_map(*pairs)

    rules_row = spark.range(1).select(
        as_map(plain).alias("psl_plain"),
        as_map(wild).alias("psl_wild"),
        as_map(excep).alias("psl_excep"),
    )
    host = F.col(host_col)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # suffix starting at label i (1-based), its label count, and its
    # PARENT suffix (for wildcard-tail lookup)
    cands = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.array_join(F.slice(labels, i, n - i + 1), ".").alias("s"),
            (n - i + 1).alias("nl"),
            F.array_join(
                F.slice(labels, i + 1, F.greatest(n - i, F.lit(0))), "."
            ).alias("tail"),
        ),
    )
    staged = df.join(F.broadcast(rules_row))
    is_pub = lambda c: (  # noqa: E731
        F.coalesce(F.element_at(F.col("psl_plain"), c["s"]), F.lit(False))
        | (
            (c["nl"] >= 2)
            & F.coalesce(
                F.element_at(F.col("psl_wild"), c["tail"]), F.lit(False)
            )
        )
    )
    is_exc = lambda c: F.coalesce(  # noqa: E731
        F.element_at(F.col("psl_excep"), c["s"]), F.lit(False)
    )
    # longest exception, else longest public suffix, else the default
    # '*' rule (last label). Folds keep the first (longest) match: the
    # candidate array runs longest suffix first.
    exc_match = F.filter(cands, is_exc)
    pub_match = F.filter(cands, is_pub)
    best_pub_nl = F.when(
        F.size(pub_match) > 0, F.element_at(pub_match, 1)["nl"]
    ).otherwise(F.lit(1))  # default rule: last label is public
    reg = F.when(
        F.size(exc_match) > 0, F.element_at(exc_match, 1)["s"]
    ).otherwise(
        # one label more than the winning public suffix; null when the
        # host IS the suffix
        F.when(
            n > best_pub_nl,
            F.array_join(
                F.slice(labels, n - best_pub_nl, best_pub_nl + 1), "."
            ),
        )
    )
    return staged.withColumn(out_col, reg).drop(
        "psl_plain", "psl_wild", "psl_excep"
    )


def surt(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the ordering
    the CC index / pywb CDXJ world sorts and binary-searches by:
    lowercase, scheme dropped, host labels REVERSED comma-joined, a
    ``)`` separator, then the path+query verbatim. Example:
    ``https://www.Example.com/a?q=1`` -> ``com,example,www)/a?q=1``.

    Pure column program (three regexes + split/reverse/concat — zero
    UDFs, scan-local). Scope, documented per the family convention:
    scheme://host[/path] URLs (no userinfo/port handling, no www
    stripping — pywb's canonicalizer dials, not the transform core)."""
    lower = F.lower(url)
    rest = F.regexp_replace(lower, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_extract(rest, r"^([^/]+)", 1)
    path = F.regexp_replace(rest, r"^[^/]*", "")
    rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    return F.concat(rev, F.lit(")"), path)
