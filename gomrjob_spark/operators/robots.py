"""robots.txt parsing + admission — the crawl's position MINUS ONE.

Before a crawler fetches (or a curation pipeline keeps) a URL, the
domain's robots.txt decides whether the path is allowed (RFC 9309).
The semantics that matter — and that naive substring matchers get
wrong — are:

1. group selection by ``User-agent``: only rules in groups whose
   header names ``*`` apply (the group curation pipelines honor);
   consecutive ``User-agent`` lines share one header, and a
   ``User-agent`` line AFTER rules starts a NEW group — collecting
   rules across all groups (the naive parse) lets a googlebot-only
   ``Disallow: /`` block everything;
2. per-path decision by the LONGEST matching rule ("most specific
   wins", priority = octets of the rule PATTERN per RFC 9309 §2.2.2),
   not first-match or any-disallow;
3. on a length tie between an Allow and a Disallow, ALLOW wins;
3a. rule values are PATTERNS, not literals (RFC 9309 §2.2.3): ``*``
   matches any byte sequence and a trailing ``$`` anchors the match at
   the path's end — a literal-startswith matcher silently never
   matches ``Disallow: /*.php`` and fails OPEN, the exact safety
   property this module exists to protect (rules with neither
   character keep the fast ``startswith`` path; pattern rules compile
   to one anchored regex per row). Simplification, documented per the
   jusText convention: percent-encoding normalization (§2.2.3's
   "percent-decode octets other than %2F before comparison") is NOT
   implemented — fixture and contract compare paths byte-for-byte as
   normalized by operators/urls.py, which never emits %-escapes;
4. no matching rule -> allowed (robots is a denylist protocol);
5. unknown directives (``Crawl-delay``, ``Sitemap``), comments, and
   blank lines are skipped, not errors — and real files use CRLF,
   lowercase verbs, flexible whitespace around ``:``, and trailing
   ``#`` comments, all tolerated (a dropped Disallow fails OPEN, so
   lenient line recognition is a safety property here).

The operator family is a pure row-local column program: the robots.txt
TEXT parses per row (split lines -> directive regex -> rule structs)
and the verdict folds over the matched rules with one array
``aggregate`` — zero shuffles, the URL-gate posture, so robots
admission composes into the same scan as url_normalize at 100 TB.
Each builder is one SQL string (the urls-family convention: a
``_x_sql`` composer over expression text, a public ``x`` over column
NAMES); :func:`synth_verdict` composes synthesize -> parse -> decide
as one expression.

The fixture has no robots files, so the registered query SYNTHESIZES a
robots.txt per registered domain as a formula in the domain's site
number (the urls-family device), with the adversarial cases baked in:
every domain Disallows one ``/a<k>`` section; every third domain adds a
LONGER ``Allow: /a<k>/p`` override (so a first-match or any-disallow
implementation mis-blocks those paths and cannot hash-match); comment /
blank / unknown-directive lines are interleaved so a parser that treats
them as rules fails; and every 5th-mod-1 domain carries a SECOND group
(``User-agent: badbot / Disallow: /``) that an all-groups parser would
fold into the ``*`` rules, blocking the whole domain and failing the
hash gate — group selection is therefore driver-gated, not just
pytest-gated.

Reference parity note: jehiah/gomrjob has no crawl layer; this family
is part of the LLM-training-data surface the build brief adds
(SURVEY.md §2F extensions), sitting directly in front of
operators/urls.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gomrjob_spark.functions import sql_ident, sql_lit

#: directive line (RFC 9309-lenient): case-insensitive verb, flexible
#: whitespace around ':', value ends at whitespace or a '#' comment;
#: values must start '/' (an empty Disallow value matches nothing per
#: the RFC and is dropped)
_RULE_PAT = "(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*(/[^ \t#]*)"

#: group-header line, same leniency
_UA_PAT = "(?i)^[ \t]*user-agent[ \t]*:[ \t]*([^ \t#]+)"

#: line split shared by the rule and Sitemap-directive parsers (CRLF,
#: CR and LF endings)
_LINES = "'\\r\\n|\\r|\\n'"


def _synth_robots_sql(site_num: str) -> str:
    """:func:`synth_robots` as ONE SQL string over the expression text
    ``site_num``."""
    k = f"CAST({site_num} AS BIGINT)"
    sec = f"CAST({k} % 4 AS STRING)"
    # r12 RFC 9309 §2.2.3 pattern rules: every 7th-mod-2 domain blocks
    # ALL sections with a '*' wildcard (len 5 — ties the Allow
    # override, so Allow-wins-tie is exercised against a PATTERN
    # rule); every 7th-mod-5 domain end-anchors a Disallow on paths
    # ending '0'. A literal-startswith matcher never matches either and
    # fails OPEN — hash-gate-detectable. The k%5==1 badbot group comes
    # AFTER the * group: an all-groups parser folds its
    # Disallow-everything into the * rules and mis-blocks the domain.
    return (
        "concat('# robots for site', CAST({k} AS STRING), "
        "'\\n\\nUser-agent: *\\nDisallow: /a', {sec}, "
        "IF({k} % 3 = 0, concat('\\nAllow: /a', {sec}, '/p'), ''), "
        "IF({k} % 2 = 0, '\\nDisallow: /buy', ''), "
        "IF({k} % 7 = 2, '\\nDisallow: /a*/p', ''), "
        "IF({k} % 7 = 5, '\\nDisallow: /*0$', ''), "
        "'\\nCrawl-delay: ', CAST({k} % 5 AS STRING), "
        "IF({k} % 5 = 1, '\\n\\nUser-agent: badbot\\nDisallow: /', ''), "
        "'\\n')"
    ).format(k=k, sec=sec)


def synth_robots(site_num: str) -> Column:
    """robots.txt text per domain as a PURE formula of the site-number
    column ``site_num`` (``k``; mirrored by the oracle CTE in
    plans/web.py): a comment header, the ``*`` group,
    ``Disallow: /a<k%4>``, a longest-match ``Allow: /a<k%4>/p`` override
    on every third domain, an extra ``Disallow: /buy`` on even domains,
    the two pattern rules, an unknown ``Crawl-delay`` directive, a
    second ``badbot`` group on k%5==1, and a blank line."""
    return F.expr(_synth_robots_sql(sql_ident(site_num)))


def _parse_rules_sql(txt: str, agent: str = "*") -> str:
    """:func:`parse_rules` as one SQL string over the robots-text
    expression ``txt``: a single array aggregate carrying the RFC 9309
    group state."""
    ua = f"regexp_extract(_lv_ln, {sql_lit(_UA_PAT)}, 1)"
    verb = f"lower(regexp_extract(_lv_ln, {sql_lit(_RULE_PAT)}, 1))"
    rule = (
        f"struct({verb} = 'allow' AS allow, "
        f"regexp_extract(_lv_ln, {sql_lit(_RULE_PAT)}, 2) AS prefix)"
    )
    zero = (
        "struct(false AS in_header, false AS active, "
        "CAST(array() AS array<struct<allow:boolean,prefix:string>>) AS rules)"
    )
    ua_match = f"lower({ua}) = {sql_lit(agent.lower())}"
    # consecutive UA lines extend the header, a UA line after rules
    # STARTS OVER; comments/blanks/unknown directives leave the group
    # running
    step = (
        f"CASE WHEN {ua} != '' THEN struct("
        "true AS in_header, "
        f"IF(_lv_acc.in_header, _lv_acc.active OR ({ua_match}), {ua_match}) AS active, "
        "_lv_acc.rules AS rules) "
        f"WHEN {verb} != '' THEN struct("
        "false AS in_header, _lv_acc.active AS active, "
        f"IF(_lv_acc.active, array_append(_lv_acc.rules, {rule}), _lv_acc.rules) AS rules) "
        "ELSE _lv_acc END"
    )
    return (
        f"aggregate(split({txt}, {_LINES}), {zero}, "
        f"(_lv_acc, _lv_ln) -> {step}, _lv_acc -> _lv_acc.rules)"
    )


def parse_rules(robots_txt: str, agent: str = "*") -> Column:
    """robots.txt text column -> array<struct<allow boolean, prefix
    string>>: the rules of the groups whose header names ``agent``
    (default ``*``), in file order. One array ``aggregate`` over the
    lines carries the RFC 9309 group state: consecutive ``User-agent``
    lines form a header (active if ANY of them names the agent); the
    first rule line closes the header; a ``User-agent`` line after
    rules starts a new group. Comments, blanks, and unknown directives
    are skipped WITHOUT ending the group; CRLF endings, lowercase
    verbs, flexible whitespace, and trailing ``#`` comments are
    tolerated (lenient recognition is a safety property: a dropped
    Disallow fails open)."""
    return F.expr(_parse_rules_sql(sql_ident(robots_txt), agent))


def _rule_matches_sql(path: str, prefix: str) -> str:
    """Does the rule pattern ``prefix`` match ``path`` (RFC 9309
    §2.2.3), over expression texts? Rules with neither ``*`` nor a
    trailing ``$`` are plain prefixes and keep the fast ``startswith``
    path (the overwhelmingly common case — no per-row regex compile).
    Pattern rules compile to one anchored regex (shared Java/RE2
    subset, so the translation reads identically on Spark and in the
    DuckDB parity tests): every regex metacharacter except ``*``
    escapes to a literal, ``*`` becomes ``.*``, a trailing ``$`` stays
    an end anchor, and the whole pattern start-anchors with ``^``."""
    anchored = f"endswith({prefix}, '$')"
    body = f"IF({anchored}, substring({prefix}, 1, length({prefix}) - 1), {prefix})"
    escaped = (
        f"regexp_replace({body}, "
        + sql_lit(r"([.\[\]{}()+?^$|\\])")
        + ", "
        + sql_lit(r"\\$1")
        + ")"
    )
    rx = (
        f"concat('^', replace({escaped}, '*', '.*'), "
        f"IF({anchored}, '$', ''))"
    )
    return (
        f"CASE WHEN contains({prefix}, '*') OR endswith({prefix}, '$') "
        f"THEN regexp_like({path}, {rx}) "
        f"ELSE startswith({path}, {prefix}) END"
    )


def _robots_verdict_sql(path: str, rules: str) -> str:
    """:func:`robots_verdict` over expression texts: filter the
    matching rules, then one longest-match/Allow-wins-ties aggregate
    fold."""
    matches = f"filter({rules}, _lv_r -> {_rule_matches_sql(path, '_lv_r.prefix')})"
    step = (
        "IF(length(_lv_r.prefix) > length(_lv_acc.prefix) OR "
        "(length(_lv_r.prefix) = length(_lv_acc.prefix) AND _lv_r.allow AND NOT _lv_acc.allow), "
        "_lv_r, _lv_acc)"
    )
    best = (
        f"aggregate({matches}, struct(true AS allow, '' AS prefix), "
        f"(_lv_acc, _lv_r) -> {step})"
    )
    return (
        f"named_struct('allowed', ({best}).allow, "
        f"'rule_prefix', ({best}).prefix)"
    )


def robots_verdict(path: str, rules: str) -> Column:
    """Struct (allowed, rule_prefix) for the URL-path column ``path``
    under the parsed rule-array column ``rules`` — RFC 9309 decision:
    longest matching rule wins (priority = octets of the rule PATTERN,
    wildcards and anchors counted, per §2.2.2), Allow wins length ties,
    no match -> allowed with the empty rule. ``*``/``$`` pattern rules
    match per §2.2.3. One array ``aggregate`` fold, row-local."""
    return F.expr(_robots_verdict_sql(sql_ident(path), sql_ident(rules)))


def synth_verdict(path: str, site_num: str) -> Column:
    """:func:`robots_verdict` of the ``path`` column under the
    synthesized robots.txt of the ``site_num`` column, composed as ONE
    SQL string (synthesize -> parse -> decide, no staged columns) — the
    gate, streaming-twin and funnel call shape."""
    rules = _parse_rules_sql(_synth_robots_sql(sql_ident(site_num)))
    return F.expr(_robots_verdict_sql(sql_ident(path), rules))


def _parse_sitemap_directives_sql(txt: str) -> str:
    """:func:`parse_sitemap_directives` as one SQL string over the
    robots-text expression ``txt``."""
    is_sitemap = sql_lit(r"(?i)^\s*sitemap\s*:")
    value = sql_lit(r"(?i)^\s*sitemap\s*:\s*([^#]*)")
    rtrim = sql_lit(r"\s+$")
    return (
        f"transform(filter(split({txt}, {_LINES}), "
        f"_lv_ln -> regexp_like(_lv_ln, {is_sitemap})), "
        f"_lv_ln -> regexp_replace(regexp_extract(_lv_ln, {value}, 1), {rtrim}, ''))"
    )


def parse_sitemap_directives(robots_txt: str) -> Column:
    """``Sitemap:`` directive URLs from the robots.txt column, in file
    order — the crawl-discovery hook (sitemaps.org: the directive tells
    crawlers where the publisher's sitemap or sitemap INDEX lives).
    Per RFC 9309 / the sitemaps protocol the directive is
    GROUP-INDEPENDENT, so extraction is line-based regardless of which
    ``User-agent`` group is active: case-insensitive key, flexible
    whitespace, value trimmed, trailing ``#`` comments stripped; a
    line COMMENTED OUT with a leading ``#`` never harvests (the
    sitemap-family comment decoy, one layer down). Row-local: one
    split + filter + transform."""
    return F.expr(_parse_sitemap_directives_sql(sql_ident(robots_txt)))
