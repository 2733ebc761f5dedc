"""HTML main-content extraction family (operators/html.py, plans/html.py).

The driver hash gate proves Spark==DuckDB on the synthesized fixture;
these tests pin the CONTRACT itself on handcrafted pages (each decoy and
extraction rule in isolation), the non-vacuity of the classification on
the fixture, the stream==batch structural equivalence, and the plan
shape (the whole family must stay shuffle-free)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F
import pytest

from gomrjob_spark.operators import html as H


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _blocks(spark, page: str):
    df = spark.createDataFrame([(page,)], "html string")
    return df.select(
        F.explode(H.block_structs("html")).alias("b")
    ).select("b.*").collect()


PAGE = (
    '<html><head><title>T</title><style>p{font:12px}</style></head><body>'
    '<nav><a href="/">Home</a> | <a href="/x">About</a></nav>'
    '<p>the quick a brown fox jumps over the lazy dog and keeps going on</p>'
    '<script>var p = "<p>fake block</p>";</script>'
    "<!-- note <p>also fake</p> -->"
    '<div class="meta" title="rev>0">updated 7</div>'
    '<footer>Copyright &amp; Terms <a href="/t">Terms</a></footer>'
    "</body></html>"
)


class TestBlockSegmentation:
    def test_decoys_fabricate_no_blocks(self, spark):
        rows = _blocks(spark, PAGE)
        # nav, p, div, footer — NOT the script/comment <p> decoys
        assert [r.tag for r in rows] == ["nav", "p", "div", "footer"]
        joined = " ".join(r.block_text for r in rows)
        assert "fake" not in joined
        assert "var p" not in joined

    def test_attribute_gt_decoy_does_not_truncate_tag(self, spark):
        rows = _blocks(spark, PAGE)
        meta = [r for r in rows if r.tag == "div"][0]
        # a naive <[^>]*> tokenizer leaves '0">' glued to the text
        assert meta.block_text == "updated 7"

    def test_title_and_style_are_not_blocks(self, spark):
        rows = _blocks(spark, PAGE)
        assert all("T" != r.block_text for r in rows)
        assert all("font" not in r.block_text for r in rows)

    def test_entities_decode_after_strip(self, spark):
        rows = _blocks(spark, PAGE)
        footer = [r for r in rows if r.tag == "footer"][0]
        assert footer.block_text == "Copyright & Terms Terms"
        # encoded angle brackets are TEXT: strip first, decode second
        rows = _blocks(spark, "<body><p>x &lt;b&gt; y</p></body>")
        assert rows[0].block_text == "x <b> y"

    def test_empty_page_has_no_blocks(self, spark):
        df = spark.createDataFrame(
            [("<html><head></head><body></body></html>",)], "html string"
        )
        assert df.select(
            F.size(H.block_structs("html")).alias("n")
        ).first()["n"] == 0


class TestClassification:
    def test_link_bar_is_chrome(self, spark):
        rows = _blocks(spark, PAGE)
        nav = [r for r in rows if r.tag == "nav"][0]
        assert nav.link_density_pm > H.MAX_LINK_DENSITY_PM
        assert not nav.is_content

    def test_prose_with_stopwords_is_content(self, spark):
        rows = _blocks(spark, PAGE)
        p = [r for r in rows if r.tag == "p"][0]
        assert p.is_content and p.n_stop >= 1 and p.link_density_pm == 0

    def test_short_block_is_chrome_regardless_of_wording(self, spark):
        rows = _blocks(spark, "<body><p>the a the a</p></body>")
        assert rows[0].n_stop == 4 and not rows[0].is_content

    def test_stopword_free_prose_is_chrome(self, spark):
        long_no_stop = "lorem ipsum dolor sit amet " * 4
        rows = _blocks(spark, f"<body><p>{long_no_stop}</p></body>")
        assert rows[0].n_chars >= H.MIN_CONTENT_CHARS
        assert rows[0].n_stop == 0 and not rows[0].is_content

    def test_link_chars_count_decoded_anchor_text(self, spark):
        rows = _blocks(
            spark, '<body><p>pad <a href="/x">A &amp; B</a></p></body>'
        )
        assert rows[0].link_chars == 5  # 'A & B'


class TestDocRollupAndGate:
    def test_rollup_and_gate_verdicts(self, spark):
        df = spark.createDataFrame([(1, PAGE)], "doc_id bigint, html string")
        out = H.content_gate(
            H.doc_content_summary(H.with_blocks(df))
        ).first()
        assert out["n_blocks"] == 4 and out["n_content_blocks"] == 1
        assert out["main_text"].startswith("the quick a brown")
        assert out["total_chars"] > out["content_chars"] > 0
        assert out["admitted"]  # prose dominates this page

    def test_chrome_only_page_rejected(self, spark):
        page = '<body><nav><a href="/">Home</a></nav></body>'
        df = spark.createDataFrame([(1, page)], "doc_id bigint, html string")
        out = H.content_gate(H.doc_content_summary(H.with_blocks(df))).first()
        assert out["content_ppm"] == 0 and not out["admitted"]

    def test_empty_page_ppm_zero_not_null(self, spark):
        df = spark.createDataFrame([(1, "<body></body>")], "doc_id bigint, html string")
        out = H.content_gate(H.doc_content_summary(H.with_blocks(df))).first()
        assert out["content_ppm"] == 0 and not out["admitted"]


class TestFixtureNonVacuity:
    def test_both_classes_populated(self, spark, sf_dir):
        from gomrjob_spark.plans.html import _docs_with_html

        staged = H.content_gate(
            H.doc_content_summary(H.with_blocks(_docs_with_html(spark, sf_dir)))
        )
        counts = dict(
            staged.groupBy("admitted").count().collect()
        )
        assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0
        blocks = staged.select(
            F.explode("blocks").alias("b")
        ).select(F.col("b.is_content").alias("c"))
        bc = dict(blocks.groupBy("c").count().collect())
        assert bc.get(True, 0) > 0 and bc.get(False, 0) > 0


class TestStreamBatchEquivalence:
    def test_gate_stream_shares_batch_program(self, spark, sf_dir):
        """The streaming twin must emit exactly the batch gate's
        verdicts (same column program; foreachBatch replay at
        plans-level is driver-gated — here we pin the function-level
        equivalence on a static frame)."""
        from gomrjob_spark.plans.html import _docs_with_html
        from gomrjob_spark.streaming.ops import html_gate_stream

        docs = _docs_with_html(spark, sf_dir).limit(50)
        live = html_gate_stream(docs).orderBy("doc_id").collect()
        batch = (
            H.content_gate(H.doc_content_summary(H.with_blocks(docs)))
            .select(
                "doc_id", "n_blocks", "n_content_blocks", "content_ppm",
                "main_text", "admitted",
            )
            .orderBy("doc_id")
            .collect()
        )
        assert live == batch


class TestPlanShape:
    def test_operator_chain_is_shuffle_free(self, spark, sf_dir):
        """The OPERATOR chain adds no Exchange of its own (the
        registered queries add only text.spread's local-mode dispatch
        repartition, a no-op on a real cluster, plus the
        oracle-determinism orderBy)."""
        from gomrjob_spark.catalog import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        paged = docs.select(
            "doc_id",
            H.synth_html("doc_id", "text").alias("html"),
        )
        staged = H.content_gate(H.doc_content_summary(H.with_blocks(paged)))
        plan = _plan(staged)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_block_stats_explode_stays_in_scan_stage(self, spark, sf_dir):
        from gomrjob_spark.plans.registry import QUERIES

        plan = _plan(QUERIES["html_block_stats"](spark, sf_dir))
        # two Exchanges allowed: the spread dispatch repartition + the
        # oracle-determinism global orderBy (formatted lists each node
        # in tree + details)
        assert plan.count("Exchange") <= 4
        assert "Generate" in plan


@pytest.mark.parametrize(
    "ent,ch", [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&")]
)
def test_entity_table(spark, ent, ch):
    df = spark.createDataFrame([(f"x{ent}y",)], "s string")
    assert df.select(H.decode_entities("s").alias("d")).first()["d"] == f"x{ch}y"


def test_double_encoded_amp_decodes_once(spark):
    df = spark.createDataFrame([("&amp;lt;",)], "s string")
    # &amp;lt; is the TEXT '&lt;' — amp decoded last, no double decode
    assert df.select(H.decode_entities("s").alias("d")).first()["d"] == "&lt;"


class TestLinkExtraction:
    BASE = "http://cdn1.site4.com/a1/p12"

    def _links(self, spark, page, base=None):
        df = spark.createDataFrame(
            [(page, base or self.BASE)], "html string, base string"
        )
        return df.select(
            F.explode(
                H.extract_links("html", "base")
            ).alias("l")
        ).select("l.*").collect()

    def test_script_anchor_is_not_an_edge(self, spark):
        page = (
            '<body><script>var p = "<a href="http://evil.example/x">c</a>";'
            '</script><p><a href="/t">T</a></p></body>'
        )
        rows = self._links(spark, page)
        assert [r.href for r in rows] == ["/t"]

    def test_root_relative_joins_base_authority(self, spark):
        rows = self._links(
            spark, '<p><a href="/buy?x=1">b</a></p>',
            base="https://h.site9.org:8080/deep/path",
        )
        assert rows[0].resolved_url == "https://h.site9.org:8080/buy?x=1"
        assert rows[0].link_domain == "site9.org"
        assert rows[0].is_internal

    def test_absolute_href_keeps_its_authority(self, spark):
        rows = self._links(spark, '<p><a href="http://partner3.example/p0">p</a></p>')
        assert rows[0].resolved_url == "http://partner3.example/p0"
        assert rows[0].link_domain == "partner3.example"
        assert not rows[0].is_internal

    def test_resolved_urls_are_normalized(self, spark):
        # an absolute href with noise still canonicalizes (rule 1/3/5)
        rows = self._links(
            spark, '<p><a href="HTTP://WWW.Ext.COM:80/x/#f">e</a></p>'
        )
        assert rows[0].resolved_url == "http://ext.com/x"
        assert rows[0].link_domain == "ext.com"

    def test_fixture_both_internality_classes(self, spark, sf_dir):
        from gomrjob_spark.plans.registry import QUERIES

        out = QUERIES["html_extract_links"](spark, sf_dir)
        counts = dict(out.groupBy("is_internal").count().collect())
        assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0
        assert out.filter(F.col("link_domain").contains("evil")).count() == 0


class TestMetadataExtraction:
    def _meta(self, spark, page):
        df = spark.createDataFrame([(page,)], "html string")
        return df.select(
            H.extract_metadata("html").alias("m")
        ).select("m.*").first()

    def test_fields_extract_and_decode(self, spark):
        page = (
            '<html lang="fr"><head><title>A &amp; B</title>'
            '<meta name="description" content="x &lt;y&gt;">'
            '<link rel="canonical" href="https://c.example/p">'
            "</head><body><p>b</p></body></html>"
        )
        m = self._meta(spark, page)
        assert m["title"] == "A & B" and m["lang_attr"] == "fr"
        assert m["description"] == "x <y>"
        assert m["canonical_href"] == "https://c.example/p"
        assert m["has_canonical"]

    def test_script_title_decoy_ignored(self, spark):
        page = (
            '<html lang="en"><head>'
            '<script>var t = "<title>fake</title>";</script>'
            "<title>real</title></head><body></body></html>"
        )
        assert self._meta(spark, page)["title"] == "real"

    def test_missing_fields_are_empty_not_null(self, spark):
        m = self._meta(spark, "<html><head></head><body></body></html>")
        assert m["title"] == "" and m["canonical_href"] == ""
        assert not m["has_canonical"]

    def test_lang_attr_roundtrips_fixture_lang(self, spark, sf_dir):
        from gomrjob_spark.catalog import load_table
        from gomrjob_spark.plans.registry import QUERIES

        out = QUERIES["html_metadata"](spark, sf_dir).select(
            "doc_id", "lang_attr"
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang"
        )
        diff = out.join(docs, "doc_id").filter(
            F.col("lang_attr") != F.col("lang")
        )
        assert diff.count() == 0


class TestCanonicalDedup:
    def test_canonical_groups_merge_url_triples(self, spark, sf_dir):
        from gomrjob_spark.plans.registry import QUERIES

        out = QUERIES["dedup_canonical"](spark, sf_dir)
        rows = out.collect()
        # interior groups: 6 docs minus the %9 opt-outs, spanning TWO
        # canonical norm_urls — the distinct-URLs-one-canonical case
        assert any(r["n_norm_urls"] == 2 for r in rows)
        assert all(r["n_docs"] <= 6 for r in rows)


class TestFunnelReport:
    def test_stages_partition_the_corpus(self, spark, sf_dir):
        from gomrjob_spark.plans.registry import QUERIES

        rows = QUERIES["corpus_funnel_report"](spark, sf_dir).collect()
        for r in rows:
            assert (
                r["n_robots_blocked"] + r["n_domain_blocked"]
                + r["n_url_dup"] + r["n_chrome_rejected"] + r["n_admitted"]
                == r["n_docs"]
            )
        # every stage genuinely fires somewhere in the fixture
        for col in ("n_robots_blocked", "n_domain_blocked", "n_url_dup",
                    "n_chrome_rejected", "n_admitted"):
            assert sum(r[col] for r in rows) > 0, col
