"""Robustness probes: determinism across runs, clean failure on missing
inputs, and non-trivial result sizes (a 0-row result would 'match' any
oracle vacuously)."""

from __future__ import annotations

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from gomrjob_spark import plans

# queries whose results must be non-trivially sized at the smoke SF —
# one per family; a regression to 0 rows here means a broken filter/join
MIN_ROWS = {
    "q1_pricing_summary": 4,
    "q13_customer_distribution": 2,
    "window_topk_per_group": 10,
    "dedup_exact": 50,
    "text_token_stats": 50,
    "sessionize_windows": 50,
    "mr_field_count": 2,  # fixture props have one field + lines_read
    "dedup_embedding_cosine": 10,
    "knn_axis_lsh": 25,
    "mr_combiner": 2,
    "multimodal_decode_headers": 50,
    "multimodal_frame_sample": 100,
    "sql_passthrough_topn_revenue": 6,
    "dedup_cluster_survivors": 100,
    "corpus_clean_filter": 20,
    "text_winnow_fingerprint": 1000,
    "dedup_minhash_md5": 10,
    "q21_waiting_suppliers": 1,
    "streaming_interval_join": 1,
    # vacuously-empty results would "match" any oracle — these had
    # exactly that bug (FRANCE/GERMANY vs NATION_* names; all customers
    # have orders) before being pinned here
    "q7_volume_shipping": 1,
    "q22_global_sales_opportunity": 1,
    "q2_min_cost_supplier": 5,
    "q20_potential_promotion": 2,
    "text_chunks": 500,
    "sample_hash_split": 100,
    "text_stopword_strip": 100,
    "window_range_frame": 1000,
    "udaf_weighted_avg": 5,
    "join_asof_forward": 100,
    "multimodal_resize": 100,
    "multimodal_audio_headers": 100,
    "funnel_conversion": 1,
    "pack_token_batches": 100,
    # r7 additions — each would vacuously "match" an empty oracle
    "text_bpe_encode": 50,
    "pack_bpe_batches": 50,
    "mixture_bpe_weights": 2,
    "text_ngram_perplexity": 50,
    "decontaminate_semantic": 10,
    "multimodal_arith_pixel_stats": 50,
    "embedding_hard_negatives": 25,
    "split_cluster_aware": 50,
    "pack_efficiency_report": 2,
    "timeseries_ewma": 10,  # one row per user; sf0.001 has ~15 users
    "text_trigram_perplexity": 50,
    # r8 additions
    "dedup_semantic_diversity": 100,
    "text_unigram_lm_train": 20,
    "text_unigram_encode": 50,
    "dedup_paragraph_containment": 50,
    "multimodal_lossless_pixel_stats": 50,
    "sample_dsir_importance": 50,
    "dedup_repeated_ngram_spans": 50,
    "streaming_paragraph_quarantine": 50,
    "dedup_paragraph_minhash_rollup": 50,
    "corpus_triage_report": 50,
    "pack_unigram_batches": 50,
    "curriculum_difficulty_buckets": 50,
    "streaming_dsir_gate": 50,
    "text_gopher_ngram_fractions": 50,
    # r9 additions
    "dedup_span_removal": 50,
    "text_wordpiece_train": 5,
    "text_wordpiece_encode": 50,
    "streaming_semdedup_gate": 50,
    "multimodal_caption_alignment": 50,
    "text_dup_ngram_coverage": 50,
    "multimodal_hierarchical_pixel_stats": 50,
    "dedup_cross_source_overlap": 10,  # <= C(20,2) pairs; 23 at sf0.001
    "streaming_wordpiece_drift": 20,
    "mix_weights_temperature": 4,  # one row per language
    "decontaminate_span_scrub": 40,  # all train docs pass through
    "multimodal_hierarchical_dct_stats": 50,
}


@pytest.mark.parametrize("name", sorted(MIN_ROWS))
def test_results_non_trivial(spark, sf_dir, name):
    assert plans.QUERIES[name](spark, sf_dir).count() >= MIN_ROWS[name]


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority", "join_asof", "dedup_minhash_lsh",
        "dedup_embedding_cosine", "knn_axis_lsh",
        # r7: iterative training + arithmetic entropy coding are the
        # two shapes where nondeterminism would be most surprising
        "text_bpe_encode", "multimodal_arith_pixel_stats",
        "split_cluster_aware",
        # r8: trained k-means + EM tokenizer are the new iterative
        # shapes; lossless arithmetic the new entropy coder
        "dedup_semantic_diversity", "text_unigram_encode",
        "multimodal_lossless_pixel_stats",
        # r9: the corpus rewrite, the likelihood trainer, and the
        # multi-frame pyramid are the new shapes where nondeterminism
        # would be most surprising
        "dedup_span_removal", "text_wordpiece_encode",
        "multimodal_hierarchical_pixel_stats",
    ],
)
def test_deterministic_across_runs(spark, sf_dir, name):
    a = plans.QUERIES[name](spark, sf_dir).collect()
    b = plans.QUERIES[name](spark, sf_dir).collect()
    assert a == b


def test_missing_input_raises_analysis_exception(spark):
    with pytest.raises(AnalysisException):
        plans.QUERIES["q1_pricing_summary"](spark, "/no/such/dir").collect()


def test_verify_first_names_all_exist():
    """Every name in the driver-window priority list must be a real
    registered query — a typo would silently waste a verification slot."""
    from gomrjob_spark.plans import _VERIFY_FIRST

    missing = [n for n in _VERIFY_FIRST if n not in plans.QUERIES]
    assert not missing, f"_VERIFY_FIRST names not in registry: {missing}"


def test_backfill_names_all_exist_and_disjoint():
    """Same guard for _BACKFILL (the r11 advisor's finding: a typo'd
    backfill name is silently dropped by _reorder's membership filter
    and falls out of the next rotation), plus the two lists must be
    disjoint — a duplicate would double-book a window slot."""
    from gomrjob_spark.plans import _BACKFILL, _VERIFY_FIRST

    missing = [n for n in _BACKFILL if n not in plans.QUERIES]
    assert not missing, f"_BACKFILL names not in registry: {missing}"
    overlap = set(_BACKFILL) & set(_VERIFY_FIRST)
    assert not overlap, f"names in both window lists: {sorted(overlap)}"


def test_row_stages_go_through_map_rows():
    """Per-row Python stages use ``pipeline.map_rows``: ``mapInPandas`` is
    called only by the batch stages that need a whole Arrow batch — the
    Step mapper and combiner (``pipeline.py``), the numpy keyer
    (``operators/dedup.py``) and the two batch stages of
    ``operators/text.py``."""
    import pathlib

    import gomrjob_spark

    root = pathlib.Path(gomrjob_spark.__file__).parent
    allowed = {"pipeline.py", "operators/dedup.py", "operators/text.py"}
    offenders = sorted(
        f"{path.relative_to(root).as_posix()}:{n}"
        for path in root.rglob("*.py")
        if path.relative_to(root).as_posix() not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".mapInPandas(" in line
    )
    assert not offenders, f"hand-rolled row loops, use pipeline.map_rows: {offenders}"


def test_oracles_have_no_unexpanded_placeholders():
    """Oracles are composed from shared SQL fragments in f-strings; a
    missing ``f`` prefix leaves the placeholder text itself in the SQL
    — ``{name}``, ``{name(...)}`` or ``{name[...]}`` — which no valid
    oracle contains."""
    import re

    placeholder = re.compile(r"\{[A-Za-z_]\w*[}(\[]")
    offenders = sorted(n for n, sql in plans.ORACLES.items() if placeholder.search(sql))
    assert not offenders, f"unexpanded f-string placeholders in oracles: {offenders}"


def test_registry_tiering():
    """Window discipline: first-50 all oracle-eligible; rows-only last."""
    names = list(plans.QUERIES)
    assert all(n in plans.ORACLES for n in names[:50])
    rows_only = [n for n in names if n not in plans.ORACLES]
    assert names[-len(rows_only):] == rows_only


def test_approx_quantile_within_tolerance(spark, sf_dir):
    """The GK sketch's percentiles must land within 1% (relative) of the
    exact DuckDB quantiles — the accuracy gate for the no-oracle entry."""
    import duckdb

    rows = {r.l_returnflag: r for r in plans.QUERIES["agg_approx_quantile"](spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(f"create view lineitem as select * from '{sf_dir}/lineitem.parquet'")
    exact = con.execute(
        """
        select l_returnflag,
               quantile_cont(l_extendedprice, 0.5),
               quantile_cont(l_extendedprice, 0.9),
               quantile_cont(l_extendedprice, 0.99)
        from lineitem group by l_returnflag
        """
    ).fetchall()
    assert rows
    for flag, e50, e90, e99 in exact:
        r = rows[flag]
        for got, want in ((r.p50, e50), (r.p90, e90), (r.p99, e99)):
            assert abs(got - want) / want < 0.01, (flag, got, want)
