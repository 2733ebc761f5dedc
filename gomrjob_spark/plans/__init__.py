"""Query library. Importing this package populates the registry.

Registration order is significant: the correctness driver verifies the
first 50 registry entries against the DuckDB oracle. ``_reorder()`` puts
queries that most need a fresh driver-verified correctness row first
(never-yet-verified families, then anything new or changed this round),
keeps every oracle-eligible query ahead of the approximate rows-only
ones (which the driver can only rows-check), and preserves relative
registration order within each tier.
"""

from gomrjob_spark.plans.registry import ORACLES, QUERIES, query  # noqa: F401
from gomrjob_spark.plans import (  # noqa: F401,E402
    extras,
    html,
    llm,
    mr,
    relational,
    sqlapi,
    streaming,
    subqueries,
    timeseries,
    tpch,
    web,
)

# Tier 1: the queries whose plan changed, the newest change first (each
# block below names its change). Before the newest blocks (round 15,
# the r14 verdict's item #1 — close the verification debt): the r14 OPTIMIZER-touched queries shipped WITHOUT a
# driver-verified row (the r14 window was locked before the
# optimization session started), so they head this window; then every
# query whose PLAN changed in round 15 itself — the capped pair stage
# regroup + sizes persist (jaccard/containment/CC consumers), the
# Lloyd/local_df device (semdedup, ivf, pq), the byte-BPE
# distinct-pretoken restructure, and the URL/robots/HTML SQL-string
# builders (every consumer of those three families). The changed set
# fills all 50 slots, so the OLDEST-ALWAYS-NEXT backfill pauses for
# one round (SCALING.md ledger: the r09/r10 backfill resumes in r16) —
# exactly the priority rule the ledger prescribes: a query whose plan
# changed must never skip a driver round.
_VERIFY_FIRST = [
    # changed: the code that produces their rows moved — the JPEG codec
    # runs one marker walk, one DCT scan walker, one dequantize + IDCT
    # and shared scan writers. Every oracle-checked query that
    # synthesizes and decodes JPEG, then every query that reaches
    # decode_image_header (extract_features / resize_images)
    "multimodal_compressed_pixel_stats",
    "multimodal_arith_pixel_stats",
    "multimodal_progressive_pixel_stats",
    "multimodal_lossless_pixel_stats",
    "multimodal_lossless_subsampled_stats",
    "multimodal_hierarchical_pixel_stats",
    "multimodal_hierarchical_dct_stats",
    "multimodal_hierarchical_prog_stats",
    "multimodal_hierarchical_color_stats",
    "multimodal_exif_stats",
    "multimodal_exif_orient_stats",
    "multimodal_decode_headers",
    "multimodal_features",
    "multimodal_resize",
    # changed: the code that produces their rows moved — every per-row
    # Python stage runs through pipeline.map_rows (one positional frame
    # per Arrow batch, object columns) instead of its own mapInPandas
    # loop. Their executed plans are unchanged (scripts/plan_snapshot.py
    # at sf0.001). Every oracle-checked query that reaches one of the 33
    # converted stages: WARC readers and synth walks, the _wet_walked
    # front half, the multimodal extract_*/resize stages and the codec
    # payload generators
    "corpus_train_pipeline",
    "corpus_wet_pipeline",
    "multimodal_scene_cuts",
    "multimodal_phash_dedup",
    "multimodal_phash_near_pairs",
    "multimodal_audio_fingerprint_dedup",
    "multimodal_audio_headers",
    "multimodal_pixel_stats",
    "multimodal_avi_frames",
    "multimodal_mp4_frames",
    "multimodal_mp4_keyframes",
    "multimodal_mp4_edit_timing",
    "multimodal_mp4_fragments",
    "multimodal_flac_metadata",
    "multimodal_mp3_metadata",
    "multimodal_audio_samples",
    "warc_parse_records",
    "warc_http_headers",
    "warc_revisit_resolve",
    "warc_file_source",
    "warc_cdx_index",
    "warc_cdx_member_index",
    "warc_cdx_cdxj",
    "streaming_phash_admission",
    "streaming_warc_file_source",
    "streaming_warc_member_source",
    # changed: the n-gram pair stage (capped: one shingle exchange, the
    # grouped frame checkpointed; both sides of the sizes join read one
    # plan; containment's two directions one explode), the MinHash
    # verify's sizes join, and connected components' fingerprint (one
    # noop write with an Observation) and first-round spread. Every
    # oracle-checked consumer of jaccard_pairs, containment_pairs,
    # _jaccard_verify and connected_components; dedup_minhash_lsh is
    # rows-only. The catalog now passes each table's memoized schema,
    # equal to the inferred one (tests/test_catalog.py), so no other
    # query's plan changes
    "dedup_cluster_survivors",
    "split_cluster_aware",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_minhash_md5",
    "dedup_paragraph_minhash_rollup",
    "entity_resolution_pipeline",
    "dedup_best_quality_survivors",
    # changed: every round loop runs through cache.iterate (one lazy
    # checkpoint per round, dead rounds released), the BPE and
    # WordPiece trainers share one merge round, and connected
    # components skips its initial distinct(). Every oracle-checked
    # consumer of the eight loops (the connected-components ones head
    # the block above); knn_ivf, knn_ivf_kmeans and knn_pq use the
    # Lloyd loops too but are rows-only
    "dedup_semantic_diversity",
    "graph_pagerank",
    "mixture_bpe_weights",
    "pack_bpe_batches",
    "pack_unigram_batches",
    "quality_perceptron_gate",
    "quality_perceptron_train",
    "streaming_quality_gate",
    "streaming_semdedup_gate",
    "streaming_wordpiece_drift",
    "text_bpe_encode",
    "text_bpe_merges",
    "text_byte_bpe_encode",
    "text_byte_bpe_train",
    "text_unigram_encode",
    "text_unigram_lm_train",
    "text_wordpiece_encode",
    "text_wordpiece_train",
    "url_domain_pagerank",
    # changed: the web expression builders (urls/robots/html/sitemap)
    # are written once, as SQL text, and their lambda variables carry
    # a reserved prefix. Every consumer of the four families; the
    # first seven build new plan text (whole-SQL extract_links, sitemap
    # builders, robots composites), the rest re-verify the shared
    # builders
    "html_extract_links",
    "robots_txt_gate",
    "streaming_robots_gate",
    "sitemap_frontier",
    "sitemap_discovery",
    "sitemap_discovery_gz",
    "corpus_funnel_report",
    "html_extract_text",
    "html_block_stats",
    "html_content_gate",
    "html_metadata",
    "dedup_canonical",
    "streaming_html_gate",
    "url_canonicalize",
    "dedup_url_exact",
    "url_domain_gate",
    "url_domain_stats",
    "sample_domain_cap",
    "url_registered_domain_psl",
    "streaming_url_gate",
    # r14-optimizer-touched, no driver row since the change (verdict #1)
    "text_kn_perplexity",
    "text_langid_gate",
    "search_bm25_topk",
    "search_tf_topk",
    "search_phrase_topk",
    "search_proximity_topk",
    "decontaminate_semantic",
    # (knn_pq and knn_ivf_kmeans are rows-only: the window discipline
    # keeps the 50 hash slots oracle-eligible — their Lloyd/PQ changes
    # are covered by pytest rows/recall checks and the registry sweep,
    # and the oracled semdedup consumers above carry the hash gate
    # for the shared device)
    # r15: atomic near-dup store publish
    "streaming_near_dup_probe",
]
# next-oldest queries: knn_axis_lsh + the 34 remaining r09 rows — they head the r15
# rotation (OLDEST-ALWAYS-NEXT, SCALING.md ledger), followed by the
# r10 generation as it ages out.
_BACKFILL = [
    # displaced from the r14 window late (the wave-4 probe-catch
    # re-verifies and the edts query) — they head the r15 rotation
    "join_asof_forward",
    "join_band_time",
    "knn_axis_lsh",
    "mix_weights_equal_tokens",
    "mix_weights_temperature",
    "mr_combiner",
    "multimodal_caption_alignment",
    "multimodal_frame_sample",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_parts_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "q19_discounted_revenue",
    "q22_global_sales_opportunity",
    "q4_order_priority",
    "q7_volume_shipping",
    "sessionize_windows",
    "sql_passthrough_topn_revenue",
    "streaming_incremental_dedup",
    "streaming_sliding_counts",
    "streaming_tumbling_agg",
    "text_bigram_novelty",
    "text_chunks",
    "text_dup_ngram_coverage",
    "text_winnow_fingerprint",
    "timeseries_rollup",
]


def _reorder() -> None:
    tier1 = [n for n in _VERIFY_FIRST if n in QUERIES]
    backfill = [n for n in _BACKFILL if n in QUERIES and n not in tier1]
    tier2 = [
        n for n in QUERIES if n not in tier1 and n not in backfill and n in ORACLES
    ]
    tier3 = [n for n in QUERIES if n not in tier1 and n not in ORACLES]
    for name in tier1 + backfill + tier2 + tier3:
        QUERIES[name] = QUERIES.pop(name)


_reorder()
