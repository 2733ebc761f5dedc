"""r15 pair-stage rewrite: the capped (grouped single-exchange)
candidate path must produce exactly the same pairs, counts and scores
as the uncapped equi-join path whenever the cap is not binding, and
must drop exactly the over-cap shingles when it is — the two physical
shapes pin one semantics."""

from __future__ import annotations

import pytest

from gomrjob_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "a completely different document about spark joins"),
        (5, "a completely different document about spark joins"),
        (6, "the quick brown fox"),
        (7, "short text"),
        (8, None),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_capped_grouped_equals_uncapped_join_when_cap_loose(docs):
    """No shingle in this corpus appears in > 100 docs, so a cap of 100
    filters nothing: grouped candidates must equal the equi-join path
    bit-for-bit (same pairs, same n_common-derived scores)."""
    loose = dedup.jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_freq=100)
    exact = dedup.jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_freq=None)
    cols = ["id_a", "id_b", "jaccard"]
    assert _rows(loose, cols) == _rows(exact, cols)
    assert _rows(loose, cols)  # non-vacuous


def test_capped_grouped_equals_uncapped_join_containment(docs):
    loose = dedup.containment_pairs(docs, n=3, threshold=0.2, max_shingle_freq=100)
    exact = dedup.containment_pairs(docs, n=3, threshold=0.2, max_shingle_freq=None)
    cols = ["id_src", "id_dst", "containment"]
    assert _rows(loose, cols) == _rows(exact, cols)
    assert _rows(loose, cols)


def test_binding_cap_drops_hot_shingles(spark):
    """Five docs share one hot shingle; two also share a rare one. With
    the cap below the hot frequency, only the rare-shingle pair
    survives and the per-doc sizes count KEPT shingles only."""
    rows = [(i, "common shingle here") for i in range(1, 6)]
    rows += [(10, "common shingle here rare extra words"),
             (11, "common shingle here rare extra words")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = dedup.jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_freq=4)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    # 'common shingle here' appears in 7 docs (> 4) -> dropped; docs
    # 10/11 share their remaining 3 shingles exactly -> jaccard 1.0
    assert set(pairs) == {(10, 11)}
    assert pairs[(10, 11)] == 1.0


def test_connected_components_raw_edges(spark, broadcast_threshold):
    """Duplicate and reversed raw edges label the same as their distinct
    set, on the driver finish and on the distributed loop (threshold
    -1), and the output keeps the caller's id type on both."""
    pairs = [(1, 2), (2, 3), (5, 6), (2, 1), (1, 2), (3, 2), (6, 5), (6, 5)]
    for id_type in ("bigint", "int"):
        edges = spark.createDataFrame(pairs, f"id_a {id_type}, id_b {id_type}")
        nodes = spark.createDataFrame([(i,) for i in range(1, 8)], f"doc_id {id_type}")
        for threshold in (None, "-1"):
            broadcast_threshold(threshold)
            comp = dedup.connected_components(edges, nodes)
            assert [(f.name, f.dataType.simpleString()) for f in comp.schema] == [
                ("doc_id", id_type),
                ("component", id_type),
            ]
            got = {(r["doc_id"], r["component"]) for r in comp.collect()}
            assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7)}
