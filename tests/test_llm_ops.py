"""Quality tests for the approximate LLM-pipeline operators: the oracle
gate covers the exact variants; these assert the approximate variants
against them (recall / false-positive bounds) plus the multimodal stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gomrjob_spark.catalog import load_table
from gomrjob_spark.operators import dedup, multimodal, similarity, text


# Both tables are cached for this module only: released at its end, so
# later modules plan against the file scan, as the registry does.
@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_recall_and_precision(docs):
    """LSH candidates + exact verify: every true >= 0.8 pair is found
    (S-curve ~1 up there), and no emitted pair is below the 0.6 threshold
    (the verify step guarantees it)."""
    exact = _pair_set(dedup.jaccard_pairs(docs, threshold=0.8, max_shingle_freq=None))
    approx_df = dedup.minhash_dedup_pairs(docs, threshold=0.6)
    approx = _pair_set(approx_df)
    assert exact, "fixture should contain >= 0.8 near-dup pairs"
    missed = exact - approx
    assert not missed, f"minhash-LSH missed high-jaccard pairs: {missed}"
    assert approx_df.filter(F.col("jaccard") < 0.6).count() == 0


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signatures(docs.limit(10), num_hashes=16)
    rows = sig.collect()
    assert all(len(r.signature) == 16 for r in rows)
    assert all(all(0 <= h < 2_147_483_647 for h in r.signature) for r in rows)


def test_simhash_near_dups_have_small_hamming(docs):
    """Exact near-dups (jaccard >= 0.9) should sit within a small Hamming
    ball of each other; unrelated docs should not collide at distance 0."""
    exact = _pair_set(dedup.jaccard_pairs(docs, threshold=0.9, max_shingle_freq=None))
    sig = dedup.simhash(docs).cache()
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", dedup.hamming64(F.col("sa"), F.col("sb")).alias("h")
    )
    dist = {(r.id_a, r.id_b): r.h for r in pairs.filter(F.col("h") <= 16).collect()}
    for p in exact:
        assert p in dist and dist[p] <= 8, f"near-dup {p} has large simhash distance"


def test_simhash_pairs_candidates(docs):
    got = dedup.simhash_pairs(docs, max_hamming=3)
    exact = _pair_set(dedup.jaccard_pairs(docs, threshold=0.9, max_shingle_freq=None))
    found = _pair_set(got)
    # banding with 4 bands guarantees recall for hamming <= 3
    assert all(r.hamming <= 3 for r in got.collect())
    missed = {p for p in exact if p in found} | (exact - found)
    # identical docs (jaccard ~1) must collide
    strict = _pair_set(dedup.jaccard_pairs(docs, threshold=0.999, max_shingle_freq=None))
    assert strict <= found, f"exact dups missing from simhash pairs: {strict - found}"


def test_knn_lsh_recall(emb):
    """LSH kNN recall@5 vs brute force >= 0.6 on the fixture (16 tables x
    4 planes; fixture vectors are near-orthogonal so this is the hard
    case — real clustered corpora sustain deeper buckets)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.knn_bruteforce(queries, emb, k=5)
    approx = similarity.knn_lsh(queries, emb, dim=64, k=5, n_planes=4, n_tables=16)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"


def test_knn_ivf_recall(emb):
    """IVF recall@5 vs brute force on the fixture. Near-orthogonal
    vectors give the coarse quantizer little structure (worst case); with
    half the cells probed recall must still clear 0.5, and probing ALL
    cells must be exact (recall 1.0)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.knn_bruteforce(queries, emb, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    approx = similarity.knn_ivf(queries, emb, k=5, n_centroids=16, n_probe=8)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5, "IVF recall too low at n_probe=8/16"

    full = similarity.knn_ivf(queries, emb, k=5, n_centroids=16, n_probe=16)
    f = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert f == e, "probing all cells must equal brute force"


def test_knn_ivf_kmeans_recall_and_deterministic_quantizer(emb):
    """The Lloyd-trained quantizer (a) keeps recall at least at the
    sampled-seed level at the same probe count, (b) stays exact at full
    probe, and (c) is bit-identical under a different input
    partitioning (the fixed-point accumulator + deterministic tie-break
    make training order-free)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.knn_bruteforce(queries, emb, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    seeded = similarity.knn_ivf(queries, emb, k=5, n_centroids=16, n_probe=8)
    s = {(r.query_id, r.neighbor_id) for r in seeded.collect()}
    trained = similarity.knn_ivf(
        queries, emb, k=5, n_centroids=16, n_probe=8, kmeans_iters=2
    )
    t = {(r.query_id, r.neighbor_id) for r in trained.collect()}
    assert len(e & t) / len(e) >= len(e & s) / len(e), (
        "k-means quantizer must not lose recall vs sampled seeds"
    )

    full = similarity.knn_ivf(
        queries, emb, k=5, n_centroids=16, n_probe=16, kmeans_iters=2
    )
    f = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert f == e, "probing all trained cells must equal brute force"

    c1 = similarity.ivf_centroids_kmeans(emb, n_centroids=8, n_iters=2)
    c2 = similarity.ivf_centroids_kmeans(emb.repartition(7), n_centroids=8, n_iters=2)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect())), (
        "trained centroids must be partition-invariant"
    )


def test_knn_bruteforce_self_excluded(emb):
    out = similarity.knn_bruteforce(emb.filter(F.col("vec_id") < 3), emb, k=5)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in counts)


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_multimodal_payload_roundtrip(docs):
    wp = multimodal.attach_payload(docs.limit(5))
    rows = wp.select("text", "payload", "meta").collect()
    for r in rows:
        assert bytes(r.payload) == r.text.encode("utf-8")
        assert r.meta.n_bytes == len(r.text.encode("utf-8"))
        assert r.meta.modality == "image"
    feats = multimodal.extract_features(wp).collect()
    assert len(feats) == 5
    for f_ in feats:
        assert 1 <= f_.width <= 64 and 1 <= f_.height <= 64 and f_.channels in (1, 3)


def test_embedding_bucketed_full_recall_vs_exact(emb):
    """The registered bucketed path (axis-sign LSH propose -> exact
    cosine verify) recovers every all-pairs exact pair on the fixture at
    threshold 0.4, and emits nothing the exact form wouldn't (the verify
    step makes false positives impossible)."""
    exact = _pair_set(dedup.embedding_dup_pairs(emb, threshold=0.4))
    bucketed = _pair_set(
        dedup.embedding_dup_pairs_bucketed(emb, threshold=0.4, n_planes=3, n_tables=16)
    )
    assert bucketed <= exact
    assert len(bucketed) == len(exact)  # full recall on the fixture


def test_axis_sign_buckets_validates_dim():
    with pytest.raises(ValueError, match="exceeds dim"):
        dedup.axis_sign_buckets(None, n_planes=16, n_tables=16, dim=64)


def test_embedding_primary_dedup_recovers_all_twins(spark, sf_dir):
    """The registered production-threshold query (corpus + sign-flip
    twins, auto-derived depth) has recall EXACTLY 1.0 by construction:
    a twin differs from its original only in one coordinate's sign, so
    every LSH table whose coordinate slice avoids that coordinate
    matches bit-identically. The result must therefore equal the
    exact-cosine twin set at the threshold."""
    from gomrjob_spark import plans
    from gomrjob_spark.operators.similarity import cosine
    from gomrjob_spark.plans.llm import _TWIN_FLIP_COORD, _TWIN_ID_OFFSET

    emb = load_table(spark, sf_dir, "embeddings")
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == F.lit(_TWIN_FLIP_COORD - 1), -x).otherwise(x),
    )
    expected = {
        (r.vec_id, r.vec_id + _TWIN_ID_OFFSET)
        for r in emb.select(
            "vec_id", cosine(F.col("embedding"), flipped).alias("cos")
        )
        .filter(F.col("cos") >= 0.95)
        .collect()
    }
    got = _pair_set(plans.QUERIES["dedup_embedding_cosine"](spark, sf_dir))
    assert got == expected
    assert len(got) > 0


def test_embedding_rp_dedup_high_recall_and_subset_of_exact(spark, sf_dir):
    """Random-plane variant: recall on the twin set follows the
    collision model (>= ~0.95 at these depths; exact-valued because the
    seeded plane grid is deterministic) and the verify step makes false
    positives impossible."""
    from gomrjob_spark import plans
    from gomrjob_spark.operators.similarity import cosine
    from gomrjob_spark.plans.llm import _TWIN_FLIP_COORD, _TWIN_ID_OFFSET

    emb = load_table(spark, sf_dir, "embeddings")
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == F.lit(_TWIN_FLIP_COORD - 1), -x).otherwise(x),
    )
    expected = {
        (r.vec_id, r.vec_id + _TWIN_ID_OFFSET)
        for r in emb.select(
            "vec_id", cosine(F.col("embedding"), flipped).alias("cos")
        )
        .filter(F.col("cos") >= 0.95)
        .collect()
    }
    got = _pair_set(plans.QUERIES["dedup_embedding_cosine_rp"](spark, sf_dir))
    assert got <= expected  # verify step: no false positives, ever
    assert len(got) >= 0.9 * len(expected)
    assert len(got) > 0


def test_random_plane_signs_prefix_property():
    """Plane (t, j) is independently seeded: the grid for a smaller
    (k, L) must be a strict prefix of a larger one — what lets the
    oracle embed ONE mask grid for every LUT-selectable depth."""
    small = dedup.random_plane_signs(3, 2, dim=64, seed=7)
    big = dedup.random_plane_signs(5, 4, dim=64, seed=7)
    for t in range(2):
        for j in range(3):
            assert small[t][j] == big[t][j]


def test_lsh_param_lut_matches_sql_derivation():
    """The DuckDB oracle picks (k, L) by joining an embedded integer LUT
    on floor(log2(greatest(2, n/occ))); that must agree with
    auto_lsh_params for corpus sizes spanning the LUT, including the
    driver (500/1000) and sweep (2k..16k) points."""
    import duckdb

    lut = dedup.lsh_param_lut(0.95)
    vals = ", ".join(f"({a},{b},{c})" for a, b, c in lut)
    for n in (1, 100, 500, 1000, 2000, 4000, 16000, 10**6, 10**9):
        (k, l) = duckdb.sql(
            f"""WITH nn AS (SELECT {n} AS n), lut(k0, k, l) AS (VALUES {vals})
            SELECT lut.k, lut.l FROM nn JOIN lut
            ON lut.k0 = GREATEST(1, LEAST({len(lut)},
                 CAST(FLOOR(LOG2(GREATEST(2.0, nn.n / 64.0))) AS INT)))"""
        ).fetchone()
        assert (k, l) == dedup.auto_lsh_params(n, threshold=0.95), n


def test_auto_lsh_params_threshold_one_is_clamped():
    """threshold >= 1.0 must not raise a math domain error (ADVICE r4):
    p clamps strictly below 1, giving the deepest/fewest-tables corner."""
    k, tables = dedup.auto_lsh_params(10**6, threshold=1.0)
    assert k >= 1 and tables >= 1


def _png_bytes(w, h, color_type=2):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + bytes([8, color_type, 0, 0, 0])
    )


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg_bytes(w, h, channels=3):
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 8 + 3 * channels) + b"\x08" + struct.pack(
        ">HH", h, w
    ) + bytes([channels]) + b"\x00" * (3 * channels)
    return b"\xff\xd8" + app0 + sof0


def test_decode_image_header_png():
    got = multimodal.decode_image_header(_png_bytes(640, 480))
    assert got == {"format": "png", "width": 640, "height": 480, "channels": 3}
    # grayscale+alpha color type
    assert multimodal.decode_image_header(_png_bytes(2, 3, color_type=4))["channels"] == 2


def test_decode_image_header_gif():
    got = multimodal.decode_image_header(_gif_bytes(320, 200))
    assert got == {"format": "gif", "width": 320, "height": 200, "channels": 3}


def test_decode_image_header_jpeg():
    got = multimodal.decode_image_header(_jpeg_bytes(1024, 768))
    assert got == {"format": "jpeg", "width": 1024, "height": 768, "channels": 3}
    assert multimodal.decode_image_header(_jpeg_bytes(5, 7, channels=1))["channels"] == 1


def test_decode_image_header_rejects_garbage():
    assert multimodal.decode_image_header(b"not an image at all") is None
    assert multimodal.decode_image_header(b"") is None
    assert multimodal.decode_image_header(b"\x89PNG\r\n\x1a\x00 corrupted") is None


def test_extract_features_decodes_real_headers(spark):
    """Real container bytes flow through the distributed decode path and
    come back with their true dimensions; unrecognized payloads keep the
    deterministic fake (so synthetic fixtures still hash-match)."""
    rows = [
        (1, _png_bytes(640, 480)),
        (2, _gif_bytes(320, 200)),
        (3, _jpeg_bytes(1024, 768)),
        (4, b"opaque synthetic payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary").select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.octet_length("payload").alias("n_bytes"),
            F.sha2("payload", 256).alias("sha"),
            F.hex(F.substring("payload", 1, 4)).alias("magic"),
        ).alias("meta"),
    )
    got = {r.doc_id: (r.width, r.height, r.channels) for r in multimodal.extract_features(df).collect()}
    assert got[1] == (640, 480, 3)
    assert got[2] == (320, 200, 3)
    assert got[3] == (1024, 768, 3)
    fake = multimodal.fake_decode_meta(rows[3][1])
    assert got[4] == (fake["width"], fake["height"], fake["channels"])


def test_spread_is_conf_gated(spark):
    """spread() must not inspect .rdd at plan time; it widens only per
    the session conf / local master, and honors an explicit 0 = off."""
    from gomrjob_spark.operators.text import spread

    df = spark.range(10)
    conf_key = "spark.gomrjob.spread.partitions"
    old = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "7")
        assert spread(df).rdd.getNumPartitions() == 7
        spark.conf.set(conf_key, "0")
        assert spread(df) is df  # disabled -> pure no-op
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)


def test_knn_axis_lsh_high_recall_on_fixture(emb):
    """The oracle-gated axis-sign-LSH kNN recovers >= 95% of the exact
    brute-force top-5 pairs at 3 planes x 16 tables (measured 0.98 at
    sf0.001, 1.0 at sf0.01 — near-orthogonal vectors are the hardest
    LSH case), and every returned neighbor really is in a shared
    bucket + exactly scored, so no pair can outrank a true one."""
    bf = similarity.knn_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=5)
    ax = similarity.knn_axis_lsh(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=3, n_tables=16
    )
    want = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    got = {(r.query_id, r.neighbor_id) for r in ax.collect()}
    assert len(got & want) / len(want) >= 0.95


def _cc_both_paths(set_threshold, edges, nodes, **kwargs):
    """{path: (labels, stats["rounds"])} for the driver finish (the
    session's broadcast threshold) and the fully distributed loop
    (threshold -1, broadcasts off)."""
    out = {}
    for path, threshold in (("driver", None), ("distributed", "-1")):
        set_threshold(threshold)
        stats = {}
        comp = dedup.connected_components(edges, nodes, stats=stats, **kwargs)
        out[path] = ({r.doc_id: r.component for r in comp.collect()}, stats["rounds"])
    return out


def _shapes_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id bigint")
    return edges, nodes


def test_connected_components_shapes(spark, broadcast_threshold):
    """Chain, triangle, singleton: labels converge to the component min,
    identically on the driver finish and on the distributed loop."""
    got = _cc_both_paths(broadcast_threshold, *_shapes_graph(spark))
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}
    assert got["driver"] == (want, 0)
    assert got["distributed"][0] == want
    assert 1 <= got["distributed"][1] <= 10


def test_connected_components_no_edges(spark, broadcast_threshold):
    """A corpus without near-dups: every node labels itself on both
    paths."""
    edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id bigint")
    got = _cc_both_paths(broadcast_threshold, edges, nodes)
    want = {i: i for i in range(1, 5)}
    assert got == {"driver": (want, 0), "distributed": (want, 1)}


def test_connected_components_self_loops(spark, broadcast_threshold):
    """Self-loop edges change no label on either path."""
    edges = spark.createDataFrame([(1, 2), (3, 3), (2, 2)], "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id bigint")
    got = _cc_both_paths(broadcast_threshold, edges, nodes)
    want = {1: 1, 2: 1, 3: 3, 4: 4}
    assert got["driver"] == (want, 0)
    assert got["distributed"][0] == want


def test_connected_components_job_budget(spark):
    """Spark-job budget of one small-graph call (its edges fit the
    broadcast threshold, so the driver labels them after one
    fingerprint): 4 jobs measured, the fingerprint's noop write, the
    edge collect and two for the caller's collect; the star-contraction
    loop the driver finish replaces ran 38."""
    sc = spark.sparkContext
    group = "test_connected_components_job_budget"
    sc.setJobGroup(group, group)
    try:
        dedup.connected_components(*_shapes_graph(spark)).collect()
    finally:
        sc._jsc.clearJobGroup()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 4, f"{n_jobs} Spark jobs"


def test_winnow_shared_passage_guarantee(spark):
    """Winnowing's covenant: two docs sharing a substring of length >=
    k + w - 1 (= 11 at k=8, w=4) share at least one fingerprint, while
    disjoint-content docs share none."""
    from gomrjob_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"XXXXX {shared} YYYYY"),
            (3, "completely different content with no overlap at all kkkk"),
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]  # shared passage -> common fingerprint
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_minhash_md5_matches_xxhash_recall(docs):
    """The SQL-mirrorable md5 MinHash recovers the same near-dup pairs
    as the exact Jaccard join on the fixture (the >=0.9 bimodal cluster
    saturates the 16x2 S-curve), like the production xxhash64 variant."""
    exact = _pair_set(dedup.jaccard_pairs(docs, threshold=0.6, max_shingle_freq=None))
    md5lsh = _pair_set(dedup.minhash_md5_dedup_pairs(docs, threshold=0.6))
    assert md5lsh == exact


def test_chunk_text_coverage_and_overlap(spark):
    """Every character lands in >= 1 chunk; consecutive chunks share
    exactly `overlap` characters; empty docs produce no chunks."""
    import pytest

    from gomrjob_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 5), (2, "short"), (3, "")], "doc_id bigint, text string"
    )
    rows = chunk_text(docs, size=20, overlap=5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # empty doc: no chunks
    assert [r.chunk for r in by_doc[2]] == ["short"]
    chunks1 = sorted(by_doc[1], key=lambda r: r.chunk_index)
    # reassembly: drop each chunk's leading overlap, concatenation = doc
    text1 = chunks1[0].chunk + "".join(c.chunk[5:] for c in chunks1[1:])
    assert text1 == "abcdefghij" * 5
    for a, b in zip(chunks1, chunks1[1:]):
        assert a.chunk[-5:] == b.chunk[:5]  # shared overlap
    with pytest.raises(ValueError):
        chunk_text(docs, size=10, overlap=10)


def test_hash_split_deterministic_and_exhaustive(docs):
    from gomrjob_spark.operators.sampling import hash_split

    a = {r.doc_id: (r.bucket, r.split) for r in hash_split(docs).collect()}
    b = {r.doc_id: (r.bucket, r.split) for r in hash_split(docs.repartition(7)).collect()}
    assert a == b  # repartition-stable
    splits = {s for _, s in a.values()}
    assert splits == {"train", "val", "test"}
    n = len(a)
    train = sum(1 for _, s in a.values() if s == "train")
    assert 0.6 * n < train < 0.95 * n  # ~80% within tolerance


def test_hash_sample_stable_subset(docs):
    from gomrjob_spark.operators.sampling import hash_sample

    s20 = {r.doc_id for r in hash_sample(docs, 0.2, id_col="doc_id").select("doc_id").collect()}
    s40 = {r.doc_id for r in hash_sample(docs, 0.4, id_col="doc_id").select("doc_id").collect()}
    assert s20 and s20 < s40  # growing fraction only ADDS rows (stable subsets)
    n = docs.count()
    assert 0.1 * n < len(s20) < 0.3 * n


def test_strip_stopwords_preserves_order(spark):
    from pyspark.sql import functions as F

    from gomrjob_spark.operators.text import strip_stopwords

    df = spark.createDataFrame([(1, "the cat a hat the end")], "id bigint, text string")
    out = df.select(strip_stopwords("text", ("a", "the")).alias("s")).head()
    assert out.s == "cat hat end"


def test_resize_images_nearest_neighbor_roundtrip(spark):
    """A true raw w*h*c buffer resizes by real nearest-neighbor: known
    input pixels land at the expected output positions; dims preserve
    aspect; degenerate 1-px sources floor at 1."""
    from gomrjob_spark.operators import multimodal

    w, h = 4, 2
    payload = bytes(range(w * h))  # 1-channel 4x2 ramp
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id bigint, payload binary")
    out = multimodal.resize_images(
        df, target_long_side=2,
        decoder=lambda p: {"width": w, "height": h, "channels": 1},
    ).head()
    assert (out.out_w, out.out_h) == (2, 1)
    # nearest-neighbor: y=0 -> sy=0; x in {0,1} -> sx in {0, 2}
    assert bytes(out.resized) == bytes([payload[0], payload[2]])
    assert multimodal.resize_dims(1, 1, 32) == (32, 32)
    assert multimodal.resize_dims(1000, 10, 32) == (32, 1)  # floor at 1


def test_decode_audio_header_walks_chunks():
    import struct

    from gomrjob_spark.operators.multimodal import decode_audio_header

    def wav(sr, ch, bits, data_size, junk_first=False):
        br = sr * ch * bits // 8
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, br, ch * bits // 8, bits)
        junk = b"LIST" + struct.pack("<I", 5) + b"junk\x00\x00"  # odd size -> word-aligned
        chunks = (junk + fmt) if junk_first else fmt
        return b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE" + chunks \
            + b"data" + struct.pack("<I", data_size)

    m = decode_audio_header(wav(16000, 1, 16, 32000))
    assert (m["sample_rate"], m["channels"], m["duration_ms"]) == (16000, 1, 1000)
    # fmt found even behind a preceding (odd-sized, padded) chunk
    m2 = decode_audio_header(wav(8000, 2, 16, 8000, junk_first=True))
    assert (m2["sample_rate"], m2["channels"]) == (8000, 2)
    assert decode_audio_header(b"RIFFxxxxAIFF") is None
    assert decode_audio_header(b"") is None


def test_resize_images_handles_empty_payload(spark):
    """An empty payload must resize to a zero buffer of the promised
    size, not crash the task (code-review finding: p[0] on b'')."""
    from gomrjob_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b""))], "doc_id bigint, payload binary")
    out = multimodal.resize_images(df, target_long_side=4).head()
    assert len(bytes(out.resized)) == out.out_w * out.out_h * out.channels
    assert set(bytes(out.resized)) <= {0}


def test_embedding_bucketed_rejects_planes_past_dim():
    """Restored validation: slices past the vector raise a clear
    driver-side ValueError, not a mid-job ANSI array-index crash."""
    import pytest

    from gomrjob_spark.operators import dedup

    with pytest.raises(ValueError, match="past the vector"):
        dedup.embedding_dup_pairs_bucketed(None, n_planes=3, n_tables=8, dim=8)


def test_hash_sample_fraction_not_truncated(spark):
    """round, not int(): 0.29 of 10k buckets keeps ids under bucket
    2900, not 2899 (code-review finding)."""
    from gomrjob_spark.operators.sampling import hash_bucket, hash_sample
    from pyspark.sql import functions as F

    df = spark.range(3000).withColumnRenamed("id", "doc_id")
    with_b = df.withColumn("b", hash_bucket(F.col("doc_id"), 10_000, "sample"))
    boundary = {r.doc_id for r in with_b.filter(F.col("b") == 2899).collect()}
    if boundary:  # boundary-bucket ids exist in this range
        kept = {r.doc_id for r in hash_sample(df, 0.29).select("doc_id").collect()}
        assert boundary <= kept


def test_pack_hierarchical_matches_bruteforce_under_skew(spark):
    """Differential test on a 90%-one-shard fixture (the 100 TB shape):
    the hierarchical per-bucket prefix sum must equal a brute-force
    single-pass cumsum over the same (shard, bucket, id) layout order."""
    import hashlib

    from gomrjob_spark.operators.text import pack_token_batches

    rows = [(i, " ".join(["tok"] * (1 + i % 7)), "en" if i % 10 else "de")
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["doc_id"]): (r["start_offset"], r["batch_id"])
        for r in pack_token_batches(df, budget=16, buckets=8).collect()
    }

    def bucket(i):
        return int(hashlib.md5(f"pack{i}".encode()).hexdigest()[:15], 16) % 8

    expect = {}
    for lang in ("de", "en"):
        off = 0
        for i, ntok, lg in sorted(
            ((i, 1 + i % 7, lg) for i, _, lg in rows), key=lambda t: (bucket(t[0]), t[0])
        ):
            if lg != lang:
                continue
            expect[i] = (off, off // 16)
            off += ntok
    assert got == expect


def test_pack_total_tokens_conserved(docs):
    """max(start_offset + n_tokens) per shard == sum(n_tokens) per shard:
    the layout is gapless and overlap-free regardless of bucketing."""
    from pyspark.sql import functions as F

    from gomrjob_spark.operators.text import pack_token_batches

    packed = pack_token_batches(docs, budget=64, buckets=4)
    per_shard = (
        packed.groupBy("lang")
        .agg(
            F.max(F.col("start_offset") + F.col("n_tokens")).alias("laid_out"),
            F.sum("n_tokens").alias("total"),
        )
        .collect()
    )
    assert per_shard and all(r["laid_out"] == r["total"] for r in per_shard)


# ---------------------------------------------------------------------------
# Real pixel / PCM decode (round 3): PPM/PGM/BMP rasters, WAV 16-bit samples
# ---------------------------------------------------------------------------


def _bmp_bytes(w, h, rows_bgr, bpp=24, top_down=False, compression=0):
    """Build a BI_RGB BMP. ``rows_bgr`` is the VISUAL top-down raster,
    each row a flat BGR(A) byte list; bottom-up storage reverses rows."""
    import struct

    ch = bpp // 8
    stride = (w * ch + 3) // 4 * 4
    stored = rows_bgr if top_down else list(reversed(rows_bgr))
    raster = b"".join(bytes(r) + b"\x00" * (stride - len(r)) for r in stored)
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, compression,
        len(raster), 0, 0, 0, 0,
    )
    return hdr + dib + raster


def test_decode_ppm_with_comment_and_whitespace():
    pix = bytes(range(2 * 3 * 3))  # 2x3 RGB
    m = multimodal.decode_image(b"P6\n# a comment\n2 3\n255\n" + pix)
    assert (m["format"], m["width"], m["height"], m["channels"]) == ("ppm", 2, 3, 3)
    assert m["pixels"] == pix


def test_decode_pgm_grayscale():
    pix = bytes([9, 8, 7, 6])
    m = multimodal.decode_image(b"P5 2 2 255 " + pix)
    assert (m["format"], m["channels"]) == ("pgm", 1)
    assert m["pixels"] == pix


def test_decode_pnm_rejects_truncated_and_wide_maxval():
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"P6\n2 2\n255\n" + b"\x00" * 11)
    with pytest.raises(ValueError, match="maxval"):
        multimodal.decode_image(b"P6\n2 2\n65535\n" + b"\x00" * 24)


def test_decode_bmp_bottom_up_bgr_and_padding():
    """2x2 24bpp: stride pads 6-byte rows to 8; storage is bottom-up BGR.
    Decode must return top-down RGB — byte-exact."""
    rows_bgr = [[3, 2, 1, 6, 5, 4], [9, 8, 7, 12, 11, 10]]  # visual top-down
    m = multimodal.decode_image(_bmp_bytes(2, 2, rows_bgr))
    assert (m["format"], m["width"], m["height"], m["channels"]) == ("bmp", 2, 2, 3)
    assert m["pixels"] == bytes(range(1, 13))


def test_decode_bmp_top_down_32bpp():
    rows_bgra = [[3, 2, 1, 4, 7, 6, 5, 8]]  # 2x1 BGRA
    m = multimodal.decode_image(_bmp_bytes(2, 1, rows_bgra, bpp=32, top_down=True))
    assert (m["channels"], m["pixels"]) == (4, bytes([1, 2, 3, 4, 5, 6, 7, 8]))


def test_decode_bmp_rejects_compressed():
    with pytest.raises(NotImplementedError, match="BI_RGB"):
        multimodal.decode_image(_bmp_bytes(1, 1, [[1, 2, 3]], compression=1))


def _wav_pcm_bytes(samples, sr=16000, ch=1, bits=16, junk_first=False):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    br = sr * ch * bits // 8
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, br, ch * bits // 8, bits)
    junk = b"LIST" + struct.pack("<I", 5) + b"junk\x00\x00"
    chunks = (junk + fmt) if junk_first else fmt
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE" + chunks
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_audio_samples_signed_le():
    want = [0, 1, -1, 32767, -32768, 12345]
    m = multimodal.decode_audio_samples(_wav_pcm_bytes(want, junk_first=True))
    assert m["samples"] == want
    assert m["sample_rate"] == 16000


def test_decode_audio_samples_rejects_non_pcm16_and_garbage():
    with pytest.raises(NotImplementedError, match="16-bit"):
        multimodal.decode_audio_samples(_wav_pcm_bytes([0], bits=8))
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_audio_samples(b"not audio")


def test_extract_pixel_stats_distributed(spark):
    pix = bytes([5, 0, 250, 1, 2, 3])  # 2x1 RGB
    df = spark.createDataFrame(
        [(7, b"P6\n2 1\n255\n" + pix)], "doc_id bigint, payload binary"
    )
    r = multimodal.extract_pixel_stats(df).head()
    assert (r.format, r.width, r.height, r.channels) == ("ppm", 2, 1, 3)
    assert (r.px_sum, r.px_min, r.px_max) == (sum(pix), 0, 250)
    assert r.px_possum == sum(i * v for i, v in enumerate(pix))


def test_extract_audio_sample_stats_distributed(spark):
    sm = [10, -20, 30]
    df = spark.createDataFrame(
        [(3, _wav_pcm_bytes(sm))], "doc_id bigint, payload binary"
    )
    r = multimodal.extract_audio_sample_stats(df).head()
    assert (r.n_samples, r.s_sum, r.s_min, r.s_max) == (3, 20, -20, 30)
    assert r.s_possum == sum(k * v for k, v in enumerate(sm))


def _chain(spark, n=64, both_directions=False):
    pairs = [(i, i + 1) for i in range(n - 1)]
    if both_directions:
        pairs += [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    return edges, nodes


def test_connected_components_chain_converges_logarithmically(spark, broadcast_threshold):
    """A 64-node path graph is the worst case for label propagation
    (diameter 63). Both finishes must get it RIGHT — everything labeled
    0 — and star contraction must converge in <= log2(n)+4 rounds, the
    property that makes the fixpoint loop viable on 100 TB pair graphs."""
    got = _cc_both_paths(broadcast_threshold, *_chain(spark))
    assert got["driver"] == ({i: 0 for i in range(64)}, 0)
    labels, rounds = got["distributed"]
    assert labels == got["driver"][0]
    assert 1 <= rounds <= 10, f"expected O(log n) rounds, took {rounds}"


def test_connected_components_driver_handoff_mid_loop(spark, broadcast_threshold, monkeypatch):
    """The 64-chain given in both directions is 126 edges, above a
    63-edge driver-finish bound set either by a 1008-byte threshold or
    by the edge cap; one star round leaves the 63 tree edges, which fit,
    so the driver labels them. ``max_iter=1`` pins that an exhausted
    round budget still finishes on the driver when the edges fit."""
    for threshold, cap in ((str(63 * 16), None), (None, 63)):
        broadcast_threshold(threshold)
        if cap is not None:
            monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", cap)
        stats = {}
        comp = dedup.connected_components(*_chain(spark, both_directions=True), max_iter=1, stats=stats)
        assert {r.doc_id: r.component for r in comp.collect()} == {i: 0 for i in range(64)}
        assert stats["rounds"] == 1


def test_connected_components_max_iter_exhausted_raises(spark, broadcast_threshold):
    """Out of rounds above the driver-finish bound: a clear error, not
    rows labelled by a neighbor short of the component minimum."""
    broadcast_threshold("-1")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds and 63 edges"):
        dedup.connected_components(*_chain(spark), max_iter=1).collect()


def test_stratified_sample_nested_and_validated(docs):
    """Lowering a stratum's fraction keeps a SUBSET of the higher
    fraction's picks (content-addressed buckets nest); unlisted strata
    fall to default_fraction; out-of-range fractions are refused."""
    from gomrjob_spark.operators.sampling import stratified_hash_sample

    small = {r.doc_id for r in stratified_hash_sample(
        docs, {"en": 0.2}, default_fraction=0.0).select("doc_id").collect()}
    large = {r.doc_id for r in stratified_hash_sample(
        docs, {"en": 0.6}, default_fraction=0.0).select("doc_id").collect()}
    assert small and small <= large
    only_en = {r.lang for r in stratified_hash_sample(
        docs, {"en": 1.0}, default_fraction=0.0).select("lang").distinct().collect()}
    assert only_en == {"en"}
    with pytest.raises(ValueError, match="fraction"):
        stratified_hash_sample(docs, {"en": 1.5})


def test_centroid_sums_partitioning_invariant(emb):
    """The fixed-point accumulator's whole point: identical output (all
    columns, including the float division) under different partition
    counts / addition orders."""
    from gomrjob_spark.operators.similarity import centroid_sums

    def snap(df):
        return {
            (r.label, r.pos): (r.qsum, r.n, r.centroid)
            for r in centroid_sums(df).collect()
        }

    a = snap(emb.repartition(3))
    b = snap(emb.repartition(17, "vec_id"))
    assert a == b and a


def test_group_quantile_filter_bounds(docs):
    """Per-group q=0.25 gate keeps 75% +/- rounding of each group and
    every survivor sits at/above its own group's threshold."""
    from gomrjob_spark.operators.text import filter_above_group_quantile

    kept = filter_above_group_quantile(docs, "n_chars", group_col="lang", q=0.25)
    rows = kept.select("lang", "n_chars", "_thr").collect()
    assert all(float(r.n_chars) >= r._thr for r in rows)
    totals = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    kept_counts = {r.lang: r["count"] for r in kept.groupBy("lang").count().collect()}
    for lang, total in totals.items():
        frac = kept_counts.get(lang, 0) / total
        assert 0.70 <= frac <= 0.85, (lang, frac)
    with pytest.raises(ValueError, match="quantile"):
        filter_above_group_quantile(docs, "n_chars", q=1.5)


def test_incremental_dedup_store_semantics(spark):
    from gomrjob_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(10, "aaa"), (11, "bbb"), (12, "AAA "), (13, "ccc")],
        "doc_id bigint, text string",
    )
    empty_store = spark.createDataFrame([], "fp string")
    got = {
        r.doc_id: r.n_dups_in_batch
        for r in incremental_dedup(batch, empty_store).collect()
    }
    assert got == {10: 2, 11: 1, 13: 1}  # 12 normalizes into 10's fp

    # store already containing "bbb"'s fingerprint suppresses 11
    from gomrjob_spark.operators.dedup import exact_dedup

    store = exact_dedup(
        spark.createDataFrame([(1, "  BBB")], "doc_id bigint, text string")
    ).select("fp")
    got2 = {r.doc_id for r in incremental_dedup(batch, store).collect()}
    assert got2 == {10, 13}


def test_select_within_budget_partition_invariant(docs):
    """The two-level prefix sum equals the global cumsum for ANY
    partition count — including 1 (degenerate single range)."""
    from gomrjob_spark.operators.sampling import select_within_budget

    t = docs.select("doc_id", "n_chars", F.lit(1).cast("bigint").alias("tok"))

    def snap(n):
        return {
            (r.doc_id, r.cum_tokens)
            for r in select_within_budget(
                t, "n_chars", 200, "tok", partitions=n
            ).collect()
        }

    a, b, c = snap(1), snap(4), snap(13)
    assert a == b == c
    assert len(a) == 200  # tok=1 each: exactly `budget` rows survive
    # the kept set is the global-order prefix: every kept doc is at least
    # as long as every dropped doc (ties broken by id)
    kept_ids = {d for d, _ in a}
    rows = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    worst_kept = min((rows[d], -d) for d in kept_ids)
    best_dropped = max(
        ((rows[d], -d) for d in rows if d not in kept_ids), default=None
    )
    assert best_dropped is None or best_dropped < worst_kept


def test_cap_per_group_matches_naive_and_is_partition_invariant(docs):
    """The two-phase prune (local top-k per scan slice, then global rank)
    returns exactly the naive single-window top-k, for any input
    partitioning, and never more than k rows per group."""
    from pyspark.sql import Window

    from gomrjob_spark.operators.sampling import cap_per_group

    d = docs.select("doc_id", "source", "n_chars")
    naive = {
        (r.doc_id, r.rank)
        for r in d.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rank") <= 7)
        .collect()
    }

    for parts in (1, 5, 17):
        got = {
            (r.doc_id, r.rank)
            for r in cap_per_group(
                d.repartition(parts), "source", 7, "n_chars"
            ).collect()
        }
        assert got == naive
    per_group = (
        cap_per_group(d, "source", 7, "n_chars")
        .groupBy("source")
        .count()
        .collect()
    )
    assert all(r["count"] <= 7 for r in per_group)


def test_decontaminate_flags_benchmark_duplicates(spark):
    """A train doc that IS a benchmark doc (verbatim or near-verbatim)
    must be flagged; a train doc sharing no 3-gram must not be; and
    decontaminate() drops exactly the flagged ids."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog today"),  # verbatim (case)
            (2, "a quick brown fox jumps over some other dog entirely"),  # partial
            (3, "completely unrelated text with no overlap at all whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    hits = {
        r.doc_id: r.n_hit
        for r in dedup.contaminated_ids(train, bench, n=3, min_common=1).collect()
    }
    assert 1 in hits and hits[1] == 8  # all 8 shingles of the 10-token doc
    assert 2 in hits and 0 < hits[2] < 8
    assert 3 not in hits
    survivors = {
        r.doc_id for r in dedup.decontaminate(train, bench, min_common=1).collect()
    }
    assert survivors == {3}
    # raising min_common above doc 2's overlap keeps it
    survivors2 = {
        r.doc_id for r in dedup.decontaminate(train, bench, min_common=5).collect()
    }
    assert survivors2 == {2, 3}


def test_repetition_stats_known_values(spark):
    """Hand-computed fractions on a fixed doc: 24 tokens of which 12 are
    'spam' -> top_token_frac = 0.5; and a doc below min_tokens is
    excluded."""
    from gomrjob_spark.operators.text import repetition_stats

    spammy = " ".join(["spam"] * 12 + [f"w{i}" for i in range(12)])
    clean = " ".join(f"u{i}" for i in range(24))
    df = spark.createDataFrame(
        [(1, spammy), (2, clean), (3, "too short")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df, min_tokens=20).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_tokens == 24
    assert got[1].top_token_frac == 0.5
    # 23 bigrams, 'spam spam' repeats 10 times -> 13 distinct
    assert abs(got[1].dup_bigram_frac - (1 - 13 / 23)) < 1e-12
    assert not got[1].keep
    assert got[2].top_token_frac == 1 / 24
    assert got[2].dup_bigram_frac == 0.0
    assert got[2].keep


def test_scrub_pii_exact_output(spark):
    """Byte-exact redaction incl. the ordering contract (emails before
    IPs before digit runs)."""
    from gomrjob_spark.operators.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x.co or 10.1.2.3 card 4111111111111111 end"),
            (2, "no pii here"),
            (3, "ip 999.999.999.999 and number 1234567"),
        ],
        "doc_id bigint, text string",
    )
    counts = pii_counts("text")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            scrub_pii("text").alias("s"),
            counts["n_emails"].alias("e"),
            counts["n_ips"].alias("i"),
            counts["n_digit_runs"].alias("d"),
        ).collect()
    }
    assert got[1].s == "mail <EMAIL> or <IP> card <NUM> end"
    assert (got[1].e, got[1].i, got[1].d) == (1, 1, 1)
    assert got[2].s == "no pii here"
    assert (got[2].e, got[2].i, got[2].d) == (0, 0, 0)
    assert got[3].s == "ip <IP> and number <NUM>"
    assert (got[3].e, got[3].i, got[3].d) == (0, 1, 1)


def test_cap_per_group_on_90pct_skewed_source(spark):
    """The two-phase cap on a 90%-one-source fixture (the shape that
    melts a single-window rank at scale): results equal the naive window
    for every partitioning, and the hot source is correctly capped."""
    from pyspark.sql import Window

    from gomrjob_spark.operators.sampling import cap_per_group

    rows = [(i, "hot" if i % 10 != 0 else f"cold{i % 7}", i * 13 % 997) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    naive = {
        (r.doc_id, r.rank)
        for r in df.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rank") <= 25)
        .collect()
    }
    for parts in (1, 8, 64):
        got = {
            (r.doc_id, r.rank)
            for r in cap_per_group(
                df.repartition(parts), "source", 25, "n_chars"
            ).collect()
        }
        assert got == naive


def test_mixture_weights_zero_and_null_token_groups(spark):
    """ADVICE r3: a group with 0 total tokens must get weight 0.0 (not
    Infinity silently least()'d to 1.0), and an all-NULL token column
    must not propagate NULL weight."""
    from gomrjob_spark.operators.sampling import mixture_weights

    df = spark.createDataFrame(
        [("en", 100), ("en", 50), ("zz", 0), ("zz", 0), ("nn", None)],
        "lang string, n_tok int",
    )
    got = {
        r.lang: r.weight
        for r in mixture_weights(df, "n_tok", "lang", target_per_group=75).collect()
    }
    assert got["en"] == 0.5
    assert got["zz"] == 0.0
    assert got["nn"] == 0.0


# ---- PNG / GIF pixel decode (round-trip vs independent encoders) ----


def _png_encode(pixels: bytes, width: int, height: int, color_type: int,
                filters: list[int], plte: bytes = b"") -> bytes:
    """Independent forward PNG encoder for the round-trip test: applies
    the requested filter type per row (the spec's FORWARD transform,
    implemented separately from the decoder's inverse), deflates, and
    frames the chunks."""
    import struct
    import zlib

    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = width * nch
    raw = bytearray()
    for y, ft in enumerate(filters):
        row = pixels[y * stride:(y + 1) * stride]
        prev = pixels[(y - 1) * stride: y * stride] if y else bytes(stride)
        raw.append(ft)
        for x in range(stride):
            a = row[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if ft == 0:
                f = row[x]
            elif ft == 1:
                f = (row[x] - a) & 0xFF
            elif ft == 2:
                f = (row[x] - b) & 0xFF
            elif ft == 3:
                f = (row[x] - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = (row[x] - pred) & 0xFF
            raw.append(f)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_decode_all_filters_rgb():
    """Every PNG filter type (None/Sub/Up/Average/Paeth) reversed
    correctly on an RGB raster."""
    from gomrjob_spark.operators.multimodal import decode_image

    w, h = 5, 5
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    got = decode_image(_png_encode(pixels, w, h, 2, filters=[0, 1, 2, 3, 4]))
    assert (got["format"], got["width"], got["height"], got["channels"]) == ("png", 5, 5, 3)
    assert got["pixels"] == pixels


def test_png_decode_gray_and_rgba():
    from gomrjob_spark.operators.multimodal import decode_image

    gray = bytes((x * 31) % 256 for x in range(6 * 3))
    got = decode_image(_png_encode(gray, 6, 3, 0, filters=[4, 1, 2]))
    assert (got["channels"], got["pixels"]) == (1, gray)

    rgba = bytes((x * 29 + 5) % 256 for x in range(4 * 2 * 4))
    got = decode_image(_png_encode(rgba, 4, 2, 6, filters=[3, 4]))
    assert (got["channels"], got["pixels"]) == (4, rgba)


def test_png_decode_palette_expands_to_rgb():
    from gomrjob_spark.operators.multimodal import decode_image

    plte = bytes(range(12))  # 4 entries
    idx = bytes([0, 1, 2, 3, 3, 2, 1, 0])  # 4x2
    got = decode_image(_png_encode(idx, 4, 2, 3, filters=[0, 1], plte=plte))
    want = b"".join(plte[i * 3 : i * 3 + 3] for i in idx)
    assert (got["channels"], got["pixels"]) == (3, want)


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Independent GIF LZW encoder (greedy longest-match, emits CLEAR
    first and EOI last, grows code width when the table fills)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int):
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    emit(clear)
    prev = b""
    for ch in indices:
        cur = prev + bytes([ch])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            # GIF encoders bump width when next_code EXCEEDS the current
            # code range (decoder mirrors: grows when its table REACHES it)
            if next_code == (1 << width):
                width += 1
            next_code += 1
        prev = bytes([ch])
    if prev:
        emit(table[prev])
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_encode(indices: bytes, width: int, height: int, palette: bytes,
                interlace: bool = False) -> bytes:
    import math

    n_entries = len(palette) // 3
    size_field = max(0, math.ceil(math.log2(max(2, n_entries))) - 1)
    pal = palette + b"\x00" * ((2 << size_field) * 3 - len(palette))
    hdr = (
        b"GIF89a"
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
        + bytes([0x80 | size_field, 0, 0]) + pal
        # a graphic-control extension block, to prove the skip path
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    )
    img = (
        b"\x2c" + b"\x00" * 4
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0])
    )
    min_code = max(2, (len(palette) // 3 - 1).bit_length())
    lzw = _gif_lzw_encode(indices, min_code)
    blocks = b""
    for i in range(0, len(lzw), 255):
        part = lzw[i : i + 255]
        blocks += bytes([len(part)]) + part
    return hdr + img + bytes([min_code]) + blocks + b"\x00" + b"\x3b"


def test_gif_decode_lzw_roundtrip():
    from gomrjob_spark.operators.multimodal import decode_image

    palette = bytes(range(24))  # 8 RGB entries
    w, h = 7, 5
    indices = bytes((x * 3 + x // 7) % 8 for x in range(w * h))
    got = decode_image(_gif_encode(indices, w, h, palette))
    assert (got["format"], got["width"], got["height"], got["channels"]) == ("gif", 7, 5, 3)
    want = b"".join(palette[i * 3 : i * 3 + 3] for i in indices)
    assert got["pixels"] == want


def test_gif_decode_interlaced_rows_restored():
    from gomrjob_spark.operators.multimodal import decode_image

    palette = bytes(range(12))  # 4 entries
    w, h = 3, 9
    indices = bytes((x // w) % 4 for x in range(w * h))  # row-colored
    # interlaced storage order: rows 0,8 / 4 / 2,6 / 1,3,5,7
    order = [0, 8, 4, 2, 6, 1, 3, 5, 7]
    stored = b"".join(indices[r * w : (r + 1) * w] for r in order)
    got = decode_image(_gif_encode(stored, w, h, palette, interlace=True))
    want = b"".join(palette[i * 3 : i * 3 + 3] for i in indices)
    assert got["pixels"] == want


def test_gif_lzw_table_growth_past_one_width():
    """A raster long enough to push the LZW table past a width boundary
    (>= 2^(min_code+1) entries) still round-trips byte-exact."""
    import random

    from gomrjob_spark.operators.multimodal import decode_image

    rng = random.Random(3)
    palette = bytes(range(12))
    w, h = 50, 40
    indices = bytes(rng.randrange(4) for _ in range(w * h))
    got = decode_image(_gif_encode(indices, w, h, palette))
    want = b"".join(palette[i * 3 : i * 3 + 3] for i in indices)
    assert got["pixels"] == want


# ---- baseline JPEG decode ----


def test_jpeg_canonical_huffman_matches_spec_known_codes():
    """Pin _HuffTable's canonical construction against the JPEG spec's
    standard luminance DC table (Annex K), whose canonical codes are
    public knowledge — this is independent of the repo's own encoder, so
    a complementary encoder/decoder bug cannot hide here."""
    from gomrjob_spark.operators.multimodal import _HuffTable

    bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    t = _HuffTable(bits, bytes(range(12)))
    want = {
        (2, 0b00): 0,
        (3, 0b010): 1, (3, 0b011): 2, (3, 0b100): 3, (3, 0b101): 4, (3, 0b110): 5,
        (4, 0b1110): 6,
        (5, 0b11110): 7,
        (6, 0b111110): 8,
        (7, 0b1111110): 9,
        (8, 0b11111110): 10,
        (9, 0b111111110): 11,
    }
    assert t.lookup == want


def test_jpeg_flat_blocks_decode_exact():
    """Per-8x8-block-constant grayscale is DC-only: decode must be
    bit-exact (DCT of a constant is pure DC; quant=1)."""
    import numpy as np

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    w, h = 24, 16
    px = bytes(
        (37 * ((y // 8) * (w // 8) + x // 8) + 10) % 256
        for y in range(h) for x in range(w)
    )
    got = decode_image(encode_jpeg_baseline(px, w, h, channels=1))
    assert (got["format"], got["width"], got["height"], got["channels"]) == ("jpeg", w, h, 1)
    assert got["pixels"] == px


def test_jpeg_random_gray_within_rounding():
    import numpy as np

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    rng = np.random.RandomState(11)
    h, w = 16, 24
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    got = decode_image(encode_jpeg_baseline(arr.tobytes(), w, h, channels=1))
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w)
    assert int(np.abs(dec.astype(int) - arr.astype(int)).max()) <= 1


def test_jpeg_rgb_444_and_crop():
    import numpy as np

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    rng = np.random.RandomState(5)
    h, w = 11, 13  # exercises edge-pad + crop
    arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    got = decode_image(encode_jpeg_baseline(arr.tobytes(), w, h, channels=3))
    assert (got["width"], got["height"], got["channels"]) == (w, h, 3)
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w, 3)
    assert int(np.abs(dec.astype(int) - arr.astype(int)).max()) <= 2


def test_jpeg_restart_markers():
    import numpy as np

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    rng = np.random.RandomState(7)
    h, w = 16, 32
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    got = decode_image(
        encode_jpeg_baseline(arr.tobytes(), w, h, channels=1, restart_interval=2)
    )
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w)
    assert int(np.abs(dec.astype(int) - arr.astype(int)).max()) <= 1


def test_jpeg_dri_mismatch_is_a_clean_decode_error():
    """ADVICE r4: a stream whose restart markers disagree with the
    declared DRI interval must raise ValueError, not a private
    control-flow exception escaping the bit reader."""
    import numpy as np
    import pytest as _pytest

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    rng = np.random.RandomState(11)
    h, w = 16, 32
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    payload = bytearray(
        encode_jpeg_baseline(arr.tobytes(), w, h, channels=1, restart_interval=2)
    )
    i = payload.index(b"\xff\xdd")  # DRI segment: lie about the interval
    assert payload[i + 4 : i + 6] == (2).to_bytes(2, "big")
    payload[i + 4 : i + 6] = (5).to_bytes(2, "big")
    with _pytest.raises(ValueError, match="restart marker"):
        decode_image(bytes(payload))


def test_jpeg_420_subsampling_decodes_through_upsample_path():
    import numpy as np

    from gomrjob_spark.operators.multimodal import decode_image, encode_jpeg_baseline

    h, w = 16, 24
    flat = np.zeros((h, w, 3), dtype=np.uint8)
    flat[...] = (200, 30, 90)
    got = decode_image(
        encode_jpeg_baseline(flat.tobytes(), w, h, channels=3, subsampling=(2, 2))
    )
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w, 3)
    # flat chroma pools losslessly: exact
    assert int(np.abs(dec.astype(int) - flat.astype(int)).max()) == 0
    # gradient: bounded by chroma pooling loss
    grad = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            grad[y, x] = (x * 4, y * 8, 128)
    got = decode_image(
        encode_jpeg_baseline(grad.tobytes(), w, h, channels=3, subsampling=(2, 2))
    )
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w, 3)
    assert int(np.abs(dec.astype(int) - grad.astype(int)).max()) <= 6


def test_jpeg_arithmetic_raises_progressive_decodes():
    """Progressive (SOF2) decodes for real as of r5 (see
    tests/test_codec_properties.py for the full baseline-parity gate);
    since r7 sequential arithmetic (SOF9) DECODES (see
    test_jpeg_arithmetic.py) and the documented raises are arithmetic
    progressive/lossless (SOF10/11)."""
    import pytest as _pytest

    from gomrjob_spark.operators.multimodal import (
        decode_image,
        encode_jpeg_arithmetic,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    px = bytes(range(64))
    got = decode_image(encode_jpeg_progressive(px, 8, 8, channels=1))
    assert got["pixels"] == decode_image(encode_jpeg_baseline(px, 8, 8, channels=1))["pixels"]
    # SOF9 decodes for real now, byte-identical to the baseline pixels
    got_ar = decode_image(encode_jpeg_arithmetic(px, 8, 8, channels=1))
    assert got_ar["pixels"] == got["pixels"]

    payload = bytearray(encode_jpeg_arithmetic(bytes(64), 8, 8, channels=1))
    i = payload.index(b"\xff\xc9")  # rewrite SOF9 -> SOF15 (differential)
    payload[i + 1] = 0xCF
    with _pytest.raises(NotImplementedError, match="hierarchical"):
        decode_image(bytes(payload))


def test_auto_lsh_params_scale_with_corpus():
    """Depth grows log2(n) (bounded occupancy -> linear candidates);
    table count keeps recall; the packed-signature bit budget holds."""
    import math

    from gomrjob_spark.operators.dedup import auto_lsh_params

    prev_k = 0
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        k, tables = auto_lsh_params(n, threshold=0.95)
        assert k >= prev_k, "depth must be monotone in corpus size"
        assert k * tables <= 63
        # recall model holds at the threshold
        p = 1 - math.acos(0.95) / math.pi
        recall = 1 - (1 - p**k) ** tables
        assert recall >= 0.95 - 1e-9, (n, k, tables, recall)
        prev_k = k
    # low thresholds (weak per-plane collision prob) still satisfiable
    k, tables = auto_lsh_params(10_000_000, threshold=0.4, target_recall=0.9)
    assert k * tables <= 63


def test_search_bm25_semantics_and_shared_term_df(spark):
    """Hand-checkable fixed-point BM25 on a 4-doc corpus; 'join' appears
    in BOTH queries, pinning that document frequency counts each (doc,
    term) once regardless of how many queries share the term (the
    naive post-query-join df would double)."""
    from gomrjob_spark.operators.search import search_bm25_topk, search_tf_topk

    docs = spark.createDataFrame(
        [
            (0, "join join join scan"),
            (1, "join scan scan scan"),
            (2, "merge merge merge merge"),
            (3, "sort sort sort sort"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "join"), (1, "merge"), (2, "join")], "query_id int, term string"
    )
    tf = {(r.query_id, r.doc_id): (r.score, r.rank)
          for r in search_tf_topk(docs, queries, k=10).collect()}
    # q1: doc0 3x join, doc2 4x merge, doc1 1x join; rank by score desc
    assert tf[(1, 2)] == (4, 1) and tf[(1, 0)] == (3, 2) and tf[(1, 1)] == (1, 3)
    assert tf[(2, 0)] == (3, 1) and tf[(2, 1)] == (1, 2)

    got = {(r.query_id, r.doc_id): r.score
           for r in search_bm25_topk(docs, queries, k=10).collect()}

    # mirror the documented fixed-point formula exactly
    n_docs, total = 4, 16
    avgdl_x100 = 100 * total // n_docs  # 400

    def contrib(tf_, dl, df):
        idf_bits = len(bin(n_docs // df)[2:])
        norm = 25 + (7500 * dl) // avgdl_x100
        return idf_bits * ((22000 * tf_) // (10 * tf_ + (12 * norm) // 10))

    # df('join') must be 2 (docs 0 and 1) for BOTH queries
    assert got[(1, 0)] == contrib(3, 4, 2)
    assert got[(2, 0)] == contrib(3, 4, 2)
    assert got[(2, 1)] == contrib(1, 4, 2)
    assert got[(1, 2)] == contrib(4, 4, 1)


def test_knn_pq_compression_recall_and_determinism(emb):
    """PQ pipeline gates: (a) codes really are the compressed form — m
    ints in [0, 16); (b) ADC shortlist + exact rerank recovers recall@5
    >= 0.6 vs brute force on the near-orthogonal fixture (the hard
    case); (c) codebook training and encoding are partition-invariant."""
    queries = emb.filter(F.col("vec_id") < 20)
    book = similarity.pq_train(emb, m=8, n_centroids=16, n_iters=2)
    assert len(book) == 8 and all(len(sub) == 16 for sub in book)

    codes = similarity.pq_encode(emb, book)
    crows = codes.limit(50).collect()
    assert all(len(r.codes) == 8 for r in crows)
    assert all(0 <= c < 16 for r in crows for c in r.codes)

    exact = similarity.knn_bruteforce(queries, emb, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = similarity.knn_pq(queries, emb, book, k=5, shortlist=50)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"PQ recall too low: {recall:.2f}"

    book2 = similarity.pq_train(emb.repartition(7), m=8, n_centroids=16, n_iters=2)
    assert book == book2, "PQ codebook must be partition-invariant"
    c2 = {r.vec_id: list(r.codes) for r in similarity.pq_encode(emb.repartition(5), book).collect()}
    c1 = {r.vec_id: list(r.codes) for r in codes.collect()}
    assert c1 == c2, "PQ codes must be partition-invariant"


def test_knn_axis_lsh_multiprobe_dominates_single_probe(emb):
    """Multi-probe (all Hamming-1 query buckets) must recover a
    SUPERSET of single-probe's candidate pairs at the same table count
    — and with HALF the tables must still beat single-probe-at-half
    recall, which is the use case: query-side probes instead of
    corpus-side tables."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.knn_bruteforce(queries, emb, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(n_tables, mp):
        out = similarity.knn_axis_lsh(
            queries, emb, k=5, n_planes=3, n_tables=n_tables, multiprobe=mp
        )
        return len(e & {(r.query_id, r.neighbor_id) for r in out.collect()}) / len(e)

    half_single = recall(8, False)
    half_multi = recall(8, True)
    assert half_multi >= half_single, (half_multi, half_single)
    assert half_multi >= 0.9, f"multiprobe recall too low: {half_multi:.2f}"


def test_ivf_assign_broadcast_path_matches_literal_path(emb):
    """The r6 quantizer-size dial: past IVF_MAX_LITERAL_TERMS cells x
    dim, ivf_assign swaps the baked-literal scoring array for a 1-row
    broadcast of (cell, centroid, norm) structs. Both paths must agree
    bit-for-bit — same fold arithmetic, same (negsim, cell) tie order —
    at a 256-cell quantizer, for single-probe and multi-probe. Also
    pins that the dial actually selects the broadcast path at 256x64
    under the default threshold."""
    cents = similarity.ivf_centroids(emb, n_centroids=256)
    assert 256 * 64 > similarity.IVF_MAX_LITERAL_TERMS  # dial engages

    for n_probe in (1, 3):
        lit = similarity.ivf_assign(
            emb, cents, n_probe=n_probe, max_literal_terms=10**9
        )
        bc = similarity.ivf_assign(emb, cents, n_probe=n_probe)  # default dial
        l = sorted((r.vec_id, r.cell) for r in lit.collect())
        b = sorted((r.vec_id, r.cell) for r in bc.collect())
        assert l == b, f"paths disagree at n_probe={n_probe}"
    # the broadcast plan must not shuffle the data side: no exchange
    # keyed by the vector id, only the 1-row broadcast
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        similarity.ivf_assign(emb, cents, n_probe=1).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(vec_id" not in plan


def test_containment_pairs_catch_subdocument_quotes(spark):
    """Containment vs Jaccard on the motivating shape: a short doc
    quoted whole inside a much longer one — Jaccard is union-dominated
    (low), containment of the short side is 1.0 and directed."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally unrelated content here today")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_src, r.id_dst): r.containment
        for r in dedup.containment_pairs(docs, n=3, threshold=0.9).collect()
    }
    assert pairs == {(1, 2): 1.0}, pairs  # directed: only short -> long

    jac = dedup.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_freq=None)
    assert jac.count() == 0, "Jaccard must miss the sub-document pair"


def test_search_phrase_topk_counts_consecutive_runs_only(spark):
    """Phrase counts: consecutive runs only (no bag matching), counts
    overlap-aware via position enumeration, short docs guarded, docs
    with zero matches excluded, rank by (score desc, doc_id)."""
    from gomrjob_spark.operators.search import search_phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # "a b" occurs at positions 1 and 3 -> 2
            (2, "b a b a b"),        # "a b" occurs at 2 and 4 -> 2
            (3, "a x b a y b"),      # never consecutive -> 0 (bag would match)
            (4, "a"),                # shorter than the phrase -> 0
            (5, "a b"),              # exactly the phrase -> 1
        ],
        "doc_id long, text string",
    )
    got = [
        (r.phrase_id, r.doc_id, r.score, r.rank)
        for r in search_phrase_topk(docs, [(7, "a b")], k=10)
        .orderBy("phrase_id", "rank")
        .collect()
    ]
    assert got == [(7, 1, 2, 1), (7, 2, 2, 2), (7, 5, 1, 3)], got


def test_linear_quality_gate_weights_are_data(spark):
    """The model deploys as weights, not code: flipping the weights
    flips verdicts; degenerate inputs (empty text, no tokens) score
    without errors; arithmetic is exact integers."""
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house of the king"),  # stopword-rich
            (2, "$$$ 123 456 789 !!! ### 000 %%% 111 ^^^"),           # symbol/digit soup
            (3, ""),                                                   # degenerate
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.keep, r.score) for r in text.linear_quality_gate(docs).collect()}
    assert got[1][0] is True and got[2][0] is False
    assert got[3][1] is not None  # no division-by-zero blowup

    inverted = {"bias": 700, "r_stop": -8, "r_punct": 6, "r_digit": 6, "len_cap": -1}
    flipped = {
        r.doc_id: r.keep
        for r in text.linear_quality_gate(docs, weights=inverted).collect()
    }
    assert flipped[1] is False and flipped[2] is True


def test_perceptual_dhash_invariances():
    """dHash contract on REAL codec paths: (a) the same visual content
    at different resolutions hashes identically (cell-constant images
    under the documented inverse-sampling map); (b) a global brightness
    shift that preserves gradient order hashes identically; (c) content
    with an opposite gradient hashes differently; (d) container
    invariance — the same pixels through PGM and PNG decode paths give
    one hash."""
    from gomrjob_spark.operators.multimodal import encode_png, perceptual_dhash

    def cells(w, h, f):
        def cx(px):
            return (9 * (px + 1) + w - 1) // w - 1

        def cy(py):
            return (8 * (py + 1) + h - 1) // h - 1

        return bytes(f(cx(x), cy(y)) % 256 for y in range(h) for x in range(w))

    def pgm(w, h, f):
        return b"P5\n%d %d\n255\n" % (w, h) + cells(w, h, f)

    base = lambda x, y: 40 + x * 7 + y * 13  # noqa: E731
    h1 = perceptual_dhash(pgm(11, 9, base))
    assert h1 == perceptual_dhash(pgm(18, 13, base)), "resolution variance"
    shifted = lambda x, y: 50 + x * 7 + y * 13  # noqa: E731
    assert h1 == perceptual_dhash(pgm(11, 9, shifted)), "tone variance"
    flipped = lambda x, y: 200 - x * 7 + y * 13  # noqa: E731
    assert h1 != perceptual_dhash(pgm(11, 9, flipped)), "gradient blindness"

    # container invariance: identical gray pixels via the PNG decoder
    png = encode_png(cells(11, 9, base), 11, 9, color_type=0)
    assert perceptual_dhash(png) == h1


def test_audio_fingerprint_invariances():
    """Contour fingerprint contract: duration-invariant for
    window-cell-constant content, gain-order-invariant, and sensitive
    to contour inversion."""
    import struct

    from gomrjob_spark.operators.multimodal import audio_fingerprint

    def wav(samples):
        data = b"".join(struct.pack("<h", v) for v in samples)
        return (
            b"RIFF" + struct.pack("<I", len(data) + 36) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def synth(n, f):
        def cell(t):
            return (33 * (t + 1) + n - 1) // n - 1

        return wav([f(cell(t)) for t in range(n)])

    base = lambda c: (40 + c * 19) % 256  # noqa: E731
    h = audio_fingerprint(synth(40, base))
    assert h == audio_fingerprint(synth(333, base)), "duration variance"
    doubled = lambda c: 2 * ((40 + c * 19) % 256)  # noqa: E731
    assert h == audio_fingerprint(synth(40, doubled)), "gain variance"
    inverted = lambda c: 255 - (40 + c * 19) % 256  # noqa: E731
    assert h != audio_fingerprint(synth(40, inverted)), "contour blindness"


def test_hamming_near_pairs_exact_recall_and_no_pair_distinct(spark):
    """The generic banded signature join: (a) EXACT recall vs the
    brute-force O(n^2) Hamming enumeration at max_hamming <= bands-1
    (pigeonhole guarantee), (b) each pair emitted ONCE despite
    multi-band collisions, (c) the plan dedups pairs map-side — no
    aggregate/distinct keyed by (id_a, id_b)."""
    import io
    import random
    from contextlib import redirect_stdout

    rng = random.Random(13)
    base = rng.getrandbits(64)

    def flip(h, k):
        for b in rng.sample(range(64), k):
            h ^= 1 << b
        return h

    vals = [base]
    for _ in range(40):
        vals.append(flip(vals[rng.randrange(len(vals))], rng.randrange(0, 6)))
    signed = [v - (1 << 64) if v >= 1 << 63 else v for v in vals]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(signed)], "doc_id long, h long"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_near_pairs(df, "h", bands=4, max_hamming=3).collect()
    }
    want = {}
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            d = bin(vals[i] ^ vals[j]).count("1")
            if d <= 3:
                want[(i, j)] = d
    assert got == want and want, "banded join diverged from brute force"

    import re

    buf = io.StringIO()
    with redirect_stdout(buf):
        dedup.hamming_near_pairs(df, "h", bands=4, max_hamming=3).explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"HashAggregate[^\n]*\[id_a[^\n]*id_b[^\n]*\],\s*\[id_a", plan) is None
    assert "Deduplicate" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="recall"):
        dedup.hamming_near_pairs(df, "h", bands=4, max_hamming=4)


def test_video_scene_cuts_semantics(spark):
    """Shot detection contract: identical consecutive frames emit
    nothing; a visually-changed frame emits with the exact Hamming
    jump; the first frame never emits (no predecessor); videos are
    windowed independently."""
    from gomrjob_spark.operators.multimodal import (
        perceptual_dhash,
        video_scene_cuts,
    )

    def pgm(seed):
        w, h = 11, 9

        def cx(px):
            return (9 * (px + 1) + w - 1) // w - 1

        def cy(py):
            return (8 * (py + 1) + h - 1) // h - 1

        px = bytes((seed * 31 + cx(x) * 7 + cy(y) * 13) % 256 for y in range(h) for x in range(w))
        return b"P5\n%d %d\n255\n" % (w, h) + px

    rows = [
        (1, 0, pgm(5)), (1, 1, pgm(5)), (1, 2, pgm(9)), (1, 3, pgm(9)),
        (2, 0, pgm(7)), (2, 1, pgm(7)),
    ]
    frames = spark.createDataFrame(rows, "doc_id long, frame_idx int, payload binary")
    got = {(r.doc_id, r.frame_idx): r.hamming for r in video_scene_cuts(frames).collect()}
    expected_ham = bin(perceptual_dhash(pgm(5)) ^ perceptual_dhash(pgm(9))).count("1")
    assert got == {(1, 2): expected_ham}, got


def test_pagerank_fixedpoint_reference_and_partition_invariance(spark):
    """Exact-integer PageRank: matches a hand-computed reference on a
    tiny graph (star: 1->2, 2->1, 3->1 — node 1 accumulates), and is
    bit-identical under a different input partitioning (order-free
    integer arithmetic)."""
    from gomrjob_spark.operators.graph import pagerank_fixedpoint

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1)], "src long, dst long"
    )
    got = {r.node: r.pr for r in pagerank_fixedpoint(edges, n_iters=2).collect()}

    # reference: scale 1e6, base 150000, damping 85/100
    def step(pr):
        # outdeg: 1->1, 2->1, 3->1; in(1) = {2, 3}, in(2) = {1}, in(3) = {}
        return {
            1: 150000 + (85 * (pr[2] // 1 + pr[3] // 1)) // 100,
            2: 150000 + (85 * (pr[1] // 1)) // 100,
            3: 150000,
        }

    pr = {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}
    for _ in range(2):
        pr = step(pr)
    assert got == pr, (got, pr)

    again = {
        r.node: r.pr
        for r in pagerank_fixedpoint(edges.repartition(7), n_iters=2).collect()
    }
    assert again == got


def test_compression_ratio_exact_twin_and_determinism(spark, sf_dir):
    """The Spark zlib ratios must byte-match a driver-side recompute
    with the same level (the rows-only query's exactness gate)."""
    import zlib

    from pyspark.sql import functions as F

    from gomrjob_spark.catalog import load_table
    from gomrjob_spark.operators.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["raw_bytes"], r["comp_bytes"], r["ratio_permille"])
        for r in compression_ratio(docs).collect()
    }
    got2 = {
        r["doc_id"]: (r["raw_bytes"], r["comp_bytes"], r["ratio_permille"])
        for r in compression_ratio(docs).collect()
    }
    assert got == got2, "zlib signal must be rerun-deterministic"
    for r in docs.select("doc_id", "text").collect():
        raw = (r["text"] or "").encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        want = (len(raw), comp, (1000 * comp) // max(len(raw), 1))
        assert got[r["doc_id"]] == want, f"doc {r['doc_id']}"
    # the signal separates repetitive from high-entropy text
    import hashlib

    noise = []
    seed = b"x"
    while len(noise) < 1600:
        seed = hashlib.sha256(seed).digest()
        noise.extend(chr(33 + b % 90) for b in seed)
    probe = spark.createDataFrame(
        [(1, "spam ham " * 200), (2, "".join(noise[:1600]))],
        "doc_id long, text string",
    )
    p = {r["doc_id"]: r["ratio_permille"] for r in compression_ratio(probe).collect()}
    assert p[1] < 100 < p[2]


def test_proximity_semantics_minimal_window(spark):
    """min_gap must be the true minimal pair distance, including when
    the optimal pair straddles interleaved repeats."""
    from pyspark.sql import Row

    from gomrjob_spark.operators.search import search_proximity_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a x x x b"),          # gap 4
            Row(doc_id=2, text="a x b x x a b"),      # best is a..b at 5->6? no: pos5 'a', pos6 'b' -> 1
            Row(doc_id=3, text="b a"),                # order-insensitive -> 1
            Row(doc_id=4, text="a x x"),              # only one term -> excluded
            Row(doc_id=5, text="b b b"),              # only one term -> excluded
        ]
    )
    pq = spark.createDataFrame(
        [(9, "a", "b")], "query_id int, term_a string, term_b string"
    )
    got = {r["doc_id"]: r["min_gap"] for r in search_proximity_topk(docs, pq).collect()}
    assert got == {1: 4, 2: 1, 3: 1}
    # ranking: ascending gap, doc_id tiebreak
    ranks = {
        r["doc_id"]: r["rank"] for r in search_proximity_topk(docs, pq).collect()
    }
    assert ranks == {2: 1, 3: 2, 1: 3}


def test_temperature_mixture_flattens_head_exactly(spark):
    """alpha=0.5 shares by hand: token totals 100 vs 400 give sqrt
    weights 10k vs 20k (scale 1000) -> 333333/666666 ppm, where raw
    proportional is 200000/800000 — the head flattens, exactly."""
    from gomrjob_spark.operators.sampling import temperature_mixture_weights

    df = spark.createDataFrame(
        [("a", 100), ("b", 400)], "lang string, n_tok long"
    )
    rows = {
        r["lang"]: r
        for r in temperature_mixture_weights(df, "n_tok").collect()
    }
    assert rows["a"]["raw_ppm"] == 200_000 and rows["b"]["raw_ppm"] == 800_000
    assert rows["a"]["temp_ppm"] == 333_333 and rows["b"]["temp_ppm"] == 666_666


def test_temperature_mixture_isqrt_correction_is_exact(spark):
    """The +-1 integer-square correction: a perfect square (k^2) and
    its predecessor (k^2 - 1) must produce isqrt weights k*1000-exact
    and (k*1000 - 1)-adjacent, never off by the double's rounding."""
    from gomrjob_spark.operators.sampling import temperature_mixture_weights

    k = 123_456
    df = spark.createDataFrame(
        [("sq", k * k), ("sqm1", k * k - 1)], "lang string, n_tok long"
    )
    rows = {
        r["lang"]: r
        for r in temperature_mixture_weights(df, "n_tok").collect()
    }
    # isqrt((k^2) * 1e6) = k * 1000 exactly; isqrt((k^2-1) * 1e6) is
    # k*1000 - 1 (the true sqrt is just under k*1000) — shares differ
    # by at most 1 ppm from a perfect half split
    assert abs(rows["sq"]["temp_ppm"] - 500_000) <= 1
    assert abs(rows["sqm1"]["temp_ppm"] - 500_000) <= 1
    assert rows["sq"]["temp_ppm"] + rows["sqm1"]["temp_ppm"] <= 1_000_000


def test_softdedup_weights_contract(spark):
    """Reweight corner of the remove/rewrite/reweight triad: unique
    docs keep full weight, a heavily self-duplicated doc is down-
    weighted by its exact coverage, short docs (< min_tokens, no
    duplication evidence) keep full weight, and the floor keeps every
    weight positive (the weighted sampler's contract)."""
    from gomrjob_spark.operators.sampling import softdedup_weights

    uniq = " ".join(f"tok{i}" for i in range(30))
    dup = "a b c d e f " * 10  # every 6-gram repeats -> coverage ~1e6
    short = "tiny doc"
    docs = spark.createDataFrame(
        [(1, uniq), (2, dup), (3, short)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in softdedup_weights(docs, n=6).collect()}
    assert rows[1]["coverage_ppm"] == 0 and rows[1]["weight_ppm"] == 1_000_000
    assert rows[2]["coverage_ppm"] > 900_000
    assert rows[2]["weight_ppm"] == max(1_000_000 - rows[2]["coverage_ppm"], 31_250)
    assert rows[3]["coverage_ppm"] == 0 and rows[3]["weight_ppm"] == 1_000_000
    assert all(r["weight_ppm"] > 0 for r in rows.values())


def test_embedding_rp_preserves_caller_id_type(emb):
    """r13 advisor: the rp keyer's mapInPandas schema hardcoded the id
    to bigint (a regression from the expression-based keyer); it must
    carry the CALLER's id type through instead."""
    cast = emb.select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    ).limit(64)
    out = dedup.embedding_dup_pairs_rp(
        cast, threshold=0.4, n_planes=3, n_tables=8
    )
    assert out.schema["id_a"].dataType.simpleString() == "int"
    assert out.schema["id_b"].dataType.simpleString() == "int"
    out.collect()  # and the Arrow path executes under the narrow type
