"""Property-based tests for the LLM-pipeline operators (hypothesis),
following the serde-property convention: pure-Python invariants run many
examples; Spark-backed properties run a bounded number of jobs, each
over a generated BATCH of documents."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from gomrjob_spark.operators.dedup import _driver_min_labels
from gomrjob_spark.operators.multimodal import resize_dims


@given(
    st.integers(min_value=1, max_value=10_000),
    st.integers(min_value=1, max_value=10_000),
    st.integers(min_value=1, max_value=512),
)
@settings(max_examples=300, deadline=None)
def test_resize_dims_invariants(w, h, target):
    ow, oh = resize_dims(w, h, target)
    assert 1 <= ow <= target and 1 <= oh <= target
    assert max(ow, oh) == target  # the long side always hits the target
    # orientation preserved
    if w > h:
        assert ow >= oh
    elif h > w:
        assert oh >= ow
    else:
        assert ow == oh == target


texts = st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120),
    min_size=1,
    max_size=8,
)


@given(
    texts,
    st.integers(min_value=2, max_value=40),
    st.data(),
)
@settings(max_examples=8, deadline=None)
def test_chunk_reassembly_property(spark, docs, size, data):
    """Dropping each chunk's leading overlap and concatenating in index
    order reconstructs the document exactly — for ANY (text, size,
    overlap) combination, which subsumes coverage + contiguity."""
    from gomrjob_spark.operators.text import chunk_text

    overlap = data.draw(st.integers(min_value=0, max_value=size - 1))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    rows = chunk_text(df, size=size, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_index] = r.chunk
    for i, t in enumerate(docs):
        if not t:
            assert i not in by_doc
            continue
        chunks = by_doc[i]
        assert sorted(chunks) == list(range(len(chunks)))  # contiguous indices
        rebuilt = chunks[0] + "".join(chunks[j][overlap:] for j in range(1, len(chunks)))
        assert rebuilt == t


def test_chunk_text_rejects_bad_overlap(spark):
    """overlap must sit in [0, size): negative overlap makes step > size
    and silently skips characters (ADVICE r2)."""
    import pytest

    from gomrjob_spark.operators.text import chunk_text

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    for bad in (-10, -1, 10, 11):
        with pytest.raises(ValueError, match="overlap"):
            chunk_text(df, size=10, overlap=bad)


def test_asof_rejects_reserved_mts(spark):
    import pytest

    from gomrjob_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1, 1)], "k long, ts long, _mts long")
    with pytest.raises(ValueError, match="_mts"):
        asof_join(df, df, on="k", left_ts="ts", right_ts="ts", value_cols=["_mts"])


def test_hash_sample_half_up_rounding(spark):
    """fraction * buckets landing exactly on .5 keeps a bucket (half-up),
    not zero (Python round() half-to-even would drop it, ADVICE r2)."""
    from pyspark.sql import functions as F

    from gomrjob_spark.operators.sampling import hash_bucket, hash_sample

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    kept = hash_sample(df, fraction=0.00005, buckets=10_000)
    # threshold is floor(0.5 + 0.5) = 1 -> exactly the bucket-0 rows survive
    expected = df.filter(hash_bucket(F.col("doc_id"), 10_000, "sample") == 0)
    assert kept.count() == expected.count()


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
    fmt=st.sampled_from(["ppm", "pgm", "bmp24", "bmp32", "bmp_topdown"]),
)
@settings(max_examples=60, deadline=None)
def test_pixel_decode_roundtrip_property(w, h, data, fmt):
    """Encode random pixels into each supported container, decode, and
    recover the EXACT top-down RGB(A) byte sequence — covering BMP row
    padding, bottom-up storage, BGR ordering, and PNM header parsing."""
    import struct

    from gomrjob_spark.operators.multimodal import decode_image

    ch = {"ppm": 3, "pgm": 1, "bmp24": 3, "bmp32": 4, "bmp_topdown": 3}[fmt]
    pix = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch))
    )
    if fmt in ("ppm", "pgm"):
        magic = b"P6" if fmt == "ppm" else b"P5"
        payload = magic + f"\n# c\n{w} {h}\n255\n".encode() + pix
    else:
        top_down = fmt == "bmp_topdown"
        stride = (w * ch + 3) // 4 * 4
        rows = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                s = (y * w + x) * ch
                row += bytes([pix[s + 2], pix[s + 1], pix[s]])  # RGB -> BGR
                if ch == 4:
                    row += pix[s + 3 : s + 4]
            rows.append(bytes(row) + b"\x00" * (stride - len(row)))
        raster = b"".join(rows if top_down else list(reversed(rows)))
        payload = (
            b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1,
                          ch * 8, 0, len(raster), 0, 0, 0, 0)
            + raster
        )
    m = decode_image(payload)
    assert (m["width"], m["height"], m["channels"]) == (w, h, ch)
    assert m["pixels"] == pix


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=64),
    junk_first=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_pcm_decode_roundtrip_property(samples, junk_first):
    """Random signed 16-bit sequences survive WAV encode -> decode
    byte-exactly, with or without a preceding odd-sized chunk."""
    import struct

    from gomrjob_spark.operators.multimodal import decode_audio_samples

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
    junk = b"LIST" + struct.pack("<I", 5) + b"junk\x00\x00"
    chunks = (junk + fmt) if junk_first else fmt
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE" + chunks
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert decode_audio_samples(payload)["samples"] == samples


def test_heavy_hitters_exact_under_spill_pressure(spark):
    """Two-pass Misra-Gries must return EXACTLY the > total/k set even
    when k is far smaller than the vocabulary (forcing many candidate
    spills) and regardless of partitioning. Zipf-ish data: value v
    appears v times."""
    from pyspark.sql import functions as F

    from gomrjob_spark.operators.text import heavy_hitters

    n = 200  # values 1..200, value v repeated v times; total = 20100
    df = (
        spark.range(1, n + 1)
        .select(F.explode(F.sequence(F.lit(1), F.col("id"))).alias("_"), F.col("id").cast("string").alias("v"))
        .select("v")
    )
    total = n * (n + 1) // 2
    for k in (5, 16, 64):
        want = {str(v): v for v in range(1, n + 1) if k * v > total}
        for parts in (3, 17):
            got = {
                r["v"]: r["n"]
                for r in heavy_hitters(df.repartition(parts), "v", k=k).collect()
            }
            assert got == want, (k, parts, len(got), len(want))


def _union_find_min_labels(edges):
    """Reference: sequential union-find keeping each set's minimum id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)).filter(lambda e: e[0] != e[1]),
        max_size=80,
    )
)
@settings(max_examples=300, deadline=None)
def test_driver_min_labels_match_union_find(edges):
    """The numpy hooking + pointer-jumping finish labels every endpoint
    with its component minimum, exactly as a sequential union-find."""
    import numpy as np

    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    ids, labels = _driver_min_labels(src, dst)
    assert dict(zip(ids.tolist(), labels.tolist())) == _union_find_min_labels(edges)


def _capped_pair_reference(docs, n, cap):
    """Plain-Python capped pair stage: per-doc kept shingles (every
    shingle in more than ``cap`` docs dropped) and the intersection
    count of every pair sharing one, {(id_a, id_b): n_common}."""
    from collections import Counter

    shingles = {}
    for i, text in enumerate(docs):
        toks = text.split()
        shingles[i] = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
    freq = Counter(s for sh in shingles.values() for s in sh)
    kept = {i: {s for s in sh if freq[s] <= cap} for i, sh in shingles.items()}
    inter = {}
    for a in kept:
        for b in kept:
            if a < b and kept[a] & kept[b]:
                inter[(a, b)] = len(kept[a] & kept[b])
    return kept, inter


@given(
    st.lists(
        st.lists(st.sampled_from(["ab", "cd", "ef", "gh"]), min_size=1, max_size=9).map(" ".join),
        min_size=2,
        max_size=9,
    ),
    st.sampled_from([2, 3]),
    st.integers(min_value=1, max_value=4),
    st.sampled_from([0.25, 0.5, 0.75, 1.0]),
)
@settings(max_examples=10, deadline=None)
def test_capped_pairs_match_reference(spark, docs, n, cap, threshold):
    """Capped ``jaccard_pairs`` and ``containment_pairs`` against a
    plain-Python reference, with a cap drawn small enough to bind: the
    four-word vocabulary puts most shingles in more docs than the cap.
    No registered scale reaches the registry's cap (sf0.1's most
    frequent shingle is in 25 docs), so the oracle gate alone cannot
    catch a wrong stop-shingle filter."""
    from gomrjob_spark.operators.dedup import containment_pairs, jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id bigint, text string")
    kept, inter = _capped_pair_reference(docs, n, cap)
    want_j = {}
    want_c = {}
    for (a, b), common in inter.items():
        j = float(common) / float(len(kept[a]) + len(kept[b]) - common)
        if j >= threshold:
            want_j[(a, b)] = j
        for src, dst in ((a, b), (b, a)):
            c = float(common) / float(len(kept[src]))
            if c >= threshold:
                want_c[(src, dst)] = c
    got_j = jaccard_pairs(df, n=n, threshold=threshold, max_shingle_freq=cap).collect()
    got_c = containment_pairs(df, n=n, threshold=threshold, max_shingle_freq=cap).collect()
    assert {(r.id_a, r.id_b): r.jaccard for r in got_j} == want_j
    assert {(r.id_src, r.id_dst): r.containment for r in got_c} == want_c
    assert len(got_j) == len(want_j) and len(got_c) == len(want_c)
