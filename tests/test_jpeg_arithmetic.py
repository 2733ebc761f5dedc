"""Arithmetic-coded JPEG (SOF9, QM coder + Annex F statistics model):
the entropy layer is lossless, so decoding the arithmetic stream must
yield BYTE-IDENTICAL pixels to decoding the baseline Huffman stream of
the same image — the progressive gate's contract, now for the QM path.
Plus QM-coder round-trip properties and byte-layer edge cases."""

from __future__ import annotations

import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gomrjob_spark.operators.multimodal import (
    _JPEG_MAX_SAMPLES,
    _ArithBits,
    _pack_arith_bits,
    _QMDecoder,
    _QMEncoder,
    _jpeg_bounded,
    decode_image,
    encode_jpeg_arithmetic,
    encode_jpeg_baseline,
)

dims = st.tuples(st.integers(1, 40), st.integers(1, 40))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 112), st.booleans()), max_size=400),
       st.integers(0, 2**31 - 1))
def test_qm_coder_roundtrips_any_decision_sequence(ctx_bits, seed):
    """Encode an arbitrary (context, decision) sequence through shared
    adaptive bins, decode it back bit-exactly. Contexts index a small
    bin pool so adaptation paths interleave."""
    rng = np.random.RandomState(seed % 2**31)
    enc = _QMEncoder()
    bins = [[c % 8, 0] for c in range(8)]
    # seed the bin pool's starting states from the sampled indices
    for i, (c, _) in enumerate(ctx_bits[:8]):
        bins[i % 8][0] = c
    start = [list(b) for b in bins]
    decisions = [(rng.randint(0, 8), int(d)) for (_, d) in ctx_bits]
    for b, d in decisions:
        enc.encode(bins[b], d)
    data = _pack_arith_bits(enc.flush()) + b"\xff\xd9"
    dec = _QMDecoder(_ArithBits(data, 0))
    rbins = [list(b) for b in start]
    for b, d in decisions:
        assert dec.decode(rbins[b]) == d


def test_pack_arith_bits_stuffs_after_ff():
    # 16 one-bits -> 0xFF then a stuffed byte whose MSB is 0
    out = _pack_arith_bits([1] * 16)
    assert out[0] == 0xFF
    assert out[1] & 0x80 == 0
    # and no 0xFF byte is ever followed by > 0x8F inside the data
    for i in range(len(out) - 1):
        if out[i] == 0xFF:
            assert out[i + 1] <= 0x8F


@settings(max_examples=25, deadline=None)
@given(dims, st.sampled_from([1, 3]), st.integers(0, 2**31 - 1),
       st.sampled_from([0, 2]), st.sampled_from([1, 4]))
def test_arith_jpeg_decodes_identical_to_baseline(wh, channels, seed, restart, quant):
    w, h = wh
    rng = np.random.RandomState(seed % 2**31)
    arr = rng.randint(0, 256, size=(h, w, channels), dtype=np.uint8)
    base = decode_image(
        encode_jpeg_baseline(
            arr.tobytes(), w, h, channels=channels,
            restart_interval=restart, quant=quant,
        )
    )
    got = decode_image(
        encode_jpeg_arithmetic(
            arr.tobytes(), w, h, channels=channels,
            restart_interval=restart, quant=quant,
        )
    )
    assert (got["width"], got["height"], got["channels"]) == (w, h, channels)
    assert got["pixels"] == base["pixels"]


def test_arith_jpeg_420_subsampling_matches_baseline():
    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
    kw = dict(channels=3, subsampling=(2, 2), restart_interval=3)
    base = decode_image(encode_jpeg_baseline(arr.tobytes(), 47, 33, **kw))
    got = decode_image(encode_jpeg_arithmetic(arr.tobytes(), 47, 33, **kw))
    assert got["pixels"] == base["pixels"]


def test_arith_jpeg_compresses_below_baseline_on_natural_content():
    # adaptive contexts should beat the single-length Huffman tables
    arr = np.fromfunction(
        lambda y, x: (x * 3 + y * 2) % 256, (64, 64)
    ).astype(np.uint8)
    nb = len(encode_jpeg_baseline(arr.tobytes(), 64, 64, channels=1))
    na = len(encode_jpeg_arithmetic(arr.tobytes(), 64, 64, channels=1))
    assert na < nb


def test_hierarchical_still_raises_precisely():
    # SOF11 (arithmetic lossless) DECODES since r8 (test_jpeg_lossless);
    # the honest contract raise moved to hierarchical/differential JPEG
    # (SOF5-7/13-15), the one remaining mode
    payload = bytearray(encode_jpeg_arithmetic(bytes(64), 8, 8, channels=1))
    i = payload.index(b"\xff\xc9")
    payload[i + 1] = 0xCD  # SOF13: differential sequential, arithmetic
    with pytest.raises(NotImplementedError, match="hierarchical"):
        decode_image(bytes(payload))


def test_oversized_frame_is_refused_before_allocation():
    # an 8x8 stream whose SOF9 declares 65535x65535: without the sample
    # budget the decoder allocates 32 GiB of coefficients up front
    payload = bytearray(encode_jpeg_arithmetic(bytes(64), 8, 8, channels=1))
    i = payload.index(b"\xff\xc9")
    payload[i + 5 : i + 9] = b"\xff\xff\xff\xff"  # height, width
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="decode budget"):
        decode_image(bytes(payload))
    assert time.perf_counter() - t0 < 1.0


def test_sample_budget_counts_components():
    comps = [{}] * 3
    side = 5461  # 5461 * 5461 * 3 is just under the budget
    assert 3 * side * side <= _JPEG_MAX_SAMPLES < 3 * side * (side + 1)
    frame = {"w": side, "h": side, "comps": comps}
    assert _jpeg_bounded(frame) is frame
    with pytest.raises(ValueError, match="decode budget"):
        _jpeg_bounded({"w": side + 1, "h": side, "comps": comps})


@settings(max_examples=20, deadline=None)
@given(dims, st.sampled_from([1, 3]), st.integers(0, 2**31 - 1),
       st.sampled_from([0, 2]), st.integers(0, 2), st.integers(0, 2))
def test_arith_progressive_decodes_identical_to_baseline(
    wh, channels, seed, restart, dc_al, ac_al
):
    """SOF10: progressive scan scripts + QM entropy are a lossless
    reordering — pixels must match the baseline Huffman decode exactly,
    across SA depths, restart cadences, and spectral bands."""
    from gomrjob_spark.operators.multimodal import encode_jpeg_arith_progressive

    w, h = wh
    rng = np.random.RandomState(seed % 2**31)
    arr = rng.randint(0, 256, size=(h, w, channels), dtype=np.uint8)
    base = decode_image(
        encode_jpeg_baseline(
            arr.tobytes(), w, h, channels=channels, restart_interval=restart
        )
    )
    got = decode_image(
        encode_jpeg_arith_progressive(
            arr.tobytes(), w, h, channels=channels, restart_interval=restart,
            dc_al=dc_al, ac_al=ac_al,
        )
    )
    assert got["pixels"] == base["pixels"]


def test_arith_progressive_single_band_and_deep_approximation():
    from gomrjob_spark.operators.multimodal import encode_jpeg_arith_progressive

    rng = np.random.RandomState(21)
    arr = rng.randint(0, 256, size=(24, 31, 1), dtype=np.uint8)
    base = decode_image(encode_jpeg_baseline(arr.tobytes(), 31, 24, channels=1))
    got = decode_image(
        encode_jpeg_arith_progressive(
            arr.tobytes(), 31, 24, channels=1,
            dc_al=3, ac_al=3, bands=((1, 63),),
        )
    )
    assert got["pixels"] == base["pixels"]


def test_truncated_arith_stream_fails_cleanly():
    payload = encode_jpeg_arithmetic(
        np.random.RandomState(3).randint(0, 256, 16 * 16, dtype=np.uint8).tobytes(),
        16, 16, channels=1, restart_interval=1,
    )
    # drop the tail including the second restart marker: the scan loop
    # must surface a decode-contract ValueError, not an IndexError
    cut = payload[: payload.index(b"\xff\xd0") + 1]
    with pytest.raises(ValueError):
        decode_image(cut)


@settings(max_examples=8, deadline=None)
@given(st.sampled_from([0.5, 0.7, 0.9, 0.98]), st.integers(0, 2**31 - 1))
def test_qm_adaptation_approaches_entropy(p, seed):
    """Round-trip tests cannot catch a mis-transcribed Qe state table
    (encoder and decoder share it, so a wrong NMPS/NLPS graph still
    round-trips) — but it WOULD degrade compression. Pin adaptation
    quality instead: a single adaptive bin coding iid Bernoulli(p)
    decisions must approach the binary entropy H(p) bits/symbol."""
    import math

    rng = np.random.RandomState(seed % 2**31)
    n = 20000
    decisions = (rng.random_sample(n) < p).astype(int)
    enc = _QMEncoder()
    bin_ = [0, 0]
    for d in decisions:
        enc.encode(bin_, int(d))
    nbits = len(enc.flush())
    hp = -(p * math.log2(p) + (1 - p) * math.log2(1 - p))
    # QM's table granularity + adaptation ramp cost a few percent;
    # a broken transition graph costs far more (measured: shuffling
    # NMPS pointers pushes 0.9 from ~0.50 to >0.75 bits/sym)
    assert nbits / n <= hp * 1.10 + 0.02, (p, nbits / n, hp)


def test_arith_progressive_420_subsampling_matches_baseline():
    from gomrjob_spark.operators.multimodal import encode_jpeg_arith_progressive

    rng = np.random.RandomState(31)
    arr = rng.randint(0, 256, size=(34, 46, 3), dtype=np.uint8)
    kw = dict(channels=3, subsampling=(2, 2), restart_interval=2)
    base = decode_image(encode_jpeg_baseline(arr.tobytes(), 46, 34, **kw))
    got = decode_image(
        encode_jpeg_arith_progressive(
            arr.tobytes(), 46, 34, dc_al=2, ac_al=1, **kw
        )
    )
    assert got["pixels"] == base["pixels"]


def test_truncated_arith_progressive_fails_cleanly():
    from gomrjob_spark.operators.multimodal import encode_jpeg_arith_progressive

    payload = encode_jpeg_arith_progressive(
        np.random.RandomState(9).randint(0, 256, 24 * 24, dtype=np.uint8).tobytes(),
        24, 24, channels=1, restart_interval=1,
    )
    # cut inside the first scan's restart cadence
    cut = payload[: payload.index(b"\xff\xd0") + 1]
    with pytest.raises(ValueError):
        decode_image(cut)
