"""Hierarchical JPEG (T.81 Annex J) codec gates: byte-identical
pyramid round-trips on arbitrary pixels across levels, channels, odd
dimensions, both entropy coders and restart cadences; the J.1.1.2
reference-expansion filter pinned by hand; and the named contract
raises (DCT differential frames, nonzero point transform)."""

from __future__ import annotations

import pytest

from gomrjob_spark.operators import multimodal as M


def _px(w, h, ch, salt):
    return bytes((salt * 31 + i * 13 + 7) % 256 for i in range(w * h * ch))


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("levels", [1, 2, 3])
def test_roundtrip_levels_both_coders(arith, levels):
    w, h = 13, 9
    px = _px(w, h, 1, levels)
    enc = M.encode_jpeg_hierarchical(
        px, w, h, channels=1, levels=levels, arith=arith
    )
    d = M.decode_image(enc)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
    assert d["pixels"] == px


@pytest.mark.parametrize("dims", [(1, 1), (2, 1), (3, 5), (16, 11), (7, 7)])
def test_roundtrip_odd_dims_rgb(dims):
    w, h = dims
    px = _px(w, h, 3, w + h)
    enc = M.encode_jpeg_hierarchical(px, w, h, channels=3, levels=2)
    assert M.decode_image(enc)["pixels"] == px


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("ri", [1, 3])
def test_roundtrip_restart_cadences(arith, ri):
    w, h = 10, 6
    px = _px(w, h, 1, ri)
    enc = M.encode_jpeg_hierarchical(
        px, w, h, channels=1, levels=2, arith=arith, restart_interval=ri
    )
    assert M.decode_image(enc)["pixels"] == px


@pytest.mark.parametrize("mode", ["lossless", "dct", "progressive"])
@pytest.mark.parametrize("channels", [1, 3])
def test_header_reports_dhp_geometry(mode, channels):
    # the header walk reports the DHP's full-size image, not the
    # decimated base frame the first SOF describes (4x4 for 16x16 at
    # two levels) — the same geometry decode_image returns
    px = _px(16, 16, channels, 3)
    enc = M.encode_jpeg_hierarchical(px, 16, 16, channels=channels, levels=2, mode=mode)
    d = M.decode_image(enc)
    assert M.decode_image_header(enc) == {
        "format": "jpeg", "width": 16, "height": 16, "channels": channels,
    }
    assert (d["width"], d["height"], d["channels"]) == (16, 16, channels)


def test_upsample_filter_pinned_by_hand():
    # J.1.1.2: even samples copy, odd interpolate (a+b+1)>>1, edges
    # replicate — checked against a hand computation both directions
    up = M._jpeg_hier_upsample([[10, 20, 31]], 1, 0)
    assert up.tolist() == [[10, 15, 20, 26, 31, 31]]
    up = M._jpeg_hier_upsample([[10], [20]], 0, 1)
    assert up.tolist() == [[10], [15], [20], [20]]


def test_decimation_pyramid_is_what_decoder_reconstructs_from():
    # a 2-level stream really carries three frames: base + 2 diffs
    enc = M.encode_jpeg_hierarchical(_px(8, 8, 1, 3), 8, 8, levels=2)
    assert enc.count(b"\xff\xdf") == 2  # two EXP segments
    assert enc[2:4] == b"\xff\xde"  # DHP right after SOI
    assert enc.count(b"\xff\xcf") == 2 and enc.count(b"\xff\xcb") == 1


def test_diff_progressive_frame_in_lossless_stream_fails_clean():
    # SOF14 is implemented since r10, so rewriting a LOSSLESS pyramid's
    # SOF15 to SOF14 now makes a malformed stream (a progressive DCT
    # frame with no DQT anywhere): clean ValueError, not a KeyError
    # from deep inside the scan (the SOF13-rewrite precedent)
    enc = bytearray(M.encode_jpeg_hierarchical(_px(4, 4, 1, 2), 4, 4, levels=1))
    i = enc.index(b"\xff\xcf")
    enc[i + 1] = 0xCE  # SOF14: differential arithmetic progressive
    with pytest.raises(ValueError, match="quantization"):
        M.decode_image(bytes(enc))


def test_dct_frame_without_dqt_fails_clean():
    # rewriting a LOSSLESS pyramid's SOF15 to SOF13 makes a malformed
    # stream (a DCT frame with no DQT anywhere): clean ValueError, not
    # a KeyError from deep inside the scan
    enc = bytearray(M.encode_jpeg_hierarchical(_px(4, 4, 1, 2), 4, 4, levels=1))
    i = enc.index(b"\xff\xcf")
    enc[i + 1] = 0xCD  # SOF13: differential arithmetic sequential DCT
    with pytest.raises(ValueError, match="quantization"):
        M.decode_image(bytes(enc))


def test_nonzero_point_transform_raises_named_contract():
    enc = bytearray(M.encode_jpeg_hierarchical(_px(4, 4, 1, 2), 4, 4, levels=1))
    # first SOS: Ns=1 -> Al byte sits 5 bytes after the marker+len
    i = enc.index(b"\xff\xda")
    enc[i + 9] = 0x01  # Ah=0, Al=1
    with pytest.raises(NotImplementedError, match="point transform"):
        M.decode_image(bytes(enc))


def test_truncated_hierarchical_stream_fails_clean():
    enc = M.encode_jpeg_hierarchical(_px(8, 8, 1, 5), 8, 8, levels=2, arith=False)
    with pytest.raises((ValueError, EOFError)):
        M.decode_image(enc[: len(enc) // 2])


def test_levels_validation():
    with pytest.raises(ValueError, match="level"):
        M.encode_jpeg_hierarchical(b"\x00", 1, 1, levels=0)


# ---- DCT pyramids (SOF0/9 base + SOF5/13 differential, r9) ----


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("levels", [1, 2])
def test_dct_pyramid_constant_images_bit_exact(arith, levels):
    for w, h in [(8, 8), (17, 9), (7, 5)]:
        px = bytes([h * 13 + w] * (w * h))
        enc = M.encode_jpeg_hierarchical(
            px, w, h, levels=levels, arith=arith, mode="dct"
        )
        d = M.decode_image(enc)
        assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
        assert d["pixels"] == px


@pytest.mark.parametrize("arith", [True, False])
def test_dct_pyramid_restart_cadence(arith):
    px = bytes([99] * (24 * 16))
    enc = M.encode_jpeg_hierarchical(
        px, 24, 16, levels=2, arith=arith, mode="dct", restart_interval=2
    )
    assert M.decode_image(enc)["pixels"] == px


def test_dct_pyramid_arbitrary_pixels_deterministic_and_close():
    import numpy as np

    px = bytes((i * 37 + 11) % 256 for i in range(24 * 16))
    e1 = M.encode_jpeg_hierarchical(px, 24, 16, levels=2, mode="dct")
    e2 = M.encode_jpeg_hierarchical(px, 24, 16, levels=2, mode="dct")
    assert e1 == e2
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    b = np.frombuffer(
        M.decode_image(e1)["pixels"], dtype=np.uint8
    ).astype(int)
    # closed-loop DCT at quant=1: the only loss is the float DCT
    # round-trip, within +-1 per sample (the baseline encoder bound)
    assert np.abs(a - b).max() <= 1


def test_dct_differential_frame_with_nonzero_acs_decodes_exactly():
    """Hand-built stream: a block-constant base frame + a differential
    SOF5 frame whose entropy codes CHOSEN integer coefficient blocks
    (nonzero ACs). The decoder must output clip(upsample(base) +
    rint(IDCT(coeffs))) computed independently here — pinning the
    differential DCT path beyond what constant-image round-trips
    reach."""
    import numpy as np

    w0, h0 = 8, 8   # base level
    w1, h1 = 16, 16  # full level
    base_val = 100
    base = np.full((h0, w0), float(base_val))
    bblocks = M._jpeg_fdct(base, 1, 128.0)

    # chosen differential coefficients: DC plus a few ACs per block
    dblocks = np.zeros((2, 2, 64), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            dblocks[by, bx, 0] = 8 * (by - bx)   # DC
            dblocks[by, bx, 1] = 5 + by          # first AC (zigzag)
            dblocks[by, bx, 7] = -3

    def seg(m, b):
        return bytes([0xFF, m]) + (len(b) + 2).to_bytes(2, "big") + b

    def sof_body(w, h):
        return (bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([1, 1, 0x11, 0]))

    out = bytearray(b"\xff\xd8")
    out += seg(0xDE, sof_body(w1, h1))
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(M._JPEG_DC_BITS) + M._JPEG_DC_SYMS
        + bytes([0x10]) + bytes(M._JPEG_AC_BITS) + M._JPEG_AC_SYMS,
    )

    def scans(sof, w, h, blocks):  # one scan: SOS (0..63) + Huffman body
        frame = M._jpeg_frame(w, h, [(1, 1)])
        script = [([0], (0, 63, 0, 0))]
        return M._jpeg_dct_scans(sof, frame, [blocks], script, 0, M._HUFF_SEQ)

    out += seg(0xC0, sof_body(w0, h0)) + scans(0xC0, w0, h0, bblocks)
    out += seg(0xDF, bytes([0x11]))
    out += seg(0xC5, sof_body(w1, h1)) + scans(0xC5, w1, h1, dblocks)
    out += b"\xff\xd9"

    got = np.frombuffer(
        M.decode_image(bytes(out))["pixels"], dtype=np.uint8
    ).astype(np.int64).reshape(h1, w1)
    up = M._jpeg_hier_upsample(np.full((h0, w0), base_val, dtype=np.int64), 1, 1)
    diff = np.rint(M._jpeg_idct(M._jpeg_dezigzag(dblocks), 1, 0.0)).astype(np.int64)
    want = np.clip(up[:h1, :w1] + diff[:h1, :w1], 0, 255)
    assert (got == want).all()


def test_multicomponent_progressive_without_dqt_fails_clean():
    # multi-component progressive pyramids are implemented since r10,
    # so a 3-channel LOSSLESS pyramid's SOF15 rewritten to SOF14 is
    # now the no-DQT malformed-stream class: clean ValueError, not a
    # KeyError from deep inside the scan
    enc = bytearray(
        M.encode_jpeg_hierarchical(_px(4, 4, 3, 2), 4, 4, channels=3, levels=1)
    )
    i = enc.index(b"\xff\xcf")
    enc[i + 1] = 0xCE
    with pytest.raises(ValueError, match="quantization"):
        M.decode_image(bytes(enc))


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("ri", [0, 2])
def test_color_progressive_pyramid_constant_images_bit_exact(arith, ri):
    # the LAST Annex J geometry cell (multi-component progressive,
    # r10): DC scan interleaved over raw channel planes + one AC-first
    # scan per component, per frame — constant color bit-exact at
    # quant=1
    w, h = 10, 8
    p = bytes([40, 90, 200] * (w * h))
    enc = M.encode_jpeg_hierarchical(
        p, w, h, channels=3, levels=2, arith=arith, mode="progressive",
        restart_interval=ri,
    )
    # 3 frames x (1 DC + 3 AC scans) = 12 SOS segments
    assert enc.count(b"\xff\xda") == 12
    d = M.decode_image(enc)
    assert (d["channels"], d["pixels"]) == (3, p)


@pytest.mark.parametrize("arith", [True, False])
def test_color_progressive_equals_color_sequential_pyramid(arith):
    # lossless entropy reordering: the color SOF6/14 pyramid decodes
    # BYTE-IDENTICAL to the color SOF5/13 pyramid of the same image
    p = _px(12, 9, 3, 5)
    e1 = M.encode_jpeg_hierarchical(
        p, 12, 9, channels=3, levels=2, arith=arith, mode="progressive"
    )
    e2 = M.encode_jpeg_hierarchical(
        p, 12, 9, channels=3, levels=2, arith=arith, mode="dct"
    )
    assert M.decode_image(e1)["pixels"] == M.decode_image(e2)["pixels"]


# ---- multi-component (color) DCT pyramids (r10) ----


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("levels", [1, 2])
@pytest.mark.parametrize("ri", [0, 2])
def test_color_dct_pyramid_constant_images_bit_exact(arith, levels, ri):
    # components are RAW channel planes (no color transform — the
    # lossless-pyramid assembler contract): per-channel constants
    # reproduce bit-exactly at quant=1
    w, h = 10, 8
    p = bytes([40, 90, 200] * (w * h))
    enc = M.encode_jpeg_hierarchical(
        p, w, h, channels=3, levels=levels, arith=arith, mode="dct",
        restart_interval=ri,
    )
    d = M.decode_image(enc)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    assert d["pixels"] == p


@pytest.mark.parametrize("arith", [True, False])
def test_color_dct_pyramid_arbitrary_pixels_deterministic_and_close(arith):
    import numpy as np

    p = _px(12, 9, 3, 5)
    e1 = M.encode_jpeg_hierarchical(p, 12, 9, channels=3, levels=2, arith=arith, mode="dct")
    e2 = M.encode_jpeg_hierarchical(p, 12, 9, channels=3, levels=2, arith=arith, mode="dct")
    assert e1 == e2
    a = np.frombuffer(M.decode_image(e1)["pixels"], dtype=np.uint8).astype(int)
    b = np.frombuffer(p, dtype=np.uint8).astype(int)
    # closed-loop DCT at quant=1, per channel: within +-1 per sample
    assert np.abs(a - b).max() <= 1


@pytest.mark.parametrize("arith", [True, False])
@pytest.mark.parametrize("levels", [1, 2])
@pytest.mark.parametrize("ri", [0, 2])
def test_progressive_pyramid_constant_images_bit_exact(arith, levels, ri):
    # SOF2/10 base + SOF6/14 differentials (r10: the last Annex J DCT
    # cell): constant images reproduce bit-exactly at quant=1
    w, h = 12, 10
    p = bytes([77] * (w * h))
    enc = M.encode_jpeg_hierarchical(
        p, w, h, levels=levels, arith=arith, mode="progressive",
        restart_interval=ri,
    )
    diff_marker = b"\xff\xce" if arith else b"\xff\xc6"
    assert enc.count(diff_marker) == levels
    # two scans per frame: (levels + 1) * 2 SOS segments
    assert enc.count(b"\xff\xda") == (levels + 1) * 2
    assert M.decode_image(enc)["pixels"] == p


@pytest.mark.parametrize("arith", [True, False])
def test_progressive_pyramid_equals_sequential_pyramid(arith):
    # progressive coding is a lossless reordering of the entropy layer:
    # the SOF6/14 pyramid must decode BYTE-IDENTICAL to the SOF5/13
    # pyramid of the same image (same quantized blocks, same closed
    # loop), on arbitrary pixels
    p = _px(16, 13, 1, 9)
    e_prog = M.encode_jpeg_hierarchical(
        p, 16, 13, levels=2, arith=arith, mode="progressive"
    )
    e_seq = M.encode_jpeg_hierarchical(p, 16, 13, levels=2, arith=arith, mode="dct")
    assert M.decode_image(e_prog)["pixels"] == M.decode_image(e_seq)["pixels"]


def test_progressive_differential_frame_with_nonzero_acs_decodes_exactly():
    """Hand-built stream (the SOF5 precedent): a block-constant SOF2
    base frame + a differential SOF6 frame whose two scans (DC, then
    AC first 1..63) code CHOSEN coefficient blocks with nonzero ACs.
    The decoder must output clip(upsample(base) + rint(IDCT(coeffs)))
    computed independently here — pinning the differential PROGRESSIVE
    path beyond what constant-image round-trips reach."""
    import numpy as np

    w0, h0 = 8, 8
    w1, h1 = 16, 16
    base_val = 100
    base = np.full((h0, w0), float(base_val))
    bblocks = M._jpeg_fdct(base, 1, 128.0)

    dblocks = np.zeros((2, 2, 64), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            dblocks[by, bx, 0] = 8 * (by - bx)   # DC
            dblocks[by, bx, 1] = 5 + by          # first AC (zigzag)
            dblocks[by, bx, 7] = -3

    def seg(m, b):
        return bytes([0xFF, m]) + (len(b) + 2).to_bytes(2, "big") + b

    def sof_body(w, h):
        return (bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([1, 1, 0x11, 0]))

    def scans(sof, w, h, blocks):  # DC scan, then AC first 1..63
        frame = M._jpeg_frame(w, h, [(1, 1)])
        script = [([0], (0, 0, 0, 0)), ([0], (1, 63, 0, 0))]
        return M._jpeg_dct_scans(sof, frame, [blocks], script, 0, M._HUFF_SEQ)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDE, sof_body(w1, h1))
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(M._JPEG_DC_BITS) + M._JPEG_DC_SYMS
        + bytes([0x10]) + bytes(M._JPEG_AC_BITS) + M._JPEG_AC_SYMS,
    )
    out += seg(0xC2, sof_body(w0, h0)) + scans(0xC2, w0, h0, bblocks)
    out += seg(0xDF, bytes([0x11]))
    out += seg(0xC6, sof_body(w1, h1)) + scans(0xC6, w1, h1, dblocks)
    out += b"\xff\xd9"

    got = np.frombuffer(
        M.decode_image(bytes(out))["pixels"], dtype=np.uint8
    ).astype(np.int64).reshape(h1, w1)
    up = M._jpeg_hier_upsample(np.full((h0, w0), base_val, dtype=np.int64), 1, 1)
    diff = np.rint(M._jpeg_idct(M._jpeg_dezigzag(dblocks), 1, 0.0)).astype(np.int64)
    want = np.clip(up[:h1, :w1] + diff[:h1, :w1], 0, 255)
    assert (got == want).all()


@pytest.mark.parametrize("mode", ["progressive", "dct"])
def test_truncated_color_pyramid_fails_clean(mode):
    p = bytes([40, 90, 200] * 80)
    enc = M.encode_jpeg_hierarchical(
        p, 10, 8, channels=3, levels=2, arith=False, mode=mode
    )
    for frac in (3, 2):
        with pytest.raises((ValueError, EOFError)):
            M.decode_image(enc[: len(enc) // frac])


def test_oversized_dhp_is_refused():
    enc = bytearray(M.encode_jpeg_hierarchical(_px(8, 8, 1, 3), 8, 8, channels=1))
    i = enc.index(b"\xff\xde")
    enc[i + 5 : i + 9] = b"\xff\xff\xff\xff"  # the pyramid's height, width
    with pytest.raises(ValueError, match="decode budget"):
        M.decode_image(bytes(enc))
