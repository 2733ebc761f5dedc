"""Property-based codec tests (hypothesis): the PNG/GIF/JPEG decoders
round-trip ANY image the matching writer emits — random dimensions,
channel layouts, palettes, filter-type sequences, and pixel content —
not just the fixture shapes. Pure Python, no Spark session."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from gomrjob_spark.operators.multimodal import (
    decode_image,
    encode_gif,
    encode_jpeg_baseline,
    encode_jpeg_progressive,
    encode_png,
)

dims = st.tuples(st.integers(1, 24), st.integers(1, 16))


@settings(max_examples=40, deadline=None)
@given(
    dims,
    st.sampled_from([0, 2, 4, 6]),
    st.integers(0, 2**31 - 1),
    st.data(),
)
def test_png_roundtrips_any_image(wh, color_type, seed, data):
    w, h = wh
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    rng = np.random.RandomState(seed % 2**31)
    pixels = rng.randint(0, 256, size=w * h * nch, dtype=np.uint8).tobytes()
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    got = decode_image(encode_png(pixels, w, h, color_type, filters=filters))
    assert (got["width"], got["height"], got["channels"]) == (w, h, nch)
    assert got["pixels"] == pixels


@settings(max_examples=40, deadline=None)
@given(
    dims,
    st.sampled_from([0, 2, 4, 6]),
    st.integers(0, 2**31 - 1),
    st.booleans(),
)
def test_png_16bit_roundtrips_and_scales_exactly(wh, color_type, seed, interlace):
    """16-bit samples built as v*257 must decode back to exactly v: the
    decoder's round(v16*255/65535) is the exact inverse of the *257
    expansion, so the 8->16->8 trip is lossless at every depth/color."""
    w, h = wh
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    rng = np.random.RandomState(seed % 2**31)
    px8 = rng.randint(0, 256, size=w * h * nch, dtype=np.uint8)
    px16 = (px8.astype(">u2") * 257).tobytes()
    got = decode_image(
        encode_png(px16, w, h, color_type, bit_depth=16, interlace=int(interlace))
    )
    assert (got["width"], got["height"], got["channels"]) == (w, h, nch)
    assert got["pixels"] == px8.tobytes()


@settings(max_examples=40, deadline=None)
@given(
    dims,
    st.sampled_from([1, 2, 4]),
    st.sampled_from([0, 3]),
    st.integers(0, 2**31 - 1),
    st.booleans(),
)
def test_png_sub8_depths_roundtrip(wh, depth, color_type, seed, interlace):
    """1/2/4-bit packed scanlines (gray scaled by 255/(2^d-1); palette
    raw indices through PLTE), interlaced or not, round-trip exactly."""
    w, h = wh
    rng = np.random.RandomState(seed % 2**31)
    n = 1 << depth
    idx = rng.randint(0, n, size=w * h).astype(np.uint8)
    if color_type == 0:
        vals = (idx * (255 // (n - 1))).astype(np.uint8)
        got = decode_image(
            encode_png(vals.tobytes(), w, h, 0, bit_depth=depth, interlace=int(interlace))
        )
        assert got["channels"] == 1 and got["pixels"] == vals.tobytes()
    else:
        pal = rng.randint(0, 256, size=n * 3, dtype=np.uint8).tobytes()
        got = decode_image(
            encode_png(
                idx.tobytes(), w, h, 3, bit_depth=depth, plte=pal,
                interlace=int(interlace),
            )
        )
        want = b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
        assert got["channels"] == 3 and got["pixels"] == want


@settings(max_examples=40, deadline=None)
@given(
    dims,
    st.sampled_from([0, 2, 4, 6]),
    st.integers(0, 2**31 - 1),
    st.data(),
)
def test_png_adam7_equals_sequential(wh, color_type, seed, data):
    """The same pixels written Adam7 and non-interlaced decode
    identically — de-interlacing is a pure reordering. Filter types are
    drawn independently per scanline for both codings (Adam7 has the
    same total scanline count, split across up to 7 sub-images)."""
    w, h = wh
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    rng = np.random.RandomState(seed % 2**31)
    pixels = rng.randint(0, 256, size=w * h * nch, dtype=np.uint8).tobytes()
    f_seq = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    plain = decode_image(encode_png(pixels, w, h, color_type, filters=f_seq))
    inter = decode_image(encode_png(pixels, w, h, color_type, interlace=1))
    assert plain["pixels"] == inter["pixels"] == pixels


@settings(max_examples=40, deadline=None)
@given(dims, st.integers(2, 64), st.integers(0, 2**31 - 1))
def test_gif_roundtrips_any_palette_image(wh, n_colors, seed):
    w, h = wh
    rng = np.random.RandomState(seed % 2**31)
    palette = rng.randint(0, 256, size=n_colors * 3, dtype=np.uint8).tobytes()
    indices = rng.randint(0, n_colors, size=w * h).astype(np.uint8).tobytes()
    got = decode_image(encode_gif(indices, w, h, palette))
    assert (got["width"], got["height"], got["channels"]) == (w, h, 3)
    want = b"".join(palette[i * 3 : i * 3 + 3] for i in indices)
    assert got["pixels"] == want


def _dct_plane(plane: np.ndarray) -> np.ndarray:
    """One component's quant=1 round trip computed from T.81 alone:
    edge-pad to the 8x8 grid, level shift, orthonormal FDCT, coefficients
    rounded half-to-even (the encoder's rule), float IDCT, crop. The FDCT
    uses the encoder's contraction order: DC and the (0,4)/(4,0)/(4,4)
    coefficients are exact multiples of 1/8, so they can tie at .5 and
    only the same float evaluation rounds them alike."""
    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    full = np.pad(plane, ((0, 8 * bh - h), (0, 8 * bw - w)), mode="edge")
    u = np.arange(8).reshape(-1, 1)
    c = np.cos((2 * np.arange(8) + 1) * u * np.pi / 16) / 2
    c[0] /= np.sqrt(2)
    blocks = (full - 128.0).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coef = np.rint(np.einsum("ab,ijbc,cd->ijad", c, blocks, c.T))
    spatial = (c.T @ coef @ c + 128.0).transpose(0, 2, 1, 3)
    return spatial.reshape(8 * bh, 8 * bw)[:h, :w]


def _baseline_roundtrip(arr: np.ndarray) -> np.ndarray:
    """The decoded pixels of a quant=1, 4:4:4 baseline JPEG of ``arr``
    (h, w, 1 or 3): each component's DCT round trip, through the JFIF
    YCbCr transform and back for colour, then rounded and clipped."""
    a = arr.astype(np.float64)
    if a.shape[2] == 1:
        out = _dct_plane(a[..., 0])[..., None]
    else:
        r, g, b = a[..., 0], a[..., 1], a[..., 2]
        y, cb, cr = (
            _dct_plane(p)
            for p in (
                0.299 * r + 0.587 * g + 0.114 * b,
                128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
            )
        )
        cb, cr = cb - 128.0, cr - 128.0
        out = np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
            axis=-1,
        )
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


@settings(max_examples=25, deadline=None)
@given(dims, st.sampled_from([1, 3]), st.integers(0, 2**31 - 1), st.sampled_from([0, 3]))
@example(wh=(10, 10), channels=1, seed=135, restart=0)
@example(wh=(14, 9), channels=3, seed=301, restart=0)
def test_jpeg_decodes_within_rounding_any_image(wh, channels, seed, restart):
    """A quant=1 baseline JPEG decodes to exactly the rounded float DCT
    round trip of the image. That is not within +/-1 of the input: each
    of a block's 64 coefficients is rounded, which moved a sample by 2
    in grayscale and by 3 in colour (the two pinned examples)."""
    w, h = wh
    rng = np.random.RandomState(seed % 2**31)
    arr = rng.randint(0, 256, size=(h, w, channels), dtype=np.uint8)
    payload = encode_jpeg_baseline(
        arr.tobytes(), w, h, channels=channels, restart_interval=restart
    )
    got = decode_image(payload)
    assert (got["width"], got["height"], got["channels"]) == (w, h, channels)
    dec = np.frombuffer(got["pixels"], dtype=np.uint8).reshape(h, w, channels)
    np.testing.assert_array_equal(dec, _baseline_roundtrip(arr))


@settings(max_examples=30, deadline=None)
@given(
    dims,
    st.sampled_from([1, 3]),
    st.integers(0, 2**31 - 1),
    st.sampled_from([0, 3]),
    st.sampled_from([(1, 1), (2, 2)]),
    st.integers(1, 2),
    st.integers(1, 2),
)
def test_jpeg_progressive_decodes_identical_to_baseline(
    wh, channels, seed, restart, sub, dc_al, ac_al
):
    """Progressive coding is a lossless reordering of the entropy layer:
    the SOF2 stream (spectral selection + successive approximation, EOB
    runs, correction bits, restart markers) must decode to byte-identical
    pixels as the baseline stream of the same image — so any divergence
    between the two decode paths, in either direction, fails here."""
    w, h = wh
    if channels == 1:
        sub = (1, 1)
    rng = np.random.RandomState(seed % 2**31)
    px = rng.randint(0, 256, size=w * h * channels, dtype=np.uint8).tobytes()
    base = decode_image(
        encode_jpeg_baseline(
            px, w, h, channels=channels, restart_interval=restart, subsampling=sub
        )
    )
    prog = decode_image(
        encode_jpeg_progressive(
            px, w, h, channels=channels, restart_interval=restart,
            subsampling=sub, dc_al=dc_al, ac_al=ac_al,
        )
    )
    assert (prog["width"], prog["height"], prog["channels"]) == (w, h, channels)
    assert prog["pixels"] == base["pixels"]


def test_jpeg_progressive_single_band_and_deep_approximation():
    """Degenerate scan scripts: one band covering 1..63, and a 3-level
    successive approximation, still reproduce the baseline pixels."""
    rng = np.random.RandomState(11)
    w, h = 19, 13
    px = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    base = decode_image(encode_jpeg_baseline(px, w, h, channels=3))
    one_band = decode_image(
        encode_jpeg_progressive(px, w, h, channels=3, bands=((1, 63),))
    )
    deep = decode_image(
        encode_jpeg_progressive(px, w, h, channels=3, dc_al=3, ac_al=3)
    )
    assert one_band["pixels"] == base["pixels"]
    assert deep["pixels"] == base["pixels"]


# ------------------------------------------------------- truncation paths
# Malformed/truncated payloads must raise the module's ValueError
# contract — never a raw IndexError from indexing past the buffer
# (ADVICE r5: sync_restart's stuffed-pair skip loop and the Adam7
# unfilter path validated only after decoding).


def _idat_raw_and_rebuild(payload: bytes, new_raw: bytes) -> bytes:
    """Reassemble a PNG payload with ``new_raw`` recompressed as its
    single IDAT chunk (our decoder ignores chunk CRCs)."""
    import zlib

    comp = zlib.compress(new_raw)
    out = bytearray(payload[:8])
    i, wrote = 8, False
    while i + 8 <= len(payload):
        clen = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        if ctype == b"IDAT":
            if not wrote:
                out += len(comp).to_bytes(4, "big") + b"IDAT" + comp + b"\x00" * 4
                wrote = True
        else:
            out += payload[i : i + 12 + clen]
        i += 12 + clen
    return bytes(out)


def test_png_adam7_truncated_idat_raises_valueerror():
    import zlib

    import pytest

    w, h = 16, 16
    px = bytes(range(256))
    payload = encode_png(px, w, h, 0, interlace=1)
    # extract the original filtered raster, chop bytes off the end, and
    # recompress — valid zlib, short raster
    idat = bytearray()
    i = 8
    while i + 8 <= len(payload):
        clen = int.from_bytes(payload[i : i + 4], "big")
        if payload[i + 4 : i + 8] == b"IDAT":
            idat += payload[i + 8 : i + 8 + clen]
        i += 12 + clen
    raw = zlib.decompress(bytes(idat))
    bad = _idat_raw_and_rebuild(payload, raw[:-7])
    with pytest.raises(ValueError, match="Adam7 raster size"):
        decode_image(bad)


def test_jpeg_truncated_before_restart_marker_raises_valueerror():
    import pytest

    rng = np.random.RandomState(0)
    w, h = 24, 24
    px = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    payload = encode_jpeg_baseline(px, w, h, channels=3, restart_interval=1)
    sos = payload.find(b"\xff\xda")
    rst = payload.find(b"\xff\xd0", sos)
    assert rst > sos > 0
    with pytest.raises(ValueError):
        decode_image(payload[:rst])


def test_jpeg_truncated_mid_entropy_raises_valueerror():
    import pytest

    rng = np.random.RandomState(1)
    w, h = 24, 24
    px = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    payload = encode_jpeg_baseline(px, w, h, channels=3)
    assert payload.endswith(b"\xff\xd9")
    with pytest.raises(ValueError):
        decode_image(payload[:-8])


# ------------------------------------------------------- encoder byte pins
# sha256 of every JPEG writer's output on fixed inputs: a refactor of the
# codec must reproduce these streams byte for byte (oracle-gated queries
# hash pixels decoded from exactly these bytes). Rows: (case, writer,
# (width, height, channels, pixel seed), keyword arguments, sha256).

_JPEG_PINS = [
    ("baseline-gray", "encode_jpeg_baseline", (13, 11, 1, 1),
     dict(),
     "3f4545f3b4ee213e817083d357f1483e6bb079c7a2dc87984a60560ee2d71c7b"),
    ("baseline-rgb420-ri", "encode_jpeg_baseline", (19, 13, 3, 2),
     dict(channels=3, quant=3, restart_interval=2, subsampling=(2, 2)),
     "3b7d04ceddd77fad62260e7be283eea6600a9598e6937f0cf6afc90ad56da807"),
    ("progressive-rgb", "encode_jpeg_progressive", (19, 13, 3, 3),
     dict(channels=3),
     "1d9ef047f65597780da49b9f686e95503665c3f8ccf511edfedaa7fa238a4cb9"),
    ("progressive-gray-deep", "encode_jpeg_progressive", (16, 16, 1, 4),
     dict(quant=2, restart_interval=3, dc_al=2, ac_al=2, bands=((1, 2), (3, 63))),
     "7f944db1646e7a09efe122f7fa9af5dbcd65d8e79c74639e06481ea998418e87"),
    ("progressive-rgb420-ri", "encode_jpeg_progressive", (17, 9, 3, 5),
     dict(channels=3, restart_interval=1, subsampling=(2, 2)),
     "0bca5568c2836735e88022b8e4e747bcb7c3704458597a36945781f64838ac49"),
    ("arithmetic-gray", "encode_jpeg_arithmetic", (13, 11, 1, 6),
     dict(),
     "f08da2df4ef310c4ff46b5dda3c7aa298585fea43fce553c9742f23485c4b8a4"),
    ("arithmetic-rgb420-ri", "encode_jpeg_arithmetic", (19, 13, 3, 7),
     dict(channels=3, quant=2, restart_interval=2, subsampling=(2, 2)),
     "4ab3de64b4a61a4632fb4e6fca0c041016eb21afea222e218926b342fe0e54c6"),
    ("arith-progressive-rgb", "encode_jpeg_arith_progressive", (19, 13, 3, 8),
     dict(channels=3),
     "e5e8d5d385d2743ee370e97ce1c7d041d3a521ef84c30e342e1572b1bf19edf0"),
    ("arith-progressive-gray-deep", "encode_jpeg_arith_progressive", (16, 16, 1, 9),
     dict(quant=2, restart_interval=3, dc_al=2, ac_al=2, bands=((1, 2), (3, 63))),
     "878ba1374579437533a40f4428505a844e69be3148a7d3468fd3aebd620b6bff"),
    ("lossless-huff-gray", "encode_jpeg_lossless", (11, 7, 1, 10),
     dict(predictor=1, arith=False),
     "8ea19588759b8fbc6e507f7662d3f4fdf6d290897e79544ed0f6d99805c051ae"),
    ("lossless-huff-rgb-planar", "encode_jpeg_lossless", (9, 6, 3, 11),
     dict(channels=3, predictor=5, point_transform=1, restart_interval=4, arith=False,
          interleave=False),
     "c5488034f71c4693817ba81fc8c4402b85847e2bf9f1b28510488d66596f45fd"),
    ("lossless-arith-rgb", "encode_jpeg_lossless", (9, 7, 3, 12),
     dict(channels=3),
     "26baa210056337fae0c61707785557e251263408c6017368f6821e8daf4e1fe3"),
    ("lossless-arith-gray-ri", "encode_jpeg_lossless", (12, 5, 1, 13),
     dict(predictor=7, restart_interval=5),
     "3d5a62bd30e8933eb2a3ceebd2a97a9f2bbe1f7efd6218eca7712667c70ecd8d"),
    ("lossless-subsampled-arith", "encode_jpeg_lossless", (10, 8, 3, 14),
     dict(channels=3, subsampling=(2, 2)),
     "5b31c978b45ce37fb18d53cf2969b8752841fbf3826aa8bca489a351cd3e7c3b"),
    ("lossless-subsampled-huff-ri", "encode_jpeg_lossless", (9, 6, 3, 15),
     dict(channels=3, arith=False, restart_interval=3, subsampling=(2, 1)),
     "2c69c10641770888d7dd4d5a2d31b9256a8892c75eef532cf4ab6e253c926f31"),
    ("hier-lossless-arith", "encode_jpeg_hierarchical", (12, 10, 1, 16),
     dict(levels=2),
     "ae375b36b2b336211ba7aa2df511babd9dddbf965fc521c8a32a3497900345ca"),
    ("hier-lossless-huff-rgb-ri", "encode_jpeg_hierarchical", (9, 7, 3, 17),
     dict(channels=3, levels=1, arith=False, restart_interval=3),
     "aab072ca373d7af82cecd1c565569f90d939bc0eec3ac4cee39cc73b1c1a647b"),
    ("hier-dct-arith", "encode_jpeg_hierarchical", (20, 18, 1, 18),
     dict(levels=2, mode="dct"),
     "983232a04bbc4d2040c60d17807edfc73da77e9dc6fd0ab87efbc7c9afa0a5af"),
    ("hier-dct-huff-rgb-ri", "encode_jpeg_hierarchical", (19, 17, 3, 19),
     dict(channels=3, arith=False, restart_interval=2, mode="dct", quant=2),
     "ee1194eed5b5a54e08b47a6e6b263d8a87bb31dcb3fdd66beead1c8ccfbfa2c4"),
    ("hier-progressive-huff", "encode_jpeg_hierarchical", (20, 18, 1, 20),
     dict(levels=2, arith=False, mode="progressive"),
     "f3faf36a57ea2b7df5f37ecfd7065f7a7f5960fa4a8d25d2eae5597032e46a21"),
    ("hier-progressive-arith-rgb-ri", "encode_jpeg_hierarchical", (19, 17, 3, 21),
     dict(channels=3, restart_interval=1, mode="progressive", quant=3),
     "fef54e01c5e35e524fec3b53689726e89c62c903f7bcd88a378524b3be8d0a29"),
]


@pytest.mark.parametrize(
    "writer,geometry,kwargs,digest",
    [row[1:] for row in _JPEG_PINS],
    ids=[row[0] for row in _JPEG_PINS],
)
def test_jpeg_writer_bytes_pinned(writer, geometry, kwargs, digest):
    import hashlib

    from gomrjob_spark.operators import multimodal

    w, h, ch, seed = geometry
    px = np.random.RandomState(seed).randint(0, 256, size=w * h * ch, dtype=np.uint8)
    out = getattr(multimodal, writer)(px.tobytes(), w, h, **kwargs)
    assert hashlib.sha256(out).hexdigest() == digest


@pytest.mark.parametrize(
    "writer,geometry,kwargs",
    [row[1:4] for row in _JPEG_PINS],
    ids=[row[0] for row in _JPEG_PINS],
)
def test_jpeg_truncation_sweep_fails_clean(writer, geometry, kwargs):
    """Every writer's stream cut at seeded points either decodes or
    raises the module's ValueError/EOFError contract — never a raw
    IndexError or KeyError. (An arithmetic body cut short decodes to
    completion by spec: the QM coder 1-feeds past the data end.)"""
    from gomrjob_spark.operators import multimodal

    w, h, ch, seed = geometry
    px = np.random.RandomState(seed).randint(0, 256, size=w * h * ch, dtype=np.uint8)
    enc = getattr(multimodal, writer)(px.tobytes(), w, h, **kwargs)
    cuts = np.random.RandomState(seed).randint(2, len(enc), size=30)
    for cut in sorted(set(cuts.tolist())):
        try:
            decode_image(enc[:cut])
        except (ValueError, EOFError):
            pass


@pytest.mark.parametrize(
    "writer,kwargs,markers",
    [
        ("encode_jpeg_baseline", dict(channels=3), (b"\xff\xc0", b"\xff\xda")),
        ("encode_jpeg_arithmetic", dict(channels=3), (b"\xff\xc9", b"\xff\xda")),
        ("encode_jpeg_progressive", dict(channels=1), (b"\xff\xc2", b"\xff\xd9")),
        (
            "encode_jpeg_hierarchical",
            dict(channels=1, mode="dct", arith=False),
            (b"\xff\xde", b"\xff\xc0", b"\xff\xdf"),
        ),
        ("encode_jpeg_hierarchical", dict(channels=3), (b"\xff\xde", b"\xff\xcf")),
    ],
)
def test_jpeg_fill_bytes_before_markers_decode_the_same(writer, kwargs, markers):
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes. The
    stream with fill bytes inserted before frame, scan, EXP and EOI
    markers decodes to the same pixels and header as the plain one."""
    from gomrjob_spark.operators import multimodal

    w = h = 16
    ch = kwargs["channels"]
    px = np.random.RandomState(3).randint(0, 256, size=w * h * ch, dtype=np.uint8)
    enc = getattr(multimodal, writer)(px.tobytes(), w, h, **kwargs)
    padded = enc
    for m in markers:
        i = padded.index(m)
        padded = padded[:i] + b"\xff\xff" + padded[i:]
    assert padded != enc
    assert decode_image(padded) == decode_image(enc)
    assert multimodal.decode_image_header(padded) == multimodal.decode_image_header(enc)


@pytest.mark.parametrize("arith", [False, True])
@pytest.mark.parametrize("sub,restart", [((1, 1), 0), ((2, 2), 0), ((2, 2), 2)])
def test_jpeg_non_interleaved_sequential_scans_decode(arith, sub, restart):
    """T.81 A.2.2: a sequential frame may code each component in its own
    scan, walking that component's own block grid. One scan per
    component, written by the same scan writer, decodes to the pixels
    of the interleaved stream."""
    from gomrjob_spark.operators import multimodal as M

    w, h = 19, 13
    px = np.random.RandomState(5).randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    sof = 0xC9 if arith else 0xC0
    frame, blocks = M._jpeg_prepare(px, w, h, 3, 2, sub)
    dqt, coding = M._dct_tables(2, arith, M._jpeg_tids(3, arith), M._HUFF_SEQ)
    script = [([ci], (0, 63, 0, 0)) for ci in range(3)]
    planar = (
        b"\xff\xd8" + dqt + M._sof(sof, frame) + coding + M._dri(restart)
        + M._jpeg_dct_scans(sof, frame, blocks, script, restart, M._HUFF_SEQ)
        + b"\xff\xd9"
    )
    writer = M.encode_jpeg_arithmetic if arith else M.encode_jpeg_baseline
    interleaved = writer(
        px, w, h, channels=3, quant=2, restart_interval=restart, subsampling=sub
    )
    assert planar.count(b"\xff\xda") == 3
    assert decode_image(planar) == decode_image(interleaved)


@pytest.mark.parametrize("ncomp", [2, 4])
def test_jpeg_dct_frame_component_count_is_a_named_error(ncomp):
    """A non-hierarchical DCT frame converts 1 (grayscale) or 3 (YCbCr)
    components; 2 used to raise a raw IndexError and 4 silently dropped
    the fourth component."""
    from gomrjob_spark.operators import multimodal as M

    frame = M._jpeg_frame(8, 8, [(1, 1)] * ncomp)
    blocks = [np.zeros((1, 1, 64), dtype=np.int64) for _ in range(ncomp)]
    dqt, coding = M._dct_tables(1, False, M._jpeg_tids(ncomp, False), M._HUFF_SEQ)
    script = [(list(range(ncomp)), (0, 63, 0, 0))]
    payload = (
        b"\xff\xd8" + dqt + M._sof(0xC0, frame) + coding
        + M._jpeg_dct_scans(0xC0, frame, blocks, script, 0, M._HUFF_SEQ)
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match=f"{ncomp} components"):
        decode_image(payload)


def test_huffman_reader_holds_one_byte(monkeypatch):
    """The Huffman bit reader keeps only the current byte: after a 64x64
    colour baseline decode its accumulator is at most 8 bits wide. An
    accumulator that kept every byte shifted in grew to the whole entropy
    segment and made each bit read cost O(segment)."""
    from gomrjob_spark.operators import multimodal

    readers = []
    init = multimodal._BitReader.__init__

    def record(self, *args):
        init(self, *args)
        readers.append(self)

    monkeypatch.setattr(multimodal._BitReader, "__init__", record)
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=64 * 64 * 3, dtype=np.uint8).tobytes()
    got = decode_image(encode_jpeg_baseline(px, 64, 64, channels=3))
    assert (got["width"], got["height"]) == (64, 64)
    assert readers and all(r.acc.bit_length() <= 8 for r in readers)
