"""Multimodal column conventions: opaque binary payloads + typed metadata.

North-star operator family (BASELINE.json). The convention:

- payload: ``binary`` column (image/audio/video bytes) — Spark treats it
  as an opaque BYTE_ARRAY in parquet; predicate pushdown still applies to
  the *metadata* columns, so scans prune on (modality, width, duration)
  without touching payload bytes.
- metadata: a struct column (modality, n_bytes, content hash, magic) kept
  NEXT TO the payload, populated at ingest.

Decode / feature-extract run per row through ``pipeline.map_rows`` (one
``mapInPandas`` over Arrow batches) — the only viable shape at 100 TB
(payload bytes never route through the driver; each task decodes its
own partition). Container headers (PNG/JPEG/GIF
dimensions + channels) decode for REAL via ``decode_image_header``, and
full pixel decode (``decode_image``) is REAL across the board — pure
Python/numpy over bytes, no codec library: PPM/PGM/BMP rasters, PNG
(stdlib-zlib inflate + inverse row filters + palette, all bit depths
1/2/4/8/16, non-interlaced + Adam7), GIF (full LZW + de-interlace),
baseline JPEG (canonical Huffman + IDCT + chroma upsampling + YCbCr),
and 16-bit PCM for WAV. Matching minimal writers
(``encode_png``/``encode_gif``/``encode_jpeg_baseline``) serve as sink
formats and the synthesis side of the oracle-gated decode queries, and
``encode_jpeg_progressive`` writes real SOF2 scan scripts (spectral
selection + successive approximation), and ``encode_jpeg_arithmetic``
/ ``encode_jpeg_arith_progressive`` plus the SOF9/SOF10 decode paths
implement the QM arithmetic coder (r7) — the full DCT coding matrix
(Huffman/arithmetic x sequential/progressive). Round 8 adds LOSSLESS
JPEG, both Huffman (SOF3) and arithmetic (SOF11, Annex H predictors +
the QM coder), with ``encode_jpeg_lossless`` as the twin. Round 9 adds
HIERARCHICAL JPEG (Annex J): DHP/EXP frame sequencing with the
J.1.1.2 bilinear reference expansion, differential lossless frames
(SOF7/SOF15) AND differential sequential DCT frames (SOF5/SOF13 over
SOF0/SOF9 bases, grayscale pyramids, closed-loop encoder), with
``encode_jpeg_hierarchical`` as the twin. Round 10 closes the Annex J
DCT matrix: differential PROGRESSIVE frames (SOF6/SOF14 over SOF2/
SOF10 bases — per-frame DC + AC-first scan scripts, same closed loop)
decode and encode (``mode="progressive"``), and multi-component
(color) DCT pyramids — sequential AND progressive — decode and
encode: components are raw channel planes on a shared 1x1 grid, no
color transform (the lossless-pyramid assembler contract). Every
cell of the Annex J matrix is implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gomrjob_spark.pipeline import map_rows

#: metadata struct appended by attach_payload
METADATA_SCHEMA = "struct<modality:string,n_bytes:int,sha:string,magic:string>"

#: schema produced by extract_features
FEATURE_SCHEMA = (
    "doc_id bigint, modality string, n_bytes int, width int, height int, channels int"
)

_PNG_MAGIC = bytes.fromhex("89504e47")


def attach_payload(df: DataFrame, text_col: str = "text", modality: str = "image") -> DataFrame:
    """Ingest convention: wrap a payload (here: utf-8 bytes of ``text`` as
    a deterministic stand-in) with its typed metadata struct."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit(modality).alias("modality"),
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha"),
        F.hex(F.substring(payload, 1, 4)).alias("magic"),
    )
    return df.withColumn("payload", payload).withColumn("meta", meta)


def decode_image(payload: bytes) -> dict:
    """Full pixel decode, real and pure Python — no codec library:

    - PPM ``P6`` (binary RGB) and PGM ``P5`` (binary grayscale), maxval
      <= 255: whitespace/comment-tolerant header, then raw samples.
    - BMP (``BM``), BI_RGB 24/32 bpp: 4-byte-aligned rows stored
      bottom-up (or top-down when height is negative) in BGR(A) order —
      normalized here to top-down row-major RGB(A).
    - PNG, all five color types across the spec's full depth matrix
      (1/2/4/8/16-bit), non-interlaced and Adam7: stdlib ``zlib``
      inflates the IDAT stream, then the five per-row filters
      (None/Sub/Up/Average/Paeth) are reversed per (sub-)image; palette
      images expand through PLTE to RGB, 16-bit samples scale to 8-bit.
    - GIF (87a/89a): first image frame via a full LZW decoder
      (variable code width, clear/EOI, 12-bit cap), palette-mapped to
      RGB, interlaced row order restored.

    - JPEG, baseline sequential (SOF0/1) AND progressive (SOF2): full
      entropy decode — DHT canonical Huffman, DC prediction + AC
      run-length, spectral-selection/successive-approximation scan
      accumulation with EOB runs and correction bits (T.81 Annex G),
      dequantize, 8x8 IDCT, sampling-factor upsampling, YCbCr->RGB,
      restart markers, and arithmetic coding — sequential SOF9 and
      progressive SOF10 (QM coder + Annex F statistics, r7), plus
      LOSSLESS SOF3/SOF11 (Annex H predictors, r8) and HIERARCHICAL
      pyramids (Annex J DHP/EXP, r9-r10): differential lossless SOF7/
      SOF15, differential sequential DCT SOF5/SOF13, and differential
      progressive SOF6/SOF14 — all at any channel count: the FULL
      Annex J matrix, no remaining pyramid raises.

    Returns ``{format, width, height, channels, pixels: bytes}`` with
    ``pixels`` top-down row-major, channel-interleaved."""
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIGNATURE:
        return _decode_png(payload)
    if payload[:6] in _GIF_MAGICS:
        return _decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    raise NotImplementedError(
        "pixel decode implemented for PPM/PGM/BMP/PNG/GIF/baseline-JPEG; "
        "unrecognized payload magic"
    )


#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]

#: valid (color_type -> allowed bit depths) per the PNG spec
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def _png_unfilter(raw: bytes, offset: int, height: int, stride: int, bpp: int):
    """Reverse the five per-row filters over ``height`` scanlines of
    ``stride`` packed bytes each, starting at ``offset``. ``bpp`` is the
    filter unit (bytes per complete pixel, min 1 — the spec's byte-wise
    filtering works on packed bytes at any depth). Returns
    ``(filtered bytes, next offset)``; each (sub-)image restarts with a
    zero prior row, which is why Adam7 calls this once per pass."""
    out = bytearray(stride * height)
    prev_start = -1
    for y in range(height):
        ftype = raw[offset]
        src = raw[offset + 1 : offset + 1 + stride]
        offset += 1 + stride
        dst = y * stride
        if ftype == 0:  # None
            out[dst : dst + stride] = src
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = out[dst + x - bpp] if x >= bpp else 0
                out[dst + x] = (src[x] + a) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                b = out[prev_start + x] if y else 0
                out[dst + x] = (src[x] + b) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = out[dst + x - bpp] if x >= bpp else 0
                b = out[prev_start + x] if y else 0
                out[dst + x] = (src[x] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = out[dst + x - bpp] if x >= bpp else 0
                b = out[prev_start + x] if y else 0
                c = out[prev_start + x - bpp] if (y and x >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[dst + x] = (src[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype}")
        prev_start = dst
    return out, offset


def _png_rows_to_samples(
    rows: bytearray, width: int, height: int, stride: int, nch: int,
    bit_depth: int, scale_sub8: bool,
) -> bytearray:
    """Unpack filtered scanline bytes into one 8-bit sample per channel
    per pixel. 16-bit samples scale by round(v*255/65535) (exact inverse
    of the writer's v*257 expansion); sub-8 grayscale scales by
    255/(2^d-1) (an integer for d in 1/2/4); palette indices
    (``scale_sub8=False``) stay raw for PLTE expansion."""
    if bit_depth == 8:
        return rows
    out = bytearray(width * height * nch)
    if bit_depth == 16:
        for j in range(width * height * nch):
            v = (rows[2 * j] << 8) | rows[2 * j + 1]
            out[j] = (v * 255 + 32767) // 65535
        return out
    # 1/2/4-bit: one channel by spec (gray or palette), packed MSB-first
    # per scanline — packing never crosses a row boundary.
    per_byte = 8 // bit_depth
    mask = (1 << bit_depth) - 1
    scale = 255 // mask if scale_sub8 else 1
    for y in range(height):
        base = y * stride
        for x in range(width):
            b = rows[base + x // per_byte]
            shift = 8 - bit_depth * (x % per_byte + 1)
            out[y * width + x] = ((b >> shift) & mask) * scale
    return out


def _decode_png(payload: bytes) -> dict:
    """PNG pixel decode per the spec's portable core: chunk walk ->
    zlib-inflate concatenated IDAT -> reverse per-row filters -> unpack
    samples. Full coverage of the spec's coding matrix: all five color
    types, bit depths 1/2/4/8/16, non-interlaced and Adam7 (each pass is
    an independently filtered sub-image scattered onto the output grid).
    Palette (color type 3) expands through PLTE to RGB, 16-bit samples
    scale to 8-bit, so every decoder in this module emits interleaved
    8-bit RGB(A)/gray."""
    import zlib

    if len(payload) < 33 or payload[12:16] != b"IHDR":
        raise ValueError("not a PNG payload (missing IHDR)")
    width = int.from_bytes(payload[16:20], "big")
    height = int.from_bytes(payload[20:24], "big")
    bit_depth, color_type, _comp, _filt, interlace = payload[24:29]
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"PNG color type {color_type}")
    if bit_depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(f"PNG bit depth {bit_depth} invalid for color type {color_type}")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace}")
    nch = _PNG_CHANNELS[color_type]
    bpp = max(1, nch * bit_depth // 8)

    plte = b""
    idat = []
    i = 8
    n = len(payload)
    while i + 8 <= n:
        clen = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + clen]
        if ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        i += 12 + clen  # len + type + data + crc
    raw = zlib.decompress(b"".join(idat))

    def pass_stride(pw: int) -> int:
        return (pw * nch * bit_depth + 7) // 8

    scale_sub8 = color_type != 3
    if interlace == 0:
        stride = pass_stride(width)
        if len(raw) != (stride + 1) * height:
            raise ValueError(f"PNG raster size {len(raw)} != {(stride + 1) * height}")
        rows, _ = _png_unfilter(raw, 0, height, stride, bpp)
        out = _png_rows_to_samples(rows, width, height, stride, nch, bit_depth, scale_sub8)
    else:  # Adam7
        # validate the expected total raster size UP FRONT (the
        # non-interlaced path already does) so a truncated IDAT stream
        # raises the module's ValueError contract instead of
        # _png_unfilter indexing past the buffer mid-pass (ADVICE r5)
        passes = []
        expected = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = pass_stride(pw)
            passes.append((x0, y0, dx, dy, pw, ph, pstride))
            expected += (pstride + 1) * ph
        if len(raw) != expected:
            raise ValueError(f"PNG Adam7 raster size {len(raw)} != {expected}")
        out = bytearray(width * height * nch)
        off = 0
        for x0, y0, dx, dy, pw, ph, pstride in passes:
            rows, off = _png_unfilter(raw, off, ph, pstride, bpp)
            psamp = _png_rows_to_samples(rows, pw, ph, pstride, nch, bit_depth, scale_sub8)
            for py in range(ph):
                src = py * pw * nch
                drow = (y0 + py * dy) * width
                for px in range(pw):
                    dst = (drow + x0 + px * dx) * nch
                    out[dst : dst + nch] = psamp[src : src + nch]
                    src += nch

    if color_type == 3:  # palette -> RGB
        if not plte:
            raise ValueError("palette PNG without PLTE")
        rgb = bytearray(width * height * 3)
        for j, idx in enumerate(out):
            p = idx * 3
            rgb[j * 3 : j * 3 + 3] = plte[p : p + 3]
        return {"format": "png", "width": width, "height": height,
                "channels": 3, "pixels": bytes(rgb)}
    return {"format": "png", "width": width, "height": height,
            "channels": nch, "pixels": bytes(out)}


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    color_type: int = 2,
    filters: list[int] | None = None,
    plte: bytes = b"",
    bit_depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Minimal spec-correct PNG writer: the thumbnail/normalized-raster
    SINK format for image pipelines, and the synthesis side of the
    oracle-gated compressed-decode query. By default each scanline's
    filter type cycles 0..4 so a stream produced here exercises every
    inverse filter in :func:`_decode_png`.

    Covers the full coding matrix the decoder accepts: ``bit_depth`` 16
    takes big-endian 16-bit samples in ``pixels``; sub-8 depths (gray:
    values must be multiples of 255/(2^d-1); palette: raw indices <
    2^d) pack MSB-first per scanline; ``interlace=1`` writes Adam7 (each
    pass filtered as an independent sub-image, the filter cycle running
    across passes)."""
    import struct
    import zlib

    nch = _PNG_CHANNELS[color_type]
    if bit_depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(f"PNG bit depth {bit_depth} invalid for color type {color_type}")
    n_samples = width * height * nch
    expected = n_samples * 2 if bit_depth == 16 else n_samples
    if len(pixels) != expected:
        raise ValueError(f"pixel buffer {len(pixels)} != {expected}")
    bpp = max(1, nch * bit_depth // 8)

    def pack_pass(x0: int, y0: int, dx: int, dy: int) -> list[bytes]:
        """Packed scanlines of the (x0,y0,dx,dy) sub-image."""
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            return []
        rows = []
        for py in range(ph):
            y = y0 + py * dy
            if bit_depth == 16:
                row = bytearray()
                for px in range(pw):
                    s = (y * width + x0 + px * dx) * nch * 2
                    row += pixels[s : s + nch * 2]
            elif bit_depth == 8:
                row = bytearray()
                for px in range(pw):
                    s = (y * width + x0 + px * dx) * nch
                    row += pixels[s : s + nch]
            else:
                mask = (1 << bit_depth) - 1
                scale = 255 // mask if color_type != 3 else 1
                row = bytearray((pw * bit_depth + 7) // 8)
                for px in range(pw):
                    v = pixels[y * width + x0 + px * dx]
                    if color_type != 3:
                        if v % scale:
                            raise ValueError(
                                f"gray value {v} not representable at depth {bit_depth}"
                            )
                        v //= scale
                    if v > mask:
                        raise ValueError(f"sample {v} exceeds depth {bit_depth}")
                    shift = 8 - bit_depth * (px % (8 // bit_depth) + 1)
                    row[px * bit_depth // 8] |= v << shift
            rows.append(bytes(row))
        return rows

    passes = [_ADAM7[i] for i in range(7)] if interlace else [(0, 0, 1, 1)]
    all_rows = [pack_pass(*p) for p in passes]
    total = sum(len(r) for r in all_rows)
    filters = filters if filters is not None else [y % 5 for y in range(total)]
    if len(filters) != total:
        raise ValueError(f"{len(filters)} filter types for {total} scanlines")
    fit = iter(filters)

    raw = bytearray()
    for rows in all_rows:
        prev = b""
        for row in rows:
            ft = next(fit)
            stride = len(row)
            prv = prev if prev else bytes(stride)
            raw.append(ft)
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prv[x]
                c = prv[x - bpp] if x >= bpp else 0
                if ft == 0:
                    f = row[x]
                elif ft == 1:
                    f = (row[x] - a) & 0xFF
                elif ft == 2:
                    f = (row[x] - b) & 0xFF
                elif ft == 3:
                    f = (row[x] - ((a + b) >> 1)) & 0xFF
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    f = (row[x] - pred) & 0xFF
                else:
                    raise ValueError(f"PNG filter type {ft}")
                raw.append(f)
            prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace)
    out = _PNG_SIGNATURE + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def encode_gif(
    indices: bytes, width: int, height: int, palette: bytes
) -> bytes:
    """Minimal GIF89a writer (single frame, global color table,
    non-interlaced): greedy LZW with growing code width — the synthesis
    twin of :func:`_decode_gif`."""
    import math

    n_entries = len(palette) // 3
    size_field = max(0, math.ceil(math.log2(max(2, n_entries))) - 1)
    pal = palette + b"\x00" * ((2 << size_field) * 3 - len(palette))
    min_code = max(2, (n_entries - 1).bit_length())
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    cwidth = min_code + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += cwidth
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
            if next_code == (1 << cwidth):
                cwidth += 1
            next_code += 1
        prev = bytes([ch])
    if prev:
        emit(table[prev])
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    blocks = b""
    for i in range(0, len(out), 255):
        part = bytes(out[i : i + 255])
        blocks += bytes([len(part)]) + part
    return (
        b"GIF89a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + bytes([0x80 | size_field, 0, 0])
        + pal
        + b"\x2c"
        + b"\x00" * 4
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + b"\x00"
        + bytes([min_code])
        + blocks
        + b"\x00\x3b"
    )


# ---------------------------------------------------------------- JPEG
# Baseline sequential (SOF0) and progressive (SOF2) JPEG, the dominant
# web-image codings: real entropy decode — DHT canonical Huffman
# construction, bit-unstuffing, DC prediction + AC run-length,
# spectral-selection/successive-approximation scans (T.81 Annex G),
# dequantize/dezigzag, 8x8 IDCT (numpy matrix form), sampling-factor
# upsampling, YCbCr->RGB. Arithmetic coding (SOF9 sequential + SOF10
# progressive, QM coder) lives in its own sections further down (r7),
# lossless SOF3/SOF11 below those (r8); only hierarchical JPEG
# raises NotImplementedError with a precise message. The constants
# below are generated, not transcribed: the zigzag order comes from
# the diagonal walk, the DCT basis from its closed form — no copied
# tables to mistype (the QM Qe table is the one spec-table exception,
# flagged at its definition).


def _zigzag_order() -> list[int]:
    """Block (row-major) index for each position of the 64-length zigzag
    STREAM, generated by the standard diagonal walk:
    ``_ZIGZAG[stream_pos] = block_pos``."""
    order = []
    for d in range(15):
        rng = range(d + 1)
        for i in rng if d % 2 else reversed(rng):
            r, c = i, d - i
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return order


_ZIGZAG = _zigzag_order()  # stream index -> block index


def _dct_basis():
    """8x8 DCT-II basis C with C[u,x] = a(u)/2 * cos((2x+1)u*pi/16);
    spatial = C.T @ coeffs @ C, coeffs = C @ spatial @ C.T."""
    import numpy as np

    x = np.arange(8)
    u = np.arange(8).reshape(-1, 1)
    c = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    c[0] /= np.sqrt(2)
    return c


class _HuffTable:
    """Canonical Huffman per the JPEG spec's DHT convention: 16 length
    counts + symbols in code order."""

    def __init__(self, bits: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first reader over entropy-coded data: un-stuffs 0xFF00,
    stops at markers (0xFF xx), and realigns across RSTn."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.acc = 0
        self.bits = 0

    def _fill(self) -> None:
        d = self.data
        try:
            b = d[self.pos]
            nxt = d[self.pos + 1] if b == 0xFF else 0x00
        except IndexError:
            raise ValueError("truncated JPEG entropy stream") from None
        if b == 0xFF:
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # expected RSTn markers are consumed byte-aligned by
                # sync_restart; one showing up where the MCU loop is
                # still reading entropy bits means the stream's restart
                # cadence disagrees with the declared DRI interval (or
                # the data is corrupt) — a decode error, not a private
                # control-flow exception (ADVICE r4)
                raise ValueError(
                    f"unexpected JPEG restart marker RST{nxt - 0xD0} "
                    "inside entropy data (DRI mismatch or corrupt stream)"
                )
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.bits += 8

    def read_bit(self) -> int:
        if self.bits == 0:
            self._fill()
        self.bits -= 1
        return (self.acc >> self.bits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self, n: int) -> None:
        """Consume the expected RSTn marker and realign to a byte. A
        1-padded final entropy byte of 0xFF gets a stuffed 0x00 the
        reader never consumed — skip such pairs before the marker.
        Bounds-checked: a payload truncated mid-entropy raises the
        module's ValueError contract, never a raw IndexError."""
        self.acc = 0
        self.bits = 0
        d = self.data
        end = len(d)
        while self.pos + 1 < end and d[self.pos] == 0xFF and d[self.pos + 1] == 0x00:
            self.pos += 2
        if self.pos + 1 >= end:
            raise ValueError("truncated JPEG entropy stream at restart marker")
        if d[self.pos] != 0xFF or d[self.pos + 1] != 0xD0 + n:
            raise ValueError("missing JPEG restart marker")
        self.pos += 2


def _jpeg_extend(v: int, size: int) -> int:
    """Table F.1 EXTEND: map the `size`-bit magnitude to its signed value."""
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_jpeg(payload: bytes) -> dict:
    """Baseline JPEG pixel decode (see module-section comment). Returns
    the module's standard dict; grayscale stays 1-channel, everything
    else converts to interleaved RGB via the JFIF YCbCr transform."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: DC (L, U) per table
    ac_cond: dict[int, int] = {}  # DAC: AC Kx per table
    frame = None
    coeff = None  # progressive: per-component coefficient accumulators
    ll_planes = None  # lossless: per-component sample planes
    ll_pt = 0
    restart_interval = 0
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if prec:
                    vals = [int.from_bytes(seg[j + 2 * k : j + 2 * k + 2], "big") for k in range(64)]
                    j += 128
                else:
                    vals = list(seg[j : j + 64])
                    j += 64
                tbl = np.zeros(64, dtype=np.float64)
                for s, b in enumerate(_ZIGZAG):
                    tbl[b] = vals[s]
                qt[tid] = tbl.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
            # SOF0/1 Huffman sequential, SOF2 Huffman progressive,
            # SOF9/SOF10 arithmetic sequential/progressive (QM coder,
            # r7), SOF3/SOF11 Huffman/arithmetic LOSSLESS (Annex H, r8)
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for k in range(ncomp):
                cid, samp, tq = seg[6 + 3 * k : 9 + 3 * k]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "tq": tq})
            frame = {
                "w": w,
                "h": h,
                "prec": seg[0],
                "comps": comps,
                "progressive": marker in (0xC2, 0xCA),
                "arith": marker in (0xC9, 0xCA, 0xCB),
                "lossless": marker in (0xC3, 0xCB),
            }
        elif marker == 0xDE:  # DHP: hierarchical mode (Annex J, r9)
            return _decode_jpeg_hierarchical(payload)
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            # differential frames are only valid after a DHP segment
            # (handled above, where ALL of them decode since r10); a
            # bare one is a malformed stream — named raise
            raise NotImplementedError(
                "differential JPEG frame outside a DHP (hierarchical) "
                "stream; every differential family (lossless SOF7/15, "
                "sequential DCT SOF5/13, progressive SOF6/14) decodes "
                "via the DHP path"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning bounds
            j = 0
            while j + 1 < len(seg):
                tc, tb = seg[j] >> 4, seg[j] & 0x0F
                val = seg[j + 1]
                j += 2
                if tc == 0:
                    dc_cond[tb] = (val & 0x0F, val >> 4)  # (L, U)
                else:
                    ac_cond[tb] = val  # Kx
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nsym = sum(bits)
                huff[(tc, th)] = _HuffTable(bits, seg[j + 17 : j + 17 + nsym])
                j += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for k in range(ns):
                cid, tabs = seg[1 + 2 * k : 3 + 2 * k]
                scan[cid] = (tabs >> 4, tabs & 0x0F)
                order.append(cid)
            if frame.get("lossless"):
                ss, _se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                if ll_planes is None:
                    ll_planes = {}
                ll_pt = a & 0x0F
                i = _jpeg_lossless_scan(
                    payload, i + 2 + seg_len, frame, order, scan,
                    dc_cond, huff, restart_interval, ll_planes,
                    ss, ll_pt,
                )
                continue
            if frame.get("arith") and not frame["progressive"]:
                return _jpeg_arith_scan(
                    payload, i + 2 + seg_len, frame, scan, qt,
                    dc_cond, ac_cond, restart_interval,
                )
            if frame.get("arith"):  # SOF10: arithmetic progressive
                ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                if coeff is None:
                    coeff = _jpeg_alloc_coeff(frame)
                i = _jpeg_arith_progressive_scan(
                    payload, i + 2 + seg_len, frame, order, scan,
                    dc_cond, ac_cond, restart_interval, coeff,
                    (ss, se, a >> 4, a & 0x0F),
                )
                continue
            if not frame["progressive"]:
                return _jpeg_scan(
                    payload, i + 2 + seg_len, frame, scan, qt, huff, restart_interval
                )
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            if coeff is None:
                coeff = _jpeg_alloc_coeff(frame)
            i = _jpeg_progressive_scan(
                payload, i + 2 + seg_len, frame, order, scan, huff,
                restart_interval, coeff, (ss, se, a >> 4, a & 0x0F),
            )
            continue
        i += 2 + seg_len
    if ll_planes is not None:
        return _jpeg_ll_assemble(frame, ll_planes, ll_pt)
    if coeff is not None:
        return _jpeg_finish(frame, coeff, qt)
    raise ValueError("JPEG contains no scan")


def _jpeg_scan(payload, start, frame, scan, qt, huff, restart_interval,
               as_planes: bool = False):
    """Interleaved sequential Huffman scan. Default: decode to the
    final image dict. ``as_planes=True`` (the hierarchical walk)
    instead returns ``(planes, end_pos)`` — the raw per-component
    float planes and the payload position of the terminating marker —
    and honours ``frame['differential']`` (no level shift: the decoded
    planes are the DIFFERENCE signal added to the reference outside)."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    shift = 0.0 if frame.get("differential") else 128.0
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    basis = _dct_basis()
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    reader = _BitReader(payload, start)
    pred = [0] * len(comps)
    rst = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = huff[(0, scan[c["id"]][0])]
                ac_t = huff[(1, scan[c["id"]][1])]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        size = reader.decode_symbol(dc_t)
                        diff = _jpeg_extend(reader.read_bits(size), size)
                        pred[ci] += diff
                        coeffs = np.zeros(64, dtype=np.float64)
                        coeffs[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_t)
                            run, sz = rs >> 4, rs & 0x0F
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += run
                            coeffs[k] = _jpeg_extend(reader.read_bits(sz), sz)
                            k += 1
                        blk = np.zeros((8, 8), dtype=np.float64)
                        for s, b in enumerate(_ZIGZAG):
                            blk.flat[b] = coeffs[s]
                        blk *= q
                        spatial = basis.T @ blk @ basis + shift
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1
    if as_planes:
        # Advance to the next real marker, applying BOTH skip rules
        # repeatedly (mirroring _BitReader's stuffing rule): stuffed
        # 0xFF00 pairs are entropy-coded data, and non-0xFF bytes are
        # pad/garbage — a pad byte FOLLOWED by a stuffed pair (legal in
        # foreign Huffman streams) must not be misread as a marker.
        p = reader.pos
        while p + 1 < len(payload):
            if payload[p] == 0xFF and payload[p + 1] == 0x00:
                p += 2
            elif payload[p] != 0xFF:
                p += 1
            else:
                break
        return planes, p
    return _jpeg_assemble(frame, planes, hmax, vmax)


def _jpeg_assemble(frame, planes, hmax, vmax) -> dict:
    """Shared final stage of baseline and progressive decode: upsample
    each component plane by its sampling factors, crop to the frame
    size, and convert (JFIF YCbCr -> RGB for 3 components, passthrough
    for grayscale)."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    full = []
    for ci, c in enumerate(comps):
        p = np.repeat(
            np.repeat(planes[ci], vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(p[:h, :w])
    if len(comps) == 1:
        out = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return {"format": "jpeg", "width": w, "height": h, "channels": 1,
                "pixels": out.tobytes()}
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    out = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return {"format": "jpeg", "width": w, "height": h, "channels": 3,
            "pixels": out.tobytes()}


# ------------------------------------------------- progressive JPEG
# ITU T.81 Annex G, Huffman coding: spectral selection (per-scan
# coefficient bands) + successive approximation (per-scan bit planes).
# Scans accumulate into per-component coefficient arrays; dequantize +
# IDCT run once at EOI. The control flow below follows the spec's
# decoder flowcharts (G.2); the successive-approximation correction-bit
# arithmetic relies on Python ints being two's-complement for & and |=,
# exactly like the spec's sample arithmetic.


def _comp_block_grid(frame, c) -> tuple[int, int]:
    """Non-interleaved block grid of one component: ceil(ceil(w*h_i/
    hmax)/8) x ceil(ceil(h*v_i/vmax)/8) (T.81 A.1.1 sampling)."""
    hmax = max(x["h"] for x in frame["comps"])
    vmax = max(x["v"] for x in frame["comps"])
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    return -(-cw // 8), -(-ch // 8)


def _jpeg_alloc_coeff(frame) -> list:
    """Per-component coefficient accumulators, sized to the interleaved
    MCU grid (a superset of the non-interleaved grid): (bh, bw, 64)
    int32 in natural (row-major block) order."""
    import numpy as np

    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        for c in frame["comps"]
    ]


def _prog_ac_first(reader, ac_t, blk, ss, se, al, state) -> None:
    """AC first scan (Ah=0): run/size with EOBn run-length codes; decoded
    values enter at magnitude << Al."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.decode_symbol(ac_t)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            return
        k += r
        blk[_ZIGZAG[k]] = _jpeg_extend(reader.read_bits(s), s) << al
        k += 1


def _prog_ac_refine(reader, ac_t, blk, ss, se, p1, m1, state) -> None:
    """AC refinement scan (Ah>0): newly-nonzero coefficients arrive as
    +-1<<Al; every already-nonzero coefficient passed over reads one
    correction bit (G.1.2.3)."""
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = reader.decode_symbol(ac_t)
            r, s = rs >> 4, rs & 0x0F
            s_val = 0
            if s == 0:
                if r < 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # ZRL: skip 16 zero-history positions below
            else:
                s_val = p1 if reader.read_bit() else m1
            while k <= se:
                z = _ZIGZAG[k]
                if blk[z] != 0:
                    if reader.read_bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                blk[_ZIGZAG[k]] = s_val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            z = _ZIGZAG[k]
            if blk[z] != 0:
                if reader.read_bit() and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _jpeg_progressive_scan(
    payload, start, frame, order, scan, huff, restart_interval, coeff, band
) -> int:
    """Decode one progressive scan into ``coeff``; returns the offset of
    the next marker. DC scans may be interleaved (MCU order); AC scans
    carry exactly one component in its own block-raster order."""
    ss, se, ah, al = band
    comps = frame["comps"]
    byid = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    reader = _BitReader(payload, start)
    members = [byid[cid] for cid in order]
    p1, m1 = 1 << al, -1 << al
    state = {"pred": [0] * len(comps), "eobrun": 0, "rst": 0}

    def restart_if_due(count: int) -> None:
        if restart_interval and count and count % restart_interval == 0:
            reader.sync_restart(state["rst"])
            state["rst"] = (state["rst"] + 1) % 8
            state["pred"] = [0] * len(comps)
            state["eobrun"] = 0

    if ss == 0:  # DC scan
        def dc_block(blk, ci, dc_t) -> None:
            if ah == 0:
                size = reader.decode_symbol(dc_t)
                state["pred"][ci] += _jpeg_extend(reader.read_bits(size), size)
                blk[0] = state["pred"][ci] << al
            elif reader.read_bit():
                blk[0] |= p1

        if len(members) > 1:  # interleaved over MCUs
            unit = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    restart_if_due(unit)
                    for ci, c in members:
                        dc_t = huff[(0, scan[c["id"]][0])]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(
                                    coeff[ci][my * c["v"] + by, mx * c["h"] + bx],
                                    ci, dc_t,
                                )
                    unit += 1
        else:
            ci, c = members[0]
            dc_t = huff[(0, scan[c["id"]][0])] if ah == 0 else None
            nbw, nbh = _comp_block_grid(frame, c)
            unit = 0
            for by in range(nbh):
                for bx in range(nbw):
                    restart_if_due(unit)
                    dc_block(coeff[ci][by, bx], ci, dc_t)
                    unit += 1
    else:  # AC scan: single component by spec
        if len(members) > 1:
            raise ValueError("progressive AC scan with multiple components")
        ci, c = members[0]
        ac_t = huff[(1, scan[c["id"]][1])]
        nbw, nbh = _comp_block_grid(frame, c)
        unit = 0
        for by in range(nbh):
            for bx in range(nbw):
                restart_if_due(unit)
                blk = coeff[ci][by, bx]
                if ah == 0:
                    _prog_ac_first(reader, ac_t, blk, ss, se, al, state)
                else:
                    _prog_ac_refine(reader, ac_t, blk, ss, se, p1, m1, state)
                unit += 1

    # skip to the next marker (reader.pos sits just past the last
    # consumed entropy byte; trailing pad bits stay in its accumulator)
    j = reader.pos
    n = len(payload)
    while j + 1 < n and not (
        payload[j] == 0xFF
        and payload[j + 1] != 0x00
        and not (0xD0 <= payload[j + 1] <= 0xD7)
    ):
        j += 1
    return j


def _jpeg_finish(frame, coeff, qt) -> dict:
    """Dequantize + IDCT the accumulated progressive coefficients (all
    blocks of a component in one einsum) and assemble pixels."""
    import numpy as np

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    basis = _dct_basis()
    planes = []
    for ci, c in enumerate(comps):
        arr = coeff[ci]
        bh_, bw_ = arr.shape[:2]
        blocks = arr.reshape(bh_, bw_, 8, 8).astype(np.float64) * qt[c["tq"]]
        spatial = np.einsum("ab,ijbc,cd->ijad", basis.T, blocks, basis) + 128.0
        planes.append(spatial.transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8))
    return _jpeg_assemble(frame, planes, hmax, vmax)


def _jpeg_prepare(pixels, width, height, channels, quant, subsampling):
    """Shared encoder front half: color transform, pad to the MCU grid,
    chroma mean-pooling, forward DCT, flat quantization, zigzag. Returns
    ``(factors, mcux, mcuy, blocks)`` where ``blocks[ci]`` is an int64
    array of shape (mcuy*v_i, mcux*h_i, 64) in ZIGZAG-STREAM order."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("grayscale or 3-channel only")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels).astype(np.float64)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    else:
        planes = [arr[..., 0]]
    hmax, vmax = subsampling if channels == 3 else (1, 1)
    if (hmax, vmax) not in ((1, 1), (2, 2)):
        raise ValueError("subsampling (1,1) [4:4:4] or (2,2) [4:2:0] only")
    # Y carries the max factors; chroma stays at (1,1) — the 4:2:0 layout
    factors = [(hmax, vmax)] + [(1, 1)] * (len(planes) - 1)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    basis = _dct_basis()
    blocks = []
    for p, (h_i, v_i) in zip(planes, factors):
        pool_y, pool_x = vmax // v_i, hmax // h_i
        full_h, full_w = mcuy * v_i * 8 * pool_y, mcux * h_i * 8 * pool_x
        full = np.pad(
            p, ((0, full_h - p.shape[0]), (0, full_w - p.shape[1])), mode="edge"
        )
        if (pool_y, pool_x) != (1, 1):  # chroma mean pooling
            full = full.reshape(
                full_h // pool_y, pool_y, full_w // pool_x, pool_x
            ).mean(axis=(1, 3))
        bh, bw = mcuy * v_i, mcux * h_i
        sp = (full - 128.0).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        co = np.einsum("ab,ijbc,cd->ijad", basis, sp, basis.T)
        qz = np.rint(co / float(quant)).astype(np.int64).reshape(bh, bw, 64)
        blocks.append(qz[:, :, _ZIGZAG])
    return factors, mcux, mcuy, blocks


def _canonical_codes(bits: list[int], syms: bytes) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code) per the DHT canonical construction —
    the encode-side mirror of :class:`_HuffTable`."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[syms[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit emitter with 0xFF00 stuffing and 1-padding flush."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # stuffing
        self.acc &= (1 << self.nbits) - 1

    def pad(self) -> None:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


#: single-length canonical tables shared by both JPEG writers: DC sizes
#: 0..11 at 4 bits; baseline AC (EOB, ZRL, run/size) at 9 bits
_JPEG_DC_SYMS = bytes(range(12))
_JPEG_DC_BITS = [0] * 16
_JPEG_DC_BITS[3] = 12  # 4-bit codes
_JPEG_AC_SYMS = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[8] = len(_JPEG_AC_SYMS)  # 9-bit codes


def encode_jpeg_baseline(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quant: int = 1,
    restart_interval: int = 0,
    subsampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Minimal baseline JPEG writer: grayscale or YCbCr at 4:4:4
    (``subsampling=(1,1)``) or 4:2:0 (``(2,2)``, chroma mean-pooled),
    flat ``quant`` quantization (1 = near-lossless: the only loss is the
    float DCT round-trip, within +/-1 per sample; flat 8x8 blocks are
    bit-exact), single-length canonical Huffman tables emitted via DHT
    (the decoder must run the real canonical construction — nothing is
    implicit). The synthesis side of the oracle-gated JPEG decode query
    and a usable thumbnail sink."""
    factors, mcux, mcuy, blocks = _jpeg_prepare(
        pixels, width, height, channels, quant, subsampling
    )
    dc_syms, dc_bits = _JPEG_DC_SYMS, _JPEG_DC_BITS
    ac_syms, ac_bits = _JPEG_AC_SYMS, _JPEG_AC_BITS
    dc_enc = _canonical_codes(dc_bits, dc_syms)
    ac_enc = _canonical_codes(ac_bits, ac_syms)

    wtr = _BitWriter()
    put = wtr.put
    bitbuf = wtr.buf

    pred = [0] * len(blocks)
    rst = 0
    mcu_count = 0
    mcus = [(y, x) for y in range(mcuy) for x in range(mcux)]
    blocks_of = [
        [(by, bx) for by in range(v_i) for bx in range(h_i)] for h_i, v_i in factors
    ]
    for my, mx in mcus:
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            wtr.pad()  # flush to byte boundary with 1-padding, emit RSTn
            bitbuf.extend((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            pred = [0] * len(blocks)
        for ci in range(len(blocks)):
          for by, bx in blocks_of[ci]:
            h_i, v_i = factors[ci]
            zz = blocks[ci][my * v_i + by, mx * h_i + bx]
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            size = abs(diff).bit_length()
            length, code = dc_enc[size]
            put(code, length)
            if size:
                put(diff if diff >= 0 else diff + (1 << size) - 1, size)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    length, code = ac_enc[0xF0]
                    put(code, length)
                    run -= 16
                size = abs(v).bit_length()
                length, code = ac_enc[(run << 4) | size]
                put(code, length)
                put(v if v >= 0 else v + (1 << size) - 1, size)
                run = 0
            if last_nz < 63:
                length, code = ac_enc[0x00]
                put(code, length)
        mcu_count += 1
    wtr.pad()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    ncomp = len(blocks)
    sof_body = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([ncomp])
    for cid in range(ncomp):
        h_i, v_i = factors[cid]
        sof_body += bytes([cid + 1, (h_i << 4) | v_i, 0])
    sof = seg(0xC0, sof_body)
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + dc_syms + bytes([0x10]) + bytes(ac_bits) + ac_syms,
    )
    dri = seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    sos_body = bytes([ncomp])
    for cid in range(ncomp):
        sos_body += bytes([cid + 1, 0x00])
    sos_body += bytes([0, 63, 0])
    sos = seg(0xDA, sos_body)
    return (
        b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(bitbuf) + b"\xff\xd9"
    )


#: progressive AC table adds the EOBn run-length symbols (r<<4 | 0 for
#: r in 1..14) to the baseline set: all (run, size 0..10) combinations,
#: 176 symbols, single canonical length 9 (< 2^9 - 1)
_JPEG_AC_PROG_SYMS = bytes((r << 4) | s for r in range(16) for s in range(11))
_JPEG_AC_PROG_BITS = [0] * 16
_JPEG_AC_PROG_BITS[8] = len(_JPEG_AC_PROG_SYMS)


def encode_jpeg_progressive(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quant: int = 1,
    restart_interval: int = 0,
    subsampling: tuple[int, int] = (1, 1),
    dc_al: int = 1,
    ac_al: int = 1,
    bands: tuple = ((1, 5), (6, 63)),
) -> bytes:
    """Progressive JPEG writer (SOF2, T.81 Annex G): the same
    coefficients :func:`encode_jpeg_baseline` would emit, reordered into
    a scan script — an interleaved DC first scan at ``Al=dc_al``, per
    successive-approximation level DC refinement scans, then per
    component and spectral ``bands`` an AC first scan at ``Al=ac_al``
    followed by per-level AC refinement scans (EOB run-lengths, ZRL
    folding, buffered correction bits). Because progressive coding is a
    lossless reordering of the entropy layer, decoding this stream must
    yield byte-identical pixels to the baseline stream of the same
    image — which is exactly what the pytest gate asserts."""
    factors, mcux, mcuy, blocks = _jpeg_prepare(
        pixels, width, height, channels, quant, subsampling
    )
    ncomp = len(blocks)
    dc_enc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
    ac_enc = _canonical_codes(_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_SYMS)
    hmax, vmax = factors[0]

    def comp_grid(ci: int) -> tuple[int, int]:
        h_i, v_i = factors[ci]
        cw = -(-width * h_i // hmax)
        ch = -(-height * v_i // vmax)
        return -(-cw // 8), -(-ch // 8)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid + 1, 0x00])  # DC table 0, AC table 0
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    sof_body = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        h_i, v_i = factors[ci]
        sof_body += bytes([ci + 1, (h_i << 4) | v_i, 0])
    out += seg(0xC2, sof_body)
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + _JPEG_DC_SYMS
        + bytes([0x10]) + bytes(_JPEG_AC_PROG_BITS) + _JPEG_AC_PROG_SYMS,
    )
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))

    def dc_scan(al: int, refine: bool) -> bytes:
        wtr = _BitWriter()
        pred = [0] * ncomp
        rst = 0
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and unit and unit % restart_interval == 0:
                    wtr.pad()
                    wtr.buf.extend((0xFF, 0xD0 + rst))
                    rst = (rst + 1) % 8
                    pred = [0] * ncomp
                for ci in range(ncomp):
                    h_i, v_i = factors[ci]
                    for by in range(v_i):
                        for bx in range(h_i):
                            dc = int(blocks[ci][my * v_i + by, mx * h_i + bx, 0])
                            if refine:
                                wtr.put((dc >> al) & 1, 1)
                                continue
                            v = dc >> al
                            diff = v - pred[ci]
                            pred[ci] = v
                            size = abs(diff).bit_length()
                            length, code = dc_enc[size]
                            wtr.put(code, length)
                            if size:
                                wtr.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
                unit += 1
        wtr.pad()
        return bytes(wtr.buf)

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        nbw, nbh = comp_grid(ci)
        eobrun = 0
        rst = 0
        unit = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                length, code = ac_enc[r << 4]
                wtr.put(code, length)
                if r:
                    wtr.put(eobrun - (1 << r), r)
                eobrun = 0

        for by in range(nbh):
            for bx in range(nbw):
                if restart_interval and unit and unit % restart_interval == 0:
                    flush_eob()
                    wtr.pad()
                    wtr.buf.extend((0xFF, 0xD0 + rst))
                    rst = (rst + 1) % 8
                zz = blocks[ci][by, bx]
                r = 0
                for k in range(ss, se + 1):
                    v = int(zz[k])
                    t = v >> al if v >= 0 else -((-v) >> al)
                    if t == 0:
                        r += 1
                        continue
                    flush_eob()
                    while r > 15:
                        length, code = ac_enc[0xF0]
                        wtr.put(code, length)
                        r -= 16
                    size = abs(t).bit_length()
                    length, code = ac_enc[(r << 4) | size]
                    wtr.put(code, length)
                    wtr.put(t if t >= 0 else t + (1 << size) - 1, size)
                    r = 0
                if r:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                unit += 1
        flush_eob()
        wtr.pad()
        return bytes(wtr.buf)

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        nbw, nbh = comp_grid(ci)
        eobrun = 0
        pend: list[int] = []  # correction bits carried with the EOB run
        rst = 0
        unit = 0

        def flush_eob() -> None:
            nonlocal eobrun, pend
            if eobrun:
                r = eobrun.bit_length() - 1
                length, code = ac_enc[r << 4]
                wtr.put(code, length)
                if r:
                    wtr.put(eobrun - (1 << r), r)
                for b in pend:
                    wtr.put(b, 1)
                eobrun = 0
                pend = []

        for by in range(nbh):
            for bx in range(nbw):
                if restart_interval and unit and unit % restart_interval == 0:
                    flush_eob()
                    wtr.pad()
                    wtr.buf.extend((0xFF, 0xD0 + rst))
                    rst = (rst + 1) % 8
                zz = blocks[ci][by, bx]
                absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
                eob = max(
                    (k for k in range(ss, se + 1) if absv[k - ss] == 1),
                    default=ss - 1,
                )
                r = 0
                br: list[int] = []
                for k in range(ss, se + 1):
                    t = absv[k - ss]
                    if t == 0:
                        r += 1
                        continue
                    # ZRL only when it can't fold into the EOB run
                    while r > 15 and k <= eob:
                        flush_eob()
                        length, code = ac_enc[0xF0]
                        wtr.put(code, length)
                        r -= 16
                        for b in br:
                            wtr.put(b, 1)
                        br = []
                    if t > 1:  # history coefficient: one correction bit
                        br.append(t & 1)
                        continue
                    flush_eob()
                    length, code = ac_enc[(r << 4) | 1]
                    wtr.put(code, length)
                    wtr.put(1 if int(zz[k]) > 0 else 0, 1)
                    for b in br:
                        wtr.put(b, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    pend.extend(br)
                    if eobrun == 0x7FFF:
                        flush_eob()
                unit += 1
        flush_eob()
        wtr.pad()
        return bytes(wtr.buf)

    # scan script: DC first -> DC refinements -> per (comp, band) AC
    # first -> AC refinements, one bit plane per scan
    out += sos_header(list(range(ncomp)), 0, 0, 0, dc_al)
    out += dc_scan(dc_al, refine=False)
    for a in range(dc_al - 1, -1, -1):
        out += sos_header(list(range(ncomp)), 0, 0, a + 1, a)
        out += dc_scan(a, refine=True)
    for ci in range(ncomp):
        for ss, se in bands:
            out += sos_header([ci], ss, se, 0, ac_al)
            out += ac_first_scan(ci, ss, se, ac_al)
    for a in range(ac_al - 1, -1, -1):
        for ci in range(ncomp):
            for ss, se in bands:
                out += sos_header([ci], ss, se, a + 1, a)
                out += ac_refine_scan(ci, ss, se, a)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------- arithmetic-coded JPEG
# DCT with arithmetic entropy coding — sequential (SOF9) here, and
# progressive (SOF10) in the section after it — the last named codec
# gap (r6 verdict stretch item). Structure:
#
# - the probability state machine is Table D.3 of ITU-T T.81 (Qe,
#   NMPS, NLPS, SWITCH — spec constants, like the Annex-K Huffman
#   tables the baseline path pins against), plus the spec's fixed
#   non-adapting 0.5 state used for AC sign decisions;
# - the statistics model is Annex F's sequential DC/AC conditioning
#   (DC: 5 prev-diff classes x {S0,SS,SP,SN} + shared X1..X15/M bins,
#   49 per table; AC: {SE,S0,SP} per K + low/high X2../M.. ranges split
#   at Kx, 245 per table; conditioning bounds from the DAC segment,
#   defaults L=0, U=1, Kx=5);
# - the interval coder is a symmetric window-offset formulation of the
#   Annex D QM-coder: the encoder keeps the interval base as a 16-bit
#   window offset, emits one bit per renormalization with carry
#   resolved by walk-back into the emitted-bit buffer, and flushes the
#   final window; the decoder tracks (code - base) in window units, so
#   every interval decision compares exact integers and round-trip
#   equality is structural. The byte layer follows the spec's
#   conventions exactly: a byte after 0xFF carries 7 bits under a
#   stuffed 0 MSB, 0xFF followed by >0x8F is a marker, and the decoder
#   feeds 1-bits past the marker.
#
# The correctness gate is decode(encode_jpeg_arithmetic(px)) ==
# decode(encode_jpeg_baseline(px)) BYTE-IDENTICAL pixels (same
# quantized coefficients, different entropy layer — the progressive
# gate's contract), plus property tests over random images, restart
# intervals, and subsampling. No external arithmetic-JPEG samples
# exist in this container, so cross-implementation conformance is
# pinned only structurally (same position as the other self-
# synthesized codec fixtures); a state-table transcription slip would
# cost compression ratio, never round-trip correctness, because both
# sides share the table.

#: T.81 Table D.3: (Qe, NMPS, NLPS, SWITCH); index 113 is the fixed
#: non-adapting 0.5-probability state (AC sign bits).
_QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)


class _ArithBits:
    """MSB-first bit feed over JPEG arithmetic entropy data. A byte
    following a data 0xFF carries only 7 bits (its MSB is the spec's
    stuffed 0); 0xFF followed by a byte > 0x8F is a marker — the feed
    then yields 1-bits forever (the marker-padding convention) and pins
    ``marker_pos`` at the 0xFF so the scan loop can resync."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.cur = 0
        self.nbits = 0
        self.prev_ff = False
        self.marker_pos: int | None = None

    def _load(self) -> None:
        d = self.data
        p = self.pos
        if self.marker_pos is not None:
            self.cur, self.nbits = 0xFF, 8
            return
        if p >= len(d):
            self.marker_pos = p
            self.cur, self.nbits = 0xFF, 8
            return
        b = d[p]
        if self.prev_ff:
            # stuffed byte: MSB is the stuffed 0, 7 data bits remain
            self.cur, self.nbits = b & 0x7F, 7
            self.prev_ff = False
            self.pos = p + 1
            return
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt > 0x8F:
                self.marker_pos = p
                self.cur, self.nbits = 0xFF, 8
                return
            self.prev_ff = True
        self.cur, self.nbits = b, 8
        self.pos = p + 1

    def bit(self) -> int:
        if self.nbits == 0:
            self._load()
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1


class _QMDecoder:
    """Interval decoder over a bit feed: tracks (code - interval base)
    in 16-bit window units, mirroring ``_QMEncoder`` decision for
    decision (same ``a`` updates, same renorm schedule), so decisions
    compare exact integers. Bin state is a mutable [index, mps] pair
    shared with the statistics model."""

    def __init__(self, bits: _ArithBits):
        self.bits = bits
        self.a = 0x8000
        c = 0
        for _ in range(16):
            c = (c << 1) | bits.bit()
        self.c = c

    def decode(self, st: list) -> int:
        qe, nmps, nlps, sw = _QM_TABLE[st[0]]
        mps = st[1]
        self.a -= qe
        if self.c < qe:
            # bottom subinterval: LPS, unless exchanged (MPS shrank
            # below Qe and took the bottom)
            if self.a < qe:
                d = mps
                st[0] = nmps
            else:
                d = 1 - mps
                if sw:
                    st[1] = 1 - mps
                st[0] = nlps
            self.a = qe
            self._renorm()
            return d
        self.c -= qe
        if self.a & 0x8000:
            return mps
        if self.a < qe:
            d = 1 - mps
            if sw:
                st[1] = 1 - mps
            st[0] = nlps
        else:
            d = mps
            st[0] = nmps
        self._renorm()
        return d

    def _renorm(self) -> None:
        bit = self.bits.bit
        while self.a < 0x8000:
            self.a <<= 1
            self.c = ((self.c << 1) | bit()) & 0x1FFFF
            # mask is defensive: on a valid stream c < a always


class _QMEncoder:
    """Interval encoder: ``c`` is the interval base as a 16-bit window
    offset; each renormalization emits one bit, a base overflow carries
    into the emitted bits by walk-back (bounded: it stops at the last 0
    bit, and code values live in [0, 1) so it cannot pass the stream
    start). ``flush()`` appends the final window — the decoder's
    trailing 1-bit feed then lands inside [base, base + a)."""

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.out: list[int] = []

    def encode(self, st: list, d: int) -> None:
        qe, nmps, nlps, sw = _QM_TABLE[st[0]]
        mps = st[1]
        self.a -= qe
        if d == mps:
            if self.a & 0x8000:
                self._addc(qe)
                return
            if self.a < qe:
                self.a = qe  # exchange: MPS takes the bottom interval
            else:
                self._addc(qe)
            st[0] = nmps
        else:
            if self.a < qe:
                self._addc(qe)  # exchange: LPS takes the top interval
            else:
                self.a = qe
            if sw:
                st[1] = 1 - mps
            st[0] = nlps
        self._renorm()

    def _addc(self, x: int) -> None:
        self.c += x
        if self.c >= 0x10000:
            self.c -= 0x10000
            out = self.out
            i = len(out) - 1
            while i >= 0 and out[i]:
                out[i] = 0
                i -= 1
            if i < 0:
                raise ValueError("arithmetic carry past stream start")
            out[i] = 1

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.out.append((self.c >> 16) & 1)
            self.c &= 0xFFFF

    def flush(self) -> list[int]:
        for k in range(15, -1, -1):
            self.out.append((self.c >> k) & 1)
        return self.out


def _pack_arith_bits(bits: list[int]) -> bytes:
    """Bits -> entropy bytes with the spec's byte-layer conventions:
    stuffed 0 MSB after every 0xFF byte, final partial byte 1-padded
    (matching the decoder's 1-feed past the trailing marker)."""
    out = bytearray()
    cur = 0
    nb = 0

    def push(b: int) -> None:
        nonlocal cur, nb
        cur = (cur << 1) | b
        nb += 1
        if nb == 8:
            out.append(cur)
            nb = 1 if cur == 0xFF else 0  # stuffed 0 occupies next MSB
            cur = 0

    for b in bits:
        push(b)
    while nb:
        push(1)
    return bytes(out)


def _fresh_arith_stats(dc_tables, ac_tables) -> tuple[dict, dict]:
    """Annex F bin allocations: 49 DC bins / 245 AC bins per table id,
    every bin starting at (state 0, MPS 0) — reset wholesale at restart
    markers."""
    dc = {t: [[0, 0] for _ in range(49)] for t in dc_tables}
    ac = {t: [[0, 0] for _ in range(245)] for t in ac_tables}
    return dc, ac


def _arith_decode_dc(dec, dstats, ctx, pred, ci, cond) -> None:
    """One DC difference (T.81 F.2.4.1 decode flow): zero/sign/Sz>0
    decisions in the conditioning class's 4-bin group, magnitude
    category up the shared X1.. ladder, mantissa from the matching M
    bin, then reclassify the conditioning context from the category."""
    low, up = cond
    st = ctx[ci]
    if dec.decode(dstats[st]) == 0:
        ctx[ci] = 0
        return
    sign = dec.decode(dstats[st + 1])
    m = dec.decode(dstats[st + 2 + sign])
    xb = 20
    if m:
        while dec.decode(dstats[xb]):
            m <<= 1
            xb += 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic DC magnitude overflow")
    if m < (1 << low):
        ctx[ci] = 0
    elif m > (1 << up):
        ctx[ci] = 12 + 4 * sign
    else:
        ctx[ci] = 4 + 4 * sign
    v = m
    if m:
        mbin = dstats[xb + 14]
        mm = m >> 1
        while mm:
            if dec.decode(mbin):
                v |= mm
            mm >>= 1
    v += 1
    pred[ci] += -v if sign else v


def _arith_encode_dc(enc, dstats, ctx, ci, diff, cond) -> None:
    low, up = cond
    st = ctx[ci]
    if diff == 0:
        enc.encode(dstats[st], 0)
        ctx[ci] = 0
        return
    enc.encode(dstats[st], 1)
    sign = 1 if diff < 0 else 0
    enc.encode(dstats[st + 1], sign)
    sz = (diff if diff > 0 else -diff) - 1
    spb = dstats[st + 2 + sign]
    xb = 20
    m = 0
    if sz == 0:
        enc.encode(spb, 0)
    else:
        enc.encode(spb, 1)
        m = 1
        msb = 1 << (sz.bit_length() - 1)
        while m < msb:
            enc.encode(dstats[xb], 1)
            m <<= 1
            xb += 1
        enc.encode(dstats[xb], 0)
    if m < (1 << low):
        ctx[ci] = 0
    elif m > (1 << up):
        ctx[ci] = 12 + 4 * sign
    else:
        ctx[ci] = 4 + 4 * sign
    if m:
        mbin = dstats[xb + 14]
        mm = m >> 1
        while mm:
            enc.encode(mbin, 1 if sz & mm else 0)
            mm >>= 1


def _arith_decode_ac(dec, astats, fixed, coeffs, kx) -> None:
    """AC coefficients of one block (F.2.4.2): EOB decision and zero
    runs through the per-K {SE, S0} bins, sign from the fixed state,
    magnitude through SP then the low/high X2.. ladder (split at Kx),
    mantissa from the matching M bin. Writes into zigzag-stream
    positions 1..63 of ``coeffs``."""
    k = 1
    while k <= 63:
        base = 3 * (k - 1)
        if dec.decode(astats[base]):
            return  # EOB
        while dec.decode(astats[base + 1]) == 0:
            k += 1
            base += 3
            if k > 63:
                raise ValueError("JPEG arithmetic AC run past block end")
        sign = dec.decode(fixed)
        sp = astats[base + 2]
        m = dec.decode(sp)
        xb = None
        if m and dec.decode(sp):
            m = 2
            xb = 189 if k <= kx else 217
            while dec.decode(astats[xb]):
                m <<= 1
                xb += 1
                if m == 0x8000:
                    raise ValueError("JPEG arithmetic AC magnitude overflow")
        v = m
        if m >= 2:
            mbin = astats[xb + 14]
            mm = m >> 1
            while mm:
                if dec.decode(mbin):
                    v |= mm
                mm >>= 1
        v += 1
        coeffs[k] = -v if sign else v
        k += 1


def _arith_encode_ac(enc, astats, fixed, zz, kx) -> None:
    last_nz = 0
    for t in range(63, 0, -1):
        if zz[t]:
            last_nz = t
            break
    k = 1
    while k <= last_nz:
        base = 3 * (k - 1)
        enc.encode(astats[base], 0)  # not EOB
        while zz[k] == 0:
            enc.encode(astats[base + 1], 0)
            k += 1
            base += 3
        enc.encode(astats[base + 1], 1)
        v = int(zz[k])
        sign = 1 if v < 0 else 0
        enc.encode(fixed, sign)
        sz = (v if v > 0 else -v) - 1
        sp = astats[base + 2]
        m = 0
        xb = None
        if sz == 0:
            enc.encode(sp, 0)
        else:
            enc.encode(sp, 1)
            if sz == 1:
                enc.encode(sp, 0)
                m = 1
            else:
                enc.encode(sp, 1)
                m = 2
                xb = 189 if k <= kx else 217
                msb = 1 << (sz.bit_length() - 1)
                while m < msb:
                    enc.encode(astats[xb], 1)
                    m <<= 1
                    xb += 1
                enc.encode(astats[xb], 0)
        if m >= 2:
            mbin = astats[xb + 14]
            mm = m >> 1
            while mm:
                enc.encode(mbin, 1 if sz & mm else 0)
                mm >>= 1
        k += 1
    if last_nz < 63:
        enc.encode(astats[3 * (k - 1)], 1)  # EOB


def _arith_sync_restart(payload: bytes, bits: _ArithBits, n: int) -> int:
    """Find and consume the byte-aligned RSTn after the current
    interval's entropy data. Unambiguous scan: inside arithmetic data,
    0xFF is always followed by a stuffed byte <= 0x7F, so the first
    0xFF followed by > 0x8F is the marker."""
    d = payload
    p = bits.marker_pos if bits.marker_pos is not None else bits.pos
    while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] > 0x8F):
        p += 1
    if p + 1 >= len(d):
        raise ValueError("truncated JPEG arithmetic stream at restart")
    if d[p + 1] != 0xD0 + n:
        raise ValueError("missing JPEG restart marker")
    return p + 2


def _jpeg_arith_scan(
    payload, start, frame, scan, qt, dc_cond, ac_cond, restart_interval,
    as_planes: bool = False,
):
    """Sequential arithmetic scan: the _jpeg_scan MCU walk with the
    Annex F statistics model in place of Huffman tables. ``as_planes``
    mirrors _jpeg_scan's hierarchical variant — raw float planes +
    the terminating-marker position, no level shift for differential
    frames."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    shift = 0.0 if frame.get("differential") else 128.0
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    basis = _dct_basis()
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    dc_tables = {scan[c["id"]][0] for c in comps}
    ac_tables = {scan[c["id"]][1] for c in comps}

    bits = _ArithBits(payload, start)
    dec = _QMDecoder(bits)
    dc_stats, ac_stats = _fresh_arith_stats(dc_tables, ac_tables)
    fixed = [113, 0]
    pred = [0] * len(comps)
    ctx = [0] * len(comps)
    rst = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                nxt = _arith_sync_restart(payload, bits, rst)
                rst = (rst + 1) % 8
                bits = _ArithBits(payload, nxt)
                dec = _QMDecoder(bits)
                dc_stats, ac_stats = _fresh_arith_stats(dc_tables, ac_tables)
                pred = [0] * len(comps)
                ctx = [0] * len(comps)
            for ci, c in enumerate(comps):
                tdc, tac = scan[c["id"]]
                dstats = dc_stats[tdc]
                astats = ac_stats[tac]
                cond = dc_cond.get(tdc, (0, 1))
                kx = ac_cond.get(tac, 5)
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = np.zeros(64, dtype=np.float64)
                        _arith_decode_dc(dec, dstats, ctx, pred, ci, cond)
                        coeffs[0] = pred[ci]
                        _arith_decode_ac(dec, astats, fixed, coeffs, kx)
                        blk = np.zeros((8, 8), dtype=np.float64)
                        for s, b in enumerate(_ZIGZAG):
                            blk.flat[b] = coeffs[s]
                        blk *= q
                        spatial = basis.T @ blk @ basis + shift
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1
    if as_planes:
        return planes, _arith_next_marker(payload, bits)
    return _jpeg_assemble(frame, planes, hmax, vmax)


def encode_jpeg_arithmetic(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quant: int = 1,
    restart_interval: int = 0,
    subsampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Arithmetic-coded sequential JPEG writer (SOF9): the exact
    coefficients :func:`encode_jpeg_baseline` would emit, entropy-coded
    through the QM coder + Annex F statistics model instead of Huffman
    tables. Because arithmetic coding only replaces the lossless
    entropy layer, decoding this stream must yield BYTE-IDENTICAL
    pixels to the baseline stream of the same image — the pytest gate.
    Emits an explicit DAC segment with the default conditioning
    (L=0, U=1, Kx=5); restart intervals flush + byte-align the coder
    and reset all statistics, mirroring the decoder."""
    factors, mcux, mcuy, blocks = _jpeg_prepare(
        pixels, width, height, channels, quant, subsampling
    )
    ncomp = len(blocks)
    tids = [0] + [1] * (ncomp - 1)
    cond = (0, 1)
    kx = 5

    entropy = bytearray()
    enc = _QMEncoder()
    dc_stats, ac_stats = _fresh_arith_stats(set(tids), set(tids))
    fixed = [113, 0]
    pred = [0] * ncomp
    ctx = [0] * ncomp
    rst = 0
    mcu_count = 0
    blocks_of = [
        [(by, bx) for by in range(v_i) for bx in range(h_i)] for h_i, v_i in factors
    ]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += _pack_arith_bits(enc.flush())
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                enc = _QMEncoder()
                dc_stats, ac_stats = _fresh_arith_stats(set(tids), set(tids))
                pred = [0] * ncomp
                ctx = [0] * ncomp
            for ci in range(ncomp):
                dstats = dc_stats[tids[ci]]
                astats = ac_stats[tids[ci]]
                h_i, v_i = factors[ci]
                for by, bx in blocks_of[ci]:
                    zz = blocks[ci][my * v_i + by, mx * h_i + bx]
                    dc = int(zz[0])
                    _arith_encode_dc(enc, dstats, ctx, ci, dc - pred[ci], cond)
                    pred[ci] = dc
                    _arith_encode_ac(enc, astats, fixed, zz, kx)
            mcu_count += 1
    entropy += _pack_arith_bits(enc.flush())

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    sof_body = (
        bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([ncomp])
    )
    for cid in range(ncomp):
        h_i, v_i = factors[cid]
        sof_body += bytes([cid + 1, (h_i << 4) | v_i, 0])
    sof = seg(0xC9, sof_body)
    dac_body = b""
    for t in sorted(set(tids)):
        dac_body += bytes([t, (cond[1] << 4) | cond[0]])  # DC: (U<<4)|L
        dac_body += bytes([0x10 | t, kx])  # AC: Kx
    dac = seg(0xCC, dac_body)
    dri = seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    sos_body = bytes([ncomp])
    for cid in range(ncomp):
        sos_body += bytes([cid + 1, (tids[cid] << 4) | tids[cid]])
    sos_body += bytes([0, 63, 0])
    sos = seg(0xDA, sos_body)
    return b"\xff\xd8" + dqt + sof + dac + dri + sos + bytes(entropy) + b"\xff\xd9"


# -------------------------------- arithmetic progressive JPEG (SOF10)
# T.81 Annex G.2 with arithmetic entropy coding: the same spectral-
# selection / successive-approximation scan scripts as the Huffman
# progressive path, with the QM coder + per-scan-reset Annex F
# statistics in place of the EOBn run-length codes (arithmetic
# progressive has NO EOB runs — the per-K SE bins carry the
# end-of-band decision block by block, and DC/AC correction bits code
# through the fixed 0.5 state / SP bins). Statistics re-initialize at
# every scan and every restart.


def _arith_next_marker(payload: bytes, bits: _ArithBits) -> int:
    """Position of the marker terminating the current entropy segment
    (same unambiguous scan as _arith_sync_restart)."""
    d = payload
    p = bits.marker_pos if bits.marker_pos is not None else bits.pos
    while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] > 0x8F):
        p += 1
    return p


def _arith_decode_dc_first(dec, dstats, ctx, pred, ci, cond, al, blk) -> None:
    """Progressive DC first scan: the sequential DC difference decode in
    the Al-shifted domain; the accumulated prediction enters the block
    at magnitude << Al."""
    _arith_decode_dc(dec, dstats, ctx, pred, ci, cond)
    blk[0] = pred[ci] << al


def _arith_decode_ac_band(dec, astats, fixed, blk, ss, se, al, kx) -> None:
    """Progressive AC first scan (Ah=0) over band [ss, se]: sequential
    AC decode bounded to the band, values entering at magnitude << Al,
    positions dezigzagged into the natural-order block."""
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(astats[base]):
            return  # EOB
        while dec.decode(astats[base + 1]) == 0:
            k += 1
            base += 3
            if k > se:
                raise ValueError("JPEG arithmetic AC run past band end")
        sign = dec.decode(fixed)
        sp = astats[base + 2]
        m = dec.decode(sp)
        xb = None
        if m and dec.decode(sp):
            m = 2
            xb = 189 if k <= kx else 217
            while dec.decode(astats[xb]):
                m <<= 1
                xb += 1
                if m == 0x8000:
                    raise ValueError("JPEG arithmetic AC magnitude overflow")
        v = m
        if m >= 2:
            mbin = astats[xb + 14]
            mm = m >> 1
            while mm:
                if dec.decode(mbin):
                    v |= mm
                mm >>= 1
        v += 1
        blk[_ZIGZAG[k]] = (-v if sign else v) << al
        k += 1


def _arith_decode_ac_refine(dec, astats, fixed, blk, ss, se, p1, m1) -> None:
    """Progressive AC refinement (Ah>0), T.81 G.2 decode flow: EOB
    decisions become legal past the previous scans' last nonzero
    position (kex); zero-history positions consume S0 decisions until a
    correction (SP bin) or a newly-nonzero (+-1<<Al, sign via the fixed
    state) lands."""
    kex = 0
    for j in range(se, 0, -1):
        if blk[_ZIGZAG[j]]:
            kex = j
            break
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex and dec.decode(astats[base]):
            return  # EOB
        while True:
            z = _ZIGZAG[k]
            cur = int(blk[z])
            if cur:
                if dec.decode(astats[base + 2]):
                    blk[z] = cur + (m1 if cur < 0 else p1)
                break
            if dec.decode(astats[base + 1]):
                blk[z] = m1 if dec.decode(fixed) else p1
                break
            base += 3
            k += 1
            if k > se:
                raise ValueError("JPEG arithmetic AC refine ran past band end")
        k += 1


def _jpeg_arith_progressive_scan(
    payload, start, frame, order, scan, dc_cond, ac_cond,
    restart_interval, coeff, band,
) -> int:
    """Decode one arithmetic progressive scan into ``coeff``; returns
    the offset of the terminating marker. Mirrors the Huffman
    _jpeg_progressive_scan walk; statistics/coder reset per restart."""
    ss, se, ah, al = band
    comps = frame["comps"]
    byid = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    members = [byid[cid] for cid in order]
    p1, m1 = 1 << al, -1 << al
    dc_tables = {scan[c["id"]][0] for _, c in members}
    ac_tables = {scan[c["id"]][1] for _, c in members}

    state = {"rst": 0}

    def fresh(pos):
        bits = _ArithBits(payload, pos)
        dec = _QMDecoder(bits)
        dc_stats, ac_stats = _fresh_arith_stats(dc_tables, ac_tables)
        return bits, dec, dc_stats, ac_stats, [0] * len(comps), [0] * len(comps)

    bits, dec, dc_stats, ac_stats, pred, ctx = fresh(start)
    fixed = [113, 0]

    def restart_if_due(count: int):
        nonlocal bits, dec, dc_stats, ac_stats, pred, ctx
        if restart_interval and count and count % restart_interval == 0:
            nxt = _arith_sync_restart(payload, bits, state["rst"])
            state["rst"] = (state["rst"] + 1) % 8
            bits, dec, dc_stats, ac_stats, pred, ctx = fresh(nxt)

    if ss == 0:  # DC scan
        def dc_block(blk, ci, tdc) -> None:
            if ah == 0:
                _arith_decode_dc_first(
                    dec, dc_stats[tdc], ctx, pred, ci,
                    dc_cond.get(tdc, (0, 1)), al, blk,
                )
            elif dec.decode(fixed):
                blk[0] |= p1

        if len(members) > 1:  # interleaved over MCUs
            unit = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    restart_if_due(unit)
                    for ci, c in members:
                        tdc = scan[c["id"]][0]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(
                                    coeff[ci][my * c["v"] + by, mx * c["h"] + bx],
                                    ci, tdc,
                                )
                    unit += 1
        else:
            ci, c = members[0]
            tdc = scan[c["id"]][0]
            nbw, nbh = _comp_block_grid(frame, c)
            unit = 0
            for by in range(nbh):
                for bx in range(nbw):
                    restart_if_due(unit)
                    dc_block(coeff[ci][by, bx], ci, tdc)
                    unit += 1
    else:  # AC scan: single component by spec
        if len(members) > 1:
            raise ValueError("progressive AC scan with multiple components")
        ci, c = members[0]
        tac = scan[c["id"]][1]
        kx = ac_cond.get(tac, 5)
        nbw, nbh = _comp_block_grid(frame, c)
        unit = 0
        for by in range(nbh):
            for bx in range(nbw):
                restart_if_due(unit)
                blk = coeff[ci][by, bx]
                if ah == 0:
                    _arith_decode_ac_band(
                        dec, ac_stats[tac], fixed, blk, ss, se, al, kx
                    )
                else:
                    _arith_decode_ac_refine(
                        dec, ac_stats[tac], fixed, blk, ss, se, p1, m1
                    )
                unit += 1
    return _arith_next_marker(payload, bits)


def _arith_ac_first_block(enc, astats, fixed, zz, ss, se, al, kx) -> None:
    """AC first scan (Ah=0) of ONE zigzag block through the QM coder —
    the T.81 Annex G EOB/S0/SE-bin decision tree at ``Al=al``. Shared
    by the SOF10 progressive writer's per-component scans and the
    hierarchical progressive (SOF6/SOF14) frame writer."""
    t_of = [
        (int(zz[k]) >> al) if zz[k] >= 0 else -((-int(zz[k])) >> al)
        for k in range(64)
    ]
    last_nz = 0
    for j in range(se, ss - 1, -1):
        if t_of[j]:
            last_nz = j
            break
    k = ss
    while k <= last_nz:
        base = 3 * (k - 1)
        enc.encode(astats[base], 0)  # not EOB
        while t_of[k] == 0:
            enc.encode(astats[base + 1], 0)
            k += 1
            base += 3
        enc.encode(astats[base + 1], 1)
        v = t_of[k]
        sign = 1 if v < 0 else 0
        enc.encode(fixed, sign)
        sz = (v if v > 0 else -v) - 1
        sp = astats[base + 2]
        m = 0
        xb = None
        if sz == 0:
            enc.encode(sp, 0)
        else:
            enc.encode(sp, 1)
            if sz == 1:
                enc.encode(sp, 0)
                m = 1
            else:
                enc.encode(sp, 1)
                m = 2
                xb = 189 if k <= kx else 217
                msb = 1 << (sz.bit_length() - 1)
                while m < msb:
                    enc.encode(astats[xb], 1)
                    m <<= 1
                    xb += 1
                enc.encode(astats[xb], 0)
        if m >= 2:
            mbin = astats[xb + 14]
            mm = m >> 1
            while mm:
                enc.encode(mbin, 1 if sz & mm else 0)
                mm >>= 1
        k += 1
    if last_nz < se:
        enc.encode(astats[3 * (k - 1)], 1)  # EOB


def encode_jpeg_arith_progressive(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quant: int = 1,
    restart_interval: int = 0,
    subsampling: tuple[int, int] = (1, 1),
    dc_al: int = 1,
    ac_al: int = 1,
    bands: tuple = ((1, 5), (6, 63)),
) -> bytes:
    """Arithmetic progressive JPEG writer (SOF10): the Huffman
    progressive writer's exact scan script — interleaved DC first at
    ``Al=dc_al``, DC refinement levels, per-component spectral ``bands``
    AC first at ``Al=ac_al``, then AC refinement levels — entropy-coded
    through the QM coder with per-scan-fresh Annex F statistics.
    Progressive coding is a lossless reordering of the entropy layer,
    so decoding must yield BYTE-IDENTICAL pixels to the baseline/
    sequential-arithmetic streams of the same image (the pytest
    gate)."""
    factors, mcux, mcuy, blocks = _jpeg_prepare(
        pixels, width, height, channels, quant, subsampling
    )
    ncomp = len(blocks)
    tids = [0] + [1] * (ncomp - 1)
    cond = (0, 1)
    kx = 5
    hmax, vmax = factors[0]
    fixed = [113, 0]

    def comp_grid(ci: int) -> tuple[int, int]:
        h_i, v_i = factors[ci]
        cw = -(-width * h_i // hmax)
        ch = -(-height * v_i // vmax)
        return -(-cw // 8), -(-ch // 8)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid + 1, (tids[cid] << 4) | tids[cid]])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    class _Scan:
        """Per-scan coder + statistics lifecycle (restart-aware)."""

        def __init__(self, dc_t, ac_t):
            self.dc_t, self.ac_t = dc_t, ac_t
            self.out = bytearray()
            self.rst = 0
            self._fresh()

        def _fresh(self):
            self.enc = _QMEncoder()
            self.dc_stats, self.ac_stats = _fresh_arith_stats(self.dc_t, self.ac_t)
            self.pred = [0] * ncomp
            self.ctx = [0] * ncomp

        def restart_if_due(self, unit: int):
            if restart_interval and unit and unit % restart_interval == 0:
                self.out += _pack_arith_bits(self.enc.flush())
                self.out += bytes((0xFF, 0xD0 + self.rst))
                self.rst = (self.rst + 1) % 8
                self._fresh()

        def finish(self) -> bytes:
            self.out += _pack_arith_bits(self.enc.flush())
            return bytes(self.out)

    def dc_scan(al: int, refine: bool) -> bytes:
        sc = _Scan(set(tids), set(tids))
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                sc.restart_if_due(unit)
                for ci in range(ncomp):
                    h_i, v_i = factors[ci]
                    dstats = sc.dc_stats[tids[ci]]
                    for by in range(v_i):
                        for bx in range(h_i):
                            dc = int(blocks[ci][my * v_i + by, mx * h_i + bx, 0])
                            if refine:
                                sc.enc.encode(fixed, (dc >> al) & 1)
                                continue
                            v = dc >> al
                            _arith_encode_dc(
                                sc.enc, dstats, sc.ctx, ci, v - sc.pred[ci], cond
                            )
                            sc.pred[ci] = v
                unit += 1
        return sc.finish()

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        sc = _Scan(set(tids), set(tids))
        astats = sc.ac_stats[tids[ci]]
        nbw, nbh = comp_grid(ci)
        unit = 0
        for by in range(nbh):
            for bx in range(nbw):
                sc.restart_if_due(unit)
                if restart_interval:
                    astats = sc.ac_stats[tids[ci]]
                _arith_ac_first_block(
                    sc.enc, astats, fixed, blocks[ci][by, bx], ss, se, al, kx
                )
                unit += 1
        return sc.finish()

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        sc = _Scan(set(tids), set(tids))
        astats = sc.ac_stats[tids[ci]]
        nbw, nbh = comp_grid(ci)
        unit = 0
        for by in range(nbh):
            for bx in range(nbw):
                sc.restart_if_due(unit)
                if restart_interval:
                    astats = sc.ac_stats[tids[ci]]
                zz = blocks[ci][by, bx]
                t_of = [abs(int(zz[k])) >> al for k in range(64)]
                # kex: last position with nonzero PREVIOUS-scan history
                kex = 0
                for j in range(se, 0, -1):
                    if t_of[j] >= 2:
                        kex = j
                        break
                # last position with anything left to code this scan
                last = 0
                for j in range(se, ss - 1, -1):
                    if t_of[j] != 0:
                        last = j
                        break
                k = ss
                while k <= se:
                    base = 3 * (k - 1)
                    if k > kex:
                        if k > last:
                            sc.enc.encode(astats[base], 1)  # EOB
                            break
                        sc.enc.encode(astats[base], 0)
                    while True:
                        t = t_of[k]
                        if t >= 2:  # previously nonzero: correction bit
                            sc.enc.encode(astats[base + 2], t & 1)
                            break
                        if t == 1:  # newly nonzero this scan
                            sc.enc.encode(astats[base + 1], 1)
                            sc.enc.encode(fixed, 1 if zz[k] < 0 else 0)
                            break
                        sc.enc.encode(astats[base + 1], 0)
                        base += 3
                        k += 1
                    k += 1
                unit += 1
        return sc.finish()

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    sof_body = (
        bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([ncomp])
    )
    for ci in range(ncomp):
        h_i, v_i = factors[ci]
        sof_body += bytes([ci + 1, (h_i << 4) | v_i, 0])
    out += seg(0xCA, sof_body)
    dac_body = b""
    for t in sorted(set(tids)):
        dac_body += bytes([t, (cond[1] << 4) | cond[0]])
        dac_body += bytes([0x10 | t, kx])
    out += seg(0xCC, dac_body)
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))

    out += sos_header(list(range(ncomp)), 0, 0, 0, dc_al)
    out += dc_scan(dc_al, refine=False)
    for a in range(dc_al - 1, -1, -1):
        out += sos_header(list(range(ncomp)), 0, 0, a + 1, a)
        out += dc_scan(a, refine=True)
    for ci in range(ncomp):
        for ss, se in bands:
            out += sos_header([ci], ss, se, 0, ac_al)
            out += ac_first_scan(ci, ss, se, ac_al)
    for a in range(ac_al - 1, -1, -1):
        for ci in range(ncomp):
            for ss, se in bands:
                out += sos_header([ci], ss, se, a + 1, a)
                out += ac_refine_scan(ci, ss, se, a)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------ lossless JPEG (SOF3 / SOF11)
# ITU T.81 Annex H: no DCT — each sample is predicted from its decoded
# neighbors (one of seven predictors, selected per scan via the Ss
# field) and the prediction DIFFERENCE is entropy-coded, modulo-2^16.
# SOF3 codes the difference with a DC Huffman table (category SSSS +
# raw magnitude bits, EXTEND; SSSS=16 means exactly 32768, no bits);
# SOF11 codes it through the SAME QM coder as the DCT paths with a
# DC-style decision tree conditioned on the classified differences at
# the LEFT and ABOVE positions (5x5 = 25 contexts, two magnitude
# ladders selected by the above-neighbor's class — T.81 H.1.2.2's
# statistical model, reusing Annex F's zero/sign/magnitude/mantissa
# tree shape verbatim). Boundary rules (H.1.1): the first sample codes
# against 2^(P - Pt - 1); the rest of the first line predicts from Ra,
# a line start predicts from Rb. After a restart marker the coder,
# statistics, and context classes reset and the next sample of each
# component codes against the default prediction (the spec's
# start-of-scan state); later samples resume positional rules over the
# already-reconstructed neighborhood. Encoder twins share the exact
# state machine, so decode(encode(px)) == px is structural — and the
# whole path is LOSSLESS, so the pixel-stats oracle needs no
# block-constant fixture trick: arbitrary per-pixel formulas survive.

_LL_LADDER1 = 100  # X1 of the small-|Db| magnitude ladder (M at +14)
_LL_LADDER2 = 129  # X1 of the large-|Db| ladder
_LL_BINS = 158  # 25 contexts x 4 decision bins + two 29-bin ladders


def _ll_fresh_stats(tables) -> dict:
    return {t: [[0, 0] for _ in range(_LL_BINS)] for t in tables}


def _ll_predict_sel(psel: int, ra: int, rb: int, rc: int) -> int:
    """T.81 Table H.1 predictors 1..7."""
    if psel == 1:
        return ra
    if psel == 2:
        return rb
    if psel == 3:
        return rc
    if psel == 4:
        return ra + rb - rc
    if psel == 5:
        return ra + ((rb - rc) >> 1)
    if psel == 6:
        return rb + ((ra - rc) >> 1)
    if psel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"lossless predictor selector {psel} not in 1..7")


def _ll_class(diff_is_zero: bool, m: int, sign: int, cond) -> int:
    """5-way (zero / ±small / ±large) classification of a coded
    difference from its decoded MSB magnitude ``m`` — the identical
    rule the sequential-DC model applies to its conditioning context
    (same (L, U) DAC bounds), reused here to classify Da and Db."""
    low, up = cond
    if diff_is_zero or m < (1 << low):
        return 0
    if m > (1 << up):
        return 3 + sign
    return 1 + sign


class _LLCompState:
    """Per-component lossless scan state: reconstructed rows for the
    positional predictors, plus the (left, above) difference classes
    that form the arithmetic conditioning context. Shared verbatim by
    decoder and encoder so the two walks cannot diverge.

    ``differential=True`` is the hierarchical-mode variant (T.81 Annex
    J frames SOF7/SOF15): no spatial prediction at all — every sample
    codes its value directly (the value IS the difference against the
    upsampled reference frame, added back outside the scan), while the
    (Da, Db) arithmetic conditioning classes work unchanged over the
    coded differences."""

    def __init__(
        self, width: int, height: int, default: int, differential: bool = False
    ):
        self.w = width
        self.h = height
        self.default = default
        self.differential = differential
        self.prev: list | None = None
        self.cur: list = []
        self.rows: list = []
        self.cls_above = [0] * width
        self.cls_left = 0
        self.y = 0
        self.fresh = True  # next sample codes against the default

    def context(self, x: int) -> tuple[int, bool]:
        da = self.cls_left if x > 0 else 0
        db = self.cls_above[x]
        return 5 * da + db, db >= 3

    def predict(self, x: int, psel: int) -> int:
        if self.differential:
            return 0  # Annex J: no prediction in differential frames
        if self.fresh:
            return self.default
        if self.y == 0:
            return self.cur[x - 1]  # first line: Ra
        if x == 0:
            return self.prev[0]  # line start: Rb
        return _ll_predict_sel(
            psel, self.cur[x - 1], self.prev[x], self.prev[x - 1]
        )

    def push(self, x: int, sample: int, cls: int) -> None:
        self.fresh = False
        self.cur.append(sample)
        self.cls_left = cls
        self.cls_above[x] = cls
        if x == self.w - 1:
            self.rows.append(self.cur)
            self.prev = self.cur
            self.cur = []
            self.y += 1
            self.cls_left = 0

    def reset_restart(self) -> None:
        self.cls_above = [0] * self.w
        self.cls_left = 0
        self.fresh = True


class _LLGridState:
    """2D-addressable variant of _LLCompState for SUBSAMPLED
    interleaved lossless scans (T.81 H.2): MCU order visits a
    component's plane in (v, h) sub-blocks, so samples do NOT arrive
    row-major and neighbors must be addressed absolutely. Semantics
    mirror _LLCompState exactly — default prediction for the first
    sample of the scan and for the first sample after a restart,
    first-line Ra, line-start Rb, positional predictors over
    reconstructed neighbors, and (Da, Db) class context where a
    neighbor's class counts only if it was coded in the CURRENT
    restart segment (the sequential state zeroes its class arrays at
    every restart) — shared by decoder and encoder so the walks
    cannot diverge."""

    def __init__(
        self, width: int, height: int, default: int, differential: bool = False
    ):
        self.w = width
        self.h = height
        self.default = default
        self.differential = differential
        self.grid = [[0] * width for _ in range(height)]
        self.cls = [[0] * width for _ in range(height)]
        self.seg = [[-1] * width for _ in range(height)]  # restart epoch
        self.cur_seg = 0
        self.fresh = True

    def context(self, r: int, c: int) -> tuple[int, bool]:
        da = (
            self.cls[r][c - 1]
            if c > 0 and self.seg[r][c - 1] == self.cur_seg
            else 0
        )
        db = (
            self.cls[r - 1][c]
            if r > 0 and self.seg[r - 1][c] == self.cur_seg
            else 0
        )
        return 5 * da + db, db >= 3

    def predict(self, r: int, c: int, psel: int) -> int:
        if self.differential:
            return 0
        if self.fresh:
            return self.default
        if r == 0:
            return self.grid[0][c - 1]  # first line: Ra
        if c == 0:
            return self.grid[r - 1][0]  # line start: Rb
        return _ll_predict_sel(
            psel, self.grid[r][c - 1], self.grid[r - 1][c], self.grid[r - 1][c - 1]
        )

    def push(self, r: int, c: int, sample: int, cls: int) -> None:
        self.fresh = False
        self.grid[r][c] = sample
        self.cls[r][c] = cls
        self.seg[r][c] = self.cur_seg

    def reset_restart(self) -> None:
        self.cur_seg += 1
        self.fresh = True


def _ll_decode_diff(dec, st, ci25: int, big_db: bool):
    """One lossless difference off the QM decoder: zero/sign/Sz>0 in
    the (Da, Db) context's 4-bin group, magnitude up the Db-selected
    ladder, mantissa from the matching M bin. Returns (diff, is_zero,
    m, sign) — the last three feed _ll_class."""
    base = 4 * ci25
    if dec.decode(st[base]) == 0:
        return 0, True, 0, 0
    sign = dec.decode(st[base + 1])
    m = dec.decode(st[base + 2 + sign])
    xb = _LL_LADDER2 if big_db else _LL_LADDER1
    if m:
        while dec.decode(st[xb]):
            m <<= 1
            xb += 1
            if m == 0x8000:
                raise ValueError("JPEG lossless magnitude overflow")
    v = m
    if m:
        mbin = st[xb + 14]
        mm = m >> 1
        while mm:
            if dec.decode(mbin):
                v |= mm
            mm >>= 1
    v += 1
    return (-v if sign else v), False, m, sign


def _ll_encode_diff(enc, st, ci25: int, big_db: bool, diff: int):
    base = 4 * ci25
    if diff == 0:
        enc.encode(st[base], 0)
        return True, 0, 0
    enc.encode(st[base], 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st[base + 1], sign)
    sz = (diff if diff > 0 else -diff) - 1
    spb = st[base + 2 + sign]
    xb = _LL_LADDER2 if big_db else _LL_LADDER1
    m = 0
    if sz == 0:
        enc.encode(spb, 0)
    else:
        enc.encode(spb, 1)
        m = 1
        msb = 1 << (sz.bit_length() - 1)
        while m < msb:
            enc.encode(st[xb], 1)
            m <<= 1
            xb += 1
        enc.encode(st[xb], 0)
    if m:
        mbin = st[xb + 14]
        mm = m >> 1
        while mm:
            enc.encode(mbin, 1 if sz & mm else 0)
            mm >>= 1
    return False, m, sign


def _ll_scan_geometry(frame, order):
    """Scan-component indices, per-component plane dims, and — for a
    SUBSAMPLED interleaved scan (T.81 H.2, r10: previously a named
    raise) — the MCU geometry: returns (idxs, dims, mcu) where mcu is
    None for the 1x1 / non-interleaved sample walk, else
    (mcux, mcuy, factors) with each MCU carrying h_i x v_i samples per
    component and plane dims PADDED to the MCU grid (the data unit is
    one sample, so mcux = ceil(w / hmax); the assembler's crop drops
    the padding)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    idxs = [next(i for i, c in enumerate(comps) if c["id"] == cid) for cid in order]
    if len(order) > 1 and (hmax != 1 or vmax != 1):
        mcux = -(-frame["w"] // hmax)
        mcuy = -(-frame["h"] // vmax)
        factors = [(comps[ci]["h"], comps[ci]["v"]) for ci in idxs]
        dims = [(mcux * h_i, mcuy * v_i) for (h_i, v_i) in factors]
        return idxs, dims, (mcux, mcuy, factors)
    dims = []
    for ci in idxs:
        c = comps[ci]
        dims.append(
            (-(-frame["w"] * c["h"] // hmax), -(-frame["h"] * c["v"] // vmax))
        )
    return idxs, dims, None


def _jpeg_lossless_scan(
    payload, start, frame, order, scan, dc_cond, huff,
    restart_interval, planes, psel, pt,
):
    """One lossless scan (arithmetic SOF11 or Huffman SOF3, chosen by
    frame['arith']) into ``planes[comp_index]``; returns the payload
    position of the next marker. Differences live modulo 2^16 (signed
    window [-32768, 32767]); reconstruction adds back modulo 2^16.
    ``frame['differential']`` decodes a hierarchical SOF7/SOF15 scan:
    same entropy machinery, zero prediction, and the stored plane IS
    the mod-2^16 difference signal the caller adds to its reference."""
    import numpy as np

    comps = frame["comps"]
    prec = frame.get("prec", 8)
    default = 1 << (prec - pt - 1)
    diff_mode = bool(frame.get("differential"))
    idxs, dims, mcu_geom = _ll_scan_geometry(frame, order)
    conds = [dc_cond.get(scan[cid][0], (0, 1)) for cid in order]
    arith = frame.get("arith")
    bits = dec = stats = tabs = None
    if arith:
        tabs = {scan[cid][0] for cid in order}
        bits = _ArithBits(payload, start)
        dec = _QMDecoder(bits)
        stats = _ll_fresh_stats(tabs)
    else:
        reader = _BitReader(payload, start)
        tables = [huff[(0, scan[cid][0])] for cid in order]
    rst = 0

    def sync_restart() -> None:
        nonlocal bits, dec, stats, rst
        if arith:
            nxt = _arith_sync_restart(payload, bits, rst)
            bits = _ArithBits(payload, nxt)
            dec = _QMDecoder(bits)
            stats = _ll_fresh_stats(tabs)
        else:
            reader.sync_restart(rst)
        rst = (rst + 1) % 8

    def next_diff(k: int, cid, ci25: int, big: bool):
        if arith:
            diff, dz, m, sign = _ll_decode_diff(
                dec, stats[scan[cid][0]], ci25, big
            )
            return diff, _ll_class(dz, m, sign, conds[k])
        ssss = reader.decode_symbol(tables[k])
        if ssss == 16:  # spec special case: no extra bits
            return 32768, 0
        return _jpeg_extend(reader.read_bits(ssss), ssss), 0

    mcu = 0
    if mcu_geom is not None:
        # SUBSAMPLED interleaved scan (T.81 H.2, r10): each MCU carries
        # h_i x v_i samples per component; prediction/context address
        # the component plane absolutely (the 2D grid state)
        mcux, mcuy, factors = mcu_geom
        gstates = [_LLGridState(w_, h_, default, diff_mode) for (w_, h_) in dims]
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    sync_restart()
                    for s in gstates:
                        s.reset_restart()
                for k, cid in enumerate(order):
                    s = gstates[k]
                    h_i, v_i = factors[k]
                    for v in range(v_i):
                        for hh in range(h_i):
                            r = my * v_i + v
                            c = mx * h_i + hh
                            ci25, big = (
                                s.context(r, c) if arith else (0, False)
                            )
                            diff, cls = next_diff(k, cid, ci25, big)
                            sample = (s.predict(r, c, psel) + diff) & 0xFFFF
                            s.push(r, c, sample, cls)
                mcu += 1
        for k, ci in enumerate(idxs):
            planes[ci] = np.array(gstates[k].grid, dtype=np.int64)
    else:
        wdt, hgt = dims[0]
        states = [_LLCompState(w_, h_, default, diff_mode) for (w_, h_) in dims]
        for y in range(hgt):
            for x in range(wdt):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    sync_restart()
                    for s in states:
                        s.reset_restart()
                for k, cid in enumerate(order):
                    s = states[k]
                    ci25, big = s.context(x) if arith else (0, False)
                    diff, cls = next_diff(k, cid, ci25, big)
                    sample = (s.predict(x, psel) + diff) & 0xFFFF
                    s.push(x, sample, cls)
                mcu += 1
        for k, ci in enumerate(idxs):
            planes[ci] = np.array(states[k].rows, dtype=np.int64)
    if arith:
        return _arith_next_marker(payload, bits)
    # Huffman: skip any unconsumed stuffed pairs, land on the marker
    p = reader.pos
    while p + 1 < len(payload) and payload[p] == 0xFF and payload[p + 1] == 0x00:
        p += 2
    while p + 1 < len(payload) and payload[p] != 0xFF:
        p += 1
    return p


def _jpeg_ll_assemble(frame, planes, pt: int) -> dict:
    """Final lossless stage: shift the point transform back in, upsample
    subsampled components by sample replication (interleaved scans —
    whose planes arrive MCU-padded from the grid walk — and
    non-interleaved alike; the crop drops any padding), and emit.
    T.81 defines no color transform for lossless — 3 components are
    emitted as-is (RGB by convention); precision > 8 packs big-endian
    16-bit samples."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    prec = frame.get("prec", 8)
    full = []
    for ci, c in enumerate(comps):
        if ci not in planes:
            raise ValueError("lossless JPEG frame is missing a component scan")
        p = planes[ci] << pt
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    arr = full[0] if len(comps) == 1 else np.stack(full, axis=-1)
    pix = arr.astype(np.uint8) if prec <= 8 else arr.astype(">u2")
    return {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": len(comps),
        "pixels": pix.tobytes(),
    }


#: canonical DC Huffman table covering difference categories 0..16 —
#: 2 codes of length 3, one per length 4..15, 3 at the spec's 16-bit
#: ceiling (Kraft sum 0.375 + 2^-16: a valid canonical layout; encoder
#: and DHT segment share it, the decoder reads whatever DHT declares)
_LL_HUFF_BITS = [0, 0, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 3]
_LL_HUFF_SYMS = bytes(range(17))


def _ll_encode_scan(
    plane_rows,
    width: int,
    height: int,
    comp_ids,
    predictor: int,
    restart_interval: int,
    arith: bool,
    default: int,
    differential: bool = False,
) -> bytes:
    """Entropy bytes of ONE lossless scan over ``plane_rows`` (indexed
    by ``comp_ids``) — the encoder half of _jpeg_lossless_scan's state
    machine, shared by :func:`encode_jpeg_lossless` and the
    hierarchical writer. ``differential=True`` codes mod-2^16
    difference planes with zero prediction (Annex J SOF7/SOF15)."""
    hcodes = _canonical_codes(_LL_HUFF_BITS, _LL_HUFF_SYMS)
    states = [
        _LLCompState(width, height, default, differential) for _ in comp_ids
    ]
    entropy = bytearray()
    if arith:
        enc = _QMEncoder()
        stats = _ll_fresh_stats({0})
    else:
        writer = _BitWriter()
    rst = 0
    mcu = 0
    for y in range(height):
        for x in range(width):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if arith:
                    entropy += _pack_arith_bits(enc.flush())
                    enc = _QMEncoder()
                    stats = _ll_fresh_stats({0})
                else:
                    writer.pad()
                    entropy += writer.buf
                    writer = _BitWriter()
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                for s in states:
                    s.reset_restart()
            for k, c in enumerate(comp_ids):
                s = states[k]
                sample = plane_rows[c][y][x]
                dm = (sample - s.predict(x, predictor)) & 0xFFFF
                diff = dm - 0x10000 if dm >= 0x8000 else dm
                if arith:
                    ci25, big = s.context(x)
                    dz, m, sign = _ll_encode_diff(
                        enc, stats[0], ci25, big, diff
                    )
                    cls = _ll_class(dz, m, sign, (0, 1))
                else:
                    if diff == 32768:
                        ssss = 16
                    else:
                        ssss = abs(diff).bit_length()
                    length, code = hcodes[ssss]
                    writer.put(code, length)
                    if 0 < ssss < 16:
                        v = diff if diff >= 0 else diff + (1 << ssss) - 1
                        writer.put(v & ((1 << ssss) - 1), ssss)
                    cls = 0
                s.push(x, sample, cls)
            mcu += 1
    if arith:
        entropy += _pack_arith_bits(enc.flush())
    else:
        writer.pad()
        entropy += writer.buf
    return bytes(entropy)


def _ll_encode_scan_mcu(
    plane_rows,
    factors,
    mcux: int,
    mcuy: int,
    predictor: int,
    restart_interval: int,
    arith: bool,
    default: int,
) -> bytes:
    """Entropy bytes of ONE SUBSAMPLED interleaved lossless scan
    (T.81 H.2, r10) — the encoder mirror of the decoder's MCU walk:
    each MCU carries h_i x v_i samples per component in order, and
    prediction/context address the component plane absolutely through
    the SAME _LLGridState the decoder runs, so the walks cannot
    diverge. ``plane_rows[k]`` is component k's plane at its OWN
    (padded) resolution, scan order."""
    hcodes = _canonical_codes(_LL_HUFF_BITS, _LL_HUFF_SYMS)
    states = [
        _LLGridState(mcux * h_i, mcuy * v_i, default) for (h_i, v_i) in factors
    ]
    entropy = bytearray()
    if arith:
        enc = _QMEncoder()
        stats = _ll_fresh_stats({0})
    else:
        writer = _BitWriter()
    rst = 0
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if arith:
                    entropy += _pack_arith_bits(enc.flush())
                    enc = _QMEncoder()
                    stats = _ll_fresh_stats({0})
                else:
                    writer.pad()
                    entropy += writer.buf
                    writer = _BitWriter()
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                for s in states:
                    s.reset_restart()
            for k, (h_i, v_i) in enumerate(factors):
                s = states[k]
                for v in range(v_i):
                    for hh in range(h_i):
                        r = my * v_i + v
                        c = mx * h_i + hh
                        sample = plane_rows[k][r][c]
                        dm = (sample - s.predict(r, c, predictor)) & 0xFFFF
                        diff = dm - 0x10000 if dm >= 0x8000 else dm
                        if arith:
                            ci25, big = s.context(r, c)
                            dz, m, sign = _ll_encode_diff(
                                enc, stats[0], ci25, big, diff
                            )
                            cls = _ll_class(dz, m, sign, (0, 1))
                        else:
                            if diff == 32768:
                                ssss = 16
                            else:
                                ssss = abs(diff).bit_length()
                            length, code = hcodes[ssss]
                            writer.put(code, length)
                            if 0 < ssss < 16:
                                v_ = diff if diff >= 0 else diff + (1 << ssss) - 1
                                writer.put(v_ & ((1 << ssss) - 1), ssss)
                            cls = 0
                        s.push(r, c, sample, cls)
            mcu += 1
    if arith:
        entropy += _pack_arith_bits(enc.flush())
    else:
        writer.pad()
        entropy += writer.buf
    return bytes(entropy)


# ------------------- hierarchical JPEG (Annex J, SOF5/7/13/15)
# T.81 hierarchical mode: a DHP segment (SOF syntax) declares the
# full-resolution geometry, the FIRST frame is a non-differential frame
# at reduced resolution, and each following EXP + differential frame
# doubles the reference with the J.1.1.2 bilinear filter and adds a
# coded difference signal. Implemented end to end: the LOSSLESS
# pyramid (SOF3/SOF11 base + SOF7/SOF15 differential refinements,
# bit-exact on arbitrary samples — per-pixel-formula fixtures hash-
# gate the whole pyramid) and the sequential DCT pyramid (SOF0/SOF9
# base + SOF5/SOF13 differential, grayscale, no level shift in
# differential frames, rounded+clamped reference folds; the encoder
# is CLOSED-LOOP — each frame's reference is its own decoded
# reconstruction) and, since r10, the PROGRESSIVE DCT pyramid
# (SOF2/SOF10 base + SOF6/SOF14 differential — the same quantized
# blocks and closed loop, entropy-coded as per-frame DC + AC-first
# scan scripts), BOTH DCT modes at ANY channel count (components are
# raw planes — no color transform, the lossless-pyramid assembler
# contract). A nonzero point transform in a hierarchical lossless
# scan raises a named contract error (the spec allows it; a silent
# wrong decode would be worse).


def _jpeg_hier_upsample(plane, eh: int, ev: int):
    """T.81 J.1.1.2 reference expansion: x2 per flagged dimension —
    even output samples copy the input, odd ones interpolate
    ``(left + right + 1) >> 1`` with the final odd sample replicating
    the edge; vertical expansion applies the same filter to columns.
    Integer-exact and shared by encoder and decoder, so the two
    pyramids cannot diverge."""
    import numpy as np

    p = np.asarray(plane, dtype=np.int64)
    if eh:
        h_, w_ = p.shape
        out = np.empty((h_, 2 * w_), dtype=np.int64)
        out[:, 0::2] = p
        if w_ > 1:
            out[:, 1:-1:2] = (p[:, :-1] + p[:, 1:] + 1) >> 1
        out[:, -1] = p[:, -1]
        p = out
    if ev:
        h_, w_ = p.shape
        out = np.empty((2 * h_, w_), dtype=np.int64)
        out[0::2, :] = p
        if h_ > 1:
            out[1:-1:2, :] = (p[:-1, :] + p[1:, :] + 1) >> 1
        out[-1, :] = p[-1, :]
        p = out
    return p


def _decode_jpeg_hierarchical(payload: bytes) -> dict:
    """Hierarchical (Annex J) JPEG decode: walks the post-DHP marker
    stream, decodes the non-differential base frame (lossless SOF3/11
    with the Annex-H machinery, or sequential DCT SOF0/1/9, or
    progressive DCT SOF2/10 — grayscale DCT pyramids), applies each
    EXP expansion to the reference, adds each differential frame's
    difference planes (lossless SOF7/15 mod 2^16; DCT SOF5/13 and
    progressive SOF6/14 rounded and clamped to precision — the encoder
    twin shares all the rules), and assembles the final
    full-resolution image from the DHP geometry. Progressive frames
    accumulate coefficients across their scans and materialize at
    frame fold. Both DCT modes decode at any channel count (raw
    planes, no color transform)."""
    import numpy as np

    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    hier = None
    frame = None
    planes: dict = {}
    restart_interval = 0
    ref: dict[int, "np.ndarray"] = {}  # component id -> reference plane
    pending_exp = (0, 0)
    hcoeff = None  # progressive frames: per-component coeff accumulators

    def parse_sof(seg: bytes) -> dict:
        h = int.from_bytes(seg[1:3], "big")
        w = int.from_bytes(seg[3:5], "big")
        comps = []
        for k in range(seg[5]):
            cid, samp, tq = seg[6 + 3 * k : 9 + 3 * k]
            comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "tq": tq})
        return {"w": w, "h": h, "prec": seg[0], "comps": comps}

    def fold_frame() -> None:
        nonlocal frame, planes, ref, pending_exp, hcoeff
        if frame is None:
            return
        comps = frame["comps"]
        dct = not frame.get("lossless")
        if frame.get("progressive"):
            # progressive frames accumulate COEFFICIENTS across scans;
            # the plane materializes once, at frame fold — per-block
            # IDCT with the level shift honoring `differential` (the
            # same arithmetic rule the closed-loop encoder replays)
            if hcoeff is None:
                raise ValueError(
                    "hierarchical progressive frame without any scan"
                )
            shift = 0.0 if frame.get("differential") else 128.0
            for ci, c in enumerate(comps):
                planes[ci] = _hier_coeff_plane(hcoeff[ci], qt[c["tq"]], shift)
            hcoeff = None
        for ci in range(len(comps)):
            if ci not in planes:
                raise ValueError("hierarchical frame is missing a component scan")
        if dct:
            # DCT planes come back MCU-padded floats: round, clamp to
            # precision, crop to the frame's component dims
            lim = (1 << frame.get("prec", 8)) - 1
            for ci, c in enumerate(comps):
                hgt = -(-frame["h"] * c["v"] // max(x["v"] for x in comps))
                wdt = -(-frame["w"] * c["h"] // max(x["h"] for x in comps))
                p = planes[ci][:hgt, :wdt]
                if not frame.get("differential"):
                    p = np.clip(np.rint(p), 0, lim)
                planes[ci] = p
        if not frame.get("differential"):
            ref = {
                c["id"]: np.asarray(planes[ci], dtype=np.int64)
                for ci, c in enumerate(comps)
            }
        else:
            eh, ev = pending_exp
            lim = (1 << frame.get("prec", 8)) - 1
            for ci, c in enumerate(comps):
                if c["id"] not in ref:
                    raise ValueError(
                        "differential frame before any reference frame"
                    )
                base = ref[c["id"]]
                if eh or ev:
                    base = _jpeg_hier_upsample(base, eh, ev)
                hgt, wdt = planes[ci].shape
                if base.shape[0] < hgt or base.shape[1] < wdt:
                    raise ValueError(
                        "hierarchical reference smaller than differential frame"
                    )
                if dct:
                    # rounded difference added to the reference, clamped
                    # to precision (the rule the encoder twin replays)
                    ref[c["id"]] = np.clip(
                        base[:hgt, :wdt] + np.rint(planes[ci]).astype(np.int64),
                        0, lim,
                    )
                else:
                    ref[c["id"]] = (base[:hgt, :wdt] + planes[ci]) & 0xFFFF
        pending_exp = (0, 0)
        frame = None
        planes = {}

    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDE:  # DHP
            hier = parse_sof(seg)
        elif marker == 0xDF:  # EXP: applies to the NEXT frame's reference
            fold_frame()
            pending_exp = (seg[0] >> 4, seg[0] & 0x0F)
        elif marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                prec_q, tid = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if prec_q:
                    vals = [
                        int.from_bytes(seg[j + 2 * k : j + 2 * k + 2], "big")
                        for k in range(64)
                    ]
                    j += 128
                else:
                    vals = list(seg[j : j + 64])
                    j += 64
                tbl = np.zeros(64, dtype=np.float64)
                for s, b in enumerate(_ZIGZAG):
                    tbl[b] = vals[s]
                qt[tid] = tbl.reshape(8, 8)
        elif marker in (0xC3, 0xCB, 0xC7, 0xCF):
            fold_frame()
            frame = parse_sof(seg)
            frame["lossless"] = True
            frame["arith"] = marker in (0xCB, 0xCF)
            frame["differential"] = marker in (0xC7, 0xCF)
        elif marker in (0xC0, 0xC1, 0xC9, 0xC5, 0xCD):
            # sequential DCT frames: base (SOF0/1/9) and differential
            # (SOF5/13) — any channel count since r10 (components are
            # RAW planes stacked by the assembler, no color transform;
            # the interleaved scan decoders already handle the MCU
            # geometry)
            fold_frame()
            frame = parse_sof(seg)
            frame["lossless"] = False
            frame["arith"] = marker in (0xC9, 0xCD)
            frame["differential"] = marker in (0xC5, 0xCD)
        elif marker in (0xC2, 0xC6, 0xCA, 0xCE):
            # progressive DCT frames: base (SOF2/10) and differential
            # (SOF6/14) — any channel count since r10 (components are
            # RAW planes stacked by the assembler, same as the
            # sequential branch; multimodal_hierarchical_color_stats
            # exercises 3-channel progressive pyramids)
            fold_frame()
            frame = parse_sof(seg)
            frame["lossless"] = False
            frame["progressive"] = True
            frame["arith"] = marker in (0xCA, 0xCE)
            frame["differential"] = marker in (0xC6, 0xCE)
        elif marker == 0xCC:  # DAC
            j = 0
            while j + 1 < len(seg):
                tc, tb = seg[j] >> 4, seg[j] & 0x0F
                if tc == 0:
                    dc_cond[tb] = (seg[j + 1] & 0x0F, seg[j + 1] >> 4)
                else:
                    ac_cond[tb] = seg[j + 1]
                j += 2
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nsym = sum(bits)
                huff[(tc, th)] = _HuffTable(bits, seg[j + 17 : j + 17 + nsym])
                j += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("hierarchical SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for k in range(ns):
                cid, tabs = seg[1 + 2 * k : 3 + 2 * k]
                scan[cid] = (tabs >> 4, tabs & 0x0F)
                order.append(cid)
            ss, a = seg[1 + 2 * ns], seg[3 + 2 * ns]
            if frame.get("lossless"):
                if a & 0x0F:
                    raise NotImplementedError(
                        "hierarchical lossless JPEG with a nonzero point "
                        "transform"
                    )
                i = _jpeg_lossless_scan(
                    payload, i + 2 + seg_len, frame, order, scan,
                    dc_cond, huff, restart_interval, planes, ss, 0,
                )
                continue
            for c in frame["comps"]:
                if c["tq"] not in qt:
                    raise ValueError(
                        "hierarchical DCT scan references an undeclared "
                        "quantization table"
                    )
            if frame.get("progressive"):
                se_ = seg[2 + 2 * ns]
                if hcoeff is None:
                    hcoeff = _jpeg_alloc_coeff(frame)
                band = (ss, se_, a >> 4, a & 0x0F)
                if frame.get("arith"):
                    i = _jpeg_arith_progressive_scan(
                        payload, i + 2 + seg_len, frame, order, scan,
                        dc_cond, ac_cond, restart_interval, hcoeff, band,
                    )
                else:
                    i = _jpeg_progressive_scan(
                        payload, i + 2 + seg_len, frame, order, scan,
                        huff, restart_interval, hcoeff, band,
                    )
                continue
            if frame.get("arith"):
                scan_planes, i = _jpeg_arith_scan(
                    payload, i + 2 + seg_len, frame, scan, qt,
                    dc_cond, ac_cond, restart_interval, as_planes=True,
                )
            else:
                scan_planes, i = _jpeg_scan(
                    payload, i + 2 + seg_len, frame, scan, qt, huff,
                    restart_interval, as_planes=True,
                )
            for ci, p in enumerate(scan_planes):
                planes[ci] = p
            continue
        i += 2 + seg_len
    fold_frame()
    if hier is None or not ref:
        raise ValueError("hierarchical JPEG without DHP geometry or frames")
    w, h, comps = hier["w"], hier["h"], hier["comps"]
    full = []
    for c in comps:
        if c["id"] not in ref:
            raise ValueError("hierarchical stream is missing a component")
        p = ref[c["id"]]
        if p.shape[0] < h or p.shape[1] < w:
            raise ValueError("hierarchical pyramid never reached full resolution")
        full.append(p[:h, :w])
    arr = full[0] if len(comps) == 1 else np.stack(full, axis=-1)
    prec = hier.get("prec", 8)
    pix = arr.astype(np.uint8) if prec <= 8 else arr.astype(">u2")
    return {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": len(comps),
        "pixels": pix.tobytes(),
    }


def _hier_gray_blocks(plane, quant: int, shift: float):
    """Quantized zigzag DCT blocks of one grayscale float plane (edge-
    padded to the 8-grid): the _jpeg_prepare core without the color /
    subsampling machinery, with the LEVEL SHIFT as a dial (0.0 for
    differential frames). Returns int64 (bh, bw, 64)."""
    import numpy as np

    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    full = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    basis = _dct_basis()
    sp = (full - shift).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    co = np.einsum("ab,ijbc,cd->ijad", basis, sp, basis.T)
    qz = np.rint(co / float(quant)).astype(np.int64).reshape(bh, bw, 64)
    return qz[:, :, _ZIGZAG]


def _hier_blocks_plane(blocks, quant: int, shift: float):
    """Decode quantized zigzag blocks back to the float plane with the
    EXACT per-block arithmetic the decoder runs (same matmul per 8x8
    block — a batched einsum could associate differently in the last
    ulp): the closed-loop reference both hierarchical DCT sides share."""
    import numpy as np

    bh, bw, _ = blocks.shape
    basis = _dct_basis()
    out = np.empty((bh * 8, bw * 8), dtype=np.float64)
    q = float(quant)
    for by in range(bh):
        for bx in range(bw):
            blk = np.zeros(64, dtype=np.float64)
            for s, b in enumerate(_ZIGZAG):
                blk[b] = blocks[by, bx, s]
            blk = blk.reshape(8, 8) * q
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                basis.T @ blk @ basis + shift
            )
    return out


def _hier_coeff_plane(arr, q, shift: float):
    """Dequantize + IDCT one component's accumulated PROGRESSIVE
    coefficients (natural-order (bh, bw, 64) from _jpeg_alloc_coeff)
    with the decoder's exact per-block arithmetic — the
    _hier_blocks_plane rule (a batched einsum could associate
    differently in the last ulp) — and the level shift as a dial (0.0
    for differential frames). ``q`` is the natural-layout 8x8
    dequantization table."""
    import numpy as np

    bh, bw = arr.shape[:2]
    basis = _dct_basis()
    out = np.empty((bh * 8, bw * 8), dtype=np.float64)
    for by in range(bh):
        for bx in range(bw):
            blk = arr[by, bx].astype(np.float64).reshape(8, 8) * q
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                basis.T @ blk @ basis + shift
            )
    return out


def _hier_seq_entropy_huff(blocks, restart_interval: int) -> bytes:
    """Sequential-Huffman entropy body — the encode_jpeg_baseline inner
    loop on a SHARED 1x1-sampling grid: ``blocks`` is one (bh, bw, 64)
    zigzag array (grayscale) or a list of per-component arrays
    (multi-component pyramids, r10 — MCU = one block of each component
    in order, every component on Huffman table 0, per-component DC
    predictions). Shared constants, restart resets included."""
    comps = list(blocks) if isinstance(blocks, (list, tuple)) else [blocks]
    dc_enc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
    ac_enc = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_SYMS)
    wtr = _BitWriter()
    put = wtr.put
    pred = [0] * len(comps)
    rst = 0
    mcu_count = 0
    bh, bw, _ = comps[0].shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.pad()
                wtr.buf.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = [0] * len(comps)
            for ci, arr in enumerate(comps):
                zz = arr[by, bx]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                size = abs(diff).bit_length()
                length, code = dc_enc[size]
                put(code, length)
                if size:
                    put(diff if diff >= 0 else diff + (1 << size) - 1, size)
                run = 0
                last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        length, code = ac_enc[0xF0]
                        put(code, length)
                        run -= 16
                    size = abs(v).bit_length()
                    length, code = ac_enc[(run << 4) | size]
                    put(code, length)
                    put(v if v >= 0 else v + (1 << size) - 1, size)
                    run = 0
                if last_nz < 63:
                    length, code = ac_enc[0x00]
                    put(code, length)
            mcu_count += 1
    wtr.pad()
    return bytes(wtr.buf)


def _hier_seq_entropy_arith(blocks, restart_interval: int) -> bytes:
    """Sequential-arithmetic entropy body — the encode_jpeg_arithmetic
    inner loop on a SHARED 1x1-sampling grid with the default
    conditioning (L=0, U=1, Kx=5) and that writer's table convention
    (component 0 on tables 0, the rest on tables 1): ``blocks`` is one
    zigzag array (grayscale) or a per-component list (r10). Restart
    flush/reset included."""
    comps = list(blocks) if isinstance(blocks, (list, tuple)) else [blocks]
    ncomp = len(comps)
    tids = [0] + [1] * (ncomp - 1)
    cond = (0, 1)
    kx = 5
    entropy = bytearray()
    enc = _QMEncoder()
    dc_stats, ac_stats = _fresh_arith_stats(set(tids), set(tids))
    fixed = [113, 0]
    pred = [0] * ncomp
    ctx = [0] * ncomp
    rst = 0
    mcu_count = 0
    bh, bw, _ = comps[0].shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += _pack_arith_bits(enc.flush())
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                enc = _QMEncoder()
                dc_stats, ac_stats = _fresh_arith_stats(set(tids), set(tids))
                pred = [0] * ncomp
                ctx = [0] * ncomp
            for ci, arr in enumerate(comps):
                zz = arr[by, bx]
                dc = int(zz[0])
                _arith_encode_dc(
                    enc, dc_stats[tids[ci]], ctx, ci, dc - pred[ci], cond
                )
                pred[ci] = dc
                _arith_encode_ac(enc, ac_stats[tids[ci]], fixed, zz, kx)
            mcu_count += 1
    entropy += _pack_arith_bits(enc.flush())
    return bytes(entropy)


def _hier_prog_entropy_huff_dc(blocks, restart_interval: int) -> bytes:
    """DC-only Huffman scan body (Ss=0, Se=0, Ah=0, Al=0) — the
    sequential DC loop alone: progressive mode puts DC in its own scan
    (T.81 forbids Ss=0 with Se>0 in progressive frames). ``blocks`` is
    one zigzag array (grayscale) or a per-component list on a shared
    1x1 grid (multi-component pyramids: MCU = one block of each
    component in order, per-component DC predictions, table 0)."""
    comps = list(blocks) if isinstance(blocks, (list, tuple)) else [blocks]
    dc_enc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
    wtr = _BitWriter()
    put = wtr.put
    pred = [0] * len(comps)
    rst = 0
    mcu_count = 0
    bh, bw, _ = comps[0].shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.pad()
                wtr.buf.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = [0] * len(comps)
            for ci, arr in enumerate(comps):
                dc = int(arr[by, bx, 0])
                diff = dc - pred[ci]
                pred[ci] = dc
                size = abs(diff).bit_length()
                length, code = dc_enc[size]
                put(code, length)
                if size:
                    put(diff if diff >= 0 else diff + (1 << size) - 1, size)
            mcu_count += 1
    wtr.pad()
    return bytes(wtr.buf)


def _hier_prog_entropy_huff_ac(blocks, restart_interval: int) -> bytes:
    """AC first scan body (Ss=1, Se=63, Ah=0, Al=0) over zigzag blocks:
    the sequential AC loop — at Al=0 the plain EOB symbol IS the EOBn
    run of one block the progressive decoder consumes, and ZRL/(r,s)
    symbols are shared, so no EOB-run accumulation is needed (runs
    longer than one block are an optional encoder optimization the
    spec does not require)."""
    ac_enc = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_SYMS)
    wtr = _BitWriter()
    put = wtr.put
    rst = 0
    mcu_count = 0
    bh, bw, _ = blocks.shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.pad()
                wtr.buf.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
            zz = blocks[by, bx]
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    length, code = ac_enc[0xF0]
                    put(code, length)
                    run -= 16
                size = abs(v).bit_length()
                length, code = ac_enc[(run << 4) | size]
                put(code, length)
                put(v if v >= 0 else v + (1 << size) - 1, size)
                run = 0
            if last_nz < 63:
                length, code = ac_enc[0x00]  # EOBn, run of 1
                put(code, length)
            mcu_count += 1
    wtr.pad()
    return bytes(wtr.buf)


def _hier_prog_entropy_arith_dc(blocks, restart_interval: int) -> bytes:
    """DC-only arithmetic scan body (Ss=0, Se=0, Ah=0, Al=0): the QM
    coder with per-scan-fresh Annex F statistics and the default
    conditioning, restart flush/reset included. ``blocks`` is one
    zigzag array or a per-component list (the SOF9 table convention:
    component 0 on table 0, the rest on table 1; per-component
    contexts and predictions)."""
    comps = list(blocks) if isinstance(blocks, (list, tuple)) else [blocks]
    ncomp = len(comps)
    tids = [0] + [1] * (ncomp - 1)
    cond = (0, 1)
    entropy = bytearray()
    enc = _QMEncoder()
    dc_stats, _ = _fresh_arith_stats(set(tids), set(tids))
    pred = [0] * ncomp
    ctx = [0] * ncomp
    rst = 0
    mcu_count = 0
    bh, bw, _ = comps[0].shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += _pack_arith_bits(enc.flush())
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                enc = _QMEncoder()
                dc_stats, _ = _fresh_arith_stats(set(tids), set(tids))
                pred = [0] * ncomp
                ctx = [0] * ncomp
            for ci, arr in enumerate(comps):
                dc = int(arr[by, bx, 0])
                _arith_encode_dc(
                    enc, dc_stats[tids[ci]], ctx, ci, dc - pred[ci], cond
                )
                pred[ci] = dc
            mcu_count += 1
    entropy += _pack_arith_bits(enc.flush())
    return bytes(entropy)


def _hier_prog_entropy_arith_ac(blocks, restart_interval: int, kx: int = 5) -> bytes:
    """AC first arithmetic scan body (Ss=1, Se=63, Ah=0, Al=0): the
    shared _arith_ac_first_block Annex G tree per block, per-scan-fresh
    statistics, restart flush/reset included."""
    entropy = bytearray()
    enc = _QMEncoder()
    _, ac_stats = _fresh_arith_stats({0}, {0})
    fixed = [113, 0]
    rst = 0
    mcu_count = 0
    bh, bw, _ = blocks.shape
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += _pack_arith_bits(enc.flush())
                entropy += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                enc = _QMEncoder()
                _, ac_stats = _fresh_arith_stats({0}, {0})
            _arith_ac_first_block(
                enc, ac_stats[0], fixed, blocks[by, bx], 1, 63, 0, kx
            )
            mcu_count += 1
    entropy += _pack_arith_bits(enc.flush())
    return bytes(entropy)


def encode_jpeg_hierarchical(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    levels: int = 2,
    predictor: int = 4,
    restart_interval: int = 0,
    arith: bool = True,
    mode: str = "lossless",
    quant: int = 1,
) -> bytes:
    """Hierarchical JPEG writer (Annex J): decimate the image
    ``levels`` times (every other sample — the downsampling filter is
    the encoder's choice per the spec), code the coarsest level as a
    non-differential frame, then per level emit EXP (x2 both
    dimensions) + a differential frame carrying the residual against
    the upsampled reference.

    ``mode="lossless"`` (default): SOF11/SOF3 base + SOF15/SOF7
    differentials, residuals mod 2^16 — decode(encode(px)) is
    BYTE-IDENTICAL for arbitrary samples because encoder and decoder
    share the upsampling filter and the scan state machine (the
    encode_jpeg_lossless twin contract).

    ``mode="dct"``: SOF9/SOF0 base + SOF13/SOF5
    differentials at flat ``quant``, any channel count (components
    are RAW channel planes coded interleaved on a shared 1x1 grid —
    no color transform, per-component DC predictions) — CLOSED-LOOP: each frame's
    reference is its own DECODED reconstruction (per-block IDCT with
    the decoder's exact arithmetic, rounded and clamped), so the
    encoder never drifts from what the decoder will rebuild;
    differential blocks are DCT-coded without a level shift. On
    block-constant inputs at quant=1 the whole pyramid is bit-exact
    (the established lossy-mode fixture device).

    ``mode="progressive"``: the SAME quantized blocks and closed loop
    as ``mode="dct"``, but every frame is coded PROGRESSIVELY —
    SOF10/SOF2 base + SOF14/SOF6 differentials, each carrying one
    interleaved DC scan (Ss=0, Se=0) then a full-band AC first scan
    (Ss=1, Se=63) per component, all at Ah=Al=0. Progressive coding is a lossless
    reordering of the entropy layer, so the decoded pyramid is
    BYTE-IDENTICAL to the ``mode="dct"`` pyramid of the same image
    (pytest gate)."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if levels < 1:
        raise ValueError("hierarchical coding needs at least one level")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if mode not in ("lossless", "dct", "progressive"):
        raise ValueError("mode must be 'lossless', 'dct' or 'progressive'")
    import numpy as np

    base = np.frombuffer(bytes(pixels), dtype=np.uint8).astype(np.int64)
    base = base.reshape(height, width, channels)
    pyr = [[base[:, :, c] for c in range(channels)]]
    for _ in range(levels):
        pyr.append([p[::2, ::2] for p in pyr[-1]])
    pyr.reverse()  # coarsest first

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def sof_body(w: int, h: int) -> bytes:
        body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        body += bytes([channels])
        for c in range(channels):
            body += bytes([c + 1, 0x11, 0])
        return body

    def sos(
        ss: int,
        se: int = 0,
        ahal: int = 0,
        tids: list | None = None,
        comp_ids: list | None = None,
    ) -> bytes:
        ids = list(range(channels)) if comp_ids is None else comp_ids
        body = bytes([len(ids)])
        for c in ids:
            t = 0 if tids is None else tids[c]
            body += bytes([c + 1, (t << 4) | t])
        return seg(0xDA, body + bytes([ss, se, ahal]))

    if mode in ("dct", "progressive"):
        prog = mode == "progressive"
        tids = [0] + [1] * (channels - 1)  # the SOF9 table convention
        out = bytearray(b"\xff\xd8")
        out += seg(0xDE, sof_body(width, height))  # DHP: full geometry
        out += seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
        if arith:
            dac_body = b""
            for t in sorted(set(tids)):
                dac_body += bytes([t, 0x10])  # DC: (U=1)<<4 | L=0
                dac_body += bytes([0x10 | t, 5])  # AC: Kx=5
            out += seg(0xCC, dac_body)
        else:
            out += seg(
                0xC4,
                bytes([0x00]) + bytes(_JPEG_DC_BITS) + _JPEG_DC_SYMS
                + bytes([0x10]) + bytes(_JPEG_AC_BITS) + _JPEG_AC_SYMS,
            )
        if restart_interval:
            out += seg(0xDD, restart_interval.to_bytes(2, "big"))

        if prog:
            sof_base = 0xCA if arith else 0xC2
            sof_diff = 0xCE if arith else 0xC6

            def frame_scans(blocks) -> bytes:
                # DC scan (all components interleaved), then one
                # full-band AC first scan PER component (progressive AC
                # scans are single-component by spec) — the minimal
                # legal progressive script (a lossless entropy
                # reordering of the sequential stream)
                comps = (
                    list(blocks) if isinstance(blocks, (list, tuple)) else [blocks]
                )
                t = tids if arith else None
                if arith:
                    body = sos(0, 0, 0, t) + _hier_prog_entropy_arith_dc(
                        blocks, restart_interval
                    )
                    for ci, b in enumerate(comps):
                        body += sos(1, 63, 0, t, [ci])
                        body += _hier_prog_entropy_arith_ac(b, restart_interval)
                    return body
                body = sos(0, 0, 0, t) + _hier_prog_entropy_huff_dc(
                    blocks, restart_interval
                )
                for ci, b in enumerate(comps):
                    body += sos(1, 63, 0, t, [ci])
                    body += _hier_prog_entropy_huff_ac(b, restart_interval)
                return body
        else:
            sof_base = 0xC9 if arith else 0xC0
            sof_diff = 0xCD if arith else 0xC5
            entropy_of = (
                _hier_seq_entropy_arith if arith else _hier_seq_entropy_huff
            )

            def frame_scans(blocks) -> bytes:
                return sos(0, 0, 0, tids if arith else None) + entropy_of(
                    blocks, restart_interval
                )

        # per-channel closed loop: components are RAW channel planes
        # (the hierarchical assembler stacks them without any color
        # transform — the lossless-pyramid contract), each quantized,
        # coded, and reconstructed independently on the shared grid
        h0, w0 = pyr[0][0].shape
        blocks = [
            _hier_gray_blocks(pyr[0][c].astype(np.float64), quant, 128.0)
            for c in range(channels)
        ]
        out += seg(sof_base, sof_body(w0, h0))
        out += frame_scans(blocks[0] if channels == 1 else blocks)
        ref = [
            np.clip(
                np.rint(_hier_blocks_plane(b, quant, 128.0)[:h0, :w0]), 0, 255
            ).astype(np.int64)
            for b in blocks
        ]
        for level in pyr[1:]:
            hk, wk = level[0].shape
            ups, blocks = [], []
            for c in range(channels):
                up = _jpeg_hier_upsample(ref[c], 1, 1)[:hk, :wk]
                ups.append(up)
                blocks.append(
                    _hier_gray_blocks((level[c] - up).astype(np.float64), quant, 0.0)
                )
            out += seg(0xDF, bytes([0x11]))  # EXP: x2 both dimensions
            out += seg(sof_diff, sof_body(wk, hk))
            out += frame_scans(blocks[0] if channels == 1 else blocks)
            ref = [
                np.clip(
                    ups[c]
                    + np.rint(
                        _hier_blocks_plane(blocks[c], quant, 0.0)[:hk, :wk]
                    ).astype(np.int64),
                    0,
                    255,
                )
                for c in range(channels)
            ]
        out += b"\xff\xd9"
        return bytes(out)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDE, sof_body(width, height))  # DHP: full geometry
    if arith:
        out += seg(0xCC, bytes([0, 0x10]))
    else:
        out += seg(0xC4, bytes([0x00]) + bytes(_LL_HUFF_BITS) + _LL_HUFF_SYMS)
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))

    comp_ids = list(range(channels))
    cur = pyr[0]
    h0, w0 = cur[0].shape
    out += seg(0xCB if arith else 0xC3, sof_body(w0, h0))
    out += sos(predictor)
    out += _ll_encode_scan(
        [p.tolist() for p in cur], w0, h0, comp_ids, predictor,
        restart_interval, arith, 1 << 7,
    )
    for level in pyr[1:]:
        hk, wk = level[0].shape
        diffs = []
        for c in range(channels):
            up = _jpeg_hier_upsample(cur[c], 1, 1)[:hk, :wk]
            diffs.append(((level[c] - up) & 0xFFFF).tolist())
        out += seg(0xDF, bytes([0x11]))  # EXP: x2 both dimensions
        out += seg(0xCF if arith else 0xC7, sof_body(wk, hk))
        out += sos(0)
        out += _ll_encode_scan(
            diffs, wk, hk, comp_ids, 1, restart_interval, arith,
            1 << 7, differential=True,
        )
        cur = level
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_lossless(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    predictor: int = 4,
    point_transform: int = 0,
    restart_interval: int = 0,
    arith: bool = True,
    interleave: bool = True,
    subsampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Lossless JPEG writer — SOF11 (QM arithmetic, default) or SOF3
    (Huffman) — the synthesis twin closing the codec matrix's last
    cell: decode(encode(px)) must be BYTE-IDENTICAL for arbitrary
    8-bit samples (pytest gate), no block-constant fixture needed.
    ``interleave=False`` writes one scan per component (the
    non-interleaved path real multi-component lossless files use).
    Restart intervals flush + byte-align the entropy coder, emit RSTn,
    and reset statistics and prediction exactly as the decoder does.

    ``subsampling=(hs, vs)`` != (1, 1) (r10 — previously the decoder's
    one named lossless raise) writes the SUBSAMPLED interleaved scan
    of T.81 H.2: component 0 carries the max factors at full
    resolution, components 1+ are DECIMATED ``pixels[::vs, ::hs]``
    (the encoder's downsampling choice, matching the hierarchical
    writer's convention) and each MCU interleaves h_i x v_i samples
    per component. Component 0 round-trips byte-identically; decoded
    chroma is the decimated plane sample-replicated back up, so the
    full round trip is byte-identical exactly when chroma is constant
    on each vs x hs cell (the pytest gate uses both: cell-constant
    full round trips AND plane-exact comparisons on arbitrary
    pixels). Requires 3 channels and an interleaved scan."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    n = width * height
    if len(pixels) != n * channels:
        raise ValueError("pixel buffer does not match dimensions")
    hs, vs = subsampling
    if (hs, vs) != (1, 1):
        if (hs, vs) not in ((2, 1), (1, 2), (2, 2)):
            raise ValueError("subsampling must be (1,1), (2,1), (1,2) or (2,2)")
        if channels != 3 or not interleave:
            raise ValueError(
                "lossless subsampling needs 3 channels and an interleaved scan"
            )
    plane_rows = []
    for c in range(channels):
        rows = [
            [pixels[(y * width + x) * channels + c] >> point_transform
             for x in range(width)]
            for y in range(height)
        ]
        plane_rows.append(rows)

    default = 1 << (8 - point_transform - 1)

    def scan_entropy(comp_ids: list[int]) -> bytes:
        return _ll_encode_scan(
            plane_rows, width, height, comp_ids, predictor,
            restart_interval, arith, default,
        )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    sof_body = (
        bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + bytes([channels])
    )
    factors = [(hs, vs)] + [(1, 1)] * (channels - 1)
    for c in range(channels):
        h_i, v_i = factors[c]
        sof_body += bytes([c + 1, (h_i << 4) | v_i, 0])  # Tq = 0 (unused)
    out += seg(0xCB if arith else 0xC3, sof_body)
    if arith:
        out += seg(0xCC, bytes([0, 0x10]))  # DC conditioning (L=0, U=1)
    else:
        out += seg(
            0xC4, bytes([0x00]) + bytes(_LL_HUFF_BITS) + _LL_HUFF_SYMS
        )
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    if (hs, vs) != (1, 1):
        # subsampled interleaved scan: comp 0 edge-padded to the MCU
        # grid at full resolution, comps 1+ decimated [::vs, ::hs]
        mcux = -(-width // hs)
        mcuy = -(-height // vs)
        p0 = [
            row + [row[-1]] * (mcux * hs - width)
            for row in plane_rows[0]
        ]
        p0 += [p0[-1]] * (mcuy * vs - height)
        sub_rows = [p0] + [
            [row[::hs] for row in plane_rows[c][::vs]]
            for c in range(1, channels)
        ]
        sos_body = bytes([channels])
        for c in range(channels):
            sos_body += bytes([c + 1, 0x00])  # Td = 0 (Ta unused)
        sos_body += bytes([predictor, 0, point_transform])
        out += seg(0xDA, sos_body)
        out += _ll_encode_scan_mcu(
            sub_rows, factors, mcux, mcuy, predictor,
            restart_interval, arith, default,
        )
        out += b"\xff\xd9"
        return bytes(out)
    scans = (
        [list(range(channels))] if interleave else [[c] for c in range(channels)]
    )
    for comp_ids in scans:
        sos_body = bytes([len(comp_ids)])
        for c in comp_ids:
            sos_body += bytes([c + 1, 0x00])  # Td = 0 (Ta unused)
        sos_body += bytes([predictor, 0, point_transform])  # Ss, Se, Ah<<4|Al
        out += seg(0xDA, sos_body)
        out += scan_entropy(comp_ids)
    out += b"\xff\xd9"
    return bytes(out)


def _gif_lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    """GIF-variant LZW: codes start at min_code_size+1 bits, grow after
    the table fills to 2^width (capped at 12 bits), CLEAR resets,
    EOI terminates. LSB-first bit packing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    acc = bits = pos = 0
    n = len(data)
    while len(out) < max_pixels:
        while bits < width:
            if pos >= n:
                return out  # truncated stream: return what we have
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt GIF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _decode_gif(payload: bytes) -> dict:
    """First-frame GIF decode: logical screen descriptor, global/local
    color table, extension-block skip, then LZW over the image data
    sub-blocks; indices map through the active palette to RGB and
    interlaced frames (four-pass row order) are de-interlaced. Returns
    the FRAME's raster (its own width/height — animation composition
    onto the logical screen is out of scope for feature extraction)."""
    if payload[:6] not in _GIF_MAGICS or len(payload) < 13:
        raise ValueError("not a GIF payload")
    flags = payload[10]
    i = 13
    if flags & 0x80:  # global color table
        gct_len = 3 * (2 << (flags & 0x07))
        gct = payload[i : i + gct_len]
        i += gct_len
    else:
        gct = b""
    n = len(payload)
    while i < n:
        b0 = payload[i]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < n and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        # image descriptor
        w = int.from_bytes(payload[i + 5 : i + 7], "little")
        h = int.from_bytes(payload[i + 7 : i + 9], "little")
        iflags = payload[i + 9]
        i += 10
        pal = gct
        if iflags & 0x80:  # local color table
            lct_len = 3 * (2 << (iflags & 0x07))
            pal = payload[i : i + lct_len]
            i += lct_len
        if not pal:
            raise ValueError("GIF frame without a color table")
        min_code = payload[i]
        i += 1
        data = bytearray()
        while i < n and payload[i] != 0:
            sz = payload[i]
            data += payload[i + 1 : i + 1 + sz]
            i += 1 + sz
        indices = _gif_lzw_decode(min_code, bytes(data), w * h)
        if len(indices) < w * h:
            raise ValueError(f"GIF raster truncated: {len(indices)} < {w * h}")
        if iflags & 0x40:  # interlaced: passes at rows 0/8,4/8,2/4,1/2
            order = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            deinter = bytearray(w * h)
            for src_row, dst_row in enumerate(order):
                deinter[dst_row * w : (dst_row + 1) * w] = indices[
                    src_row * w : (src_row + 1) * w
                ]
            indices = deinter
        rgb = bytearray(w * h * 3)
        for j in range(w * h):
            p = indices[j] * 3
            rgb[j * 3 : j * 3 + 3] = pal[p : p + 3]
        return {"format": "gif", "width": w, "height": h, "channels": 3,
                "pixels": bytes(rgb)}
    raise ValueError("GIF contains no image descriptor")


def _decode_pnm(payload: bytes) -> dict:
    """Binary PPM (P6, RGB) / PGM (P5, gray) decode: header tokens are
    whitespace-separated with ``#`` comments; samples follow the single
    whitespace byte after maxval."""
    fmt = payload[:2]
    channels = 3 if fmt == b"P6" else 1
    i, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i : i + 1]
        if c == b"#":  # comment to end-of-line
            while i < n and payload[i] not in b"\r\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
    if len(tokens) < 3 or tokens[2] > 255:
        raise ValueError("bad PNM header (need width height maxval<=255)")
    width, height, _maxval = tokens
    i += 1  # exactly one whitespace byte separates header and raster
    need = width * height * channels
    pixels = payload[i : i + need]
    if len(pixels) != need:
        raise ValueError(f"PNM raster truncated: {len(pixels)} < {need}")
    return {
        "format": "ppm" if channels == 3 else "pgm",
        "width": width,
        "height": height,
        "channels": channels,
        "pixels": bytes(pixels),
    }


def _decode_bmp(payload: bytes) -> dict:
    """Uncompressed (BI_RGB) 24/32 bpp BMP decode. Rows are padded to
    4 bytes and stored bottom-up unless the header height is negative;
    samples are BGR(A) on disk — output is normalized to top-down
    RGB(A) so every decoder in this module speaks one pixel layout."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    raw_h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP BI_RGB 24/32bpp only (bpp={bpp}, comp={compression})")
    height, bottom_up = abs(raw_h), raw_h > 0
    channels = bpp // 8
    stride = (width * channels + 3) // 4 * 4
    out = bytearray(width * height * channels)
    for y in range(height):
        src_row = height - 1 - y if bottom_up else y
        row = payload[data_off + src_row * stride :][: width * channels]
        if len(row) < width * channels:
            raise ValueError("BMP raster truncated")
        for x in range(width):
            s, d = x * channels, (y * width + x) * channels
            out[d], out[d + 1], out[d + 2] = row[s + 2], row[s + 1], row[s]  # BGR -> RGB
            if channels == 4:
                out[d + 3] = row[s + 3]
    return {
        "format": "bmp",
        "width": width,
        "height": height,
        "channels": channels,
        "pixels": bytes(out),
    }


_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_GIF_MAGICS = (b"GIF87a", b"GIF89a")
#: PNG color type -> sample channels (spec 11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: JPEG SOF markers carrying frame dimensions (C4/C8/CC are DHT/JPG/DAC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def decode_image_header(payload: bytes) -> dict | None:
    """Real container-header decode, pure Python (no codec libraries):
    width/height/channels from the PNG IHDR chunk, the GIF logical
    screen descriptor, or the first JPEG SOF segment. Returns None for
    unrecognized payloads (caller falls back or filters).

    This is the production fast path for 100 TB metadata extraction —
    dimensions come from the first bytes of the payload, so the task
    never materializes pixels."""
    if payload[:8] == _PNG_SIGNATURE and len(payload) >= 26 and payload[12:16] == b"IHDR":
        color_type = payload[25]
        if color_type not in _PNG_CHANNELS:
            return None
        return {
            "format": "png",
            "width": int.from_bytes(payload[16:20], "big"),
            "height": int.from_bytes(payload[20:24], "big"),
            "channels": _PNG_CHANNELS[color_type],
        }
    if payload[:6] in _GIF_MAGICS and len(payload) >= 10:
        return {
            "format": "gif",
            "width": int.from_bytes(payload[6:8], "little"),
            "height": int.from_bytes(payload[8:10], "little"),
            "channels": 3,  # palette entries are RGB triples
        }
    if payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        n = len(payload)
        while i + 4 <= n:
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
                i += 2
                continue
            if i + 4 > n:
                return None
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if marker in _JPEG_SOF:
                if i + 10 > n:
                    return None
                return {
                    "format": "jpeg",
                    "height": int.from_bytes(payload[i + 5 : i + 7], "big"),
                    "width": int.from_bytes(payload[i + 7 : i + 9], "big"),
                    "channels": payload[i + 9],
                }
            i += 2 + seg_len
    return None


def decode_meta(payload: bytes) -> dict:
    """Default extract_features decoder: REAL header decode for
    recognized containers (PNG/JPEG/GIF), deterministic fake for
    synthetic payloads — so the same pipeline serves production bytes
    and codec-free test fixtures."""
    parsed = decode_image_header(payload)
    if parsed is not None:
        return parsed
    return fake_decode_meta(payload)


def fake_decode_meta(payload: bytes) -> dict:
    """Deterministic decode stand-in: derives plausible image dimensions
    from the payload bytes so the distributed plumbing is testable."""
    n = len(payload)
    return {
        "width": (n % 64) + 1,
        "height": ((n // 64) % 64) + 1,
        "channels": 3 if n % 2 else 1,
    }


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    decoder=decode_meta,
) -> DataFrame:
    """Per-payload feature extraction through ``map_rows``.

    The decoder sees raw bytes per row inside the task; output schema is
    fixed (FEATURE_SCHEMA) so downstream plans are stable regardless of
    decoder. At scale: repartition upstream so batches fit executor memory
    (payloads are the dominant bytes; spark.sql.execution.arrow.
    maxRecordsPerBatch bounds rows per batch)."""

    def features(doc_id, payload, modality, n_bytes):
        m = decoder(payload)
        yield doc_id, modality, n_bytes, m["width"], m["height"], m["channels"]

    cols = df.select(
        F.col(id_col), F.col("payload"), F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return map_rows(cols, features, FEATURE_SCHEMA)


def frame_sample_indices(n_frames_col, every: int = 10):
    """Frame-sampling helper for video payloads: indices 0, every, 2*every
    ... as an array column (decode only sampled frames downstream)."""
    return F.sequence(F.lit(0), F.greatest(n_frames_col - 1, F.lit(0)), F.lit(every))


#: schema produced by resize_images (resized carries the actual bytes)
RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "out_w int, out_h int, resized binary"
)


def resize_dims(width: int, height: int, target_long_side: int) -> tuple[int, int]:
    """Aspect-preserving target dimensions, integer arithmetic only
    (floor-scaled to the long side, floored at 1) — exactly mirrorable
    by any SQL engine, which is what lets the resize pipeline sit under
    the oracle gate."""
    mx = max(width, height)
    return (
        max(1, (width * target_long_side) // mx),
        max(1, (height * target_long_side) // mx),
    )


def resize_images(
    df: DataFrame,
    target_long_side: int = 32,
    id_col: str = "doc_id",
    decoder=decode_meta,
) -> DataFrame:
    """Per-payload resize through ``map_rows`` — the thumbnail/normalize stage
    of an image pipeline. Decode gives (width, height, channels); the
    output buffer is built by nearest-neighbor sampling over the payload
    bytes (REAL for a raw w*h*c buffer; for synthetic/fake-decoded
    payloads the source index wraps modulo payload length, keeping the
    operator deterministic without a codec library — swap ``decoder``
    for a pixel decoder and this is production resize).

    Scale: pure per-row work inside Arrow batches, no shuffle; payload
    bytes stay on the task that scanned them."""

    def resize(doc_id, p):
        p = bytes(p)
        m = decoder(p)
        w, h, ch = m["width"], m["height"], m["channels"]
        ow, oh = resize_dims(w, h, target_long_side)
        n = len(p)
        buf = bytearray(ow * oh * ch)  # empty payload -> zero buffer
        if n:
            pos = 0
            for y in range(oh):
                sy = y * h // oh
                for x in range(ow):
                    sx = x * w // ow
                    src = (sy * w + sx) * ch
                    for c in range(ch):
                        buf[pos] = p[(src + c) % n]
                        pos += 1
        yield doc_id, w, h, ch, ow, oh, bytes(buf)

    return map_rows(df.select(F.col(id_col), F.col("payload")), resize, RESIZE_SCHEMA)


#: schema produced by extract_audio_features
AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, channels int, sample_rate int, bits_per_sample int, duration_ms int"
)


def decode_audio_header(payload: bytes) -> dict | None:
    """Real WAV (RIFF/WAVE) header decode, pure Python: walks the chunk
    list for ``fmt `` (channels, sample rate, bits) and ``data`` (byte
    count), deriving duration_ms by integer arithmetic. The audio
    counterpart of decode_image_header — metadata comes from the first
    bytes, no audio library and no sample decoding."""
    n = len(payload)
    if n < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i, fmt, data_size = 12, None, None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        csize = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= n:
            fmt = {
                "channels": int.from_bytes(payload[i + 10 : i + 12], "little"),
                "sample_rate": int.from_bytes(payload[i + 12 : i + 16], "little"),
                "byte_rate": int.from_bytes(payload[i + 16 : i + 20], "little"),
                "bits_per_sample": int.from_bytes(payload[i + 22 : i + 24], "little"),
            }
        elif cid == b"data":
            data_size = csize
        i += 8 + csize + (csize % 2)  # RIFF chunks are word-aligned
    if fmt is None:
        return None
    duration_ms = (
        data_size * 1000 // fmt["byte_rate"]
        if data_size is not None and fmt["byte_rate"]
        else None
    )
    return {
        "format": "wav",
        "channels": fmt["channels"],
        "sample_rate": fmt["sample_rate"],
        "bits_per_sample": fmt["bits_per_sample"],
        "duration_ms": duration_ms,
    }


def extract_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    decoder=decode_audio_header,
) -> DataFrame:
    """Audio metadata extraction through ``map_rows`` (same row shape as
    extract_features); unrecognized payloads yield NULL features."""

    def features(doc_id, p):
        m = decoder(bytes(p)) or {}
        yield (
            doc_id, m.get("channels"), m.get("sample_rate"),
            m.get("bits_per_sample"), m.get("duration_ms"),
        )

    return map_rows(
        df.select(F.col(id_col), F.col("payload")), features, AUDIO_FEATURE_SCHEMA
    )


#: schema produced by extract_pixel_stats
PIXEL_STATS_SCHEMA = (
    "doc_id bigint, format string, width int, height int, channels int, "
    "px_sum bigint, px_min int, px_max int, px_possum bigint"
)


def extract_pixel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode REAL pixels (PPM/PGM/BMP via :func:`decode_image`) and emit
    integer per-image statistics: byte sum / min / max plus the
    position-weighted checksum ``sum(i * pixel[i])`` over the normalized
    top-down RGB layout. The positional checksum is what makes the gate
    sharp: a bottom-up flip, BGR swap, or padding-skip bug changes it
    even when the order-insensitive stats survive.

    Integer-only outputs -> exactly mirrorable by a SQL oracle that
    recomputes the same sums from the generator formula. Same 100 TB
    shape as extract_features: through ``map_rows``, payload bytes never
    leave the task."""

    def stats(doc_id, p):
        m = decode_image(bytes(p))
        px = m["pixels"]
        yield (
            doc_id, m["format"], m["width"], m["height"], m["channels"],
            sum(px), min(px) if px else None, max(px) if px else None,
            sum(i * v for i, v in enumerate(px)),
        )

    return map_rows(
        df.select(F.col(id_col), F.col("payload")), stats, PIXEL_STATS_SCHEMA
    )


def decode_audio_samples(payload: bytes) -> dict:
    """Real PCM sample decode for WAV payloads: walks the RIFF chunk list
    (via :func:`decode_audio_header` semantics), then parses the ``data``
    chunk as little-endian signed 16-bit samples. Returns the header
    fields plus ``samples: list[int]`` (channel-interleaved)."""
    hdr = decode_audio_header(payload)
    if hdr is None:
        raise ValueError("not a RIFF/WAVE payload")
    if hdr["bits_per_sample"] != 16:
        raise NotImplementedError("16-bit PCM only")
    n = len(payload)
    i, data = 12, b""
    while i + 8 <= n:
        cid = payload[i : i + 4]
        csize = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"data":
            data = payload[i + 8 : i + 8 + csize]
            break
        i += 8 + csize + (csize % 2)
    samples = [
        int.from_bytes(data[k : k + 2], "little", signed=True)
        for k in range(0, len(data) - 1, 2)
    ]
    return {**hdr, "samples": samples}


#: schema produced by extract_audio_sample_stats
AUDIO_SAMPLE_STATS_SCHEMA = (
    "doc_id bigint, n_samples int, s_sum bigint, s_min int, s_max int, s_possum bigint"
)


def extract_audio_sample_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode REAL 16-bit PCM samples and emit integer statistics
    (sum/min/max + position-weighted checksum) — the audio counterpart
    of extract_pixel_stats, same ``map_rows`` shape, same exact-integer
    oracle-mirrorability (an endianness or sign bug flips every stat)."""

    def stats(doc_id, p):
        sm = decode_audio_samples(bytes(p))["samples"]
        yield (
            doc_id, len(sm), sum(sm), min(sm) if sm else None,
            max(sm) if sm else None, sum(k * v for k, v in enumerate(sm)),
        )

    return map_rows(
        df.select(F.col(id_col), F.col("payload")), stats, AUDIO_SAMPLE_STATS_SCHEMA
    )


#: schema produced by extract_dhash
DHASH_SCHEMA = "doc_id bigint, dhash bigint"


def perceptual_dhash(payload: bytes) -> int:
    """64-bit difference hash (dHash) over REAL decoded pixels: decode
    (any container this module supports), collapse to integer grayscale
    (``(r+g+b)//3`` — exact), nearest-neighbor resample onto a 9x8 grid
    (the same ``x*w//ow`` sampling as :func:`resize_images`), and set
    bit ``y*8+x`` when ``grid[y][x+1] > grid[y][x]``. The classic
    perceptual near-dup signal (public since Krawetz's 2013 writeup):
    invariant to resolution (the resample) and to any tone change that
    preserves horizontal gradient ORDER. Integer arithmetic end to end
    — which is what lets a SQL oracle that knows the image generator
    recompute the exact hash without any codec. Returned as SIGNED
    64-bit (bit 63 wraps negative) to fit a Spark bigint column."""
    m = decode_image(payload)
    w, h, ch = m["width"], m["height"], m["channels"]
    px = m["pixels"]
    if w < 9 or h < 8:
        raise ValueError(f"dhash needs at least 9x8 pixels, got {w}x{h}")
    bits = 0
    for y in range(8):
        sy = y * h // 8
        row = []
        for x in range(9):
            sx = x * w // 9
            src = (sy * w + sx) * ch
            if ch >= 3:
                row.append((px[src] + px[src + 1] + px[src + 2]) // 3)
            else:
                row.append(px[src])
        for x in range(8):
            if row[x + 1] > row[x]:
                bits |= 1 << (y * 8 + x)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def extract_dhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, dhash) through ``map_rows`` — the image-dedup key
    extraction stage: payload bytes never leave the scanning task; the
    hash is 8 bytes per image regardless of image size, so everything
    downstream (grouping, banding, Hamming joins) works on a
    64-bit-per-image frame exactly like text simhash."""

    def dhash(doc_id, p):
        yield doc_id, perceptual_dhash(bytes(p))

    return map_rows(df.select(F.col(id_col), F.col("payload")), dhash, DHASH_SCHEMA)


#: schema produced by extract_audio_fingerprint
AUDIO_FP_SCHEMA = "doc_id bigint, afp bigint"

#: window count for audio_fingerprint (33 windows -> 32 contour bits)
AUDIO_FP_WINDOWS = 33


def audio_fingerprint(payload: bytes) -> int:
    """32-bit loudness-contour fingerprint over REAL decoded PCM — the
    audio twin of :func:`perceptual_dhash` (the public shape behind
    echoprint/chromaprint-style fingerprints, reduced to its integer
    core): decode the WAV, split the sample stream into 33 equal
    windows (window w = samples [w*n//33, (w+1)*n//33)), take each
    window's integer mean (floor), and set bit w when
    ``mean[w+1] > mean[w]``. Invariant to duration/sample-rate for
    content constant over the window cells, and to any gain change
    preserving the contour ORDER. All-integer, so a SQL oracle that
    knows the audio generator recomputes the exact fingerprint with no
    audio stack."""
    m = decode_audio_samples(payload)
    s = m["samples"]
    n = len(s)
    if n < AUDIO_FP_WINDOWS:
        raise ValueError(f"audio fingerprint needs >= {AUDIO_FP_WINDOWS} samples, got {n}")
    means = []
    for w in range(AUDIO_FP_WINDOWS):
        lo = w * n // AUDIO_FP_WINDOWS
        hi = (w + 1) * n // AUDIO_FP_WINDOWS
        means.append(sum(s[lo:hi]) // (hi - lo))
    bits = 0
    for w in range(AUDIO_FP_WINDOWS - 1):
        if means[w + 1] > means[w]:
            bits |= 1 << w
    return bits


def extract_audio_fingerprint(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, afp) through ``map_rows`` — payload bytes never
    leave the scanning task; everything downstream (grouping, Hamming
    banding) works on a 4-byte-per-clip key."""

    def fingerprint(doc_id, p):
        yield doc_id, audio_fingerprint(bytes(p))

    return map_rows(
        df.select(F.col(id_col), F.col("payload")), fingerprint, AUDIO_FP_SCHEMA
    )


#: schema produced by extract_frame_dhash
FRAME_DHASH_SCHEMA = "doc_id bigint, frame_idx int, dhash bigint"


def extract_frame_dhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(video id, frame_idx, dhash) — :func:`perceptual_dhash` per
    FRAME for video pipelines: frame payloads never leave the scanning
    task, and downstream shot analytics work on 8 bytes per frame."""

    def dhash(doc_id, fi, p):
        yield doc_id, fi, perceptual_dhash(bytes(p))

    return map_rows(
        df.select(F.col(id_col), F.col("frame_idx"), F.col("payload")),
        dhash,
        FRAME_DHASH_SCHEMA,
    )


def video_scene_cuts(
    frames: DataFrame,
    min_hamming: int = 1,
    id_col: str = "doc_id",
    frame_col: str = "frame_idx",
) -> DataFrame:
    """Shot-boundary (scene-cut) detection over really-decoded frames:
    dHash each frame, order frames within the video, and emit the
    frames whose perceptual distance to the PREVIOUS frame reaches
    ``min_hamming`` — the standard cheap shot detector (consecutive
    frames of one shot hash near-identically; a cut jumps the hash).
    Returns (id, frame_idx, hamming) for detected cuts; frame 0 never
    emits (no predecessor).

    Scale: decode + hash are row-local in the scan; the only shuffle is
    ONE hash exchange on the video id for the lag window — per-video
    frame counts bound each task, and the windowed frame is 8 bytes per
    frame regardless of resolution."""
    from pyspark.sql import Window as W

    hashed = extract_frame_dhash(frames, id_col)
    w = W.partitionBy(id_col).orderBy(frame_col)
    ham = F.bit_count(
        F.col("dhash").bitwiseXOR(F.lag("dhash").over(w))
    ).cast("int")
    return (
        hashed.select(F.col(id_col), F.col(frame_col), ham.alias("hamming"))
        .filter(F.col("hamming") >= min_hamming)
    )


# ----------------------------------------------------- EXIF / TIFF APP1
# Real image curation reads EXIF before pixels: orientation decides the
# rotate-at-ingest step, declared dimensions gate size filters without a
# decode, camera model feeds source statistics. EXIF is a TIFF structure
# (TIFF 6.0 + JEITA CP-3451 Exif, both public specs) embedded in a JPEG
# APP1 segment: 'Exif\0\0' + TIFF header (byte order 'II'/'MM', magic
# 42, IFD0 offset) + chained IFDs of 12-byte entries
# (tag, type, count, value-or-offset). Both endiannesses are decoded;
# the writer twin (insert_exif_app1) makes the walk closed-loop so the
# registered query sits under the full hash gate — the codec-family
# pattern.

_EXIF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def _build_tiff_exif(
    byte_order: str,
    width: int,
    height: int,
    orientation: int,
    xres: tuple[int, int],
    model: str,
    iso: int,
) -> bytes:
    """Minimal two-IFD TIFF: IFD0 (dims, model, orientation, XResolution,
    ExifIFD pointer) + the Exif sub-IFD (ExifVersion, ISO). Entries are
    tag-ascending as TIFF 6.0 §2 requires; out-of-line values (the
    RATIONAL, the model string when > 4 bytes) land in a data area
    between the IFDs."""
    import struct

    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte order {byte_order!r} not II/MM")
    e = "<" if byte_order == "II" else ">"
    model_b = model.encode("ascii") + b"\x00"

    ifd0_off = 8
    n0 = 6
    ifd0_size = 2 + n0 * 12 + 4
    data_off = ifd0_off + ifd0_size          # xres rational lives here
    model_off = data_off + 8
    model_ext = len(model_b) if len(model_b) > 4 else 0
    exif_off = model_off + model_ext + (model_ext % 2)
    n1 = 2
    exif_size = 2 + n1 * 12 + 4
    ver_b = b"0232"

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + value.ljust(4, b"\x00")

    def short(v: int) -> bytes:
        return struct.pack(e + "H", v)

    def longv(v: int) -> bytes:
        return struct.pack(e + "I", v)

    ifd0 = struct.pack(e + "H", n0)
    ifd0 += entry(0x0100, 3, 1, short(width))
    ifd0 += entry(0x0101, 3, 1, short(height))
    if model_ext:
        ifd0 += entry(0x0110, 2, len(model_b), longv(model_off))
    else:
        ifd0 += entry(0x0110, 2, len(model_b), model_b)
    ifd0 += entry(0x0112, 3, 1, short(orientation))
    ifd0 += entry(0x011A, 5, 1, longv(data_off))
    ifd0 += entry(0x8769, 4, 1, longv(exif_off))
    ifd0 += struct.pack(e + "I", 0)  # no IFD1

    data = struct.pack(e + "II", xres[0], xres[1])
    if model_ext:
        data += model_b
        if model_ext % 2:
            data += b"\x00"

    exif_ifd = struct.pack(e + "H", n1)
    exif_ifd += entry(0x8827, 3, 1, short(iso))
    exif_ifd += entry(0x9000, 7, 4, ver_b)
    exif_ifd += struct.pack(e + "I", 0)

    header = (byte_order.encode("ascii") + struct.pack(e + "H", 42)
              + struct.pack(e + "I", ifd0_off))
    return header + ifd0 + data + exif_ifd


def insert_exif_app1(
    jpeg: bytes,
    byte_order: str = "II",
    width: int = 0,
    height: int = 0,
    orientation: int = 1,
    xres: tuple[int, int] = (72, 1),
    model: str = "cam",
    iso: int = 100,
) -> bytes:
    """Writer twin: splice an APP1 Exif segment directly after SOI of an
    existing JPEG stream (where every real camera puts it). The segment
    length is big-endian per the JPEG marker rule REGARDLESS of the TIFF
    byte order inside — the classic implementation trap, pinned in
    tests/test_exif.py."""
    import struct

    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (no SOI)")
    tiff = _build_tiff_exif(
        byte_order, width, height, orientation, xres, model, iso
    )
    body = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    return jpeg[:2] + seg + jpeg[2:]


def decode_exif(payload: bytes) -> dict:
    """Walk the JPEG marker stream to APP1/'Exif\\0\\0' and parse the
    TIFF inside: both byte orders, IFD0 + the 0x8769 Exif sub-IFD,
    SHORT/LONG/ASCII/RATIONAL value decoding with full bounds checks.
    Returns {byte_order, exif_w, exif_h, orientation, xres_num,
    xres_den, model, iso, n_ifd0}. Raises ValueError (with a precise
    malformation class) on: missing APP1/Exif, bad byte-order mark, bad
    TIFF magic, an IFD or out-of-line value running past the segment —
    the malformed-IFD classes a crawl actually serves up."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (no SOI)")
    pos, tiff = 2, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost in APP1 walk")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:  # SOS: entropy data, no EXIF past here
            break
        seglen = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        seg = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            tiff = seg[6:]
            break
        pos += 2 + seglen
    if tiff is None:
        raise ValueError("no APP1 Exif segment before SOS")

    bo = tiff[:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {bo!r}")
    if len(tiff) < 8 or struct.unpack(e + "H", tiff[2:4])[0] != 42:
        raise ValueError("bad TIFF magic (want 42)")

    def read_ifd(off: int) -> dict[int, tuple[int, int, bytes]]:
        if off + 2 > len(tiff):
            raise ValueError("IFD offset past segment end")
        (n,) = struct.unpack(e + "H", tiff[off:off + 2])
        end = off + 2 + n * 12 + 4
        if end > len(tiff):
            raise ValueError("truncated IFD (entries past segment end)")
        out = {}
        for k in range(n):
            ent = tiff[off + 2 + 12 * k:off + 2 + 12 * (k + 1)]
            tag, typ, count = struct.unpack(e + "HHI", ent[:8])
            size = _EXIF_TYPE_SIZES.get(typ, 1) * count
            if size <= 4:
                raw = ent[8:8 + size]
            else:
                (voff,) = struct.unpack(e + "I", ent[8:12])
                if voff + size > len(tiff):
                    raise ValueError("IFD value offset past segment end")
                raw = tiff[voff:voff + size]
            out[tag] = (typ, count, raw)
        return out

    def scalar(tag_val) -> int:
        typ, _count, raw = tag_val
        fmt = {3: "H", 4: "I"}[typ]
        return struct.unpack(e + fmt, raw[:_EXIF_TYPE_SIZES[typ]])[0]

    (ifd0_off,) = struct.unpack(e + "I", tiff[4:8])
    ifd0 = read_ifd(ifd0_off)
    out = {
        "byte_order": bo.decode("ascii"),
        "n_ifd0": len(ifd0),
        "exif_w": scalar(ifd0[0x0100]) if 0x0100 in ifd0 else None,
        "exif_h": scalar(ifd0[0x0101]) if 0x0101 in ifd0 else None,
        "orientation": scalar(ifd0[0x0112]) if 0x0112 in ifd0 else None,
        "model": None,
        "xres_num": None,
        "xres_den": None,
        "iso": None,
    }
    if 0x0110 in ifd0:
        out["model"] = ifd0[0x0110][2].split(b"\x00")[0].decode("ascii")
    if 0x011A in ifd0:
        num, den = struct.unpack(e + "II", ifd0[0x011A][2][:8])
        out["xres_num"], out["xres_den"] = num, den
    if 0x8769 in ifd0:
        sub = read_ifd(scalar(ifd0[0x8769]))
        if 0x8827 in sub:
            out["iso"] = scalar(sub[0x8827])
    return out


EXIF_SCHEMA = (
    "doc_id bigint, byte_order string, exif_w int, exif_h int, "
    "orientation int, xres_num bigint, xres_den bigint, model string, "
    "iso int, n_ifd0 int"
)


def extract_exif_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-payload EXIF extraction through ``map_rows`` — the
    extract_features row shape: payload bytes never leave the task,
    output is a fixed narrow row per image."""

    def exif(doc_id, payload):
        meta = decode_exif(bytes(payload))
        yield (
            doc_id, meta["byte_order"], meta["exif_w"], meta["exif_h"],
            meta["orientation"], meta["xres_num"], meta["xres_den"],
            meta["model"], meta["iso"], meta["n_ifd0"],
        )

    return map_rows(df.select(F.col(id_col), F.col("payload")), exif, EXIF_SCHEMA)


#: EXIF orientation -> (output row, col) reads input (row, col): the 8
#: dihedral transforms of TIFF tag 0x0112 (values 5-8 swap dimensions).
def apply_exif_orientation(
    px: list[int] | bytes, w: int, h: int, orientation: int, channels: int = 1
) -> tuple[list[int], int, int]:
    """Bake the EXIF orientation into the raster — the rotate-at-ingest
    normalization every image pipeline runs right after the APP1 walk
    (downstream models see upright pixels; the tag is then dropped).
    Returns (pixels, out_w, out_h) for any of the 8 TIFF orientations:
    1 identity, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    6 rotate 90 CW, 7 transverse, 8 rotate 90 CCW. Orientations 5-8
    swap the output dimensions. Pure per-index arithmetic (verified
    closed-loop against the SQL oracle's inverse mapping)."""
    if orientation not in range(1, 9):
        raise ValueError(f"orientation {orientation} outside TIFF 1..8")
    swap = orientation >= 5
    ow, oh = (h, w) if swap else (w, h)
    out = []
    for r in range(oh):
        for c in range(ow):
            if orientation == 1:
                ri, ci = r, c
            elif orientation == 2:
                ri, ci = r, w - 1 - c
            elif orientation == 3:
                ri, ci = h - 1 - r, w - 1 - c
            elif orientation == 4:
                ri, ci = h - 1 - r, c
            elif orientation == 5:
                ri, ci = c, r
            elif orientation == 6:
                ri, ci = h - 1 - c, r
            elif orientation == 7:
                ri, ci = h - 1 - c, w - 1 - r
            else:  # 8
                ri, ci = c, w - 1 - r
            base = (ri * w + ci) * channels
            out.extend(px[base:base + channels])
    return out, ow, oh


ORIENT_STATS_SCHEMA = (
    "doc_id bigint, orientation int, out_w int, out_h int, "
    "px_sum bigint, px_possum bigint, px_first int, px_last int"
)


def extract_oriented_pixel_stats(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Decode pixels AND the EXIF orientation tag, bake the orientation
    in (:func:`apply_exif_orientation`), and emit integer stats over the
    NORMALIZED raster: px_sum is orientation-invariant (a permutation),
    px_possum + the first/last samples pin the exact permutation — a
    wrong transform direction or a dimension-swap bug changes them.
    Through ``map_rows``, scan-local (the extract_pixel_stats shape)."""

    def stats(doc_id, p):
        payload = bytes(p)
        o = decode_exif(payload)["orientation"]
        m = decode_image(payload)
        out, ow, oh = apply_exif_orientation(
            m["pixels"], m["width"], m["height"], o, channels=m["channels"],
        )
        yield (
            doc_id, o, ow, oh, sum(out), sum(i * v for i, v in enumerate(out)),
            out[0] if out else None, out[-1] if out else None,
        )

    return map_rows(
        df.select(F.col(id_col), F.col("payload")), stats, ORIENT_STATS_SCHEMA
    )
