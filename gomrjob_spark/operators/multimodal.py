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
every JPEG process of ITU T.81, and 16-bit PCM for WAV.

JPEG has one decoder layout (the JPEG section comment has the detail):
one marker walk reads every stream, hierarchical (Annex J DHP/EXP)
pyramids included, and ``decode_image_header`` reads the image geometry
(a hierarchical stream's DHP, else the first frame header) through the
same walk; one DCT scan walker decodes Huffman and
arithmetic (QM coder), sequential and progressive scans into
coefficient accumulators; one dequantize + IDCT finishes every DCT
frame; lossless frames (Annex H) run one sample walk. The writers
``encode_jpeg_baseline`` / ``_progressive`` / ``_arithmetic`` /
``_arith_progressive`` / ``_lossless`` / ``_hierarchical`` drive the
same walkers — they serve as sink formats and as the synthesis side
of the oracle-gated decode queries — next to ``encode_png`` and
``encode_gif``.
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

    - JPEG, every T.81 process through one marker walk: Huffman and
      arithmetic (QM coder, Annex F statistics) coding of sequential
      (SOF0/1/9, interleaved or one scan per component) and progressive
      (SOF2/10: spectral selection + successive approximation, EOB
      runs, correction bits) DCT frames, decoded by one scan walker
      into coefficient accumulators and finished by one dequantize +
      8x8 IDCT, sampling-factor upsampling and YCbCr->RGB; LOSSLESS
      SOF3/11 (Annex H predictors); HIERARCHICAL pyramids (Annex J
      DHP/EXP: differential lossless SOF7/15, sequential DCT SOF5/13
      and progressive SOF6/14, any channel count). Restart markers and
      fill bytes before markers are honoured. A frame or DHP declaring
      more than ``_JPEG_MAX_SAMPLES`` samples (width x height x
      components) is a ValueError, raised before any allocation.

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
        "pixel decode implemented for PPM/PGM/BMP/PNG/GIF/JPEG; "
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
# Every JPEG process of ITU T.81 decodes through one path, pure Python
# + numpy:
#
# - one marker walk (_jpeg_segment, driven by _decode_jpeg and read by
#   decode_image_header): fill bytes, standalone markers, table
#   segments, frames, scans; hierarchical streams (DHP/EXP, Annex J)
#   fold each frame into the reference pyramid in the same loop;
# - one DCT scan walker (_jpeg_walk_scan) for Huffman and arithmetic,
#   sequential and progressive: every scan accumulates quantized
#   coefficients, a sequential scan being the Ss=0..63, Ah=Al=0 case;
#   the per-block entropy work lives in four small coder classes
#   (Huffman/arithmetic x decode/encode) with the same four operations;
# - one dequantize + IDCT (_jpeg_idct) that every DCT frame and the
#   hierarchical closed-loop encoder run, so the encoder replays the
#   decoder's arithmetic by construction;
# - one lossless sample walk (_jpeg_lossless_scan / _ll_encode_scan_mcu
#   over _LLGridState, Annex H).
#
# The writers (encode_jpeg_*) drive the same scan walker with the
# encoding coders and share one segment writer (_seg). The constants
# below are generated, not transcribed: the zigzag order comes from the
# diagonal walk, the DCT basis from its closed form — no copied tables
# to mistype (the QM Qe table is the one spec-table exception, flagged
# at its definition).


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
        """Load the next data byte; runs only once every bit is read."""
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
        self.acc = b
        self.bits = 8

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

    def next_marker(self) -> int:
        """Offset of the marker ending this entropy segment: stuffed
        0xFF00 pairs, stray restart markers and pad bytes are skipped
        (``pos`` sits just past the last consumed entropy byte; trailing
        pad bits stay in the accumulator)."""
        d = self.data
        j = self.pos
        while j + 1 < len(d) and not (
            d[j] == 0xFF and d[j + 1] != 0x00 and not 0xD0 <= d[j + 1] <= 0xD7
        ):
            j += 1
        return j


def _jpeg_extend(v: int, size: int) -> int:
    """Table F.1 EXTEND: map the `size`-bit magnitude to its signed value."""
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _huff_read_diff(reader: _BitReader, table: _HuffTable) -> int:
    """One Huffman-coded difference (DC, T.81 F.2.2.1; lossless, H.1.2.1):
    category, then EXTEND bits; category 16 is exactly 32768, no bits."""
    size = reader.decode_symbol(table)
    if size == 16:
        return 32768
    if size > 16:
        raise ValueError("invalid JPEG difference category")
    return _jpeg_extend(reader.read_bits(size), size)


#: every SOFn: C4/C8/CC are DHT/JPG/DAC. Bit 2 marks a differential
#: (hierarchical) frame, the low two bits the process (0/1 sequential,
#: 2 progressive, 3 lossless), 0xC8 and up arithmetic coding.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
#: the most samples (width x height x components) one frame or DHP may
#: declare to the decoder: Pillow's ``MAX_IMAGE_PIXELS`` figure, counted
#: per component because each component gets its own int64 coefficient
#: or sample plane. The planes are allocated from the header alone, so
#: without a bound an 8x8 stream of about 100 bytes patched to declare
#: 65535x65535 asks for 32 GiB.
_JPEG_MAX_SAMPLES = 89_478_485


def _jpeg_segment(payload: bytes, i: int) -> tuple[int, bytes, int]:
    """The marker walk's one step: ``(marker, body, next offset)`` for
    the marker at ``i``. Fill bytes (0xFF runs, T.81 B.1.1.2) are
    skipped; standalone markers (TEM, RSTn, SOI) have no body; fewer
    than four bytes left reads as EOI (0xD9). A segment running past
    the payload end, or anything but a marker at ``i``, is a
    ValueError."""
    n = len(payload)
    while i + 1 < n and payload[i] == 0xFF and payload[i + 1] == 0xFF:
        i += 1
    if i + 4 > n:
        return 0xD9, b"", n
    if payload[i] != 0xFF:
        raise ValueError("JPEG marker desync")
    marker = payload[i + 1]
    if marker == 0xD9 or marker == 0x01 or 0xD0 <= marker <= 0xD8:
        return marker, b"", i + 2
    end = i + 2 + int.from_bytes(payload[i + 2 : i + 4], "big")
    if end < i + 4 or end > n:
        raise ValueError(f"truncated JPEG segment (marker 0x{marker:02X})")
    return marker, payload[i + 4 : end], end


def _jpeg_parse_sof(seg: bytes, marker: int) -> dict:
    """Frame header (SOFn or DHP body): geometry, components, and the
    coding process the marker names."""
    if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
        raise ValueError("truncated JPEG frame header")
    comps = [
        {"id": seg[k], "h": seg[k + 1] >> 4, "v": seg[k + 1] & 0x0F, "tq": seg[k + 2]}
        for k in range(6, 6 + 3 * seg[5], 3)
    ]
    return {
        "w": int.from_bytes(seg[3:5], "big"),
        "h": int.from_bytes(seg[1:3], "big"),
        "prec": seg[0],
        "comps": comps,
        "progressive": marker & 3 == 2,
        "lossless": marker & 3 == 3,
        "differential": bool(marker & 4),
        "arith": marker >= 0xC8,
        "seen": set(),  # indices of the components some scan carried
        "coeff": None,  # DCT: per-component coefficient accumulators
        "planes": {},  # lossless: per-component sample planes
        "pt": 0,  # lossless point transform
    }


def _jpeg_bounded(frame: dict) -> dict:
    """``frame``; a ValueError when it declares more than
    ``_JPEG_MAX_SAMPLES`` samples."""
    n = frame["w"] * frame["h"] * len(frame["comps"])
    if n > _JPEG_MAX_SAMPLES:
        raise ValueError(
            f"JPEG frame declares {frame['w']}x{frame['h']}x{len(frame['comps'])} "
            f"samples, over the decode budget of {_JPEG_MAX_SAMPLES}"
        )
    return frame


def _decode_jpeg(payload: bytes) -> dict:
    """JPEG pixel decode over the one marker walk (see the section
    comment). Returns the module's standard dict: DCT grayscale stays
    1-channel, 3-component DCT frames convert to RGB via the JFIF YCbCr
    transform; lossless and hierarchical frames emit their components
    as-is."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: DC (L, U) per table
    ac_cond: dict[int, int] = {}  # DAC: AC Kx per table
    restart_interval = 0
    hier = None  # DHP geometry: the stream is a hierarchical pyramid
    ref: dict[int, "np.ndarray"] = {}  # hierarchical: id -> reference plane
    pending_exp = (0, 0)
    frame = None
    i = 2
    while True:
        marker, seg, i = _jpeg_segment(payload, i)
        if marker == 0xD9:  # EOI
            break
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0x0F
                width = 2 if prec else 1
                body = seg[j + 1 : j + 1 + 64 * width]
                if len(body) < 64 * width:
                    raise ValueError("truncated JPEG quantization table")
                tbl = np.zeros(64, dtype=np.float64)
                for s, b in enumerate(_ZIGZAG):
                    tbl[b] = int.from_bytes(body[s * width : s * width + width], "big")
                qt[tid] = tbl.reshape(8, 8)
                j += 1 + 64 * width
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nsym = sum(bits)
                if len(bits) < 16 or j + 17 + nsym > len(seg):
                    raise ValueError("truncated JPEG Huffman table")
                huff[(tc, th)] = _HuffTable(bits, seg[j + 17 : j + 17 + nsym])
                j += 17 + nsym
        elif marker == 0xCC:  # DAC: arithmetic conditioning bounds
            for j in range(0, len(seg) - 1, 2):
                tc, tb, val = seg[j] >> 4, seg[j] & 0x0F, seg[j + 1]
                if tc == 0:
                    dc_cond[tb] = (val & 0x0F, val >> 4)  # (L, U)
                else:
                    ac_cond[tb] = val  # Kx
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDE:  # DHP: hierarchical mode (Annex J)
            hier = _jpeg_bounded(_jpeg_parse_sof(seg, marker))
        elif marker == 0xDF:  # EXP: expands the NEXT frame's reference
            if not seg:
                raise ValueError("truncated JPEG EXP segment")
            if frame is not None:
                ref = _jpeg_hier_fold(frame, qt, ref, pending_exp)
                frame = None
            pending_exp = (seg[0] >> 4, seg[0] & 0x0F)
        elif marker in _JPEG_SOF:
            if hier is None and marker & 4:
                # differential frames are only valid after a DHP segment
                # — a bare one is a malformed stream
                raise NotImplementedError(
                    "differential JPEG frame outside a DHP (hierarchical) "
                    "stream; every differential family (lossless SOF7/15, "
                    "sequential DCT SOF5/13, progressive SOF6/14) decodes "
                    "via the DHP path"
                )
            if frame is not None:
                if hier is None:
                    raise ValueError("JPEG with a second frame outside hierarchical mode")
                ref = _jpeg_hier_fold(frame, qt, ref, pending_exp)
                pending_exp = (0, 0)
            frame = _jpeg_bounded(_jpeg_parse_sof(seg, marker))
            if not frame["comps"] or not all(
                1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in frame["comps"]
            ):
                raise ValueError(
                    "JPEG frame without components or with sampling factors outside 1..4"
                )
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            i = _jpeg_decode_scan(
                payload, i, seg, frame, hier is not None, qt, huff, dc_cond,
                ac_cond, restart_interval,
            )
    if hier is not None:
        if frame is not None:
            ref = _jpeg_hier_fold(frame, qt, ref, pending_exp)
        return _jpeg_hier_assemble(hier, ref)
    if frame is None:
        raise ValueError("JPEG contains no scan")
    planes = _jpeg_frame_planes(frame, qt)
    if frame["lossless"]:
        return _jpeg_ll_assemble(frame, planes)
    return _jpeg_assemble(frame, planes)


def _jpeg_decode_scan(
    payload, start, seg, frame, hierarchical, qt, huff, dc_cond, ac_cond,
    restart_interval,
) -> int:
    """Decode the scan whose SOS body is ``seg`` (entropy data at
    ``start``) into ``frame``; returns the offset of the next marker.
    Sequential DCT scans code whole blocks, whatever Ss/Se/Ah/Al
    say."""
    ns = seg[0] if seg else 0
    if not ns or len(seg) < 4 + 2 * ns:
        raise ValueError("malformed JPEG scan header")
    scan = {seg[1 + 2 * k]: (seg[2 + 2 * k] >> 4, seg[2 + 2 * k] & 0x0F) for k in range(ns)}
    members = _jpeg_scan_members(frame, [seg[1 + 2 * k] for k in range(ns)])
    frame["seen"].update(members)
    ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
    if frame["lossless"]:
        if hierarchical and a & 0x0F:
            raise NotImplementedError(
                "hierarchical lossless JPEG with a nonzero point transform"
            )
        frame["pt"] = a & 0x0F
        return _jpeg_lossless_scan(
            payload, start, frame, members, scan, dc_cond, huff,
            restart_interval, ss,
        )
    if any(c["tq"] not in qt for c in frame["comps"]):
        raise ValueError("JPEG DCT frame references an undeclared quantization table")
    band = (ss, se, a >> 4, a & 0x0F) if frame["progressive"] else (0, 63, 0, 0)
    if frame["progressive"] and (se > 63 or ss > se or (ss == 0 and se)):
        # T.81 G.1.1.1.1: DC scans are Ss = Se = 0, AC bands 1 <= Ss <= Se <= 63
        raise ValueError(f"progressive JPEG scan with spectral band {ss}..{se}")
    if frame["coeff"] is None:
        frame["coeff"] = _jpeg_alloc_coeff(frame)
    if frame["arith"]:
        coder = _ArithScanDecoder(payload, start, frame, scan, dc_cond, ac_cond, band)
    else:
        coder = _HuffScanDecoder(payload, start, frame, scan, huff, band)
    _jpeg_walk_scan(coder, frame, members, band, frame["coeff"], restart_interval)
    return coder.next_marker()


def _jpeg_scan_members(frame, order) -> list[int]:
    """Frame component indices of a scan's component ids, in scan order."""
    byid = {c["id"]: ci for ci, c in enumerate(frame["comps"])}
    if any(cid not in byid for cid in order):
        raise ValueError("JPEG scan names a component the frame does not declare")
    return [byid[cid] for cid in order]


def _jpeg_frame_planes(frame, qt) -> list:
    """The finished frame's per-component planes: lossless sample planes
    as decoded, DCT coefficients through the one dequantize + IDCT (no
    level shift in differential frames)."""
    if len(frame["seen"]) < len(frame["comps"]):
        raise ValueError("JPEG frame is missing a component scan")
    if frame["lossless"]:
        return [frame["planes"][ci] for ci in range(len(frame["comps"]))]
    shift = 0.0 if frame["differential"] else 128.0
    return [
        _jpeg_idct(frame["coeff"][ci], qt[c["tq"]], shift)
        for ci, c in enumerate(frame["comps"])
    ]


def _jpeg_assemble(frame, planes) -> dict:
    """Final stage of a DCT frame: upsample each component plane by its
    sampling factors, crop to the frame size, and convert (JFIF YCbCr
    -> RGB for 3 components, passthrough for grayscale)."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if len(comps) not in (1, 3):
        raise NotImplementedError(
            f"JPEG DCT frame with {len(comps)} components (grayscale or YCbCr only)"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
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


def _jpeg_scan_grid(frame, members, unit: int):
    """``(mcux, mcuy, factors)`` of a scan over frame components
    ``members`` with data units of unit x unit samples (8 for DCT, 1
    for lossless), T.81 A.2: an interleaved scan walks ceil(w / (unit *
    hmax)) x ceil(h / (unit * vmax)) MCUs of h_i x v_i units per
    component (planes padded to the MCU grid); a single-component scan
    walks that component's own ceil(ceil(w * h_i / hmax) / unit) x
    ceil(ceil(h * v_i / vmax) / unit) grid, one unit per MCU."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(members) == 1:
        c = comps[members[0]]
        cw = -(-frame["w"] * c["h"] // hmax)
        ch = -(-frame["h"] * c["v"] // vmax)
        return -(-cw // unit), -(-ch // unit), [(1, 1)]
    factors = [(comps[ci]["h"], comps[ci]["v"]) for ci in members]
    return -(-frame["w"] // (unit * hmax)), -(-frame["h"] // (unit * vmax)), factors


def _jpeg_scan_units(mcux: int, mcuy: int, factors):
    """Restart units (MCUs) of a scan as lists of (scan component, unit
    row, unit column) in T.81 order."""
    per_mcu = [
        (k, v_i, h_i, v, h)
        for k, (h_i, v_i) in enumerate(factors)
        for v in range(v_i)
        for h in range(h_i)
    ]
    for my in range(mcuy):
        for mx in range(mcux):
            yield [(k, my * v_i + v, mx * h_i + h) for k, v_i, h_i, v, h in per_mcu]


def _jpeg_alloc_coeff(frame) -> list:
    """Per-component coefficient accumulators, sized to the interleaved
    MCU grid (a superset of each single-component grid): (bh, bw, 64)
    int64 in natural (row-major block) order."""
    import numpy as np

    mcux, mcuy, factors = _jpeg_scan_grid(frame, range(len(frame["comps"])), 8)
    return [np.zeros((mcuy * v_i, mcux * h_i, 64), dtype=np.int64) for h_i, v_i in factors]


def _jpeg_idct(coeff, q, shift: float):
    """Dequantize + 8x8 IDCT: natural-order (bh, bw, 64) coefficients ->
    the (bh*8, bw*8) float plane, level ``shift`` added. The batched
    matmul runs numpy's same 8x8 product per block, so it is
    bit-identical to a per-block ``basis.T @ blk @ basis`` (a 3-operand
    einsum is not: it associates differently in the last ulp). The
    decoder's frame finish and the hierarchical closed-loop encoder
    both call it, so the encoder replays the decoder's arithmetic."""
    import numpy as np

    bh, bw = coeff.shape[:2]
    basis = _dct_basis()
    blocks = coeff.reshape(bh, bw, 8, 8).astype(np.float64) * q
    spatial = basis.T @ blocks @ basis + shift
    return spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _jpeg_fdct(plane, quant: int, shift: float):
    """Forward DCT + flat quantization of one float plane, edge-padded
    to the 8x8 grid, level ``shift`` removed first (0.0 for hierarchical
    differential frames): int64 (bh, bw, 64) blocks in ZIGZAG-STREAM
    order."""
    import numpy as np

    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    full = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    basis = _dct_basis()
    sp = (full - shift).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    co = np.einsum("ab,ijbc,cd->ijad", basis, sp, basis.T)
    qz = np.rint(co / float(quant)).astype(np.int64).reshape(bh, bw, 64)
    return qz[:, :, _ZIGZAG]


def _jpeg_dezigzag(blocks):
    """Zigzag-stream (bh, bw, 64) blocks -> natural (row-major) order."""
    import numpy as np

    out = np.empty_like(blocks)
    out[..., _ZIGZAG] = blocks
    return out


# ------------------------------------------------ the DCT scan walker
# One walk for every DCT scan, decoding and encoding alike: the restart
# cadence and the block order (T.81 A.2: MCUs of h x v blocks per
# component in an interleaved scan, the component's own block grid in a
# single-component scan) live in _jpeg_walk_scan; the per-block entropy
# work is a coder's dc_first / dc_refine / ac_first / ac_refine
# (progressive, T.81 Annex G; a sequential block is dc_first + ac_first
# over 1..63 at Al=0). The successive-approximation correction-bit
# arithmetic relies on Python ints being two's-complement for & and |=,
# exactly like the spec's sample arithmetic.


def _jpeg_walk_scan(coder, frame, members, band, blocks, restart_interval) -> None:
    """Run one DCT scan's blocks through ``coder`` — a decoder filling
    natural-order coefficient rows or a writer reading zigzag rows of
    ``blocks[component]`` — with restarts every ``restart_interval``
    units."""
    ss, se, ah, _ = band
    if ss and len(members) > 1:
        raise ValueError("progressive AC scan with multiple components")
    ops = []
    if ss == 0:
        ops.append(coder.dc_refine if ah else coder.dc_first)
    if se:
        ops.append(coder.ac_refine if ah else coder.ac_first)
    rst = 0
    units = _jpeg_scan_units(*_jpeg_scan_grid(frame, members, 8))
    for unit, blks in enumerate(units):
        if restart_interval and unit and unit % restart_interval == 0:
            coder.restart(rst)
            rst = (rst + 1) % 8
        for k, by, bx in blks:
            ci = members[k]
            row = blocks[ci][by, bx]
            for op in ops:
                op(ci, row)


class _ScanCoder:
    """Band fields and DC predictions shared by the four coders (AC work
    starts at max(Ss, 1): a sequential block's AC band is 1..63)."""

    def __init__(self, ncomp: int, band) -> None:
        ss, se, _, al = band
        self.ncomp = ncomp
        self.ss, self.se, self.al = max(ss, 1), se, al
        self.p1, self.m1 = 1 << al, -1 << al
        self.pred = [0] * ncomp


def _jpeg_huff_table(huff, tc: int, th: int) -> _HuffTable:
    if (tc, th) not in huff:
        raise ValueError("JPEG scan references an undeclared Huffman table")
    return huff[(tc, th)]


class _HuffScanDecoder(_ScanCoder):
    """Huffman decoding of one DCT scan (T.81 F.2.2, G.2): DC differences,
    AC run/size codes with EOBn runs, and correction bits."""

    def __init__(self, payload, start, frame, scan, huff, band) -> None:
        super().__init__(len(frame["comps"]), band)
        self.reader = _BitReader(payload, start)
        self.eobrun = 0
        self.dc_t, self.ac_t = {}, {}
        for ci, c in enumerate(frame["comps"]):
            if c["id"] in scan:
                td, ta = scan[c["id"]]
                if band[0] == 0 and band[2] == 0:
                    self.dc_t[ci] = _jpeg_huff_table(huff, 0, td)
                if band[1]:
                    self.ac_t[ci] = _jpeg_huff_table(huff, 1, ta)

    def restart(self, n: int) -> None:
        self.reader.sync_restart(n)
        self.pred = [0] * self.ncomp
        self.eobrun = 0

    def next_marker(self) -> int:
        return self.reader.next_marker()

    def dc_first(self, ci: int, blk) -> None:
        self.pred[ci] += _huff_read_diff(self.reader, self.dc_t[ci])
        blk[0] = self.pred[ci] << self.al

    def dc_refine(self, ci: int, blk) -> None:
        if self.reader.read_bit():
            blk[0] |= self.p1

    def ac_first(self, ci: int, blk) -> None:
        """AC first scan (Ah=0): run/size with EOBn run-length codes;
        decoded values enter at magnitude << Al."""
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        reader, ac_t, se = self.reader, self.ac_t[ci], self.se
        k = self.ss
        while k <= se:
            rs = reader.decode_symbol(ac_t)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                self.eobrun = (1 << r) - 1
                if r:
                    self.eobrun += reader.read_bits(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient past the band end")
            blk[_ZIGZAG[k]] = _jpeg_extend(reader.read_bits(s), s) << self.al
            k += 1

    def ac_refine(self, ci: int, blk) -> None:
        """AC refinement scan (Ah>0): newly-nonzero coefficients arrive
        as +-1<<Al; every already-nonzero coefficient passed over reads
        one correction bit (G.1.2.3)."""
        reader, ac_t, se, p1, m1 = self.reader, self.ac_t[ci], self.se, self.p1, self.m1
        k = self.ss
        if self.eobrun == 0:
            while k <= se:
                rs = reader.decode_symbol(ac_t)
                r, s = rs >> 4, rs & 0x0F
                s_val = 0
                if s == 0:
                    if r < 15:
                        self.eobrun = 1 << r
                        if r:
                            self.eobrun += reader.read_bits(r)
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
        if self.eobrun > 0:
            while k <= se:
                z = _ZIGZAG[k]
                if blk[z] != 0:
                    if reader.read_bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                k += 1
            self.eobrun -= 1


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


def _huff_put_diff(put, codes, diff: int) -> None:
    """Encoder mirror of :func:`_huff_read_diff`: category code, then
    the EXTEND bits (a lossless difference of -32768 is category 16,
    read back as 32768 modulo 2^16, with no bits)."""
    size = abs(diff).bit_length()
    length, code = codes[size]
    put(code, length)
    if 0 < size < 16:
        put(diff if diff >= 0 else diff + (1 << size) - 1, size)


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


#: single-length canonical tables shared by the JPEG writers: DC sizes
#: 0..11 at 4 bits; baseline AC (EOB, ZRL, run/size) at 9 bits
_JPEG_DC_SYMS = bytes(range(12))
_JPEG_DC_BITS = [0] * 16
_JPEG_DC_BITS[3] = 12  # 4-bit codes
_JPEG_AC_SYMS = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[8] = len(_JPEG_AC_SYMS)  # 9-bit codes

#: progressive AC table adds the EOBn run-length symbols (r<<4 | 0 for
#: r in 1..14) to the baseline set: all (run, size 0..10) combinations,
#: 176 symbols, single canonical length 9 (< 2^9 - 1)
_JPEG_AC_PROG_SYMS = bytes((r << 4) | s for r in range(16) for s in range(11))
_JPEG_AC_PROG_BITS = [0] * 16
_JPEG_AC_PROG_BITS[8] = len(_JPEG_AC_PROG_SYMS)

#: (bits, symbols, longest EOB run the table can code): the baseline
#: table has no EOBn symbols, so its writer ends every run at one block
_HUFF_SEQ = (_JPEG_AC_BITS, _JPEG_AC_SYMS, 1)
_HUFF_PROG = (_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_SYMS, 0x7FFF)


class _HuffScanWriter(_ScanCoder):
    """Huffman encoding of one DCT scan (T.81 F.1.2, G.1.2) over zigzag
    blocks — the mirror of :class:`_HuffScanDecoder`; ``ac_table`` is
    ``_HUFF_SEQ`` or ``_HUFF_PROG``. Every component codes with tables
    0."""

    def __init__(self, ncomp: int, band, ac_table) -> None:
        super().__init__(ncomp, band)
        bits, syms, self.max_eobrun = ac_table
        self.dc_enc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
        self.ac_enc = _canonical_codes(bits, syms)
        self.wtr = _BitWriter()
        self.eobrun = 0
        self.pend: list[int] = []  # correction bits carried with the EOB run

    def _flush_eob(self) -> None:
        if self.eobrun:
            put = self.wtr.put
            r = self.eobrun.bit_length() - 1
            length, code = self.ac_enc[r << 4]
            put(code, length)
            if r:
                put(self.eobrun - (1 << r), r)
            for b in self.pend:
                put(b, 1)
            self.eobrun = 0
            self.pend = []

    def restart(self, n: int) -> None:
        self._flush_eob()
        self.wtr.pad()  # flush to byte boundary with 1-padding, emit RSTn
        self.wtr.buf.extend((0xFF, 0xD0 + n))
        self.pred = [0] * self.ncomp

    def finish(self) -> bytes:
        self._flush_eob()
        self.wtr.pad()
        return bytes(self.wtr.buf)

    def dc_first(self, ci: int, zz) -> None:
        v = int(zz[0]) >> self.al
        _huff_put_diff(self.wtr.put, self.dc_enc, v - self.pred[ci])
        self.pred[ci] = v

    def dc_refine(self, ci: int, zz) -> None:
        self.wtr.put((int(zz[0]) >> self.al) & 1, 1)

    def ac_first(self, ci: int, zz) -> None:
        al, put, ac_enc = self.al, self.wtr.put, self.ac_enc
        r = 0
        for v in zz[self.ss : self.se + 1].tolist():
            t = v >> al if v >= 0 else -((-v) >> al)
            if t == 0:
                r += 1
                continue
            self._flush_eob()
            while r > 15:
                length, code = ac_enc[0xF0]
                put(code, length)
                r -= 16
            size = abs(t).bit_length()
            length, code = ac_enc[(r << 4) | size]
            put(code, length)
            put(t if t >= 0 else t + (1 << size) - 1, size)
            r = 0
        if r:
            self.eobrun += 1
            if self.eobrun == self.max_eobrun:
                self._flush_eob()

    def ac_refine(self, ci: int, zz) -> None:
        put, ac_enc = self.wtr.put, self.ac_enc
        vals = zz[self.ss : self.se + 1].tolist()
        absv = [abs(v) >> self.al for v in vals]
        eob = max((k for k, t in enumerate(absv) if t == 1), default=-1)
        r = 0
        br: list[int] = []
        for k, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # ZRL only when it can't fold into the EOB run
            while r > 15 and k <= eob:
                self._flush_eob()
                length, code = ac_enc[0xF0]
                put(code, length)
                r -= 16
                for b in br:
                    put(b, 1)
                br = []
            if t > 1:  # history coefficient: one correction bit
                br.append(t & 1)
                continue
            self._flush_eob()
            length, code = ac_enc[(r << 4) | 1]
            put(code, length)
            put(1 if vals[k] > 0 else 0, 1)
            for b in br:
                put(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            self.eobrun += 1
            self.pend.extend(br)
            if self.eobrun == self.max_eobrun:
                self._flush_eob()


# ------------------------------------------- arithmetic-coded JPEG
# DCT with arithmetic entropy coding, sequential (SOF9) and
# progressive (SOF10). Structure:
#
# - the probability state machine is Table D.3 of ITU-T T.81 (Qe,
#   NMPS, NLPS, SWITCH — spec constants, like the Annex-K Huffman
#   tables the baseline path pins against), plus the spec's fixed
#   non-adapting 0.5 state used for AC sign decisions;
# - the statistics model is Annex F's sequential DC/AC conditioning
#   (DC: 5 prev-diff classes x {S0,SS,SP,SN} + shared X1..X15/M bins,
#   49 per table; AC: {SE,S0,SP} per K + low/high X2../M.. ranges split
#   at Kx, 245 per table; conditioning bounds from the DAC segment,
#   defaults L=0, U=1, Kx=5); progressive scans (G.2) reuse those bins
#   with NO EOB runs — the per-K SE bins carry the end-of-band decision
#   block by block, and correction bits code through the fixed 0.5
#   state / SP bins;
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


def _qm_decode_diff(dec, bins, base: int, ladder: int) -> tuple[int, int, int]:
    """One signed difference off the QM decoder — the tree the DC model
    (T.81 F.2.4.1) and the lossless model (H.1.2.2) share: zero decision
    at ``bins[base]``, sign at base+1, Sz>0 at base+2+sign, magnitude
    category up the X1.. ladder that starts at ``ladder``, mantissa from
    the matching M bin (ladder position + 14). Returns ``(diff, m,
    sign)``; ``m`` (the category's top bit) and the sign feed
    :func:`_qm_class`."""
    if dec.decode(bins[base]) == 0:
        return 0, 0, 0
    sign = dec.decode(bins[base + 1])
    m = dec.decode(bins[base + 2 + sign])
    xb = ladder
    if m:
        while dec.decode(bins[xb]):
            m <<= 1
            xb += 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic magnitude overflow")
    v = m
    if m:
        mbin = bins[xb + 14]
        mm = m >> 1
        while mm:
            if dec.decode(mbin):
                v |= mm
            mm >>= 1
    v += 1
    return (-v if sign else v), m, sign


def _qm_encode_diff(enc, bins, base: int, ladder: int, diff: int) -> tuple[int, int]:
    """Encoder mirror of :func:`_qm_decode_diff`; returns ``(m, sign)``."""
    if diff == 0:
        enc.encode(bins[base], 0)
        return 0, 0
    enc.encode(bins[base], 1)
    sign = 1 if diff < 0 else 0
    enc.encode(bins[base + 1], sign)
    sz = (diff if diff > 0 else -diff) - 1
    spb = bins[base + 2 + sign]
    xb = ladder
    m = 0
    if sz == 0:
        enc.encode(spb, 0)
    else:
        enc.encode(spb, 1)
        m = 1
        msb = 1 << (sz.bit_length() - 1)
        while m < msb:
            enc.encode(bins[xb], 1)
            m <<= 1
            xb += 1
        enc.encode(bins[xb], 0)
    if m:
        mbin = bins[xb + 14]
        mm = m >> 1
        while mm:
            enc.encode(mbin, 1 if sz & mm else 0)
            mm >>= 1
    return m, sign


def _qm_class(diff: int, m: int, sign: int, cond) -> int:
    """5-way (zero / +-small / +-large) class of a coded difference from
    its category top bit ``m`` and the DAC (L, U) bounds: 0, 1 + sign
    or 3 + sign. Four times it is the DC model's conditioning context
    (F.1.4.4.1.2); the lossless model classifies Da and Db with it."""
    low, up = cond
    if diff == 0 or m < (1 << low):
        return 0
    if m > (1 << up):
        return 3 + sign
    return 1 + sign


def _arith_sync_restart(payload: bytes, bits: _ArithBits, n: int) -> int:
    """Find and consume the byte-aligned RSTn after the current
    interval's entropy data. Unambiguous scan: inside arithmetic data,
    0xFF is always followed by a stuffed byte <= 0x7F, so the first
    0xFF followed by > 0x8F is the marker."""
    p = _arith_next_marker(payload, bits)
    if p + 1 >= len(payload):
        raise ValueError("truncated JPEG arithmetic stream at restart")
    if payload[p + 1] != 0xD0 + n:
        raise ValueError("missing JPEG restart marker")
    return p + 2


def _arith_next_marker(payload: bytes, bits: _ArithBits) -> int:
    """Position of the marker terminating the current entropy segment."""
    d = payload
    p = bits.marker_pos if bits.marker_pos is not None else bits.pos
    while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] > 0x8F):
        p += 1
    return p


def _arith_decode_ac_band(dec, astats, fixed, blk, ss, se, al, kx) -> None:
    """AC first pass (Ah=0) over band [ss, se] (F.2.4.2, G.2): EOB
    decision and zero runs through the per-K {SE, S0} bins, sign from
    the fixed state, magnitude through SP then the low/high X2.. ladder
    (split at Kx), mantissa from the matching M bin; values enter the
    natural-order block at magnitude << Al. A sequential block's AC
    part is band 1..63 at Al=0."""
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


def _arith_ac_first_block(enc, astats, fixed, zz, ss, se, al, kx) -> None:
    """AC first pass (Ah=0) of ONE zigzag block through the QM coder —
    the T.81 Annex G EOB/S0/SE-bin decision tree at ``Al=al`` (a
    sequential block's AC part is band 1..63 at Al=0)."""
    t_of = [v >> al if v >= 0 else -((-v) >> al) for v in zz.tolist()]
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


class _ArithScanDecoder(_ScanCoder):
    """QM-coder decoding of one DCT scan (T.81 F.2.4, G.2): Annex F
    statistics per declared table and conditioning from DAC (defaults
    L=0, U=1, Kx=5), coder and statistics fresh at every restart."""

    def __init__(self, payload, start, frame, scan, dc_cond, ac_cond, band) -> None:
        super().__init__(len(frame["comps"]), band)
        self.payload = payload
        self.td, self.ta, self.cond, self.kx = {}, {}, {}, {}
        for ci, c in enumerate(frame["comps"]):
            if c["id"] in scan:
                td, ta = scan[c["id"]]
                self.td[ci], self.ta[ci] = td, ta
                self.cond[ci] = dc_cond.get(td, (0, 1))
                self.kx[ci] = ac_cond.get(ta, 5)
        self.fixed = [113, 0]
        self._fresh(start)

    def _fresh(self, pos: int) -> None:
        self.bits = _ArithBits(self.payload, pos)
        self.dec = _QMDecoder(self.bits)
        self.dc_stats, self.ac_stats = _fresh_arith_stats(
            set(self.td.values()), set(self.ta.values())
        )
        self.pred = [0] * self.ncomp
        self.ctx = [0] * self.ncomp

    def restart(self, n: int) -> None:
        self._fresh(_arith_sync_restart(self.payload, self.bits, n))

    def next_marker(self) -> int:
        return _arith_next_marker(self.payload, self.bits)

    def dc_first(self, ci: int, blk) -> None:
        diff, m, sign = _qm_decode_diff(self.dec, self.dc_stats[self.td[ci]], self.ctx[ci], 20)
        self.ctx[ci] = 4 * _qm_class(diff, m, sign, self.cond[ci])
        self.pred[ci] += diff
        blk[0] = self.pred[ci] << self.al

    def dc_refine(self, ci: int, blk) -> None:
        if self.dec.decode(self.fixed):
            blk[0] |= self.p1

    def ac_first(self, ci: int, blk) -> None:
        _arith_decode_ac_band(
            self.dec, self.ac_stats[self.ta[ci]], self.fixed, blk,
            self.ss, self.se, self.al, self.kx[ci],
        )

    def ac_refine(self, ci: int, blk) -> None:
        _arith_decode_ac_refine(
            self.dec, self.ac_stats[self.ta[ci]], self.fixed, blk,
            self.ss, self.se, self.p1, self.m1,
        )


class _ArithScanWriter(_ScanCoder):
    """QM-coder encoding of one DCT scan (T.81 F.1.4, G.1.3) over zigzag
    blocks — the mirror of :class:`_ArithScanDecoder` with the default
    conditioning; component k codes with tables ``tids[k]``."""

    def __init__(self, ncomp: int, band, tids) -> None:
        super().__init__(ncomp, band)
        self.tids = tids
        self.out = bytearray()
        self.fixed = [113, 0]
        self._fresh()

    def _fresh(self) -> None:
        self.enc = _QMEncoder()
        self.dc_stats, self.ac_stats = _fresh_arith_stats(set(self.tids), set(self.tids))
        self.pred = [0] * self.ncomp
        self.ctx = [0] * self.ncomp

    def restart(self, n: int) -> None:
        self.out += _pack_arith_bits(self.enc.flush())
        self.out += bytes((0xFF, 0xD0 + n))
        self._fresh()

    def finish(self) -> bytes:
        self.out += _pack_arith_bits(self.enc.flush())
        return bytes(self.out)

    def dc_first(self, ci: int, zz) -> None:
        v = int(zz[0]) >> self.al
        diff = v - self.pred[ci]
        m, sign = _qm_encode_diff(self.enc, self.dc_stats[self.tids[ci]], self.ctx[ci], 20, diff)
        self.ctx[ci] = 4 * _qm_class(diff, m, sign, (0, 1))
        self.pred[ci] = v

    def dc_refine(self, ci: int, zz) -> None:
        self.enc.encode(self.fixed, (int(zz[0]) >> self.al) & 1)

    def ac_first(self, ci: int, zz) -> None:
        _arith_ac_first_block(
            self.enc, self.ac_stats[self.tids[ci]], self.fixed, zz,
            self.ss, self.se, self.al, 5,
        )

    def ac_refine(self, ci: int, zz) -> None:
        enc, astats, ss, se = self.enc, self.ac_stats[self.tids[ci]], self.ss, self.se
        vals = zz.tolist()
        t_of = [abs(v) >> self.al for v in vals]
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
                    enc.encode(astats[base], 1)  # EOB
                    break
                enc.encode(astats[base], 0)
            while True:
                t = t_of[k]
                if t >= 2:  # previously nonzero: correction bit
                    enc.encode(astats[base + 2], t & 1)
                    break
                if t == 1:  # newly nonzero this scan
                    enc.encode(astats[base + 1], 1)
                    enc.encode(self.fixed, 1 if vals[k] < 0 else 0)
                    break
                enc.encode(astats[base + 1], 0)
                base += 3
                k += 1
            k += 1


# ------------------------------------------------------- DCT writers
# Writers share one segment writer (_seg), the frame/scan headers, and
# the scan walker above; the four single-frame writers differ only in
# SOF marker and scan script, and the hierarchical DCT writer runs the
# same scans per pyramid level.


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, marker, big-endian length, body."""
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_frame(width: int, height: int, factors) -> dict:
    """Writer-side frame in the decoder's frame shape: 8-bit precision,
    components 1..n with sampling ``factors`` on quantization table 0."""
    return {
        "w": width,
        "h": height,
        "comps": [
            {"id": k + 1, "h": h_i, "v": v_i, "tq": 0}
            for k, (h_i, v_i) in enumerate(factors)
        ],
    }


def _sof(marker: int, frame) -> bytes:
    """SOFn (or DHP) segment of a writer-side frame."""
    body = bytes([8]) + frame["h"].to_bytes(2, "big") + frame["w"].to_bytes(2, "big")
    body += bytes([len(frame["comps"])])
    for c in frame["comps"]:
        body += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    return _seg(marker, body)


def _sos(members, tids, ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS segment over component indices ``members``: component k uses
    DC and AC (or lossless) table ``tids[k]``."""
    body = bytes([len(members)])
    for k in members:
        body += bytes([k + 1, (tids[k] << 4) | tids[k]])
    return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))


def _dri(restart_interval: int) -> bytes:
    if not restart_interval:
        return b""
    return _seg(0xDD, restart_interval.to_bytes(2, "big"))


def _jpeg_tids(ncomp: int, arith: bool) -> list[int]:
    """Writer table ids: Huffman streams code every component with tables
    0; arithmetic streams put component 0 on tables 0, the rest on 1."""
    return [0] + [1] * (ncomp - 1) if arith else [0] * ncomp


def _dct_tables(quant: int, arith: bool, tids, ac_table) -> tuple[bytes, bytes]:
    """(DQT, DAC or DHT) of a DCT writer: flat ``quant`` table 0; DAC
    with the default conditioning (L=0, U=1, Kx=5) per table, or DHT
    with DC table 0 and ``ac_table`` as AC table 0."""
    dqt = _seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    if arith:
        body = b""
        for t in sorted(set(tids)):
            body += bytes([t, 0x10, 0x10 | t, 5])  # DC: (U<<4)|L; AC: Kx
        return dqt, _seg(0xCC, body)
    bits, syms, _ = ac_table
    return dqt, _seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + _JPEG_DC_SYMS + bytes([0x10]) + bytes(bits) + syms,
    )


def _jpeg_dct_scans(sof: int, frame, blocks, script, restart_interval, ac_table) -> bytes:
    """Every scan of one DCT frame: ``script`` lists (component indices,
    SOS (Ss, Se, Ah, Al)); a sequential frame codes whole blocks
    whatever its SOS fields say, as the decoder reads it."""
    arith, progressive = sof >= 0xC8, sof & 3 == 2
    ncomp = len(blocks)
    tids = _jpeg_tids(ncomp, arith)
    out = bytearray()
    for members, fields in script:
        band = fields if progressive else (0, 63, 0, 0)
        if arith:
            coder = _ArithScanWriter(ncomp, band, tids)
        else:
            coder = _HuffScanWriter(ncomp, band, ac_table)
        _jpeg_walk_scan(coder, frame, members, band, blocks, restart_interval)
        out += _sos(members, tids, *fields) + coder.finish()
    return bytes(out)


def _jpeg_prepare(pixels, width, height, channels, quant, subsampling):
    """Shared encoder front half: color transform, pad to the MCU grid,
    chroma mean-pooling, forward DCT, flat quantization, zigzag. Returns
    ``(frame, blocks)`` where ``blocks[ci]`` is an int64 array of shape
    (mcuy*v_i, mcux*h_i, 64) in ZIGZAG-STREAM order."""
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
        blocks.append(_jpeg_fdct(full, quant, 128.0))
    return _jpeg_frame(width, height, factors), blocks


def _encode_jpeg_dct(
    sof, pixels, width, height, channels, quant, restart_interval, subsampling,
    dc_al=0, ac_al=0, bands=(),
) -> bytes:
    """The single-frame DCT writers: SOI, DQT, SOF, DHT/DAC, DRI, then a
    sequential scan (all components interleaved, Ss..Se = 0..63) or the
    progressive scan script — an interleaved DC first scan at
    ``Al=dc_al``, per successive-approximation level DC refinement
    scans, then per component and spectral ``bands`` an AC first scan
    at ``Al=ac_al`` followed by per-level AC refinement scans."""
    frame, blocks = _jpeg_prepare(pixels, width, height, channels, quant, subsampling)
    ncomp = len(blocks)
    every = list(range(ncomp))
    if sof & 3 == 2:
        ac_table = _HUFF_PROG
        script = [(every, (0, 0, 0, dc_al))]
        script += [(every, (0, 0, a + 1, a)) for a in range(dc_al - 1, -1, -1)]
        script += [([ci], (ss, se, 0, ac_al)) for ci in every for ss, se in bands]
        script += [
            ([ci], (ss, se, a + 1, a))
            for a in range(ac_al - 1, -1, -1)
            for ci in every
            for ss, se in bands
        ]
    else:
        ac_table = _HUFF_SEQ
        script = [(every, (0, 63, 0, 0))]
    dqt, coding = _dct_tables(quant, sof >= 0xC8, _jpeg_tids(ncomp, sof >= 0xC8), ac_table)
    return (
        b"\xff\xd8" + dqt + _sof(sof, frame) + coding + _dri(restart_interval)
        + _jpeg_dct_scans(sof, frame, blocks, script, restart_interval, ac_table)
        + b"\xff\xd9"
    )


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
    flat ``quant`` quantization (1 = near-lossless: the only loss is
    rounding the float DCT coefficients and the decoded samples — not
    within +/-1, since all 64 coefficients of a block are rounded: a
    grayscale sample can move by 2, a colour one by 3 after the YCbCr
    round trip; flat 8x8 blocks are bit-exact), single-length
    canonical Huffman tables emitted via DHT (the decoder must run the
    real canonical construction — nothing is implicit). The synthesis
    side of the oracle-gated JPEG decode query and a usable thumbnail
    sink."""
    return _encode_jpeg_dct(
        0xC0, pixels, width, height, channels, quant, restart_interval, subsampling
    )


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
    return _encode_jpeg_dct(
        0xC2, pixels, width, height, channels, quant, restart_interval, subsampling,
        dc_al, ac_al, bands,
    )


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
    return _encode_jpeg_dct(
        0xC9, pixels, width, height, channels, quant, restart_interval, subsampling
    )


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
    return _encode_jpeg_dct(
        0xCA, pixels, width, height, channels, quant, restart_interval, subsampling,
        dc_al, ac_al, bands,
    )
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
# statistical model over the DC model's zero/sign/magnitude/mantissa
# tree, _qm_decode_diff / _qm_encode_diff). Boundary rules (H.1.1):
# the first sample codes against 2^(P - Pt - 1); the rest of the first
# line predicts from Ra, a line start predicts from Rb. After a restart
# marker the coder, statistics, and context classes reset and the next
# sample of each component codes against the default prediction (the
# spec's start-of-scan state); later samples resume positional rules
# over the already-reconstructed neighborhood. Encoder twins share the exact
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


class _LLGridState:
    """Per-component lossless scan state over the component's plane,
    addressed absolutely: MCU order visits a plane in (v, h) sub-blocks
    (SUBSAMPLED interleaved scans, T.81 H.2), and a 1x1 grid is the
    plain row-major walk. Default prediction for the first sample of
    the scan and for the first sample after a restart, first-line Ra,
    line-start Rb, positional predictors over reconstructed neighbors,
    and a (Da, Db) class context where a neighbor's class counts only
    if it was coded in the CURRENT restart segment — shared by decoder
    and encoder so the walks cannot diverge.

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
            return 0  # Annex J: no prediction in differential frames
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


def _jpeg_lossless_scan(
    payload, start, frame, members, scan, dc_cond, huff, restart_interval, psel,
) -> int:
    """One lossless scan (arithmetic SOF11 or Huffman SOF3, chosen by
    frame['arith']) into ``frame['planes'][component index]``; returns
    the payload position of the next marker. Differences live modulo
    2^16 (signed window [-32768, 32767]); reconstruction adds back
    modulo 2^16. A differential frame (hierarchical SOF7/SOF15) decodes
    with the same entropy machinery and zero prediction: the stored
    plane IS the mod-2^16 difference signal the caller adds to its
    reference."""
    import numpy as np

    comps = frame["comps"]
    default = 1 << (frame["prec"] - frame["pt"] - 1)
    mcux, mcuy, factors = _jpeg_scan_grid(frame, members, 1)
    tids = [scan[comps[ci]["id"]][0] for ci in members]
    conds = [dc_cond.get(t, (0, 1)) for t in tids]
    arith = frame["arith"]
    if arith:
        bits = _ArithBits(payload, start)
        dec = _QMDecoder(bits)
        stats = _ll_fresh_stats(set(tids))
    else:
        reader = _BitReader(payload, start)
        tables = [_jpeg_huff_table(huff, 0, t) for t in tids]
    rst = 0

    def sync_restart() -> None:
        nonlocal bits, dec, stats, rst
        if arith:
            bits = _ArithBits(payload, _arith_sync_restart(payload, bits, rst))
            dec = _QMDecoder(bits)
            stats = _ll_fresh_stats(set(tids))
        else:
            reader.sync_restart(rst)
        rst = (rst + 1) % 8

    def next_diff(k: int, ci25: int, big: bool):
        if arith:
            ladder = _LL_LADDER2 if big else _LL_LADDER1
            diff, m, sign = _qm_decode_diff(dec, stats[tids[k]], 4 * ci25, ladder)
            return diff, _qm_class(diff, m, sign, conds[k])
        return _huff_read_diff(reader, tables[k]), 0

    states = [
        _LLGridState(mcux * h_i, mcuy * v_i, default, frame["differential"])
        for h_i, v_i in factors
    ]
    for mcu, samples in enumerate(_jpeg_scan_units(mcux, mcuy, factors)):
        if restart_interval and mcu and mcu % restart_interval == 0:
            sync_restart()
            for s in states:
                s.reset_restart()
        for k, r, c in samples:
            s = states[k]
            ci25, big = s.context(r, c) if arith else (0, False)
            diff, cls = next_diff(k, ci25, big)
            sample = (s.predict(r, c, psel) + diff) & 0xFFFF
            s.push(r, c, sample, cls)
    for k, ci in enumerate(members):
        frame["planes"][ci] = np.array(states[k].grid, dtype=np.int64)
    return _arith_next_marker(payload, bits) if arith else reader.next_marker()


def _jpeg_raw_pixels(frame, full) -> dict:
    """The module's image dict from cropped component planes, stacked
    as-is (no color transform); precision > 8 packs big-endian 16-bit
    samples."""
    import numpy as np

    arr = full[0] if len(full) == 1 else np.stack(full, axis=-1)
    pix = arr.astype(np.uint8) if frame["prec"] <= 8 else arr.astype(">u2")
    return {
        "format": "jpeg",
        "width": frame["w"],
        "height": frame["h"],
        "channels": len(full),
        "pixels": pix.tobytes(),
    }


def _jpeg_ll_assemble(frame, planes) -> dict:
    """Final lossless stage: shift the point transform back in, upsample
    subsampled components by sample replication (interleaved scans —
    whose planes arrive MCU-padded from the grid walk — and
    non-interleaved alike; the crop drops any padding), and emit.
    T.81 defines no color transform for lossless — 3 components are
    emitted as-is (RGB by convention)."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci] << frame["pt"]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    return _jpeg_raw_pixels(frame, full)


#: canonical DC Huffman table covering difference categories 0..16 —
#: 2 codes of length 3, one per length 4..15, 3 at the spec's 16-bit
#: ceiling (Kraft sum 0.375 + 2^-16: a valid canonical layout; encoder
#: and DHT segment share it, the decoder reads whatever DHT declares)
_LL_HUFF_BITS = [0, 0, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 3]
_LL_HUFF_SYMS = bytes(range(17))


def _ll_tables(arith: bool) -> bytes:
    """DAC (table 0 DC conditioning L=0, U=1) or DHT (table 0) of the
    lossless writers."""
    if arith:
        return _seg(0xCC, bytes([0, 0x10]))
    return _seg(0xC4, bytes([0x00]) + bytes(_LL_HUFF_BITS) + _LL_HUFF_SYMS)


def _ll_encode_scan_mcu(
    frame,
    members,
    plane_rows,
    predictor: int,
    restart_interval: int,
    arith: bool,
    default: int,
    differential: bool = False,
) -> bytes:
    """Entropy bytes of ONE lossless scan over frame components
    ``members`` — the encoder mirror of :func:`_jpeg_lossless_scan`'s
    MCU walk: the same scan grid and unit order, and prediction/context
    through the SAME _LLGridState the decoder runs, so the walks cannot
    diverge. ``plane_rows[k]`` is the k-th member's plane at its OWN
    (MCU-padded) resolution. ``differential=True`` codes mod-2^16
    difference planes with zero prediction (Annex J SOF7/SOF15)."""
    mcux, mcuy, factors = _jpeg_scan_grid(frame, members, 1)
    hcodes = _canonical_codes(_LL_HUFF_BITS, _LL_HUFF_SYMS)
    states = [
        _LLGridState(mcux * h_i, mcuy * v_i, default, differential)
        for (h_i, v_i) in factors
    ]
    entropy = bytearray()
    if arith:
        enc = _QMEncoder()
        stats = _ll_fresh_stats({0})
    else:
        writer = _BitWriter()
    rst = 0
    for mcu, samples in enumerate(_jpeg_scan_units(mcux, mcuy, factors)):
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
        for k, r, c in samples:
            s = states[k]
            sample = plane_rows[k][r][c]
            dm = (sample - s.predict(r, c, predictor)) & 0xFFFF
            diff = dm - 0x10000 if dm >= 0x8000 else dm
            if arith:
                ci25, big = s.context(r, c)
                ladder = _LL_LADDER2 if big else _LL_LADDER1
                m, sign = _qm_encode_diff(enc, stats[0], 4 * ci25, ladder, diff)
                cls = _qm_class(diff, m, sign, (0, 1))
            else:
                _huff_put_diff(writer.put, hcodes, diff)
                cls = 0
            s.push(r, c, sample, cls)
    if arith:
        entropy += _pack_arith_bits(enc.flush())
    else:
        writer.pad()
        entropy += writer.buf
    return bytes(entropy)


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
    factors = [(hs, vs)] + [(1, 1)] * (channels - 1)
    every = list(range(channels))
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
        scans = [(every, sub_rows)]
    else:
        groups = [every] if interleave else [[c] for c in every]
        scans = [(ids, [plane_rows[c] for c in ids]) for ids in groups]
    frame = _jpeg_frame(width, height, factors)
    out = bytearray(b"\xff\xd8")
    out += _sof(0xCB if arith else 0xC3, frame)
    out += _ll_tables(arith) + _dri(restart_interval)
    for ids, rows in scans:
        # Ss = predictor, Se = 0, Al = point transform; table 0
        out += _sos(ids, [0] * channels, predictor, 0, 0, point_transform)
        out += _ll_encode_scan_mcu(
            frame, ids, rows, predictor, restart_interval, arith, default
        )
    out += b"\xff\xd9"
    return bytes(out)


# ------------------- hierarchical JPEG (Annex J, SOF5/6/7/13/14/15)
# T.81 hierarchical mode: a DHP segment (SOF syntax) declares the
# full-resolution geometry, the FIRST frame is a non-differential frame
# at reduced resolution, and each following EXP + differential frame
# doubles the reference with the J.1.1.2 bilinear filter and adds a
# coded difference signal. The marker walk decodes every frame through
# the ordinary scan paths and folds it into the reference here:
# lossless pyramids (SOF3/SOF11 base + SOF7/SOF15 differentials,
# bit-exact on arbitrary samples), sequential DCT (SOF0/SOF9 base +
# SOF5/SOF13) and progressive DCT (SOF2/SOF10 base + SOF6/SOF14), no
# level shift in differential DCT frames, rounded+clamped reference
# folds, at any channel count (components are raw planes — no color
# transform). The encoder is CLOSED-LOOP: each frame's reference is
# its own decoded reconstruction through the decoder's _jpeg_idct. A
# nonzero point transform in a hierarchical lossless scan raises a
# named contract error (the spec allows it; a silent wrong decode
# would be worse).


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


def _jpeg_hier_fold(frame, qt, ref: dict, exp) -> dict:
    """Fold one finished hierarchical frame into the reference planes
    (component id -> int64 plane): a non-differential frame replaces
    them; a differential frame adds its difference planes to the
    references expanded by ``exp`` (EXP's (Eh, Ev)) — mod 2^16 for
    lossless, rounded and clamped to precision for DCT (the rules the
    encoder twin replays)."""
    import numpy as np

    comps = frame["comps"]
    planes = _jpeg_frame_planes(frame, qt)
    dct = not frame["lossless"]
    lim = (1 << frame["prec"]) - 1
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = dict(ref) if frame["differential"] else {}
    for ci, c in enumerate(comps):
        p = planes[ci]
        if dct:
            # DCT planes come back MCU-padded floats: crop to the
            # frame's component dims
            p = p[: -(-frame["h"] * c["v"] // vmax), : -(-frame["w"] * c["h"] // hmax)]
        if not frame["differential"]:
            out[c["id"]] = np.asarray(
                np.clip(np.rint(p), 0, lim) if dct else p, dtype=np.int64
            )
            continue
        if c["id"] not in ref:
            raise ValueError("differential frame before any reference frame")
        base = ref[c["id"]]
        if exp[0] or exp[1]:
            base = _jpeg_hier_upsample(base, *exp)
        hgt, wdt = p.shape
        if base.shape[0] < hgt or base.shape[1] < wdt:
            raise ValueError("hierarchical reference smaller than differential frame")
        if dct:
            out[c["id"]] = np.clip(
                base[:hgt, :wdt] + np.rint(p).astype(np.int64), 0, lim
            )
        else:
            out[c["id"]] = (base[:hgt, :wdt] + p) & 0xFFFF
    return out


def _jpeg_hier_assemble(hier, ref) -> dict:
    """The final full-resolution image from the DHP geometry."""
    if not ref:
        raise ValueError("hierarchical JPEG without DHP geometry or frames")
    full = []
    for c in hier["comps"]:
        if c["id"] not in ref:
            raise ValueError("hierarchical stream is missing a component")
        p = ref[c["id"]]
        if p.shape[0] < hier["h"] or p.shape[1] < hier["w"]:
            raise ValueError("hierarchical pyramid never reached full resolution")
        full.append(p[: hier["h"], : hier["w"]])
    return _jpeg_raw_pixels(hier, full)


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
    reference is its own DECODED reconstruction (the decoder's
    dequantize + IDCT, rounded and clamped), so the
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
    ones = [(1, 1)] * channels
    every = list(range(channels))
    out = bytearray(b"\xff\xd8")
    out += _sof(0xDE, _jpeg_frame(width, height, ones))  # DHP: full geometry
    exp = _seg(0xDF, bytes([0x11]))  # EXP: x2 both dimensions

    if mode != "lossless":
        if mode == "progressive":
            sof_base, sof_diff = (0xCA, 0xCE) if arith else (0xC2, 0xC6)
            # DC scan (all components interleaved), then one full-band
            # AC first scan PER component (progressive AC scans are
            # single-component by spec) — the minimal legal progressive
            # script (a lossless entropy reordering of the sequential
            # stream)
            script = [(every, (0, 0, 0, 0))] + [([c], (1, 63, 0, 0)) for c in every]
        else:
            sof_base, sof_diff = (0xC9, 0xCD) if arith else (0xC0, 0xC5)
            script = [(every, (0, 0, 0, 0))]
        dqt, coding = _dct_tables(quant, arith, _jpeg_tids(channels, arith), _HUFF_SEQ)
        out += dqt + coding + _dri(restart_interval)
        # per-channel closed loop: components are RAW channel planes
        # (the hierarchical assembler stacks them without any color
        # transform — the lossless-pyramid contract), each quantized,
        # coded, and reconstructed independently on the shared grid
        for k, level in enumerate(pyr):
            hk, wk = level[0].shape
            if k:  # differential: residual against the expanded reference
                sof, shift = sof_diff, 0.0
                ups = [_jpeg_hier_upsample(r, 1, 1)[:hk, :wk] for r in ref]
                out += exp
            else:  # base frame: level-shifted samples
                sof, shift, ups = sof_base, 128.0, [0] * channels
            blocks = [
                _jpeg_fdct((level[c] - ups[c]).astype(np.float64), quant, shift)
                for c in every
            ]
            frame = _jpeg_frame(wk, hk, ones)
            out += _sof(sof, frame)
            out += _jpeg_dct_scans(sof, frame, blocks, script, restart_interval, _HUFF_SEQ)
            ref = [
                np.clip(
                    ups[c]
                    + np.rint(
                        _jpeg_idct(_jpeg_dezigzag(blocks[c]), quant, shift)[:hk, :wk]
                    ).astype(np.int64),
                    0,
                    255,
                )
                for c in every
            ]
        out += b"\xff\xd9"
        return bytes(out)

    out += _ll_tables(arith) + _dri(restart_interval)
    cur = pyr[0]
    for k, level in enumerate(pyr):
        hk, wk = level[0].shape
        if k:
            rows = [
                ((level[c] - _jpeg_hier_upsample(cur[c], 1, 1)[:hk, :wk]) & 0xFFFF).tolist()
                for c in every
            ]
            out += exp
        else:
            rows = [p.tolist() for p in level]
        frame = _jpeg_frame(wk, hk, ones)
        out += _sof((0xCF if arith else 0xC7) if k else (0xCB if arith else 0xC3), frame)
        out += _sos(every, [0] * channels, 0 if k else predictor, 0, 0, 0)
        out += _ll_encode_scan_mcu(
            frame, every, rows, 1 if k else predictor, restart_interval, arith,
            1 << 7, differential=bool(k),
        )
        cur = level
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


def decode_image_header(payload: bytes) -> dict | None:
    """Real container-header decode, pure Python (no codec libraries):
    width/height/channels from the PNG IHDR chunk, the GIF logical
    screen descriptor, or the first JPEG frame header — the DHP segment
    of a hierarchical stream (its full-size geometry; the SOF frames
    after it code the smaller pyramid levels too). Returns None for
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
        try:
            while True:
                marker, seg, i = _jpeg_segment(payload, i)
                if marker in _JPEG_SOF or marker == 0xDE:  # SOFn, DHP
                    frame = _jpeg_parse_sof(seg, marker)
                    return {
                        "format": "jpeg",
                        "height": frame["h"],
                        "width": frame["w"],
                        "channels": len(frame["comps"]),
                    }
                if marker in (0xD9, 0xDA):  # EOI, or a scan before any frame
                    return None
        except ValueError:
            return None
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
