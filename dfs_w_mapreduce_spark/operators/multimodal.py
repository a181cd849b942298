"""Multimodal column conventions: opaque binary payloads + typed metadata.

The engine's convention for image/audio/video at 100 TB:
- payload: ``BinaryType`` column (parquet stores it page-compressed;
  Spark never interprets it),
- metadata: flat typed columns (mime/size/checksum/...) kept NEXT TO
  the payload so predicate pushdown can skip payload pages entirely
  when a filter touches only metadata,
- decode / feature-extract: Arrow-batched ``mapInPandas`` so bytes
  cross the JVM->Python boundary once per batch, not per row.

Codec coverage in this container: WAV (RIFF) and BMP decode is REAL
(struct-level chunk walking), PNG decode is REAL (stdlib zlib:
CRC-verified chunks, IDAT inflate, five-filter scanline
reconstruction), and baseline JPEG decode is REAL too — a
from-first-principles T.81 implementation (canonical Huffman tables
rebuilt from DHT, DC-predictor + run-length AC entropy decode,
dequantize, de-zigzag, float IDCT). Formats whose codecs aren't
buildable from stdlib+numpy (MP3, video containers) are not decoded;
the *deterministic fake* feature extractor below exercises the
identical Spark plumbing — schema, batching, partitioning — and is
oracle-checkable because its arithmetic is reproducible in SQL.

Fixtures carry no real binary column, so payloads are synthesized as
UTF-8 bytes of ``documents.text`` — byte-for-byte identical in both
engines (DuckDB ``encode()``).
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import fan_out, load_table
from dfs_w_mapreduce_spark.registry import QuerySpec


def _decode_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, n_chars) manifest that the CPU-heavy Python builders
    map over, fanned out to machine parallelism. The fixture's
    single-file parquet scan yields ONE split, so without the fan-out
    a builder runs on a single task: q_multimodal_decode's full-codec
    pass (zlib PNG + Huffman/IDCT JPEG per document) measured 4.48s ->
    1.71s at sf0.1 with it, q_multimodal_audio_fbank's filterbank
    1.18s -> 0.78s. catalog.fan_out is a no-op once the scan already
    has >= cores/2 splits, i.e. on any real many-file dataset, so this
    stays scale-adaptive rather than local-tuned. The LIGHT builders
    (audio synth, dHash, GIF frames) do NOT fan out: their Python work
    is well under a second and the extra exchange measured as a net
    loss (audio_frames 0.85 -> 1.44s)."""
    d = load_table(spark, sf_dir, "documents")
    return fan_out(spark, d.select("doc_id", "n_chars"))


# ---------------------------------------------------- real binary codecs
#
# WAV (RIFF) and BMP are pure-arithmetic public formats, so their decode
# path can be REAL in this container (struct.unpack, no codec library).
# Fixture parquet has no media column, so a builder synthesizes valid
# files deterministically from document attributes; the decoder then
# parses the actual bytes back. The oracle recomputes the decoded fields
# arithmetically — any offset/endianness bug in builder or parser breaks
# the hash match.

import struct


def _wav_sample(doc_id: int, i: int) -> int:
    """Deterministic int16 test waveform, arithmetic-mirrorable in SQL."""
    return (doc_id * 7 + i * 13) % 4096 - 2048


def build_wav(
    sample_rate: int, n_channels: int, n_samples: int, doc_id: int | None = None
) -> bytes:
    """Minimal valid 16-bit PCM WAV: RIFF header + fmt + data chunks.
    With `doc_id` given, the data chunk carries the REAL deterministic
    waveform (interleaved across channels); without it, silence."""
    bits = 16
    block_align = n_channels * bits // 8
    n_values = n_samples * n_channels
    data_size = n_values * 2
    if doc_id is None:
        data = bytes(data_size)
    else:
        data = struct.pack(
            f"<{n_values}h", *(_wav_sample(doc_id, i) for i in range(n_values))
        )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH",
            16,  # fmt chunk size
            1,  # PCM
            n_channels,
            sample_rate,
            sample_rate * block_align,  # byte rate
            block_align,
            bits,
        )
        + b"data"
        + struct.pack("<I", data_size)
        + data
    )


def decode_wav(b: bytes) -> dict:
    """Real RIFF/WAVE parser: walks the chunk list, returns the fmt
    fields and data size. Raises on malformed input."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_size,) = struct.unpack_from("<I", b, 4)
    out: dict = {"file_size": riff_size + 8}
    pos = 12
    while pos + 8 <= len(b):
        cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            (fmt, ch, rate, _brate, balign, bits) = struct.unpack_from(
                "<HHIIHH", b, pos + 8
            )
            out.update(
                audio_format=fmt, n_channels=ch, sample_rate=rate,
                block_align=balign, bits_per_sample=bits,
            )
        elif cid == b"data":
            out["data_size"] = csize
        pos += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
    return out


def decode_wav_samples(b: bytes) -> tuple:
    """REAL PCM decode: walks the RIFF chunks to the data chunk and
    unpacks the int16 little-endian samples (interleaved across
    channels). Raises on malformed containers. Shared by the per-file
    statistics path (decode_wav_pcm) and the frame-level feature
    extractor (q_multimodal_audio_frames) so the bytes are unpacked
    once per consumer call, never re-walked."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    while pos + 8 <= len(b):
        cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"data":
            raw = b[pos + 8 : pos + 8 + csize]
            if len(raw) != csize or csize % 2:
                raise ValueError("truncated data chunk")
            return struct.unpack(f"<{csize // 2}h", raw)
        pos += 8 + csize + (csize & 1)
    raise ValueError("missing data chunk")


def decode_wav_pcm(b: bytes) -> dict:
    """Per-file signal statistics (count, sum of |s|, max |s|, sum of
    s^2) over the actually-decoded PCM samples — the feature-
    extraction step done on real decoded audio, not a stand-in."""
    vals = decode_wav_samples(b)
    return {
        "n_values": len(vals),
        "sum_abs": sum(abs(v) for v in vals),
        "max_abs": max((abs(v) for v in vals), default=0),
        "sq_sum": sum(v * v for v in vals),
    }


def build_bmp(width: int, height: int) -> bytes:
    """Minimal valid 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER +
    zeroed pixel array with 4-byte row alignment."""
    stride = (width * 3 + 3) // 4 * 4
    pixel_bytes = stride * height
    file_size = 54 + pixel_bytes
    return (
        b"BM"
        + struct.pack("<IHHI", file_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      pixel_bytes, 2835, 2835, 0, 0)
        + bytes(pixel_bytes)
    )


def decode_bmp(b: bytes) -> dict:
    """Real BMP header parser (BITMAPINFOHEADER variant)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP file")
    file_size, _, _, data_offset = struct.unpack_from("<IHHI", b, 2)
    hdr_size, width, height, _planes, bpp = struct.unpack_from("<IiiHH", b, 14)
    if hdr_size < 40:
        raise ValueError("unsupported DIB header")
    return {
        "file_size": file_size,
        "data_offset": data_offset,
        "width": width,
        "height": height,
        "bpp": bpp,
    }


import zlib


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def build_png(width: int, height: int, doc_id: int) -> bytes:
    """Minimal valid 8-bit truecolor PNG (public spec, stdlib zlib):
    deterministic pixels r=(doc_id+x)%256 g=(doc_id+y)%256 b=(x+y)%256,
    each scanline FORWARD-FILTERED with type y%5 so the decoder's
    unfilter path (None/Sub/Up/Average/Paeth) is exercised for real —
    a bug in either direction breaks the pixel-sum oracle."""
    bpp, stride = 3, width * 3
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = bytes(
            v
            for x in range(width)
            for v in ((doc_id + x) % 256, (doc_id + y) % 256, (x + y) % 256)
        )
        ft = y % 5
        out.append(ft)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                out.append(row[i])
            elif ft == 1:
                out.append((row[i] - a) & 0xFF)
            elif ft == 2:
                out.append((row[i] - up) & 0xFF)
            elif ft == 3:
                out.append((row[i] - ((a + up) >> 1)) & 0xFF)
            else:
                out.append((row[i] - _paeth(a, up, c)) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> dict:
    """REAL PNG decoder, stdlib-only: chunk walk with CRC32
    verification, IHDR parse, IDAT concatenation + zlib inflate, and
    full five-filter scanline reconstruction (None/Sub/Up/Average/
    Paeth) per the PNG spec. Supports the 8-bit truecolor layout the
    builder emits; raises on signature/CRC/length violations. Returns
    header fields plus the reconstructed-pixel byte sum (the value the
    oracle recomputes arithmetically)."""
    meta, _ = _decode_png_full(b)
    return meta


def _decode_png_full(b: bytes) -> tuple[dict, bytes]:
    """Single-pass decode shared by decode_png (metadata consumer) and
    decode_png_pixels (buffer consumer) — one chunk walk, one inflate,
    one unfilter."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, b""
    while pos + 12 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if (depth, color_type, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError("unsupported PNG variant (8-bit truecolor only)")
    raw = zlib.decompress(idat)
    pixels = _png_unfilter(raw, width, height)
    meta = {
        "width": width,
        "height": height,
        "bit_depth": depth,
        "color_type": color_type,
        "raw_len": len(raw),
        "pixel_sum": sum(pixels),
    }
    return meta, pixels


def _png_unfilter(raw: bytes, width: int, height: int) -> bytes:
    """Five-filter scanline reconstruction (None/Sub/Up/Average/Paeth)
    for the 8-bit truecolor layout: inflated IDAT -> contiguous RGB
    pixel bytes (row-major). Shared by decode_png and the resize op."""
    bpp, stride = 3, width * 3
    if len(raw) != height * (1 + stride):
        raise ValueError("bad IDAT length")
    prev = bytes(stride)
    out = bytearray()
    for y in range(height):
        ft = raw[y * (1 + stride)]
        line = raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
        cur = bytearray(stride)
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            up = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            x = line[i]
            if ft == 0:
                v = x
            elif ft == 1:
                v = (x + a) & 0xFF
            elif ft == 2:
                v = (x + up) & 0xFF
            elif ft == 3:
                v = (x + ((a + up) >> 1)) & 0xFF
            elif ft == 4:
                v = (x + _paeth(a, up, c)) & 0xFF
            else:
                raise ValueError(f"bad filter type {ft}")
            cur[i] = v
        out += cur
        prev = bytes(cur)
    return bytes(out)


def decode_png_pixels(b: bytes) -> tuple[int, int, bytes]:
    """Full decode returning the reconstructed RGB buffer (the resize
    input). Same validation path as decode_png — and the same single
    decode: the chunk walk / inflate / unfilter run once (a prior
    version re-decoded from scratch after the metadata pass, paying the
    whole codec twice per multimodal_resize row)."""
    meta, pixels = _decode_png_full(b)
    return meta["width"], meta["height"], pixels


def resize_nn(b: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resize of a decoded PNG to tw x th: target
    pixel (i, j) samples source (sx, sy) = (j*w // tw, i*h // th) —
    the standard floor mapping, integer-exact, so the thumbnail is
    arithmetically oracle-checkable. Returns the RGB thumb buffer."""
    w, h, px = decode_png_pixels(b)
    out = bytearray()
    for i in range(th):
        sy = i * h // th
        for j in range(tw):
            sx = j * w // tw
            o = (sy * w + sx) * 3
            out += px[o : o + 3]
    return bytes(out)


# ------------------------------------------------- baseline JPEG codec
#
# Real baseline-DCT JPEG (ITU T.81), stdlib + numpy only — built the way
# the PNG codec was: a from-first-principles encoder (level shift, float
# FDCT, quantize, zigzag, canonical Huffman with DC-diff categories and
# AC run-length coding incl. ZRL and EOB, 0xFF byte stuffing) and a
# fully GENERAL decoder (marker walk, DQT/DHT/SOF0/SOS parse, canonical
# code reconstruction from BITS/HUFFVAL, entropy decode, dequantize,
# de-zigzag, separable float IDCT, level shift + clamp). JPEG is lossy
# in general, so SQL-checkability comes from choosing block CONTENT
# whose DCT is exactly representable: each 8x8 block is
#   p(x, y) = v + k * s(x) * s(y),   s = (+,-,-,+,+,-,-,+)
# whose only nonzero coefficients are DC = 8*(v-128) and F(4,4) = 8*k
# (the u=4 basis is +-sqrt(2)/2, so the 2D product is +-1/2 — rational).
# With a flat quantization table the encoder's round() is exact, decode
# reproduces the pixels bit-for-bit, and the oracle recomputes them
# arithmetically. The 34-zero zigzag run before F(4,4) forces two ZRL
# codes, so the AC run-length machinery executes for real.

import numpy as np

# zigzag order: zigzag index -> (row, col) raster index, per T.81 Fig 5
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Canonical Huffman tables (ours, spec-valid — DHT carries the tables,
# so a decoder must build codes from BITS/HUFFVAL, not assume Annex K):
# 12 symbols each, all 4-bit codes.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))  # DC categories 0..11
_AC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
# EOB, ZRL, and (run=6, size=1..10) — everything this encoder emits:
# F(4,4) sits at zigzag index 39, so its 38-zero run codes as two ZRLs
# plus a run-6 coefficient symbol
_AC_VALS = [0x00, 0xF0] + [0x60 | s for s in range(1, 11)]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman code assignment per T.81 Annex C: returns
    symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_IDCT_C = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)  # C[u, x]: orthonormal 1D DCT basis; FDCT = C @ f @ C.T, IDCT = C.T @ F @ C


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # entropy-coded 0xFF is escaped with 0x00
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1-bits per spec
        return bytes(self.buf)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def build_jpeg(width: int, height: int, doc_id: int, k: int) -> bytes:
    """Real baseline JPEG encoder (grayscale, flat Q=1 table): FDCT +
    quantize + zigzag + canonical-Huffman entropy coding per block.
    Block content v(bx,by) + k*s(x)*s(y) (see module comment) makes
    quantization exact; v derivation matches the oracle."""
    assert width % 8 == 0 and height % 8 == 0
    dqt = _seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))  # Pq=0/Tq=0, flat
    sof = _seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht = _seg(
        0xFFC4,
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    sos = _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dc_codes, ac_codes = _huff_codes(_DC_BITS, _DC_VALS), _huff_codes(_AC_BITS, _AC_VALS)
    s_pat = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    bw = _BitWriter()
    pred = 0
    for by in range(height // 8):
        for bx in range(width // 8):
            v = _jpeg_block_v(doc_id, bx, by)
            block = np.full((8, 8), float(v)) + float(k) * np.outer(s_pat, s_pat)
            coef = _IDCT_C @ (block - 128.0) @ _IDCT_C.T  # forward DCT
            q = np.rint(coef).astype(np.int64)  # flat Q=1 quantizer
            zz = [int(q.flat[_ZZ[i]]) for i in range(64)]
            diff = zz[0] - pred
            pred = zz[0]
            size = diff.bit_length() if diff else 0
            bw.write(*dc_codes[size])
            if size:
                bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
            run = 0
            for i in range(1, 64):
                if zz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*ac_codes[0xF0])  # ZRL: 16 zeros
                    run -= 16
                asz = abs(zz[i]).bit_length()
                bw.write(*ac_codes[(run << 4) | asz])
                bw.write(zz[i] if zz[i] > 0 else zz[i] + (1 << asz) - 1, asz)
                run = 0
            if run:
                bw.write(*ac_codes[0x00])  # EOB
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bw.flush() + b"\xff\xd9"
    )


class _BitReader:
    def __init__(self, b: bytes) -> None:
        self.b = b
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            byte = self.b[self.pos]
            self.pos += 1
            if byte == 0xFF:  # consume the stuffing byte
                if self.pos >= len(self.b) or self.b[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy stream")
                self.pos += 1
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """Magnitude-category decode: T.81 EXTEND."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(b: bytes) -> dict:
    """REAL general baseline-JPEG decoder (grayscale, no subsampling):
    marker walk, DQT/DHT/SOF0/SOS parsing, canonical Huffman
    reconstruction from BITS/HUFFVAL, entropy decode (DC predictor +
    AC run-length with ZRL/EOB), dequantize, de-zigzag, separable
    float IDCT, level shift + clamp. Raises on progressive frames,
    multi-component scans, or malformed streams. Returns header
    fields plus pixel statistics the oracle recomputes."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    scan_start = None
    comp_tq = dc_id = ac_id = None  # SOS-before-SOF0 malformed streams
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = b[pos + 1]
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        payload = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = list(payload[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                nval = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nval])
                codes = _huff_codes(bits, vals)
                huff[(tc, th)] = {(ln, code): sym for sym, (code, ln) in codes.items()}
                p += 17 + nval
        elif marker == 0xC0:  # SOF0 baseline
            prec, height, width, ncomp = struct.unpack_from(">BHHB", payload, 0)
            # per-component fields: id, sampling (H<<4|V), quant table id
            if prec != 8 or ncomp != 1 or payload[7] != 0x11:
                raise ValueError("only 8-bit single-component 1x1 supported")
            comp_tq = payload[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDA:  # SOS
            ncomp_s = payload[0]
            if ncomp_s != 1:
                raise ValueError("multi-component scan unsupported")
            dc_id, ac_id = payload[2] >> 4, payload[2] & 0xF
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if width is None or scan_start is None or comp_tq is None or dc_id is None:
        raise ValueError("missing SOF/SOS")
    if comp_tq not in qt or (0, dc_id) not in huff or (1, ac_id) not in huff:
        raise ValueError("SOS references an undefined DQT/DHT table")
    q = qt[comp_tq]
    dct, act = huff[(0, dc_id)], huff[(1, ac_id)]
    br = _BitReader(b[scan_start:])
    img = np.zeros((height, width), dtype=np.int64)
    pred = 0
    for by in range(height // 8):
        for bx in range(width // 8):
            zz = [0] * 64
            size = _huff_decode(br, dct)
            diff = _extend(br.bits(size), size) if size else 0
            pred += diff
            zz[0] = pred * q[0]
            i = 1
            while i < 64:
                sym = _huff_decode(br, act)
                if sym == 0x00:  # EOB
                    break
                run, asz = sym >> 4, sym & 0xF
                if asz == 0:
                    if run != 15:
                        raise ValueError("bad AC symbol")
                    i += 16  # ZRL
                    continue
                i += run
                if i >= 64:
                    raise ValueError("AC index overflow")
                zz[i] = _extend(br.bits(asz), asz) * q[i]
                i += 1
            coef = np.zeros(64)
            for i in range(64):
                coef[_ZZ[i]] = zz[i]
            block = _IDCT_C.T @ coef.reshape(8, 8) @ _IDCT_C
            px = np.clip(np.rint(block + 128.0), 0, 255).astype(np.int64)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    return {
        "width": width,
        "height": height,
        "pixel_sum": int(img.sum()),
        "px00": int(img[0, 0]),
        "px10": int(img[0, 1]),
    }


def _jpeg_block_v(doc_id: int, bx: int, by: int) -> int:
    """Per-block base value; kept in [16, 239] so +-k never clamps."""
    return 16 + (doc_id * 31 + bx * 7 + by * 13) % 224


# ------------------------------------------- per-document media fixtures
#
# Every media query derives its document's synthetic WAV, PNG or GIF
# from (doc_id, n_chars). Each of those rules is written once per
# engine: the Python helpers below feed the mapInPandas builders, and
# the *_sql helpers are the DuckDB oracles' arithmetic twins. The two
# sides share no text, so each oracle stays an independent check of its
# query. They stay in this module: it is registered by value with
# pyspark's cloudpickle (end of file), and a helper imported from
# another module is not importable on workers run from outside the repo.

AUDIO_FRAME = 256  # samples per analysis frame (interleaved stream)
BANDS = ("dc", "quarter", "nyquist")  # the exact-bin filterbank, argmax order
# integer DFT bases indexed by i % 4: DC, quarter-band cos and sin, Nyquist
_BAND_BASES = np.array([[1, 1, 1, 1], [1, 0, -1, 0], [0, 1, 0, -1], [1, -1, 1, -1]])


def _per_doc(schema: str):
    """Decorator: turn `rows(doc_id, n_chars)`, which returns 0..N row
    tuples, into the mapInPandas function over (doc_id, n_chars) Arrow
    batches — one output frame per input batch, columns named by the
    DDL `schema`. The result keeps the row function's name
    (functools.wraps), which the MapInPandas plan node shows."""
    columns = [field.split()[0] for field in schema.split(",")]

    def wrap(rows):
        @functools.wraps(rows)
        def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = [
                    row
                    for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"])
                    for row in rows(int(doc_id), int(n_chars))
                ]
                yield pd.DataFrame(out, columns=columns)

        return build

    return wrap


def _doc_wav(doc_id: int, n_chars: int) -> bytes:
    """The document's WAV: 8/16/24 kHz, mono or stereo, 1..1000 samples
    per channel of the _wav_sample waveform."""
    return build_wav(
        8000 * (1 + doc_id % 3), 1 + doc_id % 2, n_chars % 1000 + 1, doc_id
    )


def _doc_pcm(doc_id: int, n_chars: int) -> np.ndarray:
    """The document's WAV built and decoded back: interleaved int64 PCM."""
    return np.asarray(decode_wav_samples(_doc_wav(doc_id, n_chars)), dtype=np.int64)


def _frame_sums(x: np.ndarray, frame: int = AUDIO_FRAME) -> np.ndarray:
    """Sums over consecutive `frame`-sample windows of x's last axis
    (the last window may be short)."""
    return np.add.reduceat(x, np.arange(0, x.shape[-1], frame), axis=-1)


def _band_energies(v: np.ndarray, frame: int = AUDIO_FRAME) -> np.ndarray:
    """Energies at the three DFT bins whose basis is integer-valued —
    DC (cos=1), the quarter band (cos 1,0,-1,0; sin 0,1,0,-1) and
    Nyquist (cos +-1) — per `frame`-sample window of PCM v: one row per
    BANDS entry, one column per window. Exact integer sums of products,
    so the SQL twin reproduces them bit for bit; int64 cannot overflow,
    since at most 2000 samples of |s| <= 2048 keep every sum below 2^22
    and every energy below 2^45."""
    dc, qc, qs, ny = _frame_sums(v * _BAND_BASES[:, np.arange(len(v)) % 4], frame)
    return np.stack([dc * dc, qc * qc + qs * qs, ny * ny])


def _ilog2(e) -> np.ndarray:
    """Integer log2 compression: int.bit_length of each non-negative
    integer (0 -> 0), the oracle's length(printf('%b', e)). Never through
    float64, whose 53-bit mantissa rounds 2^54 - 1 up to 2^54."""
    bits = [int(x).bit_length() for x in np.ravel(e).tolist()]
    return np.array(bits, dtype=np.int64).reshape(np.shape(e))


def _peak_pairs(v: np.ndarray) -> Iterator[tuple[int, int, int]]:
    """Constellation pairs of PCM v (Wang 2003). A frame's peak is its
    dominant band (argmax-first: dc > quarter > nyquist) and the integer
    log2 of that band's energy; each anchor frame f pairs with its
    FP_FANOUT successors g (the target zone). Yields (f, pair_hash,
    il_f) with pair_hash = ((dom_f*3 + dom_g)*4 + g - f)*16 + clamp(il_f
    - il_g, -8, 7) + 8."""
    e = _band_energies(v)
    dom = np.argmax(e, axis=0).tolist()
    il = _ilog2(e.max(axis=0)).tolist()
    for f in range(len(dom)):
        for g in range(f + 1, min(f + FP_FANOUT, len(dom) - 1) + 1):
            dil = max(-8, min(7, il[f] - il[g]))
            yield f, ((dom[f] * 3 + dom[g]) * 4 + g - f) * 16 + dil + 8, il[f]


def _png_dims(doc_id: int, n_chars: int) -> tuple[int, int]:
    """The document's PNG width and height."""
    return doc_id % 16 + 4, n_chars % 12 + 4


# DuckDB twins. `base` holds each document's WAV header fields and nv,
# its interleaved sample count.
_PCM_BASE_SQL = """base AS (
        SELECT doc_id, rate, ch, ns * ch AS nv
        FROM (SELECT doc_id, 8000 * (1 + doc_id % 3) AS rate,
                     1 + doc_id % 2 AS ch, n_chars % 1000 + 1 AS ns
              FROM documents)
    )"""


def _wav_sample_sql(i: str) -> str:
    """_wav_sample of sample index expression i."""
    return f"((doc_id * 7 + {i} * 13) % 4096 - 2048)"


def _pcm_samples_sql(p: str = "", start_frame: int = 0, doc_filter: str = "") -> str:
    """`{p}samp`: one row (doc_id, i, s, f) per decoded sample of
    `base`, dropping the first start_frame frames (a probe snippet) and
    numbering frames from there. i stays the index into the full
    stream; AUDIO_FRAME is a multiple of 4, so i % 4 is the snippet's
    basis phase too."""
    return f"""{p}samp AS (
        SELECT doc_id, i, {_wav_sample_sql('i')} AS s,
               i // {AUDIO_FRAME} - {start_frame} AS f
        FROM base, LATERAL (SELECT unnest(range({start_frame * AUDIO_FRAME}, nv))
                            AS i) g{p}
        {doc_filter}
    )"""


def _bands_sql(p: str = "", by: str = "doc_id, f") -> str:
    """`{p}fr`: the DC sum dc and the band energies e_dc, e_q, e_ny of
    `{p}samp` per (doc, frame), or per document with by='doc_id'."""
    return f"""{p}fr AS (
        SELECT {by}, dc, dc * dc AS e_dc, qc * qc + qs * qs AS e_q, ny * ny AS e_ny
        FROM (SELECT {by},
                     CAST(sum(s) AS BIGINT) AS dc,
                     CAST(sum(s * (CASE i % 4 WHEN 0 THEN 1 WHEN 2 THEN -1
                                   ELSE 0 END)) AS BIGINT) AS qc,
                     CAST(sum(s * (CASE i % 4 WHEN 1 THEN 1 WHEN 3 THEN -1
                                   ELSE 0 END)) AS BIGINT) AS qs,
                     CAST(sum(s * (CASE i % 2 WHEN 0 THEN 1 ELSE -1 END))
                          AS BIGINT) AS ny
              FROM {p}samp GROUP BY {by})
    )"""


# index into BANDS of the dominant band (ties dc > quarter > nyquist)
_DOMINANT_SQL = """CASE WHEN e_dc >= e_q AND e_dc >= e_ny THEN 0
                    WHEN e_q >= e_ny THEN 1 ELSE 2 END"""


def _ilog2_sql(x: str) -> str:
    """bit_length of a non-negative integer expression via binary printf."""
    return f"CASE WHEN {x} = 0 THEN 0 ELSE length(printf('%b', {x})) END"


def _peak_pairs_sql(p: str = "") -> str:
    """`{p}pk` and `{p}pairs`: the _peak_pairs constellation of `{p}fr`
    as rows (doc_id, anchor, il, pair_hash)."""
    return f"""{p}pk AS (
        SELECT doc_id, f, {_DOMINANT_SQL} AS dom,
               {_ilog2_sql('greatest(e_dc, e_q, e_ny)')} AS il
        FROM {p}fr
    ),
    {p}pairs AS (
        SELECT a.doc_id, a.f AS anchor, a.il,
               ((a.dom * 3 + b.dom) * 4 + (b.f - a.f)) * 16
                   + least(greatest(a.il - b.il, -8), 7) + 8 AS pair_hash
        FROM {p}pk a
        JOIN {p}pk b ON b.doc_id = a.doc_id
                    AND b.f - a.f BETWEEN 1 AND {FP_FANOUT}
    )"""


_PNG_DIMS_SQL = "doc_id % 16 + 4 AS pw, n_chars % 12 + 4 AS ph"


def _png_rgb_sql(x: str, y: str) -> str:
    """build_png's pixel at (x, y) as columns r, g, b."""
    return f"(doc_id + {x}) % 256 AS r, (doc_id + {y}) % 256 AS g, ({x} + {y}) % 256 AS b"


DECODE_SCHEMA = (
    "doc_id long, wav_sample_rate int, wav_channels int, wav_bits int, "
    "wav_block_align int, wav_data_size long, wav_file_size long, "
    "bmp_width int, bmp_height int, bmp_bpp int, bmp_file_size long, "
    "png_width int, png_height int, png_bit_depth int, png_color_type int, "
    "png_raw_len long, png_pixel_sum long, "
    "jpg_width int, jpg_height int, jpg_pixel_sum long, "
    "jpg_px00 int, jpg_px10 int, "
    "pcm_n long, pcm_sum_abs long, pcm_max_abs int, pcm_sq_sum long"
)


@_per_doc(DECODE_SCHEMA)
def _build_decode_media(doc_id: int, n_chars: int) -> list[tuple]:
    """Build a valid WAV, BMP, PNG and baseline JPEG per document
    (params derived from doc_id / n_chars), then parse the actual bytes
    back with the real decoders. Any offset/endianness/alignment bug in
    builder OR parser changes the decoded fields and breaks the oracle
    hash match — the decode path is real, not a fake."""
    wav_bytes = _doc_wav(doc_id, n_chars)
    wav, pcm = decode_wav(wav_bytes), decode_wav_pcm(wav_bytes)
    bmp = decode_bmp(build_bmp(n_chars % 64 + 1, doc_id % 48 + 1))
    png = decode_png(build_png(*_png_dims(doc_id, n_chars), doc_id))
    jpg = decode_jpeg(
        build_jpeg(8 * (doc_id % 3 + 1), 8 * (n_chars % 3 + 1), doc_id, 1 + doc_id % 4)
    )
    return [
        (
            doc_id,
            wav["sample_rate"], wav["n_channels"], wav["bits_per_sample"],
            wav["block_align"], wav["data_size"], wav["file_size"],
            bmp["width"], bmp["height"], bmp["bpp"], bmp["file_size"],
            png["width"], png["height"], png["bit_depth"],
            png["color_type"], png["raw_len"], png["pixel_sum"],
            jpg["width"], jpg["height"], jpg["pixel_sum"],
            jpg["px00"], jpg["px10"],
            pcm["n_values"], pcm["sum_abs"], pcm["max_abs"], pcm["sq_sum"],
        )
    ]


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real binary decode: synthesize valid RIFF/WAVE, BMP, PNG AND
    baseline-JPEG files per document and parse them back. WAV/BMP are
    struct-level chunk walks; PNG is a real compressed-codec path
    (stdlib zlib: CRC-verified chunks, IDAT inflate, five-filter
    scanline reconstruction incl. Paeth — the builder rotates filter
    types per row so every unfilter branch executes); JPEG is a real
    entropy-codec path (canonical Huffman from DHT BITS/HUFFVAL, DC
    predictor, AC run-length with two forced ZRLs per block,
    dequantize, de-zigzag, float IDCT — block content chosen so
    quantization is exact, keeping the lossy format SQL-checkable).
    The WAV files now carry a REAL deterministic int16 waveform and
    the decode path computes signal statistics (sum |s|, max |s|,
    sum s^2) from the actually-unpacked PCM samples — audio feature
    extraction on decoded audio, not a stand-in. The oracle recomputes
    every decoded field — including the PNG pixel-byte sum, the JPEG
    pixel sum / probe pixels, and the PCM statistics — from the same
    params, so builder->parser roundtrips are hash-verified end to
    end."""
    return _decode_manifest(spark, sf_dir).mapInPandas(
        _build_decode_media, schema=DECODE_SCHEMA
    )


MULTIMODAL_DECODE_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    p AS (
        SELECT doc_id, {_PNG_DIMS_SQL},
               n_chars % 64 + 1 AS bw, doc_id % 48 + 1 AS bh,
               doc_id % 3 + 1 AS wb, n_chars % 3 + 1 AS hb, 1 + doc_id % 4 AS k
        FROM documents
    ),
    -- arithmetic twin of the PNG pixel generator: the sum of all
    -- reconstructed RGB bytes, recomputed without touching any codec
    ps AS (
        SELECT doc_id, SUM(r + g + b) AS pixel_sum
        FROM (SELECT doc_id, {_png_rgb_sql('x', 'y')}
              FROM p,
                   LATERAL (SELECT unnest(range(0, pw)) AS x) gx,
                   LATERAL (SELECT unnest(range(0, ph)) AS y) gy)
        GROUP BY doc_id
    ),
    -- signal statistics of the REAL decoded PCM, over the closed-form
    -- waveform
    pcm AS (
        SELECT doc_id,
               count(*) AS pcm_n,
               SUM(abs(s)) AS pcm_sum_abs,
               MAX(abs(s)) AS pcm_max_abs,
               SUM(s * s) AS pcm_sq_sum
        FROM samp
        GROUP BY doc_id
    ),
    -- arithmetic twin of the JPEG block grid: each 8x8 block is
    -- constant v(bx,by) plus a zero-sum AC pattern, so the block
    -- pixel sum is 64*v
    js AS (
        SELECT doc_id,
               SUM(64 * (16 + (doc_id * 31 + bx * 7 + by * 13) % 224))
                   AS jpg_pixel_sum
        FROM p,
             LATERAL (SELECT unnest(range(0, wb)) AS bx) gbx,
             LATERAL (SELECT unnest(range(0, hb)) AS by) gby
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(base.rate AS INT) AS wav_sample_rate,
           CAST(base.ch AS INT) AS wav_channels,
           CAST(16 AS INT) AS wav_bits,
           CAST(base.ch * 2 AS INT) AS wav_block_align,
           CAST(base.nv * 2 AS BIGINT) AS wav_data_size,
           CAST(44 + base.nv * 2 AS BIGINT) AS wav_file_size,
           CAST(p.bw AS INT) AS bmp_width,
           CAST(p.bh AS INT) AS bmp_height,
           CAST(24 AS INT) AS bmp_bpp,
           CAST(54 + ((p.bw * 3 + 3) // 4) * 4 * p.bh AS BIGINT) AS bmp_file_size,
           CAST(p.pw AS INT) AS png_width,
           CAST(p.ph AS INT) AS png_height,
           CAST(8 AS INT) AS png_bit_depth,
           CAST(2 AS INT) AS png_color_type,
           CAST(p.ph * (1 + 3 * p.pw) AS BIGINT) AS png_raw_len,
           CAST(ps.pixel_sum AS BIGINT) AS png_pixel_sum,
           CAST(8 * p.wb AS INT) AS jpg_width,
           CAST(8 * p.hb AS INT) AS jpg_height,
           CAST(js.jpg_pixel_sum AS BIGINT) AS jpg_pixel_sum,
           -- probe pixels pin the AC coefficient k and its sign pattern:
           -- px(0,0) = v(0,0) + k, px(1,0) = v(0,0) - k
           CAST(16 + (doc_id * 31) % 224 + p.k AS INT) AS jpg_px00,
           CAST(16 + (doc_id * 31) % 224 - p.k AS INT) AS jpg_px10,
           CAST(pcm.pcm_n AS BIGINT) AS pcm_n,
           CAST(pcm.pcm_sum_abs AS BIGINT) AS pcm_sum_abs,
           CAST(pcm.pcm_max_abs AS INT) AS pcm_max_abs,
           CAST(pcm.pcm_sq_sum AS BIGINT) AS pcm_sq_sum
    FROM base
    JOIN p USING (doc_id)
    JOIN ps USING (doc_id)
    JOIN pcm USING (doc_id)
    JOIN js USING (doc_id)
"""


THUMB_W, THUMB_H = 4, 4  # <= the smallest source dims (pw,ph >= 4)

RESIZE_SCHEMA = (
    "doc_id long, src_w int, src_h int, thumb_w int, thumb_h int, "
    "thumb_sum long, probe_r33 int, probe_g33 int, probe_b33 int"
)


@_per_doc(RESIZE_SCHEMA)
def _build_resize_media(doc_id: int, n_chars: int) -> list[tuple]:
    """Decode the document's PNG and nearest-neighbor resize it to
    THUMB_W x THUMB_H: thumb byte sum plus the bottom-right pixel."""
    pw, ph = _png_dims(doc_id, n_chars)
    thumb = resize_nn(build_png(pw, ph, doc_id), THUMB_W, THUMB_H)
    o = ((THUMB_H - 1) * THUMB_W + (THUMB_W - 1)) * 3
    return [
        (
            doc_id, pw, ph, THUMB_W, THUMB_H, sum(thumb),
            thumb[o], thumb[o + 1], thumb[o + 2],
        )
    ]


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE on real decoded pixels — the thumbnail/preprocess
    step of a multimodal ingest pipeline: build each document's PNG,
    run the full codec decode (CRC walk, inflate, five-filter
    reconstruction), then nearest-neighbor downscale to 4x4 with the
    standard floor mapping (sx, sy) = (j*w // tw, i*h // th). Because
    NN sampling is integer-exact, the oracle recomputes every thumb
    byte arithmetically from the pixel generator — the resize is
    hash-verified per pixel-sum plus a corner probe pixel that pins
    the index mapping (a sum alone would accept transposed or
    off-by-one sampling on square images).

    Scale shape: embarrassingly parallel mapInPandas over the manifest
    (one Arrow batch in, one decode+resize per file, no shuffle) —
    identical plumbing to q_multimodal_decode."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_resize_media, schema=RESIZE_SCHEMA
    )


MULTIMODAL_RESIZE_ORACLE = f"""
    WITH p AS (SELECT doc_id, {_PNG_DIMS_SQL} FROM documents),
    thumb AS (
        SELECT doc_id, pw, ph, i, j,
               {_png_rgb_sql(f'(j * pw) // {THUMB_W}', f'(i * ph) // {THUMB_H}')}
        FROM p,
             LATERAL (SELECT unnest(range(0, {THUMB_H})) AS i) gi,
             LATERAL (SELECT unnest(range(0, {THUMB_W})) AS j) gj
    )
    SELECT doc_id,
           CAST(pw AS INT) AS src_w,
           CAST(ph AS INT) AS src_h,
           CAST({THUMB_W} AS INT) AS thumb_w,
           CAST({THUMB_H} AS INT) AS thumb_h,
           CAST(SUM(r + g + b) AS BIGINT) AS thumb_sum,
           CAST(max(r) FILTER (WHERE i = {THUMB_H - 1} AND j = {THUMB_W - 1})
                AS INT) AS probe_r33,
           CAST(max(g) FILTER (WHERE i = {THUMB_H - 1} AND j = {THUMB_W - 1})
                AS INT) AS probe_g33,
           CAST(max(b) FILTER (WHERE i = {THUMB_H - 1} AND j = {THUMB_W - 1})
                AS INT) AS probe_b33
    FROM thumb
    GROUP BY doc_id, pw, ph
"""


def media_manifest(docs: DataFrame) -> DataFrame:
    """Binary payload + typed metadata columns from the documents
    table (the ingest convention)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def q_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata projection of the manifest — the query shape that must
    NOT read payload bytes at scale (payload column pruned; see
    tests/test_plans.py)."""
    m = media_manifest(load_table(spark, sf_dir, "documents"))
    return m.select("doc_id", "mime", "n_bytes", "checksum")


MULTIMODAL_MANIFEST_ORACLE = """
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS checksum  -- DuckDB md5 is VARCHAR-only; same UTF-8 bytes
    FROM documents
"""

FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, n_frames int, brightness double"
)


def fake_feature_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake decoder: derives 'media features' from the
    payload bytes with pure arithmetic (stands in for PIL/ffmpeg while
    keeping identical batch shape and schema)."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        first = pdf["payload"].map(lambda b: b[0] if len(b) else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "width": (n % 640).astype("int32"),
                "height": ((n * 7) % 480).astype("int32"),
                "n_frames": (n % 30 + 1).astype("int32"),
                "brightness": (first / 255.0).round(4),
            }
        )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract pipeline shape: manifest ->
    mapInPandas(extractor) with Arrow batching. Swapping
    ``fake_feature_extract`` for a real codec is a one-function
    change; schema/partitioning/batch flow are production-shaped."""
    m = media_manifest(load_table(spark, sf_dir, "documents"))
    return m.select("doc_id", "payload").mapInPandas(
        fake_feature_extract, schema=FEATURES_SCHEMA
    )


MULTIMODAL_FEATURES_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames,
           round(ascii(substr(text, 1, 1)) / 255.0, 4) AS brightness
    FROM documents
"""


FRAME_STEP = 5


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: treat each payload as a video of n_frames
    (derived deterministically) and emit every 5th frame index with a
    per-frame fake feature — the explode shape of real frame
    extraction, expression-level (a real decoder would swap in via
    mapInPandas like q_multimodal_features)."""
    m = media_manifest(load_table(spark, sf_dir, "documents"))
    n_frames = (F.col("n_bytes") % 30 + 1).cast("int")
    frames = F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STEP))
    return m.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.explode(frames).alias("frame_idx"),
    ).withColumn(
        "frame_fp",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("frame_idx").cast("string"))),
    )


MULTIMODAL_FRAMES_ORACLE = f"""
    SELECT doc_id,
           CAST(n_frames AS INT) AS n_frames,
           CAST(frame_idx AS INT) AS frame_idx,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_fp
    FROM (
        SELECT doc_id, octet_length(encode(text)) % 30 + 1 AS n_frames
        FROM documents
    ), LATERAL (SELECT unnest(range(0, n_frames, {FRAME_STEP})) AS frame_idx)
"""


AUDIO_FRAMES_SCHEMA = (
    "doc_id long, n_frames int, total_zcr long, "
    "max_frame_sq long, max_frame_idx int"
)


@_per_doc(AUDIO_FRAMES_SCHEMA)
def _build_audio_frames(doc_id: int, n_chars: int) -> list[tuple]:
    """Frame-level audio feature extraction on REAL decoded PCM: build
    each document's WAV, chunk-walk and unpack the actual bytes back,
    then compute per-frame energy and zero-crossing counts vectorized
    in numpy — the VAD/segmentation features a speech-data pipeline
    computes per audio frame, done on decoded samples, not a stand-in."""
    v = _doc_pcm(doc_id, n_chars)
    fsq = _frame_sums(v * v)
    # zero crossings between consecutive samples of the SAME frame
    # (sign convention: s >= 0 is non-negative)
    sgn = v >= 0
    within = (np.arange(1, len(v)) % AUDIO_FRAME) != 0
    total_zcr = int(((sgn[1:] != sgn[:-1]) & within).sum())
    # np.argmax returns the FIRST max — the (energy DESC, frame ASC)
    # tie-break the oracle mirrors
    mi = int(np.argmax(fsq))
    return [(doc_id, len(fsq), total_zcr, int(fsq[mi]), mi)]


def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio analysis over real decoded PCM: per document,
    split the decoded int16 stream into AUDIO_FRAME-sample analysis
    frames and emit frame count, total in-frame zero-crossings, and
    the peak-energy frame (sum of squares; ties -> first frame).

    Scale shape: one Arrow-batched mapInPandas pass over (doc_id,
    n_chars) — the same plumbing as q_multimodal_decode; per-row work
    is numpy-vectorized over the sample array and output is one
    fixed-width row per document (frame features reduce in-UDF, so
    nothing sample-sized ever hits a shuffle). The oracle recomputes
    every feature from the closed-form waveform the builder embeds,
    so builder -> parser -> framer is hash-verified end to end."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_audio_frames, schema=AUDIO_FRAMES_SCHEMA
    )


MULTIMODAL_AUDIO_FRAMES_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    fr AS (
        SELECT doc_id, f,
               SUM(s * s) AS fsq,
               SUM(CASE WHEN i % {AUDIO_FRAME} > 0 AND
                        ((s >= 0) <> ({_wav_sample_sql('(i - 1)')} >= 0))
                   THEN 1 ELSE 0 END) AS zcr
        FROM samp GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
               CAST(SUM(zcr) AS BIGINT) AS total_zcr
        FROM fr GROUP BY 1
    ),
    ranked AS (
        SELECT doc_id, f, fsq,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY fsq DESC, f) AS rk
        FROM fr
    )
    SELECT a.doc_id, a.n_frames, a.total_zcr,
           CAST(r.fsq AS BIGINT) AS max_frame_sq,
           CAST(r.f AS INT) AS max_frame_idx
    FROM agg a JOIN ranked r ON a.doc_id = r.doc_id AND r.rk = 1
"""


AUDIO_DFT_SCHEMA = (
    "doc_id long, nv int, dc long, e_quarter long, e_nyquist long, "
    "dominant string"
)


@_per_doc(AUDIO_DFT_SCHEMA)
def _build_audio_dft(doc_id: int, n_chars: int) -> list[tuple]:
    """Exact-bin DFT probe on REAL decoded PCM: build each document's
    WAV, decode the actual bytes back, then evaluate the DFT of the
    whole stream at the three bins whose basis is integer-valued
    (_band_energies) — every energy an EXACT integer sum-of-products,
    reproducible bit-for-bit by the closed-form SQL oracle. The
    standard spectral triage (DC offset? dominant alternation?
    quarter-band tone?) without a single transcendental in the verdict
    path."""
    v = _doc_pcm(doc_id, n_chars)
    e = _band_energies(v, len(v))[:, 0]
    return [
        (doc_id, len(v), int(v.sum()), int(e[1]), int(e[2]), BANDS[int(np.argmax(e))])
    ]


def q_multimodal_audio_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral probe energies at the integer-basis DFT bins, per
    document, on decoded PCM. Same scale shape as the frame battery:
    one Arrow-batched mapInPandas pass, per-row numpy reduction, one
    fixed-width output row per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_audio_dft, schema=AUDIO_DFT_SCHEMA
    )


MULTIMODAL_AUDIO_DFT_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    {_bands_sql(by='doc_id')}
    SELECT doc_id, CAST(nv AS INT) AS nv, dc,
           e_q AS e_quarter,
           e_ny AS e_nyquist,
           CASE {_DOMINANT_SQL} WHEN 0 THEN 'dc' WHEN 1 THEN 'quarter'
                ELSE 'nyquist' END AS dominant
    FROM fr JOIN base USING (doc_id)
"""


AUDIO_FBANK_SCHEMA = (
    "doc_id long, n_frames int, il_dc long, il_quarter long, "
    "il_nyquist long, cep1 long, cep2 long, dominant string"
)


@_per_doc(AUDIO_FBANK_SCHEMA)
def _build_audio_fbank(doc_id: int, n_chars: int) -> list[tuple]:
    """Filterbank / MFCC-lite features on REAL decoded PCM: per-frame
    energies at the three integer-basis DFT bins (_band_energies),
    log-compressed to their INTEGER log2 (_ilog2 — exact, no libm in
    the verdict path), then reduced per document: per-band log-energy
    mass, the 3-point DCT cepstra over the band vector (coefficients
    +-1/-2, the MFCC step collapsed to its exact-integer skeleton),
    and the modal dominant band across frames (ties dc > quarter >
    nyquist, matching np.argmax-first)."""
    e = _band_energies(_doc_pcm(doc_id, n_chars))
    il_dc, il_q, il_ny = (int(x) for x in _ilog2(e).sum(axis=1))
    dom_counts = np.bincount(np.argmax(e, axis=0), minlength=3)
    return [
        (
            doc_id, e.shape[1], il_dc, il_q, il_ny,
            il_dc - il_ny, il_dc - 2 * il_q + il_ny,
            BANDS[int(np.argmax(dom_counts))],
        )
    ]


def q_multimodal_audio_fbank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filterbank/MFCC-lite audio features over decoded
    PCM — the standard audio-feature step (filterbank -> log
    compression -> DCT) with every verdict value an exact integer, so
    the closed-form SQL oracle reproduces builder -> decoder ->
    framer -> filterbank bit-for-bit. Same scale shape as the other
    audio batteries: one Arrow-batched mapInPandas pass, per-row numpy
    reduction, one fixed-width row per document (nothing sample-sized
    reaches a shuffle) — run over the fanned-out manifest
    (_decode_manifest), since the single-split scan would leave it one
    Python task."""
    return _decode_manifest(spark, sf_dir).mapInPandas(
        _build_audio_fbank, schema=AUDIO_FBANK_SCHEMA
    )


MULTIMODAL_AUDIO_FBANK_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    {_bands_sql()},
    fl AS (
        SELECT doc_id,
               {_ilog2_sql('e_dc')} AS il_dc,
               {_ilog2_sql('e_q')} AS il_q,
               {_ilog2_sql('e_ny')} AS il_ny,
               {_DOMINANT_SQL} AS dom
        FROM fr
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_frames,
               CAST(sum(il_dc) AS BIGINT) AS il_dc,
               CAST(sum(il_q) AS BIGINT) AS il_quarter,
               CAST(sum(il_ny) AS BIGINT) AS il_nyquist,
               CAST(sum(CASE WHEN dom = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN dom = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN dom = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM fl GROUP BY doc_id
    )
    SELECT doc_id, n_frames, il_dc, il_quarter, il_nyquist,
           il_dc - il_nyquist AS cep1,
           il_dc - 2 * il_quarter + il_nyquist AS cep2,
           CASE WHEN n0 >= n1 AND n0 >= n2 THEN 'dc'
                WHEN n1 >= n2 THEN 'quarter' ELSE 'nyquist' END AS dominant
    FROM agg
"""


# VAD activity threshold: a frame is 'voiced' iff its energy is at
# least VAD_MS * frame_length, i.e. mean square >= VAD_MS. 1.4e6 is
# the variance of the builder's uniform [-2048, 2048) sample domain
# (4096^2 / 12), so roughly half the frames clear it — both branches
# of every island edge are exercised. Integer compare: no division.
VAD_MS = 1_400_000

AUDIO_VAD_SCHEMA = (
    "doc_id long, n_frames int, n_active int, n_segments int, "
    "longest_run int, voiced_frac double"
)


@_per_doc(AUDIO_VAD_SCHEMA)
def _build_audio_vad(doc_id: int, n_chars: int) -> list[tuple]:
    """Energy-gate VAD segmentation on REAL decoded PCM: frame the
    stream, flag frames whose energy clears the mean-square gate
    (exact integer compare), then reduce the flag sequence to
    voiced-segment structure — segment count (rising edges), longest
    voiced run, voiced fraction. The segmentation step a speech
    pipeline runs between decode and feature extraction."""
    v = _doc_pcm(doc_id, n_chars)
    act = _frame_sums(v * v) >= VAD_MS * _frame_sums(np.ones_like(v))
    rising = act & ~np.concatenate(([False], act[:-1]))
    longest = run = 0
    for a in act:
        run = run + 1 if a else 0
        longest = max(longest, run)
    n_active = int(act.sum())
    return [
        (
            doc_id, len(act), n_active, int(rising.sum()),
            longest, round(n_active / len(act) + 5e-9, 4),
        )
    ]


def q_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over decoded PCM — per document,
    the voiced-segment structure under an exact integer energy gate.
    Same scale shape as the other audio batteries: one Arrow-batched
    mapInPandas pass, one fixed-width row per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_audio_vad, schema=AUDIO_VAD_SCHEMA
    )


MULTIMODAL_AUDIO_VAD_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    fr AS (
        SELECT doc_id, f, CAST(sum(s * s) AS BIGINT) AS fsq,
               CAST(count(*) AS BIGINT) AS flen
        FROM samp GROUP BY 1, 2
    ),
    act AS (
        SELECT doc_id, f, (fsq >= {VAD_MS} * flen) AS a FROM fr
    ),
    seg AS (
        SELECT doc_id, f, a,
               f - row_number() OVER (PARTITION BY doc_id, a ORDER BY f) AS g
        FROM act
    ),
    runs AS (
        SELECT doc_id, count(*) AS run_len
        FROM seg WHERE a GROUP BY doc_id, g
    ),
    per AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
               CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS INT) AS n_active
        FROM act GROUP BY doc_id
    ),
    rstat AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_segments,
               CAST(max(run_len) AS INT) AS longest_run
        FROM runs GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_frames, p.n_active,
           COALESCE(r.n_segments, 0) AS n_segments,
           COALESCE(r.longest_run, 0) AS longest_run,
           round(p.n_active * 1.0 / p.n_frames + 5e-9, 4) AS voiced_frac
    FROM per p LEFT JOIN rstat r USING (doc_id)
"""


# --- Animated GIF: real LZW codec path (GIF89a, public spec) --------
#
# The animation/video cell done honestly without codec libraries: a
# GIF89a builder (16-color global palette, per-frame Graphic Control
# Extensions, LZW-compressed index streams) and a REAL general LZW
# decoder (variable code width, table growth, CLEAR/EOI handling,
# LSB-first bit unpacking, sub-block reassembly). Both directions are
# the full algorithm — greedy longest-match compression on the way in,
# dictionary reconstruction incl. the KwKwK case on the way out — so
# any bit-packing or table-growth bug breaks the per-frame oracle.

GIF_COLORS = 16          # global color table size (min code size 4)
GIF_PAL_MULS = (17, 29, 43)  # palette[i] = (i*17, i*29, i*43) % 256


def _gif_pixel(doc_id: int, f: int, x: int, y: int) -> int:
    return (doc_id * 7 + f * 13 + x * 3 + y * 5) % GIF_COLORS


def _lzw_encode(indices: list[int], min_size: int) -> bytes:
    """REAL GIF-LZW encoder: greedy longest-match against a growing
    string table, variable code width (bump when the just-added code
    reaches 2^size — one add ahead of the decoder's bump, the spec's
    synchronization), CLEAR + reset at the 4096-entry cap, LSB-first
    bit packing. Frames are large enough that the width bump to 6 and
    7 bits executes, so the decoder's growth path is exercised by the
    oracle, not just written."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    size = min_size + 1
    next_code = eoi + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(1 << min_size)}
    acc = bitlen = 0
    out = bytearray()

    def emit(code: int):
        nonlocal acc, bitlen
        acc |= code << bitlen
        bitlen += size
        while bitlen >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8

    emit(clear)
    buf: tuple[int, ...] = ()
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == 1 << size and size < 12:
            size += 1
        elif next_code == 1 << 12:  # table full: reset (no deferred clear)
            emit(clear)
            size = min_size + 1
            next_code = eoi + 1
            table = {(i,): i for i in range(1 << min_size)}
        buf = (idx,)
    if buf:
        emit(table[buf])
    emit(eoi)
    if bitlen:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_size: int) -> list[int]:
    """REAL general GIF-LZW decoder: LSB-first variable-width codes,
    dictionary growth with the code-width bump at 2^size (capped at
    12 bits), CLEAR table resets, the KwKwK (code == next_code) case,
    and EOI termination. Raises on out-of-range codes."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    pos = 0
    nbits = len(data) * 8

    def fresh():
        return [[i] for i in range(1 << min_size)] + [None, None]

    table = fresh()
    size = min_size + 1
    prev: list[int] | None = None
    out: list[int] = []
    while pos + size <= nbits:
        byte0 = pos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (chunk >> (pos & 7)) & ((1 << size) - 1)
        pos += size
        if code == clear:
            table = fresh()
            size = min_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise ValueError("bad first code after clear")
            out += table[code]
            prev = table[code]
            continue
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise ValueError("LZW code out of range")
        out += entry
        table.append(prev + [entry[0]])
        if len(table) == (1 << size) and size < 12:
            size += 1
        prev = entry
    raise ValueError("LZW stream ended without EOI")


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        part = data[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


def build_gif(width: int, height: int, n_frames: int, doc_id: int) -> bytes:
    """Minimal valid animated GIF89a: logical screen descriptor, a
    16-color global palette, and per frame a Graphic Control Extension
    (delay = (doc_id+f) % 10 + 2 centiseconds) + image descriptor +
    LZW-compressed index stream. Pixels: idx = (doc_id*7 + f*13 +
    x*3 + y*5) % 16."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF3, 0, 0])  # GCT present, 8-bit colres, 16 entries
    for i in range(GIF_COLORS):
        out += bytes((i * m) % 256 for m in GIF_PAL_MULS)
    for f in range(n_frames):
        delay = (doc_id + f) % 10 + 2
        out += bytes([0x21, 0xF9, 0x04, 0x00]) + struct.pack("<H", delay)
        out += bytes([0x00, 0x00])  # transparent idx, terminator
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0x00, 0x04])  # no local table; min code size 4
        indices = [
            _gif_pixel(doc_id, f, x, y)
            for y in range(height)
            for x in range(width)
        ]
        out += _gif_subblocks(_lzw_encode(indices, 4))
    out += b"\x3b"
    return bytes(out)


def decode_gif(b: bytes) -> list[dict]:
    """REAL GIF parser: header + logical screen descriptor, global
    color table, extension-block walk (GCE delay captured, others
    skipped by sub-block length), image descriptors with full LZW
    decode of each frame, palette lookup for RGB statistics. Returns
    one dict per frame; raises on signature violations, pixel-count
    mismatches, or malformed LZW."""
    if b[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack_from("<HH", b, 6)
    packed = b[10]
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        for i in range(n):
            palette.append((b[pos], b[pos + 1], b[pos + 2]))
            pos += 3
    frames: list[dict] = []
    delay = 0
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = b[pos]
            pos += 1
            if label == 0xF9:
                blen = b[pos]
                (delay,) = struct.unpack_from("<H", b, pos + 2)
                pos += 1 + blen
            while b[pos] != 0:  # remaining/other sub-blocks
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h = struct.unpack_from("<HHHH", b, pos)
        pos += 8
        ipacked = b[pos]
        pos += 1
        pal = palette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = [(b[pos + 3 * i], b[pos + 3 * i + 1], b[pos + 3 * i + 2])
                   for i in range(n)]
            pos += 3 * n
        min_size = b[pos]
        pos += 1
        data = bytearray()
        while b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(data), min_size)
        if len(idx) != w * h:
            raise ValueError(f"frame pixel count {len(idx)} != {w}*{h}")
        frames.append(
            {
                "w": w,
                "h": h,
                "delay_cs": delay,
                "idx_sum": sum(idx),
                "rgb_sum": sum(sum(pal[i]) for i in idx),
                # raw palette indices, for consumers that need pixel-
                # level stats (scene-cut histograms) without a second
                # LZW pass
                "idx": idx,
            }
        )
    return frames


def _gif_params(doc_id, n_chars):
    """(width, height, n_frames) of the document's GIF. Plain arithmetic,
    so it takes ints (the builders) or Spark Columns (q_dedup_image_apply)."""
    return doc_id % 5 + 4, n_chars % 4 + 3, doc_id % 3 + 2


def _doc_gif(
    doc_id: int, n_chars: int, max_frames: int | None = None
) -> tuple[int, int, list[dict]]:
    """The document's animated GIF built and decoded back: (width,
    height, decoded frames). `max_frames` builds only the first frames:
    frame f depends on (doc_id, f) alone, so they decode as in the full
    GIF."""
    w, h, nf = _gif_params(doc_id, n_chars)
    if max_frames is not None:
        nf = min(nf, max_frames)
    return w, h, decode_gif(build_gif(w, h, nf, doc_id))


# DuckDB twins: `p` holds each document's GIF parameters; _GIF_PIXELS_SQL
# adds one row per frame (`fr`) and per decoded pixel index (`px`).
_GIF_PARAMS_SQL = """p AS (
        SELECT doc_id, doc_id % 5 + 4 AS w, n_chars % 4 + 3 AS h,
               doc_id % 3 + 2 AS nf
        FROM documents
    )"""


def _gif_pixel_sql(f: str, x: str, y: str) -> str:
    """_gif_pixel of frame f at (x, y)."""
    return f"(doc_id * 7 + {f} * 13 + ({x}) * 3 + ({y}) * 5) % {GIF_COLORS}"


def _gif_luma_sql(i: str) -> str:
    """R + G + B of global-palette entry i."""
    return " + ".join(f"{i} * {m} % 256" for m in GIF_PAL_MULS)


_GIF_PIXELS_SQL = f"""{_GIF_PARAMS_SQL},
    fr AS (
        SELECT doc_id, w, h, unnest(range(0, nf)) AS frame_idx FROM p
    ),
    px AS (
        SELECT doc_id, frame_idx, w, h,
               {_gif_pixel_sql('frame_idx', 'pp % w', 'pp // w')} AS idx
        FROM fr, LATERAL (SELECT unnest(range(0, w * h)) AS pp) g
    )"""


GIF_FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, w int, h int, delay_cs int, "
    "idx_sum long, rgb_sum long"
)


@_per_doc(GIF_FRAMES_SCHEMA)
def _build_decode_gif(doc_id: int, n_chars: int) -> list[tuple]:
    _, _, frames = _doc_gif(doc_id, n_chars)
    return [
        (doc_id, f, fr["w"], fr["h"], fr["delay_cs"], fr["idx_sum"], fr["rgb_sum"])
        for f, fr in enumerate(frames)
    ]


SCENE_CUTS_SCHEMA = (
    "doc_id long, frame_idx int, l1_dist long, n_pixels int, is_cut boolean"
)


@_per_doc(SCENE_CUTS_SCHEMA)
def _build_scene_cuts(doc_id: int, n_chars: int) -> list[tuple]:
    """Shot-boundary detection on REAL decoded animation frames: one
    LZW decode per GIF, per-frame 16-bin palette histograms, L1
    distance between consecutive frames, cut flagged when more than
    a quarter of the pixel mass changes bin (the synthetic palette
    rotation moves a bounded slice of a near-uniform histogram, so the
    quarter-mass bar is the one that separates strong from weak
    rotations here; production detectors tune this the same way) — the classic histogram-difference
    shot detector (Zhang et al. 1993), run on actually-decoded pixels.
    One row per consecutive frame pair; every field is an exact
    integer."""
    w, h, frames = _doc_gif(doc_id, n_chars)
    hists = [np.bincount(fr["idx"], minlength=GIF_COLORS) for fr in frames]
    rows = []
    for f in range(1, len(hists)):
        d = int(np.abs(hists[f] - hists[f - 1]).sum())
        rows.append((doc_id, f, d, w * h, d * 4 > w * h))
    return rows


def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-difference shot-boundary detection over the decoded
    GIF frame sequence (one row per consecutive frame pair). Same
    scale shape as the frame extractor: Arrow-batched mapInPandas,
    per-doc payload-bounded work, fixed-width rows out — the
    scene-segmentation step a video training-data pipeline runs before
    frame sampling. The oracle recomputes the histograms arithmetically
    from the closed-form pixel generator, so the builder -> LZW ->
    histogram -> distance path is hash-verified with zero FP anywhere."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_scene_cuts, schema=SCENE_CUTS_SCHEMA
    )


MULTIMODAL_SCENE_CUTS_ORACLE = f"""
    WITH {_GIF_PIXELS_SQL},
    hist AS (
        SELECT doc_id, frame_idx, w, h, c.c AS c,
               count(*) FILTER (WHERE px.idx = c.c) AS n
        FROM px, (SELECT unnest(range(0, {GIF_COLORS})) AS c) c
        GROUP BY 1, 2, 3, 4, 5
    ),
    dist AS (
        SELECT a.doc_id, CAST(a.frame_idx AS INT) AS frame_idx,
               CAST(sum(abs(a.n - b.n)) AS BIGINT) AS l1_dist,
               CAST(max(a.w * a.h) AS INT) AS n_pixels
        FROM hist a
        JOIN hist b ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx - 1
                    AND b.c = a.c
        GROUP BY 1, 2
    )
    SELECT doc_id, frame_idx, l1_dist, n_pixels,
           l1_dist * 4 > n_pixels AS is_cut
    FROM dist
"""


def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-frame extraction on REAL decoded bytes: build a valid
    multi-frame GIF89a per document, parse it back through the full
    LZW decoder, and emit one row per frame with its decoded geometry,
    GCE delay, and palette-resolved pixel statistics. The oracle
    recomputes every field arithmetically from the pixel generator, so
    the builder->LZW->parser roundtrip is hash-verified frame by
    frame. Arrow-batched mapInPandas; per-doc cost is bounded by the
    payload, embarrassingly parallel — the frame-sampling shape a
    video pipeline runs at scale."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_decode_gif, schema=GIF_FRAMES_SCHEMA
    )


MULTIMODAL_GIF_ORACLE = f"""
    WITH {_GIF_PIXELS_SQL}
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(w AS INT) AS w,
           CAST(h AS INT) AS h,
           CAST((doc_id + frame_idx) % 10 + 2 AS INT) AS delay_cs,
           CAST(sum(idx) AS BIGINT) AS idx_sum,
           CAST(sum({_gif_luma_sql('idx')}) AS BIGINT) AS rgb_sum
    FROM px
    GROUP BY doc_id, frame_idx, w, h
"""


# ---------------------------------------------------------------------------
# Audio fingerprinting: spectral-peak pair hashing (the Shazam shape,
# Wang 2003) over the exact integer-basis frame spectra.

FP_FANOUT = 3  # target zone: pair each anchor frame with the next 1..3

AUDIO_FP_SCHEMA = "doc_id long, fp_hash int, n long, first_anchor int"


@_per_doc(AUDIO_FP_SCHEMA)
def _build_audio_fingerprint(doc_id: int, n_chars: int) -> list[tuple]:
    """Per document: decode the real WAV, take its constellation pairs
    (_peak_pairs: per-frame dominant band + integer-log2 energy, each
    anchor paired with its FP_FANOUT successors and hashed into one
    small integer), then reduce to the fingerprint set: one row per
    distinct hash with its occurrence count and first anchor frame.

    Every quantity is an exact integer, so the closed-form SQL oracle
    reproduces builder -> decoder -> framer -> peak -> hash
    bit-for-bit."""
    fps: dict[int, tuple[int, int]] = {}
    for f, hsh, _ in _peak_pairs(_doc_pcm(doc_id, n_chars)):
        n, first = fps.get(hsh, (0, f))
        fps[hsh] = (n + 1, first)
    return [(doc_id, hsh, n, first) for hsh, (n, first) in fps.items()]


def q_multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document audio fingerprint set (spectral-peak pair hashes)
    over real decoded PCM — the constellation-hash index a large-scale
    audio dedup/retrieval pipeline builds before any matching join.
    Scale shape: one Arrow-batched mapInPandas pass, per-row numpy
    reduction, output bounded by frames x FP_FANOUT per document
    (nothing sample-sized reaches a shuffle); the fingerprint table is
    the join-ready artifact, partitionable by fp_hash."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").mapInPandas(
        _build_audio_fingerprint, schema=AUDIO_FP_SCHEMA
    )


MULTIMODAL_AUDIO_FP_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_pcm_samples_sql()},
    {_bands_sql()},
    {_peak_pairs_sql()}
    SELECT doc_id, CAST(pair_hash AS INT) AS fp_hash,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(anchor) AS INT) AS first_anchor
    FROM pairs
    GROUP BY doc_id, pair_hash
"""


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dedup: dHash over REAL decoded pixels +
# Hamming-band blocking (the image analog of dedup_simhash_pairs).

IMG_HAM_T = 4  # pair bar: <= 4 of 64 dHash bits differ
# A (band, key) bucket with a macroscopic fraction of the corpus makes
# its candidate mass Theta(n^2) (the SWEEP_BUCKET_CAP lesson from
# minhash banding, dedup.py): bound every bucket to its
# IMG_BUCKET_CAP hash-lowest members (global per-doc md5 rank,
# deterministic and mirrored in the oracle) so per-bucket pairs are
# <= CAP^2/2 and total candidate mass is linear in bucket count.
IMG_BUCKET_CAP = 64

PHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


@_per_doc(PHASH_SCHEMA)
def _build_image_phash(doc_id: int, n_chars: int) -> list[tuple]:
    """Per document: build the animated GIF, run the REAL LZW decode,
    and compute a 64-bit difference hash (dHash, Krawetz) on frame 0:
    sample a 9x8 nearest-neighbor luminance grid and emit one bit per
    horizontally adjacent cell pair (left < right). Luminance is the
    palette RGB byte sum of the DECODED palette index — any LZW or
    palette bug flips hash bits and breaks the oracle match. The hash
    is returned as four 16-bit band keys (b0 = bits 0..15 from the
    LSB) — the blocking keys for the Hamming band join."""
    w, h, frames = _doc_gif(doc_id, n_chars, max_frames=1)
    idx = frames[0]["idx"]
    luma = [sum(i * m % 256 for m in GIF_PAL_MULS) for i in range(GIF_COLORS)]
    bits = 0
    for ty in range(8):
        row = ty * h // 8 * w
        for tx in range(8):
            left, right = idx[row + tx * w // 9], idx[row + (tx + 1) * w // 9]
            bits = (bits << 1) | (luma[right] > luma[left])
    return [(doc_id, *((bits >> s) & 0xFFFF for s in (0, 16, 32, 48)))]


def _image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared verified-pair core for q_dedup_image_phash (per-doc
    rollup) and q_dedup_image_clusters (component resolution):

    1. Hash: Arrow-batched mapInPandas computes a 64-bit dHash per
       document from REAL decoded GIF pixels (one LZW decode per doc,
       embarrassingly parallel); only the 4x16-bit signature leaves
       the worker — payload bytes never shuffle.
    2. Block: band join on the four 16-bit hash slices (two images
       within Hamming distance 4 of 64 bits must agree exactly on at
       least one 16-bit band — lossless for the bar, the same
       pigeonhole as dedup_simhash_pairs' byte-banding). Buckets are
       capped at IMG_BUCKET_CAP md5-lowest docs (linear candidate
       mass; mirrored in the oracle), pair keys pre-repartitioned
       before distinct (the fan-out-distinct OOM discipline).
    3. Verify: exact Hamming distance via xor + bit_count on the four
       band keys — JVM-side integer ops, no Python in the hot path.

    Returns (doc_a, doc_b, hamming) with hamming <= IMG_HAM_T."""
    from pyspark.sql.window import Window as W

    from dfs_w_mapreduce_spark.catalog import gated_broadcast

    d = load_table(spark, sf_dir, "documents")
    # the signature frame is consumed three times (band explode + both
    # verify sides) — persist so the corpus is decoded exactly once
    ph = (
        d.select("doc_id", "n_chars")
        .mapInPandas(_build_image_phash, schema=PHASH_SCHEMA)
        .cache()
    )
    bands = ph.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"b{i}").alias("key")
                    )
                    for i in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    bw = W.partitionBy("band", "key").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    capped = (
        bands.withColumn("rk", F.row_number().over(bw))
        .filter(F.col("rk") <= IMG_BUCKET_CAP)
        .drop("rk")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pair_parts = spark.sparkContext.defaultParallelism * 8
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .repartition(pair_parts, "doc_a", "doc_b")
        .distinct()
    )
    # per-doc signatures are corpus-cardinality: broadcast only while
    # the source table is broadcast-sized (primitive ints — exempt
    # from the text-array blow-up class, but still unbounded rows)
    pa = gated_broadcast(
        ph.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
        ),
        sf_dir,
        "documents",
    )
    pb = gated_broadcast(
        ph.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)],
        ),
        sf_dir,
        "documents",
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4)
    ).cast("int")
    pairs = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= IMG_HAM_T)
    )
    # materialize the verified pair set eagerly so ph can be
    # unpersisted HERE: without this, every invocation (bench REPS,
    # phash + clusters in one session) leaked another
    # corpus-cardinality cached signature frame for the session
    # lifetime (ADVICE r10)
    pairs = pairs.localCheckpoint(eager=True)
    ph.unpersist()
    return pairs


def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dedup (pipeline in
    _image_phash_pairs). Registry row is the per-document rollup
    (n_similar, min_hamming, n_dup0) so the output stays linear even
    when the fixture's closed-form pixels cluster. The rollup is
    anchored on the SMALLER doc_id of each pair (doc_a) — a document
    appearing only as the larger side of its pairs gets no row; full
    per-doc membership is what q_dedup_image_clusters resolves."""
    pairs = _image_phash_pairs(spark, sf_dir)
    return pairs.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("n_similar"),
        F.min("hamming").alias("min_hamming"),
        F.sum((F.col("hamming") == 0).cast("long")).alias("n_dup0"),
    )


def q_dedup_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup RESOLUTION: connected components over the
    verified perceptual-hash pairs via the shared min-label
    propagation core (operators.dedup._min_label_components — the
    same iterative join/localCheckpoint machinery the text MinHash
    and embedding families resolve with). One row per clustered
    image: (doc_id, cluster_id, is_keeper, n_members); keeper =
    smallest doc_id, the standard crawl-order tie-break."""
    from dfs_w_mapreduce_spark.operators.dedup import _min_label_components

    pairs = _image_phash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _min_label_components(pairs, "doc_a", "doc_b", "doc_id")


# Arithmetic twin: the dHash recomputed from the closed-form pixel
# generator (idx = (doc_id*7 + x*3 + y*5) % 16 on frame 0, luminance =
# palette byte sum), then the IDENTICAL band/cap/verify pipeline. Bit
# t (generation order, MSB-first) lands at LSB position q = 63 - t,
# band q // 16, in-band bit q % 16 — matching the Spark band split.
# The CTE chain ends at img_pairs (the verified pair set) so the
# rollup AND clusters oracles share it verbatim.
_IMAGE_PHASH_CTES = f"""
    {_GIF_PARAMS_SQL},
    samp AS (
        SELECT doc_id,
               (63 - (ty * 8 + tx)) // 16 AS band_idx,
               (63 - (ty * 8 + tx)) % 16 AS bpos,
               {_gif_pixel_sql('0', 'tx * w // 9', 'ty * h // 8')} AS i0,
               {_gif_pixel_sql('0', '(tx + 1) * w // 9', 'ty * h // 8')} AS i1
        FROM p,
             LATERAL (SELECT unnest(range(0, 8)) AS ty) gty,
             LATERAL (SELECT unnest(range(0, 8)) AS tx) gtx
    ),
    bits AS (
        SELECT doc_id, band_idx,
               CASE WHEN {_gif_luma_sql('i1')} > {_gif_luma_sql('i0')}
                    THEN 1 << bpos ELSE 0 END AS bit
        FROM samp
    ),
    ph AS (
        SELECT doc_id,
               CAST(SUM(bit) FILTER (WHERE band_idx = 0) AS INT) AS b0,
               CAST(SUM(bit) FILTER (WHERE band_idx = 1) AS INT) AS b1,
               CAST(SUM(bit) FILTER (WHERE band_idx = 2) AS INT) AS b2,
               CAST(SUM(bit) FILTER (WHERE band_idx = 3) AS INT) AS b3
        FROM bits
        GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, b0 AS key FROM ph
        UNION ALL SELECT doc_id, 1, b1 FROM ph
        UNION ALL SELECT doc_id, 2, b2 FROM ph
        UNION ALL SELECT doc_id, 3, b3 FROM ph
    ),
    capped AS (
        SELECT doc_id, band, key FROM (
            SELECT doc_id, band, key,
                   row_number() OVER (
                       PARTITION BY band, key
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM bands)
        WHERE rk <= {IMG_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1))
                  + bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
                  AS INT) AS hamming
        FROM cand
        JOIN ph pa ON doc_a = pa.doc_id
        JOIN ph pb ON doc_b = pb.doc_id
    ),
    img_pairs AS (
        SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {IMG_HAM_T}
    )
"""

DEDUP_IMAGE_PHASH_ORACLE = f"""
    WITH {_IMAGE_PHASH_CTES}
    SELECT doc_a AS doc_id,
           CAST(count(*) AS BIGINT) AS n_similar,
           CAST(min(hamming) AS INT) AS min_hamming,
           CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup0
    FROM img_pairs
    GROUP BY doc_a
"""


def _image_clusters_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import _labels_ctes_sql

    labels = _labels_ctes_sql(
        "SELECT doc_a, doc_b FROM img_pairs", "doc_a", "doc_b", "doc_id"
    )
    return f"""
    WITH RECURSIVE {_IMAGE_PHASH_CTES},
    {labels},
    sized AS (SELECT cluster_id, count(*) AS n_members
              FROM labels GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, l.doc_id = l.cluster_id AS is_keeper,
           s.n_members
    FROM labels l JOIN sized s USING (cluster_id)
"""


def q_dedup_image_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-out step of the IMAGE dedup pipeline (the third modality
    completing the dedup_apply / dedup_apply_embedding triple): emit
    the kept image corpus by anti-joining the non-keepers of
    q_dedup_image_clusters. Output is one row per retained image with
    its decoded geometry (w, h, n_frames — the closed-form build
    parameters, identical on both engines). At scale the drop set is a
    small fraction of the corpus, so AQE turns the anti-join into a
    broadcast."""
    d = load_table(spark, sf_dir, "documents")
    drop = (
        q_dedup_image_clusters(spark, sf_dir)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    w, h, n_frames = _gif_params(F.col("doc_id"), F.col("n_chars"))
    return d.join(drop, "doc_id", "left_anti").select(
        "doc_id",
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
        n_frames.cast("int").alias("n_frames"),
    )


def _image_apply_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import _labels_ctes_sql

    labels = _labels_ctes_sql(
        "SELECT doc_a, doc_b FROM img_pairs", "doc_a", "doc_b", "doc_id"
    )
    return f"""
    WITH RECURSIVE {_IMAGE_PHASH_CTES},
    {labels}
    SELECT doc_id,
           CAST(w AS INT) AS w,
           CAST(h AS INT) AS h,
           CAST(nf AS INT) AS n_frames
    FROM p
    WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
"""


# ---------------------------------------------------------------------------
# Audio fingerprint LOOKUP — the retrieval half of the Shazam pair:
# identify probe snippets against the constellation index.

FP_PROBE_MOD = 5    # probe set: doc_id % 5 == 2 (~20% of the corpus)
FP_PROBE_RES = 2
FP_SNIP_START = 1   # the probe snippet drops the first frame, so a
                    # true match votes at offset = +1 frame
# Hot constellation hashes are the least identifying (Wang 2003 avoids
# dominant peaks for the same reason), and an uncapped posting list
# makes the probe-vs-index join fan-out Theta(n_probe(h) * n_index(h))
# per hash — quadratic in corpus size once the finite hash space
# saturates (measured at sf0.1: top bucket 305 of 5000 docs; fan-out
# would grow ~copies^2 under replication). Cap each fp_hash's posting
# list to its FP_INDEX_DOC_CAP md5-lowest documents (deterministic,
# mirrored in the oracle — the SWEEP_BUCKET_CAP / NGRAM_POSTING_CAP
# discipline): per-hash candidate work is then bounded and total join
# fan-out is linear in the probe count.
FP_INDEX_DOC_CAP = 64

AUDIO_FP_EVENT_SCHEMA = "doc_id long, fp_hash int, anchor int"


def _audio_fp_events_builder(skip_frames: int):
    """mapInPandas builder emitting one row per fingerprint EVENT
    (doc_id, fp_hash, anchor) — unlike _build_audio_fingerprint's
    per-doc hash SET, the lookup needs every occurrence with its
    anchor frame for offset voting. The event hash is enriched with
    the anchor's integer-log2 energy (6 extra bits) so the hash space
    is discriminative enough that the probe-vs-index join is selective
    rather than a near-cross-join — the same reason production
    constellation hashes carry the anchor frequency, not just the
    delta. skip_frames > 0 slices the decoded PCM to build a probe
    SNIPPET; AUDIO_FRAME is a multiple of 4, so the slice preserves
    the integer-basis phase and snippet peaks equal the original
    frames' peaks shifted by skip_frames."""

    @_per_doc(AUDIO_FP_EVENT_SCHEMA)
    def build(doc_id: int, n_chars: int) -> list[tuple]:
        v = _doc_pcm(doc_id, n_chars)[skip_frames * AUDIO_FRAME :]
        return [(doc_id, hsh * 64 + min(il, 63), f) for f, hsh, il in _peak_pairs(v)]

    return build


def q_multimodal_audio_fp_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identify probe audio snippets against the fingerprint index —
    the retrieval half of the Shazam pair (index half:
    q_multimodal_audio_fingerprint). Probe snippets are the real
    decoded audio of every doc_id % 5 == 2 document with its first
    frame dropped; matching hash-joins probe events against index
    events on the enriched constellation hash, votes by time-offset
    histogram (index_anchor - probe_anchor — a true match's votes pile
    at one offset, here +FP_SNIP_START), and argmaxes per probe with
    deterministic (votes desc, cand_id, offset) tie-break.

    Scale shape: both event tables are bounded by frames x FP_FANOUT
    per doc; each fp_hash's posting list is capped to its
    FP_INDEX_DOC_CAP md5-lowest docs (see the constant note — an
    uncapped hot bucket makes the join quadratic once the finite hash
    space saturates), so per-probe candidate work is bounded and the
    total fan-out is linear in the probe count. The join is
    hash-partitioned on fp_hash (both sides explicitly repartitioned —
    the probe side is corpus-fraction sized, never assumed
    broadcastable), and the vote count pre-repartitions by its group
    keys so the aggregate over the join fan-out builds small per-task
    maps (the partial-agg OOM discipline). Every quantity is an exact
    integer, so the SQL twin reproduces the full decode -> peak ->
    hash -> cap -> vote -> argmax chain."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    iw = W.partitionBy("fp_hash").orderBy(
        F.md5(F.col("cand_id").cast("string")), "cand_id"
    )
    index = (
        d.mapInPandas(_audio_fp_events_builder(0), schema=AUDIO_FP_EVENT_SCHEMA)
        .withColumnsRenamed({"doc_id": "cand_id", "anchor": "i_anchor"})
        # posting-list cap: dense_rank ranks DOCS within each hash
        # (all of a doc's events share the ordering key), so the
        # filter keeps whole documents deterministically
        .withColumn("drk", F.dense_rank().over(iw))
        .filter(F.col("drk") <= FP_INDEX_DOC_CAP)
        .drop("drk")
    )
    probes = (
        d.filter(F.col("doc_id") % FP_PROBE_MOD == FP_PROBE_RES)
        .mapInPandas(
            _audio_fp_events_builder(FP_SNIP_START), schema=AUDIO_FP_EVENT_SCHEMA
        )
        .withColumnsRenamed({"doc_id": "probe_id", "anchor": "p_anchor"})
    )
    parts = spark.sparkContext.defaultParallelism * 4
    matches = (
        probes.repartition(parts, "fp_hash")
        .join(index.repartition(parts, "fp_hash"), "fp_hash")
        .select(
            "probe_id",
            "cand_id",
            (F.col("i_anchor") - F.col("p_anchor")).cast("int").alias("off"),
        )
    )
    votes = (
        matches.repartition(parts, "probe_id", "cand_id", "off")
        .groupBy("probe_id", "cand_id", "off")
        .agg(F.count("*").alias("votes"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("votes"), "cand_id", "off")
    ncand = votes.groupBy("probe_id").agg(
        F.countDistinct("cand_id").alias("n_cands")
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(ncand, "probe_id")
        .select(
            "probe_id",
            F.col("cand_id").alias("match_id"),
            F.col("off").alias("match_offset"),
            "votes",
            "n_cands",
            (F.col("cand_id") == F.col("probe_id")).alias("self_match"),
        )
    )


def _fp_events_sql(p: str, start_frame: int, doc_filter: str = "") -> str:
    """`{p}ev`: fingerprint EVENTS (doc_id, fp_hash, anchor) of the
    closed-form audio from frame start_frame on (the snippet slice).
    Shared by the lookup oracle's index (start 0) and probe (start
    FP_SNIP_START) sides."""
    return f"""{_pcm_samples_sql(p, start_frame, doc_filter)},
    {_bands_sql(p)},
    {_peak_pairs_sql(p)},
    {p}ev AS (
        SELECT doc_id, CAST(pair_hash * 64 + least(il, 63) AS INT) AS fp_hash, anchor
        FROM {p}pairs
    )"""


AUDIO_FP_LOOKUP_ORACLE = f"""
    WITH {_PCM_BASE_SQL},
    {_fp_events_sql('i', 0)},
    {_fp_events_sql(
        'p', FP_SNIP_START, f'WHERE doc_id % {FP_PROBE_MOD} = {FP_PROBE_RES}')},
    icap AS (
        SELECT doc_id, fp_hash, anchor FROM (
            SELECT *, dense_rank() OVER (
                PARTITION BY fp_hash
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS drk
            FROM iev)
        WHERE drk <= {FP_INDEX_DOC_CAP}
    ),
    votes AS (
        SELECT p.doc_id AS probe_id, i.doc_id AS cand_id,
               CAST(i.anchor - p.anchor AS INT) AS off,
               CAST(count(*) AS BIGINT) AS votes
        FROM pev p JOIN icap i USING (fp_hash)
        GROUP BY 1, 2, 3
    ),
    ncand AS (
        SELECT probe_id, CAST(count(DISTINCT cand_id) AS BIGINT) AS n_cands
        FROM votes GROUP BY 1
    )
    SELECT v.probe_id, v.cand_id AS match_id, v.off AS match_offset,
           v.votes, n.n_cands, v.cand_id = v.probe_id AS self_match
    FROM (SELECT *, row_number() OVER (
              PARTITION BY probe_id
              ORDER BY votes DESC, cand_id, off) AS rk
          FROM votes) v
    JOIN ncand n USING (probe_id)
    WHERE v.rk = 1
"""


# Spark workers run in separate Python processes that may not have
# this repo on sys.path (the round driver can run from any cwd), so
# worker-executed functions from this module must be serialized by
# value, not by module reference.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("multimodal_manifest", q_multimodal_manifest, MULTIMODAL_MANIFEST_ORACLE,
                  ("multimodal", "llm"),
                  "Binary payload + typed metadata manifest (metadata-only projection)."),
        QuerySpec("multimodal_features", q_multimodal_features, MULTIMODAL_FEATURES_ORACLE,
                  ("multimodal", "llm", "pandas"),
                  "Arrow-batched mapInPandas feature extraction (deterministic fake decoder)."),
        QuerySpec("multimodal_frames", q_multimodal_frames, MULTIMODAL_FRAMES_ORACLE,
                  ("multimodal", "llm"),
                  "Every-5th frame sampling with per-frame fingerprints."),
        QuerySpec("multimodal_audio_frames", q_multimodal_audio_frames,
                  MULTIMODAL_AUDIO_FRAMES_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Frame-level energy + zero-crossing features over real "
                  "decoded PCM (256-sample frames, peak-energy frame)."),
        QuerySpec("multimodal_scene_cuts", q_multimodal_scene_cuts,
                  MULTIMODAL_SCENE_CUTS_ORACLE,
                  ("multimodal", "llm", "pandas", "video"),
                  "Histogram-difference shot-boundary detection over "
                  "decoded GIF frame pairs; exact integer L1 distances."),
        QuerySpec("multimodal_audio_dft", q_multimodal_audio_dft,
                  MULTIMODAL_AUDIO_DFT_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Integer-basis DFT probe bins (DC/quarter/Nyquist) on "
                  "decoded PCM — exact spectral energies, zero FP drift."),
        QuerySpec("multimodal_audio_fbank", q_multimodal_audio_fbank,
                  MULTIMODAL_AUDIO_FBANK_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Filterbank/MFCC-lite: per-frame exact-bin energies -> "
                  "integer-log2 compression -> 3-point DCT cepstra + modal "
                  "dominant band."),
        QuerySpec("multimodal_audio_vad", q_multimodal_audio_vad,
                  MULTIMODAL_AUDIO_VAD_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Energy-gate VAD segmentation: voiced segments, longest "
                  "run, voiced fraction per document."),
        QuerySpec("multimodal_decode", q_multimodal_decode, MULTIMODAL_DECODE_ORACLE,
                  ("multimodal", "llm", "pandas"),
                  "Real WAV/BMP/PNG/baseline-JPEG build->parse roundtrips, "
                  "fields hash-verified."),
        QuerySpec("multimodal_resize", q_multimodal_resize, MULTIMODAL_RESIZE_ORACLE,
                  ("multimodal", "llm", "pandas"),
                  "Nearest-neighbor 4x4 thumbnail over the REAL PNG decode; "
                  "thumb sum + corner probe hash-verified arithmetically."),
        QuerySpec("multimodal_gif_frames", q_multimodal_gif_frames,
                  MULTIMODAL_GIF_ORACLE,
                  ("multimodal", "llm", "pandas", "video"),
                  "Animated GIF89a frame extraction through a real LZW codec "
                  "roundtrip; per-frame geometry/delay/pixel stats oracled."),
        QuerySpec("dedup_image_phash", q_dedup_image_phash,
                  DEDUP_IMAGE_PHASH_ORACLE,
                  ("multimodal", "dedup", "llm", "pandas"),
                  "Perceptual-hash (dHash) image near-dedup over REAL "
                  "decoded GIF pixels: 16-bit Hamming-band blocking, capped "
                  "buckets, exact xor/bit_count verify."),
        QuerySpec("dedup_image_clusters", q_dedup_image_clusters,
                  _image_clusters_oracle(),
                  ("multimodal", "dedup", "llm", "pandas"),
                  "Image near-dup resolution: min-label connected "
                  "components over the verified perceptual-hash pairs "
                  "(shared propagation core)."),
        QuerySpec("multimodal_audio_fingerprint", q_multimodal_audio_fingerprint,
                  MULTIMODAL_AUDIO_FP_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Spectral-peak pair-hash fingerprints (Shazam shape) over "
                  "decoded PCM: per-frame integer-basis peaks, target-zone "
                  "pair hashes, per-doc fingerprint set."),
        QuerySpec("multimodal_audio_fp_lookup", q_multimodal_audio_fp_lookup,
                  AUDIO_FP_LOOKUP_ORACLE,
                  ("multimodal", "llm", "pandas", "audio"),
                  "Fingerprint LOOKUP (the Shazam retrieval half): probe "
                  "snippets hash-joined against the constellation index, "
                  "time-offset vote histogram, per-probe argmax."),
        QuerySpec("dedup_image_apply", q_dedup_image_apply,
                  _image_apply_oracle(),
                  ("multimodal", "dedup", "llm", "pandas"),
                  "Image dedup corpus-out: anti-join the non-keepers of "
                  "dedup_image_clusters; completes the pairs -> clusters -> "
                  "corpus-out triple for the image modality."),
    ]
