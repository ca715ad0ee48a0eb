"""Multimodal (image/audio/video) column plumbing (BASELINE.json north
star; no reference equivalent).

Design: media are opaque ``binary`` columns plus a typed ``meta``
struct; decode and frame sampling run as Arrow-batched ``mapInPandas``
so each task streams batches instead of materializing a partition of
blobs. Partition by ``media_id`` (or a storage bucket of it) and cap
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of decoded
frames fits executor memory at 100 TB.

Every codec here is stdlib + numpy, and the format comes from the row,
not from an option: ``decode_media`` picks each row's decoder from its
``kind`` and the blob's own signature — PNG (``decode_png``) or
baseline JPEG (``decode_jpeg``) images, PCM WAV audio (stdlib
``wave``), MJPEG video (``split_mjpeg_frames``, then ``decode_jpeg``
per frame). RIFF/AVI containers of raw frames go through
``decode_avi_frames``. A blob none of these reads raises, or under
``on_error='quarantine'`` fills the row's ``err`` column.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("format", StringType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("data", BinaryType()),
        StructField("meta", META_SCHEMA),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("pixels", ArrayType(DoubleType())),
        StructField("shape", ArrayType(IntegerType())),
    ]
)

QUARANTINED_SCHEMA = StructType(
    list(DECODED_SCHEMA.fields) + [StructField("err", StringType())]
)

def synthesize_media(df: DataFrame) -> DataFrame:
    """Deterministic media table from any text corpus: blob = utf-8
    bytes, kind round-robins image/audio/video, meta derived from the
    blob length. Pure column ops — used by tests and the oracle-checked
    manifest/frame-sample queries."""
    n_bytes = F.octet_length(F.encode(F.col("text"), "utf-8"))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        (n_bytes % 32 + 1).cast("int").alias("width"),
        F.lit(1).cast("int").alias("height"),
        F.lit(1).cast("int").alias("channels"),
        F.lit(8000).cast("int").alias("sample_rate"),
        (n_bytes % 50 + 10).cast("int").alias("n_frames"),
        F.lit("raw").alias("format"),
    )
    return df.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("data"),
        meta.alias("meta"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (RFC 2083 §6.6), vectorized: pick whichever
    of left/up/up-left is closest to a + b - c, ties in that order."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as an 8-bit grayscale PNG (stdlib
    only). Scanline filter types cycle 0..4 by row — None/Sub/Up/
    Average/Paeth — so any consumer must implement real unfiltering,
    not just strip a zero byte; filters are computed per the PNG spec
    from the raw (reconstructed) neighbor bytes."""
    import struct
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError(f"encode_png wants a 2-D grayscale array, got {a.shape}")
    h, w = a.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    lines = []
    prev = np.zeros(w, dtype=np.int32)
    for i in range(h):
        row = a[i].astype(np.int32)
        left = np.concatenate(([0], row[:-1]))
        up_left = np.concatenate(([0], prev[:-1]))
        ft = i % 5
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = (row - left) % 256
        elif ft == 2:
            filt = (row - prev) % 256
        elif ft == 3:
            filt = (row - (left + prev) // 2) % 256
        else:
            filt = (row - _paeth(left, prev, up_left)) % 256
        lines.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
        prev = row
    idat = zlib.compress(b"".join(lines))
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png(blob: bytes) -> np.ndarray:
    """Decode an 8-bit grayscale non-interlaced PNG to a (h, w) uint8
    array (stdlib only): chunk walk with CRC verification, IDAT
    concatenation + zlib inflate, and full five-filter scanline
    reconstruction. Sub/Average/Paeth rows reconstruct left-to-right
    (the spec's left-neighbor dependency is inherently sequential);
    None/Up rows are vectorized."""
    import struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    i, n = 8, len(blob)
    idat = bytearray()
    w = h = None
    while i + 12 <= n:
        ln = int.from_bytes(blob[i : i + 4], "big")
        tag = blob[i + 4 : i + 8]
        payload = blob[i + 8 : i + 8 + ln]
        crc = int.from_bytes(blob[i + 8 + ln : i + 12 + ln], "big")
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or color != 0 or interlace != 0:
                raise NotImplementedError(
                    "decode_png supports 8-bit grayscale non-interlaced only "
                    f"(got depth={depth} color={color} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w + 1
    if len(raw) != h * stride:
        raise ValueError(f"PNG data length {len(raw)} != {h}x{stride}")
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.int32)
    for r in range(h):
        line = raw[r * stride : (r + 1) * stride]
        ft = line[0]
        cur = np.frombuffer(line[1:], dtype=np.uint8).astype(np.int32)
        if ft == 0:
            rec = cur
        elif ft == 2:
            rec = (cur + prev) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros(w, dtype=np.int32)
            for x in range(w):
                a = int(rec[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                if ft == 1:
                    rec[x] = (cur[x] + a) % 256
                elif ft == 3:
                    rec[x] = (cur[x] + (a + b) // 2) % 256
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (cur[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    return out


# --- baseline JPEG (stdlib Huffman + numpy DCT) -------------------------------
#
# The compressed-image sibling of the stdlib PNG codec above (JPEG is
# the format a web-crawl corpus pipeline hits first). Dependency-free baseline
# sequential DCT (ITU-T T.81) for 8-bit grayscale: real marker
# segments, real canonical Huffman entropy coding with byte stuffing,
# real dequant + IDCT. The decoder reads quant/Huffman tables FROM THE
# STREAM, so it also decodes third-party baseline grayscale JPEGs, not
# just its own output.

def _jpeg_zigzag() -> list[int]:
    """Raster indices of the 8x8 zigzag scan, generated (not
    transcribed) so there is no table to mistype: walk diagonals
    alternating direction, exactly T.81 figure 5."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        idx = [(d - j) * 8 + j for j in rng]  # (row, col) = (d-j, j)
        order.extend(idx if d % 2 else idx[::-1])
    return order


_JPEG_ZZ = _jpeg_zigzag()
# Quant table (raster order): DC step 8 — chosen so a UNIFORM block
# round-trips losslessly (DC = 8*(v-128) exactly, /8 then *8 restores
# it), which is what makes mm6's oracle integer-exact while still
# driving the full Huffman/marker/IDCT pipeline. AC step 24 is an
# ordinary lossy choice exercised by the non-uniform-block tests.
_JPEG_Q = np.array([8] + [24] * 63, dtype=np.int32)

# Custom canonical Huffman tables (embedded in DHT, so any compliant
# decoder reads them from the stream; there is no
# requirement to ship Annex K's example tables). Fixed-length codes:
# 12 DC size symbols at 4 bits, 162 AC run/size symbols at 8 bits.
# n < 2^len in both, so the all-ones codeword (reserved: bitstream
# padding is 1-bits) is never assigned.
_JPEG_DC_SYMS = list(range(12))
_JPEG_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_JPEG_DC_BITS = [0] * 16
_JPEG_DC_BITS[3] = len(_JPEG_DC_SYMS)  # all codes length 4
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[7] = len(_JPEG_AC_SYMS)  # all codes length 8


def _jpeg_dct_matrix() -> np.ndarray:
    k = np.arange(8).reshape(-1, 1)
    j = np.arange(8).reshape(1, -1)
    c = 0.5 * np.cos((2 * j + 1) * k * np.pi / 16.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


def _huff_codes(bits: list[int], syms: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical code assignment (T.81 C.2): symbol -> (code, length)."""
    out, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[syms[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size category, amplitude bits) — T.81 F.1.2.1: negatives are
    stored as v + 2^size - 1 (one's-complement style)."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def encode_jpeg(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as a baseline sequential grayscale
    JPEG (stdlib + numpy only). Real everything: FDCT + quantization,
    zigzag, DC prediction, run/size AC coding, canonical Huffman with
    byte stuffing, and the full marker frame (SOI/DQT/SOF0/DHT/SOS/
    EOI). Dimensions not a multiple of 8 are edge-padded (decoder
    crops back via the SOF dims)."""
    import struct

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError(f"encode_jpeg wants a 2-D grayscale array, got {a.shape}")
    h, w = a.shape
    ph, pw = (-h) % 8, (-w) % 8
    padded = np.pad(a, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    C = _jpeg_dct_matrix()
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_SYMS)
    bw = _BitWriter()
    pred = 0
    for by in range(0, padded.shape[0], 8):
        for bx in range(0, padded.shape[1], 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            coef = C @ block @ C.T
            q = np.rint(coef.ravel() / _JPEG_Q.reshape(8, 8).ravel()).astype(int)
            zz = [int(q[i]) for i in _JPEG_ZZ]
            diff = zz[0] - pred
            pred = zz[0]
            size, amp = _jpeg_magnitude(diff)
            code, ln = dc_codes[size]
            bw.write(code, ln)
            if size:
                bw.write(amp, size)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, ln = ac_codes[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                size, amp = _jpeg_magnitude(zz[k])
                code, ln = ac_codes[(run << 4) | size]
                bw.write(code, ln)
                bw.write(amp, size)
                run = 0
            if last_nz < 63:
                code, ln = ac_codes[0x00]  # EOB
                bw.write(code, ln)
    data = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, b"\x00" + bytes(int(_JPEG_Q[i]) for i in _JPEG_ZZ))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    dht_dc = seg(
        0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_SYMS)
    )
    dht_ac = seg(
        0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_SYMS)
    )
    sos = seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + data + b"\xff\xd9"
    )


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops (raises) at any real marker."""

    def __init__(self, blob: bytes, pos: int) -> None:
        self.blob = blob
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.blob):
            raise ValueError("truncated JPEG: entropy data ends mid-block")
        b = self.blob[self.pos]
        if b == 0xFF:
            nxt = self.blob[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError(
                    f"marker 0xFF{nxt:02X} inside entropy data (truncated scan)"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _huff_decoder(bits: list[int], syms: list[int]):
    """(code, length) -> symbol lookup built canonically from a DHT."""
    table = {}
    code, i = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = syms[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _jpeg_extend(amp: int, size: int) -> int:
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Decode a baseline sequential grayscale JPEG to a (h, w) uint8
    array (stdlib + numpy only): marker walk, stream-carried quant +
    Huffman tables (canonical reconstruction), entropy decode with
    unstuffing, dequant, IDCT, level shift, crop to SOF dims. Raises
    NotImplementedError on progressive (SOF2), multi-component (color),
    12-bit, or restart-interval streams — loud driver-visible gaps,
    same policy as decode_png."""
    import struct

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    i = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    h = w = None
    comp_q = comp_dc = comp_ac = 0
    data_start = None
    while i < len(blob):
        if blob[i] != 0xFF:
            raise ValueError(f"expected marker at {i}")
        marker = blob[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            i += 2
            continue
        (ln,) = struct.unpack(">H", blob[i + 2 : i + 4])
        seg = blob[i + 4 : i + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                vals = np.zeros(64, dtype=np.int32)
                for k in range(64):
                    vals[_JPEG_ZZ[k]] = seg[p + 1 + k]
                qtables[tq] = vals
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision unsupported")
            if ncomp != 1:
                raise NotImplementedError(
                    "decode_jpeg supports single-component (grayscale) only"
                )
            comp_q = seg[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF marker 0xFF{marker:02X}: only baseline sequential "
                "(SOF0) is supported"
            )
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                syms = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _huff_decoder(bits, syms)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (interval,) = struct.unpack(">H", seg[:2])
            if interval:
                raise NotImplementedError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ncomp = seg[0]
            if ncomp != 1:
                raise NotImplementedError("multi-component scan unsupported")
            comp_dc, comp_ac = seg[2] >> 4, seg[2] & 0xF
            data_start = i + 2 + ln
            break
        # APPn / COM / others: skip
        i += 2 + ln
    if h is None or data_start is None:
        raise ValueError("JPEG missing SOF0 or SOS")
    dc_tab = huff[(0, comp_dc)]
    ac_tab = huff[(1, comp_ac)]
    Q = qtables[comp_q].astype(np.float64).reshape(8, 8)
    C = _jpeg_dct_matrix()
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    out = np.zeros((bh * 8, bw_ * 8), dtype=np.uint8)
    br = _BitReader(blob, data_start)

    def read_symbol(tab) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | br.read_bit()
            ln += 1
            if (ln, code) in tab:
                return tab[(ln, code)]
        raise ValueError("invalid Huffman code in entropy data")

    pred = 0
    for byi in range(bh):
        for bxi in range(bw_):
            zz = np.zeros(64, dtype=np.float64)
            size = read_symbol(dc_tab)
            diff = _jpeg_extend(br.read_bits(size), size) if size else 0
            pred += diff
            zz[0] = pred
            k = 1
            while k < 64:
                rs = read_symbol(ac_tab)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past end of block")
                size = rs & 0xF
                zz[k] = _jpeg_extend(br.read_bits(size), size)
                k += 1
            coef = np.zeros(64, dtype=np.float64)
            for idx in range(64):
                coef[_JPEG_ZZ[idx]] = zz[idx]
            block = C.T @ (coef.reshape(8, 8) * Q) @ C + 128.0
            out[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8] = np.clip(
                np.rint(block), 0, 255
            ).astype(np.uint8)
    return out[:h, :w]


def split_mjpeg_frames(blob: bytes) -> list[bytes]:
    """Split an MJPEG-style blob (concatenated JPEG images) into
    per-frame byte strings by walking JPEG marker segments.

    Pure bytes logic. Each frame is parsed from its SOI (FFD8) to its
    EOI (FFD9): length-prefixed segments (APPn/DQT/SOF/DHT/SOS headers)
    are skipped by their declared length — so an EXIF thumbnail (a full
    JPEG embedded in an APP1 payload) cannot cause a false split — and
    entropy-coded data after SOS is scanned for the next real marker
    (within entropy data a 0xFF is always stuffed with 0x00 or a
    restart marker D0-D7, so anything else terminates the scan)."""
    frames: list[bytes] = []
    i, n = 0, len(blob)
    while i < n:
        if blob[i:i + 2] != b"\xff\xd8":
            raise ValueError(
                f"expected JPEG SOI marker at offset {i} in video blob"
            )
        start = i
        j = i + 2
        while True:
            if j + 1 >= n or blob[j] != 0xFF:
                raise ValueError(
                    f"corrupt JPEG: expected marker at offset {j}"
                )
            marker = blob[j + 1]
            if marker == 0xFF:  # fill byte before a marker — resync
                j += 1
                continue
            if marker == 0xD9:  # EOI — frame complete
                j += 2
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
                j += 2
                continue
            if j + 3 >= n:
                raise ValueError("truncated JPEG segment header")
            seglen = int.from_bytes(blob[j + 2:j + 4], "big")
            is_sos = marker == 0xDA
            j += 2 + seglen
            if is_sos:
                # entropy-coded scan: skip stuffed FF00 / restart markers
                while True:
                    k = blob.find(b"\xff", j)
                    if k == -1 or k + 1 >= n:
                        raise ValueError(
                            "unterminated entropy-coded JPEG scan"
                        )
                    nxt = blob[k + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        j = k + 2
                        continue
                    j = k
                    break
        frames.append(blob[start:j])
        i = j
    if not frames:
        raise ValueError("no JPEG SOI marker found in video blob")
    return frames


def _decode_image(blob: bytes) -> np.ndarray:
    """PNG or baseline JPEG, told apart by the blob's signature."""
    if blob[:8] == _PNG_SIG:
        return decode_png(blob) / 255.0
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob) / 255.0
    raise ValueError(f"unknown image signature {blob[:8]!r}")


def _decode_wav(blob: bytes) -> np.ndarray:
    """PCM WAV (stdlib ``wave``) to an (n, channels) array in [-1, 1).
    A data chunk shorter than its header's frame count raises."""
    import io
    import wave

    with wave.open(io.BytesIO(blob)) as w:
        n, width, nch = w.getnframes(), w.getsampwidth(), w.getnchannels()
        raw = w.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    if len(raw) != n * width * nch:
        raise ValueError(
            f"truncated WAV: {len(raw)} data bytes, header says "
            f"{n * width * nch}"
        )
    samples = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if dtype is np.uint8:  # 8-bit WAV is unsigned
        samples, scale = samples - 128.0, 128.0
    else:
        scale = float(2 ** (8 * width - 1))
    return (samples / scale).reshape(-1, nch)


def _decode_mjpeg(blob: bytes) -> np.ndarray:
    """MJPEG: concatenated baseline JPEG frames, stacked to (n, h, w)."""
    return np.stack([decode_jpeg(f) for f in split_mjpeg_frames(blob)]) / 255.0


_DECODERS = {"image": _decode_image, "audio": _decode_wav, "video": _decode_mjpeg}


def decode_media(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """Decode the blobs to float arrays via ``mapInPandas``; rows of a
    kind other than image, audio or video are dropped. Each row's
    decoder comes from its ``kind`` and the blob itself:

    - image: PNG (``decode_png``) or baseline JPEG (``decode_jpeg``) by
      the PNG signature or the JPEG SOI bytes; pixels / 255, shape (h, w);
    - audio: PCM WAV via stdlib ``wave``; samples / 2^(bits-1), shape
      (n, channels);
    - video: MJPEG (``split_mjpeg_frames``, then ``decode_jpeg`` per
      frame); pixels / 255, shape (n_frames, h, w).

    ``pixels`` is the decoded array flattened in row-major order.

    on_error="quarantine": a corrupt or unsupported blob must not kill
    a 100 TB decode job. A row whose decode raises gets empty
    pixels/shape and the exception in an ``err`` column (NULL on
    success); good rows flow through unchanged — the media-blob form of
    a corrupt-record quarantine. Default "fail" raises on the first bad
    blob."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error!r}")
    quarantine = on_error == "quarantine"
    out_schema = QUARANTINED_SCHEMA if quarantine else DECODED_SCHEMA
    out_cols = [f.name for f in out_schema]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                row = {"media_id": r.media_id, "kind": r.kind}
                try:
                    arr = _DECODERS[r.kind](bytes(r.data))
                except Exception as exc:
                    if not quarantine:
                        raise
                    row.update(pixels=[], shape=[],
                               err=f"{type(exc).__name__}: {exc}")
                else:
                    row.update(pixels=arr.ravel().tolist(),
                               shape=list(arr.shape))
                    if quarantine:
                        row["err"] = None
                out.append(row)
            yield pd.DataFrame(out, columns=out_cols)

    return df.filter(F.col("kind").isin(*_DECODERS)).mapInPandas(batches, out_schema)


def sample_frames(df: DataFrame) -> DataFrame:
    """Video frame sampling: every 7th frame index from meta.n_frames,
    exploded to (media_id, frame_idx) — pure JVM sequence/explode, no
    Python; the decode of sampled frames happens later and touches only
    the sampled subset."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.col("meta.n_frames") - 1,
                    F.lit(7),
                )
            ).alias("frame_idx"),
        )
    )


# --- RIFF/AVI container (stdlib struct walk) ----------------------------------

def encode_avi(frames: list[bytes], width: int, height: int) -> bytes:
    """Minimal structurally-valid RIFF/AVI container around raw
    grayscale frames (the video sibling of ``encode_png``/stdlib wave
    for mm3/mm4): RIFF('AVI ') → LIST('hdrl') holding a spec-shaped
    56-byte ``avih`` (real dims + frame count) → LIST('movi') holding
    one ``00db`` (uncompressed DIB) chunk per frame, word-aligned as
    RIFF requires. No codec — the point is the CONTAINER: chunk
    framing, nesting, alignment, and header fields all round-trip
    through ``parse_avi``."""
    import struct

    def chunk(tag: bytes, payload: bytes) -> bytes:
        out = tag + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            out += b"\x00"  # RIFF word alignment
        return out

    avih = struct.pack(
        "<14I",
        100_000,               # dwMicroSecPerFrame (10 fps)
        width * height * 10,   # dwMaxBytesPerSec
        0,                     # dwPaddingGranularity
        0,                     # dwFlags — no idx1 chunk is written, so
                               # AVIF_HASINDEX (0x10) MUST be clear; we set no
                               # interleave hint (AVIF_ISINTERLEAVED=0x100) either
        len(frames),           # dwTotalFrames
        0,                     # dwInitialFrames
        1,                     # dwStreams
        width * height,        # dwSuggestedBufferSize
        width,                 # dwWidth
        height,                # dwHeight
        0, 0, 0, 0,            # dwReserved[4]
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00db", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(blob: bytes) -> tuple[dict, list[bytes]]:
    """Walk a RIFF/AVI container: verify the RIFF signature and 'AVI '
    form type, descend into LIST chunks (explicit stack, depth-safe
    against adversarially nested lists) honoring word alignment,
    read (width, height, n_frames) from ``avih``, and collect every
    ``00db``/``00dc`` payload in stream order. Raises on truncated or
    mis-framed chunks — corrupt containers must fail loudly, not yield
    silent partial frames."""
    import struct

    if blob[:4] != b"RIFF":
        raise ValueError("not RIFF")
    (riff_len,) = struct.unpack("<I", blob[4:8])
    if riff_len + 8 != len(blob):
        raise ValueError(f"RIFF length {riff_len} != payload {len(blob) - 8}")
    if blob[8:12] != b"AVI ":
        raise ValueError("RIFF form type is not 'AVI '")
    meta: dict = {}
    frames: list[bytes] = []

    # Explicit work stack, NOT recursion: an adversarial blob of deeply
    # nested 8-byte LIST chunks must fail with ValueError (via the
    # truncation / framing checks), never RecursionError. Each stack
    # entry is one chunk sequence still to scan.
    # On LIST we descend immediately (data ← list body) after pushing
    # the REMAINDER of the current level, so traversal order is
    # identical to the recursive form — frames inside nested 'rec '
    # lists still land in stream order.
    stack: list[bytes] = []
    data = blob[12:]
    i = 0
    while True:
        if i >= len(data):
            if not stack:
                break
            data, i = stack.pop(), 0
            continue
        if i + 8 > len(data):
            # sub-header trailing bytes inside a chunk body: the
            # container is mis-framed — fail loudly, don't ignore.
            raise ValueError(
                f"{len(data) - i} trailing bytes shorter than a chunk header"
            )
        tag = data[i : i + 8][:4]
        (ln,) = struct.unpack("<I", data[i + 4 : i + 8])
        payload = data[i + 8 : i + 8 + ln]
        if len(payload) != ln:
            raise ValueError(f"truncated chunk {tag!r}")
        if tag == b"LIST":
            if ln < 4:
                raise ValueError("LIST chunk shorter than its form type")
            stack.append(data[i + 8 + ln + (ln % 2) :])
            data, i = payload[4:], 0  # descend into the list body
            continue
        elif tag == b"avih":
            fields = struct.unpack("<14I", payload[:56])
            meta.update(
                n_frames=fields[4], width=fields[8], height=fields[9]
            )
        elif tag in (b"00db", b"00dc"):
            frames.append(payload)
        i += 8 + ln + (ln % 2)
    if meta.get("n_frames") != len(frames):
        raise ValueError(
            f"header frame count {meta.get('n_frames')} != "
            f"{len(frames)} movi chunks"
        )
    return meta, frames


def decode_avi_frames(df: DataFrame) -> DataFrame:
    """Arrow-batched container decode: one output row per frame with
    the header dims and the frame's pixels normalized to [0, 1]. The
    per-frame explode happens Python-side (frames are already in
    memory per blob); every downstream statistic stays JVM-side."""
    out_schema = (
        "media_id long, width int, height int, frame_idx int, "
        "pixels array<double>"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                meta, frames = parse_avi(bytes(r["data"]))
                for k, f in enumerate(frames):
                    rows.append(
                        {
                            "media_id": int(r["media_id"]),
                            "width": meta["width"],
                            "height": meta["height"],
                            "frame_idx": k,
                            "pixels": (
                                np.frombuffer(f, dtype=np.uint8).astype(
                                    np.float64
                                )
                                / 255.0
                            ),
                        }
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {
                    "media_id": pd.Series([], dtype="int64"),
                    "width": pd.Series([], dtype="int32"),
                    "height": pd.Series([], dtype="int32"),
                    "frame_idx": pd.Series([], dtype="int32"),
                    "pixels": pd.Series([], dtype="object"),
                }
            )

    return df.mapInPandas(batches, out_schema)
