"""Baseline JFIF JPEG codec in pure numpy (no libjpeg in container).

This replaces the round-1 ``CBSTUBJ1`` jpeg stand-in with a REAL
codec so the lossy branch of the fidelity gate (BASELINE.json
input_hint: decoded-pixel PSNR >= 40 dB) exercises an actual
DCT-quantize-entropy pipeline, not a bit-truncation fake:

- :func:`encode_jpeg` — baseline sequential DCT, 4:4:4 (no chroma
  subsampling), standard ITU T.81 Annex K quantization + Huffman
  tables, IJG quality scaling. Output is a spec-conformant JFIF
  stream (interop-verified against Java ImageIO in
  ``tests/test_jpeg_interop.py``).
- :func:`decode_jpeg` — general huffman decoder: sequential
  (SOF0/SOF1, interleaved or per-component scans) AND progressive
  (SOF2: spectral selection + successive approximation, EOB runs,
  DC/AC refinement passes), multi-table DQT/DHT segments, arbitrary
  sampling factors (4:4:4, 4:2:2, 4:2:0 — triangle-filter
  upsampling), restart markers (DRI/RSTn), grayscale or YCbCr.
  Arithmetic/hierarchical/lossless processes are rejected
  explicitly.

Everything below is straight from the public JPEG specification
(ITU-T T.81 / ISO 10918-1, Annex K for the tables); the hot math
(FDCT/IDCT/quantization/color transform) is vectorized over all 8x8
blocks at once, with only the entropy loop per-block in Python —
this runs inside Arrow-batched ``mapInPandas`` stages, never per-row
Spark UDFs.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# -- constant tables (ITU T.81 Annex K) -------------------------------------

# zigzag position -> raster index within an 8x8 block
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# (bits-per-length[1..16], symbol values) — standard tables
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)

# orthonormal 8x8 DCT-II matrix: forward C = M @ B @ M.T,
# inverse B = M.T @ C @ M (exactly the T.81 FDCT/IDCT scaling)
_k = np.arange(8)
DCT_M = 0.5 * np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16)
DCT_M[0, :] *= 1.0 / np.sqrt(2.0)
del _k


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables under the IJG quality scaling (public libjpeg
    convention: scale = 5000/q below 50 else 200-2q, clip to 1..255)."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    def s(base: np.ndarray) -> np.ndarray:
        return np.clip((base * scale + 50) // 100, 1, 255)
    return s(QUANT_LUMA), s(QUANT_CHROMA)


def _canonical_codes(bits: list[int], values: list[int]):
    """(symbol -> (code, length)) and ((length, code) -> symbol) maps
    for a canonical Huffman table (T.81 C.2 code assignment)."""
    enc: dict[int, tuple[int, int]] = {}
    dec: dict[tuple[int, int], int] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[idx]
            enc[sym] = (code, length)
            dec[(length, code)] = sym
            code += 1
            idx += 1
        code <<= 1
    return enc, dec


_DC_LUMA_ENC = _canonical_codes(*DC_LUMA)[0]
_DC_CHROMA_ENC = _canonical_codes(*DC_CHROMA)[0]
_AC_LUMA_ENC = _canonical_codes(*AC_LUMA)[0]
_AC_CHROMA_ENC = _canonical_codes(*AC_CHROMA)[0]


# -- color transforms (JFIF / BT.601 full range) ----------------------------

def rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# -- encoder ----------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended-bits pattern) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return (s, v) if v > 0 else (s, v + (1 << s) - 1)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg(pixels: np.ndarray, quality: int = 92,
                restart_interval: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline JFIF, 4:4:4.

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that many MCUs (resumable scans / parallel-decode friendly,
    and exercises the decoder's restart path)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB")
    h, w, _ = pixels.shape
    if not (0 < h <= 65500 and 0 < w <= 65500):
        raise ValueError("dimensions out of JPEG range")
    qy, qc = quality_tables(quality)

    ycc = rgb_to_ycbcr(pixels)
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    ycc = np.pad(ycc, ((0, h8 - h), (0, w8 - w), (0, 0)), mode="edge")
    by, bx = h8 // 8, w8 // 8

    # all blocks of all 3 components: FDCT + quantize, vectorized
    zz_per_comp = []
    for c, qt in ((0, qy), (1, qc), (2, qc)):
        plane = ycc[:, :, c] - 128.0
        blocks = (
            plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
            .reshape(by * bx, 8, 8)
        )
        coeffs = np.einsum("ux,nxy,vy->nuv", DCT_M, blocks, DCT_M)
        q = np.round(coeffs / qt[None, :, :]).astype(np.int64)
        zz_per_comp.append(q.reshape(-1, 64)[:, ZIGZAG])

    bw = _BitWriter()
    pred = [0, 0, 0]
    tables = (
        (_DC_LUMA_ENC, _AC_LUMA_ENC),
        (_DC_CHROMA_ENC, _AC_CHROMA_ENC),
        (_DC_CHROMA_ENC, _AC_CHROMA_ENC),
    )
    n_rst = 0
    for n in range(by * bx):  # MCU raster order; 4:4:4 => 1 block/comp
        if restart_interval and n and n % restart_interval == 0:
            bw.flush()
            bw.buf += bytes((0xFF, 0xD0 + n_rst))  # RSTn, not stuffed
            n_rst = (n_rst + 1) & 7
            pred = [0, 0, 0]
        for c in range(3):
            blk = zz_per_comp[c][n]
            dc_enc, ac_enc = tables[c]
            s, bits = _magnitude(int(blk[0]) - pred[c])
            pred[c] = int(blk[0])
            code, length = dc_enc[s]
            bw.write(code, length)
            bw.write(bits, s)
            run = 0
            nz = np.nonzero(blk[1:])[0]
            last = int(nz[-1]) + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                s, bits = _magnitude(v)
                code, length = ac_enc[run * 16 + s]
                bw.write(code, length)
                bw.write(bits, s)
                run = 0
            if last < 63:
                code, length = ac_enc[0x00]  # EOB
                bw.write(code, length)
    bw.flush()

    out = bytearray()
    out += b"\xFF\xD8"  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0))
    dqt = (b"\x00" + bytes(qy.reshape(-1)[ZIGZAG].astype(np.uint8))
           + b"\x01" + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _seg(0xFFDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += struct.pack(">BBB", cid, 0x11, tq)  # Hi=Vi=1 (4:4:4)
    out += _seg(0xFFC0, sof)
    dht = b""
    for tc_th, (bits, values) in (
        (0x00, DC_LUMA), (0x10, AC_LUMA),
        (0x01, DC_CHROMA), (0x11, AC_CHROMA),
    ):
        dht += bytes([tc_th]) + bytes(bits) + bytes(values)
    out += _seg(0xFFC4, dht)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3F\x00"
    out += _seg(0xFFDA, sos)
    out += bw.buf
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# -- decoder ----------------------------------------------------------------

class _BitReader:
    """Buffered MSB-first reader over the entropy-coded segment.

    Byte stuffing (FF 00) is resolved during refill; hitting any real
    marker switches to zero-padding so the caller's MCU-count loop
    terminates the scan (consuming more than the encoder's <=7 pad
    bits raises: the stream was truncated). Designed for the LUT
    decode path: `peek16` + `skip` are O(1) Python ops per symbol,
    not per bit."""

    __slots__ = ("data", "pos", "acc", "nbits", "pad")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.pad = 0  # zero bits appended past end-of-scan

    def _refill(self, need: int) -> None:
        d = self.data
        while self.nbits < need:
            p = self.pos
            if p < len(d):
                b = d[p]
                if b == 0xFF:
                    nb = d[p + 1] if p + 1 < len(d) else -1
                    if nb == 0x00:
                        self.pos = p + 2  # stuffed FF data byte
                    else:  # a real marker: stop consuming, pad zeros
                        self.acc <<= 8
                        self.nbits += 8
                        self.pad += 8
                        continue
                else:
                    self.pos = p + 1
                self.acc = (self.acc << 8) | b
                self.nbits += 8
            else:
                self.acc <<= 8
                self.nbits += 8
                self.pad += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._refill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        # consuming more than the encoder's <=7 byte-align pad bits
        # means the scan ended before the frame's last MCU
        if self.pad and self.nbits < self.pad - 7:
            raise ValueError("entropy data ended before last MCU")
        self.acc &= (1 << self.nbits) - 1

    def get(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._refill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v

    def sync_restart(self, expected: int) -> None:
        """Byte-align and consume the RSTn marker at an interval edge."""
        self.acc = 0
        self.nbits = 0
        self.pad = 0
        d, p = self.data, self.pos
        if p + 1 >= len(d) or d[p] != 0xFF or not (0xD0 <= d[p + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        if d[p + 1] != 0xD0 + (expected & 7):
            raise ValueError("restart marker out of sequence")
        self.pos = p + 2


def _build_lut(dec: dict) -> tuple[list[int], list[int]]:
    """libjpeg-style 16-bit-prefix lookup: lut_sym[peek16] = symbol,
    lut_len[peek16] = code length (0 => invalid prefix)."""
    sym = np.zeros(1 << 16, dtype=np.int32)
    ln = np.zeros(1 << 16, dtype=np.int32)
    for (length, code), s in dec.items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        sym[lo:hi] = s
        ln[lo:hi] = length
    return sym.tolist(), ln.tolist()


@lru_cache(maxsize=16)
def _huff_lut(bits: tuple, values: tuple) -> tuple[list[int], list[int]]:
    """Cached (bits, values) -> 16-bit-prefix LUT. Nearly every real
    JPEG (including ours and Java's) uses the four Annex K standard
    tables, so across a batch of images the 2x65536-entry build cost
    is paid once per table, not once per image (measured ~40 ms/image
    -> microseconds on the fidelity contract query)."""
    _, dec = _canonical_codes(list(bits), list(values))
    return _build_lut(dec)


def _receive_extend(r: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = r.get(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def _triangle2(plane: np.ndarray, axis: int) -> np.ndarray:
    """2x upsample along ``axis`` with libjpeg's "fancy" triangle
    filter (3/4 nearest + 1/4 next-nearest, edges replicated)."""
    p = np.moveaxis(plane, axis, 0)
    prev = np.concatenate([p[:1], p[:-1]], axis=0)
    nxt = np.concatenate([p[1:], p[-1:]], axis=0)
    out = np.empty((p.shape[0] * 2,) + p.shape[1:], dtype=p.dtype)
    out[0::2] = (3.0 * p + prev) * 0.25
    out[1::2] = (3.0 * p + nxt) * 0.25
    return np.moveaxis(out, 0, axis)


def _upsample(plane: np.ndarray, fv: int, fh: int) -> np.ndarray:
    """Upsample by (fv, fh); triangle filter for factor 2 (matches
    libjpeg's default), replication for anything larger (rare)."""
    for axis, f in ((0, fv), (1, fh)):
        if f == 2:
            plane = _triangle2(plane, axis)
        elif f != 1:
            plane = np.repeat(plane, f, axis=axis)
    return plane


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (h, w, 3) uint8 RGB (grayscale is
    replicated across channels). Supports multi-table DQT/DHT, DRI
    restart intervals, and any Hi/Vi sampling. Raises ValueError on
    progressive/arithmetic/unsupported/corrupt streams (corruption
    fuzz pinned in tests — no other exception type escapes)."""
    try:
        return _decode_jpeg(data)
    except (struct.error, IndexError, KeyError, OverflowError) as e:
        raise ValueError(f"malformed JPEG stream: {e}") from e


class _Frame:
    """Mutable decode state shared across scans (progressive JPEGs
    carry many SOS segments, each touching a coefficient subset)."""

    __slots__ = ("h", "w", "comps", "progressive", "hmax", "vmax",
                 "mcus_x", "mcus_y", "coef", "stride", "nbw", "nbh",
                 "touched")

    def __init__(self, h: int, w: int, comps: list,
                 progressive: bool) -> None:
        self.h, self.w, self.comps = h, w, comps
        self.progressive = progressive
        self.touched: set[int] = set()  # components any scan coded
        self.hmax = max(hi for _, hi, _, _ in comps)
        self.vmax = max(vi for _, _, vi, _ in comps)
        self.mcus_x = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.coef = []     # per component: (n_blocks, 64) int64
        self.stride = []   # blocks per row (interleaved padding)
        self.nbw = []      # non-interleaved block-grid dims
        self.nbh = []
        for _, hi, vi, _ in comps:
            stride = self.mcus_x * hi
            self.coef.append(
                np.zeros((stride * self.mcus_y * vi, 64),
                         dtype=np.int64))
            self.stride.append(stride)
            cw = (w * hi + self.hmax - 1) // self.hmax
            ch = (h * vi + self.vmax - 1) // self.vmax
            self.nbw.append((cw + 7) // 8)
            self.nbh.append((ch + 7) // 8)


def _decode_jpeg(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame: _Frame | None = None
    got_scan = False

    while True:
        if pos + 1 >= len(data):
            if got_scan:
                break  # tolerate a missing EOI after valid scans
            raise ValueError("truncated JPEG (no SOS)")
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        if seglen < 2:  # would stall the marker walk
            raise ValueError("invalid zero-length marker segment")
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(seg[p + 1:p + 65], dtype=np.uint8)
                qtables[tq] = tbl.astype(np.int64)[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = tuple(seg[p + 1:p + 17])
                n = sum(bits)
                values = tuple(seg[p + 17:p + 17 + n])
                (huff_ac if tc else huff_dc)[th] = (bits, values)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 seq, SOF2 prog
            prec, fh, fw, nf = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for i in range(nf):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = _Frame(fh, fw, comps, progressive=(marker == 0xC2))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding process")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scomps = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                scomps.append((cs, tdta >> 4, tdta & 15))
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            pos = _decode_scan(
                data, pos + seglen, frame, scomps,
                ss, se, ahal >> 4, ahal & 15,
                qtables, huff_dc, huff_ac, restart_interval)
            got_scan = True
            continue
        pos += seglen

    if frame is None or not got_scan:
        raise ValueError("no image data (missing SOF/SOS)")
    return _finish(frame, qtables)


def _decode_scan(data, pos, frame: _Frame, scomps, ss, se, ah, al,
                 qtables, huff_dc, huff_ac, restart_interval) -> int:
    """Decode one entropy-coded scan (sequential full-band, or one
    progressive DC/AC first/refinement pass) into ``frame.coef``.
    Returns the position of the next marker."""
    cidx = []
    for cs, td, ta in scomps:
        for i, (cid, _, _, _) in enumerate(frame.comps):
            if cid == cs:
                cidx.append((i, td, ta))
                frame.touched.add(i)
                break
        else:
            raise ValueError("scan references unknown component")
    if frame.progressive:
        if ss == 0 and se == 0:
            return _scan_dc(data, pos, frame, cidx, ah, al,
                            huff_dc, restart_interval)
        if ss == 0 or len(cidx) != 1:
            raise ValueError("invalid progressive scan header")
        return _scan_ac(data, pos, frame, cidx[0], ss, se, ah, al,
                        huff_ac, restart_interval)
    if ss != 0 or se != 63 or ah != 0 or al != 0:
        raise ValueError("invalid sequential scan header")
    return _scan_sequential(data, pos, frame, cidx,
                            huff_dc, huff_ac, restart_interval)


def _luts(table_bank: dict, th: int):
    if th not in table_bank:
        raise ValueError("missing huffman table")
    return _huff_lut(*table_bank[th])


def _decode_sym(r: _BitReader, sym_lut, len_lut) -> int:
    w16 = r.peek16()
    length = len_lut[w16]
    if length == 0:
        raise ValueError("invalid Huffman code")
    r.skip(length)
    return sym_lut[w16]


def _interleaved_units(frame: _Frame, cidx):
    """Yield (mcu_index, [(ci, block_index), ...]) in MCU raster
    order — the unit list covers every block of every scan component
    in one MCU. For a single-component scan the 'MCU' is ONE block
    of that component over its own (nbw x nbh) grid (T.81 A.2.2)."""
    if len(cidx) == 1:
        ci = cidx[0][0]
        stride = frame.stride[ci]
        nbw, nbh = frame.nbw[ci], frame.nbh[ci]
        for i in range(nbw * nbh):
            by, bx = divmod(i, nbw)
            yield i, [(ci, by * stride + bx)]
        return
    for mcu in range(frame.mcus_x * frame.mcus_y):
        my, mx = divmod(mcu, frame.mcus_x)
        units = []
        for ci, _, _ in cidx:
            _, hi, vi, _ = frame.comps[ci]
            for v in range(vi):
                row = (my * vi + v) * frame.mcus_x * hi + mx * hi
                for hb in range(hi):
                    units.append((ci, row + hb))
        yield mcu, units


def _scan_sequential(data, pos, frame, cidx, huff_dc, huff_ac,
                     restart_interval) -> int:
    r = _BitReader(data, pos)
    luts = {ci: (_luts(huff_dc, td), _luts(huff_ac, ta))
            for ci, td, ta in cidx}
    pred = {ci: 0 for ci, _, _ in cidx}
    n_rst = 0
    for unit_i, units in _interleaved_units(frame, cidx):
        if restart_interval and unit_i and \
                unit_i % restart_interval == 0:
            r.sync_restart(n_rst)
            n_rst = (n_rst + 1) & 7
            pred = {ci: 0 for ci, _, _ in cidx}
        for ci, bidx in units:
            (dc_sym, dc_len), (ac_sym, ac_len) = luts[ci]
            blk = [0] * 64
            t = _decode_sym(r, dc_sym, dc_len)
            pred[ci] += _receive_extend(r, t)
            blk[0] = pred[ci]
            k = 1
            while k < 64:
                rs = _decode_sym(r, ac_sym, ac_len)
                s = rs & 15
                if s == 0:
                    if rs != 0xF0:
                        break  # EOB
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC index overflow")
                blk[k] = _receive_extend(r, s)
                k += 1
            frame.coef[ci][bidx] = blk
    return r.pos


def _scan_dc(data, pos, frame, cidx, ah, al, huff_dc,
             restart_interval) -> int:
    """Progressive DC scan: first pass (Ah=0) codes DC diffs shifted
    by Al; refinement passes (Ah>0) add one bit per block."""
    r = _BitReader(data, pos)
    luts = {ci: _luts(huff_dc, td) for ci, td, _ in cidx} \
        if ah == 0 else {}
    pred = {ci: 0 for ci, _, _ in cidx}
    n_rst = 0
    for unit_i, units in _interleaved_units(frame, cidx):
        if restart_interval and unit_i and \
                unit_i % restart_interval == 0:
            r.sync_restart(n_rst)
            n_rst = (n_rst + 1) & 7
            pred = {ci: 0 for ci, _, _ in cidx}
        for ci, bidx in units:
            if ah == 0:
                dc_sym, dc_len = luts[ci]
                t = _decode_sym(r, dc_sym, dc_len)
                pred[ci] += _receive_extend(r, t)
                frame.coef[ci][bidx, 0] = pred[ci] << al
            else:
                if r.get(1):
                    frame.coef[ci][bidx, 0] |= 1 << al
    return r.pos


def _scan_ac(data, pos, frame, one_cidx, ss, se, ah, al, huff_ac,
             restart_interval) -> int:
    """Progressive AC scan over ONE component's spectral band
    [ss..se]: first pass (Ah=0) with EOB-run coding, refinement pass
    (Ah>0) with correction bits (T.81 G.1.2.3 / the classic libjpeg
    decode_mcu_AC_first/refine control flow)."""
    ci, _, ta = one_cidx
    ac_sym, ac_len = _luts(huff_ac, ta)
    r = _BitReader(data, pos)
    coef = frame.coef[ci]
    stride = frame.stride[ci]
    nbw, nbh = frame.nbw[ci], frame.nbh[ci]
    eobrun = 0
    n_rst = 0
    p1, m1 = 1 << al, -1 << al
    for i in range(nbw * nbh):
        if restart_interval and i and i % restart_interval == 0:
            r.sync_restart(n_rst)
            n_rst = (n_rst + 1) & 7
            eobrun = 0
        by, bx = divmod(i, nbw)
        blk = coef[by * stride + bx]
        if ah == 0:  # first pass
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _decode_sym(r, ac_sym, ac_len)
                rr, s = rs >> 4, rs & 15
                if s == 0:
                    if rr != 15:
                        eobrun = (1 << rr) - 1
                        if rr:
                            eobrun += r.get(rr)
                        break
                    k += 16
                    continue
                k += rr
                if k > se:
                    raise ValueError("AC index overflow")
                blk[k] = _receive_extend(r, s) << al
                k += 1
            continue
        # refinement pass
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _decode_sym(r, ac_sym, ac_len)
                rr, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if rr != 15:
                        eobrun = 1 << rr
                        if rr:
                            eobrun += r.get(rr)
                        break
                    # rr == 15: pass over 15 zero-history coeffs
                else:
                    if s != 1:
                        raise ValueError("invalid refinement size")
                    val = p1 if r.get(1) else m1
                while k <= se:
                    c = int(blk[k])
                    if c != 0:
                        if r.get(1) and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if rr == 0:
                            if val:
                                blk[k] = val
                            k += 1
                            break
                        rr -= 1
                    k += 1
        if eobrun > 0:
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if r.get(1) and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1
    return r.pos


def _finish(frame: _Frame, qtables) -> np.ndarray:
    # a component no scan ever coded would render as silent neutral
    # gray (all-zero coefficients) — the pre-multi-scan decoder
    # raised on such streams, and a validation pipeline must not
    # accept them as clean decodes (review finding)
    if frame.touched != set(range(len(frame.comps))):
        missing = sorted(set(range(len(frame.comps))) - frame.touched)
        raise ValueError(
            f"no scan coded frame component(s) {missing}")
    # dequantize + IDCT all blocks per component at once
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(frame.comps):
        if tq not in qtables:
            raise ValueError("missing quant table")
        bw_, bh_ = frame.mcus_x * hi, frame.mcus_y * vi
        coeffs = (frame.coef[ci][:, UNZIGZAG].reshape(-1, 8, 8)
                  .astype(np.float64) * qtables[tq][None, :, :])
        blocks = np.einsum("ux,nuv,vy->nxy", DCT_M, coeffs, DCT_M) + 128.0
        plane = (
            blocks.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3)
            .reshape(bh_ * 8, bw_ * 8)
        )
        plane = _upsample(plane, frame.vmax // vi, frame.hmax // hi)
        planes.append(plane[:frame.h, :frame.w])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(planes) != 3:
        raise ValueError(f"unsupported component count {len(planes)}")
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])


# ---------------------------------------------------------------------
# Header-only quantization-table census + IJG quality inversion.
# Training-data curation drops low-quality JPEGs without decoding a
# pixel: the DQT segment sits in the first few hundred bytes, and for
# IJG-scaled encoders (libjpeg and everything built on it) the quality
# factor inverts EXACTLY — all 100 (luma, chroma) table pairs under
# quality_tables() are distinct (pinned in tests/test_jpeg_quality.py).
# Reference analogue: rules.hh min/max promoted to a derived column —
# the reference validates scalars it is given; here the scalar is
# derived from container structure first.
# ---------------------------------------------------------------------

def parse_dqt_tables(data: bytes) -> dict:
    """Header-only DQT walk: marker scan up to SOS — never entropy
    data, never pixels (the 10^12-row tier). Returns
    ``{"tables": {tid: (precision_bits, 8x8 int64 ndarray in NATURAL
    order)}, "n_segments": n_dqt_segments}``.

    Unlike the decoder, Pq=1 (16-bit) tables are PARSED — a census
    must report exotic precision, not die on it. Raises ValueError on
    structurally invalid streams: missing SOI, lost marker sync,
    segment length overrunning the buffer, a table truncated inside
    its own segment, or the stream ending before SOS (a headers-only
    fragment is not a valid scan carrier). The walk itself is the
    shared :func:`_marker_segments` generator (defined below, also
    backing :func:`parse_sof_info`)."""
    tables: dict[int, tuple[int, np.ndarray]] = {}
    nseg = 0
    for marker, seg in _marker_segments(data):
        if marker == 0xDA:  # SOS — headers complete
            break
        if marker == 0xDB:
            nseg += 1
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq not in (0, 1):
                    raise ValueError(f"invalid DQT precision {pq}")
                width = 1 if pq == 0 else 2
                end = p + 1 + 64 * width
                if end > len(seg):
                    raise ValueError("quant table truncated")
                if pq == 0:
                    tbl = np.frombuffer(
                        seg[p + 1:end], dtype=np.uint8)
                else:
                    tbl = np.frombuffer(seg[p + 1:end], dtype=">u2")
                tables[tq] = (
                    8 * width,
                    tbl.astype(np.int64)[UNZIGZAG].reshape(8, 8),
                )
                p = end
    return {"tables": tables, "n_segments": nseg}


_IJG_BY_LUMA: dict[bytes, tuple[int, bytes]] | None = None


def estimate_ijg_quality(
    qy: np.ndarray, qc: np.ndarray | None = None,
) -> int | None:
    """EXACT inverse of the IJG quality scaling: the unique q in
    1..100 whose ``quality_tables(q)`` equal the given luma (and,
    when provided, chroma) table — all 100 pairs are distinct (the
    luma tables alone already are, pinned in tests), so a match
    identifies the encoder setting. None when the tables are not
    IJG-scaled Annex K (custom or re-scaled tables).

    O(1) on the hot audit path: a dict keyed by the luma table's
    bytes (built once) replaces the 100-pair scan — a custom-table
    row costs one hash lookup instead of 100 x 2 x 64 comparisons."""
    global _IJG_BY_LUMA
    if _IJG_BY_LUMA is None:
        _IJG_BY_LUMA = {}
        for q in range(1, 101):
            y, c = quality_tables(q)
            _IJG_BY_LUMA[y.astype(np.int64).tobytes()] = (
                q, c.astype(np.int64).tobytes())
    hit = _IJG_BY_LUMA.get(np.ascontiguousarray(
        qy, dtype=np.int64).tobytes())
    if hit is None:
        return None
    q, cbytes = hit
    if qc is not None and np.ascontiguousarray(
            qc, dtype=np.int64).tobytes() != cbytes:
        return None
    return q


def implied_scale_pct(qt: np.ndarray, base: np.ndarray) -> int:
    """Mean per-coefficient implied IJG scale percentage for a table
    that does NOT invert exactly, integer arithmetic only (so the
    value is bit-portable and oracle-replayable):
    ``floor(sum_i floor((200*qt_i + base_i) / (2*base_i)) / 64)`` —
    the inner term is round-half-up of 100*qt_i/base_i. 100 means
    "Annex K unscaled"; larger is coarser quantization."""
    q = qt.reshape(-1).astype(np.int64)
    b = base.reshape(-1).astype(np.int64)
    return int(((200 * q + b) // (2 * b)).sum() // 64)


def _marker_segments(data: bytes):
    """Shared header-only marker walk (SOI .. SOS inclusive): yields
    ``(marker, segment_payload)`` for every framed segment and
    ``(marker, b"")`` for standalone markers, stopping AFTER yielding
    SOS. Raises ValueError exactly like :func:`parse_dqt_tables` on
    structurally invalid streams (missing SOI, lost sync, overruns,
    EOI or end-of-stream before SOS)."""
    if len(data) < 2 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("JPEG ends before SOS")
        if data[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = data[pos + 1]
        pos += 2
        while marker == 0xFF:  # fill bytes before a marker
            if pos >= len(data):
                raise ValueError("JPEG ends inside marker padding")
            marker = data[pos]
            pos += 1
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            yield marker, b""
            continue
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        if pos + 2 > len(data):
            raise ValueError("truncated segment length")
        seglen = int.from_bytes(data[pos:pos + 2], "big")
        if seglen < 2:
            raise ValueError("invalid zero-length marker segment")
        if pos + seglen > len(data):
            raise ValueError("segment overruns stream")
        yield marker, data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDA:
            return


_SOF_PROCESS = {
    0xC0: "baseline", 0xC1: "extended", 0xC2: "progressive",
    0xC3: "lossless", 0xC5: "diff_sequential", 0xC6: "diff_progressive",
    0xC7: "diff_lossless", 0xC9: "arith_extended",
    0xCA: "arith_progressive", 0xCB: "arith_lossless",
    0xCD: "arith_diff_sequential", 0xCE: "arith_diff_progressive",
    0xCF: "arith_diff_lossless",
}


def parse_sof_info(data: bytes) -> dict:
    """Header-only frame census: process (baseline / progressive /
    ...), sample precision, dims, per-component sampling factors, the
    derived chroma-subsampling label, and the DRI restart interval.
    Never reads entropy data — the 10^12-row tier.

    Returns ``{"process", "precision", "w", "h", "n_components",
    "sampling" ("2x2,1x1,1x1"), "subsampling" ("4:4:4" | "4:2:2" |
    "4:2:0" | "4:4:0" | "grayscale" | "other"), "restart_interval"
    (0 when absent)}``. Raises ValueError on structurally invalid
    streams, a missing SOF before SOS, or a malformed SOF payload."""
    sof = None
    dri = 0
    for marker, seg in _marker_segments(data):
        if marker in _SOF_PROCESS and sof is None:
            if len(seg) < 6:
                raise ValueError("SOF payload truncated")
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nf = seg[5]
            if len(seg) < 6 + 3 * nf:
                raise ValueError("SOF component table truncated")
            comps = []
            for i in range(nf):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 15, tq))
            sof = (_SOF_PROCESS[marker], prec, w, h, comps)
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError("DRI payload truncated")
            dri = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:
            break
    if sof is None:
        raise ValueError("no SOF before SOS")
    process, prec, w, h, comps = sof
    sampling = ",".join(f"{hc}x{vc}" for _, hc, vc, _ in comps)
    if len(comps) == 1:
        label = "grayscale"
    elif len(comps) == 3 and all(c[1] == 1 and c[2] == 1
                                 for c in comps[1:]):
        hy, vy = comps[0][1], comps[0][2]
        label = {(1, 1): "4:4:4", (2, 1): "4:2:2",
                 (2, 2): "4:2:0", (1, 2): "4:4:0"}.get((hy, vy),
                                                       "other")
    else:
        label = "other"
    return {"process": process, "precision": prec, "w": w, "h": h,
            "n_components": len(comps), "sampling": sampling,
            "subsampling": label, "restart_interval": dri}


def build_sof_fixture(*, process: int = 0xC0, precision: int = 8,
                      w: int = 16, h: int = 16,
                      comps: list[tuple[int, int, int, int]]
                      | None = None,
                      restart_interval: int | None = None) -> bytes:
    """A minimal headers-only JPEG (SOI + SOF [+ DRI] + SOS stub) for
    exercising the census on sampling layouts the in-repo encoder
    never writes (4:2:0, progressive, grayscale, arithmetic...).
    Structurally valid for every header-only walker; NOT decodable
    (there is no entropy data — by design)."""
    comps = comps or [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    payload = bytes([precision]) + h.to_bytes(2, "big") \
        + w.to_bytes(2, "big") + bytes([len(comps)])
    for cid, hc, vc, tq in comps:
        payload += bytes([cid, (hc << 4) | vc, tq])
    out = b"\xff\xd8" + bytes([0xFF, process]) \
        + (2 + len(payload)).to_bytes(2, "big") + payload
    if restart_interval is not None:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    return out + b"\xff\xda\x00\x02"
