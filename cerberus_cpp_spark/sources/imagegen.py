"""Deterministic in-process image synthesis + codecs.

The container has no Pillow, so codecs are implemented in-repo (all
Spark-side plumbing — binary columns, Arrow batches, UDF signatures —
is real either way); the system libwebp/libheif shared libraries ARE
present and are bound feature-detected where an in-repo codec would
mean reimplementing HEVC/AV1:

- ``png``: a REAL full-spec PNG decoder (``pngcodec.py``: color
  types 0/2/3/4/6, depths 1-16, filters 0-4, Adam7 interlace, CRC
  verification — ImageIO-interop bit-exact both directions) with a
  minimal byte-stable default writer here plus extended encode
  modes (``pngcodec.encode_png_ex``).
- ``jpeg``: a REAL baseline JFIF codec (``jpegcodec.py``: numpy
  DCT + standard Annex K quant/Huffman tables; interop-verified
  against Java ImageIO). Default quality 98 → PSNR ≈ 44-55 dB on the
  synthetic gradient family, over the 40 dB fidelity gate.
- ``webp``: a REAL VP8L (lossless) codec (``webpcodec.py``, RFC
  9649): bit-exact round-trip; the decoder covers the full VP8L
  feature set (transforms, color cache, LZ77, meta prefix codes).
  Lossy ``VP8``/extended ``VP8X`` containers decode through the
  feature-detected system libwebp when present
  (``webpcodec.decode_webp_any``); without the shared library they
  raise ``UnsupportedCodecError`` and dataset checks route them to
  the ``decode_unsupported`` verdict. Animated VP8X containers
  compose in-repo (``webpx.py``).
- ``gif``: a REAL GIF87a/89a codec (``gifcodec.py``: LZW, interlace,
  animation with disposal/transparency) — bit-exact round-trip,
  ImageIO-interop-verified both directions.
- ``bmp``: a REAL Windows BMP/DIB codec (``bmpcodec.py``: 1/4/8-bit
  palette, 16/24/32-bit truecolor, RLE8/RLE4, BITFIELDS,
  top-down/bottom-up) — bit-exact round-trip,
  ImageIO-interop-verified both directions.
- ``tiff``: a REAL baseline TIFF 6.0 codec (``tiffcodec.py``: both
  byte orders, strips + tiles, none/PackBits/LZW/Deflate
  compression, gray/RGB/RGBA/palette, horizontal predictor) —
  bit-exact round-trip, ImageIO-interop-verified both directions.
- ``heic``/``avif``: decode AND encode through the feature-detected
  system libheif (``libheif.py``; this container ships 1.15.1 with
  HEVC + AV1 codecs) — ``UnsupportedCodecError`` → the
  ``decode_unsupported`` verdict when absent. Container-level
  parsing (ftyp sniff, pitm→ipma→ispe header dims, box-bounds
  audit) is pure python (``isobmff.py``) and never needs the
  library. Note: the metadata token ``'heif'`` in the synthetic
  fixtures remains the seeded INVALID format (allowed-rule plant);
  real payloads are branded ``'heic'``/``'avif'``.

Pixel content is a seeded gradient so any (row, seed) pair
regenerates the identical reference image anywhere in the cluster —
that is what makes decoded-pixel fidelity checks (BASELINE.json
input_hint: PSNR ≥ 40 dB) verifiable without shipping ground truth.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

from .jpegcodec import decode_jpeg, encode_jpeg
from .webpcodec import (  # noqa: F401 — UnsupportedCodecError re-exported
    UnsupportedCodecError,
    decode_webp,
    decode_webp_any,
    encode_webp,
    lossy_vp8_stub,
    sniff_webp,
    webp_is_lossless,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xFF\xD8\xFF"
JPEG_QUALITY = 98  # keeps the worst synth-gradient PSNR >= 43 dB


def pixel_seed(i: int, seed: int = 42) -> int:
    return (i * 1103515245 + seed * 12345 + 12345) & 0x7FFFFFFF


def synth_pixels(pix_seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB gradient image, uint8 (h, w, 3)."""
    xs = np.arange(w, dtype=np.uint32)
    ys = np.arange(h, dtype=np.uint32)
    r = (xs[None, :] * 7 + ys[:, None] * 3 + pix_seed) % 256
    g = (xs[None, :] * 5 + ys[:, None] * 11 + pix_seed // 3) % 256
    b = (xs[None, :] * 13 + ys[:, None] * 2 + pix_seed // 7) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


# -- real PNG ---------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    out = struct.pack(">I", len(payload)) + tag + payload
    return out + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)


def encode_png(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y].tobytes() for y in range(h)
    )  # filter type 0 per scanline
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Raises ValueError on ANY malformed stream (zlib/struct errors
    are translated — same uniform-exception contract as decode_jpeg,
    so per-row decode probes can catch one type). Since round 4 this
    dispatches to the FULL spec decoder (``pngcodec.decode_png``:
    all color types, depths 1-16, filters 0-4, Adam7, CRC checks) so
    foreign writers' adaptive-filtered streams decode too; the
    legacy minimal reader below remains as a differential twin for
    the repo's own filter-0 output."""
    from .pngcodec import decode_png as _full

    try:
        return _full(data)
    except (zlib.error, struct.error, IndexError) as e:
        raise ValueError(f"malformed PNG stream: {e}") from e


def _decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    pos, w, h, idat = len(PNG_MAGIC), 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    if len(raw) != stride * h:
        raise ValueError("corrupt PNG payload")
    rows = []
    for y in range(h):
        line = raw[y * stride:(y + 1) * stride]
        if line[0] != 0:
            raise ValueError("unsupported PNG filter")
        rows.append(np.frombuffer(line[1:], dtype=np.uint8))
    return np.stack(rows).reshape(h, w, 3)


def encode_pixels(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an already-decoded RGB array with the named in-repo
    codec (the dispatch twin of ``decode_image``)."""
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        return encode_jpeg(pixels, quality=JPEG_QUALITY)
    if fmt == "webp":
        # palette mode when the image allows it (deterministic:
        # same pixels → same branch): smaller payloads AND the
        # contract pipeline's webp rows then decode through the
        # COLOR_INDEXING transform, exercising the full path. Falls
        # back to literal coding above 256 colors.
        from .webpcodec import encode_webp_palette

        try:
            return encode_webp_palette(pixels)
        except ValueError:
            return encode_webp(pixels)
    if fmt == "gif":
        from .gifcodec import encode_gif

        return encode_gif(pixels)
    if fmt == "bmp":
        from .bmpcodec import encode_bmp

        return encode_bmp(pixels)
    if fmt == "tiff":
        from .tiffcodec import encode_tiff

        return encode_tiff(pixels)
    raise ValueError(f"unknown format {fmt!r}")


def encode_image(pix_seed: int, w: int, h: int, fmt: str) -> bytes:
    return encode_pixels(synth_pixels(pix_seed, w, h), fmt)


def lossy_webp_payload(i: int, seed: int) -> bytes:
    """REAL lossy-VP8 WebP for planted contract rows (id %% 30 == 23):
    the row's own reference pixels through the in-repo RFC 6386
    encoder at a coarse quantizer. Deterministic pure-integer
    pipeline; on the wrapping-gradient reference family, 4:2:0 chroma
    subsampling caps PSNR at ~33 dB max over the planted ids (margin
    pin in tests/test_vp8enc.py), so the fidelity verdict is
    deterministically ``mismatch`` — the lossy PSNR gate's FAILING
    branch, exercised in the contract with genuinely decodable
    payloads (the id%%30==8 stubs cover the undecodable branch)."""
    from .vp8enc import encode_webp_vp8

    return encode_webp_vp8(
        synth_pixels(pixel_seed(i, seed), 8 + i % 9, 8 + i % 7),
        q_index=60, filter_level=12)


def sniff_format(data: bytes) -> str | None:
    if data is None:
        return None
    if data.startswith(PNG_MAGIC):
        return "png"
    if data.startswith(JPEG_MAGIC):
        return "jpeg"
    if sniff_webp(data):
        return "webp"
    from .gifcodec import sniff_gif

    if sniff_gif(data):
        return "gif"
    from .bmpcodec import sniff_bmp

    if sniff_bmp(data):
        return "bmp"
    from .tiffcodec import sniff_tiff

    if sniff_tiff(data):
        return "tiff"
    from .isobmff import sniff_isobmff

    bmff = sniff_isobmff(data)   # 'heic' / 'avif' from ftyp brands
    if bmff is not None:
        return bmff
    return None


def image_header_info(data: bytes) -> tuple[str, int, int]:
    """(fmt, w, h) from the CONTAINER HEADER alone — no pixel
    decode. The scale path for metadata consistency: at 10^12 rows a
    header walk is microseconds/row vs milliseconds for a full
    decode, and it verifies dimensions even for payloads no decoder
    is available for (lossy VP8 headers carry real dims). PNG: IHDR;
    JPEG: marker walk to the first SOF; WebP: the VP8L/VP8/VP8X
    header parse (``webpx.webp_features``). Raises ValueError on
    unknown or structurally corrupt containers."""
    fmt = sniff_format(data)
    if fmt == "png":
        if len(data) < 24 or data[12:16] != b"IHDR":
            raise ValueError("corrupt PNG header (no IHDR)")
        w, h = struct.unpack(">II", data[16:24])
        return fmt, w, h
    if fmt == "jpeg":
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            marker = data[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2  # standalone markers have no length field
                continue
            (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
            if (0xC0 <= marker <= 0xCF
                    and marker not in (0xC4, 0xC8, 0xCC)):
                if pos + 9 > len(data):
                    raise ValueError("truncated JPEG SOF")
                h, w = struct.unpack(">HH", data[pos + 5:pos + 9])
                return fmt, w, h
            pos += 2 + seglen
        raise ValueError("no SOF marker in JPEG stream")
    if fmt == "webp":
        from .webpx import webp_features

        f = webp_features(data)
        if f["width"] == 0 or f["height"] == 0:
            raise ValueError("unreadable WebP dimensions")
        return fmt, f["width"], f["height"]
    if fmt == "gif":
        from .gifcodec import gif_header_info

        w, h = gif_header_info(data)
        return fmt, w, h
    if fmt == "bmp":
        from .bmpcodec import bmp_header_info

        w, h = bmp_header_info(data)
        return fmt, w, h
    if fmt == "tiff":
        from .tiffcodec import tiff_header_info

        w, h = tiff_header_info(data)
        return fmt, w, h
    if fmt in ("heic", "avif"):
        # pure-python ISO-BMFF walk (pitm→ipma→ispe): dims verify
        # even where pixel decode would need the system libheif
        from .isobmff import heif_header_info

        return heif_header_info(data)
    raise ValueError("unknown image container")


def decode_image(data: bytes) -> tuple[str, np.ndarray]:
    fmt = sniff_format(data)
    if fmt == "png":
        return fmt, decode_png(data)
    if fmt == "jpeg":
        return fmt, decode_jpeg(data)
    if fmt == "gif":
        from .gifcodec import decode_gif

        return fmt, decode_gif(data)
    if fmt == "bmp":
        from .bmpcodec import decode_bmp

        return fmt, decode_bmp(data)
    if fmt == "tiff":
        from .tiffcodec import decode_tiff

        return fmt, decode_tiff(data)
    if fmt == "webp":
        # VP8L in-repo; lossy VP8/VP8X via the feature-detected
        # system-libwebp fallback (UnsupportedCodecError when absent)
        return fmt, decode_webp_any(data)
    if fmt in ("heic", "avif"):
        # HEVC/AV1 decode via the feature-detected system libheif
        # (UnsupportedCodecError when absent — dataset checks route
        # those rows to decode_unsupported, never a job kill)
        from .libheif import decode_heif

        return fmt, decode_heif(data)
    raise ValueError("unrecognized image stream")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    if a.shape != b.shape:
        return 0.0
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return math.inf
    return 10.0 * math.log10(255.0 * 255.0 / mse)


def synth_noise_pixels(noise_seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic white-noise RGB image (splitmix64-style integer
    mixing — no RNG object, reproducible anywhere). Unlike the
    gradient family, noise images give near-maximal perceptual-hash
    entropy: the gradient images are all genuinely SIMILAR (that is
    what pHash is designed to collapse — 41/250 collide), noise
    seeds are pairwise-distinct with ~2^-63 collision odds."""
    base = (noise_seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    i = np.arange(h * w, dtype=np.uint64) + np.uint64(base)
    with np.errstate(over="ignore"):
        x = i.copy()
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    r = (x & np.uint64(255)).astype(np.uint8)
    g = ((x >> np.uint64(8)) & np.uint64(255)).astype(np.uint8)
    b = ((x >> np.uint64(16)) & np.uint64(255)).astype(np.uint8)
    return np.stack([r, g, b], axis=-1).reshape(h, w, 3)


_DCT32 = None


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash (classic pHash): luma → 32×32 nearest
    resize → 32-point DCT-II → top-left 8×8 low-frequency block →
    bit = coefficient > median (DC excluded from the median).
    Returns a SIGNED 64-bit int (two's complement) so it fits a
    Spark/parquet long."""
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)
        m = np.sqrt(2.0 / 32.0) * np.cos(
            (2 * k[None, :] + 1) * k[:, None] * np.pi / 64)
        m[0, :] *= 1.0 / np.sqrt(2.0)
        _DCT32 = m
    lum = (0.299 * pixels[..., 0] + 0.587 * pixels[..., 1]
           + 0.114 * pixels[..., 2]).astype(np.float64)
    h, w = lum.shape
    ys = np.arange(32) * h // 32
    xs = np.arange(32) * w // 32
    small = lum[ys][:, xs]
    coeffs = (_DCT32 @ small @ _DCT32.T)[:8, :8].flatten()
    med = float(np.median(coeffs[1:]))
    v = 0
    for b in (coeffs > med):
        v = (v << 1) | int(b)
    return int(np.uint64(v).astype(np.int64))


def parametric_pixels(i: int, w: int, h: int, arm: str):
    """Deterministic (id, x, y)-parametric RGB array — the contract
    fixture family whose EVERY pixel an SQL oracle regenerates by
    modular arithmetic (img_pixel_stats / img_sharpness /
    img_curation_verdict share this single builder so the three
    generators and their three oracle CASE blocks cannot drift
    apart). Arms: 'solid' (channels i%256 / 3i%256 / 7i%256),
    'greygrad' (r=g=b=(31x+7y+i)%256), 'colorgrad' (three distinct
    modular planes), 'boxed' (colorgrad interior inside a (5,5,5)
    1-pixel ring). Any oracle change MUST update the SQL twins in
    ``__spark_entry__`` in lock-step — but there is now exactly one
    Python side to match."""
    import numpy as np

    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    if arm == "solid":
        px = np.empty((h, w, 3), np.uint8)
        px[:, :, 0] = i % 256
        px[:, :, 1] = (3 * i) % 256
        px[:, :, 2] = (7 * i) % 256
        return px
    if arm == "greygrad":
        v = ((x * 31 + y * 7 + i) % 256).astype(np.uint8)
        return np.dstack([v, v, v])
    if arm not in ("boxed", "colorgrad"):
        raise ValueError(f"unknown parametric arm {arm!r}")
    px = np.dstack([
        ((x * 13 + y * 29 + i) % 256 + 0 * y).astype(np.uint8),
        ((x * 7 + y * 3 + 2 * i) % 256 + 0 * y).astype(np.uint8),
        ((x * 11 + y * 5 + 3 * i) % 256 + 0 * y).astype(np.uint8),
    ])
    if arm == "boxed":
        px[0, :] = px[-1, :] = (5, 5, 5)
        px[:, 0] = px[:, -1] = (5, 5, 5)
    return px
