"""Distributed image resizing (the transform leg of the multimodal
pipeline: decode → resize → re-encode in one Arrow pass).

Training pipelines normalize crawled images to model input sizes;
at 10^12 rows that must be a NARROW stage — one ``mapInPandas`` over
the payload column, no shuffle, nothing driver-side — with per-row
failure routing instead of job-killing exceptions (same taxonomy as
the dataset checks: ok / no_payload / decode_unsupported /
undecodable; reference analogue: cerberus-cpp collects per-document
errors rather than throwing, validator.hh:372-390).

Resize math is pure vectorized numpy over the in-repo codecs:

* ``nearest``: source index = ``((2*dst + 1) * src) // (2 * out)`` —
  pixel-center mapping in EXACT integer arithmetic, so a SQL oracle
  can replay the resized pixels of losslessly-coded synthetic images
  bit-for-bit (the img_resize_census contract query does).
* ``bilinear``: pixel-center sampling with edge clamp, float64
  accumulation, ``floor(v + 0.5)`` rounding (not banker's — so the
  arithmetic is portable); analytic pins in tests (identity at same
  size, exact constants, exact linear-ramp interpolation).

Skew note: payload bytes vary ~10^4× between thumbnails and panoramas,
so a byte-skewed input layout runs at the speed of its fattest
partition; the stage itself stays narrow either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shipping import PKG_PARENT

#: container families whose in-repo decode is bit-exact — the pixel
#: checksum is only emitted for these (a checksum over lossy-decoded
#: pixels would not be stable across decoder revisions).
LOSSLESS_FMTS = frozenset({"png", "gif", "bmp", "tiff"})


def nearest_indices(src: int, out: int) -> np.ndarray:
    """Pixel-center nearest-neighbour source indices, exact ints."""
    if src < 1 or out < 1:
        raise ValueError("dimensions must be >= 1")
    d = np.arange(out, dtype=np.int64)
    return np.minimum((2 * d + 1) * src // (2 * out), src - 1)


def _bilinear_axis(src: int, out: int) -> tuple[np.ndarray, np.ndarray,
                                                np.ndarray]:
    d = np.arange(out, dtype=np.float64)
    xf = (d + 0.5) * (src / out) - 0.5
    xf = np.clip(xf, 0.0, src - 1.0)
    x0 = np.floor(xf).astype(np.int64)
    x1 = np.minimum(x0 + 1, src - 1)
    return x0, x1, xf - x0


def resize_pixels(px: np.ndarray, out_w: int, out_h: int,
                  method: str = "bilinear") -> np.ndarray:
    """Resize an (h, w, 3) uint8 array to (out_h, out_w, 3)."""
    h, w = px.shape[:2]
    if method == "nearest":
        ys = nearest_indices(h, out_h)
        xs = nearest_indices(w, out_w)
        return px[np.ix_(ys, xs)]
    if method != "bilinear":
        raise ValueError(f"unknown resize method {method!r}")
    y0, y1, ty = _bilinear_axis(h, out_h)
    x0, x1, tx = _bilinear_axis(w, out_w)
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1 - tx)[None, :, None] \
        + p[y0][:, x1] * tx[None, :, None]
    bot = p[y1][:, x0] * (1 - tx)[None, :, None] \
        + p[y1][:, x1] * tx[None, :, None]
    v = top * (1 - ty)[:, None, None] + bot * ty[:, None, None]
    return np.floor(v + 0.5).clip(0, 255).astype(np.uint8)


def thumbnail_dims(w: int, h: int, box_w: int, box_h: int
                   ) -> tuple[int, int]:
    """Aspect-preserving fit of (w, h) into (box_w, box_h) — pure
    integer arithmetic (cross-multiplied ratio comparison + floor
    division, never floats) so oracles replay it exactly."""
    if min(w, h, box_w, box_h) < 1:
        raise ValueError("dimensions must be >= 1")
    if w * box_h <= h * box_w:            # height binds
        return max(1, (w * box_h) // h), box_h
    return box_w, max(1, (h * box_w) // w)


def resize_images(
    df: DataFrame,
    *,
    size: tuple[int, int] | None = None,
    box: tuple[int, int] | None = None,
    method: str = "bilinear",
    out_fmt: str | None = None,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Decode → resize → re-encode each payload in ONE Arrow stage.

    Exactly one of ``size=(w, h)`` (fixed output) or ``box=(w, h)``
    (aspect-preserving fit via :func:`thumbnail_dims`). ``out_fmt``
    re-encodes every decodable row in that format; default keeps the
    row's sniffed container family (lossy inputs are re-written by
    the repo's encoder for that family — webp rows come back VP8L).

    Output: ``(image_id, out_bytes, out_w, out_h, out_fmt, status,
    px_sum)``. ``status`` ∈ ok / no_payload / decode_unsupported /
    undecodable; non-ok rows carry NULLs. ``px_sum`` (sum of all
    resized channel bytes) is emitted only when the SOURCE decode is
    bit-exact (PNG/GIF/BMP/TIFF/VP8L-webp) — a stable integrity
    checksum; lossy sources get NULL.
    """
    if (size is None) == (box is None):
        raise ValueError("give exactly one of size= or box=")
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {method!r}")
    if size is not None and min(size) < 1:
        raise ValueError("size dims must be >= 1")
    if box is not None and min(box) < 1:
        raise ValueError("box dims must be >= 1")

    src = df.select(F.col(id_col).alias("image_id"),
                    F.col(bytes_col).alias("bytes"))
    pkg_parent = PKG_PARENT
    size_, box_, method_, out_fmt_ = size, box, method, out_fmt

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.operators.image_transform import (
            LOSSLESS_FMTS,
            resize_pixels,
            thumbnail_dims,
        )
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            encode_pixels,
            webp_is_lossless,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            n = len(pdf)
            out_bytes: list = [None] * n
            out_w = np.full(n, np.nan)
            out_h = np.full(n, np.nan)
            fmts: list = [None] * n
            status = ["ok"] * n
            px_sum = np.full(n, np.nan)
            for i, blob in enumerate(pdf["bytes"]):
                if blob is None:
                    status[i] = "no_payload"
                    continue
                blob = bytes(blob)
                try:
                    fmt, px = decode_image(blob)
                except UnsupportedCodecError:
                    status[i] = "decode_unsupported"
                    continue
                except ValueError:
                    status[i] = "undecodable"
                    continue
                h, w = px.shape[:2]
                tw, th = (size_ if size_ is not None
                          else thumbnail_dims(w, h, *box_))
                rs = resize_pixels(px, tw, th, method_)
                fmt_out = out_fmt_ or fmt
                out_bytes[i] = encode_pixels(rs, fmt_out)
                out_w[i], out_h[i] = tw, th
                fmts[i] = fmt_out
                lossless = fmt in LOSSLESS_FMTS or (
                    fmt == "webp" and webp_is_lossless(blob))
                if lossless:
                    px_sum[i] = float(
                        np.sum(rs, dtype=np.int64))
            yield pd.DataFrame({
                "image_id": pdf["image_id"],
                "out_bytes": out_bytes,
                "out_w": pd.array(
                    [None if np.isnan(v) else int(v) for v in out_w],
                    dtype="Int32"),
                "out_h": pd.array(
                    [None if np.isnan(v) else int(v) for v in out_h],
                    dtype="Int32"),
                "out_fmt": fmts,
                "status": status,
                "px_sum": pd.array(
                    [None if np.isnan(v) else int(v) for v in px_sum],
                    dtype="Int64"),
            })

    schema = ("image_id string, out_bytes binary, out_w int, "
              "out_h int, out_fmt string, status string, px_sum bigint")
    return src.mapInPandas(work, schema=schema)


def transform_pixels(
    px: np.ndarray,
    *,
    crop: tuple | None = None,
    flip_h: bool = False,
    flip_v: bool = False,
    rot90: int = 0,
) -> np.ndarray:
    """Deterministic augmentation chain: crop → flip_h → flip_v →
    rotate. ``crop`` is ``("center", w, h)`` (dims clamped to the
    image, integer-centered: x0 = (W−w)//2) or explicit
    ``(x, y, w, h)`` (must lie inside the image). ``rot90`` is
    DEGREES CLOCKWISE ∈ {0, 90, 180, 270}. All coordinate math is
    integer-exact, so oracles replay the full chain per pixel."""
    if crop is not None:
        h, w = px.shape[:2]
        if crop[0] == "center":
            cw, ch = min(int(crop[1]), w), min(int(crop[2]), h)
            x0, y0 = (w - cw) // 2, (h - ch) // 2
        else:
            x0, y0, cw, ch = (int(v) for v in crop)
            if x0 < 0 or y0 < 0 or cw < 1 or ch < 1 \
                    or x0 + cw > w or y0 + ch > h:
                raise ValueError(f"crop {crop!r} outside {w}x{h} image")
        px = px[y0:y0 + ch, x0:x0 + cw]
    if flip_h:
        px = px[:, ::-1]
    if flip_v:
        px = px[::-1]
    if rot90 % 90 != 0:
        raise ValueError("rot90 must be a multiple of 90 degrees")
    k = (rot90 // 90) % 4
    if k:
        px = np.rot90(px, k=-k)   # numpy rotates CCW; we define CW
    return np.ascontiguousarray(px)


def position_weighted_luma(px: np.ndarray) -> int:
    """Σ over output pixels of (y·W + x) · (299R + 587G + 114B) —
    a POSITION-SENSITIVE integer checksum: any flip, rotation, or
    crop misalignment changes it (a plain pixel sum would not, since
    flips and rotations permute pixels)."""
    p = px.astype(np.int64)
    luma = 299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]
    h, w = luma.shape
    pos = (np.arange(h, dtype=np.int64)[:, None] * w
           + np.arange(w, dtype=np.int64)[None, :])
    return int((pos * luma).sum())


def augment_images(
    df: DataFrame,
    *,
    crop: tuple | None = None,
    flip_h: bool = False,
    flip_v: bool = False,
    rot90: int = 0,
    resize_to: tuple[int, int] | None = None,
    resize_method: str = "bilinear",
    out_fmt: str | None = None,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Decode → :func:`transform_pixels` → optional
    :func:`resize_pixels` → re-encode in ONE narrow Arrow stage (same
    harness and failure taxonomy as :func:`resize_images`; the
    ``resize_to=`` step means crop-then-normalize pipelines pay ONE
    decode, not two chained operators). Output adds ``pos_sum`` — the
    position-weighted luma checksum — next to the plain ``px_sum``;
    both NULL for lossy sources (not bit-stable across decoders)."""
    if rot90 % 90 != 0 or rot90 % 360 not in (0, 90, 180, 270):
        raise ValueError("rot90 must be 0/90/180/270")
    if resize_method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {resize_method!r}")
    if resize_to is not None and min(resize_to) < 1:
        raise ValueError("resize_to dims must be >= 1")
    src = df.select(F.col(id_col).alias("image_id"),
                    F.col(bytes_col).alias("bytes"))
    pkg_parent = PKG_PARENT
    crop_, fh, fv, rot, out_fmt_ = crop, flip_h, flip_v, rot90, out_fmt
    rs_to, rs_m = resize_to, resize_method

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.operators.image_transform import (
            LOSSLESS_FMTS,
            position_weighted_luma,
            resize_pixels,
            transform_pixels,
        )
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            encode_pixels,
            webp_is_lossless,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            n = len(pdf)
            out_bytes: list = [None] * n
            dims: list = [(None, None)] * n
            fmts: list = [None] * n
            status = ["ok"] * n
            px_sum: list = [None] * n
            pos_sum: list = [None] * n
            for i, blob in enumerate(pdf["bytes"]):
                if blob is None:
                    status[i] = "no_payload"
                    continue
                blob = bytes(blob)
                try:
                    fmt, px = decode_image(blob)
                except UnsupportedCodecError:
                    status[i] = "decode_unsupported"
                    continue
                except ValueError:
                    status[i] = "undecodable"
                    continue
                tp = transform_pixels(px, crop=crop_, flip_h=fh,
                                      flip_v=fv, rot90=rot)
                if rs_to is not None:
                    tp = resize_pixels(tp, rs_to[0], rs_to[1], rs_m)
                fmt_out = out_fmt_ or fmt
                out_bytes[i] = encode_pixels(tp, fmt_out)
                dims[i] = (tp.shape[1], tp.shape[0])
                fmts[i] = fmt_out
                if fmt in LOSSLESS_FMTS or (
                        fmt == "webp" and webp_is_lossless(blob)):
                    px_sum[i] = int(np.sum(tp, dtype=np.int64))
                    pos_sum[i] = position_weighted_luma(tp)
            yield pd.DataFrame({
                "image_id": pdf["image_id"],
                "out_bytes": out_bytes,
                "out_w": pd.array([d[0] for d in dims], dtype="Int32"),
                "out_h": pd.array([d[1] for d in dims], dtype="Int32"),
                "out_fmt": fmts,
                "status": status,
                "px_sum": pd.array(px_sum, dtype="Int64"),
                "pos_sum": pd.array(pos_sum, dtype="Int64"),
            })

    schema = ("image_id string, out_bytes binary, out_w int, "
              "out_h int, out_fmt string, status string, "
              "px_sum bigint, pos_sum bigint")
    return src.mapInPandas(work, schema=schema)


def quality_metrics(px: np.ndarray) -> dict:
    """Integer-exact quality metrics for one (h, w, 3) uint8 image.

    Every metric is pure integer arithmetic (no floats, no
    transcendentals) so SQL oracles replay them bit-for-bit:

    * ``luma1000_*``: ITU-R 601 luma scaled ×1000
      (299·R + 587·G + 114·B) — sum / min / max over pixels.
    * ``lap_abs_sum``: Σ over interior pixels and channels of
      ``|4p − left − right − up − down|`` — the classic
      Laplacian-energy sharpness proxy (blurred/blank images score
      low; used to filter low-quality training images). 0 when there
      is no interior (w < 3 or h < 3).
    * ``n_distinct_rgb``: exact distinct color count (1 ⇒ a flat /
      blank image).
    * ``is_grayscale``: all pixels have R == G == B.
    """
    p = px.astype(np.int64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    luma = 299 * r + 587 * g + 114 * b
    if px.shape[0] >= 3 and px.shape[1] >= 3:
        c = p[1:-1, 1:-1]
        lap = (4 * c - p[1:-1, :-2] - p[1:-1, 2:]
               - p[:-2, 1:-1] - p[2:, 1:-1])
        lap_abs = int(np.abs(lap).sum())
    else:
        lap_abs = 0
    flat = px.reshape(-1, 3)
    return {
        "w": int(px.shape[1]),
        "h": int(px.shape[0]),
        "luma1000_sum": int(luma.sum()),
        "luma1000_min": int(luma.min()),
        "luma1000_max": int(luma.max()),
        "lap_abs_sum": lap_abs,
        "n_distinct_rgb": int(len(np.unique(flat, axis=0))),
        "is_grayscale": bool(np.all((r == g) & (g == b))),
    }


_QUALITY_COLS = ("w", "h", "luma1000_sum", "luma1000_min",
                 "luma1000_max", "lap_abs_sum", "n_distinct_rgb",
                 "is_grayscale")


def image_quality_profile(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Per-image quality metrics in ONE narrow Arrow stage.

    Decodes each payload once and emits :func:`quality_metrics` plus
    the usual failure routing (``status`` ∈ ok / no_payload /
    decode_unsupported / undecodable, metric columns NULL on non-ok).
    Downstream filters (``lap_abs_sum < τ`` for blur,
    ``n_distinct_rgb = 1`` for blanks, ``is_grayscale``) are plain
    pushdown-friendly predicates over the result. No shuffle.
    """
    src = df.select(F.col(id_col).alias("image_id"),
                    F.col(bytes_col).alias("bytes"))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.operators.image_transform import (
            _QUALITY_COLS,
            quality_metrics,
        )
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            n = len(pdf)
            status = ["ok"] * n
            vals: dict[str, list] = {c: [None] * n for c in _QUALITY_COLS}
            for i, blob in enumerate(pdf["bytes"]):
                if blob is None:
                    status[i] = "no_payload"
                    continue
                try:
                    _, px = decode_image(bytes(blob))
                except UnsupportedCodecError:
                    status[i] = "decode_unsupported"
                    continue
                except ValueError:
                    status[i] = "undecodable"
                    continue
                m = quality_metrics(px)
                for c in _QUALITY_COLS:
                    vals[c][i] = m[c]
            out = {"image_id": pdf["image_id"], "status": status}
            for c in _QUALITY_COLS[:2]:
                out[c] = pd.array(vals[c], dtype="Int32")
            for c in _QUALITY_COLS[2:-1]:
                out[c] = pd.array(vals[c], dtype="Int64")
            out["is_grayscale"] = pd.array(
                vals["is_grayscale"], dtype="boolean")
            yield pd.DataFrame(out)

    schema = ("image_id string, status string, w int, h int, "
              "luma1000_sum bigint, luma1000_min bigint, "
              "luma1000_max bigint, lap_abs_sum bigint, "
              "n_distinct_rgb bigint, is_grayscale boolean")
    return src.mapInPandas(work, schema=schema)
