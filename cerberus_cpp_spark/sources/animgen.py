"""Deterministic animated-WebP clip generation (executor-side).

The animation twin of ``distgen.image_caption_frame``: the same
input_hint table shape (image_id, bytes, w, h, fmt, caption, phash),
but every payload is a REAL multi-frame ``VP8X|ANIM|ANMF*`` container
from the in-repo muxer (``sources/webpx.py``), with frame geometry,
durations, blend/dispose flags, and pixels all pure functions of the
row id — so a DuckDB oracle predicts every per-frame contract row
from id arithmetic without touching a single byte.

Reference parity anchor: cerberus-cpp's custom-type equality op
(``types.hh:41-48``) promoted to per-frame pixel equality — the
animation analogue of ``fidelity_check``'s still-image invariant.

Planted families (disjoint mod-60 residues):

- ``i % 20 == 11`` → payload truncated by 7 bytes (RIFF chunk walk
  raises) — the per-clip-skip fixture: a corrupt clip drops ITS rows
  only, mirroring ``sample_frames``'s AVI policy;
- ``i % 30 == 13`` → frame 1's pixels synthesized from a shifted
  seed — a real stored-vs-reference mismatch that must flag frame 1
  and ONLY frame 1 (raw-subframe comparison, not composed canvas).
"""

from __future__ import annotations

from typing import List

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .distgen import caption_text, image_id_text
from .imagegen import pixel_seed, synth_pixels

TRUNC_EVERY = 20  # i % 20 == 11 → truncated payload
TRUNC_RESIDUE = 11
MISMATCH_EVERY = 30  # i % 30 == 13 → frame 1 pixels off-seed
MISMATCH_RESIDUE = 13


def n_frames(i: int) -> int:
    return 2 + i % 4


def canvas_dims(i: int) -> tuple[int, int]:
    return 12 + (i % 3) * 2, 12 + (i % 5) * 2  # (w, h)


def frame_spec(i: int, fi: int) -> dict:
    """ANMF geometry/flags for frame ``fi`` of clip ``i`` — the
    id-arithmetic contract the oracle replays. Offsets stay even
    (the container stores them halved) and extents always fit the
    clip's canvas (max x+w = 2+8 = 10 ≤ 12, max y+h = 4+7 = 11)."""
    return {
        "w": 4 + (i + 3 * fi) % 5,
        "h": 4 + (i + 5 * fi) % 4,
        "x": 2 * ((i + fi) % 2),
        "y": 2 * ((i + 2 * fi) % 3),
        "duration_ms": 40 + 10 * ((i + fi) % 5),
        "blend": (i + fi) % 3 != 0,
        "dispose": (i + 2 * fi) % 4 == 0,
    }


def _alpha_plane(ps: int, w: int, h: int) -> np.ndarray:
    xs = np.arange(w, dtype=np.uint32)
    ys = np.arange(h, dtype=np.uint32)
    return ((xs[None, :] * 3 + ys[:, None] * 7 + ps // 5)
            % 256).astype(np.uint8)


def frame_rgba(i: int, fi: int, seed: int = 42, *,
               seed_shift: int = 0) -> np.ndarray:
    """Deterministic RGBA frame: the gradient family of
    ``imagegen.synth_pixels`` plus a gradient alpha plane."""
    spec = frame_spec(i, fi)
    w, h = spec["w"], spec["h"]
    ps = pixel_seed(i * 7 + fi, seed + seed_shift)
    rgb = synth_pixels(ps, w, h)
    return np.dstack([rgb, _alpha_plane(ps, w, h)])


def vp8x_still_payload(i: int, seed: int = 42) -> bytes:
    """Deterministic STILL payload cycling through the container
    families the alpha census counts (``i % 4``): bare opaque VP8L,
    bare VP8L with a live alpha channel, VP8X-wrapped lossless RGBA,
    and VP8X+ALPH+VP8 (lossy RGB, exact alpha). Thumb-sized like the
    fixture family (8+i%9 × 8+i%7)."""
    from .webpcodec import encode_webp
    from .webpx import encode_webp_lossless_rgba, encode_webp_vp8x

    w, h = 8 + i % 9, 8 + i % 7
    ps = pixel_seed(i, seed)
    rgb = synth_pixels(ps, w, h)
    fam = i % 4
    if fam == 0:
        return encode_webp(rgb)
    rgba = np.dstack([rgb, _alpha_plane(ps, w, h)])
    if fam == 1:
        return encode_webp_lossless_rgba(rgba)
    return encode_webp_vp8x(rgba, lossy=(fam == 3))


def reference_subframes(i: int, seed: int = 42) -> List[np.ndarray]:
    """The expected RAW (uncomposed) frames — what the decoded
    per-ANMF bitstreams must equal byte-for-byte (frames are
    lossless VP8L). The mismatch plant is NOT applied here: this is
    the reference side of the comparison."""
    return [frame_rgba(i, fi, seed) for fi in range(n_frames(i))]


def anim_payload(i: int, seed: int = 42) -> bytes:
    """The clip's actual container bytes, planted families applied."""
    from .webpx import AnimFrame, encode_webp_anim

    frames = []
    for fi in range(n_frames(i)):
        shift = 1 if (i % MISMATCH_EVERY == MISMATCH_RESIDUE
                      and fi == 1) else 0
        spec = frame_spec(i, fi)
        frames.append(AnimFrame(
            rgba=frame_rgba(i, fi, seed, seed_shift=shift),
            duration_ms=spec["duration_ms"], x=spec["x"], y=spec["y"],
            blend=spec["blend"], dispose=spec["dispose"]))
    blob = encode_webp_anim(frames, canvas=canvas_dims(i))
    if i % TRUNC_EVERY == TRUNC_RESIDUE:
        blob = blob[:-7]
    return blob


def anim_clip_frame(spark: SparkSession, n: int, *, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """input_hint-shaped table of animated clips: (image_id, bytes,
    w, h, fmt, caption, phash) with w/h = the VP8X canvas dims and
    fmt = 'webp'. Narrow plan: ``spark.range`` + column expressions
    + ONE Arrow-batched ``mapInPandas`` synthesizing the payloads —
    the same shuffle-free scale shape as ``image_caption_frame``."""
    from ..functions.shipping import PKG_PARENT

    num_parts = partitions or spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, num_parts)
    base = df.select(
        "id",
        image_id_text(F.col("id")).alias("image_id"),
        F.expr("CAST(12 + (id % 3) * 2 AS INT)").alias("w"),
        F.expr("CAST(12 + (id % 5) * 2 AS INT)").alias("h"),
        F.lit("webp").alias("fmt"),
        caption_text(F.col("id")).alias("caption"),
        F.expr(f"(id * 2654435761L + {seed}L) "
               "& 9223372036854775807L").alias("phash"),
    )
    pkg_parent = PKG_PARENT
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields
    ) + ", bytes binary"

    def gen(batches):
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.animgen import anim_payload
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            pdf = pdf.copy()
            pdf["bytes"] = [anim_payload(int(i), seed)
                            for i in pdf["id"]]
            yield pdf

    out = base.mapInPandas(gen, schema=schema)
    return out.select("image_id", "bytes", "w", "h", "fmt", "caption",
                      "phash", "id")
