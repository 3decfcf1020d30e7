"""Multimodal column operators: audio/video
frame-sampling plumbing.

Spark-side design is identical for every modality: an opaque
``binary`` column + typed metadata columns, processed ONLY inside
Arrow-batched ``mapInPandas`` stages (narrow, no shuffle), with
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounding batch
memory for MB-scale payloads.

Reality of this container (per the task brief): no Pillow/libjpeg/
ffmpeg. Every self-contained public format decodes for REAL with
in-repo codecs — images (PNG + baseline JPEG + webp VP8L lossless
+ extended VP8X/ALPH/ANIM + GIF incl. animation + BMP + baseline
TIFF, ``sources.imagegen``/``jpegcodec``/``webpcodec``/``webpx``/
``gifcodec``/``bmpcodec``/``tiffcodec``), audio (WAV-PCM,
``sources.wavcodec``), video (AVI-MJPEG, ``sources.avicodec``).
Lossy VP8 decodes in-repo (``vp8codec``), and HEIC/AVIF decode+encode
through the feature-detected system libheif (``sources.libheif``,
round 4). The stubbed compressed families (mp3/aac, h264) get full
STRUCTURAL validation instead of fake decode: ``audio_header_info``
(ISO 11172-3 frame-chain walk + WAV header, ``sources/mpegaudio.py``)
and ``video_header_info`` (Annex-B NAL walk + Exp-Golomb SPS dims,
``sources/h264.py``) validate and measure with zero sample decode.
Only SAMPLE decode for those families is STUBBED:
``NotImplementedError`` by default, or a clearly-marked
deterministic fake (``stub_strategy="fake"``) that exercises the
full Spark plumbing (schema, batching, UDF signature) without
pretending to be a codec.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shipping import PKG_PARENT


# ---------------------------------------------------------------------------
# Audio / video: REAL for the self-contained public formats
# (WAV-PCM via sources/wavcodec, AVI-MJPEG via sources/avicodec);
# compressed codecs (mp3/h264/...) stay stubbed — they need ffmpeg.
# ---------------------------------------------------------------------------

FRAME_SAMPLE_SCHEMA = (
    "clip_id string, frame_idx int, frame binary, ts_sec double,"
    " frame_w int, frame_h int"
)


def sample_frames(
    df: DataFrame,
    *,
    every_n: int = 30,
    max_frames: int = 8,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    stub_strategy: str = "raise",
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    AVI-MJPEG payloads decode for REAL (``sources/avicodec`` demux;
    each emitted ``frame`` is that frame's standalone JPEG bytes,
    ``ts_sec`` from the stream's fps, ``frame_w/h`` from an actual
    ``jpegcodec`` decode of the sampled frame). For any other payload
    ``stub_strategy`` applies:
    - ``"raise"`` (default): NotImplementedError — the honest
      placeholder for compressed codecs this container can't decode.
    - ``"fake"``: deterministic fake frames (seeded digest payload)
      exercising the fan-out plumbing only.
    """
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.avicodec import (
            decode_frame,
            demux_avi_mjpeg,
            sniff_avi,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            rows = {"clip_id": [], "frame_idx": [], "frame": [],
                    "ts_sec": [], "frame_w": [], "frame_h": []}
            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    continue
                blob = bytes(blob)
                if sniff_avi(blob):
                    # per-clip skip on corruption (uniform ValueError
                    # contract shared by every decode surface): one
                    # corrupt embedded frame drops ITS CLIP's rows,
                    # never the whole job — same policy as
                    # fidelity_check / pixel_phash's NULL-on-bad-row
                    try:
                        fps, frames = demux_avi_mjpeg(blob)
                        clip_rows = []
                        for k, fi in enumerate(
                            range(0, len(frames), every_n)
                        ):
                            if k >= max_frames:
                                break
                            px = decode_frame(frames[fi])
                            clip_rows.append(
                                (fi, frames[fi], fi / fps,
                                 px.shape[1], px.shape[0]))
                    except ValueError:
                        continue
                    for fi, frame, ts, w, h in clip_rows:
                        rows["clip_id"].append(cid)
                        rows["frame_idx"].append(fi)
                        rows["frame"].append(frame)
                        rows["ts_sec"].append(ts)
                        rows["frame_w"].append(w)
                        rows["frame_h"].append(h)
                    continue
                if stub_strategy == "raise":
                    raise NotImplementedError(
                        "video decode unavailable for this payload: "
                        "only AVI-MJPEG decodes in-container (no "
                        "ffmpeg/pyav for compressed codecs; STUB "
                        "path exercisable with stub_strategy='fake')"
                    )
                n_avail = max(len(blob) // 1024, 1)
                for k, fi in enumerate(
                    range(0, n_avail * every_n, every_n)
                ):
                    if k >= max_frames:
                        break
                    seed = f"{cid}:{fi}".encode()
                    rows["clip_id"].append(cid)
                    rows["frame_idx"].append(fi)
                    rows["frame"].append(hashlib.sha256(seed).digest())
                    rows["ts_sec"].append(fi / 30.0)
                    rows["frame_w"].append(None)
                    rows["frame_h"].append(None)
            yield pd.DataFrame(rows)

    return src.mapInPandas(work, schema=FRAME_SAMPLE_SCHEMA)


ANIM_FRAME_SCHEMA = (
    "image_id string, frame_idx int, duration_ms int, "
    "frame_w int, frame_h int, canvas_w int, canvas_h int, "
    "pixels_ok boolean"
)


def animation_frames(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    reference: str | None = None,
) -> DataFrame:
    """Animated-WebP frame validation: one output row per ANMF frame
    with its header geometry/duration (``sources/webpx.py`` container
    parse), the VP8X canvas dims, and — when a reference family is
    named — per-frame RAW-subframe pixel equality.

    Decode semantics mirror ``sample_frames``' AVI policy: a corrupt
    or truncated container drops ITS clip's rows only (uniform
    ValueError contract), never the whole job. Static (non-animated)
    images yield nothing — this operator is the animation leg; stills
    are ``fidelity_check``'s job.

    ``reference``: name of a registered reference family —
    ``"animgen"`` re-synthesizes ``sources/animgen.py``'s frames from
    the image_id and compares each DECODED raw subframe (not the
    composed canvas: a planted mismatch in frame k must flag frame k
    only, not every canvas composited after it). ``None`` → the
    ``pixels_ok`` column is NULL (structure-only census).

    One Arrow-batched ``mapInPandas`` stage, narrow, no shuffle;
    payload decode happens exactly once per clip.
    """
    if reference not in (None, "animgen"):
        raise ValueError(f"unknown reference family: {reference!r}")
    src = df.select(F.col(id_col).cast("string").alias("image_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.webpcodec import (
            UnsupportedCodecError,
        )
        from cerberus_cpp_spark.sources.webpx import (
            iter_webp_anim_frames,
            webp_features,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        if reference == "animgen":
            from cerberus_cpp_spark.sources.animgen import (
                reference_subframes,
            )

        for pdf in batches:
            rows = {k: [] for k in (
                "image_id", "frame_idx", "duration_ms", "frame_w",
                "frame_h", "canvas_w", "canvas_h", "pixels_ok")}
            for img_id, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    continue
                blob = bytes(blob)
                try:
                    feats = webp_features(blob)
                    if not feats["has_animation"]:
                        continue
                    # one fused walk: headers + decoded subframes
                    pairs = list(iter_webp_anim_frames(blob))
                except (ValueError, UnsupportedCodecError):
                    continue  # per-clip skip on corruption
                refs = None
                if reference == "animgen":
                    # strict round-trip parse: a foreign id (or one
                    # that merely ENDS in digits, e.g. 'backup-…-7')
                    # must yield pixels_ok=NULL (unverifiable), never
                    # a comparison against the wrong clip's reference
                    try:
                        i = int(str(img_id).rsplit("-", 1)[-1])
                        if f"img-{i:012d}" == img_id:
                            refs = reference_subframes(i)
                    except (ValueError, AttributeError):
                        pass
                for fi, (info, frame) in enumerate(pairs):
                    ok = None
                    if refs is not None:
                        ok = (fi < len(refs)
                              and frame.shape == refs[fi].shape
                              and bool(np.array_equal(frame, refs[fi])))
                    rows["image_id"].append(img_id)
                    rows["frame_idx"].append(fi)
                    rows["duration_ms"].append(info["duration_ms"])
                    rows["frame_w"].append(info["w"])
                    rows["frame_h"].append(info["h"])
                    rows["canvas_w"].append(feats["width"])
                    rows["canvas_h"].append(feats["height"])
                    rows["pixels_ok"].append(ok)
            out = pd.DataFrame(rows)
            for c in ("frame_idx", "duration_ms", "frame_w", "frame_h",
                      "canvas_w", "canvas_h"):
                out[c] = out[c].astype("int32")
            yield out

    return src.mapInPandas(work, schema=ANIM_FRAME_SCHEMA)


def audio_features(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    stub_strategy: str = "raise",
) -> DataFrame:
    """Audio feature extraction. WAV-PCM payloads decode for REAL
    (``sources/wavcodec``); other formats fall to ``stub_strategy``
    (see ``sample_frames``). Output: (clip_id, sample_rate,
    n_samples, duration_sec, rms, zero_crossings, sumsq) — the
    integer columns (n_samples, zero_crossings, sumsq) are exact,
    which is what lets a SQL oracle replay them bit-for-bit."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        import numpy as np

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.wavcodec import (
            decode_wav,
            sniff_wav,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("sample_rate", "n_samples", "duration_sec", "rms",
                "zero_crossings", "sumsq")

        for pdf in batches:
            out = {"clip_id": pdf["clip_id"],
                   **{c: [] for c in cols}}

            def put(**kw):
                for c in cols:
                    out[c].append(kw.get(c))

            for blob in pdf[bytes_col]:
                if blob is None:
                    put()
                    continue
                blob = bytes(blob)
                if sniff_wav(blob):
                    rate, pcm = decode_wav(blob)
                    mono = pcm.astype(np.int64).sum(axis=1) \
                        // pcm.shape[1]
                    sumsq = int((mono * mono).sum())
                    zc = int(((mono[:-1] * mono[1:]) < 0).sum())
                    put(sample_rate=rate, n_samples=len(mono),
                        duration_sec=len(mono) / rate,
                        rms=float(np.sqrt(sumsq / max(len(mono), 1))),
                        zero_crossings=zc, sumsq=sumsq)
                    continue
                if stub_strategy == "raise":
                    raise NotImplementedError(
                        "audio decode unavailable for this payload: "
                        "only WAV-PCM decodes in-container (no codec "
                        "libs for mp3/aac/ogg; STUB path exercisable "
                        "with stub_strategy='fake')"
                    )
                wave = np.frombuffer(blob, dtype=np.uint8) \
                    .astype(np.int64) - 128
                sumsq = int((wave * wave).sum())
                put(sample_rate=16000, n_samples=len(wave),
                    duration_sec=len(wave) / 16000.0,
                    rms=float(np.sqrt(sumsq / max(len(wave), 1))),
                    zero_crossings=int(((wave[:-1] * wave[1:]) < 0)
                                       .sum()),
                    sumsq=sumsq)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        work,
        schema="clip_id string, sample_rate int, n_samples long,"
               " duration_sec double, rms double,"
               " zero_crossings long, sumsq long",
    )


NORMALIZE_ORIENT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "fixed boolean, message string"
)


def normalize_orientation(df: DataFrame, *, id_col: str = "image_id",
                          bytes_col: str = "bytes") -> DataFrame:
    """Bake EXIF orientation into the pixels: rows whose metadata
    carries Orientation 2..8 are decoded, transformed upright
    (``imagemeta.apply_exif_orientation``), re-encoded in their own
    format, and re-embedded with Orientation reset to 1 and
    PixelX/YDimension updated (descriptive EXIF fields and PNG text
    chunks are preserved). Everything else — no EXIF, orientation 1,
    formats without an orientation vocabulary — passes through
    byte-identical with ``fixed=false``. Undecodable or unreadable
    rows also pass through, with the error in ``message`` (never a
    job kill).

    One Arrow stage; the metadata walk decides cheaply (µs/row)
    whether the expensive decode+re-encode runs, so at crawl scale
    the cost is proportional to the ROTATED subset, not the table.
    JPEG is re-encoded with the in-repo baseline encoder (quality
    98) — one documented generation loss on exactly the rows that
    needed fixing, the same tradeoff every EXIF-baking pipeline
    makes."""
    src = df.select(F.col(id_col).cast("string").alias("image_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            decode_image,
            encode_pixels,
            image_header_info,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            apply_exif_orientation,
            build_exif,
            image_metadata,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.tiffcodec import encode_tiff
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        def passthrough(rows, rid, blob, msg=None):
            rows["image_id"].append(rid)
            rows["bytes"].append(blob)
            try:
                _, w, h = image_header_info(bytes(blob)) \
                    if blob is not None else (None, None, None)
            except ValueError:
                w = h = None
            rows["w"].append(w)
            rows["h"].append(h)
            rows["fmt"].append(None)
            rows["fixed"].append(False)
            rows["message"].append(msg)

        for pdf in batches:
            rows = {k: [] for k in ("image_id", "bytes", "w", "h",
                                    "fmt", "fixed", "message")}
            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    passthrough(rows, rid, None, "no payload")
                    continue
                blob = bytes(blob)
                try:
                    meta = image_metadata(blob)
                except ValueError as e:
                    passthrough(rows, rid, blob,
                                f"unreadable metadata: {str(e)[:120]}")
                    continue
                ex = meta["exif"] or {}
                o = ex.get("orientation")
                if o in (None, 1):
                    passthrough(rows, rid, blob)
                    rows["fmt"][-1] = meta["fmt"]
                    continue
                if not 2 <= o <= 8:
                    passthrough(rows, rid, blob,
                                f"invalid orientation {o}")
                    rows["fmt"][-1] = meta["fmt"]
                    continue
                try:
                    fmt, px = decode_image(blob)
                except Exception as e:
                    passthrough(rows, rid, blob,
                                f"undecodable payload: {str(e)[:120]}")
                    continue
                up = apply_exif_orientation(px, o)
                nh, nw = up.shape[0], up.shape[1]
                new_exif = build_exif(
                    description=ex.get("description"), orientation=1,
                    software=ex.get("software"),
                    datetime_str=ex.get("datetime"),
                    pixel_x=nw, pixel_y=nh)
                if fmt == "jpeg":
                    out = jpeg_insert_metadata(
                        encode_pixels(up, "jpeg"), exif=new_exif,
                        comment=meta["comment"])
                elif fmt == "png":
                    out = png_insert_metadata(
                        encode_pixels(up, "png"), exif=new_exif,
                        text=meta["text"] or None)
                elif fmt == "tiff":
                    tags = {274: 1, 40962: nw, 40963: nh}
                    if ex.get("description") is not None:
                        tags[270] = ex["description"]
                    if ex.get("software") is not None:
                        tags[305] = ex["software"]
                    if ex.get("datetime") is not None:
                        tags[306] = ex["datetime"]
                    out = encode_tiff(up, meta_tags=tags)
                elif fmt == "webp":
                    rgba = np.dstack(
                        [up, np.full((nh, nw), 255, np.uint8)])
                    out = encode_webp_vp8x(rgba, lossy=False,
                                           exif=new_exif)
                else:  # gif/bmp carry no EXIF: unreachable via o
                    passthrough(rows, rid, blob,
                                f"no orientation vocabulary in {fmt}")
                    continue
                rows["image_id"].append(rid)
                rows["bytes"].append(out)
                rows["w"].append(nw)
                rows["h"].append(nh)
                rows["fmt"].append(fmt)
                rows["fixed"].append(True)
                rows["message"].append(None)
            out_pdf = pd.DataFrame(rows)
            for c in ("w", "h"):
                out_pdf[c] = out_pdf[c].astype("Int32")
            yield out_pdf

    return src.mapInPandas(work, schema=NORMALIZE_ORIENT_SCHEMA)


def heif_burst_frames(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Multi-image HEIF (burst / photo-stack) validation: one output
    row per TOP-LEVEL item with its index, decoded dims, and a
    decoded-pixel checksum (stable across runs only for
    lossless-coded items — the caller owns that contract; the
    img_heif_burst query plants lossless AVIF stacks so its oracle
    predicts every checksum). Completes the multi-frame container
    family next to GIF animation, ANIM-WebP, and AVI sampling.

    Same per-clip failure policy as ``animation_frames``: a corrupt
    or truncated container drops ITS rows only, never the job; an
    absent system libheif drops every clip (decode_unsupported is a
    library property here, not a row property — route payloads
    through ``image_checks`` first if that distinction matters).
    One Arrow-batched ``mapInPandas`` stage, narrow, no shuffle.
    """
    src = df.select(F.col(id_col).cast("string").alias("image_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.libheif import (
            decode_heif_all,
            heif_available,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            rows = {"image_id": [], "frame_idx": [], "w": [], "h": [],
                    "px_sum": []}
            if heif_available():
                for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                    if blob is None:
                        continue
                    try:
                        frames = decode_heif_all(bytes(blob))
                    except ValueError:
                        continue    # corrupt clip: drop its rows only
                    for k, px in enumerate(frames):
                        rows["image_id"].append(rid)
                        rows["frame_idx"].append(k)
                        rows["h"].append(px.shape[0])
                        rows["w"].append(px.shape[1])
                        rows["px_sum"].append(
                            int(np.sum(px, dtype=np.int64)))
            out = pd.DataFrame(rows)
            for c, t in (("frame_idx", "Int32"), ("w", "Int32"),
                         ("h", "Int32"), ("px_sum", "Int64")):
                out[c] = out[c].astype(t) if len(out) else \
                    pd.array([], dtype=t)
            yield out

    return src.mapInPandas(
        work,
        schema=("image_id string, frame_idx int, w int, h int, "
                "px_sum bigint"),
    )


AUDIO_HEADER_SCHEMA = (
    "clip_id string, fmt string, ok boolean, message string, "
    "sample_rate int, channels int, duration_ms bigint, "
    "n_frames int, bitrate_kbps_min int, bitrate_kbps_max int, "
    "cbr boolean, id3v2 boolean, id3v1 boolean, profile string"
)


def audio_header_info(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """STRUCTURE-level audio validation with zero sample decode — the
    audio analogue of ``image_checks``' header-only pass, and the
    honest middle ground for the stubbed compressed family: MPEG
    audio (MP3) payloads get a full ISO 11172-3 frame-chain walk
    (``sources/mpegaudio.py``: per-frame header arithmetic, exact
    integer duration, truncation / mid-stream-parameter detection,
    CBR/VBR classification, ID3 accounting); WAV payloads get the
    fmt/data chunk walk (``wavcodec.wav_header_info``). Sample decode
    for compressed audio remains a stub — this surface validates and
    measures what a transcode pipeline needs to know BEFORE spending
    a decoder on the clip. One narrow Arrow stage.

    AAC ADTS payloads (ISO 13818-7 transport) get the same chain
    walk: per-frame header arithmetic, 1024 samples per raw data
    block, exact duration, truncation / parameter-change detection,
    CRC-frame accounting, plus the AAC ``profile`` (main/lc/ssr/ltp).

    ``fmt``: 'wav' / 'mpeg' / 'adts' / NULL (unrecognized or no
    payload); ``ok`` False carries a structural ``message``.
    Family-specific columns are NULL elsewhere (cbr/id3v1/bitrates
    are MPEG-only; profile is ADTS-only)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.mpegaudio import (
            audit_adts,
            audit_mpeg_audio,
            sniff_adts,
            sniff_mpeg_audio,
        )
        from cerberus_cpp_spark.sources.wavcodec import (
            sniff_wav,
            wav_header_info,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("fmt", "ok", "message", "sample_rate", "channels",
                "duration_ms", "n_frames", "bitrate_kbps_min",
                "bitrate_kbps_max", "cbr", "id3v2", "id3v1",
                "profile")

        for pdf in batches:
            out: dict = {"clip_id": pdf["clip_id"],
                         **{c: [] for c in cols}}

            def put(**kw):
                for c in cols:
                    out[c].append(kw.get(c))

            for blob in pdf[bytes_col]:
                if blob is None:
                    put(message="no payload", ok=False)
                    continue
                blob = bytes(blob)
                if sniff_wav(blob):
                    try:
                        h = wav_header_info(blob)
                        put(fmt="wav", ok=True,
                            sample_rate=h["sample_rate"],
                            channels=h["channels"],
                            duration_ms=h["duration_ms"])
                    except ValueError as e:
                        put(fmt="wav", ok=False, message=str(e)[:160])
                elif sniff_mpeg_audio(blob):
                    a = audit_mpeg_audio(blob)
                    put(fmt="mpeg", ok=a["ok"], message=a["message"],
                        sample_rate=a["sample_rate"],
                        channels=a["channels"],
                        duration_ms=a["duration_ms"],
                        n_frames=a["n_frames"] or None,
                        bitrate_kbps_min=a["bitrate_kbps_min"],
                        bitrate_kbps_max=a["bitrate_kbps_max"],
                        cbr=a["cbr"], id3v2=a["id3v2"],
                        id3v1=a["id3v1"])
                elif sniff_adts(blob):
                    a = audit_adts(blob)
                    put(fmt="adts", ok=a["ok"], message=a["message"],
                        sample_rate=a["sample_rate"],
                        channels=a["channels"],
                        duration_ms=a["duration_ms"],
                        n_frames=a["n_frames"] or None,
                        id3v2=a["id3v2"],
                        profile=a["profile"])
                else:
                    put(ok=False, message="unrecognized audio stream")
            res = pd.DataFrame(out)
            for c, t in (("sample_rate", "Int32"), ("channels", "Int32"),
                         ("duration_ms", "Int64"), ("n_frames", "Int32"),
                         ("bitrate_kbps_min", "Int32"),
                         ("bitrate_kbps_max", "Int32"),
                         ("cbr", "boolean"), ("ok", "boolean"),
                         ("id3v2", "boolean"), ("id3v1", "boolean")):
                res[c] = pd.array(res[c], dtype=t)
            yield res

    return src.mapInPandas(work, schema=AUDIO_HEADER_SCHEMA)


VIDEO_HEADER_SCHEMA = (
    "clip_id string, fmt string, ok boolean, message string, "
    "width int, height int, n_frames int, n_idr int, "
    "profile_idc int, level_idc int, fps double"
)


def video_header_info(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """STRUCTURE-level video validation with zero macroblock decode —
    the video twin of ``audio_header_info``: H.264 Annex-B payloads
    get a NAL walk + Exp-Golomb SPS decode (``sources/h264.py`` —
    REAL display dims including conformance cropping, profile/level,
    slice/IDR accounting); AVI containers get the RIFF demux header
    (fps + frame count + per-container dims from the first frame's
    JPEG header, no pixel decode). Sample decode for H.264 remains a
    stub — this validates what a transcode pipeline needs to know
    before spending a decoder. One narrow Arrow stage.

    ``fmt``: 'avi' / 'h264' / NULL. H.264-only columns are NULL for
    avi rows (profile/level/n_idr) and vice versa (fps)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.avicodec import (
            demux_avi_mjpeg,
            sniff_avi,
        )
        from cerberus_cpp_spark.sources.h264 import (
            h264_stream_info,
            sniff_h264_annexb,
        )
        from cerberus_cpp_spark.sources.imagegen import image_header_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("fmt", "ok", "message", "width", "height", "n_frames",
                "n_idr", "profile_idc", "level_idc", "fps")

        for pdf in batches:
            out: dict = {"clip_id": pdf["clip_id"],
                         **{c: [] for c in cols}}

            def put(**kw):
                for c in cols:
                    out[c].append(kw.get(c))

            for blob in pdf[bytes_col]:
                if blob is None:
                    put(message="no payload", ok=False)
                    continue
                blob = bytes(blob)
                if sniff_avi(blob):
                    try:
                        fps, frames = demux_avi_mjpeg(blob)
                        w = h = None
                        if frames:
                            _, w, h = image_header_info(frames[0])
                        put(fmt="avi", ok=True, width=w, height=h,
                            n_frames=len(frames), fps=float(fps))
                    except ValueError as e:
                        put(fmt="avi", ok=False, message=str(e)[:160])
                elif sniff_h264_annexb(blob):
                    info = h264_stream_info(blob)
                    if info["ok"]:
                        put(fmt="h264", ok=True, width=info["width"],
                            height=info["height"],
                            n_frames=info["n_slices"] or None,
                            n_idr=info["n_idr"],
                            profile_idc=info["profile_idc"],
                            level_idc=info["level_idc"])
                    else:
                        # damaged stream: message only (partial fields
                        # would depend on WHERE the damage sits)
                        put(fmt="h264", ok=False,
                            message=info["message"])
                else:
                    put(ok=False, message="unrecognized video stream")
            res = pd.DataFrame(out)
            for c, t in (("width", "Int32"), ("height", "Int32"),
                         ("n_frames", "Int32"), ("n_idr", "Int32"),
                         ("profile_idc", "Int32"),
                         ("level_idc", "Int32"), ("ok", "boolean")):
                res[c] = pd.array(res[c], dtype=t)
            res["fps"] = pd.array(res["fps"], dtype="Float64")
            yield res

    return src.mapInPandas(work, schema=VIDEO_HEADER_SCHEMA)


MP4_TRACK_SCHEMA = (
    "clip_id string, ok boolean, message string, brand string, "
    "movie_duration_ms bigint, n_tracks int, track_id int, "
    "handler string, codec string, width int, height int, "
    "track_timescale bigint, n_samples bigint, duration_ms bigint, "
    "lang string"
)


def mp4_track_frames(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """MP4 movie-container census — ONE ROW PER TRACK from the moov
    structural walk (``sources/isobmff.mp4_movie_info``, ISO/IEC
    14496-12 §8): track id, handler (vide/soun), sample-entry codec
    4cc, tkhd display dims, media timescale, sample count from the
    stts table, integer millisecond durations (track and movie), and
    the mdhd language. Completes the container family next to AVI,
    raw Annex-B H.264, ADTS, MPEG audio, and WAV; sample decode of
    the contained codecs remains out of scope exactly like those
    layers — this answers what a transcode/census pipeline needs
    BEFORE spending a decoder.

    One narrow Arrow stage (zero Exchange); per-clip failure
    routing: NULL payloads and structurally damaged containers emit
    a single ok=false row naming the offending box, never killing
    the job — the per-row verdict contract of the reference's
    document-level pass/fail (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.isobmff import mp4_movie_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "brand", "movie_duration_ms",
                "n_tracks", "track_id", "handler", "codec", "width",
                "height", "track_timescale", "n_samples",
                "duration_ms", "lang")
        int_cols = {"movie_duration_ms": "Int64", "n_tracks": "Int32",
                    "track_id": "Int32", "width": "Int32",
                    "height": "Int32", "track_timescale": "Int64",
                    "n_samples": "Int64", "duration_ms": "Int64"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    info = mp4_movie_info(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                mdur = (info["duration"] * 1000
                        // info["timescale"]) if info["timescale"] \
                    else None
                for tr in info["tracks"]:
                    put(cid, ok=True, brand=info["brand"],
                        movie_duration_ms=mdur,
                        n_tracks=len(info["tracks"]),
                        track_id=tr["track_id"],
                        handler=tr["handler"], codec=tr["codec"],
                        width=tr["width"], height=tr["height"],
                        track_timescale=tr["timescale"],
                        n_samples=tr["n_samples"],
                        duration_ms=tr["duration"] * 1000
                        // tr["timescale"] if tr["timescale"]
                        else None,
                        lang=tr["lang"])
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            yield res

    return src.mapInPandas(work, schema=MP4_TRACK_SCHEMA)


WEBM_TRACK_SCHEMA = (
    "clip_id string, ok boolean, message string, doctype string, "
    "timestamp_scale bigint, movie_duration_ms bigint, "
    "n_clusters int, n_tracks int, track_number int, "
    "track_type string, codec string, width int, height int, "
    "sampling_hz double, channels int, lang string"
)


def webm_track_frames(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Matroska/WebM container census — ONE ROW PER TRACK from the
    EBML Segment walk (``sources/ebml.webm_movie_info``, RFC 8794 +
    the public Matroska registry): track number, type
    (video/audio/...), CodecID, pixel dims, sampling rate/channels,
    language, plus the movie-level doctype, TimestampScale, integer
    millisecond duration and cluster count. The exact sibling of
    ``mp4_track_frames`` for the other big web video container;
    sample decode stays out of scope like every container layer.

    One narrow Arrow stage (zero Exchange); per-clip failure
    routing: NULL payloads and structurally damaged streams emit a
    single ok=false row naming the offending element, never killing
    the job — the per-row verdict contract of the reference's
    document-level pass/fail (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.ebml import webm_movie_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "doctype", "timestamp_scale",
                "movie_duration_ms", "n_clusters", "n_tracks",
                "track_number", "track_type", "codec", "width",
                "height", "sampling_hz", "channels", "lang")
        int_cols = {"timestamp_scale": "Int64",
                    "movie_duration_ms": "Int64",
                    "n_clusters": "Int32", "n_tracks": "Int32",
                    "track_number": "Int32", "width": "Int32",
                    "height": "Int32", "channels": "Int32"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    info = webm_movie_info(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                for tr in info["tracks"]:
                    put(cid, ok=True, doctype=info["doctype"],
                        timestamp_scale=info["timestamp_scale"],
                        movie_duration_ms=info["duration_ms"],
                        n_clusters=info["n_clusters"],
                        n_tracks=len(info["tracks"]),
                        track_number=tr["number"],
                        track_type=tr["type"], codec=tr["codec"],
                        width=tr["width"], height=tr["height"],
                        sampling_hz=tr["hz"],
                        channels=tr["channels"], lang=tr["lang"])
            res = pd.DataFrame(out)
            res["sampling_hz"] = pd.array(res["sampling_hz"],
                                          dtype="Float64")
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            yield res

    return src.mapInPandas(work, schema=WEBM_TRACK_SCHEMA)


OGG_STREAM_SCHEMA = (
    "clip_id string, ok boolean, message string, codec string, "
    "channels int, rate bigint, pre_skip int, n_pages int, "
    "duration_ms bigint, crc_ok boolean, eos boolean"
)


def ogg_stream_frames(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Ogg container census — ONE ROW PER STREAM from the RFC 3533
    page walk (``sources/ogg.ogg_stream_info``): BOS codec
    identification (OpusHead / Vorbis-I), channels, the granule
    clock rate, Opus pre-skip, page count, integer-ms duration from
    the last granule position, whole-stream CRC verdict, and EOS
    presence. Completes the web-audio container family next to the
    MP4/Matroska movie walks and the raw ADTS/MPEG/WAV layers;
    sample decode of the contained codecs stays out of scope exactly
    like those layers.

    One narrow Arrow stage (zero Exchange); per-clip failure
    routing: NULL payloads and structurally damaged streams emit a
    single ok=false row naming the offending page/field, never
    killing the job — the per-row verdict contract of the
    reference's document-level pass/fail (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.ogg import ogg_stream_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "codec", "channels", "rate",
                "pre_skip", "n_pages", "duration_ms", "crc_ok",
                "eos")
        int_cols = {"channels": "Int32", "rate": "Int64",
                    "pre_skip": "Int32", "n_pages": "Int32",
                    "duration_ms": "Int64"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    info = ogg_stream_info(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                put(cid, ok=True, codec=info["codec"],
                    channels=info["channels"], rate=info["rate"],
                    pre_skip=info["pre_skip"],
                    n_pages=info["n_pages"],
                    duration_ms=info["duration_ms"],
                    crc_ok=info["crc_ok"], eos=info["eos"])
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "crc_ok", "eos"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=OGG_STREAM_SCHEMA)


FLAC_STREAM_SCHEMA = (
    "clip_id string, ok boolean, message string, rate bigint, "
    "channels int, bits_per_sample int, total_samples bigint, "
    "duration_ms bigint, n_blocks int, block_types array<string>, "
    "md5_set boolean"
)


def flac_stream_frames(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """FLAC metadata census — ONE ROW PER STREAM from the
    metadata-block walk (``sources/flac.flac_stream_info``,
    RFC 9639): bit-packed STREAMINFO fields (rate, channels,
    bits-per-sample, total samples → integer-ms duration, MD5
    presence) plus the block count and type list. The lossless-audio
    sibling of ``ogg_stream_frames``; frame decode stays out of
    scope like every container layer.

    One narrow Arrow stage (zero Exchange); per-clip failure
    routing: NULL payloads and structurally damaged streams emit a
    single ok=false row naming the offending block, never killing
    the job — the per-row verdict contract of the reference's
    document-level pass/fail (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.flac import flac_stream_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "rate", "channels",
                "bits_per_sample", "total_samples", "duration_ms",
                "n_blocks", "block_types", "md5_set")
        int_cols = {"rate": "Int64", "channels": "Int32",
                    "bits_per_sample": "Int32",
                    "total_samples": "Int64",
                    "duration_ms": "Int64", "n_blocks": "Int32"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    info = flac_stream_info(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                put(cid, ok=True, rate=info["rate"],
                    channels=info["channels"],
                    bits_per_sample=info["bits_per_sample"],
                    total_samples=info["total_samples"],
                    duration_ms=info["duration_ms"],
                    n_blocks=info["n_blocks"],
                    block_types=info["block_types"],
                    md5_set=info["md5_set"])
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "md5_set"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=FLAC_STREAM_SCHEMA)


COMPRESSION_SCHEMA = (
    "clip_id string, ok boolean, message string, fmt string, "
    "n_comp bigint, n_raw bigint, ratio double, raw_md5 string"
)


def compression_census(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    max_out: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Compressed-payload census with REAL bounded decode
    (``sources/compression.decompress_bounded`` — stdlib zlib/gzip/
    bzip2/xz, zstd sniffed but honestly gated on the absent
    decoder): format, compressed and decompressed sizes, ratio, and
    the md5 of the decompressed bytes (the content fingerprint a
    dedup pass downstream keys on — crawled corpora store the same
    document under different compression settings, so dedup must
    key on RAW content, not payload bytes). Every stream is decoded
    through the streaming ``max_out`` budget: a zip-bomb aborts with
    a named verdict instead of an executor OOM.

    One narrow Arrow stage (zero Exchange); per-payload failure
    routing with CONSTANT message classes (unknown magic, truncated/
    corrupt, trailing garbage, over-limit, absent zstd decoder) —
    the per-row verdict contract of the reference's document-level
    pass/fail (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT
    bound = int(max_out)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.compression import (
            decompress_bounded,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "fmt", "n_comp", "n_raw", "ratio",
                "raw_md5")
        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    info = decompress_bounded(bytes(blob),
                                              max_out=bound)
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                put(cid, ok=True, fmt=info["fmt"],
                    n_comp=info["n_comp"], n_raw=info["n_raw"],
                    ratio=(info["n_raw"] / info["n_comp"]
                           if info["n_comp"] else None),
                    raw_md5=hashlib.md5(info["raw"]).hexdigest())
            res = pd.DataFrame(out)
            for c, t in (("n_comp", "Int64"), ("n_raw", "Int64")):
                res[c] = pd.array(res[c], dtype=t)
            res["ratio"] = pd.array(res["ratio"], dtype="Float64")
            res["ok"] = pd.array(res["ok"], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=COMPRESSION_SCHEMA)


ARCHIVE_SCHEMA = (
    "clip_id string, ok boolean, message string, fmt string, "
    "n_members int, member_name string, member_size bigint, "
    "typeflag string, method string, crc_ok boolean"
)


def archive_census(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    max_out: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Archive census — ONE ROW PER MEMBER for ustar TAR and ZIP
    payloads (``sources/archive`` — the containers code/training
    corpora arrive in): member name, size, tar typeflag, zip
    compression method, and for zip a REAL verdict — every member
    is inflated (through the ``max_out`` zip-bomb budget) and its
    stored CRC-32 verified against the actual bytes, so crc_ok is a
    decode check, not a framing check.

    One narrow Arrow stage (zero Exchange); per-payload failure
    routing with CONSTANT message classes — the per-row verdict
    contract of the reference's document-level pass/fail
    (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT
    bound = int(max_out)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.archive import (
            sniff_tar,
            sniff_zip,
            tar_members,
            zip_members,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "fmt", "n_members", "member_name",
                "member_size", "typeflag", "method", "crc_ok")
        int_cols = {"n_members": "Int32", "member_size": "Int64"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                b = bytes(blob)
                try:
                    if sniff_tar(b):
                        fmt, members = "tar", tar_members(b)
                    elif sniff_zip(b):
                        fmt, members = "zip", zip_members(
                            b, max_out=bound)
                    else:
                        raise ValueError(
                            "unknown archive format")
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                if not members:
                    put(cid, ok=True, fmt=fmt, n_members=0)
                    continue
                for m in members:
                    put(cid, ok=True, fmt=fmt,
                        n_members=len(members),
                        member_name=m["name"],
                        member_size=m["size"],
                        typeflag=m.get("typeflag"),
                        method=m.get("method"),
                        crc_ok=m.get("crc_ok"))
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "crc_ok"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=ARCHIVE_SCHEMA)


WARC_SCHEMA = (
    "clip_id string, ok boolean, message string, n_records int, "
    "record_type string, record_id string, uri string, "
    "content_length bigint, content_type string, http_status int"
)


def warc_census(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """WARC census — ONE ROW PER RECORD from the ISO 28500 walk
    (``sources/warc.warc_records``): record type, id, target URI,
    Content-Length, Content-Type, and the HTTP status parsed from
    application/http response blocks — the ingest-side census of a
    Common-Crawl-style corpus BEFORE any HTML extraction
    (``text.strip_html``) or charset work spends cycles on 4xx/5xx
    fetches and non-HTML blocks. Record-level gzip members route
    through ``compression_census`` upstream.

    One narrow Arrow stage (zero Exchange); per-payload failure
    routing with CONSTANT message classes — the per-row verdict
    contract of the reference's document-level pass/fail
    (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.warc import warc_records
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "n_records", "record_type",
                "record_id", "uri", "content_length",
                "content_type", "http_status")
        int_cols = {"n_records": "Int32", "content_length": "Int64",
                    "http_status": "Int32"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    recs = warc_records(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                for r in recs:
                    put(cid, ok=True, n_records=len(recs),
                        record_type=r["type"],
                        record_id=r["record_id"], uri=r["uri"],
                        content_length=r["content_length"],
                        content_type=r["content_type"],
                        http_status=r["http_status"])
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            res["ok"] = pd.array(res["ok"], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=WARC_SCHEMA)


TFRECORD_SCHEMA = (
    "clip_id string, ok boolean, message string, n_records int, "
    "record_index int, length bigint, crc_ok boolean"
)


def tfrecord_census(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """TFRecord shard census — ONE ROW PER RECORD from the framing
    walk (``sources/tfrecord.tfrecord_records``): record lengths
    and the per-record masked-CRC-32C verdict, both CRCs actually
    computed (from-scratch Castagnoli, pinned against the published
    check value). This is what a resharding/packing pass reads
    before parsing a single example proto: record-size distribution
    drives shard splits, and a data-CRC mismatch is reported IN the
    row (framing intact) while a corrupt length header fails the
    payload with a constant message — every later offset would be
    garbage.

    One narrow Arrow stage (zero Exchange); per-payload verdict
    contract (validator.hh:239-258)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.tfrecord import (
            tfrecord_records,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "n_records", "record_index",
                "length", "crc_ok")
        int_cols = {"n_records": "Int32", "record_index": "Int32",
                    "length": "Int64"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                try:
                    recs = tfrecord_records(bytes(blob))
                except ValueError as e:
                    put(cid, ok=False, message=str(e))
                    continue
                for k, r in enumerate(recs):
                    put(cid, ok=True, n_records=len(recs),
                        record_index=k, length=r["length"],
                        crc_ok=r["crc_ok"])
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "crc_ok"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=TFRECORD_SCHEMA)


WARC_TEXT_SCHEMA = (
    "clip_id string, uri string, http_status int, html string"
)


def warc_text_frames(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """HTML extraction from WARC payloads — one row per http
    response record (``sources/warc.warc_response_bodies``): target
    URI, HTTP status, and the response body decoded as UTF-8 with
    replacement (crawled bodies lie about charsets; the encoding
    census quantifies the damage, this stage must not die on it).
    The ingest head of the crawl-to-corpus pipeline: filter on
    status, then ``text.strip_html`` / ``text.dedup_lines`` /
    ``curate_documents`` downstream. Structurally damaged payloads
    drop their rows silently here — run ``warc_census`` first for
    the per-payload verdicts; this stage is the happy path.

    One narrow Arrow stage (zero Exchange)."""
    src = df.select(F.col(id_col).cast("string").alias("clip_id"),
                    F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.warc import (
            warc_response_bodies,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            ids, uris, stats, htmls = [], [], [], []
            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    bodies = warc_response_bodies(bytes(blob))
                except ValueError:
                    continue
                for b in bodies:
                    ids.append(cid)
                    uris.append(b["uri"])
                    stats.append(b["http_status"])
                    htmls.append(b["body"].decode("utf-8",
                                                  "replace"))
            res = pd.DataFrame({"clip_id": ids, "uri": uris,
                                "http_status": stats,
                                "html": htmls})
            res["http_status"] = pd.array(res["http_status"],
                                          dtype="Int32")
            yield res

    return src.mapInPandas(work, schema=WARC_TEXT_SCHEMA)
