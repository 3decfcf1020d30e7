"""Image-payload checks: the binary-column (multimodal) operators.

Per BASELINE.json input_hint, image bytes are decoded ONLY inside
Arrow-batched UDF stages — the metadata fast path (w/h/fmt column
predicates) never touches ``bytes``, so Parquet column pruning keeps
those scans cheap; the decode path reads ``bytes`` in Arrow batches
sized by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set it low,
e.g. 256-1024, when payloads are MB-scale so a batch fits executor
memory).

Codecs come from ``sources.imagegen``: PNG, baseline JPEG
(``jpegcodec.py``, interop-verified against Java ImageIO) and webp
VP8L lossless (``webpcodec.py``, RFC 9649 — roundtrip + hand-built
conformance streams) are all REAL in-repo codecs; lossy VP8/VP8X
decodes through the feature-detected system libwebp
(``decode_webp_any``) and routes to the ``decode_unsupported``
verdict only when the shared library is absent or the payload is
undecodable even there. The Spark-side plumbing (binary columns,
batch shapes, UDF signatures, violation surfaces) is tested for all
paths.

The reference analogue is a custom type's ``equality`` op
(``types.hh:41-48``) promoted to a row-wise invariant: decoded pixels
must match the deterministic reference image within PSNR ≥ 40 dB
(lossy) / exactly (lossless), and the caption must equal the
reference caption (``input_hint``: "decoded-pixel allclose + caption
equality").
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.shipping import PKG_PARENT


def metadata_consistency_violations(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    check_dims: bool = True,
    header_only: bool = False,
) -> DataFrame:
    """Violation rows where the payload contradicts the metadata
    columns (fmt mismatch, dimension mismatch, undecodable). One
    Arrow pass joined back on id — broadcast-free: the probe output
    carries the id so this is a co-keyed sort-merge only if
    violations are projected with extra source columns; here we keep
    it join-free by probing WITH the metadata columns inline.

    ``header_only=True`` reads (fmt, w, h) from the CONTAINER HEADER
    (``imagegen.image_header_info``) instead of decoding pixels —
    the 10^12-row first pass: microseconds/row instead of
    milliseconds, verifies dims even for codecs with no decoder
    available (lossy VP8 headers carry real dims, so those rows get
    checked instead of routed to decode_unsupported), but cannot see
    pixel-level corruption past the header. Mismatch messages are
    identical across both modes; only the undecodable family differs
    (``unreadable header:`` vs decode errors)."""
    src = df.select(
        F.col(id_col).alias("image_id"), "bytes",
        F.col("fmt").alias("meta_fmt"),
        F.col("w").alias("meta_w"), F.col("h").alias("meta_h"),
    )

    pkg_parent = PKG_PARENT

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            image_header_info,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            ids, paths, msgs = [], [], []

            def viol(i, path, msg):
                ids.append(pdf["image_id"].iloc[i])
                paths.append(path)
                msgs.append(msg)

            for i, blob in enumerate(pdf["bytes"]):
                if blob is None:
                    viol(i, "^.bytes", "undecodable payload: no payload")
                    continue
                if header_only:
                    try:
                        fmt, pw, ph = image_header_info(bytes(blob))
                    except ValueError as e:
                        viol(i, "^.bytes",
                             f"unreadable header: {str(e)[:120]}")
                        continue
                else:
                    try:
                        fmt, px = decode_image(bytes(blob))
                        ph, pw = px.shape[0], px.shape[1]
                    except UnsupportedCodecError as e:
                        # the payload IS what the metadata says, we
                        # just can't verify dims — distinct message so
                        # consumers don't quarantine it as corruption
                        viol(i, "^.bytes",
                             f"decode_unsupported: {str(e)[:120]}")
                        continue
                    except Exception as e:
                        viol(i, "^.bytes",
                             f"undecodable payload: {str(e)[:120]}")
                        continue
                meta_fmt = pdf["meta_fmt"].iloc[i]
                if not pd.isna(meta_fmt) and fmt != meta_fmt:
                    viol(i, "^.fmt",
                         f"payload is {fmt}, metadata says {meta_fmt}")
                if check_dims:
                    mw, mh = pdf["meta_w"].iloc[i], pdf["meta_h"].iloc[i]
                    if not pd.isna(mw) and pw != int(mw):
                        viol(i, "^.w",
                             f"payload width {pw} != metadata {mw}")
                    if not pd.isna(mh) and ph != int(mh):
                        viol(i, "^.h",
                             f"payload height {ph} != metadata {mh}")
            yield pd.DataFrame(
                {"image_id": ids, "path": paths, "message": msgs}
            )

    return src.mapInPandas(
        probe, schema="image_id string, path string, message string"
    )


def tiered_image_check(
    df: DataFrame,
    *,
    sample_pred,
    id_col: str = "image_id",
    check_dims: bool = True,
) -> DataFrame:
    """Two-phase image validation — the 10^12-row shape:

    - **phase 1** (every row): header-only metadata consistency
      (``header_only=True`` — µs/row, no pixel decode);
    - **phase 2** (tiny subset): full pixel decode on the rows
      selected by ``sample_pred`` (a deterministic Column predicate,
      e.g. a hash bucket), catching corruption past the header that
      phase 1 cannot see. A sampled row is flagged (fixed
      ``'sampled deep-decode failed'`` message) only when its HEADER
      parses but the full decode fails — header failures are already
      phase 1's violations (no double-reporting), and
      ``decode_unsupported`` (a missing codec, not corruption) is
      never flagged.

    Both phases are narrow Arrow stages; the phase-2 predicate is a
    plain Column, so it pushes into the source scan (partition/file
    pruning at scale) instead of re-reading every payload. Output:
    one (image_id, path, message) violation frame, the union of both
    phases."""
    phase1 = metadata_consistency_violations(
        df, id_col=id_col, check_dims=check_dims, header_only=True)
    deep_src = df.where(sample_pred).select(
        F.col(id_col).alias("image_id"), "bytes")
    pkg_parent = PKG_PARENT

    def deep_probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            image_header_info,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            flagged = []
            for img_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                if blob is None:
                    continue  # phase 1's 'no payload' violation
                blob = bytes(blob)
                try:
                    image_header_info(blob)
                except ValueError:
                    continue  # header failure = phase 1's violation
                try:
                    decode_image(blob)
                except UnsupportedCodecError:
                    continue  # missing codec, not corruption
                except Exception:
                    flagged.append(img_id)
            yield pd.DataFrame({"image_id": flagged})

    phase2 = (
        deep_src.mapInPandas(deep_probe, schema="image_id string")
        .select(F.col("image_id"), F.lit("^.bytes").alias("path"),
                F.lit("sampled deep-decode failed").alias("message"))
    )
    return phase1.unionByName(phase2)


def fidelity_check(
    df: DataFrame,
    *,
    seed: int = 42,
    psnr_threshold_db: float = 40.0,
    id_col: str = "image_id",
) -> DataFrame:
    """Row-wise invariant vs the deterministic reference (input_hint:
    decoded-pixel PSNR ≥ 40 dB for lossy, exact for lossless, +
    caption equality). The reference image is re-synthesized
    executor-side from the row id — no ground-truth shipping, no
    shuffle. Output: (image_id, psnr_db, pixels_ok, caption_ok,
    verdict).

    Rows whose id cannot be parsed or payload cannot be decoded get
    pixels_ok = false with psnr_db NULL; ``verdict`` classifies the
    pixel outcome — ``ok`` / ``mismatch`` (decoded, PSNR below gate) /
    ``decode_unsupported`` (well-formed container, codec outside the
    in-repo decoders, e.g. lossy VP8 — never kills the job) /
    ``undecodable`` (missing or corrupt payload) / ``no_reference``
    (id unparseable so no reference image can be synthesized).
    """
    src = df.select(F.col(id_col).alias("image_id"), "bytes", "caption")

    pkg_parent = PKG_PARENT

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            pixel_seed,
            psnr,
            synth_pixels,
            webp_is_lossless,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            out = {"image_id": pdf["image_id"], "psnr_db": [],
                   "pixels_ok": [], "caption_ok": [], "verdict": []}
            for img_id, blob, cap in zip(
                pdf["image_id"], pdf["bytes"], pdf["caption"]
            ):
                try:
                    i = int(str(img_id).rsplit("-", 1)[-1])
                except (ValueError, AttributeError):
                    i = None
                expected_cap = (
                    f"caption {i % 997} about image number {i}"
                    if i is not None else None
                )
                out["caption_ok"].append(
                    cap is not None and cap == expected_cap
                )
                fmt = px = None
                if blob is None:
                    bad = "undecodable"
                else:
                    try:
                        fmt, px = decode_image(bytes(blob))
                        bad = None
                    except UnsupportedCodecError:
                        bad = "decode_unsupported"
                    except Exception:
                        bad = "undecodable"
                if bad is None and i is None:
                    bad = "no_reference"
                if bad is not None:
                    out["psnr_db"].append(None)
                    out["pixels_ok"].append(False)
                    out["verdict"].append(bad)
                    continue
                ref = synth_pixels(
                    pixel_seed(i, seed), px.shape[1], px.shape[0]
                )
                db = psnr(px, ref)
                # per-payload: VP8L is lossless, VP8/VP8X (decoded
                # via the libwebp fallback) get the PSNR gate
                lossless = fmt == "png" or (
                    fmt == "webp" and webp_is_lossless(bytes(blob)))
                ok = (db == math.inf) if lossless \
                    else (db >= psnr_threshold_db)
                out["psnr_db"].append(
                    None if db == math.inf else float(db)
                )
                out["pixels_ok"].append(bool(ok))
                out["verdict"].append("ok" if ok else "mismatch")
            yield pd.DataFrame(out)

    return src.mapInPandas(
        check,
        schema="image_id string, psnr_db double, "
               "pixels_ok boolean, caption_ok boolean, verdict string",
    )


def pixel_phash(df: DataFrame, *, id_col: str = "image_id",
                bytes_col: str = "bytes") -> DataFrame:
    """Perceptual hash computed from DECODED pixels (north_star's
    "phash-based uniqueness" with the hash actually derived from
    payload content, not a metadata column): one Arrow-batched
    narrow stage — decode (in-repo codecs) → classic pHash
    (imagegen.phash64: 32×32 luma DCT, 8×8 low-frequency sign bits).
    Output (image_id, phash long); undecodable payloads → NULL.
    Downstream uniqueness is the standard hash-aggregate
    (`checks.duplicate_keys`, salting optional per BENCH §3)."""
    src = df.select(F.col(id_col).alias("image_id"), F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            decode_image,
            phash64,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            out = {"image_id": pdf["image_id"], "phash": []}
            for blob in pdf[bytes_col]:
                if blob is None:
                    out["phash"].append(None)
                    continue
                try:
                    _, px = decode_image(bytes(blob))
                    # a structurally-parseable file declaring zero
                    # dimensions decodes to an EMPTY pixel array;
                    # phash64 would IndexError — treat as undecodable
                    out["phash"].append(
                        None if px.size == 0 else phash64(px))
                except ValueError:
                    out["phash"].append(None)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        work, schema="image_id string, phash long")


def exif_consistency_violations(
    df: DataFrame, *, id_col: str = "image_id",
    allow_orientation_swap: bool = True,
) -> DataFrame:
    """EXIF-vs-header consistency: violation rows where the embedded
    EXIF ``PixelXDimension``/``PixelYDimension`` disagree with the
    container header's dims, or ``Orientation`` is outside the EXIF
    1..8 vocabulary. ``allow_orientation_swap`` accepts swapped dims
    when orientation is 5..8 (writers that store DISPLAY dims after a
    90° rotation — a real-world camera-pipeline convention, not spec
    text). Header walk + metadata walk only — never decodes pixels,
    so this runs in the same 10^12-row tier as ``header_only``
    metadata consistency. Rows with no EXIF dims are silently fine
    (EXIF is optional); structurally unreadable metadata is a
    violation (the container lies about its own structure)."""
    src = df.select(F.col(id_col).alias("image_id"), "bytes")
    pkg_parent = PKG_PARENT

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import image_header_info
        from cerberus_cpp_spark.sources.imagemeta import image_metadata
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            ids, paths, msgs = [], [], []

            def viol(rid, path, msg):
                ids.append(rid)
                paths.append(path)
                msgs.append(msg)

            for rid, blob in zip(pdf["image_id"], pdf["bytes"]):
                if blob is None:
                    viol(rid, "^.bytes",
                         "undecodable payload: no payload")
                    continue
                blob = bytes(blob)
                try:
                    _, hw, hh = image_header_info(blob)
                    m = image_metadata(blob)
                except ValueError as e:
                    viol(rid, "^.bytes",
                         f"unreadable metadata: {str(e)[:120]}")
                    continue
                ex = m["exif"]
                if not ex:
                    continue
                o = ex.get("orientation")
                if o is not None and not 1 <= o <= 8:
                    viol(rid, "^.exif.orientation",
                         f"invalid orientation {o}")
                ew, eh = ex.get("pixel_x"), ex.get("pixel_y")
                if ew is None or eh is None:
                    continue
                if (ew, eh) == (hw, hh):
                    continue
                if (allow_orientation_swap and o is not None
                        and 5 <= o <= 8 and (ew, eh) == (hh, hw)):
                    continue
                viol(rid, "^.exif",
                     f"exif dims {ew}x{eh} disagree with header "
                     f"{hw}x{hh}")
            yield pd.DataFrame(
                {"image_id": ids, "path": paths, "message": msgs})

    return src.mapInPandas(
        probe, schema="image_id string, path string, message string")


def png_chunk_audit(df: DataFrame, *, id_col: str = "image_id",
                    bytes_col: str = "bytes") -> DataFrame:
    """Container-level forensic audit of PNG payloads: a tolerant
    chunk walk (``pngcodec.audit_chunks``) that verifies EVERY
    chunk's CRC-32 and keeps walking past mismatches — zlib often
    tolerates a flipped byte that the container CRC catches, so
    "decode succeeded" is NOT "payload intact". One narrow Arrow
    pass over (id, bytes); no pixel decode. Per row:

    - ``verdict``: 'ok' | 'crc_mismatch' (structure sound, ≥1 chunk
      CRC bad) | 'malformed' (structural damage: bad magic,
      truncated chunk, missing IEND — walk cannot continue) |
      'no_payload'
    - ``n_chunks``: chunks walked (NULL when malformed)
    - ``bad_chunks``: comma-joined chunk types with CRC mismatches,
      in stream order (NULL when none / malformed)
    - ``message``: the structural error for malformed rows
    """
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.pngcodec import audit_chunks
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            rows = {k: [] for k in ("image_id", "verdict", "n_chunks",
                                    "bad_chunks", "message")}
            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                rows["image_id"].append(rid)
                if blob is None:
                    rows["verdict"].append("no_payload")
                    rows["n_chunks"].append(None)
                    rows["bad_chunks"].append(None)
                    rows["message"].append("no payload")
                    continue
                try:
                    chunks = audit_chunks(bytes(blob))
                except ValueError as e:
                    rows["verdict"].append("malformed")
                    rows["n_chunks"].append(None)
                    rows["bad_chunks"].append(None)
                    rows["message"].append(str(e)[:120])
                    continue
                bad = [t for t, _, _, ok in chunks if not ok]
                rows["verdict"].append(
                    "crc_mismatch" if bad else "ok")
                rows["n_chunks"].append(len(chunks))
                rows["bad_chunks"].append(",".join(bad) or None)
                rows["message"].append(None)
            out = pd.DataFrame(rows)
            out["n_chunks"] = out["n_chunks"].astype("Int32")
            yield out

    return src.mapInPandas(
        probe,
        schema="image_id string, verdict string, n_chunks int, "
               "bad_chunks string, message string")


def image_container_audit(df: DataFrame, *, id_col: str = "image_id",
                          bytes_col: str = "bytes") -> DataFrame:
    """Format-generic container-integrity audit
    (``sources.containeraudit``): sniff each payload and run the
    matching structural walk — PNG chunk CRCs, JPEG marker/EOI walk,
    RIFF size/chunk bounds, GIF block chain + trailer, BMP and TIFF
    bounds (including strip extents). One narrow Arrow pass, zero
    pixel decode; decoder tolerance never masks container damage
    (our JPEG decoder forgives a missing EOI — this check does not).
    Per row: (image_id, fmt, verdict ∈ ok/crc_mismatch/malformed/
    unknown_format/no_payload, detail)."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.containeraudit import (
            audit_container,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            fmts, verdicts, details = [], [], []
            for blob in pdf[bytes_col]:
                fmt, verdict, detail = audit_container(
                    None if blob is None else bytes(blob))
                fmts.append(fmt)
                verdicts.append(verdict)
                details.append(detail)
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "fmt": fmts,
                "verdict": verdicts, "detail": details})

    return src.mapInPandas(
        probe,
        schema="image_id string, fmt string, verdict string, "
               "detail string")


def image_content_drift_frame(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    metrics: tuple = ("lap_abs_sum", "luma1000_sum"),
    probs: tuple = (0.1, 0.25, 0.5, 0.75, 0.9),
    rel_tolerance: float = 0.1,
) -> DataFrame:
    """Image CONTENT drift between two corpus snapshots: decode each
    snapshot ONCE into the integer-exact quality metrics
    (``image_transform.image_quality_profile``), melt the metric
    columns, and compare EXACT per-metric quantile vectors in a
    single tagged aggregate — the image analogue of
    ``exact_quantile_drift_frame`` (the same frame, grouped by
    ``metric``), catching shifts no metadata column can see: a new
    crawl source going blurry (Laplacian energy collapses), dark
    (luma drops), or synthetic (distinct-color counts pile at the
    bottom).

    Output: (metric, prob, q_a, q_b, rel_gap, drifted). Exact
    percentiles — right for oracle checking and small/medium
    scale."""
    from .checks import _exact_drift_frame
    from .image_transform import image_quality_profile

    for m in metrics:
        if m not in ("w", "h", "luma1000_sum", "luma1000_min",
                     "luma1000_max", "lap_abs_sum", "n_distinct_rgb"):
            raise ValueError(f"unknown quality metric {m!r}")
    melt = "stack({}, {}) as (metric, v)".format(
        len(metrics),
        ", ".join(f"'{m}', cast(`{m}` as double)" for m in metrics),
    )
    a, b = (image_quality_profile(df).where("status = 'ok'")
            .select(F.expr(melt)) for df in (df_a, df_b))
    return _exact_drift_frame(a, b, ["metric"], probs, rel_tolerance)


def strip_image_metadata(df: DataFrame, *, id_col: str = "image_id",
                         bytes_col: str = "bytes",
                         keep_original: bool = False) -> DataFrame:
    """Privacy hygiene for image corpora: remove EXIF (GPS, device
    serials, timestamps), XMP, ICC, comments, and textual chunks
    from every payload WITHOUT touching the entropy-coded pixel data
    (``sources/imagemeta.strip_metadata`` — the image-side twin of
    ``text.redact_pii``). One narrow Arrow pass. Per row:

    - ``status``: 'ok' | 'unsupported' (TIFF/HEIC: metadata is
      structural, refuse rather than half-strip — original bytes
      pass through in ``stripped``) | 'malformed' | 'no_payload'
    - ``stripped``: the cleaned payload ('ok'), the ORIGINAL payload
      ('unsupported' — callers quarantine or route by status),
      NULL otherwise
    - ``removed``: comma-joined kinds removed, in sorted order
      ('' when the container was already clean)
    - ``bytes_saved``: size delta (0 when clean)

    ``keep_original=True`` additionally passes the source payload
    through as ``original`` (for fidelity pins at test scale; at
    10^12 rows keep it off — the whole point is writing the SMALLER
    frame)."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("stripped", T.BinaryType()),
        ("removed", T.StringType()),
        ("bytes_saved", T.LongType()),
    ]
    if keep_original:
        fields.append(("original", T.BinaryType()))
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagemeta import strip_metadata
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            rows = {k: [] for k, _ in fields}
            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                rows["image_id"].append(rid)
                if keep_original:
                    rows["original"].append(
                        None if blob is None else bytes(blob))
                if blob is None:
                    rows["status"].append("no_payload")
                    rows["stripped"].append(None)
                    rows["removed"].append(None)
                    rows["bytes_saved"].append(None)
                    continue
                blob = bytes(blob)
                try:
                    stripped, removed = strip_metadata(blob)
                except (IndexError, struct.error):
                    # truncation surfacing as a raw decode error: same
                    # 'malformed' routing as an explicit ValueError
                    rows["status"].append("malformed")
                    rows["stripped"].append(None)
                    rows["removed"].append(None)
                    rows["bytes_saved"].append(None)
                    continue
                except ValueError as e:
                    unsupported = "unsupported for format" in str(e)
                    rows["status"].append(
                        "unsupported" if unsupported else "malformed")
                    rows["stripped"].append(
                        blob if unsupported else None)
                    rows["removed"].append(None)
                    rows["bytes_saved"].append(None)
                    continue
                rows["status"].append("ok")
                rows["stripped"].append(stripped)
                rows["removed"].append(",".join(removed))
                rows["bytes_saved"].append(len(blob) - len(stripped))
            out = pd.DataFrame(rows)
            out["bytes_saved"] = out["bytes_saved"].astype("Int64")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def gps_pii_audit(df: DataFrame, *, id_col: str = "image_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """Location-PII audit over image payloads: does the container
    carry an EXIF GPS IFD, and exactly which coordinates — the
    image-side sibling of ``text.redact_pii``'s detection pass, and
    the check a crawled-image corpus runs BEFORE
    ``strip_image_metadata`` ships it (GPS is the highest-severity
    metadata PII class; reference analogue: the metadata
    forbidden-field rules, rules.hh `forbidden`). One narrow
    Arrow-batched pass, container walks only, never decodes pixels —
    the 10^12-row tier.

    Per row: ``status`` ('ok' | 'no_payload' | 'malformed' — a
    truncated GPS IFD is malformed, NOT a clean miss), ``has_gps``,
    ``lat_ref``/``lon_ref``, and the spec's deg/min/sec coordinate
    RATIONALs as exact ``*_num``/``*_den`` int64 pairs (CIPA DC-008
    stores rationals; converting to float here would destroy the
    exactness every oracle in this repo depends on), plus
    ``alt_num``/``alt_den``. Missing pieces are NULL."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    num_cols = [f"{ax}_{c}_{p}" for ax in ("lat", "lon")
                for c in ("d", "m", "s") for p in ("num", "den")]
    fields = (
        [("image_id", df.schema[id_col].dataType),
         ("status", T.StringType()),
         ("has_gps", T.BooleanType()),
         ("lat_ref", T.StringType()),
         ("lon_ref", T.StringType())]
        + [(c, T.LongType()) for c in num_cols]
        + [("alt_num", T.LongType()), ("alt_den", T.LongType())]
    )
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys
        import zlib

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagemeta import (
            parse_gps,
            raw_exif,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                try:
                    ex = raw_exif(bytes(blob))
                    g = parse_gps(ex) if ex else None
                except (ValueError, IndexError, struct.error,
                        zlib.error):
                    # struct/zlib: raw_exif's PNG walk inflates zTXt/
                    # iTXt chunks on the way to eXIf — a corrupt
                    # deflate stream must route to 'malformed', not
                    # kill the task (same breadth as the sibling
                    # EXIF audit's catch above).
                    emit(rid, "malformed")
                    continue
                if g is None:
                    emit(rid, "ok", has_gps=False)
                    continue
                kv = {"has_gps": True, "lat_ref": g["lat_ref"],
                      "lon_ref": g["lon_ref"]}
                for ax in ("lat", "lon"):
                    vals = g[ax] or []
                    for j, c in enumerate(("d", "m", "s")):
                        if j < len(vals):
                            kv[f"{ax}_{c}_num"] = int(vals[j][0])
                            kv[f"{ax}_{c}_den"] = int(vals[j][1])
                if g["alt"] is not None:
                    kv["alt_num"] = int(g["alt"][0])
                    kv["alt_den"] = int(g["alt"][1])
                emit(rid, "ok", **kv)
            yield pd.DataFrame(rows)

    return src.mapInPandas(work, schema=out_schema)


def pixel_fingerprints(df: DataFrame, *, id_col: str = "image_id",
                       bytes_col: str = "bytes") -> DataFrame:
    """Canonical CONTENT key per image: md5 of the decoded row-major
    RGB bytes — the key that survives container re-encodes, which
    byte-level dedup by design cannot (the same pixels shipped as
    PNG, BMP, and TIFF are three different byte streams and ONE
    image). Decode runs the in-repo codecs inside one narrow Arrow
    stage. Per row: ``status`` ('ok' | 'no_payload' |
    'decode_unsupported' — feature-gated codecs route, never kill |
    'undecodable'), ``fmt``, ``w``, ``h``, ``pixel_md5``."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("fmt", T.StringType()),
        ("w", T.IntegerType()),
        ("h", T.IntegerType()),
        ("pixel_md5", T.StringType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import decode_image
        from cerberus_cpp_spark.sources.webpcodec import (
            UnsupportedCodecError,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, fmt=None, w=None, h=None, md5=None):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                rows["fmt"].append(fmt)
                rows["w"].append(w)
                rows["h"].append(h)
                rows["pixel_md5"].append(md5)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                try:
                    fmt, px = decode_image(bytes(blob))
                except UnsupportedCodecError:
                    emit(rid, "decode_unsupported")
                    continue
                except Exception:
                    emit(rid, "undecodable")
                    continue
                h_, w_ = int(px.shape[0]), int(px.shape[1])
                emit(rid, "ok", fmt, w_, h_,
                     hashlib.md5(px.tobytes()).hexdigest())
            out = pd.DataFrame(rows)
            for c in ("w", "h"):
                out[c] = out[c].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def cross_codec_duplicates(
    df: DataFrame, *, id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Exact content dedup ACROSS containers: group decodable images
    by their pixel fingerprint and report per image the group size
    and the lowest-id survivor (the ``exact_duplicates`` survivor
    convention, promoted from byte grain to pixel grain). Undecodable
    / unsupported / payload-less rows pass through with NULL group
    columns — quarantine is a different operator's job.

    Shape: the decode stage is the cost — and it runs ONCE: the
    group stats come from a window over the fingerprint output
    (a filter/union or aggregate+join-back would reference the
    decode subtree 3×, and Spark recomputes each branch — measured
    3 full decode passes per run). Non-ok rows ride the same pass
    under per-row-unique window keys (NEVER the shared-NULL
    fingerprint — at scale the undecodable slice through one window
    partition would be a planted straggler) and report NULL group
    columns. Only the fingerprint table shuffles, never pixels."""
    fp = pixel_fingerprints(df, id_col=id_col, bytes_col=bytes_col)
    is_ok = F.col("status") == "ok"
    wkey = F.when(is_ok, F.concat(F.lit("k"), F.col("pixel_md5"))) \
        .otherwise(F.concat(F.lit("r"),
                            F.col("image_id").cast("string")))
    w = Window.partitionBy(wkey)
    return fp.select(
        "image_id", "status", "fmt", "w", "h", "pixel_md5",
        F.when(is_ok, F.count(F.lit(1)).over(w)).alias("group_size"),
        F.when(is_ok, F.min("image_id").over(w))
        .alias("survivor_id"),
        F.when(is_ok,
               F.col("image_id") == F.min("image_id").over(w))
        .alias("is_survivor"),
    )


def icc_profile_audit(df: DataFrame, *, id_col: str = "image_id",
                      bytes_col: str = "bytes") -> DataFrame:
    """Colour-management audit at the metadata tier: extract the ICC
    payload from its container (JPEG APP2 multi-segment, WebP ICCP —
    ``sources/imagemeta.py`` / ``webpx.py``) and validate its
    structure with ``sources/iccprofile.parse_icc_header`` — device
    class, colour space, PCS, version, rendering intent, tag count,
    and the declared-vs-actual size check. Header walks only, never
    pixels — the 10^12-row tier. A profile that FAILS the structural
    parse (missing 'acsp', tag payloads out of bounds) routes to
    'bad_icc' with the container intact; a lying-but-readable size
    mismatch is REPORTED in the row instead (size_match = false).

    Per row: ``status`` ('ok' | 'no_payload' | 'malformed' |
    'bad_icc'), ``has_icc``, ``declared_size``/``actual_size``,
    ``version_major``/``version_minor``, ``profile_class``,
    ``color_space``, ``pcs``, ``intent``, ``n_tags``."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("has_icc", T.BooleanType()),
        ("declared_size", T.LongType()),
        ("actual_size", T.LongType()),
        ("version_major", T.IntegerType()),
        ("version_minor", T.IntegerType()),
        ("profile_class", T.StringType()),
        ("color_space", T.StringType()),
        ("pcs", T.StringType()),
        ("intent", T.IntegerType()),
        ("n_tags", T.IntegerType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.iccprofile import (
            parse_icc_header,
        )
        from cerberus_cpp_spark.sources.imagegen import sniff_format
        from cerberus_cpp_spark.sources.imagemeta import jpeg_metadata
        from cerberus_cpp_spark.sources.webpx import extract_metadata
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                blob = bytes(blob)
                try:
                    fmt = sniff_format(blob)
                    if fmt == "jpeg":
                        icc = jpeg_metadata(blob)["icc"]
                    elif fmt == "webp":
                        icc = extract_metadata(blob)["icc"]
                    elif fmt is None:
                        raise ValueError("unrecognized stream")
                    else:
                        icc = None  # format without an ICC slot here
                except (ValueError, IndexError, KeyError):
                    emit(rid, "malformed")
                    continue
                if icc is None:
                    emit(rid, "ok", has_icc=False)
                    continue
                try:
                    h = parse_icc_header(icc)
                except (ValueError, IndexError):
                    emit(rid, "bad_icc", has_icc=True)
                    continue
                emit(rid, "ok", has_icc=True,
                     declared_size=h["declared_size"],
                     actual_size=h["actual_size"],
                     version_major=h["version_major"],
                     version_minor=h["version_minor"],
                     profile_class=h["profile_class"],
                     color_space=h["color_space"],
                     pcs=h["pcs"], intent=h["rendering_intent"],
                     n_tags=h["n_tags"])
            out = pd.DataFrame(rows)
            for c in ("declared_size", "actual_size"):
                out[c] = out[c].astype("Int64")
            for c in ("version_major", "version_minor", "intent",
                      "n_tags"):
                out[c] = out[c].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def jpeg_quality_audit(df: DataFrame, *, id_col: str = "image_id",
                       bytes_col: str = "bytes") -> DataFrame:
    """Decode-free JPEG quality census: walk each payload's DQT
    segments (``sources/jpegcodec.parse_dqt_tables`` — marker scan up
    to SOS, never entropy data) and invert the IJG quality scaling
    exactly (``estimate_ijg_quality``: all 100 (luma, chroma) pairs
    are distinct, so libjpeg-family encodes identify their quality
    setting bit-for-bit). The canonical curation gate "drop JPEGs
    below quality 60" runs at the metadata tier — the DQT sits in the
    first few hundred bytes, ~10^3-10^5x cheaper than a pixel decode
    (same argument as ``image_header_info``, BENCH §21).

    Per row: ``status`` ('ok' | 'no_payload' | 'not_jpeg' |
    'malformed'), ``n_tables`` (distinct table ids), ``n_dqt_segments``,
    ``has_16bit`` (any Pq=1 table — parsed, reported, never fatal),
    ``matched_quality`` (the exact IJG q, NULL for custom tables or
    when any table is 16-bit), ``approx_scale_pct`` (integer mean
    implied scale vs Annex K luma, ONLY when an 8-bit luma table 0
    exists and no exact match — exact matches report NULL here by
    contract so both columns stay oracle-replayable). Sniffable
    non-JPEG formats route to 'not_jpeg'; unsniffable or structurally
    broken streams to 'malformed'. One narrow Arrow stage."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("n_tables", T.IntegerType()),
        ("n_dqt_segments", T.IntegerType()),
        ("has_16bit", T.BooleanType()),
        ("matched_quality", T.IntegerType()),
        ("approx_scale_pct", T.IntegerType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import sniff_format
        from cerberus_cpp_spark.sources.jpegcodec import (
            QUANT_LUMA,
            estimate_ijg_quality,
            implied_scale_pct,
            parse_dqt_tables,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                blob = bytes(blob)
                fmt = sniff_format(blob)
                if fmt is None:
                    emit(rid, "malformed")
                    continue
                if fmt != "jpeg":
                    emit(rid, "not_jpeg")
                    continue
                try:
                    d = parse_dqt_tables(blob)
                except (ValueError, IndexError, struct.error):
                    emit(rid, "malformed")
                    continue
                tabs = d["tables"]
                has16 = any(p == 16 for p, _ in tabs.values())
                matched = None
                approx = None
                if not has16 and 0 in tabs:
                    matched = estimate_ijg_quality(
                        tabs[0][1],
                        tabs[1][1] if 1 in tabs else None)
                    if matched is None:
                        approx = implied_scale_pct(
                            tabs[0][1], QUANT_LUMA)
                emit(rid, "ok", n_tables=len(tabs),
                     n_dqt_segments=d["n_segments"],
                     has_16bit=has16, matched_quality=matched,
                     approx_scale_pct=approx)
            out = pd.DataFrame(rows)
            for c in ("n_tables", "n_dqt_segments", "matched_quality",
                      "approx_scale_pct"):
                out[c] = out[c].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def pixel_stats(df: DataFrame, *, id_col: str = "image_id",
                bytes_col: str = "bytes",
                dark_sum_lt: int = 96) -> DataFrame:
    """Pixel-tier curation census in ONE decode pass: the integer
    moments every "drop too-dark / too-flat / greyscale / letterboxed"
    gate is built from, without ever shipping pixels past the Arrow
    stage. All counters are exact int64 (order-independent sums — the
    same bit-portability argument as ``comoment_stats``): brightness
    is ``sum_r+sum_g+sum_b / (3*n_pixels)`` downstream, contrast is
    the variance from the ``sumsq_*`` columns, and the division stays
    with the CALLER so every emitted number replays exactly.

    Per row: ``status`` ('ok' | 'no_payload' | 'undecodable' |
    'decode_unsupported'), ``n_pixels``, per-channel ``sum_r/g/b``
    and ``sumsq_r/g/b``, ``n_grey`` (pixels with R==G==B — equal to
    ``n_pixels`` iff the image is greyscale-in-RGB), ``n_dark``
    (pixels with R+G+B < ``dark_sum_lt``), ``border_uniform`` (the
    1-pixel outer ring is a single colour — the letterbox /
    pillarbox / solid-padding signal), and ``border_rgb`` (that
    colour packed ``r*65536+g*256+b``, NULL when the ring varies).
    Decodes via the in-repo codecs (``decode_image``); payloads a
    codec cannot serve route to 'decode_unsupported', corrupt
    streams to 'undecodable' — one narrow Arrow stage, no shuffle."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    dark_lt = int(dark_sum_lt)
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("n_pixels", T.LongType()),
        ("sum_r", T.LongType()), ("sum_g", T.LongType()),
        ("sum_b", T.LongType()),
        ("sumsq_r", T.LongType()), ("sumsq_g", T.LongType()),
        ("sumsq_b", T.LongType()),
        ("n_grey", T.LongType()), ("n_dark", T.LongType()),
        ("border_uniform", T.BooleanType()),
        ("border_rgb", T.IntegerType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                try:
                    _, px = decode_image(bytes(blob))
                except UnsupportedCodecError:
                    emit(rid, "decode_unsupported")
                    continue
                except Exception:
                    emit(rid, "undecodable")
                    continue
                p = px.astype(np.int64)
                h, w = p.shape[0], p.shape[1]
                sums = p.sum(axis=(0, 1))
                sqs = (p * p).sum(axis=(0, 1))
                grey = int(((p[:, :, 0] == p[:, :, 1])
                            & (p[:, :, 1] == p[:, :, 2])).sum())
                dark = int((p.sum(axis=2) < dark_lt).sum())
                ring = np.concatenate([
                    p[0, :, :], p[-1, :, :], p[:, 0, :], p[:, -1, :],
                ])
                uniform = bool((ring == ring[0]).all())
                packed = (int(ring[0, 0]) * 65536
                          + int(ring[0, 1]) * 256
                          + int(ring[0, 2])) if uniform else None
                emit(rid, "ok", n_pixels=w * h,
                     sum_r=int(sums[0]), sum_g=int(sums[1]),
                     sum_b=int(sums[2]),
                     sumsq_r=int(sqs[0]), sumsq_g=int(sqs[1]),
                     sumsq_b=int(sqs[2]),
                     n_grey=grey, n_dark=dark,
                     border_uniform=uniform, border_rgb=packed)
            out = pd.DataFrame(rows)
            for c in ("n_pixels", "sum_r", "sum_g", "sum_b", "sumsq_r",
                      "sumsq_g", "sumsq_b", "n_grey", "n_dark"):
                out[c] = out[c].astype("Int64")
            out["border_rgb"] = out["border_rgb"].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def pixel_sharpness(df: DataFrame, *, id_col: str = "image_id",
                    bytes_col: str = "bytes",
                    edge_threshold: int = 128) -> DataFrame:
    """Blur/sharpness census — the integer core of the classic
    variance-of-Laplacian blur gate, in ONE decode pass: for every
    INTERIOR pixel the 4-neighbour Laplacian ``4p - left - right -
    up - down`` is computed per channel, and the row reports exact
    int64 aggregates of the per-pixel response ``lap3 = |lap_r| +
    |lap_g| + |lap_b|``. All integer (order-independent sums, the
    ``pixel_stats`` discipline) — the caller divides for the mean;
    the decision "drop blurry images below mean-response T" needs no
    float at all.

    Per row: ``status`` (same routing as ``pixel_stats``),
    ``n_interior`` (pixels with all four neighbours; 0 for
    degenerate w<3 or h<3 frames), ``lap_sum`` (sum of lap3),
    ``lap_max`` (max lap3, NULL when no interior), ``n_edges``
    (interior pixels with lap3 >= ``edge_threshold`` — the
    edge-density signal that separates sharp-but-smooth gradients
    from detailed content). One narrow Arrow stage, no shuffle."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    thr = int(edge_threshold)
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("n_interior", T.LongType()),
        ("lap_sum", T.LongType()),
        ("lap_max", T.LongType()),
        ("n_edges", T.LongType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                try:
                    _, px = decode_image(bytes(blob))
                except UnsupportedCodecError:
                    emit(rid, "decode_unsupported")
                    continue
                except Exception:
                    emit(rid, "undecodable")
                    continue
                p = px.astype(np.int64)
                h, w = p.shape[0], p.shape[1]
                if h < 3 or w < 3:
                    emit(rid, "ok", n_interior=0, lap_sum=0,
                         lap_max=None, n_edges=0)
                    continue
                c = p[1:-1, 1:-1]
                lap = (4 * c - p[1:-1, :-2] - p[1:-1, 2:]
                       - p[:-2, 1:-1] - p[2:, 1:-1])
                lap3 = np.abs(lap).sum(axis=2)
                emit(rid, "ok",
                     n_interior=(h - 2) * (w - 2),
                     lap_sum=int(lap3.sum()),
                     lap_max=int(lap3.max()),
                     n_edges=int((lap3 >= thr).sum()))
            out = pd.DataFrame(rows)
            for c2 in ("n_interior", "lap_sum", "lap_max", "n_edges"):
                out[c2] = out[c2].astype("Int64")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def jpeg_sof_census(df: DataFrame, *, id_col: str = "image_id",
                    bytes_col: str = "bytes") -> DataFrame:
    """Frame-structure census for JPEG payloads — the coding process
    (baseline / progressive / arithmetic / lossless families),
    sample precision, per-component sampling factors with the
    derived chroma-subsampling label, and the DRI restart interval —
    from ``sources/jpegcodec.parse_sof_info``: a marker walk that
    never reads entropy data (the 10^12-row tier). Curation uses
    this to quarantine exotic processes before the decode tier
    (a progressive or arithmetic scan costs multiples of a baseline
    one), to bucket by 4:2:0 vs 4:4:4 fidelity, and to pick
    restart-parallel decode paths.

    Per row: ``status`` ('ok' | 'no_payload' | 'not_jpeg' |
    'malformed' — a JPEG with no SOF before SOS IS malformed),
    ``process``, ``precision``, ``img_w``/``img_h``,
    ``n_components``, ``sampling`` ("2x2,1x1,1x1"), ``subsampling``
    ('4:4:4' | '4:2:2' | '4:2:0' | '4:4:0' | 'grayscale' | 'other'),
    ``restart_interval`` (0 when absent). One narrow Arrow stage."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("process", T.StringType()),
        ("precision", T.IntegerType()),
        ("img_w", T.IntegerType()),
        ("img_h", T.IntegerType()),
        ("n_components", T.IntegerType()),
        ("sampling", T.StringType()),
        ("subsampling", T.StringType()),
        ("restart_interval", T.IntegerType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import sniff_format
        from cerberus_cpp_spark.sources.jpegcodec import parse_sof_info
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                blob = bytes(blob)
                fmt = sniff_format(blob)
                if fmt is None:
                    emit(rid, "malformed")
                    continue
                if fmt != "jpeg":
                    emit(rid, "not_jpeg")
                    continue
                try:
                    s = parse_sof_info(blob)
                except (ValueError, IndexError, struct.error):
                    emit(rid, "malformed")
                    continue
                emit(rid, "ok", process=s["process"],
                     precision=s["precision"], img_w=s["w"],
                     img_h=s["h"], n_components=s["n_components"],
                     sampling=s["sampling"],
                     subsampling=s["subsampling"],
                     restart_interval=s["restart_interval"])
            out = pd.DataFrame(rows)
            for c in ("precision", "img_w", "img_h", "n_components",
                      "restart_interval"):
                out[c] = out[c].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def exif_thumbnail_audit(df: DataFrame, *, id_col: str = "image_id",
                         bytes_col: str = "bytes") -> DataFrame:
    """EXIF second-IFD (IFD1) embedded-thumbnail audit: extract the
    container's EXIF block (``raw_exif`` — JPEG APP1 / PNG eXIf /
    TIFF in place / WebP EXIF chunk), walk IFD0's next-IFD pointer
    (``imagemeta.parse_thumbnail``), and verify the embedded JPEG
    actually decodes with the in-repo codec. Crawled-data audits
    care twice over: a thumbnail is a SECOND image the strip/redact
    pipeline must not miss (it can leak the pre-edit picture), and a
    lying JPEGInterchangeFormat pointer is a malformed-container
    finding. Truncated structures and out-of-bounds payloads route
    to 'malformed'; a thumbnail that parses but does not decode
    reports ``thumb_decodes = false`` with the dims NULL.

    Per row: ``status`` ('ok' | 'no_payload' | 'malformed'),
    ``has_exif``, ``has_thumbnail``, ``thumb_compression`` (6 =
    JPEG per CIPA DC-008), ``thumb_len``, ``thumb_decodes``,
    ``thumb_w``/``thumb_h``. One narrow Arrow stage."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("has_exif", T.BooleanType()),
        ("has_thumbnail", T.BooleanType()),
        ("thumb_compression", T.IntegerType()),
        ("thumb_len", T.LongType()),
        ("thumb_decodes", T.BooleanType()),
        ("thumb_w", T.IntegerType()),
        ("thumb_h", T.IntegerType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys
        import zlib

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import decode_image
        from cerberus_cpp_spark.sources.imagemeta import (
            parse_thumbnail,
            raw_exif,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload")
                    continue
                try:
                    ex = raw_exif(bytes(blob))
                    t = parse_thumbnail(ex) if ex else None
                except (ValueError, IndexError, struct.error,
                        zlib.error):
                    emit(rid, "malformed")
                    continue
                if ex is None:
                    emit(rid, "ok", has_exif=False,
                         has_thumbnail=False)
                    continue
                if t is None:
                    emit(rid, "ok", has_exif=True,
                         has_thumbnail=False)
                    continue
                kv = {"has_exif": True, "has_thumbnail": True,
                      "thumb_compression": t["compression"],
                      "thumb_len": t["length"]}
                try:
                    _, px = decode_image(t["bytes"])
                    kv.update(thumb_decodes=True,
                              thumb_w=int(px.shape[1]),
                              thumb_h=int(px.shape[0]))
                except Exception:
                    kv["thumb_decodes"] = False
                emit(rid, "ok", **kv)
            out = pd.DataFrame(rows)
            out["thumb_len"] = out["thumb_len"].astype("Int64")
            for c in ("thumb_compression", "thumb_w", "thumb_h"):
                out[c] = out[c].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)


def image_curation_verdict(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    min_pixels: int = 70,
    min_quality: int = 60,
    min_lap_mean: int = 3,
    dark_sum_lt: int = 96,
    max_dark_half: bool = True,
    drop_greyscale: bool = True,
) -> DataFrame:
    """ONE-pass image curation verdict — the image-axis twin of
    ``text.curate_documents`` / ``c4_clean``: every gate this module
    provides, folded into a keep/drop decision with a FIRST-FAIL
    reason, in a single decode pass. Rule order (fixed, documented —
    downstream quota accounting depends on it):

    1. ``no_payload`` / ``undecodable`` / ``decode_unsupported``
    2. ``too_small`` — ``w*h < min_pixels``
    3. ``low_quality`` — JPEG whose EXACT IJG inversion
       (``estimate_ijg_quality``) reads below ``min_quality``
       (custom/16-bit tables skip the rule: unknown is not low)
    4. ``too_flat`` — mean 3-channel Laplacian response below
       ``min_lap_mean`` (integer cross-compare
       ``lap_sum < min_lap_mean * n_interior``; no-interior frames
       count as flat)
    5. ``too_dark`` — more than half the pixels have
       ``R+G+B < dark_sum_lt`` (``2*n_dark > n_pixels``)
    6. ``greyscale`` — every pixel R==G==B (when ``drop_greyscale``)

    All comparisons are integer, so the verdict is bit-portable and
    the contract oracle replays the full rule fold. Emits
    ``(image_id, status, w, h, verdict, reason)`` — reason NULL on
    'keep'. One narrow Arrow stage, no shuffle."""
    src = df.select(F.col(id_col).alias("image_id"), bytes_col)
    pkg_parent = PKG_PARENT
    mp, mq, mlm = int(min_pixels), int(min_quality), int(min_lap_mean)
    dlt, dg = int(dark_sum_lt), bool(drop_greyscale)
    fields = [
        ("image_id", df.schema[id_col].dataType),
        ("status", T.StringType()),
        ("w", T.IntegerType()),
        ("h", T.IntegerType()),
        ("verdict", T.StringType()),
        ("reason", T.StringType()),
    ]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in fields])

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            UnsupportedCodecError,
            decode_image,
            sniff_format,
        )
        from cerberus_cpp_spark.sources.jpegcodec import (
            estimate_ijg_quality,
            parse_dqt_tables,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        blank = {k: None for k, _ in fields[2:]}
        for pdf in batches:
            rows = {k: [] for k, _ in fields}

            def emit(rid, status, **kv):
                rows["image_id"].append(rid)
                rows["status"].append(status)
                for k, v in {**blank, **kv}.items():
                    rows[k].append(v)

            for rid, blob in zip(pdf["image_id"], pdf[bytes_col]):
                if blob is None:
                    emit(rid, "no_payload", verdict="drop",
                         reason="no_payload")
                    continue
                blob = bytes(blob)
                try:
                    fmt, px = decode_image(blob)
                except UnsupportedCodecError:
                    emit(rid, "decode_unsupported", verdict="drop",
                         reason="decode_unsupported")
                    continue
                except Exception:
                    emit(rid, "undecodable", verdict="drop",
                         reason="undecodable")
                    continue
                p = px.astype(np.int64)
                h, w = p.shape[0], p.shape[1]
                reason = None
                if w * h < mp:
                    reason = "too_small"
                if reason is None and fmt == "jpeg":
                    try:
                        tabs = parse_dqt_tables(blob)["tables"]
                        if 0 in tabs and all(
                                pr == 8 for pr, _ in tabs.values()):
                            q = estimate_ijg_quality(
                                tabs[0][1],
                                tabs[1][1] if 1 in tabs else None)
                            if q is not None and q < mq:
                                reason = "low_quality"
                    except (ValueError, IndexError, struct.error):
                        pass  # decodable but odd headers: skip rule
                if reason is None:
                    if h >= 3 and w >= 3:
                        c = p[1:-1, 1:-1]
                        lap3 = np.abs(
                            4 * c - p[1:-1, :-2] - p[1:-1, 2:]
                            - p[:-2, 1:-1] - p[2:, 1:-1]).sum(axis=2)
                        flat = int(lap3.sum()) < mlm * (h - 2) * (w - 2)
                    else:
                        flat = True
                    if flat:
                        reason = "too_flat"
                if reason is None and max_dark_half:
                    if 2 * int((p.sum(axis=2) < dlt).sum()) > w * h:
                        reason = "too_dark"
                if reason is None and dg:
                    if int(((p[:, :, 0] == p[:, :, 1])
                            & (p[:, :, 1] == p[:, :, 2])).sum()) \
                            == w * h:
                        reason = "greyscale"
                emit(rid, "ok", w=w, h=h,
                     verdict="drop" if reason else "keep",
                     reason=reason)
            out = pd.DataFrame(rows)
            for c2 in ("w", "h"):
                out[c2] = out[c2].astype("Int32")
            yield out

    return src.mapInPandas(work, schema=out_schema)
