"""Binary-column (image) checks: metadata consistency,
PSNR fidelity vs the deterministic reference pixels (input_hint)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.image_checks import (
    fidelity_check,
    metadata_consistency_violations,
)
from cerberus_cpp_spark.sources.distgen import image_caption_frame


@pytest.fixture(scope="module")
def with_bytes(spark):
    # n=600 covers all 6 seeded violation kinds (every 100th row)
    return image_caption_frame(
        spark, 600, partitions=4, with_bytes=True
    ).cache()


def test_fidelity(spark, with_bytes) -> None:
    res = fidelity_check(with_bytes).collect()
    by_ok = [r for r in res if not r["pixels_ok"]]
    # i=200 (no payload) and i=500 (NULL image_id → no reference)
    assert len(by_ok) == 2
    bad_caption = [r for r in res if not r["caption_ok"]]
    # i=300 (null caption), i=400 (control chars), i=500 (no id)
    assert len(bad_caption) == 3
    lossy_psnr = [r["psnr_db"] for r in res
                  if r["pixels_ok"] and r["psnr_db"] is not None]
    assert lossy_psnr and all(p >= 40.0 for p in lossy_psnr)
    # lossless rows round-trip exactly → psnr NULL + ok: 200 png
    # (i%3==1) + 200 webp VP8L (i%3==2) minus the two seeded webp-slot
    # violations (i=200 bmp/no payload, i=500 null id)
    exact = [r for r in res if r["pixels_ok"] and r["psnr_db"] is None]
    assert len(exact) == 398


def test_metadata_consistency(spark, with_bytes) -> None:
    # align metadata dims with the thumbnail payloads, then corrupt:
    # one wrong fmt, one truncated payload
    df = (
        with_bytes.withColumn("i", F.expr("cast(substring(image_id, 5) as long)"))
        .withColumn("w", F.expr("cast(8 + i % 9 as int)"))
        .withColumn("h", F.expr("cast(8 + i % 7 as int)"))
        .withColumn("fmt", F.expr("IF(i = 7, 'webp', fmt)"))
        .withColumn("bytes", F.expr(
            "IF(i = 11, substring(bytes, 1, 10), bytes)"))
    )
    v = metadata_consistency_violations(df).collect()
    got = {(r["image_id"], r["path"]) for r in v}
    assert ("img-000000000007", "^.fmt") in got
    assert ("img-000000000011", "^.bytes") in got
    # the seeded bmp row has NULL bytes → undecodable
    assert ("img-000000000200", "^.bytes") in got
    # the NULL-image_id row (i=500) has a payload and consistent
    # metadata → no violation; nothing else fires
    assert len(got) == 3


def test_header_info_matches_decode() -> None:
    """image_header_info agrees with the full decode on (fmt, w, h)
    for every in-repo format and rejects garbage."""
    import pytest as _pytest

    from cerberus_cpp_spark.sources.imagegen import (
        decode_image,
        encode_image,
        image_header_info,
        pixel_seed,
    )

    for i in range(9):
        for fmt in ("png", "jpeg", "webp", "gif", "bmp", "tiff"):
            blob = encode_image(pixel_seed(i, 42), 8 + i % 9,
                                8 + i % 7, fmt)
            hf, hw, hh = image_header_info(blob)
            df_, px = decode_image(blob)
            assert (hf, hw, hh) == (df_, px.shape[1], px.shape[0])
    with _pytest.raises(ValueError):
        image_header_info(b"not an image at all")


def test_hypothesis_header_info_sweep() -> None:
    """Property: for every in-repo encoder output, the header parse
    (fmt, w, h) equals the full decode's — across random dims,
    formats, and pixel content (noise exercises JPEG marker bytes
    appearing inside entropy-coded data)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cerberus_cpp_spark.sources.imagegen import (
        decode_image,
        encode_image,
        image_header_info,
        synth_noise_pixels,
        synth_pixels,
    )

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 40), h=st.integers(1, 40),
           seed=st.integers(0, 2 ** 16),
           fmt=st.sampled_from(["png", "jpeg", "webp", "gif", "bmp",
                                "tiff"]),
           noisy=st.booleans())
    def case(w, h, seed, fmt, noisy):
        if noisy:
            px = synth_noise_pixels(seed, w, h)
        else:
            px = synth_pixels(seed, w, h)
        if fmt == "gif":  # palette-based encoder: cap distinct colors
            px = (px & 0xC0).astype(px.dtype)
        from cerberus_cpp_spark.sources.imagegen import encode_pixels

        blob = encode_pixels(px, fmt)
        hf, hw, hh = image_header_info(blob)
        df_, dec = decode_image(blob)
        assert (hf, hw, hh) == (df_, dec.shape[1], dec.shape[0])

    case()


def test_header_only_consistency(spark, with_bytes) -> None:
    """header_only mode: same mismatch verdicts as the decode path,
    PLUS dims verified on a lossy payload the decoder can't open."""
    from cerberus_cpp_spark.sources.webpcodec import lossy_vp8_stub

    wrong_dims_stub = lossy_vp8_stub(30, 31)

    @F.udf("binary")
    def plant(i, b):
        return bytes(wrong_dims_stub) if i == 13 else             (bytes(b) if b is not None else None)

    df = (
        with_bytes.withColumn(
            "i", F.expr("cast(substring(image_id, 5) as long)"))
        .withColumn("w", F.expr("cast(8 + i % 9 as int)"))
        .withColumn("h", F.expr("cast(8 + i % 7 as int)"))
        .withColumn("fmt", F.expr("IF(i = 7, 'webp', fmt)"))
        .withColumn("bytes", F.expr(
            "IF(i = 11, substring(bytes, 1, 10), bytes)"))
        .withColumn("bytes", plant(F.col("i"), F.col("bytes")))
    )
    v = metadata_consistency_violations(df, header_only=True).collect()
    got = {(r["image_id"], r["path"]) for r in v}
    assert ("img-000000000007", "^.fmt") in got
    assert ("img-000000000011", "^.bytes") in got  # unreadable header
    assert ("img-000000000200", "^.bytes") in got  # no payload
    # the planted lossy VP8 stub at i=13 claims 30x31 in its header
    # but metadata says 12x8 — the decode path would only emit
    # decode_unsupported; header mode VERIFIES the dims
    assert ("img-000000000013", "^.w") in got
    assert ("img-000000000013", "^.h") in got
    # ...and its fmt too (metadata says png at i%3==1, payload webp)
    assert ("img-000000000013", "^.fmt") in got
    assert len(got) == 6
    msgs = {r["image_id"]: r["message"] for r in v
            if r["path"] == "^.bytes" and r["image_id"].endswith("11")}
    assert msgs["img-000000000011"].startswith("unreadable header")


def test_tiered_check_phases(spark, with_bytes) -> None:
    """Phase 1 flags header-visible mismatches on ALL rows; phase 2
    flags body corruption ONLY inside the sample; unsupported codecs
    in the sample are never flagged as corruption."""
    from cerberus_cpp_spark.operators.image_checks import (
        tiered_image_check,
    )
    from cerberus_cpp_spark.sources.webpcodec import lossy_vp8_stub

    stub = lossy_vp8_stub(12, 8)  # dims match metadata at i=13

    @F.udf("binary")
    def plant(i, b):
        if i is None:     # the NULL-image_id fixture row
            return bytes(b) if b is not None else None
        i = int(i)
        if i == 13:       # in-sample (13 % 13 == 0), unsupported codec
            return bytes(stub)
        if b is None:
            return None
        # corruption targets must be PNG rows (i % 3 == 1): a valid
        # signature+IHDR survives the header pass, only a full decode
        # sees the destroyed body (jpeg corruption would break the
        # marker walk and be header-visible)
        if i == 52:       # in-sample (52 % 13 == 0), corrupt body
            return bytes(b)[:33] + b" " * (len(bytes(b)) - 33)
        if i == 28:       # OUT of sample, same corruption → invisible
            return bytes(b)[:33] + b" " * (len(bytes(b)) - 33)
        return bytes(b)

    df = (
        with_bytes.withColumn(
            "i", F.expr("cast(substring(image_id, 5) as long)"))
        .withColumn("w", F.expr("cast(8 + i % 9 as int)"))
        .withColumn("h", F.expr("cast(8 + i % 7 as int)"))
        .withColumn("fmt", F.expr(
            "IF(i IN (13, 52, 28), 'png', IF(i = 7, 'webp', fmt))"))
        .withColumn("bytes", plant(F.col("i"), F.col("bytes")))
    )
    v = tiered_image_check(df, sample_pred=F.expr("i % 13 = 0"))
    got = {(r["image_id"], r["path"], r["message"]) for r in v.collect()}
    # phase 1 (header) families still fire everywhere
    assert ("img-000000000007", "^.fmt",
            "payload is png, metadata says webp") in got
    # i=13: unsupported codec in sample → fmt mismatch from the
    # header (webp stub vs png metadata) but NO corruption verdict
    assert ("img-000000000013", "^.fmt",
            "payload is webp, metadata says png") in got
    assert ("img-000000000013", "^.bytes",
            "sampled deep-decode failed") not in got
    # i=52 (sampled): body corruption caught by phase 2
    assert ("img-000000000052", "^.bytes",
            "sampled deep-decode failed") in got
    # i=28 (not sampled): identical corruption invisible — the
    # documented tradeoff of the tiered design
    assert not any(r[0] == "img-000000000028" for r in got)
    # phase 2 never double-reports rows phase 1 already flagged:
    # every deep-decode verdict must belong to a clean-header row
    deep = {r[0] for r in got if r[2] == "sampled deep-decode failed"}
    header_bytes = {r[0] for r in got
                    if r[1] == "^.bytes"
                    and r[2] != "sampled deep-decode failed"}
    assert deep.isdisjoint(header_bytes)


def test_tiered_check_plan(spark, with_bytes) -> None:
    """Both phases stay narrow and the sample predicate is a plain
    pushable filter — no Exchange anywhere."""
    from cerberus_cpp_spark.operators.image_checks import (
        tiered_image_check,
    )

    df = with_bytes.withColumn(
        "i", F.expr("cast(substring(image_id, 5) as long)"))
    plan = (
        tiered_image_check(df, sample_pred=F.expr("i % 13 = 0"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pixel_phash_groups_and_distinctness(spark):
    """Pixel-derived pHash (imagegen.phash64 over decoded payloads):
    identical bytes hash identically; the 250 noise seeds used by
    the phash_pixel_dups contract are pairwise-distinct (min hamming
    16 measured — pinned >= 4 here so codec/DCT drift surfaces in
    pytest before it breaks the oracle)."""
    import numpy as np

    from cerberus_cpp_spark.operators.image_checks import pixel_phash
    from cerberus_cpp_spark.sources.imagegen import (
        encode_png,
        phash64,
        synth_noise_pixels,
    )

    hs = [phash64(synth_noise_pixels(g, 16, 16)) for g in range(250)]
    assert len(set(hs)) == 250
    sample = hs[:60]
    mn = 64
    for i in range(len(sample)):
        for j in range(i + 1, len(sample)):
            mn = min(mn, bin((sample[i] ^ sample[j])
                             & 0xFFFFFFFFFFFFFFFF).count("1"))
    assert mn >= 4, mn

    rows = [("a", bytearray(encode_png(synth_noise_pixels(7, 16, 16)))),
            ("b", bytearray(encode_png(synth_noise_pixels(7, 16, 16)))),
            ("c", bytearray(encode_png(synth_noise_pixels(8, 16, 16)))),
            ("d", None),
            ("e", bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r["phash"] for r in pixel_phash(df).collect()}
    assert got["a"] == got["b"] == hs[7]
    assert got["c"] == hs[8] != got["a"]
    assert got["d"] is None and got["e"] is None


def test_lossy_vp8_routes_to_decode_unsupported(spark) -> None:
    """r3 verdict #6: a well-formed lossy-VP8 container must surface
    as a distinct decode_unsupported verdict — never a job-killing
    error, never conflated with corruption. Planted via the same
    id%30==8 rule the img_fidelity contract query uses."""
    from cerberus_cpp_spark.sources.imagegen import (
        UnsupportedCodecError,
        decode_image,
        lossy_vp8_stub,
        sniff_format,
    )

    stub = lossy_vp8_stub(10, 9)
    assert sniff_format(stub) == "webp"
    with pytest.raises(UnsupportedCodecError):
        decode_image(stub)
    # the uniform ValueError contract still holds (subclass)
    with pytest.raises(ValueError):
        decode_image(stub)

    df = image_caption_frame(spark, 120, partitions=2,
                             with_bytes=True, plant_lossy=True)
    planted = {f"img-{i:012d}" for i in range(120) if i % 30 == 8}
    assert planted  # 8, 38, 68, 98

    fid = {r["image_id"]: r for r in fidelity_check(df).collect()}
    for img_id, r in fid.items():
        if img_id in planted:
            assert r["verdict"] == "decode_unsupported", img_id
            assert r["pixels_ok"] is False and r["psnr_db"] is None
            assert r["caption_ok"] is True  # caption is untouched
        else:
            assert r["verdict"] != "decode_unsupported", img_id

    # metadata family: distinct message prefix (not "undecodable")
    meta = metadata_consistency_violations(
        df.withColumn("i", F.expr("cast(substring(image_id, 5) as long)"))
        .withColumn("w", F.expr("cast(8 + i % 9 as int)"))
        .withColumn("h", F.expr("cast(8 + i % 7 as int)"))
        .drop("i")
    ).collect()
    lossy_msgs = [r for r in meta if r["image_id"] in planted]
    assert len(lossy_msgs) == len(planted)
    assert all(r["message"].startswith("decode_unsupported:")
               for r in lossy_msgs)


def test_fidelity_verdicts_partition_the_corpus(spark, with_bytes) -> None:
    """Verdict taxonomy over the standard seeded corpus (no lossy
    plants): bmp row → undecodable, NULL-id row → no_reference,
    everything else ok; verdict ok ⟺ pixels_ok."""
    res = fidelity_check(with_bytes).collect()
    by_id = {r["image_id"]: r for r in res}
    assert by_id["img-000000000200"]["verdict"] == "undecodable"
    none_row = [r for r in res if r["image_id"] is None]
    assert len(none_row) == 1 and none_row[0]["verdict"] == "no_reference"
    for r in res:
        assert (r["verdict"] == "ok") == bool(r["pixels_ok"])


def test_png_chunk_audit_operator(spark) -> None:
    """Spark-side audit: ok / crc_mismatch (mid-stream, walk
    continues) / malformed (foreign bytes + truncation) /
    no_payload routing — all verdicts, never a job kill."""
    import numpy as np

    from cerberus_cpp_spark.operators.image_checks import png_chunk_audit
    from cerberus_cpp_spark.sources.imagegen import encode_png

    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    good = encode_png(px)
    mid = bytearray(good)
    mid[16] ^= 0xFF  # IHDR payload byte → IHDR CRC fails, walk goes on
    rows = [
        ("ok", bytes(good)),
        ("midcrc", bytes(mid)),
        ("trunc", bytes(good[:-14])),
        ("foreign", b"GIF89a not a png"),
        ("nopay", None),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in png_chunk_audit(df).collect()}
    assert got["ok"]["verdict"] == "ok" and got["ok"]["n_chunks"] == 3
    assert got["midcrc"]["verdict"] == "crc_mismatch"
    assert got["midcrc"]["bad_chunks"] == "IHDR"
    assert got["midcrc"]["n_chunks"] == 3  # kept walking past the bad CRC
    assert got["trunc"]["verdict"] == "malformed"
    assert "truncated" in got["trunc"]["message"]
    assert got["foreign"]["verdict"] == "malformed"
    assert got["nopay"]["verdict"] == "no_payload"


def test_image_content_drift(spark) -> None:
    """Decode-once tagged aggregate: identical snapshots show zero
    gap; a planted blur/brightness shift (constant bright images
    replacing half of snapshot B) drifts lap/luma quantiles."""
    import numpy as np

    from cerberus_cpp_spark.operators.image_checks import (
        image_content_drift_frame,
    )
    from cerberus_cpp_spark.sources.imagegen import (
        encode_image,
        encode_pixels,
        pixel_seed,
    )

    rows_a = [
        (f"a-{i}", encode_image(pixel_seed(i), 9 + i % 5, 8 + i % 4,
                                "png"))
        for i in range(40)
    ]
    blank = encode_pixels(
        np.full((8, 9, 3), 250, dtype=np.uint8), "png")
    rows_b = [
        (f"b-{i}", blank if i % 2 == 0 else rows_a[i][1])
        for i in range(40)
    ]
    a = spark.createDataFrame(rows_a, "image_id string, bytes binary")
    b = spark.createDataFrame(rows_b, "image_id string, bytes binary")

    # identical snapshots: every gap exactly zero
    same = image_content_drift_frame(a, a).collect()
    assert same and all(
        r["rel_gap"] == 0.0 and not r["drifted"] for r in same)

    shifted = image_content_drift_frame(a, b).collect()
    by = {}
    for r in shifted:
        by.setdefault(r["metric"], []).append(r)
    # half of B is flat: lap median collapses to 0 → gap 1.0
    lap_med = [r for r in by["lap_abs_sum"] if r["prob"] == 0.5][0]
    assert lap_med["q_b"] == 0.0 and lap_med["drifted"]
    # brightness: low luma quantiles jump up
    luma_lo = [r for r in by["luma1000_sum"] if r["prob"] == 0.1][0]
    assert luma_lo["q_b"] > luma_lo["q_a"]

    import pytest

    with pytest.raises(ValueError):
        image_content_drift_frame(a, b, metrics=("nope",))
