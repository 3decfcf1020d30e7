"""Structured Streaming validation: file source → memory sink with
availableNow; results must equal the batch pass bit-for-bit."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.distgen import image_caption_frame
from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

N = 2000


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src"))
    image_caption_frame(spark, N, partitions=4).drop("id") \
        .write.mode("overwrite").parquet(path)
    return path


def test_stream_equals_batch(spark, stream_dir) -> None:
    batch = spark.read.parquet(stream_dir)
    tv = TableValidator(IMAGE_TABLE_RULES)
    expected = tv.validate(batch).counts()

    stream = spark.readStream.schema(batch.schema).parquet(stream_dir)
    q = (tv.validate(stream).annotated.writeStream.format("memory")
         .queryName("val_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS rows, sum(n_violations) AS violations,"
        " sum(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS invalid_rows"
        " FROM val_stream"
    ).collect()[0]
    assert got["rows"] == expected["rows"] == N
    assert got["violations"] == expected["violations"]
    assert got["invalid_rows"] == expected["invalid_rows"]


def test_stream_media_decode_equals_batch(spark, tmp_path_factory) -> None:
    """The Arrow-batched payload-decode stage (fidelity_check) is a
    stateless narrow transform, so it applies to a streaming frame
    unchanged — binary columns included. Stream output must equal
    the batch pass row-for-row."""
    from cerberus_cpp_spark.operators.image_checks import fidelity_check

    src = str(tmp_path_factory.mktemp("stream_media"))
    image_caption_frame(spark, 600, partitions=4, with_bytes=True) \
        .drop("id").write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    def key(rows):
        return sorted(
            (r["image_id"] or "", r["pixels_ok"], r["caption_ok"],
             -1.0 if r["psnr_db"] is None else round(r["psnr_db"], 6))
            for r in rows
        )

    expected = key(fidelity_check(batch).collect())
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (fidelity_check(stream).writeStream.format("memory")
         .queryName("media_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = key(spark.sql("SELECT * FROM media_stream").collect())
    assert got == expected and len(got) == 600


def test_stream_header_check_equals_batch(spark, tmp_path_factory) -> None:
    """The header-only consistency pass (round 4) is likewise a
    stateless narrow Arrow stage — it must run unchanged over a
    streaming frame and match the batch violations row-for-row (the
    cheap first-pass filter applies to live ingest too)."""
    from cerberus_cpp_spark.operators.image_checks import (
        metadata_consistency_violations,
    )

    src = str(tmp_path_factory.mktemp("stream_hdr"))
    (image_caption_frame(spark, 600, partitions=4, with_bytes=True)
     .withColumn("w", F.expr("cast(IF(id % 40 = 21, 9 + id % 9, "
                             "8 + id % 9) as int)"))
     .withColumn("h", F.expr("cast(8 + id % 7 as int)"))
     .drop("id").write.mode("overwrite").parquet(src))
    batch = spark.read.parquet(src)

    def key(rows):
        return sorted((r["image_id"] or "", r["path"], r["message"])
                      for r in rows)

    expected = key(
        metadata_consistency_violations(batch, header_only=True)
        .collect())
    assert expected  # the planted families actually fire
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (metadata_consistency_violations(stream, header_only=True)
         .writeStream.format("memory").queryName("hdr_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = key(spark.sql("SELECT * FROM hdr_stream").collect())
    assert got == expected


def test_quarantine_stream_matches_batch(spark, tmp_path):
    """Streaming quarantine split == batch quarantine split on the
    same data (clean side normalized, quarantined side original +
    metrics)."""
    rows = [(1, 5, "a"), (2, -2, "b"), (3, 60, None), (4, 9, "d")]
    df = spark.createDataFrame(rows, "id long, v long, s string")
    src = str(tmp_path / "qsrc")
    df.repartition(2).write.mode("overwrite").parquet(src)
    rules = {"v": {"type": "integer", "min": 0, "max": 50,
                   "default": 0},
             "id": {"type": "integer", "required": True}}
    tv = TableValidator(rules, allow_unknown=True)

    stream = spark.readStream.schema(df.schema).parquet(src)
    clean_s, quar_s = tv.validate(stream).quarantine()
    q1 = (clean_s.writeStream.format("memory").queryName("q_clean")
          .outputMode("append").trigger(availableNow=True).start())
    q2 = (quar_s.writeStream.format("memory").queryName("q_quar")
          .outputMode("append").trigger(availableNow=True).start())
    q1.awaitTermination(60)
    q2.awaitTermination(60)

    batch_clean, batch_quar = tv.validate(
        spark.read.parquet(src)).quarantine()
    sc = sorted(tuple(r) for r in spark.sql(
        "select * from q_clean").collect())
    bc = sorted(tuple(r) for r in batch_clean.collect())
    assert sc == bc
    squar = {r["id"]: r["n_violations"] for r in spark.sql(
        "select id, n_violations from q_quar").collect()}
    bquar = {r["id"]: r["n_violations"]
             for r in batch_quar.collect()}
    assert squar == bquar
    # v=-2 fails exclusive min; v=60 fails exclusive max (60 >= 50)
    assert squar == {2: 1, 3: 1}
    assert len(sc) == 2  # ids 1 and 4 pass, normalized projection


def test_stream_exif_consistency_equals_batch(spark,
                                              tmp_path_factory) -> None:
    """The EXIF-vs-header consistency pass (round 4) is a stateless
    narrow Arrow stage — it must run unchanged over a streaming frame
    and match the batch violations row-for-row."""
    from cerberus_cpp_spark.functions.shipping import PKG_PARENT
    from cerberus_cpp_spark.operators.image_checks import (
        exif_consistency_violations,
    )

    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
        )

        def payload(i):
            w, h = 8 + i % 9, 8 + i % 7
            px = synth_pixels(pixel_seed(i, 42), w, h)
            ex = build_exif(
                orientation=1,
                pixel_x=w + (1 if i % 10 == 3 else 0), pixel_y=h)
            return jpeg_insert_metadata(
                encode_pixels(px, "jpeg"), exif=ex)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):04d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    src = str(tmp_path_factory.mktemp("stream_exif"))
    (spark.range(0, 200, 1, 4)
     .mapInPandas(gen, schema="image_id string, bytes binary")
     .write.mode("overwrite").parquet(src))
    batch = spark.read.parquet(src)

    def key(rows):
        return sorted((r["image_id"], r["path"], r["message"])
                      for r in rows)

    expected = key(exif_consistency_violations(batch).collect())
    assert len(expected) == 20  # the i%10==3 plants fire
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (exif_consistency_violations(stream)
         .writeStream.format("memory").queryName("exif_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = key(spark.sql("SELECT * FROM exif_stream").collect())
    assert got == expected


def test_stream_png_chunk_audit_equals_batch(spark,
                                             tmp_path_factory) -> None:
    """The PNG container forensic audit (round 4) is a stateless
    narrow Arrow stage — live-ingest payload screening must emit the
    same verdicts as the batch pass, including planted corruption."""
    from cerberus_cpp_spark.operators.image_checks import png_chunk_audit

    src = str(tmp_path_factory.mktemp("stream_audit"))
    (image_caption_frame(spark, 600, partitions=4, with_bytes=True,
                         violation_every=None)
     .where("fmt = 'png'")
     .withColumn("bytes", F.expr(
         "CASE WHEN id % 17 = 9"
         "  THEN substring(bytes, 1, length(bytes) - 20) "
         "WHEN id % 11 = 5"
         "  THEN concat(substring(bytes, 1, length(bytes) - 4),"
         "              X'00000000') "
         "ELSE bytes END"))
     .drop("id").write.mode("overwrite").parquet(src))
    batch = spark.read.parquet(src)

    def key(rows):
        return sorted(
            (r["image_id"], r["verdict"], r["n_chunks"],
             r["bad_chunks"], r["message"]) for r in rows)

    expected = key(png_chunk_audit(batch).collect())
    assert {v for _, v, *_ in expected} == {
        "ok", "crc_mismatch", "malformed"}
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (png_chunk_audit(stream).writeStream.format("memory")
         .queryName("audit_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = key(spark.sql("SELECT * FROM audit_stream").collect())
    assert got == expected


def test_stream_resize_and_quality_equal_batch(spark,
                                               tmp_path_factory) -> None:
    """resize_images and image_quality_profile (round 4) are stateless
    narrow Arrow stages — both must run unchanged over a streaming
    frame and match the batch pass row-for-row (thumbnailing and
    quality filtering apply to live ingest too)."""
    from cerberus_cpp_spark.operators.image_transform import (
        image_quality_profile,
        resize_images,
    )

    src = str(tmp_path_factory.mktemp("stream_resize"))
    image_caption_frame(spark, 400, partitions=4, with_bytes=True) \
        .drop("id").write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    def rkey(rows):
        return sorted(
            (r["image_id"] or "", r["status"], r["out_w"], r["out_h"],
             r["out_fmt"], r["px_sum"],
             None if r["out_bytes"] is None else bytes(r["out_bytes"]))
            for r in rows
        )

    def qkey(rows):
        return sorted(
            (r["image_id"] or "", r["status"], r["lap_abs_sum"],
             r["luma1000_sum"], r["n_distinct_rgb"])
            for r in rows
        )

    want_r = rkey(resize_images(batch, box=(12, 10),
                                method="nearest").collect())
    want_q = qkey(image_quality_profile(batch).collect())
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q1 = (resize_images(stream, box=(12, 10), method="nearest")
          .writeStream.format("memory").queryName("resize_stream")
          .trigger(availableNow=True).start())
    q2 = (image_quality_profile(stream)
          .writeStream.format("memory").queryName("quality_stream")
          .trigger(availableNow=True).start())
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    assert rkey(spark.sql("SELECT * FROM resize_stream").collect()) \
        == want_r
    assert qkey(spark.sql("SELECT * FROM quality_stream").collect()) \
        == want_q
    assert len(want_r) == 400 and len(want_q) == 400


def test_stream_av_header_info_equals_batch(spark,
                                            tmp_path_factory) -> None:
    """audio_header_info / video_header_info (round 4) are stateless
    narrow Arrow stages — both run unchanged over streaming frames
    (structural validation applies to live ingest too)."""
    from cerberus_cpp_spark.operators.multimodal import (
        audio_header_info,
        video_header_info,
    )
    from cerberus_cpp_spark.sources import h264
    from cerberus_cpp_spark.sources.avicodec import synth_clip
    from cerberus_cpp_spark.sources.mpegaudio import build_frame
    from cerberus_cpp_spark.sources.wavcodec import encode_wav, synth_pcm

    rows = []
    for i in range(60):
        if i % 3 == 0:
            blob = encode_wav(synth_pcm(i, 800), sample_rate=16000)
        elif i % 3 == 1:
            blob = b"".join(
                build_frame(bitrate_kbps=128, sample_rate=44100)
                for _ in range(2 + i % 3))
        else:
            blob = (synth_clip(i, 2) if i % 2 == 0 else
                    h264.build_stream(mb_w=2 + i % 4, mb_h=2,
                                      n_slices=1 + i % 3))
        rows.append((f"c-{i}", blob))
    src = str(tmp_path_factory.mktemp("stream_av"))
    spark.createDataFrame(rows, "clip_id string, bytes binary") \
        .repartition(4).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    def key(rs):
        return sorted(tuple(r) for r in rs)

    want_a = key(audio_header_info(batch).collect())
    want_v = key(video_header_info(batch).collect())
    stream = spark.readStream.schema(batch.schema).parquet(src)
    qa = (audio_header_info(stream).writeStream.format("memory")
          .queryName("a_hdr").trigger(availableNow=True).start())
    qv = (video_header_info(stream).writeStream.format("memory")
          .queryName("v_hdr").trigger(availableNow=True).start())
    qa.awaitTermination(120)
    qv.awaitTermination(120)
    assert key(spark.sql("SELECT * FROM a_hdr").collect()) == want_a
    assert key(spark.sql("SELECT * FROM v_hdr").collect()) == want_v
    assert len(want_a) == len(want_v) == 60


def test_stream_pq_encode_equals_batch(spark, tmp_path_factory) -> None:
    """pq_encode is a stateless narrow Arrow stage — PQ compression
    runs unchanged over a streaming frame (encode embeddings to codes
    on live ingest, append to the code table) and matches the batch
    pass byte-for-byte."""
    from cerberus_cpp_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    src = str(tmp_path_factory.mktemp("stream_pq"))
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    books = pq_train(batch, m=8, n_codes=32, seed=11)
    want = sorted((r["vec_id"], bytes(r["code"]))
                  for r in pq_encode(batch, books).collect())
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (pq_encode(stream, books)
         .writeStream.format("memory").queryName("pq_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["vec_id"], bytes(r["code"]))
                 for r in spark.sql("SELECT * FROM pq_stream").collect())
    assert got == want and len(got) == batch.count()


def test_stream_privacy_ops_equal_batch(spark, tmp_path_factory) -> None:
    """redact_pii and strip_image_metadata are stateless narrow
    stages — privacy hygiene runs unchanged over live ingest."""
    from cerberus_cpp_spark.operators.image_checks import (
        strip_image_metadata,
    )
    from cerberus_cpp_spark.operators.text import redact_pii
    from cerberus_cpp_spark.sources.imagegen import (
        encode_pixels,
        pixel_seed,
        synth_pixels,
    )
    from cerberus_cpp_spark.sources.imagemeta import (
        build_exif,
        jpeg_insert_metadata,
    )

    src = str(tmp_path_factory.mktemp("stream_privacy"))
    rows = []
    for i in range(40):
        px = synth_pixels(pixel_seed(i, 42), 8, 8)
        blob = jpeg_insert_metadata(
            encode_pixels(px, "jpeg"),
            exif=build_exif(orientation=1), comment=f"c{i}")
        rows.append((i, f"mail u{i}@ex.com ssn 123-45-6789",
                     bytearray(blob)))
    spark.createDataFrame(
        rows, "image_id long, text string, bytes binary"
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    want_t = sorted((r["image_id"], r["text"], r["n_pii_email"])
                    for r in redact_pii(batch, "text").collect())
    want_s = sorted((r["image_id"], r["removed"],
                     bytes(r["stripped"]))
                    for r in strip_image_metadata(batch).collect())
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q1 = (redact_pii(stream, "text")
          .writeStream.format("memory").queryName("pii_stream")
          .trigger(availableNow=True).start())
    q2 = (strip_image_metadata(stream)
          .writeStream.format("memory").queryName("strip_stream")
          .trigger(availableNow=True).start())
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    got_t = sorted((r["image_id"], r["text"], r["n_pii_email"])
                   for r in spark.sql(
                       "SELECT * FROM pii_stream").collect())
    got_s = sorted((r["image_id"], r["removed"], bytes(r["stripped"]))
                   for r in spark.sql(
                       "SELECT * FROM strip_stream").collect())
    assert got_t == want_t and got_s == want_s and len(got_t) == 40


def test_stream_curate_documents_equals_batch(spark,
                                              tmp_path_factory) -> None:
    """curate_documents(dedup=False) is a single narrow projection —
    the curation verdict runs unchanged over live ingest (exact-dup
    survivor selection needs the batch window and is documented as
    the one non-streaming piece)."""
    from cerberus_cpp_spark.operators.text import curate_documents

    src = str(tmp_path_factory.mktemp("stream_curate"))
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    want = sorted(map(tuple,
                      curate_documents(batch, dedup=False).collect()))
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (curate_documents(stream, dedup=False)
         .writeStream.format("memory").queryName("curate_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.sql("SELECT * FROM curate_stream").collect()))
    assert got == want and len(got) == batch.count()


def test_stream_chunk_documents_equals_batch(spark,
                                             tmp_path_factory) -> None:
    """chunk_documents is a stateless shuffle-free projection —
    pre-tokenization chunking runs unchanged over live ingest."""
    from cerberus_cpp_spark.operators.text import chunk_documents

    src = str(tmp_path_factory.mktemp("stream_chunk"))
    rows = [(i, ("x" * (i % 7)) + "abcdefghij" * (1 + i % 5))
            for i in range(40)] + [(40, None), (41, "")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    want = sorted(map(tuple, chunk_documents(
        batch, chunk_chars=12, stride=9).collect()))
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (chunk_documents(stream, chunk_chars=12, stride=9)
         .writeStream.format("memory").queryName("chunk_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM chunk_stream").collect()))
    assert got == want and len(got) > 40


def test_stream_quality_sof_thumb_and_pixel_ops_equal_batch(
        spark, tmp_path_factory) -> None:
    """The round-5 image-census additions (jpeg_quality_audit,
    jpeg_sof_census, exif_thumbnail_audit, pixel_stats,
    pixel_sharpness) and the bucketing projections
    (assign_ar_buckets + ar_resize_plan) are all stateless narrow
    stages — each must run unchanged over a streaming frame and
    match its batch output row-for-row."""
    import numpy as np

    from cerberus_cpp_spark.operators.arbuckets import (
        ar_resize_plan,
        assign_ar_buckets,
    )
    from cerberus_cpp_spark.operators.image_checks import (
        exif_thumbnail_audit,
        image_curation_verdict,
        jpeg_quality_audit,
        jpeg_sof_census,
        pixel_sharpness,
        pixel_stats,
    )
    from cerberus_cpp_spark.sources.imagegen import encode_pixels
    from cerberus_cpp_spark.sources.imagemeta import (
        build_exif,
        jpeg_insert_metadata,
    )
    from cerberus_cpp_spark.sources.jpegcodec import encode_jpeg

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        px = rng.integers(0, 256, (6 + i % 3, 7 + i % 4, 3),
                          dtype=np.uint8)
        if i % 4 == 0:
            b = encode_jpeg(px, quality=40 + i)
        elif i % 4 == 1:
            b = encode_pixels(px, "png")
        elif i % 4 == 2:
            b = jpeg_insert_metadata(
                encode_pixels(px, "jpeg"),
                exif=build_exif(thumbnail=encode_jpeg(px, quality=50)))
        else:
            b = None if i % 8 == 3 else b"\x07junk" + bytes([i]) * 4
        rows.append((f"s{i:03d}", b, int(px.shape[1]),
                     int(px.shape[0])))
    src = str(tmp_path_factory.mktemp("stream_r5ops"))
    spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int"
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    ops = {
        "q5_jq": jpeg_quality_audit,
        "q5_sof": jpeg_sof_census,
        "q5_th": exif_thumbnail_audit,
        "q5_ps": pixel_stats,
        "q5_sh": pixel_sharpness,
        "q5_ar": lambda d: ar_resize_plan(assign_ar_buckets(
            d.select("image_id", "w", "h"))),
        "q5_cv": image_curation_verdict,
    }
    for name, op in ops.items():
        expected = sorted(
            (tuple((None if v is None else v)
                   for v in r) for r in op(batch).collect()))
        q = (op(stream).writeStream.format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r)
                     for r in spark.sql(f"SELECT * FROM {name}")
                     .collect())
        assert got == expected, name
