"""Multimodal operators: the stub fallbacks for non-decodable payload
formats (these clips are image bytes, not WAV/AVI) exercise the Spark
plumbing and raise honestly by default. Real WAV/AVI decode paths
are covered in test_avwav.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.multimodal import (
    audio_features,
    audio_header_info,
    normalize_orientation,
    sample_frames,
)
from cerberus_cpp_spark.sources.distgen import image_caption_frame
from cerberus_cpp_spark.sources.imagegen import encode_image
from cerberus_cpp_spark.sources.wavcodec import encode_wav, synth_pcm


@pytest.fixture(scope="module")
def with_bytes(spark):
    return image_caption_frame(
        spark, 120, partitions=4, with_bytes=True
    ).cache()


def test_video_stub_raises_by_default(spark, with_bytes) -> None:
    clips = with_bytes.select(
        F.col("image_id").alias("clip_id"), "bytes"
    )
    stream = sample_frames(clips)
    with pytest.raises(Exception) as exc:
        stream.count()
    assert "NotImplementedError" in str(exc.value) or \
        "video decode unavailable" in str(exc.value)


def test_video_fake_plumbing(spark, with_bytes) -> None:
    clips = with_bytes.select(
        F.col("image_id").alias("clip_id"), "bytes"
    )
    frames = sample_frames(clips, stub_strategy="fake", every_n=10,
                           max_frames=3)
    rows = frames.collect()
    assert rows
    by_clip: dict = {}
    for r in rows:
        by_clip.setdefault(r["clip_id"], []).append(r)
    for clip, rs in by_clip.items():
        idxs = sorted(r["frame_idx"] for r in rs)
        assert idxs == list(range(0, 10 * len(idxs), 10))
        assert all(len(bytes(r["frame"])) == 32 for r in rs)
    # deterministic: re-run yields identical payloads
    again = {(r["clip_id"], r["frame_idx"]): bytes(r["frame"])
             for r in frames.collect()}
    for r in rows:
        assert again[(r["clip_id"], r["frame_idx"])] == bytes(r["frame"])


def test_audio_fake_features(spark, with_bytes) -> None:
    clips = with_bytes.select(
        F.col("image_id").alias("clip_id"), "bytes"
    )
    res = audio_features(clips, stub_strategy="fake").collect()
    ok = [r for r in res if r["rms"] is not None]
    assert len(ok) == 120
    assert all(r["duration_sec"] > 0 for r in ok)


def test_bigint_ids_beside_a_null_come_back_as_text(spark) -> None:
    """The fixed-schema operators name their id column ``string``; a
    ``bigint`` id beside a NULL id in one batch comes back as its
    decimal text, not as a failed job."""
    big = 2 ** 53 + 1
    wav = encode_wav(synth_pcm(1, 1600), sample_rate=16000)
    clips = spark.createDataFrame(
        [(big, bytearray(wav)), (None, None)],
        "clip_id bigint, bytes binary").coalesce(1)
    out = {r["clip_id"]: r for r in audio_header_info(clips).collect()}
    assert set(out) == {str(big), None}
    assert out[str(big)]["ok"] and out[str(big)]["fmt"] == "wav"
    assert out[None]["ok"] is False

    png = encode_image(7, 8, 8, "png")
    images = spark.createDataFrame(
        [(big, bytearray(png)), (None, bytearray(png))],
        "image_id bigint, bytes binary").coalesce(1)
    rows = normalize_orientation(images).collect()
    assert sorted((r["image_id"] or "", bytes(r["bytes"]), r["fixed"])
                  for r in rows) == [("", png, False),
                                     (str(big), png, False)]
