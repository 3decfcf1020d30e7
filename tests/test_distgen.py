"""Distributed generator must be bit-for-bit the driver-side fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from cerberus_cpp_spark.sources.distgen import (
    caption_text,
    image_caption_frame,
    image_id_text,
)
from cerberus_cpp_spark.sources.fixtures import image_caption_rows

N = 700

#: each digit-count boundary up to 10 digits, and an id near the top
#: of the generator's exact domain (2^63 / 2654435761 ≈ 3.47e9)
BOUNDARY_IDS = sorted({0, 3_470_000_000}
                      | {10 ** k + d for k in range(1, 10) for d in (-1, 0)})


def _key(row: dict) -> tuple:
    return (
        row["image_id"], row["w"], row["h"], row["fmt"],
        row["caption"], row["phash"],
    )


def test_matches_driver_fixture(spark) -> None:
    dist = {
        r["id"]: r.asDict()
        for r in image_caption_frame(spark, N, partitions=4).collect()
    }
    ref = image_caption_rows(N)
    assert len(dist) == N
    for i, expected in enumerate(ref):
        assert _key(dist[i]) == _key(expected), f"row {i}"


def test_bytes_match_driver_fixture(spark) -> None:
    n = 60
    dist = {
        r["id"]: bytes(r["bytes"]) if r["bytes"] is not None else None
        for r in image_caption_frame(
            spark, n, partitions=2, with_bytes=True
        ).collect()
    }
    ref = image_caption_rows(n, with_bytes=True)
    for i, expected in enumerate(ref):
        assert dist[i] == expected["bytes"], f"row {i}"


def test_lossy_plant_matches_driver_fixture(spark) -> None:
    n = 60
    dist = {
        r["id"]: bytes(r["bytes"]) if r["bytes"] is not None else None
        for r in image_caption_frame(
            spark, n, partitions=2, with_bytes=True, plant_lossy=True
        ).collect()
    }
    ref = image_caption_rows(n, with_bytes=True, plant_lossy=True)
    planted = [i for i in range(n) if i % 30 == 8]
    assert planted == [8, 38]
    for i, expected in enumerate(ref):
        assert dist[i] == expected["bytes"], f"row {i}"
    for i in planted:
        assert dist[i][:4] == b"RIFF" and b"VP8 " in dist[i][:20]


def test_no_shuffle_in_generation(spark) -> None:
    """One narrow stage, and no ``java.util.Formatter`` per row: the
    text columns are ``concat``/``lpad`` kernels."""
    for violation_every in (100, None):
        df = image_caption_frame(spark, 1000, partitions=4,
                                 violation_every=violation_every)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "format_string" not in plan, plan


def test_text_helpers_match_python_format_at_boundary_ids(spark) -> None:
    df = spark.createDataFrame([(i,) for i in BOUNDARY_IDS], "id bigint")
    rows = df.select("id", image_id_text(F.col("id")).alias("image_id"),
                     caption_text(F.col("id")).alias("caption")).collect()
    assert {r["id"]: (r["image_id"], r["caption"]) for r in rows} == {
        i: (f"img-{i:012d}", f"caption {i % 997} about image number {i}")
        for i in BOUNDARY_IDS}
