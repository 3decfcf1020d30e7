"""Distributed deterministic generation of the input_hint table.

``image_caption_frame`` is the scale-path twin of
``fixtures.image_caption_rows``: the SAME rows (bit-for-bit, pinned by
tests), but produced executor-side from ``spark.range`` + column
expressions — no driver loop, no data movement, arbitrarily
parallel. At 10^12 rows this is a narrow, shuffle-free stage of
codegen kernels: integer arithmetic for the numbers, and ``concat``,
``lpad`` and ``cast(bigint as string)`` for the two text columns
(:func:`image_id_text`, :func:`caption_text`). That keeps it a fair
throughput fixture for the north metric (validated rows/sec).
``format_string`` would give the same text, but it runs
``java.util.Formatter`` once per row, which parses the pattern and
boxes each argument. Measured at ``local[4]`` on a shared 4-vCPU
host, per 2.4M ids: 2.69 JVM CPU-s against 1.21 for the id, and 1.80
against 1.56 for the caption.

Both text columns leave the frame behind
:func:`~cerberus_cpp_spark.functions.barrier.once_per_row`. Without
it, the row filter of ``violations()`` and ``quarantine()`` pushes
below this projection and inlines the text kernels into every rule
branch that reads them. The fused stage's generated method then
outgrows HotSpot's 8,000-byte JIT limit and runs interpreted. Measured
on 600k rows with every fifth row planted: ``violations("id").count()``
took 16.0 JVM CPU-s and writing both ``quarantine()`` sinks 27.4; with
the barrier, 1.9 and 3.1.

All arithmetic uses integer ops (``DIV``, ``%``, ``&``) so results
are exact for any row id < 2^63/2654435761 ≈ 3.47e9 per the fixture's
mixing constant — far above any in-sandbox scale. Those ids have at
most 10 digits, so the 12-digit ``lpad`` never truncates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.barrier import once_per_row

HOT_PHASH = 0x5A5A5A5A5A5A5A5A


def image_id_text(row_id: Column) -> Column:
    """``f"img-{id:012d}"``: the row's image id."""
    return F.concat(F.lit("img-"), F.lpad(row_id.cast("string"), 12, "0"))


def caption_text(row_id: Column) -> Column:
    """``f"caption {id % 997} about image number {id}"``: the row's
    caption."""
    return F.concat(F.lit("caption "), (row_id % 997).cast("string"),
                    F.lit(" about image number "), row_id.cast("string"))


def image_caption_frame(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    violation_every: int | None = 100,
    hot_phash_every: int = 50,
    partitions: int | None = None,
    with_bytes: bool = False,
    plant_lossy: bool = False,
) -> DataFrame:
    """Executor-side twin of ``fixtures.image_caption_rows``.

    Columns: (image_id, bytes, w, h, fmt, caption, phash) per
    BASELINE.json input_hint. Seeded violations at the same indices
    as the driver-side fixture; ``with_bytes`` synthesizes real
    (PNG, baseline JPEG, VP8L webp) image payloads inside an
    Arrow-batched ``mapInPandas`` stage — the only Python-side step,
    and only when bytes are requested.

    ``plant_lossy`` plants two lossy-VP8 families on webp rows that
    never collide with the ``id % 100 == 0`` violation plants:
    ``id % 30 == 8`` → well-formed but undecodable container (the
    ``decode_unsupported`` routing fixture) and ``id % 30 == 23`` →
    REAL lossy payload from the in-repo encoder that deterministically
    fails the PSNR gate (the ``mismatch`` fixture, round 4).
    """
    num_parts = partitions or spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, num_parts)
    h = f"((id * 2654435761L + {seed}L) & 9223372036854775807L)"
    base = df.select(
        F.col("id"),
        F.expr(h).alias("mix"),
        F.expr(f"16 + ({h} % 1009) % 4080").cast("int").alias("w0"),
        F.expr(f"16 + (({h} DIV 7) % 1013) % 4080").cast("int").alias("h0"),
        F.expr("element_at(array('jpeg','png','webp'), cast(id % 3 as int) + 1)")
        .alias("fmt0"),
        caption_text(F.col("id")).alias("caption0"),
    )
    if violation_every:
        ve = int(violation_every)
        is_v = f"(id % {ve} = 0)"
        kind = f"((id DIV {ve}) % 6)"
        base = base.select(
            "id", "mix",
            F.expr(f"IF({is_v} AND {kind} = 0, 0, w0)").alias("w"),
            F.expr(f"IF({is_v} AND {kind} = 1, 20000, h0)").alias("h"),
            F.expr(f"IF({is_v} AND {kind} = 2, 'heif', fmt0)").alias("fmt"),
            F.expr(
                f"CASE WHEN {is_v} AND {kind} = 3 THEN NULL "
                f"WHEN {is_v} AND {kind} = 4 THEN 'x\x01y' "
                "ELSE caption0 END"
            ).alias("caption"),
            F.when(F.expr(f"{is_v} AND {kind} = 5"), None)
            .otherwise(image_id_text(F.col("id"))).alias("image_id"),
        )
    else:
        base = base.select(
            "id", "mix",
            F.col("w0").alias("w"), F.col("h0").alias("h"),
            F.col("fmt0").alias("fmt"), F.col("caption0").alias("caption"),
            image_id_text(F.col("id")).alias("image_id"),
        )
    out = base.select(
        "id", once_per_row(F.col("image_id")).alias("image_id"),
        "w", "h", "fmt", once_per_row(F.col("caption")).alias("caption"),
        F.expr(
            f"IF(id % {int(hot_phash_every)} = 0, "
            f"{HOT_PHASH}L, mix)"
        ).alias("phash"),
    )
    if with_bytes:
        out = _attach_bytes(out, seed, plant_lossy=plant_lossy)
    else:
        out = out.withColumn("bytes", F.lit(None).cast("binary"))
    return out.select("image_id", "bytes", "w", "h", "fmt", "caption",
                      "phash", "id")


def _attach_bytes(df: DataFrame, seed: int, *,
                  plant_lossy: bool = False) -> DataFrame:
    """Arrow-batched byte synthesis (the only Python stage; matches
    ``fixtures.image_caption_rows(with_bytes=True)``: small thumbs
    8+i%9 × 8+i%7, encoded per the row's fmt)."""
    from ..functions.shipping import PKG_PARENT

    pkg_parent = PKG_PARENT  # captured as a plain string in the closure
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", bytes binary"

    def gen(batches):
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_image,
            lossy_vp8_stub,
            lossy_webp_payload,
            pixel_seed,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            payload = []
            for i, fmt in zip(pdf["id"], pdf["fmt"]):
                i = int(i)
                if plant_lossy and i % 30 == 8:
                    payload.append(
                        lossy_vp8_stub(8 + i % 9, 8 + i % 7))
                    continue
                if plant_lossy and i % 30 == 23:
                    payload.append(lossy_webp_payload(i, seed))
                    continue
                try:
                    payload.append(
                        encode_image(pixel_seed(i, seed),
                                     8 + i % 9, 8 + i % 7, fmt)
                    )
                except ValueError:  # seeded bad fmt ('heif') → no payload
                    payload.append(None)
            pdf = pdf.copy()
            pdf["bytes"] = payload
            yield pdf

    return df.mapInPandas(gen, schema=schema)
