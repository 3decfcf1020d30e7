"""Distributed deterministic audio/video clip synthesis.

Same design as ``distgen.image_caption_frame``: rows are produced
executor-side from ``spark.range`` + an Arrow-batched encode stage,
parameterized purely by the row id — so a SQL oracle can regenerate
every derived statistic with integer arithmetic, and the generator
parallelizes to any scale with no driver loop and no shuffle.

Audio clips are WAV-PCM (``wavcodec.synth_pcm``: integer sawtooth
mixtures — no libm, so DuckDB replays the exact samples). Video
clips are AVI-MJPEG (``avicodec.synth_clip``: seeded-gradient JPEG
frames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.shipping import PKG_PARENT

# Per-clip parameters are pure id arithmetic, INLINED in the worker
# closures below (a captured module-level helper would be pickled by
# module reference and break workers without the repo on PYTHONPATH)
# and mirrored in the SQL oracles (__spark_entry__):
#   audio: n_samples = 1000 + (id % 7) * 500, rate 16000
#   video: n_frames = 2 + id % 5, w = 8 + id % 5, h = 8 + id % 4


def audio_clip_frame(spark: SparkSession, n: int,
                     partitions: int | None = None) -> DataFrame:
    """(clip_id string, bytes binary): WAV-PCM clips."""
    num_parts = partitions or spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, num_parts)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.wavcodec import (
            encode_wav,
            synth_pcm,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame({
                "clip_id": [f"clip-{i:06d}" for i in ids],
                "bytes": [
                    encode_wav(synth_pcm(i, 1000 + (i % 7) * 500),
                               16000)
                    for i in ids
                ],
            })

    return df.mapInPandas(gen, schema="clip_id string, bytes binary")


def video_clip_frame(spark: SparkSession, n: int,
                     partitions: int | None = None,
                     fps: int = 30) -> DataFrame:
    """(clip_id string, bytes binary): AVI-MJPEG clips."""
    num_parts = partitions or spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, num_parts)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.avicodec import synth_clip
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            payloads = []
            for i in ids:
                payloads.append(
                    synth_clip(i, 2 + i % 5, 8 + i % 5, 8 + i % 4,
                               fps=fps)
                )
            yield pd.DataFrame({
                "clip_id": [f"clip-{i:06d}" for i in ids],
                "bytes": payloads,
            })

    return df.mapInPandas(gen, schema="clip_id string, bytes binary")
