"""Structured Streaming validation.

The compiled validation plan is a narrow projection, so it applies to
a streaming DataFrame unchanged — ``readStream → withColumn(
violations…) → writeStream``. What streaming adds is (a) per-batch
verdict sinks and (b) event-time windowed violation aggregation with
a watermark for late data (the streaming analogue of the ledger's
per-partition verdicts).

The reference has no streaming (SURVEY.md §2.2); these operators are
the north_star's "per-partition pass/fail" re-expressed over time
windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def annotate_stream(stream_df: DataFrame, validator) -> DataFrame:
    """Attach violations/n_violations/valid to a streaming frame — the
    batch path's projection (``TableValidator.validate``).
    Stateless: safe under any output mode."""
    return validator.validate(stream_df).annotated


def windowed_verdicts(
    stream_df: DataFrame,
    validator,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed pass/fail + metrics with late-data
    watermark. Output: (window_start, window_end, rows, violations,
    invalid_rows, passed). Append-mode capable (aggregation closes
    when the watermark passes the window end)."""
    ann = annotate_stream(stream_df, validator)
    return (
        ann.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_violations").alias("violations"),
            F.sum((~F.col("valid")).cast("long")).alias("invalid_rows"),
            (F.sum("n_violations") == 0).alias("passed"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows", "violations", "invalid_rows", "passed",
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    validator,
    *,
    query_name: str,
    mode: str | None = None,
    windowed: bool = False,
    **window_kw,
) -> "StreamingQuery":
    """Drive a validation stream into an in-memory sink with
    availableNow (drain-everything-then-stop) semantics — the test /
    bootstrap harness path; production would writeStream to files.

    Row mode defaults to append. Windowed mode defaults to complete:
    under availableNow the stream ends with the tail windows still
    open, and append would emit only the watermark-closed ones; a
    production continuous run would use append + watermark."""
    if mode is None:
        mode = "complete" if windowed else "append"
    out = (
        windowed_verdicts(stream_df, validator, **window_kw)
        if windowed
        else annotate_stream(stream_df, validator)
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def quarantine_stream(
    stream_df: DataFrame, validator
) -> tuple[DataFrame, DataFrame]:
    """Streaming twin of ``TableValidationResult.quarantine()``:
    ``(clean, quarantined)`` streaming frames from ONE stateless
    annotation — clean carries the NORMALIZED projection of passing
    rows, quarantined the original rows + violations array. Each side
    starts its own ``writeStream`` (two sinks = two queries over the
    same narrow plan; Spark shares the source offsets per query, so
    at-least-once per sink holds independently). Stateless → any
    output mode, no watermark needed."""
    return validator.validate(stream_df).quarantine()
