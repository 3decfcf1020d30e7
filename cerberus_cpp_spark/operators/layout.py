"""Parquet layout audit: distributed footer reads over a manifest
of file paths — the lakehouse-side health check of this engine's
own storage. At 100 TB the dominant scan-throughput killers are
LAYOUT defects, not data defects: thousands of tiny files, 10k-row
row groups (each a separate dictionary + page-header round trip),
uncompressed column chunks, and statistics-free columns that defeat
row-group pruning. This module reports all four from footers alone
— each task opens its file and reads ONLY the footer tail, never
the data pages, so auditing a petabyte costs megabytes of I/O.

Scale shape: the manifest frame is the parallelism unit (repartition
it to the cluster before calling for millions of files); one narrow
Arrow stage per operator, no shuffle in ``parquet_layout``, one
partially-aggregated Exchange in ``parquet_layout_report``.

Oracle parity: the per-chunk output matches DuckDB's independent
``parquet_metadata()`` table function field-for-field (two
unrelated footer parsers agreeing on the same bytes — the strongest
oracle in the repo next to the codec interop pins).

Reference parity: dataset-level checks promoted to the storage
layer (SURVEY §2.3); per-file verdict model (validator.hh:239-258)
— unreadable files emit one ok=false row, never kill the audit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shipping import PKG_PARENT

LAYOUT_SCHEMA = (
    "file_name string, ok boolean, message string, "
    "row_group_id int, row_group_rows bigint, path_in_schema "
    "string, compression string, n_values bigint, null_count "
    "bigint, has_stats boolean, compressed_bytes bigint, "
    "uncompressed_bytes bigint"
)


def parquet_layout(
    df_paths: DataFrame,
    *,
    path_col: str = "path",
) -> DataFrame:
    """ONE ROW PER (file, row group, column chunk) from footer
    reads: row-group row counts, per-chunk codec, value/null
    counts, statistics presence (the row-group pruning
    prerequisite), and compressed/uncompressed bytes. ``file_name``
    is the basename so results are location-relocatable."""
    src = df_paths.select(F.col(path_col).alias("path"))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os
        import sys

        import pyarrow.parquet as pq

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "row_group_id", "row_group_rows",
                "path_in_schema", "compression", "n_values",
                "null_count", "has_stats", "compressed_bytes",
                "uncompressed_bytes")
        int_cols = {"row_group_id": "Int32",
                    "row_group_rows": "Int64", "n_values": "Int64",
                    "null_count": "Int64",
                    "compressed_bytes": "Int64",
                    "uncompressed_bytes": "Int64"}

        for pdf in batches:
            out: dict = {"file_name": [], **{c: [] for c in cols}}

            def put(fname, **kw):
                out["file_name"].append(fname)
                for c in cols:
                    out[c].append(kw.get(c))

            for path in pdf["path"]:
                fname = os.path.basename(str(path))
                try:
                    md = pq.ParquetFile(str(path)).metadata
                except Exception as e:  # noqa: BLE001 - per-file verdict
                    put(fname, ok=False,
                        message=str(e)[:160] or "unreadable footer")
                    continue
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        st = c.statistics
                        put(fname, ok=True, row_group_id=i,
                            row_group_rows=rg.num_rows,
                            path_in_schema=c.path_in_schema,
                            compression=c.compression,
                            n_values=c.num_values,
                            null_count=(st.null_count
                                        if st is not None
                                        and st.has_null_count
                                        else None),
                            has_stats=st is not None,
                            compressed_bytes=c.total_compressed_size,
                            uncompressed_bytes=(
                                c.total_uncompressed_size))
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "has_stats"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=LAYOUT_SCHEMA)


def parquet_layout_report(
    df_paths: DataFrame,
    *,
    path_col: str = "path",
    min_row_group_rows: int = 100_000,
) -> DataFrame:
    """Per-FILE health report derived from the chunk frame in one
    partially-aggregated Exchange: row counts, row-group count and
    minimum row-group size, total compressed/uncompressed bytes and
    the overall ratio, the distinct codec census, columns without
    statistics, and ``n_small_row_groups`` — row groups under
    ``min_row_group_rows`` (the canonical write-path defect: at
    1000 executors a 10k-row row group turns one scan into a
    metadata storm). Failed files pass through with ok=false."""
    if min_row_group_rows < 1:
        raise ValueError("min_row_group_rows must be >= 1")
    chunks = parquet_layout(df_paths, path_col=path_col)
    rg = (
        chunks.where(F.col("ok"))
        .groupBy("file_name", "row_group_id")
        .agg(
            F.first("row_group_rows").alias("rows"),
            F.sum("compressed_bytes").alias("cbytes"),
            F.sum("uncompressed_bytes").alias("ubytes"),
            F.collect_set("compression").alias("codecs"),
            F.sum((~F.col("has_stats")).cast("long"))
            .alias("statless"),
        )
    )
    report = (
        rg.groupBy("file_name")
        .agg(
            F.lit(True).alias("ok"),
            F.lit(None).cast("string").alias("message"),
            F.count(F.lit(1)).cast("int").alias("n_row_groups"),
            F.sum("rows").alias("n_rows"),
            F.min("rows").alias("min_row_group_rows"),
            F.sum(
                (F.col("rows") < min_row_group_rows).cast("long")
            ).cast("int").alias("n_small_row_groups"),
            F.sum("cbytes").alias("compressed_bytes"),
            F.sum("ubytes").alias("uncompressed_bytes"),
            (F.sum("ubytes") / F.sum("cbytes"))
            .alias("compression_ratio"),
            F.array_sort(F.array_distinct(F.flatten(
                F.collect_list("codecs")))).alias("codecs"),
            F.sum("statless").alias("n_statless_chunks"),
        )
    )
    failed = (
        chunks.where(~F.col("ok"))
        .select(
            "file_name", "ok", "message",
            *[F.lit(None).cast(t).alias(n) for n, t in (
                ("n_row_groups", "int"), ("n_rows", "bigint"),
                ("min_row_group_rows", "bigint"),
                ("n_small_row_groups", "int"),
                ("compressed_bytes", "bigint"),
                ("uncompressed_bytes", "bigint"),
                ("compression_ratio", "double"))],
            F.lit(None).cast("array<string>").alias("codecs"),
            F.lit(None).cast("bigint").alias("n_statless_chunks"),
        )
    )
    return report.unionByName(failed)
