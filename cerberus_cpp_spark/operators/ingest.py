"""Malformed-tolerant JSONL ingest: Spark's NATIVE JSON parser in
PERMISSIVE mode with a corrupt-record column — the engineering
answer to crawled JSONL is to let the JVM parser
(whole-stage codegen, splittable input) do the work and make the
failure routing explicit, not to hand-roll a Python parser.

Built as ``spark.read.text`` + ``from_json`` rather than the raw
``spark.read.json`` reader DELIBERATELY: the raw reader forbids
queries whose referenced source columns reduce to the corrupt column
alone (upstream
UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — which is
exactly what ``quarantine.count()`` or any ok-filtered aggregate
compiles to), while the from_json form derives every column from
the text value in a plain projection, so the verdict/quarantine
contract composes with arbitrary downstream plans. Still one JVM
scan, still splittable; column pushdown into the scan is
deliberately traded away (a real ingest materializes to parquet
next, where pushdown returns).

Semantics pinned in tests (PERMISSIVE, empirically stable): an
unparseable line puts the RAW LINE in the corrupt column with all
fields NULL; a type-mismatched field routes the raw line while
still salvaging parseable sibling fields; a missing field is simply
NULL with NO corrupt entry (absence is not corruption); extra
fields are dropped.

Reference parity: per-document verdict model (validator.hh:239-258)
promoted to the ingest boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"

_OPTS = {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": CORRUPT_COL}


def _verdict(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        F.col(CORRUPT_COL).isNull().alias("ok"),
        *[c for c in parsed.columns if c != CORRUPT_COL],
        F.col(CORRUPT_COL).alias("corrupt_raw"),
    )


def jsonl_ingest(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
) -> DataFrame:
    """Read JSONL with per-row corrupt routing: the parsed fields
    plus ``ok`` (no corrupt entry) and ``corrupt_raw`` (the raw
    line when not ok). ``schema_ddl`` is the EXPECTED schema (DDL
    string, without the corrupt column — added here)."""
    if CORRUPT_COL in schema_ddl:
        raise ValueError(
            f"schema_ddl must not declare {CORRUPT_COL}; it is "
            f"added by jsonl_ingest")
    parsed = spark.read.text(path).select(
        F.from_json("value", f"{schema_ddl}, {CORRUPT_COL} string",
                    _OPTS).alias("j")).select("j.*")
    return _verdict(parsed)
