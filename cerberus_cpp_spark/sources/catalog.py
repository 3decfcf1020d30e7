"""Table-source abstraction: Iceberg-first with a parquet fallback.

The north_rule targets "Iceberg tables ... checkpointing
per-Iceberg-partition lineage". This container ships no Iceberg
runtime jar, so the Iceberg branch is exercised only when an Iceberg
catalog is configured on the session (``spark.sql.catalog.<name>`` +
``iceberg-spark-runtime`` on the classpath); the parquet branch is
what the test suite pins. Nothing below imports Iceberg classes
directly — everything goes through Spark SQL, so the module imports
cleanly either way.

:func:`load` returns the table as a DataFrame, optionally AS OF a
snapshot (Iceberg time travel / a plain path per parquet snapshot).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class TableRef:
    """``iceberg:<catalog.db.table>[@snapshot_id]`` or
    ``parquet:<path>`` (bare strings parse as parquet paths)."""

    kind: str  # "iceberg" | "parquet"
    location: str
    snapshot: Optional[str] = None


_REF_RE = re.compile(r"^(iceberg|parquet):(.*)$")


def parse_ref(text: str | TableRef) -> TableRef:
    if isinstance(text, TableRef):
        return text
    m = _REF_RE.match(text)
    if m is None:
        return TableRef("parquet", text)
    kind, rest = m.group(1), m.group(2)
    snap = None
    if kind == "iceberg" and "@" in rest:
        rest, snap = rest.rsplit("@", 1)
    return TableRef(kind, rest, snap)


def load(spark: SparkSession, ref: str | TableRef) -> DataFrame:
    r = parse_ref(ref)
    if r.kind == "iceberg":
        reader = spark.read
        if r.snapshot is not None:
            reader = reader.option("snapshot-id", r.snapshot)
        return reader.table(r.location)
    return spark.read.parquet(r.location)
