"""The ledger's ``known_partitions`` path on hive-partitioned parquet
tables: partition values taken from catalog metadata replace the
discovery scan."""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.operators.ledger import (
    ValidationLedger,
    run_validation,
)
from cerberus_cpp_spark.plans.engine import TableValidator


@pytest.fixture()
def hive_table(spark, tmp_path):
    """A hive-partitioned parquet table day=0..3 with 40 rows."""
    path = str(tmp_path / "tbl")
    df = spark.range(0, 40).selectExpr(
        "id", "cast(id % 4 as string) AS day", "id * 2.0 AS v")
    df.write.partitionBy("day").mode("overwrite").parquet(path)
    return path


def test_pending_partitions_from_catalog_metadata(
    spark, hive_table, tmp_path
) -> None:
    """known_partitions (the hive directory names) replaces the
    discovery scan and composes with ledger resume."""
    ledger = ValidationLedger(spark, str(tmp_path / "ledger"))
    df = spark.read.parquet(hive_table)
    tv = TableValidator({"id": {"type": "integer", "required": True}},
                        allow_unknown=True)
    known = ["0", "1", "2", "3"]
    summary = run_validation(
        df, tv, "day", ledger, known_partitions=known,
        partitions_per_commit=2,
    )
    assert summary["partitions_total"] == 4
    # everything committed: a resume with the same lineage has nothing
    # to do — still sourced from metadata, no discovery scan
    summary2 = run_validation(
        df, tv, "day", ledger, known_partitions=known,
        partitions_per_commit=2,
    )
    assert summary2["partitions_total"] == 0


def test_known_partitions_match_escaped_and_null_values(
    spark, tmp_path
) -> None:
    """Known partitions given as the COLUMN's string values (':' where
    the hive directory name escapes it as %3A) and the ledger's
    NULL_PARTITION match their rows — otherwise run_validation's
    IN-list matches nothing and records empty 'done' verdicts (review
    finding)."""
    from cerberus_cpp_spark.operators.ledger import NULL_PARTITION

    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b:c")], "id int, day string")
    df.write.partitionBy("day").mode("overwrite").parquet(path)
    vals = sorted([NULL_PARTITION, "a", "b:c"])

    # end-to-end: every row validated, no silently-empty partitions
    ledger = ValidationLedger(spark, str(tmp_path / "led"))
    table = spark.read.parquet(path)
    tv = TableValidator({"id": {"type": "integer", "min": 0}},
                        allow_unknown=True)
    summary = run_validation(table, tv, "day", ledger,
                             known_partitions=vals)
    assert summary["partitions_processed"] == 3
    assert summary["empty_partitions"] == []
    done = {r["partition_value"]: r
            for r in ledger.read().collect()}
    assert done[NULL_PARTITION]["rows"] == 1
    assert done["b:c"]["rows"] == 1 and done["a"]["rows"] == 1

