"""End-to-end pipeline: the ledgered rule pass over the seeded table;
resumability through the same entry."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.pipeline import run_full_validation
from cerberus_cpp_spark.sources.distgen import image_caption_frame
from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

N = 3000


@pytest.fixture()
def table(spark):
    return image_caption_frame(spark, N, partitions=4).withColumn(
        "part", F.expr("pmod(id, 6)")
    ).drop("id").cache()


def test_full_pipeline_report(spark, table, tmp_path) -> None:
    report = run_full_validation(
        table,
        IMAGE_TABLE_RULES,
        partition_col="part",
        ledger_path=str(tmp_path / "ledger"),
    )
    # seeded: every 100th row violates → 30 invalid rows over 6 parts
    assert report.run["partitions_processed"] == 6
    assert len(report.partition_verdicts) == 6
    assert sum(p["rows"] for p in report.partition_verdicts) == N
    assert sum(p["violations"] for p in report.partition_verdicts) > 0
    assert report.passed() is False  # seeded violations exist


def test_pipeline_resume_skips_done(spark, table, tmp_path) -> None:
    path = str(tmp_path / "ledger")
    r1 = run_full_validation(
        table, IMAGE_TABLE_RULES, partition_col="part",
        ledger_path=path,
    )
    assert r1.run["partitions_processed"] == 6
    r2 = run_full_validation(
        table, IMAGE_TABLE_RULES, partition_col="part",
        ledger_path=path,
    )
    assert r2.run["partitions_processed"] == 0
    # verdicts still reported from the ledger
    assert len(r2.partition_verdicts) == 6
