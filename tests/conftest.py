from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import pytest
import yaml

# the local harness runs the driver contract at sf0.001; pin the env
# var BOTH test_entry_contract.SF_DIR and the path-bearing oracles
# (__spark_entry__._oracle_sf_dir) resolve, so Spark queries and
# DuckDB oracles always read the same files
os.environ.setdefault("SPARK_GRAFT_SF_DIR_SMALL",
                      "/root/testdata/sf0.001")


#: the reference's test directory, in a reference checkout beside this
#: repository; its corpora are read from there, not vendored
REFERENCE_TEST_DIR = Path(__file__).resolve().parents[2] / "reference" / "test"


@dataclass(frozen=True)
class Corpus:
    """One YAML corpus of the reference's tests, ``{}`` when absent."""

    path: Path
    cases: dict

    @property
    def skip(self) -> pytest.MarkDecorator:
        """Skips a test when the corpus is absent, naming the file."""
        return pytest.mark.skipif(
            not self.cases, reason=f"reference corpus not found: {self.path}")

    def params(self) -> list:
        """Case names to parametrize over; one skipped parameter when
        the corpus is absent."""
        return sorted(self.cases) or [
            pytest.param("<missing corpus>", marks=self.skip)]


def reference_corpus(name: str) -> Corpus:
    """The reference corpus ``test/<name>`` (``testdata.yml``, the 40
    golden cases, or ``illformedschemas.yml``)."""
    path = REFERENCE_TEST_DIR / name
    if not path.exists():
        return Corpus(path, {})
    with open(path) as f:
        return Corpus(path, yaml.safe_load(f))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("cerberus-cpp-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # the production default of Spark 4: a cast that fails raises
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()
