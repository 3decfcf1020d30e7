"""Full-table validation pipeline — the one-call production surface.

Runs the row-level rule pass over a partitioned table, ledgered per
partition and resumable (see operators/ledger.py): a narrow
projection + per-partition agg per chunk of partitions, each chunk
committed to the ledger, so a rerun after a crash skips the
partitions already validated under the same lineage. The report
carries the run summary and the ledger's per-partition verdicts.

The dataset-level checks are separate calls, each its own Spark job:
``checks.duplicate_keys`` (uniqueness), ``checks.referential_violations``
(broadcast LEFT ANTI per foreign key), ``checks.tdigest_pair`` (drift)
and the image operators in ``operators/image_checks.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..plans.engine import TableValidator
from .ledger import ValidationLedger, run_validation


@dataclass
class PipelineReport:
    run: dict
    partition_verdicts: list

    def passed(self) -> bool:
        return all(p["passed"] for p in self.partition_verdicts)


def run_full_validation(
    df: DataFrame,
    rules: dict,
    *,
    partition_col: str,
    ledger_path: str,
    partitions_per_commit: int = 8,
) -> PipelineReport:
    """Validate ``df`` against ``rules`` partition by partition;
    returns a :class:`PipelineReport`. Rule validation commits
    per-chunk to the ledger at ``ledger_path`` — rerunning after a
    crash resumes. Unknown columns are allowed: the policy is part of
    the run's lineage, so a resume skips only the partitions a run
    under the same policy committed.
    """
    ledger = ValidationLedger(df.sparkSession, ledger_path)
    tv = TableValidator(
        rules, allow_unknown=True, extra_cols=(partition_col,),
    )
    run = run_validation(
        df, tv, partition_col, ledger,
        partitions_per_commit=partitions_per_commit,
    )
    verdicts = [
        {
            "partition_value": r["partition_value"],
            "rows": r["rows"],
            "violations": r["violations"],
            "passed": bool(r["passed"]),
        }
        for r in ledger.read().where("status = 'done'").collect()
    ]
    return PipelineReport(run=run, partition_verdicts=verdicts)
