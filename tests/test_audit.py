"""Sampled validation audit (plans/audit.py): Wilson-interval
arithmetic against an independent pure-Python implementation, verdict
three-way semantics on planted data, deterministic sample membership
under relayout, row-not-record counting, plan shape (one source scan),
and the escalation worklist.

Reference analogue: cerberus-cpp evaluates every rule on every
document (validator.hh:239-258); the audit is the dataset-level
scan-budgeted generalization, so its correctness gate is statistical
(interval coverage + exact replay of the arithmetic) rather than a
golden-case port.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.plans.audit import (
    Z_95,
    escalation_filter,
    exact_rates,
    sample_predicate,
    sampled_audit,
    verdict_sql,
    wilson_sql,
)
from cerberus_cpp_spark.plans.engine import TableValidator


def _wilson_py(k: int, n: int, z: float) -> tuple[float, float]:
    # independent reimplementation (different operator grouping on
    # purpose) — compared to the SQL to ~1e-12, not bit-exact
    p = k / n
    denom = 1 + z * z / n
    centre = p + z * z / (2 * n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return (centre - half) / denom, (centre + half) / denom


RULES = {
    "v": {"type": "integer", "min": 0},
    "s": {"type": "string", "regex": "[a-z]+", "allowed": ["abcdef"]},
}


def _frame(spark, n=400, bad_v_every=4, bad_s_every=50):
    rows = [
        (
            i,
            -1 if i % bad_v_every == 0 else i,
            "A1" if i % bad_s_every == 0 else "abcdef",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id bigint, v bigint, s string")


def test_wilson_sql_matches_python(spark) -> None:
    lo_sql, hi_sql = wilson_sql("k", "n", Z_95)
    df = spark.createDataFrame(
        [(1, 40), (0, 40), (40, 40), (7, 1000), (1, 10**7)], "k long, n long"
    ).select(F.expr(lo_sql).alias("lo"), F.expr(hi_sql).alias("hi"),
             "k", "n")
    z = float(Z_95)
    for r in df.collect():
        lo, hi = _wilson_py(r["k"], r["n"], z)
        assert math.isclose(r["lo"], max(0.0, lo), rel_tol=0,
                            abs_tol=1e-12)
        assert math.isclose(r["hi"], min(1.0, hi), rel_tol=0,
                            abs_tol=1e-12)
        assert 0.0 <= r["lo"] <= r["hi"] <= 1.0


def test_verdict_three_way(spark) -> None:
    tv = TableValidator(RULES, allow_unknown=True)
    # full sample: n=400, k(v)=100 (rate .25), k(s)=8 (rate .02)
    audit = sampled_audit(tv, _frame(spark), "id", fraction=1.0,
                          budget=0.05)
    by_path = {r["path"]: r for r in audit.collect()}
    assert by_path["^.v"]["verdict"] == "exceeds_budget"
    assert by_path["^.v"]["violating_rows"] == 100
    assert by_path["^.v"]["sampled_rows"] == 400
    # k=8/400 = .02: hi ≈ .039 <= .05
    assert by_path["^.s"]["verdict"] == "within_budget"
    assert by_path["__table__"]["verdict"] == "exceeds_budget"
    # small sample widens the s-interval past the budget
    small = sampled_audit(tv, _frame(spark), "id", fraction=0.12,
                          budget=0.05)
    small_by = {r["path"]: r for r in small.collect()}
    if "^.s" in small_by:  # present iff >=1 sampled violation
        assert small_by["^.s"]["verdict"] in ("inconclusive",
                                              "within_budget")


def test_counts_rows_not_violation_records(spark) -> None:
    # 'A1' violates BOTH regex and allowed on the SAME path '^.s':
    # two violation records, ONE violating row
    tv = TableValidator(RULES, allow_unknown=True)
    df = spark.createDataFrame([(1, 5, "A1")], "id bigint, v bigint, s string")
    audit = sampled_audit(tv, df, "id", fraction=1.0)
    row = {r["path"]: r for r in audit.collect()}["^.s"]
    assert row["violating_rows"] == 1
    assert row["sampled_rows"] == 1
    assert row["rate"] == 1.0


def test_membership_deterministic_under_relayout(spark) -> None:
    df = _frame(spark)
    a = {r["id"] for r in
         df.where(sample_predicate("id", 0.3, seed=9)).collect()}
    b = {r["id"] for r in
         df.repartition(13, "s").where(
             sample_predicate("id", 0.3, seed=9)).collect()}
    assert a == b and 0 < len(a) < 400


def test_empty_sample_and_bad_fraction(spark) -> None:
    tv = TableValidator(RULES, allow_unknown=True)
    empty = sampled_audit(tv, _frame(spark).where("id < 0"), "id",
                          fraction=0.5)
    assert empty.count() == 0
    with pytest.raises(ValueError):
        sample_predicate("id", 0.0)
    with pytest.raises(ValueError):
        sample_predicate("id", 1.5)


def test_escalation_filter(spark) -> None:
    tv = TableValidator(RULES, allow_unknown=True)
    # tiny sample → wide intervals → inconclusive paths escalate;
    # __table__ never escalates (it names no rule)
    audit = sampled_audit(tv, _frame(spark, n=40), "id", fraction=1.0,
                          budget=0.2)
    worklist = escalation_filter(audit)
    assert "__table__" not in worklist
    verdicts = {r["path"]: r["verdict"] for r in audit.collect()}
    assert set(worklist) == {
        p for p, v in verdicts.items()
        if v == "inconclusive" and p != "__table__"
    }


def test_single_source_scan_plan(spark, tmp_path) -> None:
    # the denominator must come from the SAME aggregate (window over
    # the tiny frame), not a second branch that rescans the source
    path = str(tmp_path / "audit_plan")
    _frame(spark).write.mode("overwrite").parquet(path)
    tv = TableValidator(RULES, allow_unknown=True)
    audit = sampled_audit(tv, spark.read.parquet(path), "id",
                          fraction=0.5)
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    # one data-scale shuffle (the path aggregate); the second
    # exchange is the single-partition window over O(rules) rows
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_exact_rates_settles_escalation(spark) -> None:
    tv = TableValidator(RULES, allow_unknown=True)
    df = _frame(spark)  # v: 100/400 = .25, s: 8/400 = .02
    exact = exact_rates(tv, df, ["^.v", "^.s"], budget=0.05)
    by = {r["path"]: r for r in exact.collect()}
    assert set(by) == {"^.v", "^.s"}
    assert by["^.v"]["total_rows"] == 400
    assert by["^.v"]["violating_rows"] == 100
    assert by["^.v"]["rate"] == 0.25
    assert by["^.v"]["verdict"] == "exceeds_budget"
    assert by["^.s"]["verdict"] == "within_budget"


def test_exact_rates_zero_count_paths_emitted(spark) -> None:
    # unlike the audit (absence == unobserved), the escalation pass
    # must emit the explicit all-clear for every requested path
    tv = TableValidator(RULES, allow_unknown=True)
    clean = spark.createDataFrame(
        [(i, i + 1, "abcdef") for i in range(50)],
        "id bigint, v bigint, s string")
    exact = exact_rates(tv, clean, ["^.v", "^.s"], budget=0.1)
    by = {r["path"]: r for r in exact.collect()}
    assert set(by) == {"^.v", "^.s"}
    for r in by.values():
        assert r["total_rows"] == 50
        assert r["violating_rows"] == 0
        assert r["rate"] == 0.0
        assert r["verdict"] == "within_budget"


def test_exact_rates_edges(spark) -> None:
    tv = TableValidator(RULES, allow_unknown=True)
    assert exact_rates(tv, _frame(spark), []).count() == 0
    with pytest.raises(ValueError):
        exact_rates(tv, _frame(spark), ["__n__"])
    # empty table: counts are 0; the 0/0 rate is not a crash
    empty = exact_rates(tv, _frame(spark).where("id < 0"), ["^.v"])
    row = empty.collect()[0]
    assert row["total_rows"] == 0 and row["violating_rows"] == 0


def test_exact_rates_single_scan_plan(spark, tmp_path) -> None:
    path = str(tmp_path / "exact_plan")
    _frame(spark).write.mode("overwrite").parquet(path)
    tv = TableValidator(RULES, allow_unknown=True)
    exact = exact_rates(tv, spark.read.parquet(path), ["^.v", "^.s"])
    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_audit_escalate_exact_loop(spark) -> None:
    # budget inside the sampled interval → inconclusive → escalated →
    # settled exactly; the exact verdict is stable where the sampled
    # one was not
    tv = TableValidator(RULES, allow_unknown=True)
    df = _frame(spark, n=2000)  # v rate exactly .25
    audit = sampled_audit(tv, df, "id", fraction=0.05, budget=0.25)
    worklist = escalation_filter(audit)
    exact = exact_rates(tv, df, worklist, budget=0.25)
    for r in exact.collect():
        if r["path"] == "^.v":
            assert r["rate"] == 0.25
            assert r["verdict"] == "within_budget"  # exact: .25 > .25 false


def test_verdict_sql_budget_edges(spark) -> None:
    # hi == budget is within_budget (<=); lo > budget is exceeds
    df = spark.createDataFrame([(1,)], "x int").select(
        F.expr(verdict_sql("0.04", "0.05", 0.05)).alias("a"),
        F.expr(verdict_sql("0.051", "0.9", 0.05)).alias("b"),
        F.expr(verdict_sql("0.01", "0.06", 0.05)).alias("c"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (
        "within_budget", "exceeds_budget", "inconclusive")
