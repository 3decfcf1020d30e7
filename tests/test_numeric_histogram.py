"""Exact equi-width histograms (checks.numeric_histogram): bin
assignment and edge arithmetic, NULL/NaN/inf routing, the
degenerate single-value domain, and plan shape (two O(1)/O(bins)
aggregates, broadcast bounds)."""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.operators.checks import numeric_histogram


def test_exact_bins_and_edges(spark) -> None:
    rows = [(float(i),) for i in range(100)] + [
        (None,), (float("nan",),), (float("inf"),),
        (float("-inf"),)]
    df = spark.createDataFrame(rows, "x double")
    out = sorted(map(tuple, numeric_histogram(df, "x", bins=4)
                     .collect()))
    # bounds 0..99, width 24.75; non-finite rows excluded
    assert out == [
        (0, 0.0, 24.75, 25), (1, 24.75, 49.5, 25),
        (2, 49.5, 74.25, 25), (3, 74.25, 99.0, 25)]
    # x == hi clamps into the last bin (the least() rule)
    assert sum(r[3] for r in out) == 100


def test_degenerate_domain_and_guard(spark) -> None:
    df = spark.createDataFrame([(7.0,), (7.0,)], "x double")
    out = numeric_histogram(df, "x", bins=8).collect()
    assert len(out) == 1 and out[0]["bin"] == 0 \
        and out[0]["cnt"] == 2
    with pytest.raises(ValueError, match="bins"):
        numeric_histogram(df, "x", bins=0)


def test_plan_shape(spark) -> None:
    df = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) x")
    h = numeric_histogram(df, "x", bins=16)
    plan = h._jdf.queryExecution().executedPlan().toString()
    # bounds are broadcast, the bin aggregate partially aggregates
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan

