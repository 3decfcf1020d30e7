"""Dataset-level checks: single-pass stats (incl. HLL accuracy vs
exact), drift frames, duplicate/referential behavior on crafted
violations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import checks


@pytest.fixture(scope="module")
def orders(spark):
    df = spark.read.parquet(
        "/root/testdata/sf0.01/orders.parquet"
    ).cache()
    yield df
    # unpersist: a lingering cache entry for this path replaces the
    # parquet scan in OTHER tests' plans (kills ReadSchema/
    # PushedFilters assertions in test_plan_quality)
    df.unpersist()


def test_column_stats_single_pass(spark, orders) -> None:
    df = checks.column_stats(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ONE aggregation pass for all columns: exactly one shuffle
    assert plan.count("Exchange") == 1
    rows = {r["col_name"]: r for r in df.collect()}
    assert rows["o_orderkey"]["null_count"] == 0
    assert rows["o_orderkey"]["n_rows"] == orders.count()


def test_hll_accuracy_within_rsd(spark, orders) -> None:
    got = {
        r["col_name"]: r["approx_distinct"]
        for r in checks.column_stats(orders, ["o_custkey"]).collect()
    }
    exact = orders.select("o_custkey").distinct().count()
    assert abs(got["o_custkey"] - exact) / exact < 0.15  # 3×rsd


def test_exact_quantile_drift_frame_self_is_zero(spark, orders) -> None:
    out = checks.exact_quantile_drift_frame(
        orders, orders, "o_totalprice"
    ).collect()
    assert len(out) == 7
    assert all(r["rel_gap"] == 0.0 and not r["drifted"] for r in out)


def test_cross_modal_conflicts(spark) -> None:
    """One melted scan finds both conflict families; the two-distinct
    threshold and NULL exclusion pinned; single-aggregation plan (≤2
    Exchanges: partial-distinct + final)."""
    from cerberus_cpp_spark.operators.checks import cross_modal_conflicts

    df = spark.createDataFrame(
        [
            # phash 1 carries two captions; caption "c" sits on 3 ids
            ("i1", 1, "a"), ("i2", 1, "b"),
            ("i3", 2, "c"), ("i4", 2, "c"),   # same caption = no conflict
            ("i5", 3, "c"), ("i6", 4, "c"),
            ("i7", None, "d"), ("i8", 5, None),   # NULLs excluded
        ],
        "image_id string, phash int, caption string",
    )
    rows = {(r["kind"], r["key"]): (r["n_rows"], r["n_distinct_other"])
            for r in cross_modal_conflicts(df).collect()}
    assert rows == {
        ("phash~caption", "1"): (2, 2),
        ("caption~image_id", "c"): (4, 4),
    }
    plan = (cross_modal_conflicts(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") <= 2, plan


def test_missing_time_buckets(spark) -> None:
    from datetime import datetime, timedelta, timezone

    from cerberus_cpp_spark.operators.checks import missing_time_buckets

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc) \
            .replace(tzinfo=None)

    # hours 0,1,2, [3,4 missing], 5, [6 missing], 7
    rows = [(1, t(0)), (2, t(1, 30)), (3, t(2)), (4, t(5)),
            (5, t(7)), (6, t(7, 59)), (7, None)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    gaps = sorted(
        (r["gap_start_bucket"], r["gap_end_bucket"], r["n_missing"])
        for r in missing_time_buckets(df, "ts").collect())
    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
               ) // 3600
    assert gaps == [(base + 3, base + 4, 2), (base + 6, base + 6, 1)]
    # no gaps → empty; every other hour of 60 → 29 one-hour gaps
    dense = spark.createDataFrame(
        [(i, t(0) + timedelta(hours=i)) for i in range(60)],
        "id long, ts timestamp")
    assert missing_time_buckets(dense, "ts").count() == 0
    odd = missing_time_buckets(dense.where("id % 2 = 0"), "ts").collect()
    assert len(odd) == 29 and {r["n_missing"] for r in odd} == {1}


def test_group_staleness(spark) -> None:
    from datetime import datetime, timezone

    from cerberus_cpp_spark.operators.checks import group_staleness

    def t(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc) \
            .replace(tzinfo=None)

    rows = [("live", t(10)), ("live", t(4)), ("dead", t(2)),
            ("dead", t(1)), ("mid", t(9))]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = {r["g"]: r["staleness_seconds"] for r in
           group_staleness(df, "ts", "g").collect()}
    assert got == {"live": 0, "mid": 3600, "dead": 8 * 3600}


def test_volume_anomalies(spark) -> None:
    from datetime import datetime, timezone

    from cerberus_cpp_spark.operators.checks import volume_anomalies

    def t(h, m):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc) \
            .replace(tzinfo=None)

    # 20 hours at ~6 events, one replay-storm hour at 60, one
    # half-dead hour at 1
    rows = []
    for h in range(20):
        n = 60 if h == 7 else (1 if h == 13 else 6)
        rows += [(h * 100 + m, t(h, m)) for m in range(n)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = volume_anomalies(df, "ts").collect()
    # 18 of 20 hours identical -> MAD = 0 -> robust_z NULL and ANY
    # deviation from the median flags
    assert {r["cnt"] for r in got} == {60, 1}
    assert all(r["mad"] == 0 and r["robust_z"] is None for r in got)
    # nonzero-MAD regime: counts 5..8 cycling, one 60-storm
    rows2 = []
    for h in range(20):
        n = 60 if h == 7 else 5 + h % 4
        rows2 += [(h * 100 + m, t(h, m)) for m in range(n)]
    df2 = spark.createDataFrame(rows2, "id long, ts timestamp")
    hot = volume_anomalies(df2, "ts").collect()
    assert {r["cnt"] for r in hot} == {60}
    assert all(r["mad"] > 0 and r["robust_z"] > 3.5 for r in hot)


def test_missing_time_buckets_property(spark) -> None:
    """Property: start from a dense bucket range, delete any interior
    subset — the reported gaps are EXACTLY the maximal runs of the
    deleted set (union of gap ranges == deleted buckets, one row per
    contiguous run)."""
    from datetime import datetime, timezone

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cerberus_cpp_spark.operators.checks import missing_time_buckets

    base = int(datetime(2024, 1, 1,
                        tzinfo=timezone.utc).timestamp()) // 3600

    @settings(max_examples=12, deadline=None)
    @given(st.integers(6, 18),
           st.sets(st.integers(1, 16), max_size=8))
    def check(n, removed):
        removed = {r for r in removed if r < n - 1}  # keep endpoints
        rows = [(h, datetime(2024, 1, 1 + h // 24, h % 24,
                             tzinfo=timezone.utc).replace(tzinfo=None))
                for h in range(n) if h not in removed]
        df = spark.createDataFrame(rows, "id long, ts timestamp")
        gaps = missing_time_buckets(df, "ts").collect()
        got = set()
        for r in gaps:
            lo = r["gap_start_bucket"] - base
            hi = r["gap_end_bucket"] - base
            assert r["n_missing"] == hi - lo + 1
            # each reported run is maximal: neighbors are present
            assert lo - 1 not in removed and hi + 1 not in removed
            got |= set(range(lo, hi + 1))
        assert got == removed

    check()


def test_missing_time_buckets_max_buckets_guard(spark) -> None:
    """ADVICE r4: one corrupt epoch-0 outlier must fail with an
    actionable message, not explode an outsized sequence. The guard
    is in-plan (assert_true woven into the exploded expression, so
    pruning cannot drop it); the test lowers ``max_buckets`` under the
    outlier's 54-year span of hours."""
    from datetime import datetime, timezone

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cerberus_cpp_spark.operators.checks import missing_time_buckets

    def t(y):
        return datetime(y, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)

    df = spark.createDataFrame(
        [(1, t(1970)), (2, t(2024)), (3, t(2024))],
        "id long, ts timestamp")
    with pytest.raises(SparkRuntimeException, match="max_buckets"):
        missing_time_buckets(df, "ts", max_buckets=100_000).collect()
    # a one-year span passes under the default bound
    year = df.where("id > 1").unionByName(spark.createDataFrame(
        [(4, t(2023))], "id long, ts timestamp"))
    assert missing_time_buckets(year, "ts").count() > 0
    with pytest.raises(ValueError):
        missing_time_buckets(df, "ts", max_buckets=0)
