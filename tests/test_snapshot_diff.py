"""snapshot_row_diff: row-level two-snapshot delta — status
classification, null-safe column comparison, multi-column keys,
default compare-column inference, and plan shape."""

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import checks


def _frames(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None),
         (4, None, 4.0), (5, "e", 5.0)],
        "k int, s string, v double")
    new = spark.createDataFrame(
        [(1, "a", 1.0),          # unchanged
         (2, "B", 2.5),          # both columns changed
         (3, "c", None),         # both-NULL v → unchanged
         (4, "d", 4.0),          # NULL → value = changed
         (6, "f", 6.0)],         # added (5 removed)
        "k int, s string, v double")
    return old, new


def test_statuses_and_changed_cols(spark) -> None:
    old, new = _frames(spark)
    rows = {r["k"]: (r["status"], r["changed_cols"])
            for r in checks.snapshot_row_diff(old, new, "k").collect()}
    assert rows == {
        2: ("changed", "s,v"),
        4: ("changed", "s"),
        5: ("removed", None),
        6: ("added", None),
    }


def test_multi_column_key(spark) -> None:
    old = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11)], "k1 int, k2 string, v int")
    new = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 99)], "k1 int, k2 string, v int")
    rows = checks.snapshot_row_diff(old, new, ["k1", "k2"]).collect()
    assert [(r["k1"], r["k2"], r["status"], r["changed_cols"])
            for r in rows] == [(1, "y", "changed", "v")]


def test_default_compare_cols_skip_type_changed(spark) -> None:
    """A column whose type changed between snapshots is a schema
    delta, not a value diff; the default inference must skip it, not
    crash."""
    old = spark.createDataFrame([(1, 5, "a")], "k int, t int, s string")
    new = spark.createDataFrame([(1, "5", "b")],
                                "k int, t string, s string")
    rows = checks.snapshot_row_diff(old, new, "k").collect()
    assert [(r["k"], r["changed_cols"]) for r in rows] == [(1, "s")]


def test_plan_one_join_no_cartesian(spark) -> None:
    old, new = _frames(spark)
    plan = checks.snapshot_row_diff(old, new, "k")._jdf \
        .queryExecution().optimizedPlan().toString()
    assert plan.count("Join FullOuter") == 1
    assert "Cartesian" not in plan


def test_array_columns_structural(spark) -> None:
    old = spark.createDataFrame(
        [(1, [1, 2]), (2, [3])], "k int, a array<int>")
    new = spark.createDataFrame(
        [(1, [1, 2]), (2, [3, 4])], "k int, a array<int>")
    rows = checks.snapshot_row_diff(old, new, "k").collect()
    assert [(r["k"], r["status"]) for r in rows] == [(2, "changed")]


def test_incremental_validation_targets(spark) -> None:
    old, new = _frames(spark)
    got = sorted(r["k"] for r in checks.incremental_validation_targets(
        old, new, "k").collect())
    # changed (2, 4) + added (6); unchanged (1, 3) and removed (5) out
    assert got == [2, 4, 6]


def test_incremental_targets_duplicate_keys(spark) -> None:
    """Duplicate keys: if ANY pair under a key differs, EVERY new row
    of that key is a target (semi-join on the delta KEY set) — the
    conservative choice for revalidation."""
    old = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "x")], "k int, s string")
    new = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "x")], "k int, s string")
    got = sorted((r["k"], r["s"])
                 for r in checks.incremental_validation_targets(
                     old, new, "k").collect())
    assert got == [(1, "a"), (1, "a")]
