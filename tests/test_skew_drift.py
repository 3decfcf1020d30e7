"""Heavy hitters (Misra-Gries candidates + exact verify) and
categorical frequency drift — the round-4 additions to the dataset
check family (north_rule: "skew from hot phash buckets ... handled
with explicit salting" needs a detector; north_star: "distribution-
drift detection ... compared across snapshots" gets its categorical
complement)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import checks

HOT = 0x5A5A5A5A5A5A5A5A  # > 2^53: catches float round-tripping


def _zipfish_rows(n: int, seed: int = 7) -> list[tuple[int]]:
    rng = random.Random(seed)
    pool = [0] * 60 + [1] * 25 + list(range(2, 400))
    return [(rng.choice(pool),) for _ in range(n)]


def _exact_counts(rows) -> dict:
    out: dict = {}
    for (k,) in rows:
        if k is None:
            continue
        out[k] = out.get(k, 0) + 1
    return out


@pytest.mark.parametrize("parts", [4, 64, 256])
def test_heavy_hitters_match_exact(spark, parts) -> None:
    """Completeness is argued per partition, so it must hold however
    the rows split: 2,000 rows per partition (the 50 Misra-Gries
    counters prune hard), 125 (they prune a little) and ~31 (they
    never fill)."""
    rows = _zipfish_rows(8000)
    df = spark.createDataFrame(rows, "k long").repartition(parts)
    got = {
        r["k"]: (r["cnt"], r["share"])
        for r in checks.heavy_hitters(df, "k", min_share=0.02).collect()
    }
    exact = _exact_counts(rows)
    total = sum(exact.values())
    thr = math.ceil(0.02 * total)
    want = {k: c for k, c in exact.items() if c >= thr}
    assert set(got) == set(want)
    for k, c in want.items():
        assert got[k] == (c, c / total)


def test_heavy_hitters_threshold_boundary(spark) -> None:
    # 100 rows: key 7 exactly at ceil(0.1*100)=10, key 8 at 9.
    rows = [(7,)] * 10 + [(8,)] * 9 + [(i,) for i in range(100, 181)]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    got = checks.heavy_hitters(df, "k", min_share=0.1).collect()
    assert {(r["k"], r["cnt"]) for r in got} == {(7, 10)}


def test_heavy_hitters_nulls_ignored(spark) -> None:
    rows = [(None,)] * 50 + [(1,)] * 10 + [(i,) for i in range(100, 140)]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    got = checks.heavy_hitters(df, "k", min_share=0.2).collect()
    # share denominator is the 50 NON-null rows: 10/50 = 0.2 passes
    assert {(r["k"], r["cnt"], r["share"]) for r in got} == {(1, 10, 0.2)}


def test_heavy_hitters_int64_keys_survive_exactly(spark) -> None:
    # Regression: keys > 2^53 must not round through float64 in the
    # Arrow partial frames (the initial implementation lost the low
    # bits of 0x5A5A5A5A5A5A5A5A this way).
    rows = [(HOT,)] * 40 + [(HOT + 1,)] * 3 + [(HOT - 9,)] * 3
    df = spark.createDataFrame(rows, "k long").repartition(4)
    got = checks.heavy_hitters(df, "k", min_share=0.5).collect()
    assert {(r["k"], r["cnt"]) for r in got} == {(HOT, 40)}


def test_heavy_hitters_string_keys(spark) -> None:
    rows = [("hot",)] * 20 + [(f"u{i}",) for i in range(80)]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    got = checks.heavy_hitters(df, "k", min_share=0.1)
    assert {(r["k"], r["cnt"]) for r in got.collect()} == {("hot", 20)}


def test_heavy_hitters_requires_threshold(spark) -> None:
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(TypeError):
        checks.heavy_hitters(df, "k")  # min_share is required
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k", min_share=1.5)


def test_heavy_hitters_prunes_yet_finds_key_at_exactly_min_share(
        spark) -> None:
    """``min_share=0.1`` gives ceil(1/0.1) = 10 Misra-Gries counters.
    Each of 4 partitions holds 100 rows: HOT exactly 10 times, HOT+1
    nine times and 81 distinct keys, far more than 10, so every
    partition's summary is pruned. HOT at exactly 10% must still be
    found, with its exact count; HOT+1 survives pruning as a candidate
    and the exact count then drops it."""
    df = spark.range(0, 400, 1, 4).select(
        F.when(F.col("id") % 100 < 10, F.lit(HOT))
        .when(F.col("id") % 100 < 19, F.lit(HOT + 1))
        .otherwise(F.col("id")).alias("k"))
    summary = checks._mg_partials(df, "k", 10).where(~F.col("is_total"))
    assert sorted(r["key"] for r in summary.collect()) == \
        [HOT] * 4 + [HOT + 1] * 4
    got = checks.heavy_hitters(df, "k", min_share=0.1).collect()
    assert {(r["k"], r["cnt"], r["share"]) for r in got} == {
        (HOT, 40, 0.1)}


def test_mg_pass_is_narrow(spark) -> None:
    # Pass 1 must be a scan → mapInPandas with NO Exchange upstream.
    df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
    plan = checks._mg_partials(df, "k", 8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def _manual_drift(rows_a, rows_b):
    ca, cb = _exact_counts(rows_a), _exact_counts(rows_b)
    ta, tb = sum(ca.values()), sum(cb.values())
    out = {}
    for cat in set(ca) | set(cb):
        sa = ca.get(cat, 0) / ta
        sb = cb.get(cat, 0) / tb
        out[cat] = (
            ca.get(cat, 0), cb.get(cat, 0), sa, sb, abs(sa - sb),
            ((sa - sb) * (sa - sb)) / (sa + sb),
        )
    return out


def test_categorical_drift_matches_manual(spark) -> None:
    rng = random.Random(11)
    rows_a = [(rng.choice("aabbc"),) for _ in range(400)]
    rows_b = [(rng.choice("abccd"),) for _ in range(300)]
    a = spark.createDataFrame(rows_a, "c string").repartition(4)
    b = spark.createDataFrame(rows_b, "c string").repartition(4)
    got = {
        r["category"]: (
            r["cnt_a"], r["cnt_b"], r["share_a"], r["share_b"],
            r["abs_gap"], r["chi2_term"],
        )
        for r in checks.categorical_drift(a, b, "c").collect()
    }
    assert got == _manual_drift(rows_a, rows_b)


def test_categorical_drift_tagged_equals_two_frame(spark) -> None:
    df = spark.range(0, 500, 1, 4).select(
        F.col("id"),
        F.expr("element_at(array('x','y','z'), cast(id % 3 as int) + 1)")
        .alias("c"),
    )
    tagged = checks.categorical_drift_tagged(df, F.expr("id % 2"), "c")
    two = checks.categorical_drift(
        df.where("id % 2 = 0"), df.where("id % 2 = 1"), "c"
    )
    key = lambda r: r["category"]  # noqa: E731
    assert sorted(tagged.collect(), key=key) == sorted(
        two.collect(), key=key
    )


def test_categorical_drift_one_sided_category_and_nulls(spark) -> None:
    a = spark.createDataFrame([("x",)] * 5 + [(None,)] * 5, "c string")
    b = spark.createDataFrame([("y",)] * 4, "c string")
    got = {r["category"]: r for r in
           checks.categorical_drift(a, b, "c").collect()}
    assert set(got) == {"x", "y"}
    # null rows excluded from the denominator: share_x_in_a = 5/5
    assert got["x"]["share_a"] == 1.0 and got["x"]["cnt_b"] == 0
    assert got["y"]["share_b"] == 1.0 and got["y"]["cnt_a"] == 0
    assert got["x"]["chi2_term"] == 1.0  # (1-0)^2/(1+0)


def _vec_frame(spark, scale: tuple = (), n: int = 200):
    """n deterministic 4-dim vectors; dims in ``scale`` multiplied."""
    rows = []
    for i in range(n):
        v = [((i * 37 + d * 13) % 101 - 50) / 25.0 for d in range(4)]
        for d in scale:
            v[d] *= 2.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "id long, embedding array<double>")


def test_embedding_dim_drift_frame(spark) -> None:
    """Scaled dims drift (rel gap exactly 0.5 for a ×2 scale — the
    quantile commutes with a positive scale), unscaled dims don't."""
    a = _vec_frame(spark)
    b = _vec_frame(spark, scale=(1, 3))
    out = checks.embedding_dim_drift_frame(a, b)
    rows = out.collect()
    assert len(rows) == 4 * 5  # dims × probs
    by_dim = {}
    for r in rows:
        by_dim.setdefault(r["dim"], []).append(r)
    for d in (0, 2):
        assert all(not r["drifted"] and r["rel_gap"] == 0.0
                   for r in by_dim[d])
    for d in (1, 3):
        # the planted median is exactly 0 (scale-invariant); every
        # other quantile shows the exact 0.5 rel gap of a ×2 scale
        for r in by_dim[d]:
            if r["prob"] == 0.5:
                continue
            assert r["drifted"]
            assert abs(r["rel_gap"] - 0.5) < 1e-9
            assert abs(r["q_b"] - 2.0 * r["q_a"]) < 1e-9


def test_embedding_dim_drift_frame_null_vectors_skipped(spark) -> None:
    a = _vec_frame(spark)
    withnull = a.unionByName(spark.createDataFrame(
        [(9999, None)], a.schema))
    out = checks.embedding_dim_drift_frame(withnull, a)
    assert not any(r["drifted"] for r in out.collect())


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    group = f"drift-jobs-{random.getrandbits(64):x}"
    sc.setJobGroup(group, "drift job-count pin")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_drift_two_snapshots_one_scan_job_counts(spark) -> None:
    """Two snapshots cost one tagged scan: tdigest_pair over both sides
    runs the jobs of a tdigest_pair whose second side is empty, never
    a scan per snapshot."""
    df = _vec_frame(spark).select(
        "id", (F.col("id") % 17).cast("double").alias("x"))
    tagged = df.selectExpr("cast(id % 2 as long) as side", "x")
    pair = _jobs(spark, lambda: checks.tdigest_pair(tagged, "side", "x"))
    one = _jobs(spark, lambda: checks.tdigest_pair(
        tagged.where("side = 0"), "side", "x"))
    assert pair == one
