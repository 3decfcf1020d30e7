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


@pytest.mark.parametrize("capacity", [4, 64, 256])
def test_heavy_hitters_match_exact(spark, capacity) -> None:
    rows = _zipfish_rows(8000)
    df = spark.createDataFrame(rows, "k long").repartition(8)
    got = {
        r["k"]: (r["cnt"], r["share"])
        for r in checks.heavy_hitters(
            df, "k", min_share=0.02, capacity=capacity
        ).collect()
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


def test_heavy_hitters_min_count_and_stricter_combined(spark) -> None:
    rows = [(1,)] * 30 + [(2,)] * 12 + [(i,) for i in range(50, 108)]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    by_count = checks.heavy_hitters(df, "k", min_count=12).collect()
    assert {r["k"] for r in by_count} == {1, 2}
    # min_share=0.2 of 100 → 20 is stricter than min_count=12
    both = checks.heavy_hitters(
        df, "k", min_count=12, min_share=0.2
    ).collect()
    assert {r["k"] for r in both} == {1}


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
    got = checks.heavy_hitters(df, "k", min_share=0.1, capacity=16)
    assert {(r["k"], r["cnt"]) for r in got.collect()} == {("hot", 20)}


def test_heavy_hitters_requires_threshold(spark) -> None:
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k")
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k", min_share=1.5)


def test_heavy_hitters_capacity_autowiden(spark) -> None:
    # capacity=2 with min_share=0.05 must auto-widen to 20, keeping
    # the completeness guarantee: 3 keys above 5% of 1000 rows.
    rows = [(1,)] * 100 + [(2,)] * 80 + [(3,)] * 60
    rows += [(i,) for i in range(1000, 1760)]
    df = spark.createDataFrame(rows, "k long").repartition(8)
    got = checks.heavy_hitters(df, "k", min_share=0.05, capacity=2)
    assert {r["k"] for r in got.collect()} == {1, 2, 3}


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


def test_categorical_drift_report(spark) -> None:
    df = spark.range(0, 600, 1, 4).select(
        F.col("id"),
        F.expr(
            "IF(id % 2 = 0, element_at(array('x','y'), "
            "cast(id % 2 as int) + 1), IF(id % 3 = 0, 'x', 'y'))"
        ).alias("c"),
    )
    d = checks.categorical_drift_tagged(df, F.expr("id % 2"), "c")
    rep = checks.categorical_drift_report(d, l_inf_tolerance=0.01)
    assert rep["categories"] == 2
    assert rep["drifted"] is True
    assert 0.0 < rep["tvd"] <= 1.0
    # identical snapshots → zero drift
    same = checks.categorical_drift_tagged(
        spark.range(0, 100, 1, 4).select(
            F.col("id"), F.expr("IF(id < 50, 'a', 'a')").alias("c")
        ),
        F.expr("id % 2"),
        "c",
    )
    rep0 = checks.categorical_drift_report(same)
    assert rep0["l_inf"] == 0.0 and rep0["drifted"] is False
    assert rep0["psi"] == 0.0
    # PSI cross-check against a hand computation on the drifted frame
    import math as m
    manual = 0.0
    for r in d.collect():
        pa = max(r["share_a"], 1e-6)
        pb = max(r["share_b"], 1e-6)
        manual += (pa - pb) * m.log(pa / pb)
    assert abs(rep["psi"] - manual) < 1e-12 and rep["psi"] > 0.0


def _ledger_frame(spark, rates):
    from cerberus_cpp_spark.operators.ledger import LEDGER_SCHEMA

    rows = []
    for i, rate in enumerate(rates):
        n = 1000
        bad = int(rate * n)
        rows.append({
            "run_id": "r", "partition_value": f"p={i}",
            "status": "done", "rows": n, "violations": bad,
            "invalid_rows": bad, "passed": bad == 0,
            "wall_sec": 0.1, "committed_at": 1.0, "lineage": "x",
        })
    return spark.createDataFrame(rows, LEDGER_SCHEMA)


def test_partition_anomalies_flags_outlier(spark) -> None:
    from cerberus_cpp_spark.operators.ledger import partition_anomalies

    # 11 partitions at ~2% invalid, one at 40%
    df = _ledger_frame(
        spark, [0.02, 0.021, 0.019, 0.02, 0.022, 0.018,
                0.02, 0.021, 0.019, 0.02, 0.022, 0.40])
    got = partition_anomalies(df).collect()
    assert [r["partition_value"] for r in got] == ["p=11"]
    r = got[0]
    assert r["rate"] == 0.4 and r["robust_z"] > 3.5


def test_partition_anomalies_mad_zero_degrades(spark) -> None:
    from cerberus_cpp_spark.operators.ledger import partition_anomalies

    # all partitions identical except one: MAD = 0 → flag any
    # deviation from the (constant) median
    df = _ledger_frame(spark, [0.05] * 9 + [0.06])
    got = partition_anomalies(df).collect()
    assert [r["partition_value"] for r in got] == ["p=9"]
    assert got[0]["mad"] == 0.0 and got[0]["robust_z"] is None


def test_partition_anomalies_clean_ledger_empty(spark) -> None:
    from cerberus_cpp_spark.operators.ledger import partition_anomalies

    df = _ledger_frame(spark, [0.02] * 8)
    assert partition_anomalies(df).count() == 0
    # zero-row partitions are skipped, not divided by zero
    zero = _ledger_frame(spark, [0.02] * 8)
    zero = zero.withColumn(
        "rows", F.when(F.col("partition_value") == "p=0", 0)
        .otherwise(F.col("rows")))
    assert partition_anomalies(zero).count() == 0


@pytest.mark.parametrize("fraction", [0.05, 0.5])
def test_heavy_hitters_sample_method_matches_exact(spark, fraction) -> None:
    # completeness is probabilistic, but at these fractions over this
    # distribution the Chernoff miss probability is astronomically
    # small — and the FINAL counts are exact by construction
    rows = _zipfish_rows(8000, seed=13)
    df = spark.createDataFrame(rows, "k long").repartition(8)
    got = {
        r["k"]: (r["cnt"], r["share"])
        for r in checks.heavy_hitters(
            df, "k", min_share=0.02, method="sample",
            sample_fraction=fraction,
        ).collect()
    }
    exact = _exact_counts(rows)
    total = sum(exact.values())
    thr = math.ceil(0.02 * total)
    want = {k: (c, c / total) for k, c in exact.items() if c >= thr}
    assert got == want


def test_heavy_hitters_sample_method_validation(spark) -> None:
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k", min_count=2, method="sample")
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k", min_share=0.1, method="sample",
                             sample_fraction=0.0)
    with pytest.raises(ValueError):
        checks.heavy_hitters(df, "k", min_share=0.1, method="nope")


def test_heavy_hitters_sample_jvm_only(spark) -> None:
    # the sample path must never leave the JVM: no Arrow/Python
    # evaluation nodes anywhere in the executed plan
    df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
    out = checks.heavy_hitters(df, "k", min_share=0.5, method="sample",
                               sample_fraction=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "ArrowEval" not in plan
    assert "PythonUDF" not in plan


def test_categorical_drift_multi_equals_per_column(spark) -> None:
    df = spark.range(0, 600, 1, 4).select(
        F.col("id"),
        F.expr("element_at(array('x','y','z'), cast(id % 3 as int) + 1)")
        .alias("c1"),
        F.expr("IF(id % 5 = 0, NULL, cast(id % 4 as int))").alias("c2"),
    )
    a, b = df.where("id % 2 = 0"), df.where("id % 2 = 1")
    multi = checks.categorical_drift_multi(a, b, ["c1", "c2"])
    rows = multi.collect()
    assert {r["col_name"] for r in rows} == {"c1", "c2"}
    for col in ("c1", "c2"):
        single = {
            str(r["category"]): (
                r["cnt_a"], r["cnt_b"], r["share_a"], r["share_b"],
                r["abs_gap"], r["chi2_term"],
            )
            for r in checks.categorical_drift(a, b, col).collect()
        }
        got = {
            r["category"]: (
                r["cnt_a"], r["cnt_b"], r["share_a"], r["share_b"],
                r["abs_gap"], r["chi2_term"],
            )
            for r in rows if r["col_name"] == col
        }
        assert got == single, col
    with pytest.raises(ValueError):
        checks.categorical_drift_multi(a, b, [])


def test_schema_drift(spark) -> None:
    a = spark.range(5).select(
        F.col("id"), F.lit("x").alias("s"), F.lit(1.0).alias("gone"))
    b = spark.range(5).select(
        F.col("id").cast("int").alias("id"), F.lit("x").alias("s"),
        F.lit(True).alias("new"))
    got = checks.schema_drift(a, b)
    assert got == {
        "added": ["new"],
        "removed": ["gone"],
        "changed": {"id": ("bigint", "int")},
    }


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
    out = checks.embedding_dim_drift_frame(a, b, rel_tolerance=0.1)
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


def test_embedding_dim_drift_tdigest_twin(spark) -> None:
    """The t-digest scale path agrees with the exact frame on which
    dims drifted (values approximate, verdicts equal at this gap)."""
    a = _vec_frame(spark)
    b = _vec_frame(spark, scale=(0,))
    exact = checks.embedding_dim_drift_frame(a, b, rel_tolerance=0.1)
    want: dict = {}
    for r in exact.collect():
        want[r["dim"]] = want.get(r["dim"], False) or r["drifted"]
    approx = checks.embedding_dim_drift(a, b, 4, rel_tolerance=0.1)
    assert {d: v["drifted"] for d, v in approx.items()} == want
    # a vector shorter than ``dim`` contributes nothing to the missing
    # dimensions instead of failing the job
    short = spark.createDataFrame([(9999, [0.5, -0.5])], a.schema)
    got = checks.embedding_dim_drift(
        a.unionByName(short), b.unionByName(short), 3, rel_tolerance=0.1)
    assert {d: v["drifted"] for d, v in got.items()} == {
        d: want[d] for d in range(3)}
    # a dimension with no data on either side reports NaN quantiles
    alone = checks.embedding_dim_drift(short, short, 3)
    assert all(math.isnan(q) for q in alone[2]["q_a"] + alone[2]["q_b"])
    # null vectors are skipped: every dimension still has data
    an = a.withColumn("embedding", F.when(
        F.col("id") % 5 != 0, F.col("embedding")))
    nulls = checks.embedding_dim_drift(an, an, 4)
    assert not any(v["drifted"] for v in nulls.values())
    assert all(math.isfinite(q) for v in nulls.values() for q in v["q_a"])
    with pytest.raises(ValueError, match=">= 1"):
        checks.embedding_dim_drift(a, b, 0)


def test_categorical_drift_report_high_cardinality_in_plan(spark) -> None:
    """Round-4 verdict #4: pointed at an id-like column the report
    folds in-plan — exact L-inf/TVD/chi2/PSI with the driver receiving
    ONE row, no per-category collect."""
    df = spark.range(0, 50_000, 1, 8).select(
        F.col("id"), F.col("id").cast("string").alias("c"))
    d = checks.categorical_drift_tagged(df, F.expr("id % 2"), "c")
    rep = checks.categorical_drift_report(d, l_inf_tolerance=1e-6)
    assert rep["categories"] == 50_000
    # every category lives on exactly one side: gap = 1/25000 each
    assert abs(rep["l_inf"] - 1 / 25_000) < 1e-12
    assert abs(rep["tvd"] - 1.0) < 1e-9 and rep["drifted"] is True


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
    """Two snapshots cost one tagged scan: tdigest_drift runs the jobs
    of tdigest_pair on the tagged frame, and embedding_dim_drift over
    every dimension runs the jobs of one tdigests_of call — never a
    scan per snapshot or per dimension."""
    df = _vec_frame(spark).select(
        "id", "embedding", (F.col("id") % 17).cast("double").alias("x"))
    a, b = df.where("id % 2 = 0"), df.where("id % 2 = 1")
    tagged = df.selectExpr("cast(id % 2 as long) as side", "x")
    drift = _jobs(spark, lambda: checks.tdigest_drift(a, b, "x"))
    pair = _jobs(spark, lambda: checks.tdigest_pair(tagged, "side", "x"))
    emb = _jobs(spark, lambda: checks.embedding_dim_drift(a, b, 4))
    digests = _jobs(spark, lambda: checks.tdigests_of(a, ["x"]))
    # both pins in one comparison, so a failure shows both
    assert (drift, emb) == (pair, digests)
