"""Count-min sketch (operators/sketch.py): never-underestimate
guarantee vs exact counts over hypothesis inputs, exact-recovery
when width beats cardinality, NULL routing, parameter guards, and
the partial-aggregation plan pin (the sketch Exchange ships cells,
not rows)."""

from __future__ import annotations

import collections

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.sketch import (
    cms_estimate,
    cms_sketch,
)


def _est(spark, values, width, depth, seed=0):
    df = spark.createDataFrame(
        [(v,) for v in values], "k string")
    sk = cms_sketch(df, "k", width=width, depth=depth, seed=seed)
    keys = df.where(F.col("k").isNotNull()).distinct()
    out = cms_estimate(sk, keys, "k",
                       width=width, depth=depth, seed=seed)
    return {r["k"]: r["est"] for r in out.collect()}


def test_never_underestimates_and_cell_bound(spark) -> None:
    values = [f"k{i % 7}" for i in range(100)] + [None] * 5
    true = collections.Counter(v for v in values if v is not None)
    est = _est(spark, values, width=8, depth=3)
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t
    df = spark.createDataFrame([(v,) for v in values], "k string")
    sk = cms_sketch(df, "k", width=8, depth=3)
    rows = sk.collect()
    # bounded cell table; per-row totals conserve the NULL-free mass
    assert len(rows) <= 8 * 3
    per_d = collections.Counter()
    for r in rows:
        per_d[r["d"]] += r["cnt"]
    assert all(v == 100 for v in per_d.values())


def test_exact_when_width_dominates(spark) -> None:
    # 3 keys in width 1024: collision probability ~ 0 under the
    # fixed md5 recipe — estimates recover exact counts
    values = ["a"] * 5 + ["b"] * 2 + ["c"]
    est = _est(spark, values, width=1024, depth=4)
    assert est == {"a": 5, "b": 2, "c": 1}


def test_param_guards(spark) -> None:
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="width"):
        cms_sketch(df, "k", width=1)
    with pytest.raises(ValueError, match="depth"):
        cms_sketch(df, "k", depth=0)
    with pytest.raises(ValueError, match="depth"):
        cms_estimate(df, df, "k", depth=99)


@given(st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                min_size=1, max_size=60),
       st.integers(min_value=2, max_value=8),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=12, deadline=None)
def test_overcount_property(spark, values, width, depth) -> None:
    true = collections.Counter(values)
    est = _est(spark, values, width=width, depth=depth, seed=3)
    total = len(values)
    for k, t in true.items():
        assert t <= est[k] <= total


def test_sketch_plan_partial_aggregates(spark) -> None:
    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "k string")
    sk = cms_sketch(df, "k", width=32, depth=4)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    # map-side partials: the Exchange ships sketch cells, not rows
    assert "partial_count" in plan
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------

from cerberus_cpp_spark.operators.sketch import (  # noqa: E402
    hll_estimate,
    hll_sketch,
)


def test_hll_accuracy_and_bounds(spark) -> None:
    df = spark.range(0, 10_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    sk = hll_sketch(df, "k", m=256)
    rows = sk.collect()
    assert len(rows) <= 256
    assert all(1 <= r["rho"] <= 49 for r in rows)
    est = hll_estimate(sk, m=256).collect()[0]
    assert est["n_set"] + est["n_zero"] == 256
    # raw HLL RSE at m=256 is ~6.5%; allow 3 sigma
    assert abs(est["estimate"] - 10_000) / 10_000 < 0.2
    # denom conserves: present terms + 2^49 per zero register
    assert est["denom"] > 0


def test_hll_dedup_invariance(spark) -> None:
    a = spark.range(0, 5_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    # duplicates cannot move the sketch: rho is a pure function of
    # the value and registers take max
    dup = a.unionByName(a).unionByName(a)
    assert sorted(map(tuple, hll_sketch(dup, "k", m=64).collect())) \
        == sorted(map(tuple, hll_sketch(a, "k", m=64).collect()))


def test_hll_param_guards_and_nulls(spark) -> None:
    df = spark.createDataFrame(
        [("a",), (None,)], "k string")
    with pytest.raises(ValueError, match="power of two"):
        hll_sketch(df, "k", m=48)
    with pytest.raises(ValueError, match="power of two"):
        hll_estimate(df, m=8)
    # NULLs skipped: single distinct value -> n_set == 1
    est = hll_estimate(hll_sketch(df, "k", m=16), m=16).collect()[0]
    assert est["n_set"] == 1 and est["n_zero"] == 15


def test_hll_plan_partial_aggregates(spark) -> None:
    df = spark.range(0, 100).select(
        F.col("id").cast("string").alias("k"))
    plan = (hll_sketch(df, "k", m=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------
# KMV / bottom-k
# ---------------------------------------------------------------

from cerberus_cpp_spark.operators.sketch import (  # noqa: E402
    kmv_estimate,
    kmv_jaccard,
    kmv_merge,
    kmv_sketch,
)


def test_kmv_estimate_regimes(spark) -> None:
    big = spark.range(0, 6_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    r = kmv_estimate(kmv_sketch(big, "k", k=256), k=256).collect()[0]
    assert r["n"] == 256
    # RSE ~ 1/sqrt(k-2) ~ 6.3%; allow 3 sigma
    assert abs(r["estimate"] - 6_000) / 6_000 < 0.2
    # below k the sketch IS the distinct set: exact, duplicates and
    # NULLs ignored
    small = spark.createDataFrame(
        [("a",), ("b",), ("a",), (None,)], "k string")
    r2 = kmv_estimate(kmv_sketch(small, "k", k=16), k=16).collect()[0]
    assert (r2["n"], r2["estimate"]) == (2, 2.0)


def test_kmv_merge_equals_whole(spark) -> None:
    a = spark.range(0, 5_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    b = spark.range(3_000, 8_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    m = kmv_merge(kmv_sketch(a, "k", k=128),
                  kmv_sketch(b, "k", k=128), k=128)
    w = kmv_sketch(a.unionByName(b), "k", k=128)
    assert sorted(map(tuple, m.collect())) == \
        sorted(map(tuple, w.collect()))


def test_kmv_jaccard(spark) -> None:
    # |A|=6000, |B|=6000, overlap 4000..5999 -> J = 2000/10000 = 0.2
    a = spark.range(0, 6_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    b = spark.range(4_000, 10_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    j = kmv_jaccard(kmv_sketch(a, "k", k=256),
                    kmv_sketch(b, "k", k=256), k=256).collect()[0]
    assert j["n_union_sample"] == 256
    assert abs(j["jaccard"] - 0.2) < 0.1
    # identical sets: exactly 1.0; disjoint small sets: exactly 0.0
    sa = kmv_sketch(a, "k", k=64)
    same = kmv_jaccard(sa, kmv_sketch(a, "k", k=64), k=64).collect()[0]
    assert same["jaccard"] == 1.0
    d1 = spark.createDataFrame([("x",)], "k string")
    d2 = spark.createDataFrame([("y",)], "k string")
    dis = kmv_jaccard(kmv_sketch(d1, "k", k=16),
                      kmv_sketch(d2, "k", k=16), k=16).collect()[0]
    assert (dis["n_union_sample"], dis["n_both"],
            dis["jaccard"]) == (2, 0, 0.0)


def test_kmv_guards_and_plan(spark) -> None:
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="k must"):
        kmv_sketch(df, "k", k=1)
    with pytest.raises(ValueError, match="at least one"):
        kmv_merge(k=4)
    big = spark.range(0, 1_000).select(
        F.col("id").cast("string").alias("k"))
    plan = (kmv_sketch(big, "k", k=64)
            ._jdf.queryExecution().executedPlan().toString())
    # bottom-k is a per-partition TakeOrdered, never a global Sort
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------
# stream == batch: both sketches are plain groupBy aggregates
# (count / max), so Structured Streaming maintains them NATIVELY —
# the 100 TB monitoring loop runs the SAME operator over readStream
# in complete mode and the result table converges to the batch
# sketch with no custom stateful code.
# ---------------------------------------------------------------


def _stream_sketch(spark, tmp_path, batch_df, op, name):
    src = str(tmp_path / name)
    batch_df.write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    expected = sorted(map(tuple, op(batch).collect()))
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (op(stream).writeStream.format("memory")
         .queryName(f"{name}_s").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.sql(f"SELECT * FROM {name}_s").collect()))
    assert got == expected and len(got) > 0


def test_stream_sketches_equal_batch(spark, tmp_path) -> None:
    df = spark.createDataFrame(
        [(f"k{i % 37}",) for i in range(500)], "k string")
    _stream_sketch(spark, tmp_path, df,
                   lambda d: cms_sketch(d, "k", width=16, depth=3),
                   "cms_s")
    _stream_sketch(spark, tmp_path, df,
                   lambda d: hll_sketch(d, "k", m=32), "hll_s")


def test_grouped_sketches(spark) -> None:
    """by= grouping: one scan yields per-group sketches; grouped
    estimates carry the group column."""
    df = spark.createDataFrame(
        [(i % 3, f"k{i % 40}") for i in range(200)],
        "g int, k string")
    gsk = hll_sketch(df, "k", m=32, by=("g",))
    est = hll_estimate(gsk, m=32, by=("g",)).collect()
    assert {r["g"] for r in est} == {0, 1, 2}
    assert all(r["n_set"] + r["n_zero"] == 32 for r in est)
    # per-group sketch == sketch of the group's slice
    one = hll_sketch(df.where("g = 1"), "k", m=32)
    assert sorted(map(tuple, gsk.where("g = 1")
                      .select("reg", "rho").collect())) == \
        sorted(map(tuple, one.collect()))
    # cms by= too: group slices agree
    gc = cms_sketch(df, "k", width=8, depth=2, by=("g",))
    c1 = cms_sketch(df.where("g = 2"), "k", width=8, depth=2)
    assert sorted(map(tuple, gc.where("g = 2")
                      .select("d", "cell", "cnt").collect())) == \
        sorted(map(tuple, c1.collect()))


def test_grouped_sketch_guards_and_grouped_estimates(spark) -> None:
    """A grouped sketch passed WITHOUT by= is rejected (the min over
    per-group counts would silently UNDERESTIMATE, breaking the CMS
    one-sided guarantee); with by= the per-group estimates hold the
    guarantee per group."""
    df = spark.createDataFrame(
        [("a" if i % 2 else "b", "k") for i in range(20)],
        "g string, k string")
    gsk = cms_sketch(df, "k", width=8, depth=2, by=("g",))
    keys = spark.createDataFrame([("k",)], "k string")
    with pytest.raises(ValueError, match="sketch columns"):
        cms_estimate(gsk, keys, "k", width=8, depth=2)
    with pytest.raises(ValueError, match="sketch columns"):
        hll_estimate(hll_sketch(df, "k", m=16, by=("g",)), m=16)
    est = {r["g"]: r["est"]
           for r in cms_estimate(gsk, keys, "k", width=8, depth=2,
                                 by=("g",)).collect()}
    assert est == {"a": 10, "b": 10}


def test_kmv_set_ops(spark) -> None:
    """Set-algebra estimates: exact end-to-end below k; above k,
    each piece within noise and internally consistent (union =
    inter + a_only + b_only by construction of the shares)."""
    from cerberus_cpp_spark.operators.sketch import kmv_set_ops

    sa = kmv_sketch(spark.createDataFrame(
        [("x",), ("y",)], "k string"), "k", k=16)
    sb = kmv_sketch(spark.createDataFrame(
        [("y",), ("z",)], "k string"), "k", k=16)
    r = kmv_set_ops(sa, sb, k=16).collect()[0]
    assert (r["union_est"], r["inter_est"],
            r["a_only_est"], r["b_only_est"]) == (3.0, 1.0, 1.0, 1.0)
    assert (r["n_both"], r["n_a_only"], r["n_b_only"]) == (1, 1, 1)
    a = spark.range(0, 6000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    b = spark.range(4000, 10000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    r = kmv_set_ops(kmv_sketch(a, "k", k=256),
                    kmv_sketch(b, "k", k=256), k=256).collect()[0]
    assert abs(r["union_est"] - 10_000) / 10_000 < 0.2
    assert abs(r["inter_est"] - 2_000) / 2_000 < 0.5
    assert abs(r["a_only_est"] - 4_000) / 4_000 < 0.4
    # shares partition the sample exactly
    assert r["n_both"] + r["n_a_only"] + r["n_b_only"] == \
        r["n_union_sample"]
    assert abs(r["inter_est"] + r["a_only_est"] + r["b_only_est"]
               - r["union_est"]) < 1e-9
    # grouped/extra-column sketches are rejected
    with pytest.raises(ValueError, match="sketch columns"):
        kmv_set_ops(sa.withColumn("g", F.lit(1)), sb, k=16)
