"""Deterministic split/sample operators: md5-bucket arithmetic parity
with DuckDB, layout-invariance, weight accuracy, the stratified exact
path, cluster-safe assignment, and plan shape (narrow paths add zero
Exchanges)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import split as sp


def _keys(spark, n=4000):
    return spark.range(n).select(F.col("id").alias("k"))


# ---------------------------------------------------------------------------
# bucket arithmetic
# ---------------------------------------------------------------------------

def test_bucket_matches_duckdb(spark) -> None:
    """The portable arithmetic contract: Spark's conv(md5) bucket and
    the documented DuckDB CAST('0x..') replay agree bit-for-bit."""
    got = {
        r["k"]: r["b"]
        for r in _keys(spark, 500)
        .select("k", sp.split_bucket("k", seed=42).alias("b"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            """
            SELECT k,
                   CAST(concat('0x', substr(
                        md5(concat_ws(':', CAST(k AS VARCHAR), '42')),
                        1, 12)) AS BIGINT) % 1000000 AS b
            FROM range(500) t(k)
            """
        ).fetchall()
    )
    assert got == want


def test_bucket_layout_invariant(spark) -> None:
    df = _keys(spark)
    a = dict(
        df.select("k", sp.split_bucket("k").alias("b")).collect()
    )
    b = dict(
        df.repartition(13, "k")
        .sortWithinPartitions(F.desc("k"))
        .select("k", sp.split_bucket("k").alias("b"))
        .collect()
    )
    assert a == b


def test_null_key_deterministic(spark) -> None:
    df = spark.createDataFrame([(None,), (None,)], "k string")
    vals = [
        r["b"] for r in df.select(sp.split_bucket("k", 7).alias("b")).collect()
    ]
    assert vals[0] == vals[1] and vals[0] is not None


def test_seed_changes_assignment(spark) -> None:
    df = _keys(spark, 1000)
    a = dict(df.select("k", sp.split_bucket("k", 0).alias("b")).collect())
    b = dict(df.select("k", sp.split_bucket("k", 1).alias("b")).collect())
    assert sum(1 for k in a if a[k] != b[k]) > 900


# ---------------------------------------------------------------------------
# assign_splits
# ---------------------------------------------------------------------------

def test_assign_weights(spark) -> None:
    out = (
        sp.assign_splits(
            _keys(spark, 20000), "k",
            {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3,
        )
        .groupBy("split")
        .count()
        .collect()
    )
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000
    # binomial 3-sigma at n=20k: train ±0.0085, val/test ±0.0064
    assert abs(counts["train"] / 20000 - 0.8) < 0.01
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    assert abs(counts["test"] / 20000 - 0.1) < 0.01


def test_assign_unnormalized_and_order(spark) -> None:
    """Weights normalize; dict order defines ranges, so 8/1/1 equals
    0.8/0.1/0.1 exactly."""
    df = _keys(spark, 3000)
    a = sp.assign_splits(df, "k", {"t": 8, "v": 1, "x": 1}).collect()
    b = sp.assign_splits(df, "k", {"t": 0.8, "v": 0.1, "x": 0.1}).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_assign_single_split_and_errors(spark) -> None:
    df = _keys(spark, 10)
    assert (
        sp.assign_splits(df, "k", {"all": 1.0})
        .where("split = 'all'")
        .count()
        == 10
    )
    with pytest.raises(ValueError):
        sp._thresholds({})
    with pytest.raises(ValueError):
        sp._thresholds({"a": -1.0, "b": 2.0})


def test_assign_no_exchange(spark, tmp_path) -> None:
    """The narrow paths stay narrow: assignment and hash sampling over
    a raw scan add zero Exchanges."""
    p = str(tmp_path / "t.parquet")
    _keys(spark, 100).write.parquet(p)
    df = spark.read.parquet(p)
    for out in (
        sp.assign_splits(df, "k", {"a": 0.5, "b": 0.5}),
        sp.weighted_hash_sample(df, F.lit(0.25), "k"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def test_stratified_exact_sample(spark) -> None:
    df = _keys(spark, 3000).withColumn("s", (F.col("k") % 4).cast("int"))
    out = sp.stratified_exact_sample(df, "s", 25, "k", seed=9)
    counts = {
        r["s"]: r["count"] for r in out.groupBy("s").count().collect()
    }
    assert counts == {0: 25, 1: 25, 2: 25, 3: 25}
    # deterministic under relayout
    again = sp.stratified_exact_sample(
        df.repartition(7), "s", 25, "k", seed=9
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    # short stratum: returns all of it
    tiny = df.where("k < 10")
    assert sp.stratified_exact_sample(tiny, "s", 25, "k").count() == 10


# ---------------------------------------------------------------------------
# cluster-safe splits
# ---------------------------------------------------------------------------

def test_cluster_safe_splits(spark) -> None:
    docs = _keys(spark, 200).select(F.col("k").alias("doc_id"))
    # docs 0..39 clustered in pairs (0,1)->0, (2,3)->2, ...
    clusters = spark.range(40).select(
        F.col("id").alias("doc_id"),
        (F.col("id") - F.col("id") % 2).alias("cluster_id"),
    )
    out = sp.cluster_safe_splits(
        docs, clusters, {"train": 0.7, "val": 0.3}, seed=11
    )
    rows = {r["doc_id"]: (r["split_key"], r["split"]) for r in out.collect()}
    assert len(rows) == 200
    for d in range(0, 40, 2):
        assert rows[d] == rows[d + 1]          # pair shares key+split
        assert rows[d][0] == d                  # keyed by cluster head
    # singletons key their own id and match plain assign_splits
    plain = {
        r["doc_id"]: r["split"]
        for r in sp.assign_splits(
            docs, "doc_id", {"train": 0.7, "val": 0.3}, seed=11
        ).collect()
    }
    for d in range(40, 200):
        assert rows[d] == (d, plain[d])


def test_stratified_exact_sample_oversized_stratum_guard(spark) -> None:
    """Round-4 verdict #5: a stratum past max_stratum_rows fails with
    the observed size instead of silently single-task-sorting it."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.range(0, 10_000, 1, 8).select(
        F.col("id"), (F.col("id") % 2).alias("label"))
    with pytest.raises(SparkRuntimeException, match="max_stratum_rows"):
        sp.stratified_exact_sample(
            df, "label", 3, "id", max_stratum_rows=1000).collect()
    # under the bound (or disabled): identical exact sample
    a = sp.stratified_exact_sample(
        df, "label", 3, "id", max_stratum_rows=5000).collect()
    b = sp.stratified_exact_sample(
        df, "label", 3, "id", max_stratum_rows=None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 6
    with pytest.raises(ValueError):
        sp.stratified_exact_sample(df, "label", 3, "id",
                                      max_stratum_rows=0)


# ---------------------------------------------------------------------------
# mixture_sample — data-mixing (language/domain ratios)
# ---------------------------------------------------------------------------

def _grouped(spark, counts: dict[str, int]):
    rows = []
    i = 0
    for g, n in counts.items():
        for _ in range(n):
            rows.append((i, g))
            i += 1
    return spark.createDataFrame(rows, "k long, g string").repartition(8)


def test_mixture_sample_binding_group_and_ratios(spark) -> None:
    """T = min(count/p): the binding group keeps 100% of itself;
    every group's keep rate is T*p/count; observed shares land within
    binomial noise of the targets; rows outside targets are dropped."""
    df = _grouped(spark, {"en": 4000, "zh": 900, "es": 700, "junk": 500})
    targets = {"en": 0.5, "zh": 0.3, "es": 0.2}
    out = sp.mixture_sample(df, "g", targets, key="k", seed=7).cache()
    by = {r["g"]: r["n"] for r in
          out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "junk" not in by
    # T = min(4000/0.5, 900/0.3, 700/0.2) = 3000 — zh binds
    t = min(4000 / 0.5, 900 / 0.3, 700 / 0.2)
    assert by["zh"] == 900  # the binding group keeps everything
    for g, p in targets.items():
        exp = t * p
        sd = (exp * (1 - p)) ** 0.5
        assert abs(by[g] - exp) <= 5 * sd + 1, (g, by[g], exp)


def test_mixture_sample_deterministic_and_stable(spark) -> None:
    df = _grouped(spark, {"a": 500, "b": 300})
    t = {"a": 0.6, "b": 0.4}
    k1 = sorted(r["k"] for r in sp.mixture_sample(df, "g", t, "k").collect())
    k2 = sorted(r["k"] for r in sp.mixture_sample(
        df.repartition(3), "g", t, "k").collect())
    assert k1 == k2 and len(k1) > 0
    # sampled set is a subset of a larger-T run? Not guaranteed across
    # different counts; but same input twice must agree exactly.


def test_mixture_sample_max_total(spark) -> None:
    df = _grouped(spark, {"a": 2000, "b": 2000})
    t = {"a": 0.5, "b": 0.5}
    full = sp.mixture_sample(df, "g", t, "k").count()
    capped = sp.mixture_sample(df, "g", t, "k", max_total=400)
    by = {r["g"]: r["n"] for r in
          capped.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert full > 3600  # T=4000, thinned only by bucket rounding
    for g in t:
        assert abs(by[g] - 200) <= 5 * (200 * 0.5) ** 0.5 + 1


def test_mixture_sample_missing_group_fails(spark) -> None:
    df = _grouped(spark, {"a": 100})
    with pytest.raises(Exception, match="target groups present"):
        sp.mixture_sample(df, "g", {"a": 0.5, "ghost": 0.5}, "k").count()


def test_mixture_sample_guards(spark) -> None:
    df = _grouped(spark, {"a": 10})
    with pytest.raises(ValueError, match="non-empty"):
        sp.mixture_sample(df, "g", {}, "k")
    with pytest.raises(ValueError, match="> 0"):
        sp.mixture_sample(df, "g", {"a": 0.0}, "k")
    with pytest.raises(ValueError, match="max_total"):
        sp.mixture_sample(df, "g", {"a": 1.0}, "k", max_total=-1)


def test_mixture_sample_matches_duckdb(spark) -> None:
    """Full-arithmetic oracle parity: counts, T, per-group thresholds,
    and the md5 bucket predicate replayed in SQL — row sets EXACT."""
    df = _grouped(spark, {"en": 800, "zh": 300, "es": 150})
    targets = {"en": 0.5, "zh": 0.3, "es": 0.2}
    got = sorted(r["k"] for r in
                 sp.mixture_sample(df, "g", targets, "k", seed=3).collect())
    rows = df.collect()
    con = duckdb.connect()
    con.sql("CREATE TABLE t (k BIGINT, g VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(r["k"], r["g"]) for r in rows])
    want = sorted(v[0] for v in con.sql("""
        WITH p AS (
          SELECT * FROM (VALUES ('en', CAST(0.5 AS DOUBLE)),
                                ('zh', CAST(0.3 AS DOUBLE)),
                                ('es', CAST(0.2 AS DOUBLE))) v(g, p)
        ),
        c AS (
          SELECT t.g, COUNT(*) AS cnt, any_value(p.p) AS p
          FROM t JOIN p ON t.g = p.g GROUP BY t.g
        ),
        tm AS (SELECT MIN(cnt / p) AS tv FROM c),
        r AS (
          SELECT c.g, tm.tv * c.p / c.cnt * 1000000 AS thr
          FROM c, tm
        )
        SELECT t.k FROM t JOIN r ON t.g = r.g
        WHERE CAST(concat('0x', substr(
                md5(concat_ws(':', CAST(t.k AS VARCHAR), '3')),
                1, 12)) AS BIGINT) % 1000000 < r.thr
    """).fetchall())
    assert got == want and len(got) > 0


def test_mixture_sample_plan_quality(spark) -> None:
    """JVM-only (no Python stages anywhere) and the target-group
    filter is pushed into BOTH scans of the source (counts + output),
    so non-target groups are pruned at the source at 100 TB."""
    df = _grouped(spark, {"a": 50, "b": 50, "c": 50})
    out = sp.mixture_sample(df, "g", {"a": 1, "b": 1}, "k")
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in phys and "BatchEvalPython" not in phys
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("g#") > 0 and "Filter" in opt
    # both branches carry the isin filter below their aggregates
    assert opt.count("IN (a,b)") + opt.count("g IN") + \
        opt.count("INSET") >= 2


def test_weighted_hash_sample(spark) -> None:
    """Per-row keep probability equals the weight column: weight-0
    rows never survive, weight-1 rows always do, a 0.3-weight block
    lands within binomial noise, NULL weights drop, clamping folds
    out-of-range values, and the row set replays exactly in DuckDB."""
    df = _keys(spark, 12000).withColumn(
        "w", F.when(F.col("k") % 4 == 0, 0.0)
             .when(F.col("k") % 4 == 1, 1.0)
             .when(F.col("k") % 4 == 2, 0.3)
             .otherwise(F.lit(None).cast("double")))
    out = sp.weighted_hash_sample(df, "w", "k", seed=9).cache()
    got = {r["k"] for r in out.collect()}
    assert all(k % 4 != 0 for k in got)
    assert sum(1 for k in got if k % 4 == 1) == 3000
    n3 = sum(1 for k in got if k % 4 == 2)
    assert abs(n3 - 900) < 5 * (3000 * 0.3 * 0.7) ** 0.5
    assert all(k % 4 != 3 for k in got)        # NULL drops
    # clamp: >1 keeps everything, <0 nothing
    crazy = _keys(spark, 100).withColumn(
        "w", F.when(F.col("k") < 50, 7.5).otherwise(-2.0))
    kept = {r["k"] for r in sp.weighted_hash_sample(
        crazy, "w", "k").collect()}
    assert kept == set(range(50))
    # exact DuckDB replay
    con = duckdb.connect()
    want = {v[0] for v in con.sql("""
        SELECT k FROM (
          SELECT range AS k,
                 CASE WHEN range % 4 = 0 THEN 0.0
                      WHEN range % 4 = 1 THEN 1.0
                      WHEN range % 4 = 2 THEN 0.3 END AS w
          FROM range(12000))
        WHERE CAST(concat('0x', substr(
                md5(concat_ws(':', CAST(k AS VARCHAR), '9')),
                1, 12)) AS BIGINT) % 1000000
              < least(greatest(w, 0.0), 1.0) * 1000000
    """).fetchall()}
    assert got == want


# ---------------------------------------------------------------------------
# sequential packing
# ---------------------------------------------------------------------------

def test_pack_documents_exact_bins(spark) -> None:
    rows = [("a", 0, 600), ("a", 1, 600), ("a", 2, 900),
            ("a", 3, 100), ("b", 0, 2500), ("b", 1, 10)]
    df = spark.createDataFrame(rows, ["g", "doc_id", "w"])
    out = {(r["g"], r["doc_id"]): (r["bin_id"], r["bin_offset"])
           for r in sp.pack_documents(
               df, 1000, weight="w", group_col="g").collect()}
    # group a cumsum starts: 0, 600, 1200, 2100
    assert out[("a", 0)] == (0, 0)
    assert out[("a", 1)] == (0, 600)
    assert out[("a", 2)] == (1, 200)
    assert out[("a", 3)] == (2, 100)
    # oversize row overflows the bin it starts in; next row lands
    # where the running total says
    assert out[("b", 0)] == (0, 0)
    assert out[("b", 1)] == (2, 500)


def test_pack_documents_guards(spark) -> None:
    df = spark.createDataFrame(
        [("a", 0, 5)], ["g", "doc_id", "w"])
    with pytest.raises(ValueError, match="budget"):
        sp.pack_documents(df, 0, weight="w", group_col="g")
    with pytest.raises(ValueError, match="rename or drop"):
        sp.pack_documents(
            df.withColumn("bin_id", F.lit(1)), 10, weight="w",
            group_col="g")
    nulls = spark.createDataFrame(
        [("a", 0, None), ("a", 1, 5)], "g string, doc_id long, w long")
    with pytest.raises(Exception, match="non-NULL"):
        sp.pack_documents(nulls, 10, weight="w",
                          group_col="g").collect()
    big = spark.createDataFrame(
        [("a", i, 1) for i in range(5)], ["g", "doc_id", "w"])
    with pytest.raises(Exception, match="max_group_rows"):
        sp.pack_documents(big, 10, weight="w", group_col="g",
                          max_group_rows=3).collect()


def test_pack_documents_fractional_weights(spark) -> None:
    df = spark.createDataFrame(
        [("a", 0, 0.6), ("a", 1, 0.6)], ["g", "doc_id", "w"])
    out = {r["doc_id"]: r["bin_id"] for r in sp.pack_documents(
        df, 1, weight="w", group_col="g").collect()}
    assert out == {0: 0, 1: 0}  # second row starts at 0.6 -> bin 0


# ---------------------------------------------------------------------------
# epoch shuffle
# ---------------------------------------------------------------------------

def test_epoch_shuffle_deterministic_permutations(spark) -> None:
    df = _keys(spark, 300).withColumnRenamed("k", "doc_id")
    a = sp.epoch_shuffle(df, epoch=0, n_buckets=8).collect()
    b = sp.epoch_shuffle(df, epoch=0, n_buckets=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every (bucket, pos) slot is unique = a total order
    slots = {(r["epoch_bucket"], r["epoch_pos"]) for r in a}
    assert len(slots) == 300
    # per-bucket positions are 1..n_bucket
    from collections import Counter
    per = Counter(r["epoch_bucket"] for r in a)
    for bkt, cnt in per.items():
        pos = sorted(r["epoch_pos"] for r in a
                     if r["epoch_bucket"] == bkt)
        assert pos == list(range(1, cnt + 1))
    # a different epoch is a different permutation
    c = sp.epoch_shuffle(df, epoch=1, n_buckets=8).collect()
    assert {(r["doc_id"], r["epoch_bucket"], r["epoch_pos"])
            for r in a} != {(r["doc_id"], r["epoch_bucket"],
                             r["epoch_pos"]) for r in c}


def test_epoch_shuffle_append_stable_and_guarded(spark) -> None:
    df = _keys(spark, 200).withColumnRenamed("k", "doc_id")
    base = {(r["doc_id"]): (r["epoch_bucket"], r["epoch_pos"])
            for r in sp.epoch_shuffle(df, epoch=2,
                                      n_buckets=4).collect()}
    grown = _keys(spark, 260).withColumnRenamed("k", "doc_id")
    after = {(r["doc_id"]): (r["epoch_bucket"], r["epoch_pos"])
             for r in sp.epoch_shuffle(grown, epoch=2,
                                       n_buckets=4).collect()}
    # appended rows never change an existing row's bucket, and the
    # RELATIVE order of old rows inside a bucket is preserved
    for d, (bkt, _) in base.items():
        assert after[d][0] == bkt
    for bkt in range(4):
        old = [d for d, v in sorted(base.items(),
                                    key=lambda kv: kv[1][1])
               if v[0] == bkt]
        new = [d for d, v in sorted(after.items(),
                                    key=lambda kv: kv[1][1])
               if v[0] == bkt and d in base]
        assert old == new
    with pytest.raises(ValueError, match="n_buckets"):
        sp.epoch_shuffle(df, n_buckets=0)
    with pytest.raises(Exception, match="max_bucket_rows"):
        sp.epoch_shuffle(df, n_buckets=1,
                         max_bucket_rows=50).collect()
