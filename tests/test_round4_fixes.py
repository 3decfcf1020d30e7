"""Round-4 fixes: the r3 VERDICT scale-killers and ADVICE lows.

- dedup's forced broadcast of the LSH candidate ids is now
  AQE-decided with an explicit opt-in hint;
- connected components releases each round's checkpoint blocks
  (DataFrame.unpersist is a no-op for localCheckpoint storage);
- fanout_gate self-guards on derived frames via logical-plan
  introspection instead of the eager .rdd probe;
- compiled regex anchors with \\A..\\z (true full match, agreeing
  with the interpreter twin and std::regex_match on trailing
  newlines).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import dedup as DD
from cerberus_cpp_spark.operators.partitioning import (
    _has_wide_ancestor,
    fanout_gate,
)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------------------
# forced-broadcast removal (VERDICT r3 #1/#2 — the scale-killer class)
# ---------------------------------------------------------------------------


@pytest.fixture()
def docs(spark):
    rows = [(i, f"doc body {i % 7} common words here") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_duplicates_no_forced_candidate_broadcast(spark, docs) -> None:
    """The candidate-id semi-join must not hard-code broadcast: at
    LLM-training dup rates cand_ids is tens of millions of rows.
    (Pinned on the _candidate_docs helper — inside near_duplicates
    the join sits behind a localCheckpoint LogicalRDD, invisible in
    the caller's plan.)"""
    cand_ids = spark.range(5).withColumnRenamed("id", "doc_id")
    plain = DD._candidate_docs(docs, cand_ids, "doc_id", False)
    assert "strategy=broadcast" not in _optimized(plain)
    assert "LeftSemi" in _optimized(plain)
    hinted = DD._candidate_docs(docs, cand_ids, "doc_id", True)
    assert "strategy=broadcast" in _optimized(hinted)
    # the flag threads through the public API without changing results
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(DD.near_duplicates(docs, threshold=0.3).collect(),
                  key=key) == \
        sorted(DD.near_duplicates(docs, threshold=0.3,
                                  broadcast_candidates=True).collect(),
               key=key)


# ---------------------------------------------------------------------------
# connected-components checkpoint release (ADVICE r3)
# ---------------------------------------------------------------------------


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clusters_release_round_checkpoints(spark) -> None:
    """After a multi-round CC run, ONLY the final labels checkpoint
    may remain resident — per-round label frames and the edge list
    must be freed (DataFrame.unpersist cannot do this; ckpt.py's
    JVM-level release does)."""
    # a 9-node path graph forces >1 propagation round
    edges = [(i, i + 1) for i in range(1, 9)]
    pairs = spark.createDataFrame(
        [(a, b, 0.9) for a, b in edges],
        "id_a long, id_b long, jaccard double")
    before = _n_persistent(spark)
    # local_finish_edges=0: this test pins the DISTRIBUTED loop's
    # per-round checkpoint release (the guarded in-process finish
    # would absorb a 9-edge graph and leave nothing resident at all)
    out = DD.near_duplicate_clusters(pairs, local_finish_edges=0)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 1 for i in range(1, 10)}
    after = _n_persistent(spark)
    assert after - before == 1, (
        f"expected only the final labels checkpoint to remain, "
        f"found {after - before} new persistent RDDs")


def test_checkpoint_tracked_roundtrip(spark) -> None:
    from cerberus_cpp_spark.functions.ckpt import (
        checkpoint_tracked,
        free_checkpoint,
    )

    before = _n_persistent(spark)
    df, blocks = checkpoint_tracked(spark.range(100))
    assert len(blocks) >= 1
    assert df.count() == 100
    free_checkpoint(spark, blocks)
    assert _n_persistent(spark) == before


# ---------------------------------------------------------------------------
# fanout_gate self-guarding (ADVICE r3)
# ---------------------------------------------------------------------------


def test_fanout_gate_skips_derived_frames(spark) -> None:
    """A frame with an upstream join/agg is returned UNTOUCHED —
    same object, so no .rdd probe (which would eagerly execute the
    embedded query stages) and no extra repartition."""
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    joined = a.join(b, "k")
    assert fanout_gate(joined) is joined
    agg = a.groupBy("k").count()
    assert fanout_gate(agg) is agg
    rep = a.repartition(2)
    assert fanout_gate(rep) is rep


def test_fanout_gate_still_fans_out_starved_scans(spark, tmp_path) -> None:
    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert scan.rdd.getNumPartitions() == 1
    out = fanout_gate(scan)
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    # narrow projection of a scan is still eligible
    proj = scan.select((F.col("id") * 2).alias("x"))
    assert not _has_wide_ancestor(proj)


# ---------------------------------------------------------------------------
# constraint suggestion: batched pass 2, isfinite guard, regex shapes,
# robust quantile bounds (VERDICT r3 #2 + ADVICE r3 + HANDOFF breadth)
# ---------------------------------------------------------------------------


def test_suggest_pass2_is_one_job(spark) -> None:
    """Regardless of how many string columns the prefilter admits,
    suggest_rules runs exactly TWO jobs: the stats agg and ONE
    batched distinct-set agg (was: one driver job per admitted
    column — hundreds of serial jobs on a wide table)."""
    from cerberus_cpp_spark.plans.suggest import suggest_rules

    def jobs_for(df, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, "job-count pin")
        try:
            rules = suggest_rules(df)
        finally:
            sc._jsc.clearJobGroup()
        return rules, len(sc.statusTracker().getJobIdsForGroup(group))

    rows6 = [(f"v{i % 3}", f"w{i % 4}", f"x{i % 2}", f"y{i % 5}",
              f"z{i % 3}", f"u{i % 6}") for i in range(100)]
    wide = spark.createDataFrame(
        rows6,
        "a string, b string, c string, d string, e string, g string")
    narrow = wide.select("a", "b")
    rules_n, jn = jobs_for(narrow, "suggest-pin-narrow")
    rules_w, jw = jobs_for(wide, "suggest-pin-wide")
    # AQE decomposes each action into map+reduce jobs, so pin the
    # INVARIANT that matters: job count does not grow with the number
    # of admitted columns (was: one extra driver job per column)
    assert jw == jn, f"jobs grew with column count: {jn} -> {jw}"
    # and all six admitted columns still get their allowed sets
    for col, k in [("a", 3), ("b", 4), ("c", 2), ("d", 5), ("e", 3),
                   ("g", 6)]:
        assert len(rules_w[col]["allowed"]) == k


def test_suggest_isfinite_guard(spark) -> None:
    """A float column containing NaN/inf must not crash math.floor
    (Spark's max() returns NaN when any value is NaN) — the min/max
    pair is suppressed, everything else still emitted."""
    from cerberus_cpp_spark.plans.suggest import suggest_rules

    df = spark.createDataFrame(
        [(1.0,), (float("nan",),), (2.0,)], "x double")
    r = suggest_rules(df)["x"]
    assert r["type"] == "float" and "min" not in r and "max" not in r
    df2 = spark.createDataFrame(
        [(1.0,), (float("inf"),), (2.0,)], "x double")
    r2 = suggest_rules(df2)["x"]
    assert "min" not in r2 and "max" not in r2
    # finite data still gets bounds
    df3 = spark.createDataFrame([(1.5,), (2.5,)], "x double")
    r3 = suggest_rules(df3)["x"]
    assert r3["min"] == 0.0 and r3["max"] == 3.0


def test_shape_to_regex_escapes_metachars() -> None:
    from cerberus_cpp_spark.plans.suggest import shape_to_regex

    assert shape_to_regex("Aaaaa#999") == "[A-Z][a-z][a-z][a-z][a-z]#" \
        + "[0-9]" * 3
    # regex metachars in the literal positions must be escaped
    assert shape_to_regex("9.9") == "[0-9]\\.[0-9]"
    assert shape_to_regex("(a)") == "\\([a-z]\\)"
    assert shape_to_regex("9|9") == "[0-9]\\|[0-9]"


def test_suggest_regex_shape(spark) -> None:
    """Fixed-shape id column → full-match regex; variable shape → no
    regex; low-cardinality → allowed wins (strictly stronger); the
    suggestion still validates its own data."""
    from cerberus_cpp_spark.plans.engine import TableValidator
    from cerberus_cpp_spark.plans.suggest import suggest_rules

    rows = [(f"Img#{i:04d}", f"v{i}" if i % 2 else f"vv{i}",
             "A" if i % 2 else "B") for i in range(40)]
    df = spark.createDataFrame(rows, "id string, var string, lo string")
    rules = suggest_rules(df)
    assert rules["id"]["regex"] == "[A-Z][a-z][a-z]#" + "[0-9]" * 4
    assert "regex" not in rules["id"] or "allowed" not in rules["id"]
    assert "regex" not in rules["var"]          # two shapes
    assert rules["lo"]["allowed"] == ["A", "B"]
    assert "regex" not in rules["lo"]           # allowed suppresses
    assert TableValidator(rules, allow_unknown=True) \
        .validate(df).is_valid()


def test_suggest_regex_skips_overlong_values(spark) -> None:
    """A value longer than MAX_SHAPE_LEN must suppress the regex even
    if the SHAPED values agree (its shape is NULL, so min/max never
    saw it — emitting would break self-consistency). More distinct
    values than ALLOWED_MAX_DISTINCT keep ``allowed`` from deciding
    it instead."""
    from cerberus_cpp_spark.plans.suggest import (
        ALLOWED_MAX_DISTINCT,
        MAX_SHAPE_LEN,
        suggest_rules,
    )

    rows = [(f"a{i:02d}",) for i in range(2 * ALLOWED_MAX_DISTINCT)]
    df = spark.createDataFrame(rows, "s string")
    assert suggest_rules(df)["s"]["regex"] == "[a-z][0-9][0-9]"
    overlong = df.unionByName(spark.createDataFrame(
        [("b" * (MAX_SHAPE_LEN + 1),)], "s string"))
    rules = suggest_rules(overlong)
    assert "allowed" not in rules["s"] and "regex" not in rules["s"]


def test_suggest_robust_bounds_flags_outliers(spark) -> None:
    """robust_bounds swaps observed extremes for quantiles: the
    suggestion intentionally flags tail outliers (self-consistency
    does NOT hold), and the bounds sit strictly inside the extremes."""
    from cerberus_cpp_spark.plans.engine import TableValidator
    from cerberus_cpp_spark.plans.suggest import suggest_rules

    vals = [(float(i),) for i in range(100)] + [(1e9,)]
    df = spark.createDataFrame(vals, "x double")
    rules = suggest_rules(df, robust_bounds=(0.01, 0.99))
    assert rules["x"]["max"] < 1e9
    res = TableValidator(rules, allow_unknown=True).validate(df)
    assert not res.is_valid()  # the planted outlier is flagged
    assert res.annotated.where(~F.col("valid")).count() >= 1


def test_tdigest_pair_drops_non_finite_values(spark) -> None:
    """Every digest shares one value policy: NULL, NaN and ±inf rows
    are dropped, never poisoning the extreme quantiles. In the exact
    regime (≤ compression/4 distinct values → order-independent and
    bit-exact) the digests equal those of the finite rows alone."""
    from cerberus_cpp_spark.operators.checks import tdigest_pair

    inf, nan = float("inf"), float("nan")
    rows = [(i % 2, float(i % 7 + 11 * (i % 2))) for i in range(500)]
    finite = spark.createDataFrame(rows, "side long, v double")
    dirty = finite.unionByName(spark.createDataFrame(
        [(0, inf), (1, -inf), (0, nan), (1, None)], "side long, v double"))
    for clean, got in zip(tdigest_pair(finite, "side", "v"),
                          tdigest_pair(dirty, "side", "v")):
        assert got.total == clean.total == 250
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            assert got.quantile(q) == clean.quantile(q), q


# ---------------------------------------------------------------------------
# \A..\z full-match anchoring (ADVICE r3)
# ---------------------------------------------------------------------------


def test_compiled_regex_rejects_trailing_newline(spark) -> None:
    """'img-123\\n' passed the old ^..$ rlike anchoring (Java $
    matches before a final line terminator) but fails re.fullmatch /
    std::regex_match — the compiled path now agrees with both."""
    from cerberus_cpp_spark.dynamic.interpreter import Validator
    from cerberus_cpp_spark.plans.engine import TableValidator

    rules = {"image_id": {"type": "string", "regex": "img-[0-9]{3}"}}
    rows = [("img-123",), ("img-123\n",), ("img-12\n3",)]
    df = spark.createDataFrame(rows, "image_id string")
    bad = {r["image_id"] for r in TableValidator(rules)
           .validate(df).violations("image_id").collect()}
    assert bad == {"img-123\n", "img-12\n3"}
    # twin agreement, value by value
    v = Validator(rules)
    for (s,) in rows:
        assert v.validate({"image_id": s}) == (s not in bad)
