"""operators/sketch.py Bloom filter: no false negatives, grouped
builds == per-group builds, bounded false positives at the designed
rate, and the column guards."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.sketch import (
    bloom_contains,
    bloom_sketch,
)


def _df(spark, keys, group=None):
    if group is None:
        return spark.createDataFrame(
            [Row(k=x) for x in keys], schema="k string")
    return spark.createDataFrame(
        [Row(g=g, k=x) for g, x in keys], schema="g string, k string")


def test_no_false_negatives(spark) -> None:
    keys = [f"user-{i}" for i in range(60)]
    sk = bloom_sketch(_df(spark, keys), "k", m_bits=512, k=3)
    got = bloom_contains(sk, _df(spark, keys), "k",
                         m_bits=512, k=3).collect()
    assert len(got) == 60
    assert all(r.might_contain and r.n_hits == 3 for r in got)


def test_false_positive_rate_bounded(spark) -> None:
    present = [f"in-{i}" for i in range(50)]
    absent = [f"out-{i}" for i in range(200)]
    sk = bloom_sketch(_df(spark, present), "k", m_bits=4096, k=3)
    got = bloom_contains(sk, _df(spark, absent), "k",
                         m_bits=4096, k=3).collect()
    flagged = sum(r.might_contain for r in got)
    # theoretical FPR ~5e-5 here; allow generous deterministic slack
    assert flagged <= 2, flagged
    assert all(0 <= r.n_hits <= 3 for r in got)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(
    alphabet=st.characters(codec="ascii",
                           exclude_characters=[":", "\x00"]),
    min_size=1, max_size=8), min_size=1, max_size=25, unique=True))
def test_no_false_negatives_property(spark, keys) -> None:
    sk = bloom_sketch(_df(spark, keys), "k", m_bits=64, k=2)
    got = bloom_contains(sk, _df(spark, keys), "k",
                         m_bits=64, k=2).collect()
    assert all(r.might_contain for r in got)


def test_grouped_build_equals_per_group(spark) -> None:
    rows = [("g1", f"u{i}") for i in range(20)] + \
           [("g2", f"v{i}") for i in range(25)]
    grouped = bloom_sketch(_df(spark, rows, group=True), "k",
                           m_bits=256, k=3, by=("g",))
    for g, keys in (("g1", [k for gg, k in rows if gg == "g1"]),
                    ("g2", [k for gg, k in rows if gg == "g2"])):
        solo = bloom_sketch(_df(spark, keys), "k", m_bits=256, k=3)
        assert sorted(r.pos for r in grouped.where(
            F.col("g") == g).collect()) == \
            sorted(r.pos for r in solo.collect())


def test_grouped_contains_scopes_membership(spark) -> None:
    rows = [("g1", "alice"), ("g2", "bob")]
    sk = bloom_sketch(_df(spark, rows, group=True), "k",
                      m_bits=1024, k=3, by=("g",))
    probes = _df(spark, [("g1", "bob"), ("g2", "bob")], group=True)
    got = {(r.g, r.k): r.might_contain for r in bloom_contains(
        sk, probes, "k", m_bits=1024, k=3, by=("g",)).collect()}
    assert got[("g2", "bob")] is True
    assert got[("g1", "bob")] is False  # bob only in g2's filter


def test_guards(spark) -> None:
    df = _df(spark, ["a"])
    with pytest.raises(ValueError):
        bloom_sketch(df, "k", m_bits=4)
    with pytest.raises(ValueError):
        bloom_sketch(df, "k", k=0)
    grouped = bloom_sketch(
        _df(spark, [("g1", "a")], group=True), "k", by=("g",))
    # grouped sketch passed ungrouped → rejected
    with pytest.raises(ValueError, match="columns"):
        bloom_contains(grouped, df, "k")
    # probe frame lacking the group column → rejected
    with pytest.raises(ValueError, match="lacks group"):
        bloom_contains(grouped, df, "k", by=("g",))


def test_null_keys_skipped(spark) -> None:
    df = spark.createDataFrame([Row(k="a"), Row(k=None)],
                               schema="k string")
    sk = bloom_sketch(df, "k", m_bits=64, k=2)
    only_a = bloom_sketch(_df(spark, ["a"]), "k", m_bits=64, k=2)
    assert sorted(r.pos for r in sk.collect()) == \
        sorted(r.pos for r in only_a.collect())
    got = bloom_contains(sk, df, "k", m_bits=64, k=2).collect()
    assert [r.k for r in got] == ["a"]


def test_sketch_is_bounded_and_single_aggregate(spark) -> None:
    sk = bloom_sketch(_df(spark, [f"z{i}" for i in range(500)]),
                      "k", m_bits=128, k=3)
    assert sk.count() <= 128
    plan = sk._jdf.queryExecution().executedPlan().toString()
    # one hash aggregate pair around one Exchange — partials are
    # filter-shaped before the shuffle
    assert plan.count("Exchange") == 1, plan
