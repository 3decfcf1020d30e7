"""t-digest sketch (functions/tdigest.py) + the distributed
checks.tdigest_pair operator."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.functions.tdigest import TDigest
from cerberus_cpp_spark.operators import checks


def _rank_err(sorted_vals: np.ndarray, est: float, q: float) -> float:
    return abs(np.searchsorted(sorted_vals, est) / len(sorted_vals) - q)


def test_quantile_rank_accuracy_normal():
    rng = np.random.default_rng(7)
    v = rng.normal(100, 15, 1_000_000)
    sv = np.sort(v)
    d = TDigest.from_values(v, 100)
    assert d.means.size < 3000
    for q in (0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999):
        assert _rank_err(sv, d.quantile(q), q) < 1e-3, q
    # tails are tighter than the middle (the point of t-digest)
    assert _rank_err(sv, d.quantile(0.001), 0.001) < 1e-4
    assert _rank_err(sv, d.quantile(0.999), 0.999) < 1e-4


def test_merge_matches_direct_build():
    rng = np.random.default_rng(11)
    v = rng.exponential(3.0, 400_000)
    sv = np.sort(v)
    parts = [TDigest.from_values(v[i::16], 100) for i in range(16)]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.merge(p)
    assert acc.total == pytest.approx(len(v))
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert _rank_err(sv, acc.quantile(q), q) < 2e-3, q
    assert acc.min == pytest.approx(v.min())
    assert acc.max == pytest.approx(v.max())


def test_exact_regime_singleton_centroids():
    vals = np.repeat(np.arange(30) * 10.0, 1000)
    d = TDigest.from_values(vals, 200)
    assert d.means.size == 30  # every distinct value its own centroid
    assert np.array_equal(np.sort(d.means), np.arange(30) * 10.0)
    # nearest-rank == discrete lower quantile, exactly
    sv = np.sort(vals)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        exact = sv[int(np.ceil(q * len(sv))) - 1]
        assert d.quantile(q, "nearest") == exact
    # merging two exact digests stays exact
    m = d.merge(TDigest.from_values(vals + 5.0, 200))
    assert m.means.size == 60


def test_cdf_quantile_roundtrip_and_edges():
    rng = np.random.default_rng(3)
    v = rng.uniform(0, 1000, 100_000)
    d = TDigest.from_values(v, 100)
    for q in (0.05, 0.5, 0.95):
        x = d.quantile(q)
        assert d.cdf(x) == pytest.approx(q, abs=2e-3)
    assert d.cdf(d.min - 1) == 0.0
    assert d.cdf(d.max + 1) == 1.0
    assert d.quantile(0.0) == pytest.approx(d.min, abs=1e-9)
    assert d.quantile(1.0) == pytest.approx(d.max, abs=1e-9)
    empty = TDigest(100)
    assert np.isnan(empty.quantile(0.5))
    with pytest.raises(ValueError):
        d.quantile(1.5)


def test_row_serialization_roundtrip():
    d = TDigest.from_values(np.arange(1000, dtype=float), 50)
    r = TDigest.from_row(d.to_row(), 50)
    assert np.array_equal(r.means, d.means)
    assert np.array_equal(r.weights, d.weights)
    assert r.min == d.min and r.max == d.max


def _digest(df, compression):
    """The distributed digest of column ``v``: side 0 of
    ``tdigest_pair``."""
    return checks.tdigest_pair(df.selectExpr("0 as side", "v"), "side",
                               "v", compression=compression)[0]


def test_distributed_digest_matches_local(spark):
    df = spark.range(0, 300_000, 1, 16).selectExpr(
        "cast(pmod(id * 2654435761, 1000000) as double) / 1000 as v")
    d = _digest(df, 100)
    vals = np.sort(
        (np.arange(300_000, dtype=np.int64) * 2654435761 % 1_000_000)
        / 1000.0)
    assert d.total == pytest.approx(300_000)
    for q in (0.01, 0.5, 0.99):
        assert _rank_err(vals, d.quantile(q), q) < 2e-3, q


def test_distributed_digest_deterministic(spark):
    df = spark.range(0, 50_000, 1, 8).selectExpr(
        "cast(pmod(id, 37) as double) * 1.5 as v")
    a, b = _digest(df, 200), _digest(df, 200)
    assert np.array_equal(a.means, b.means)
    assert np.array_equal(a.weights, b.weights)
    assert a.means.size == 37  # exact regime survives distribution


def test_tdigest_drift_empty_side(spark):
    """A snapshot side with no rows gives an empty digest: every
    quantile NaN, never an error."""
    base = spark.range(0, 1000).selectExpr("0 as side",
                                           "cast(id as double) as v")
    _, empty = checks.tdigest_pair(base, "side", "v")
    assert all(np.isnan(empty.quantile(p)) for p in (0.01, 0.5, 0.99))


def test_adjacent_rare_values_merge():
    """Documents the exact-regime boundary (review finding): low
    cardinality alone does NOT guarantee singleton centroids — two
    adjacent rare values under the local size bound merge into a
    non-data mean. Oracle-backed queries must keep every level's
    weight above W/compression (the contract query has 6x margin)."""
    vals = np.concatenate([
        np.zeros(100_000), [15.0, 16.0], np.full(100_000, 30.0)])
    d = TDigest.from_values(vals, 200)
    assert d.means.size == 3  # 15 and 16 merged
    assert 15.0 < d.means[1] < 16.0  # non-data mean
    # heavy levels never merge: every level weight > W/compression
    heavy = np.repeat([0.0, 15.0, 16.0, 30.0], 2000)
    dh = TDigest.from_values(heavy, 200)
    assert dh.means.size == 4


def test_contract_regime_margin():
    """The tdigest_drift contract distribution shape (31 near-uniform
    levels) stays singleton-centroid at compression 200."""
    rng = np.random.default_rng(5)
    vals = rng.integers(0, 31, 10_000).astype(float)
    d = TDigest.from_values(vals, 200)
    assert d.means.size == 31
    assert np.array_equal(np.sort(d.means), np.arange(31.0))
