"""hamming_near_pairs: the multi-index (pigeonhole-blocked) Hamming
near-dup join over 64-bit hashes — completeness vs a numpy brute
force (including negative int64, i.e. bit 63 set), parameter
validation, and the oversized-bucket cap contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import dedup as DD


def _s64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _brute_pairs(ids, hashes, k):
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            if d <= k:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b, d))
    return out


@pytest.fixture(scope="module")
def hashed(spark):
    """200 rows: 50 random int64 anchors (signed — bit 63 exercised)
    + 3 planted perturbations each at distances 1..3, plus exact
    dup pairs from anchor reuse."""
    rng = np.random.default_rng(7)
    anchors = rng.integers(-(2 ** 63), 2 ** 63, size=50, dtype=np.int64)
    rows = []
    for g, a in enumerate(anchors):
        a = int(a)
        rows.append((f"r{g:04d}_0", _s64(a)))
        rows.append((f"r{g:04d}_1", _s64(a ^ (1 << 5))))
        rows.append((f"r{g:04d}_2", _s64(a ^ (1 << 20) ^ (1 << 63))))
        rows.append((f"r{g:04d}_3",
                     _s64(a ^ (1 << 1) ^ (1 << 30) ^ (1 << 47))))
    return spark.createDataFrame(rows, "image_id string, phash long")


def test_complete_vs_brute_force(spark, hashed) -> None:
    rows = hashed.collect()
    ids = [r["image_id"] for r in rows]
    hs = [r["phash"] & ((1 << 64) - 1) for r in rows]
    for k in (1, 3):
        want = _brute_pairs(ids, hs, k)
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in DD.hamming_near_pairs(
                hashed, "phash", id_col="image_id", max_hamming=k
            ).collect()
        }
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"


def test_wider_blocking_still_complete(spark, hashed) -> None:
    """8×8-bit blocks: complete for k ≤ 7 — catches the distance-5+
    pairs the 4×16 default can't claim."""
    rows = hashed.collect()
    ids = [r["image_id"] for r in rows]
    hs = [r["phash"] & ((1 << 64) - 1) for r in rows]
    want = _brute_pairs(ids, hs, 5)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.hamming_near_pairs(
            hashed, "phash", id_col="image_id", max_hamming=5,
            n_blocks=8, block_bits=8,
        ).collect()
    }
    assert got == want


def test_pigeonhole_guard() -> None:
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.hamming_near_pairs(None, "phash", max_hamming=4, n_blocks=4)
    with pytest.raises(ValueError, match="64"):
        DD.hamming_near_pairs(None, "phash", max_hamming=3,
                              n_blocks=8, block_bits=16)


def test_max_bucket_cap_surfaced(spark) -> None:
    """A hot value floods every block's bucket; the cap drops those
    buckets, so the hot clique disappears and the cold pair stays."""
    hot = 0x0123456789ABCDEF
    rows = [(f"h{i:03d}", hot) for i in range(50)]
    rows += [(f"c{i}", (1 << 40) ^ (i and 1 << 2)) for i in range(2)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    capped = DD.hamming_near_pairs(
        df, "phash", id_col="image_id", max_hamming=3, max_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the cold planted pair survives; the hot clique is capped away
    assert got == {("c0", "c1")}
    # uncapped: the clique is found in full (50 choose 2 at distance 0)
    full = DD.hamming_near_pairs(
        df, "phash", id_col="image_id", max_hamming=3)
    assert full.count() == 50 * 49 // 2 + 1


def test_negative_hash_blocks_unsigned(spark) -> None:
    """Bit-63 perturbation: shiftrightunsigned must place the sign
    bit in block 3, not smear it across blocks."""
    rows = [("a", -(2 ** 63)), ("b", 0), ("c", -(2 ** 63) + (1 << 16))]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in DD.hamming_near_pairs(
               df, "phash", id_col="image_id", max_hamming=2).collect()}
    # c = bit63|bit16 → distance 1 from a (bit63), 2 from b (zero)
    assert got == {("a", "b", 1), ("a", "c", 1), ("b", "c", 2)}


def test_single_join_plan(spark, hashed) -> None:
    """ONE self-equi-join over the posexploded block relation — the
    plan must not contain n_blocks separate joins or any cartesian."""
    plan = DD.hamming_near_pairs(
        hashed, "phash", id_col="image_id", max_hamming=3
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1
    assert "Cartesian" not in plan


def test_combination_blocking_complete(spark, hashed) -> None:
    """Manku-style c-block keys (m=6, c=3 → 20 tables, ~32-bit keys)
    must return EXACTLY the same pairs as single-block keys — the
    scale knob changes bucket sizes, never the result."""
    rows = hashed.collect()
    ids = [r["image_id"] for r in rows]
    hs = [r["phash"] & ((1 << 64) - 1) for r in rows]
    want = _brute_pairs(ids, hs, 3)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.hamming_near_pairs(
            hashed, "phash", id_col="image_id", max_hamming=3,
            n_blocks=6, block_bits=None, combo=3,
        ).collect()
    }
    assert got == want


def test_combo_pigeonhole_guard() -> None:
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        DD.hamming_near_pairs(None, "phash", max_hamming=3,
                              n_blocks=6, block_bits=None, combo=4)


# ---------------------------------------------------------------------------
# cross_hamming_pairs / image_decontamination — the eval-set
# decontamination join (cross-frame twin of the self-join)
# ---------------------------------------------------------------------------


def _brute_cross(l_ids, l_hs, r_ids, r_hs, k):
    out = set()
    for i in range(len(l_ids)):
        for j in range(len(r_ids)):
            d = bin((l_hs[i] ^ r_hs[j]) & ((1 << 64) - 1)).count("1")
            if d <= k:
                out.add((l_ids[i], r_ids[j], d))
    return out


@pytest.fixture(scope="module")
def eval_hashed(spark, hashed):
    """An eval frame overlapping some train anchors: for every 5th
    anchor, the anchor ^ bit 9 (distance 1/2/3/4 from that group's
    members) plus 20 random non-matching hashes."""
    rows = hashed.collect()
    anchors = [r["phash"] for r in rows if r["image_id"].endswith("_0")]
    ev = [(f"e{g:04d}", _s64(anchors[g] ^ (1 << 9)))
          for g in range(0, len(anchors), 5)]
    rng = np.random.default_rng(99)
    ev += [(f"x{i:04d}", int(v)) for i, v in enumerate(
        rng.integers(-(2 ** 63), 2 ** 63, size=20, dtype=np.int64))]
    return spark.createDataFrame(ev, "image_id string, phash long")


def test_cross_complete_vs_brute_force(spark, hashed, eval_hashed) -> None:
    lr = hashed.collect()
    rr = eval_hashed.collect()
    l_ids = [r["image_id"] for r in lr]
    l_hs = [r["phash"] & ((1 << 64) - 1) for r in lr]
    r_ids = [r["image_id"] for r in rr]
    r_hs = [r["phash"] & ((1 << 64) - 1) for r in rr]
    for k in (0, 1, 3):
        want = _brute_cross(l_ids, l_hs, r_ids, r_hs, k)
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in DD.cross_hamming_pairs(
                hashed, eval_hashed, "phash", left_id="image_id",
                right_id="image_id", max_hamming=k,
            ).collect()
        }
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"


def test_cross_no_self_exclusion(spark) -> None:
    """Identical ids across frames are DIFFERENT rows — a shared id
    must still pair (distance 0), unlike the self-join."""
    l = spark.createDataFrame([("a", 7)], "image_id string, phash long")
    r = spark.createDataFrame([("a", 7)], "image_id string, phash long")
    got = DD.cross_hamming_pairs(
        l, r, "phash", left_id="image_id", right_id="image_id",
        max_hamming=0).collect()
    assert [(g["id_a"], g["id_b"], g["hamming"]) for g in got] == \
        [("a", "a", 0)]


def test_cross_combination_blocking(spark, hashed, eval_hashed) -> None:
    lr, rr = hashed.collect(), eval_hashed.collect()
    want = _brute_cross(
        [r["image_id"] for r in lr],
        [r["phash"] & ((1 << 64) - 1) for r in lr],
        [r["image_id"] for r in rr],
        [r["phash"] & ((1 << 64) - 1) for r in rr], 3)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.cross_hamming_pairs(
            hashed, eval_hashed, "phash", left_id="image_id",
            right_id="image_id", max_hamming=3,
            n_blocks=6, block_bits=None, combo=3,
        ).collect()
    }
    assert got == want


def test_cross_pigeonhole_guard() -> None:
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.cross_hamming_pairs(None, None, "phash", max_hamming=4)


def test_image_decontamination_verdicts(spark, hashed, eval_hashed) -> None:
    """Per-train verdict: contaminated iff some eval hash within k;
    n_eval_matches and min_hamming replay the brute force; clean rows
    keep NULL min_hamming and 0 matches; row count preserved."""
    lr, rr = hashed.collect(), eval_hashed.collect()
    want_pairs = _brute_cross(
        [r["image_id"] for r in lr],
        [r["phash"] & ((1 << 64) - 1) for r in lr],
        [r["image_id"] for r in rr],
        [r["phash"] & ((1 << 64) - 1) for r in rr], 3)
    agg = {}
    for a, _, d in want_pairs:
        n, m = agg.get(a, (0, 64))
        agg[a] = (n + 1, min(m, d))
    out = DD.image_decontamination(
        hashed, eval_hashed, "phash", train_id="image_id",
        eval_id="image_id", max_hamming=3).collect()
    assert len(out) == len(lr)
    for r in out:
        n, m = agg.get(r["image_id"], (0, None))
        assert r["contaminated"] == (n > 0)
        assert r["n_eval_matches"] == n
        assert r["min_hamming"] == m


def test_image_decontamination_collision_guard(spark) -> None:
    t = spark.createDataFrame([("a", 1, True)],
                              "image_id string, phash long,"
                              " contaminated boolean")
    e = spark.createDataFrame([("b", 1)],
                              "image_id string, phash long")
    with pytest.raises(ValueError, match="verdict column"):
        DD.image_decontamination(t, e, "phash")


def test_decontamination_plan_shape(spark, hashed, eval_hashed) -> None:
    """ONE pair equi-join + ONE verdict join back, no cartesian —
    the pair join stays the single (block, bkey) shuffle."""
    out = DD.image_decontamination(
        hashed, eval_hashed, "phash", train_id="image_id",
        eval_id="image_id", max_hamming=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 2
    assert "Cartesian" not in plan
