"""Count-min sketch (Cormode & Muthukrishnan 2005, public) as a
mergeable frequency summary for 10^12-row key columns.

Why a sketch next to the exact heavy-hitter pass
(:func:`..checks.hot_keys` Misra-Gries): the CMS cell table is a
FIXED-size summary (``depth x width`` rows regardless of corpus
size) built by one partially-aggregated scan, and two sketches with
the same parameters merge by adding cells — so per-partition /
per-day sketches roll up without touching the raw data again,
which is exactly what a 100 TB monitoring loop wants. Estimates
never underestimate (min over rows of hashed cells); the classic
bound is ``est <= true + e/width * N`` with probability
``1 - (1/2)^depth`` per lookup.

Portability: the row hashes reuse the repo's md5 recipe
(``split.split_bucket``): cell_d(x) = first 12 md5 hex chars of
``'x:seed:d'`` as an integer, mod ``width`` — pure JVM expressions
replayed bit-for-bit by the DuckDB oracle
(``CAST(concat('0x', substr(md5(..), 1, 12)) AS BIGINT)``).

Reference analogue: dataset-level column stats / uniqueness checks
(SURVEY §2.3) — the reference's exact counters promoted to a
mergeable sketch for scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_CHARS = 12


def _hash48(*parts: Column) -> Column:
    """The repo's ONE portable 48-bit hash (split.split_bucket's
    recipe): first 12 md5 hex chars of the ':'-joined parts as a
    BIGINT. Every sketch below derives its cells/registers/samples
    from this helper so the md5 contract cannot drift per family."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *parts)), 1, _HEX_CHARS),
        16, 10,
    ).cast("bigint")


def _check_sketch_columns(
    sketch: DataFrame, by: tuple[str, ...], data: tuple[str, ...],
    what: str,
) -> None:
    """A sketch frame must carry EXACTLY by + data columns: silently
    accepting extra group columns would aggregate ACROSS groups and
    break the estimator contracts (e.g. CMS min over per-group
    counts underestimates)."""
    want = list(by) + list(data)
    if sorted(sketch.columns) != sorted(want):
        raise ValueError(
            f"{what}: sketch columns {sorted(sketch.columns)} != "
            f"expected {sorted(want)} — pass by= matching how the "
            f"sketch was built")


def _cms_cell(col: Column, d: int, seed: int, width: int) -> Column:
    h = _hash48(col.cast("string"), F.lit(str(seed)),
                F.lit(str(d)))
    return h % F.lit(int(width))


def _check_params(width: int, depth: int) -> None:
    if width < 2:
        raise ValueError("width must be >= 2")
    if not 1 <= depth <= 16:
        raise ValueError("depth must be in [1, 16]")


def cms_sketch(
    df: DataFrame,
    key: str,
    *,
    width: int = 1024,
    depth: int = 4,
    seed: int = 0,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Build the sketch: ``(*by, d, cell, cnt)`` with one row per
    non-empty cell (``depth * width`` rows at most, independent of
    input size). NULL keys are skipped (they have no frequency
    semantics; count them with a plain aggregate).

    Scale shape: one projection fans each row into ``depth``
    (d, cell) pairs, then ONE hash aggregate whose map-side partials
    are already sketch-shaped — the Exchange ships at most
    ``depth * width`` partial cells per task, never O(rows). Two
    sketches with equal (width, depth, seed) merge by unioning and
    summing ``cnt`` per (d, cell)."""
    _check_params(width, depth)
    col = F.col(key)
    cells = F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            _cms_cell(col, d, seed, width).alias("cell"),
        )
        for d in range(int(depth))
    ])
    return (
        df.where(col.isNotNull())
        .select(*by, F.explode(cells).alias("p"))
        .groupBy(*by, F.col("p.d").alias("d"),
                 F.col("p.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    *,
    width: int = 1024,
    depth: int = 4,
    seed: int = 0,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Point-estimate every row of ``keys``: recompute the ``depth``
    cells per key, join against the sketch (missing cells count 0 —
    an empty cell proves the key was never seen), and take the min.
    Returns ``(*by, key, est)``; ``est >= true count`` always, with
    the standard CMS overcount bound — estimates are PER GROUP when
    the sketch was built with the same ``by``, and a sketch carrying
    group columns not named in ``by`` is rejected (the min over
    unnamed per-group counts would silently UNDERESTIMATE, breaking
    the one-sided guarantee). Grouped estimates stay one-sided
    upper bounds but lose the empty-cell-proves-absence refinement:
    a (group, key) pair appears only when at least one of its cells
    is non-empty in that group. The join is (by, d, cell)-keyed
    against a frame bounded by ``groups * depth * width`` rows —
    broadcast territory at any real width, and AQE picks that on
    its own."""
    _check_params(width, depth)
    _check_sketch_columns(sketch, by, ("d", "cell", "cnt"),
                          "cms_estimate")
    col = F.col(key)
    cells = F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            _cms_cell(col, d, seed, width).alias("cell"),
        )
        for d in range(int(depth))
    ])
    kc = (
        keys.where(col.isNotNull())
        .select(col.alias(key), F.explode(cells).alias("p"))
        .select(key, F.col("p.d").alias("d"),
                F.col("p.cell").alias("cell"))
    )
    return (
        kc.join(sketch, ["d", "cell"],
                "left" if not by else "inner")
        .groupBy(*by, key)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .alias("est")
        )
    )


# ---------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007, public) — the north-star's
# named approx-distinct sketch, at register grain so snapshots
# MERGE (max per register) and the DuckDB oracle replays the
# arithmetic bit-for-bit. Two independent md5-derived 48-bit
# hashes: one picks the register (mod m), one supplies the
# leading-zero rank rho = strpos of the first '1' in the
# zero-padded binary string (w == 0 -> rho = 49). The harmonic
# denominator is kept as an INTEGER in units of 2^-49
# (sum of 2^(49-rho), absent registers contribute 2^49), so no
# float accumulates; the single estimate division happens once in
# f64 on both engines. The estimate is the RAW alpha_m * m^2 / S
# figure — deliberately no small/large-range corrections (they
# need log(), which is not bit-portable across engines); the
# output carries n_zero registers so a consumer can apply the
# published linear-counting correction downstream.
# ---------------------------------------------------------------

_HLL_RHO_MAX = 49


def _hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def _hll_check_m(m: int) -> None:
    if m < 16 or m & (m - 1):
        raise ValueError("m must be a power of two >= 16")


def hll_sketch(
    df: DataFrame,
    key: str,
    *,
    m: int = 256,
    seed: int = 0,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Register table ``(*by, reg, rho)`` — at most ``m`` rows PER
    GROUP whatever the input size; NULL keys skipped. ``by`` adds
    grouping dimensions (an event-time bucket, a partition id) so
    one scan yields the per-bucket sketches a monitoring loop rolls
    up by a per-register max over the union. One
    partially-aggregated scan: the Exchange ships at most
    ``groups * m`` (reg, max-rho) partials per task."""
    _hll_check_m(m)
    col = F.col(key)
    reg = _hash48(F.lit("r"), col.cast("string"),
                  F.lit(str(seed))) % F.lit(int(m))
    w = _hash48(F.lit("w"), col.cast("string"), F.lit(str(seed)))
    # rho from the padded binary string: 1-based position of the
    # first set bit == leading zeros + 1
    wbin = F.lpad(F.bin(w), 48, "0")
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.instr(wbin, "1")
    )
    return (
        df.where(col.isNotNull())
        .select(*by, reg.alias("reg"),
                rho.cast("int").alias("rho"))
        .groupBy(*by, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame,
    *,
    m: int = 256,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Estimate rows from a register table: ``(*by, m, n_set,
    n_zero, denom, estimate)`` — one row total, or one per group
    when the sketch was built with the same ``by``. ``denom`` is
    the exact integer harmonic sum in units of 2^-49 (absent/zero
    registers contribute the full 2^49) and ``estimate`` is the raw
    alpha_m * m^2 * 2^49 / denom in ONE f64 division — both numbers
    replay bit-for-bit in the oracle. No range corrections (see
    module note); apply linear counting from ``n_zero`` downstream
    if the estimate is small."""
    _hll_check_m(m)
    _check_sketch_columns(sketch, by, ("reg", "rho"),
                          "hll_estimate")
    alpha = _hll_alpha(m)
    full = 1 << _HLL_RHO_MAX  # 2^49 — the rho=0 (absent) term
    aggs = [
        F.count(F.lit(1)).alias("n_set"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, {_HLL_RHO_MAX} - rho)")),
            F.lit(0),
        ).alias("_present"),
    ]
    agg = sketch.groupBy(*by).agg(*aggs) if by \
        else sketch.agg(*aggs)
    return agg.select(
        *by,
        F.lit(int(m)).alias("m"),
        F.col("n_set").cast("int").alias("n_set"),
        (F.lit(int(m)) - F.col("n_set")).cast("int")
        .alias("n_zero"),
        (F.col("_present")
         + (F.lit(int(m)) - F.col("n_set")) * F.lit(int(full)))
        .alias("denom"),
        (
            F.lit(float(alpha * m * m) * float(full))
            / (F.col("_present")
               + (F.lit(int(m)) - F.col("n_set"))
               * F.lit(int(full))).cast("double")
        ).alias("estimate"),
    )


# ---------------------------------------------------------------
# KMV / bottom-k (Bar-Yossef et al. 2002; Beyer et al. 2007,
# public) — the k smallest md5 hash values of the key's distinct
# set. Complements HLL: same mergeability (union -> k smallest),
# but the sketch carries actual hash SAMPLES, so two snapshots
# support set-overlap estimates (Jaccard, intersection size)
# WITHOUT joining the raw data — the "how much does today's crawl
# overlap yesterday's" question at 10^12 rows. All arithmetic is
# integer until one final f64 division, so oracles replay exactly.
# ---------------------------------------------------------------

_KMV_SPACE = float(1 << 48)  # md5-derived hashes are 48-bit


def _kmv_hash(col: Column, seed: int) -> Column:
    return _hash48(F.lit("kmv"), col.cast("string"),
                   F.lit(str(seed)))


def _kmv_check_k(k: int) -> None:
    if k < 2:
        raise ValueError("k must be >= 2")


def kmv_sketch(
    df: DataFrame,
    key: str,
    *,
    k: int = 256,
    seed: int = 0,
) -> DataFrame:
    """Bottom-k sketch: ``(h,)`` rows — the ``k`` smallest distinct
    48-bit hashes of the key column (fewer rows when the column has
    fewer distinct values, in which case the sketch IS the exact
    distinct set). NULL keys skipped.

    Scale shape: one hash-distinct aggregate (map-side partials
    dedupe before the Exchange ships ~distinct hashes) followed by
    a global bottom-k (``TakeOrderedAndProject`` — per-partition
    top-k, never a full sort)."""
    _kmv_check_k(k)
    col = F.col(key)
    return (
        df.where(col.isNotNull())
        .select(_kmv_hash(col, seed).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(int(k))
    )


def kmv_merge(*sketches: DataFrame, k: int) -> DataFrame:
    """Merge bottom-k sketches built with equal seed: k smallest of
    the distinct union — exactly the sketch of the concatenated
    inputs."""
    _kmv_check_k(k)
    if not sketches:
        raise ValueError("need at least one sketch")
    for sk in sketches:
        _check_sketch_columns(sk, (), ("h",), "kmv_merge")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h").limit(int(k))


def kmv_estimate(sketch: DataFrame, *, k: int = 256) -> DataFrame:
    """One-row distinct-count estimate: ``(n, kth, estimate)``.
    When the sketch holds fewer than ``k`` hashes it IS the
    distinct set and the estimate equals ``n`` exactly; otherwise
    the classic unbiased ``(k-1) * 2^48 / kth_smallest`` — one f64
    division of exact integers."""
    _kmv_check_k(k)
    _check_sketch_columns(sketch, (), ("h",), "kmv_estimate")
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("h").alias("kth"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        "kth",
        F.when(F.col("n") < int(k), F.col("n").cast("double"))
        .otherwise(
            F.lit(float(k - 1) * _KMV_SPACE)
            / F.col("kth").cast("double")
        ).alias("estimate"),
    )


def kmv_jaccard(
    a: DataFrame, b: DataFrame, *, k: int = 256
) -> DataFrame:
    """One-row overlap estimate from two bottom-k sketches with
    equal (k, seed): take the ``k`` smallest of the union (the
    merged sketch L), count how many of L's hashes appear in BOTH
    inputs, and return ``(n_union_sample, n_both, jaccard)`` with
    ``jaccard = n_both / n_union_sample`` — the standard KMV
    Jaccard estimator, an integer ratio in one f64 division. When
    both columns had fewer than ``k`` distinct values the answer
    is EXACT."""
    _kmv_check_k(k)
    for sk in (a, b):
        _check_sketch_columns(sk, (), ("h",), "kmv_jaccard")
    merged = kmv_merge(a, b, k=k)
    both = (
        merged.join(a.withColumnRenamed("h", "_ha"),
                    merged["h"] == F.col("_ha"), "left")
        .join(b.withColumnRenamed("h", "_hb"),
              merged["h"] == F.col("_hb"), "left")
        .select(
            ((F.col("_ha").isNotNull())
             & (F.col("_hb").isNotNull())).cast("long")
            .alias("inboth"))
    )
    return both.agg(
        F.count(F.lit(1)).alias("n_union_sample"),
        F.sum("inboth").alias("n_both"),
    ).select(
        F.col("n_union_sample").cast("long")
        .alias("n_union_sample"),
        "n_both",
        (F.col("n_both").cast("double")
         / F.col("n_union_sample")).alias("jaccard"),
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, *, k: int = 256
) -> DataFrame:
    """One-row SET-ALGEBRA estimates from two bottom-k sketches
    with equal (k, seed): union, intersection, and both directed
    differences — the full cross-snapshot accounting ('how many
    documents are new today, how many vanished') WITHOUT joining
    raw data. Built from the same primitives as
    :func:`kmv_jaccard`: the merged bottom-k L samples the union
    uniformly (its hashes are the union's k smallest), so the
    membership fractions of L in A-only / B-only / both are
    unbiased share estimates that scale the union's own KMV
    cardinality estimate. Returns ``(union_est, inter_est,
    a_only_est, b_only_est, n_union_sample, n_both, n_a_only,
    n_b_only)`` — counts exact integers, each estimate ONE f64
    division/multiplication chain replayable by an oracle. Below-k
    regimes are exact end-to-end (the sketches ARE the sets)."""
    _kmv_check_k(k)
    for sk in (a, b):
        _check_sketch_columns(sk, (), ("h",), "kmv_set_ops")
    merged = kmv_merge(a, b, k=k)
    marked = (
        merged.join(a.withColumnRenamed("h", "_ha"),
                    merged["h"] == F.col("_ha"), "left")
        .join(b.withColumnRenamed("h", "_hb"),
              merged["h"] == F.col("_hb"), "left")
        .select(
            "h",
            F.col("_ha").isNotNull().alias("ina"),
            F.col("_hb").isNotNull().alias("inb"),
        )
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("h").alias("kth"),
        F.sum((F.col("ina") & F.col("inb")).cast("long"))
        .alias("n_both"),
        F.sum((F.col("ina") & ~F.col("inb")).cast("long"))
        .alias("n_a_only"),
        F.sum((~F.col("ina") & F.col("inb")).cast("long"))
        .alias("n_b_only"),
    )
    union_est = F.when(
        F.col("n") < int(k), F.col("n").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * _KMV_SPACE)
        / F.col("kth").cast("double")
    )
    share = lambda c: F.col(c).cast("double") / F.col("n")  # noqa: E731
    return agg.select(
        union_est.alias("union_est"),
        (union_est * share("n_both")).alias("inter_est"),
        (union_est * share("n_a_only")).alias("a_only_est"),
        (union_est * share("n_b_only")).alias("b_only_est"),
        F.col("n").cast("long").alias("n_union_sample"),
        "n_both", "n_a_only", "n_b_only",
    )


# ---------------------------------------------------------------
# Bloom filter (Bloom 1970, public) — mergeable set MEMBERSHIP, the
# sketch the cardinality family (HLL/KMV) deliberately doesn't
# answer: "might this key have been seen" with no false negatives
# and a tunable false-positive rate. Sparse representation: one row
# per SET bit position (at most m_bits rows regardless of corpus
# size), so merge = distinct union (bitwise OR) and the DuckDB
# oracle replays every position from the shared _hash48 recipe:
# pos_i(x) = H48('bloom', x, seed, i) % m_bits, i in [0, k).
# Classic FPR ~ (1 - e^(-k*n/m))^k; the guarantee the tests pin is
# the hard one — a key that was inserted is NEVER reported absent.
# Reference analogue: uniqueness/referential checks (SURVEY §2.3)
# promoted to a fixed-size pre-filter a 100 TB anti-join can
# consult before shuffling raw keys.
# ---------------------------------------------------------------


def _bloom_check(m_bits: int, k: int) -> None:
    if m_bits < 8:
        raise ValueError("m_bits must be >= 8")
    if not 1 <= k <= 16:
        raise ValueError("k must be in [1, 16]")


def _bloom_positions(col: Column, m_bits: int, k: int,
                     seed: int) -> Column:
    return F.array(*[
        _hash48(F.lit("bloom"), col.cast("string"),
                F.lit(str(seed)), F.lit(str(i)))
        % F.lit(int(m_bits))
        for i in range(int(k))
    ])


def bloom_sketch(
    df: DataFrame,
    key: str,
    *,
    m_bits: int = 4096,
    k: int = 3,
    seed: int = 0,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Build the filter: ``(*by, pos)`` with one row per set bit —
    at most ``groups * m_bits`` rows. One projection fans each key
    into its k positions, then ONE distinct aggregate whose
    map-side partials are already filter-shaped. NULL keys are
    skipped (membership of NULL has no semantics)."""
    _bloom_check(m_bits, k)
    col = F.col(key)
    return (
        df.where(col.isNotNull())
        .select(*by,
                F.explode(_bloom_positions(col, m_bits, k, seed))
                .alias("pos"))
        .distinct()
    )


def bloom_contains(
    sketch: DataFrame,
    probes: DataFrame,
    key: str,
    *,
    m_bits: int = 4096,
    k: int = 3,
    seed: int = 0,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Probe the filter: for every distinct probe key (per group when
    ``by`` names the sketch's grouping — the probe frame must carry
    those columns), recompute the k positions and left-join the
    position table. Returns ``(*by, key, n_hits, might_contain)``
    with ``might_contain = (n_hits == k)`` — true for every inserted
    key (no false negatives), occasionally true for absent keys at
    the designed FPR. The join side is bounded by
    ``groups * m_bits`` rows — broadcast territory, AQE's call."""
    _bloom_check(m_bits, k)
    _check_sketch_columns(sketch, by, ("pos",), "bloom_contains")
    missing = [c for c in by if c not in probes.columns]
    if missing:
        raise ValueError(
            f"bloom_contains: probe frame lacks group columns "
            f"{missing}")
    col = F.col(key)
    cand = (
        probes.where(col.isNotNull())
        .select(*by, col.alias(key))
        .distinct()
        .select(*by, key,
                F.explode(_bloom_positions(F.col(key), m_bits, k,
                                           seed)).alias("pos"))
    )
    hit = cand.join(
        sketch.withColumn("__hit", F.lit(1)),
        [*by, "pos"], "left")
    return (
        hit.groupBy(*by, key)
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .cast("int").alias("n_hits"))
        .withColumn("might_contain", F.col("n_hits") == F.lit(int(k)))
    )
