"""Sampled validation audit with statistical confidence bounds.

At 10^12 rows you rarely need the EXACT violation count to decide
whether a snapshot is shippable — you need to know, per rule, whether
the violation RATE is above or below a budget, with quantified
uncertainty, after scanning ~1% of the data. This module runs the
compiled rule plan (``plans/engine.py``) over a DETERMINISTIC hash
sample and emits, per violation path, a Wilson score confidence
interval on the violation rate plus a three-way verdict against a
caller-supplied budget.

Reference analogue: cerberus-cpp evaluates every rule on every
document (validator.hh:239-258 — there is no sampling in a per-record
validator); the sampled audit is the dataset-level generalization the
north rule asks for: the same rule vocabulary, but a scan-budgeted
estimator with honest error bars instead of a full pass.

Design decisions (all scale-driven):

- **Deterministic sample, not ``df.sample()``** — membership is
  ``split_bucket(key, seed) < fraction*SCALE`` (``operators/split.py``:
  md5 of the row key), a pure function of the key. Re-runs, appends,
  and repartitioning audit the SAME rows, the audit is resumable, and
  a DuckDB oracle replays membership bit-for-bit. ``rand()`` sampling
  has none of these properties.
- **One pass, one tiny shuffle.** The sampled frame flows through the
  fused shuffle-free validation projection; each row emits a count
  marker, an any-violation marker, and its DISTINCT violation paths
  via one ``explode``; a single hash aggregate (partial agg map-side,
  ~|distinct paths| rows after) produces every numerator and the
  denominator together. No second scan for ``n``, no driver loop.
- **Wilson, not Wald.** The normal-approximation interval collapses
  at p→0 — exactly the regime a validation audit lives in (rates of
  1e-6 on a 10^7-row sample). Wilson stays inside [0,1] and has
  near-nominal coverage at extreme p. z is the two-sided 95%
  quantile.
- **One path count for both passes.** The sampled audit and the exact
  escalation pass count violating rows per path the same way
  (``_count_markers``, ``_with_denominator``); they differ only in
  which markers a row carries.
- **Identical expression trees in both engines.** The interval
  arithmetic is built as ONE SQL string (``wilson_sql``) evaluated by
  Spark via ``F.expr`` and by the DuckDB oracle verbatim — both parse
  to the same left-associated f64 operations and ``sqrt`` is
  correctly rounded IEEE in both, so the oracle matches bit-for-bit,
  not just to tolerance.

Verdict semantics against ``budget`` (a max tolerated violation-rate):
``exceeds_budget`` when the interval's lower bound is above the
budget (the rule is PROVEN broken at confidence z), ``within_budget``
when the upper bound is at or below it, else ``inconclusive`` — the
caller escalates only those paths to an exact pass
(:func:`escalation_filter` builds the predicate), which is the whole
economic point: full scans only where the sample could not decide.

Paths with ZERO sampled violations are absent from the output (their
row-rate interval lower bound is 0 by construction); the synthetic
``__table__`` path reports the any-violation ROW rate whenever at
least one sampled row is invalid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.split import SCALE, split_bucket
from .engine import TableValidator

#: two-sided 95% normal quantile, printed exactly as parsed — the
#: same literal is embedded in the SQL string for both engines.
Z_95 = "1.959963984540054"

_N_MARK = "__n__"
_ANY = "__table__"


def wilson_sql(k: str, n: str, z: str) -> tuple[str, str]:
    """``(lower, upper)`` Wilson score bound SQL for ``k`` successes
    in ``n`` trials at normal quantile ``z``.

    All three arguments are SQL fragments spliced verbatim; the
    returned strings run unchanged under Spark SQL and DuckDB
    (shared operators only: ``+ - * /`` and ``sqrt``), which is what
    makes the audit oracle bit-exact rather than tolerance-based.
    """
    p = f"(CAST({k} AS DOUBLE) / CAST({n} AS DOUBLE))"
    nd = f"CAST({n} AS DOUBLE)"
    centre = f"({p} + {z} * {z} / (2.0 * {nd}))"
    half = (f"({z} * sqrt({p} * (1.0 - {p}) / {nd}"
            f" + {z} * {z} / (4.0 * {nd} * {nd})))")
    denom = f"(1.0 + {z} * {z} / {nd})"
    # analytically in [0,1]; the clamp absorbs float residue at the
    # exact endpoints (k=0 gives lo = -epsilon, k=n gives hi = 1+eps)
    return (f"greatest(0.0, (({centre} - {half}) / {denom}))",
            f"least(1.0, (({centre} + {half}) / {denom}))")


def verdict_sql(lo: str, hi: str, budget: float) -> str:
    """Three-way budget verdict CASE shared by both engines."""
    b = repr(float(budget))
    return (f"CASE WHEN {lo} > {b} THEN 'exceeds_budget' "
            f"WHEN {hi} <= {b} THEN 'within_budget' "
            f"ELSE 'inconclusive' END")


def sample_predicate(key: str | Column, fraction: float,
                     seed: int = 0) -> Column:
    """Deterministic membership predicate for the audit sample —
    a narrow, Python-free JVM expression (md5 + conv + modulo)."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    return split_bucket(key, seed) < F.lit(int(round(fraction * SCALE)))


def _distinct_paths() -> Column:
    """A row's distinct violation paths."""
    return F.array_distinct(
        F.transform(F.col("violations"), lambda v: v["path"]))


def _count_markers(annotated: DataFrame, *markers: Column) -> DataFrame:
    """``(path, violating_rows)``: every row of ``annotated`` carries
    the ``__n__`` marker followed by its ``markers`` (string arrays);
    one ``explode`` and ONE hash aggregate count the rows per marker,
    so the ``__n__`` row holds the row count."""
    return (
        annotated.select(F.explode(F.concat(
            F.array(F.lit(_N_MARK)), *markers)).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("violating_rows"))
    )


def _with_denominator(counts: DataFrame, name: str) -> DataFrame:
    """``counts`` without its ``__n__`` row, whose count every other
    row carries as ``name``: a single-partition window over the
    already-tiny (path, count) frame, O(distinct violation paths) =
    O(rules) rows, so it is driver-cheap and rescans nothing."""
    everything = Window.partitionBy(F.lit(0))
    return counts.withColumn(
        name,
        F.max(F.when(F.col("path") == _N_MARK,
                     F.col("violating_rows"))).over(everything),
    ).where(F.col("path") != _N_MARK)


def sampled_audit(
    validator: TableValidator,
    df: DataFrame,
    key: str | Column,
    *,
    fraction: float = 0.01,
    seed: int = 0,
    budget: float = 0.0,
) -> DataFrame:
    """Audit ``df`` against ``validator``'s rules on a deterministic
    ``fraction`` hash-sample of rows keyed by ``key``.

    Returns one row per violation path observed in the sample, plus a
    ``__table__`` row for the any-violation row rate::

        (path, sampled_rows, violating_rows, rate, rate_lo, rate_hi,
         verdict)

    ``violating_rows`` counts sampled ROWS violating the path at
    least once (not violation records), so ``rate`` is a true row
    proportion and the binomial interval is honest. An empty sample
    returns an empty frame.

    Plan shape: narrow sample filter → fused validation projection →
    per-row marker array + ``array_distinct`` of paths → one explode
    → ONE hash aggregate; the denominator is recovered from the SAME
    aggregate's ``__n__`` marker row via a single-partition window
    over the already-tiny (path, count) frame — ONE source scan total
    (a join back to a filtered copy of the aggregate would rescan the
    data: Spark plans the two branches independently and
    ReusedExchange is not guaranteed across them). Nothing shuffles
    at data scale except the tiny (path, count) aggregate.
    """
    sample = df.where(sample_predicate(key, fraction, seed))
    annotated = validator.validate(sample).annotated
    any_row = F.when(F.col("n_violations") > 0, F.array(F.lit(_ANY))) \
        .otherwise(F.array().cast("array<string>"))
    counts = _with_denominator(
        _count_markers(annotated, any_row, _distinct_paths()),
        "sampled_rows")

    lo, hi = wilson_sql("violating_rows", "sampled_rows", Z_95)
    rate = rate_sql("violating_rows", "sampled_rows")
    return counts.select(
        "path",
        "sampled_rows",
        "violating_rows",
        F.expr(rate).alias("rate"),
        F.expr(lo).alias("rate_lo"),
        F.expr(hi).alias("rate_hi"),
        F.expr(verdict_sql(lo, hi, budget)).alias("verdict"),
    )


def rate_sql(k: str, n: str) -> str:
    """Division guarded for ``n = 0`` (ANSI mode throws on 0/0; an
    empty table yields a NULL rate, identical in both engines)."""
    return (f"(CASE WHEN {n} = 0 THEN NULL"
            f" ELSE CAST({k} AS DOUBLE) / CAST({n} AS DOUBLE) END)")


def exact_verdict_sql(rate: str, budget: float) -> str:
    """Two-way budget verdict for an EXACT rate (no interval, so
    'inconclusive' cannot occur) — shared by both engines verbatim."""
    b = repr(float(budget))
    return (f"CASE WHEN {rate} > {b} THEN 'exceeds_budget' "
            f"ELSE 'within_budget' END")


_EXACT_SCHEMA = ("path string, total_rows bigint, violating_rows bigint, "
                 "rate double, verdict string")


def exact_rates(
    validator: TableValidator,
    df: DataFrame,
    paths: list[str],
    *,
    budget: float = 0.0,
) -> DataFrame:
    """EXACT violating-row rates for the given violation ``paths``
    over the FULL table — the escalation pass that settles what the
    sampled audit left ``inconclusive``.

    Returns ``(path, total_rows, violating_rows, rate, verdict)``
    with a two-way verdict (exact rate vs budget, no interval).
    Paths with zero violating rows ARE emitted (rate 0.0,
    ``within_budget``) — the escalation caller needs the explicit
    all-clear, unlike the audit where absence means unobserved.

    Same one-scan shape as :func:`sampled_audit`: the fused
    validation projection, a marker explode restricted to the
    requested paths, one hash aggregate, and a single-partition
    window over the O(paths)-row frame for the denominator.
    """
    spark = df.sparkSession
    if not paths:
        return spark.createDataFrame([], _EXACT_SCHEMA)
    if _N_MARK in paths:
        raise ValueError(f"{_N_MARK!r} is a reserved marker")

    annotated = validator.validate(df).annotated
    wanted = F.array(*[F.lit(p) for p in sorted(set(paths))])
    counts = _count_markers(
        annotated, F.array_intersect(_distinct_paths(), wanted))
    # re-attach zero-count paths: a tiny literal frame (O(paths)),
    # joined AFTER the aggregate — never touches the data scan. The
    # ``__n__`` marker rides through the SAME join (a second filtered
    # branch of ``counts`` would re-execute the whole scan: Spark
    # does not guarantee ReusedExchange across branches).
    requested = spark.createDataFrame(
        [(p,) for p in sorted(set(paths)) + [_N_MARK]], "path string")
    full = _with_denominator(
        requested.join(F.broadcast(counts), "path", "left").select(
            "path",
            F.coalesce(F.col("violating_rows"),
                       F.lit(0).cast("bigint")).alias("violating_rows"),
        ),
        "total_rows")
    rate = rate_sql("violating_rows", "total_rows")
    return full.select(
        "path",
        "total_rows",
        "violating_rows",
        F.expr(rate).alias("rate"),
        F.expr(exact_verdict_sql(rate, budget)).alias("verdict"),
    )


def escalation_filter(audit: DataFrame) -> list[str]:
    """Paths the sample could not decide — the exact-pass worklist.

    Driver-side collect of an already-tiny aggregate (≤ the number of
    distinct violation paths, i.e. O(rules), never O(rows))."""
    return [
        r["path"]
        for r in audit.where(F.col("verdict") == "inconclusive")
        .select("path").collect()
        if r["path"] != _ANY
    ]
