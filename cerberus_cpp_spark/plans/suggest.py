"""Constraint suggestion: profile a table → propose a rules dict.

The inverse direction of the engine (deequ-style "constraint
suggestion" re-expressed in the reference's rule vocabulary,
``rules.hh:640-667``): one stats pass over the table yields a
cerberus schema that the profiled data itself satisfies — the
starting point a user edits instead of writing rules from scratch.

Emitted rules per column (all deterministic):

- ``type``: Spark dtype → reference type name (integer/float/string/
  boolean/list/dict). Date/timestamp/binary columns get NO type rule —
  the reference deliberately omits those types (doc/index.rst:278-284).
- ``required: True`` + implicit ``nullable: False`` when the column
  has zero NULLs; ``nullable: True`` otherwise.
- ``min``/``max`` for numerics: observed bounds widened by 1 (the
  reference's comparisons are EXCLUSIVE — rules.hh:303-339 — so the
  observed extremes must sit strictly inside). Non-finite float
  bounds (NaN/±inf reach min/max: NaN sorts greatest in Spark)
  suppress the pair instead of crashing ``math.floor`` (ADVICE r3).
- ``allowed`` for low-cardinality string columns: the full sorted
  distinct set when it has ≤ ``ALLOWED_MAX_DISTINCT`` (16) values.
- ``minlength``/``maxlength`` for array columns: observed size range.
- ``regex`` for fixed-shape string columns (round 4): every non-null
  value shares one character-class SHAPE (digits→9, a-z→a, A-Z→A via
  three ``translate``s, other chars literal). A single observed
  shape compiles to a full-match pattern of char-expanded classes —
  ``Customer#000000123`` → ``[A-Z][a-z]{7}#…`` rendered WITHOUT
  quantifiers (``[A-Z][a-z][a-z]…``) so a SQL oracle can rebuild the
  exact string with three ``replace`` calls. Emitted only when no
  ``allowed`` rule fired (allowed is strictly stronger) and all
  values are ≤ ``MAX_SHAPE_LEN`` (64) chars.

Every column of the frame is profiled. Quantile ("robust") bounds —
opt-in via ``robust_bounds=(lo_q, hi_q)``: numeric min/max derive
from quantiles instead of observed extremes, so the suggestion
intentionally FLAGS tail outliers; the self-consistency property
below does not hold by design then. The quantiles are Spark's exact
``percentile`` aggregate inside the same single pass-1 job (linear
interpolation, matching DuckDB's ``quantile_cont`` for the oracle).

Scale shape (100 TB): pass 1 is ONE aggregation (map-side partials)
computing null counts, min/max, shape min/max, array-size bounds,
quantiles when requested, and an ``approx_count_distinct``
PRE-FILTER; pass 2 is ONE job collecting the exact distinct sets of
ALL admitted string columns together (capped ``collect_set`` per
column — the prefilter bounds each set to ~2×``ALLOWED_MAX_DISTINCT``
values, deduped map-side). No full-column collects, no per-column
scans (round 4: previously one driver job PER admitted column).

Self-consistency property (pinned in tests):
``TableValidator(suggest_rules(df)).validate(df).is_valid()`` is
always True without ``robust_bounds`` — a suggestion that flags the
data it was derived from would be useless.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_NAMES: list[tuple[type, str]] = [
    (T.BooleanType, "boolean"),
    (T.ByteType, "integer"),
    (T.ShortType, "integer"),
    (T.IntegerType, "integer"),
    (T.LongType, "integer"),
    (T.FloatType, "float"),
    (T.DoubleType, "float"),
    (T.DecimalType, "float"),
    (T.StringType, "string"),
    (T.ArrayType, "list"),
    (T.MapType, "dict"),
    (T.StructType, "dict"),
]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
_DIGITS = "0123456789"
# chars with meaning in Java/RE2/Python regex OUTSIDE a class; '#',
# '-', ' ' etc. deliberately NOT escaped so the Python rendering and
# a plain SQL replace-chain produce byte-identical patterns
_REGEX_META = set(".^$*+?()[]{}|\\")
_CLASS = {"9": "[0-9]", "a": "[a-z]", "A": "[A-Z]"}
#: a string column with at most this many distinct values gets ``allowed``
ALLOWED_MAX_DISTINCT = 16
#: a string column with a longer value gets no ``regex``
MAX_SHAPE_LEN = 64


def _type_name(dtype: T.DataType) -> str | None:
    for cls, name in _TYPE_NAMES:
        if isinstance(dtype, cls):
            return name
    return None  # date/timestamp/binary/...: reference omits them


def shape_of(c: Column) -> Column:
    """Character-class shape: ASCII digits→'9', a-z→'a', A-Z→'A',
    everything else literal. Three ``translate``s (JVM, codegen) —
    no regex. 'Customer#000000123' → 'Aaaaaaaa#999999999'."""
    return F.translate(
        F.translate(F.translate(c, _DIGITS, "9" * 10),
                    _LOWER, "a" * 26),
        _UPPER, "A" * 26)


def shape_to_regex(shape: str) -> str:
    """Shape → full-match pattern, one char-class per position (no
    {n} quantifiers: byte-reconstructable in SQL via three
    ``replace`` calls on the shape)."""
    return "".join(
        _CLASS.get(ch) or ("\\" + ch if ch in _REGEX_META else ch)
        for ch in shape)


def suggest_rules(
    df: DataFrame,
    *,
    robust_bounds: tuple[float, float] | None = None,
) -> dict:
    """Propose a rules dict the profiled ``df`` satisfies (without
    ``robust_bounds``). See module docstring for the emitted
    vocabulary and the two-job shape."""
    if robust_bounds is not None:
        lo_q, hi_q = float(robust_bounds[0]), float(robust_bounds[1])
        if not (0.0 <= lo_q <= hi_q <= 1.0):
            raise ValueError(f"robust_bounds out of order: "
                             f"{robust_bounds}")
    # quantile profiles (exact percentiles) are heavy per row, so a
    # parallelism-starved raw scan (one small parquet file = ONE
    # split) leaves cores idle — the shared fan-out policy
    # (identity for derived frames and at real scale) spreads them
    # (measured -0.7 s at sf0.1 on the robust-bounds profile). The
    # plain min/max/shape profile is deliberately NOT gated: it is
    # cheap enough per row that the extra Exchange costs more than the
    # parallelism buys (measured +0.2 s on the same tables).
    if robust_bounds is not None:
        from ..operators.partitioning import fanout_gate

        df = fanout_gate(df)
    fields = df.schema.fields
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c = F.col(f.name)
        aggs.append(
            F.coalesce(F.sum(c.isNull().cast("long")), F.lit(0))
            .alias(f"__null_{f.name}"))
        if isinstance(f.dataType, _NUMERIC):
            aggs.append(F.min(c).alias(f"__min_{f.name}"))
            aggs.append(F.max(c).alias(f"__max_{f.name}"))
            if robust_bounds is not None:
                # NaN would sort greatest and poison the hi quantile;
                # ±inf would crash the floor below — exclude BOTH from
                # the quantile basis (min/max still see them, and the
                # isfinite guard suppresses those rules)
                cf = c.cast("double")
                clean = F.when(~F.isnan(cf) & ~cf.isin(
                    float("inf"), float("-inf")), cf)
                aggs.append(F.percentile(clean, F.lit(lo_q))
                            .alias(f"__qlo_{f.name}"))
                aggs.append(F.percentile(clean, F.lit(hi_q))
                            .alias(f"__qhi_{f.name}"))
        elif isinstance(f.dataType, T.StringType):
            # cheap prefilter only — the definitive allowed-set
            # decision is pass 2's exact, bounded collect_set
            aggs.append(F.approx_count_distinct(c, 0.05)
                        .alias(f"__adist_{f.name}"))
            sh = F.when(F.length(c) <= MAX_SHAPE_LEN, shape_of(c))
            aggs.append(F.min(sh).alias(f"__shmin_{f.name}"))
            aggs.append(F.max(sh).alias(f"__shmax_{f.name}"))
            aggs.append(F.max(F.length(c)).alias(f"__len_{f.name}"))
        elif isinstance(f.dataType, T.ArrayType):
            aggs.append(F.min(F.size(c)).alias(f"__minsz_{f.name}"))
            aggs.append(F.max(F.size(c)).alias(f"__maxsz_{f.name}"))
    stats = df.agg(*aggs).collect()[0].asDict()

    # pass 2 — ONE batched job: exact distinct sets for every string
    # column the prefilter admitted, each capped to
    # ALLOWED_MAX_DISTINCT+1 values (collect_set dedupes map-side, so
    # the shuffle moves at most the tiny set per column per partition)
    cap = ALLOWED_MAX_DISTINCT
    admitted = [
        f.name for f in fields
        if f"__adist_{f.name}" in stats
        and stats[f"__adist_{f.name}"] <= cap * 2
    ]
    distinct_sets: dict[str, list] = {}
    if admitted:
        row = df.agg(*[
            F.slice(F.sort_array(F.collect_set(F.col(n))), 1, cap + 1)
            .alias(n)
            for n in admitted
        ]).collect()[0]
        distinct_sets = {n: list(row[n]) for n in admitted}

    rules: dict = {}
    for f in fields:
        r: dict = {}
        tname = _type_name(f.dataType)
        if tname is not None:
            r["type"] = tname
        if stats[f"__null_{f.name}"] == 0:
            r["required"] = True
        else:
            r["nullable"] = True
        if f"__min_{f.name}" in stats:
            lo, hi = stats[f"__min_{f.name}"], stats[f"__max_{f.name}"]
            if robust_bounds is not None and lo is not None:
                lo = stats[f"__qlo_{f.name}"]
                hi = stats[f"__qhi_{f.name}"]
            if lo is not None and hi is not None:
                if tname == "integer" and robust_bounds is None:
                    r["min"], r["max"] = int(lo) - 1, int(hi) + 1
                elif _finite(lo) and _finite(hi):
                    # floor()±1 keeps the bounds exact doubles (no
                    # float-repr drift between engines); NaN/±inf
                    # suppress the pair (ADVICE r3: math.floor raises
                    # on both)
                    if tname == "integer":
                        r["min"] = int(math.floor(float(lo))) - 1
                        r["max"] = int(math.floor(float(hi))) + 1
                    else:
                        r["min"] = float(math.floor(lo)) - 1.0
                        r["max"] = float(math.floor(hi)) + 1.0
        if f"__minsz_{f.name}" in stats:
            if stats[f"__minsz_{f.name}"] is not None:
                r["minlength"] = int(stats[f"__minsz_{f.name}"])
                r["maxlength"] = int(stats[f"__maxsz_{f.name}"])
        if f.name in distinct_sets:
            vals = distinct_sets[f.name]
            # an all-NULL column would yield allowed=[] — a rule that
            # rejects every future value; suggest nothing instead
            if 0 < len(vals) <= cap:
                r["allowed"] = sorted(vals)
        if ("allowed" not in r and f"__shmin_{f.name}" in stats):
            smin = stats[f"__shmin_{f.name}"]
            smax = stats[f"__shmax_{f.name}"]
            maxlen = stats[f"__len_{f.name}"]
            # single shape over ALL values (values longer than
            # MAX_SHAPE_LEN shape to NULL, so the length gate is what
            # guarantees min/max saw every value), at least one class
            # char (a constant literal column is allowed's job)
            if (smin is not None and smin == smax
                    and maxlen is not None
                    and maxlen <= MAX_SHAPE_LEN
                    and any(ch in "9aA" for ch in smin)):
                r["regex"] = shape_to_regex(smin)
        if r:
            rules[f.name] = r
    return rules


def _finite(v) -> bool:
    try:
        return math.isfinite(v)
    except TypeError:  # Decimal etc. — cannot hold non-finite
        return True


def rules_as_rows(rules: dict) -> list[tuple[str, str, str]]:
    """Flatten a suggestion into sorted (col_name, rule, value)
    triples — the driver-contract / oracle-comparable projection.
    Values render deterministically: lists join with '|', floats use
    repr (they are integral by construction), bools lowercase."""
    out = []
    for col, r in rules.items():
        for rule, v in r.items():
            if isinstance(v, list):
                sval = "|".join(str(x) for x in v)
            elif isinstance(v, bool):
                sval = "true" if v else "false"
            elif isinstance(v, float):
                sval = repr(v)
            else:
                sval = str(v)
            out.append((col, rule, sval))
    return sorted(out)
