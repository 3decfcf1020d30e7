"""Spark-side scalar type system: the YAML-convertibility matrix as
Column expressions.

The reference's ``type`` rule means "a YAML decode of this scalar to
the named type would succeed" (``types.hh:31-58``), which is NOT
Spark's ``cast``: Spark happily casts ``"3.14"`` → long (truncates)
and boolean → int, YAML decode does neither. So each (source Spark
dtype, target type name) pair gets an explicit decode expression that
yields NULL exactly when the YAML decode would fail; convertibility is
``decode IS NOT NULL``. Statically-impossible pairs return None so
the compiler can fold the predicate to a constant.

All expressions here are built-in ``pyspark.sql.functions`` — they
stay inside whole-stage codegen; no Python UDFs on this path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pytypes import builtin_types

# Anchored lexical forms of YAML scalars (same families as pytypes;
# the Spark path restricts integers to decimal text — hex/octal YAML
# ints are not expressible via Spark cast and are vanishingly rare in
# tabular data; the dynamic interpreter still accepts them).
INT_TEXT = r"^[-+]?[0-9]+$"
FLOAT_TEXT = (
    r"^([-+]?(\.[0-9]+|[0-9]+(\.[0-9]*)?)([eE][-+]?[0-9]+)?"
    r"|[-+]?\.(inf|Inf|INF)|\.(nan|NaN|NAN))$"
)
BOOL_TRUE_TEXT = ["true", "True", "TRUE", "yes", "Yes", "YES", "on", "On", "ON"]
BOOL_FALSE_TEXT = ["false", "False", "FALSE", "no", "No", "NO", "off", "Off", "OFF"]

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
_SCALARS = _INTEGRAL + _FRACTIONAL + (T.StringType, T.BooleanType)


def decode_expr(
    col: Column, dtype: T.DataType, target: str
) -> Optional[Column]:
    """Decoded value of ``col`` as ``target``, NULL when the YAML
    decode would fail; None when statically never convertible."""
    if target == "integer":
        if isinstance(dtype, _INTEGRAL):
            return col.cast("long")
        if isinstance(dtype, T.StringType):
            return F.when(col.rlike(INT_TEXT), col.cast("long"))
        return None  # boolean / fractional text never decodes as int
    if target in ("float", "number"):
        if isinstance(dtype, _INTEGRAL + _FRACTIONAL):
            return col.cast("double")
        if isinstance(dtype, T.StringType):
            return F.when(col.rlike(FLOAT_TEXT), col.cast("double"))
        return None
    if target == "boolean":
        if isinstance(dtype, T.BooleanType):
            return col
        if isinstance(dtype, T.StringType):
            return (
                F.when(col.isin(BOOL_TRUE_TEXT), F.lit(True))
                .when(col.isin(BOOL_FALSE_TEXT), F.lit(False))
            )
        return None
    if target == "string":
        if isinstance(dtype, T.StringType):
            return col
        if isinstance(dtype, _SCALARS):
            return col.cast("string")
        return None
    # unknown / custom target type: no builtin decode
    return None


def convertible_expr(
    col: Column, dtype: T.DataType, target: str
) -> Column:
    """Boolean Column: would a YAML decode of ``col`` to ``target``
    succeed? (NULL/undefined inputs are the caller's concern.)"""
    static_ok = {
        "integer": _INTEGRAL,
        "float": _INTEGRAL + _FRACTIONAL,
        "number": _INTEGRAL + _FRACTIONAL,
        "boolean": (T.BooleanType,),
        "string": _SCALARS,
    }
    families = static_ok.get(target)
    if families is not None and isinstance(dtype, families):
        return F.lit(True)  # folded by Catalyst
    dec = decode_expr(col, dtype, target)
    if dec is None:
        return F.lit(False)
    return dec.isNotNull()


@dataclass(frozen=True)
class SparkTypeAdapter:
    """Columnar twin of the reference's three-operation type interface
    (``types.hh:16-21``: ``is_convertible`` / ``equality`` / ``less``).

    Spark total orders come for free once values live in an *orderable
    decoded representation*, so instead of separate equality/less
    callables the adapter exposes:

    - ``convertible(col, dtype) -> Column[bool]``: would a YAML decode
      of this scalar to the custom type succeed (the ``type`` rule).
    - ``decode(col, dtype) -> Column | None``: the decoded, orderable
      representation (e.g. a date string → timestamp). ``min``/``max``
      compare with ``<``/``>=`` on it and ``allowed``/``forbidden``
      with ``isin``/``eqNullSafe`` — i.e. the custom ``less``/
      ``equality`` of ``doc/examples/datetype.cc`` expressed once as a
      canonicalization. None ⇒ statically never decodable.
    - ``literal(value) -> Column``: schema-side constant (the ``min:``
      / ``allowed:`` argument) decoded to the SAME representation.
    """

    name: str
    convertible: Callable[[Column, T.DataType], Column]
    decode: Callable[[Column, T.DataType], Optional[Column]] | None = None
    literal: Callable[[Any], Column] | None = None


def decode_with(
    spark_types: dict, col: Column, dtype: T.DataType, target: str
) -> Optional[Column]:
    """``decode_expr`` extended with the custom-type registry."""
    ad = spark_types.get(target)
    if ad is not None and ad.decode is not None:
        return ad.decode(col, dtype)
    return decode_expr(col, dtype, target)


def literal_with(spark_types: dict, value, target: str) -> Column:
    """``typed_literal`` extended with the custom-type registry."""
    ad = spark_types.get(target)
    if ad is not None and ad.literal is not None:
        return ad.literal(value)
    return typed_literal(value, target)


def typed_literal(value, target: str) -> Column:
    """Schema-side literal decoded driver-side with the SAME python
    matrix the dynamic interpreter uses — keeps both paths agreeing
    on e.g. ``min: "100"`` in a YAML schema."""
    adapter = builtin_types().get(target)
    if adapter is not None:
        try:
            return F.lit(adapter.decode(value))
        except (ValueError, TypeError):
            pass
    return F.lit(value)
