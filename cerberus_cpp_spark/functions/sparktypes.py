"""The scalar table (``functions/pytypes.py``) as Column expressions.

A YAML decode is NOT Spark's ``cast``: Spark casts ``"3.14"`` → long
and boolean → int, a YAML decode does neither (``types.hh:31-58``). A
column's family comes from its dtype, and the table's cell for
(target, family) gives the expression: a conversion is the column
itself, a widening or its text; a parse takes the number out of the
text with one ``regexp_extract`` of the table's lexical form and
converts it with ``try_cast`` (hex and octal through ``conv``, within
64 bits by the form); no cell is None, so the compiler folds the rule.
No expression here can fail a job under ANSI mode. A fractional
value's text is the interpreter's, Python's ``repr``: Spark's own cast
writes ``1.0E-5`` for ``1e-05`` and, through JDK 17's
``Double.toString``, sometimes a digit too many.

All expressions are built-in ``pyspark.sql.functions`` — they stay
inside whole-stage codegen; no Python UDFs on this path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pytypes import (BOOL_TEXT, FIXED_EXPONENTS, FLOAT_TEXT, INT_TEXT,
                      MATRIX, decode, parse_boolean, parse_float,
                      parse_integer, scalar_text)

#: a column's value family (the Python type :data:`MATRIX` keys), by dtype
_FAMILIES = (
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), int),
    ((T.FloatType, T.DoubleType, T.DecimalType), float),
    ((T.BooleanType,), bool),
    ((T.StringType,), str),
)
INTEGRAL_TYPES = _FAMILIES[0][0]


def _family(dtype: T.DataType) -> type | None:
    """The family of a column of ``dtype``; None for a container."""
    return next((fam for types, fam in _FAMILIES
                 if isinstance(dtype, types)), None)


def _number(text: Column, form: str) -> Column:
    """The group of a full match of ``form``: the number without its
    whitespace; ``""`` when ``text`` does not match. One regex pass."""
    return F.regexp_extract(text, f"\\A(?:{form})\\z", 1)


def _parse_integer(text: Column) -> Column:
    num = _number(text, INT_TEXT)
    base = F.when(num.contains("x"), 16).when(num.contains("o"), 8)
    radix = F.concat(  # the form keeps hex and octal within 64 bits
        F.when(num.startswith("-"), "-").otherwise(""), F.call_function(
            "conv", F.substring_index(F.substring_index(num, "x", -1),
                                      "o", -1), base, F.lit(10)))
    return F.coalesce(num.try_cast("long"), radix.try_cast("long"))


def _parse_float(text: Column) -> Column:
    num = F.lower(_number(text, FLOAT_TEXT))  # .inf/.nan lose their dot
    return F.replace(F.replace(num, F.lit(".inf"), F.lit("inf")),
                     F.lit(".nan"), F.lit("nan")).try_cast("double")


def _parse_boolean(text: Column) -> Column:
    return (F.when(text.isin([t for t, b in BOOL_TEXT.items() if b]), True)
            .when(text.isin([t for t, b in BOOL_TEXT.items() if not b]),
                  False))


#: the table's parse of text → its Column expression
_PARSE = {parse_integer: _parse_integer, parse_float: _parse_float,
          parse_boolean: _parse_boolean}


def _float_text(x: Column) -> Column:
    """A double written as the interpreter writes a float (``repr``).
    Between 1e-3 and 1e7 Spark's own text is that already; elsewhere it
    is ``%.{k}e`` with the fewest decimals ``k`` that read back as
    ``x``, laid out by :data:`FIXED_EXPONENTS`."""
    java = x.try_cast("string")
    k = F.coalesce(*[
        F.when(F.format_string(f"%.{d}e", x).try_cast("double") == x, d)
        for d in range(17)])
    sci = F.printf(F.concat(F.lit("%."), k, F.lit("e")), x)
    e = F.substring_index(sci, "e", -1).try_cast("int")
    fixed = F.printf(
        F.concat(F.lit("%."), F.greatest(k - e, F.lit(1)), F.lit("f")), x)
    lo, hi = FIXED_EXPONENTS.start, FIXED_EXPONENTS.stop - 1
    return (F.when(F.isnan(x), "nan")
            .when(x == float("inf"), "inf").when(x == float("-inf"), "-inf")
            .when(~java.contains("E"), java)
            .when(F.abs(2 * e - (lo + hi)) <= hi - lo, fixed).otherwise(sci))


def decode_expr(
    col: Column, dtype: T.DataType, target: str
) -> Optional[Column]:
    """Decoded value of ``col`` as ``target`` for comparisons, NULL
    where the YAML decode fails; None when it never succeeds. A NaN
    decodes to NULL: the interpreter's NaN is neither less than nor
    equal to anything, Spark's is the largest double and equals
    itself."""
    fam = _family(dtype)
    cell = MATRIX.get(target, {}).get(fam)
    if cell is None:
        return None
    if cell is scalar_text:
        if fam is float:
            return _float_text(col.try_cast("double"))
        return col if fam is str else col.try_cast("string")
    if cell in _PARSE:
        out = _PARSE[cell](col)
    else:  # integral as integer, boolean as boolean: the column itself
        out = col.try_cast("double") if cell is float else col
    return F.when(~F.isnan(out), out) if cell in (float, parse_float) \
        else out


def text_expr(col: Optional[Column], dtype: T.DataType) -> Column:
    """``col``'s text as the interpreter writes it (``scalar_text``);
    NULL where there is none: no value, or a container."""
    text = None if col is None else decode_expr(col, dtype, "string")
    return F.lit(None).try_cast("string") if text is None else text


def convertible_expr(
    col: Column, dtype: T.DataType, target: str
) -> Column:
    """Boolean Column: would a YAML decode of ``col`` to ``target``
    succeed? (NULL/undefined inputs are the caller's concern.)"""
    cell = MATRIX.get(target, {}).get(_family(dtype))
    if cell in _PARSE:
        return _PARSE[cell](col).isNotNull()
    return F.lit(cell is not None)  # folded by Catalyst


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
      / ``allowed:`` argument) decoded to the SAME representation;
      without it the literal compares as written.
    """

    name: str
    convertible: Callable[[Column, T.DataType], Column]
    decode: Callable[[Column, T.DataType], Optional[Column]] | None = None
    literal: Callable[[Any], Column] | None = None


def typed_literal(value, target: str) -> Optional[Column]:
    """A schema literal decoded driver-side by the interpreter's table;
    None where it does not decode (or ``target`` is no builtin type).
    The interpreter's ``less``/``equality`` with such a literal are
    False, so the compiler folds its comparisons to that constant."""
    try:
        return F.lit(decode(target, value))
    except (ValueError, KeyError):
        return None
