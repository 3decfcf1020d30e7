"""The scalar table: what a builtin type decodes, defined once for
both engines.

The reference's ``type`` rule means "a YAML decode of this scalar to
the named type would succeed", and ``equality``/``less`` compare the
decoded values (``types.hh:16-72``, SURVEY.md §1.2.3): ``42`` decodes
as integer AND float, ``true`` not as integer, ``abc`` fails numerics,
any scalar decodes as string (``test/testdata.yml:505-527``), and
``integer`` is a C++ ``long long``. This module holds the lexical
forms, the int64 range, :data:`MATRIX` (target × value family → the
conversion or parse; no cell where the decode never succeeds) and
:func:`scalar_text`. The interpreter reads it through
:data:`BUILTIN_TYPES`, the columnar engine through
``functions/sparktypes.py``. Where the reference is silent the forms
keep the interpreter's answers: whitespace around a number is allowed,
hex and octal need a lowercase ``0x``/``0o``, a decimal integer with a
leading ``0`` must be all zeros, and boolean text matches exactly.

Values in the dynamic interpreter are plain Python objects as produced
by ``yaml.safe_load`` (int / float / bool / str / None / list / dict)
plus the ``UNDEFINED`` sentinel for absent keys — Python ``None``
models YAML explicit null (``~``), which the reference distinguishes
from an undefined key (``rules.hh:587-588`` vs ``rules.hh:513``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import partial
from typing import Any, Callable


class _Undefined:
    """Sentinel for an absent key (YAML ``!IsDefined()``)."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "UNDEFINED"

    def __bool__(self) -> bool:
        return False


UNDEFINED = _Undefined()


#: whitespace a number's text may carry around it: the characters
#: Python's ``str.isspace`` accepts, as a class both regex engines read
_WS = (r"[\t\n\x0b\x0c\r\x1c-\x1f \x85\xa0\u1680\u2000-\u200a"
       r"\u2028\u2029\u202f\u205f\u3000]*")
#: integer text; its group is the number: a sign, then hex, octal or
#: decimal digits. Hex and octal are bounded to 64 bits (a longer one is
#: past int64 anyway), so the columnar ``conv`` never overflows
INT_TEXT = (_WS + r"([-+]?(?:0x0*[0-9a-fA-F]{1,16}|0o0*1?[0-7]{1,21}"
            r"|0+|[1-9][0-9]*))" + _WS)
#: float/number text; its group is the number, ``.inf`` with its sign or
#: ``.nan``
FLOAT_TEXT = (_WS + r"([-+]?(?:\.[0-9]+|[0-9]+(?:\.[0-9]*)?)"
              r"(?:[eE][-+]?[0-9]+)?|[-+]?\.(?:inf|Inf|INF)"
              r"|\.(?:nan|NaN|NAN))" + _WS)
#: boolean text → its value
BOOL_TEXT = {
    **dict.fromkeys(("true", "True", "TRUE", "yes", "Yes", "YES",
                     "on", "On", "ON"), True),
    **dict.fromkeys(("false", "False", "FALSE", "no", "No", "NO",
                     "off", "Off", "OFF"), False),
}
#: the range of ``integer``: a C++ ``long long``
INT64 = (-(1 << 63), (1 << 63) - 1)
#: the decimal exponents a float's text writes in fixed notation
#: (``0.0001``, ``1e-05``; ``1000000000000000.0``, ``1e+16``)
FIXED_EXPONENTS = range(-4, 16)


def scalar_text(value: Any) -> str | None:
    """The text of a scalar (None for null, undefined and containers):
    a boolean writes ``true``/``false``, a float its shortest digits
    that read back as the same double, laid out by
    :data:`FIXED_EXPONENTS` — Python's ``repr``, also ``inf``/``nan``."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, float, str)):
        return str(value)
    return None


_INT_RE = re.compile(INT_TEXT)
_FLOAT_RE = re.compile(FLOAT_TEXT)


def parse_integer(text: str) -> int | None:
    m = _INT_RE.fullmatch(text)
    n = None if m is None else int(m[1], 0)
    return n if n is not None and INT64[0] <= n <= INT64[1] else None


def parse_float(text: str) -> float | None:
    m = _FLOAT_RE.fullmatch(text)  # .inf and .nan lose their dot
    return None if m is None else float(
        m[1].replace(".", "") if m[1][-1] in "fFnN" else m[1])


parse_boolean = BOOL_TEXT.get

#: target → value family (the Python type of a value) → its decode: a
#: conversion that always succeeds, or for text a parse that returns
#: None where the text does not decode. A family the target does not
#: list never decodes, nor does a value of no family (null, a container)
MATRIX: dict[str, dict[type, Callable[[Any], Any]]] = {
    "integer": {int: int, str: parse_integer},
    "float": {int: float, float: float, str: parse_float},
    "boolean": {bool: bool, str: parse_boolean},
    "string": dict.fromkeys((int, float, bool, str), scalar_text),
}
MATRIX["number"] = MATRIX["float"]
#: target → the Python types whose :data:`MATRIX` cell is a conversion,
#: not a parse: every value of them decodes (an int only within INT64)
CONVERTS = {
    target: frozenset(kind for kind, cell in cells.items() if cell not in (
        parse_integer, parse_float, parse_boolean))
    for target, cells in MATRIX.items()}


def decode(target: str, value: Any) -> Any:
    """``value`` decoded as the builtin ``target``; ``ValueError`` where
    the YAML decode fails (yaml-cpp ``convert<T>::decode`` returning
    false, ``types.hh:35-39``). An int beyond int64 decodes as its
    digits: that is all a YAML decode sees of it."""
    if type(value) is int and not INT64[0] <= value <= INT64[1]:
        value = str(value)
    cell = MATRIX[target].get(type(value))
    out = None if cell is None else cell(value)
    if out is None:
        raise ValueError(f"not {target}-decodable: {value!r}")
    return out


@dataclass(frozen=True)
class TypeAdapter:
    """One registered scalar type: decode / equality / less.

    ``decode`` returns the decoded value or raises ``ValueError`` —
    mirroring yaml-cpp ``convert<T>::decode`` returning false
    (``types.hh:35-39``).
    """

    name: str
    decode: Callable[[Any], Any]

    def is_convertible(self, value: Any) -> bool:
        try:
            self.decode(value)
            return True
        except (ValueError, TypeError):
            return False

    def equality(self, a: Any, b: Any) -> bool:
        try:
            return self.decode(a) == self.decode(b)
        except (ValueError, TypeError):
            return False

    def less(self, a: Any, b: Any) -> bool:
        try:
            return self.decode(a) < self.decode(b)
        except (ValueError, TypeError):
            return False


#: the five builtin scalar types (reference ``types.hh:64-72``):
#: :data:`MATRIX` decides, and only text reaches a parser. Immutable, so
#: every validator's type table starts from these same adapters
BUILTIN_TYPES = {t: TypeAdapter(t, partial(decode, t)) for t in MATRIX}
