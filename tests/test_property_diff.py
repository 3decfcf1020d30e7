"""Property-based differential test: for random schemas + documents,
the columnar engine and the pure-Python interpreter must return the
same per-document verdict. Catches semantic drift between the two
implementations that hand-picked cases miss (exclusive bounds, null
vs undefined skip rules, type-convertibility edges...).

One Spark job for the whole corpus (documents become rows), so the
property loop stays fast.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.errors import SchemaError
from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.fixtures import (
    HeterogeneousShape,
    golden_frame,
)

FIELDS = ["a", "b", "c"]
SCALARS = [0, 1, -1, 7, 42, 1000, "x", "abc", "42", "7.5", "true",
           True, False, 3.5, -2.25, None]
LISTS = [[], [1], [1, 2, 3], ["a", "b"], ["1", "2"]]


def _rand_rules(rng: random.Random) -> dict:
    rules: dict = {}
    kind = rng.choice(["int", "str", "float", "list", "bare"])
    if kind == "int":
        rules["type"] = "integer"
        if rng.random() < 0.5:
            rules["min"] = rng.choice([-5, 0, 3, 41])
        if rng.random() < 0.5:
            rules["max"] = rng.choice([1, 7, 42, 500])
        if rng.random() < 0.3:
            rules["allowed"] = rng.sample([0, 1, 7, 42, 1000], 3)
        if rng.random() < 0.3:
            rules["forbidden"] = rng.sample([0, 1, 7], 2)
    elif kind == "str":
        rules["type"] = "string"
        if rng.random() < 0.5:
            rules["regex"] = rng.choice(
                ["[a-z]+", "[0-9]+", "a.c", "x|abc"])
        if rng.random() < 0.3:
            rules["allowed"] = rng.sample(["x", "abc", "42", "zz"], 2)
    elif kind == "float":
        rules["type"] = rng.choice(["float", "number"])
        if rng.random() < 0.5:
            rules["min"] = rng.choice([-5, 0, 3])
        if rng.random() < 0.5:
            rules["max"] = rng.choice([1, 7, 42])
    elif kind == "list":
        rules["type"] = "list"
        # NB: length bounds of 0 are ill-formed in the REFERENCE
        # (meta-schema `min: 0` + exclusive min semantics,
        # rules.hh:346-378) — matched by our meta-validation, pinned
        # in test_illformed; generate only well-formed bounds here
        if rng.random() < 0.5:
            rules["minlength"] = rng.randint(1, 3)
        if rng.random() < 0.5:
            rules["maxlength"] = rng.randint(1, 4)
        if rng.random() < 0.3:
            rules["empty"] = False
    if rng.random() < 0.4:
        rules["required"] = rng.random() < 0.5
    if rng.random() < 0.3:
        rules["nullable"] = rng.random() < 0.5
    return rules


def _rand_doc(rng: random.Random, schema: dict,
              shapes: dict) -> dict:
    doc = {}
    for f in FIELDS:
        r = rng.random()
        if r < 0.2:
            continue  # undefined
        # one shape per FIELD per case: mixing list and scalar values
        # in one column is untypeable (HeterogeneousShape) and would
        # skip the whole case
        if shapes[f] == "list":
            doc[f] = rng.choice(LISTS)
        else:
            doc[f] = rng.choice(SCALARS)
    return doc


@pytest.mark.parametrize("seed", range(40))
def test_columnar_matches_interpreter(seed: int, spark) -> None:
    rng = random.Random(1000 + seed)
    schema = {f: _rand_rules(rng) for f in FIELDS}
    shapes = {
        f: ("list" if schema[f].get("type") == "list" else "scalar")
        for f in FIELDS
    }
    docs = [_rand_doc(rng, schema, shapes) for _ in range(24)]

    interp = Validator()
    expected = []
    for d in docs:
        try:
            expected.append(interp.validate(d, schema))
        except SchemaError:
            pytest.skip("schema rejected by meta-validation")

    try:
        frame = golden_frame(
            spark, schema, [(d, e) for d, e in zip(docs, expected)]
        )
    except HeterogeneousShape:
        pytest.skip("mixed shapes — dynamic-interpreter-only case")

    tv = TableValidator(
        schema, presence="defined", extra_cols=("doc_id", "expected"),
        allow_unknown=True,
    )
    got = {
        r["doc_id"]: r["valid"]
        for r in tv.validate(frame).annotated.collect()
    }
    mismatches = [
        (i, docs[i], expected[i], got[i])
        for i in range(len(docs))
        if got[i] != expected[i]
    ]
    assert not mismatches, (
        f"seed {seed}: {len(mismatches)} verdict mismatches; first: "
        f"{mismatches[0]} schema={schema}"
    )


def _rand_subrules(rng: random.Random) -> dict:
    kind = rng.choice(["int", "str"])
    rules: dict = {"type": "integer" if kind == "int" else "string"}
    if kind == "int":
        if rng.random() < 0.5:
            rules["min"] = rng.choice([-5, 0, 3])
        if rng.random() < 0.5:
            rules["max"] = rng.choice([1, 7, 42])
    else:
        if rng.random() < 0.5:
            rules["regex"] = rng.choice(["[a-z]+", "[0-9]+"])
    if rng.random() < 0.4:
        rules["required"] = rng.random() < 0.5
    return rules


def _rand_nested_doc(rng: random.Random) -> dict:
    doc: dict = {}
    if rng.random() < 0.8:
        sub = {}
        for f in ("x", "y"):
            r = rng.random()
            if r < 0.25:
                continue
            sub[f] = rng.choice([0, 7, 42, "a", "zz", "42", None])
        doc["c"] = sub
    if rng.random() < 0.7:
        doc["a"] = rng.choice([0, 1, 42, "x", None])
    return doc


POLICY_KEYS = ("allow_unknown", "purge_unknown", "require_all")


@pytest.mark.parametrize("seed", range(20))
def test_nested_schema_matches_interpreter(seed: int, spark) -> None:
    """Nested dict fields: struct-column recursion in the columnar
    engine must agree with the interpreter's recursive descent,
    including the scope of policies set at the top level or on ``c``
    and an unknown nested key ``z``."""
    rng = random.Random(7000 + seed)
    schema = {
        "a": {"type": "integer"},
        "c": {"type": "dict", "schema": {
            "x": _rand_subrules(rng),
            "y": _rand_subrules(rng),
        }},
    }
    docs = [_rand_nested_doc(rng) for _ in range(20)]
    # a second stream, so the schema and documents above stay the same
    prng = random.Random(9000 + seed)
    flags = {k: True for k in POLICY_KEYS if prng.random() < 0.25}
    for k in POLICY_KEYS:
        if prng.random() < 0.25:
            schema["c"][k] = prng.random() < 0.5
    for d in docs:
        if isinstance(d.get("c"), dict) and prng.random() < 0.3:
            d["c"]["z"] = prng.choice([0, "a"])

    interp = Validator(**flags)
    try:
        expected = [interp.validate(d, schema) for d in docs]
    except SchemaError:
        pytest.skip("schema rejected by meta-validation")

    try:
        frame = golden_frame(
            spark, schema, [(d, e) for d, e in zip(docs, expected)]
        )
    except HeterogeneousShape:
        pytest.skip("mixed shapes")

    tv = TableValidator(
        schema, presence="defined", extra_cols=("doc_id", "expected"),
        **flags,
    )
    got = {
        r["doc_id"]: r["valid"]
        for r in tv.validate(frame).annotated.collect()
    }
    mismatches = [
        (i, docs[i], expected[i], got[i])
        for i in range(len(docs)) if got[i] != expected[i]
    ]
    assert not mismatches, (
        f"seed {seed}: first mismatch {mismatches[0]} schema={schema}"
        f" flags={flags}"
    )


@pytest.mark.parametrize("seed", range(12))
def test_violation_paths_match_interpreter(seed: int, spark) -> None:
    """Stronger than verdicts: the SET of violation paths per doc
    must match the interpreter's error paths."""
    rng = random.Random(4000 + seed)
    schema = {f: _rand_rules(rng) for f in FIELDS}
    shapes = {
        f: ("list" if schema[f].get("type") == "list" else "scalar")
        for f in FIELDS
    }
    docs = [_rand_doc(rng, schema, shapes) for _ in range(16)]

    interp = Validator()
    exp_paths = []
    try:
        for d in docs:
            interp.validate(d, schema)
            exp_paths.append(
                {e.path for e in interp.errors}
            )
    except SchemaError:
        pytest.skip("schema rejected by meta-validation")

    try:
        frame = golden_frame(
            spark, schema, [(d, True) for d in docs]
        )
    except HeterogeneousShape:
        pytest.skip("mixed shapes")

    tv = TableValidator(
        schema, presence="defined", extra_cols=("doc_id", "expected"),
        allow_unknown=True,
    )
    got: dict[int, set] = {i: set() for i in range(len(docs))}
    for r in tv.validate(frame).violations("doc_id").collect():
        got[r["doc_id"]].add(r["path"])
    mismatches = [
        (i, docs[i], sorted(exp_paths[i]), sorted(got[i]))
        for i in range(len(docs)) if got[i] != exp_paths[i]
    ]
    assert not mismatches, (
        f"seed {seed}: first path mismatch {mismatches[0]}"
        f" schema={schema}"
    )


# ---------------------------------------------------------------------------
# The scalar table (functions/pytypes.py): both engines decode every
# scalar the same way, and no cell can fail a job. The interpreter is the
# oracle; each frame is its documents typed by a DDL string
# (presence="null": an absent key is NULL), and the engine must report
# the same (path, message) multiset per row.
# ---------------------------------------------------------------------------

TARGETS = ("integer", "float", "number", "boolean", "string")
INT64_EDGES = [-(1 << 63), -(1 << 63) + 1, -1, 0, 1, (1 << 63) - 2,
               (1 << 63) - 1]
#: the YAML special forms and the edges of the lexical forms
YAML_FORMS = [
    ".inf", "-.inf", "+.inf", ".Inf", "-.INF", ".nan", ".NaN", "-.nan",
    "0x1F", "0o17", "0X1F", "-0x1f", "+0o7", "0x", "0o8", "017", "00",
    "-0", "+0", " 42", "42 ", "　42\t", "4 2", " 1.5", "1.", ".5",
    "1e5", "1E+05", "1e-05", "1e999", "-1e999", "1.5e", "true", "True",
    "yes", "Off", "y", " true", "99999999999999999999",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "0x7fffffffffffffff", "0x8000000000000000",
    "-0x8000000000000000", "0o1777777777777777777777",
    "-0o1000000000000000000000", "0x" + "f" * 17, "", "abc", "1_000",
    "inf", "nan", "12345678.0", "1e+20",
]
_ALPHABET = "0123456789+-.eExoabfInN \t　\xa0_"
FLOATS = [0.0, -0.0, 1.5, -2.25, 1e-05, 12345678.0, 1e20, 1e16, 1e15,
          0.0001, 5e-324, 1.7976931348623157e308, float("inf"),
          float("-inf"), float("nan"), 42.0, 0.1]


def _draw_text(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return rng.choice(YAML_FORMS)
    if r < 0.7:
        return "".join(rng.choice(_ALPHABET)
                       for _ in range(rng.randint(0, 8)))
    if r < 0.85:
        return str(_draw_number(rng))
    # arbitrary code points, surrogates excluded
    return "".join(chr(rng.choice([rng.randint(0x20, 0x7e),
                                   rng.randint(0xa0, 0xd7ff)]))
                   for _ in range(rng.randint(1, 5)))


def _draw_int(rng: random.Random) -> int:
    r = rng.random()
    if r < 0.4:
        return rng.choice(INT64_EDGES)
    if r < 0.7:
        return rng.randint(-50, 50)
    return rng.randint(-(1 << 63), (1 << 63) - 1)


def _draw_float(rng: random.Random) -> float:
    r = rng.random()
    if r < 0.4:
        return rng.choice(FLOATS)
    if r < 0.7:
        return round(rng.uniform(-100, 100), rng.randint(0, 3))
    return rng.uniform(-1, 1) * 10.0 ** rng.randint(-30, 30)


def _draw_number(rng: random.Random) -> int | float:
    return _draw_int(rng) if rng.random() < 0.5 else _draw_float(rng)


def _draw_literal(rng: random.Random):
    """A schema literal: any scalar, decodable as the target or not
    (an int beyond int64 included)."""
    return rng.choice([
        _draw_text(rng), _draw_number(rng), rng.random() < 0.5,
        rng.choice([1 << 70, -(1 << 64), 100000000000000000000]),
    ])


#: column DDL type → a value of it
COLUMN_VALUES = {
    "string": _draw_text,
    "bigint": _draw_int,
    "double": _draw_float,
    "boolean": lambda rng: rng.random() < 0.5,
}


def _scalar_rules(rng: random.Random) -> dict:
    """Every builtin target under type, min, max, allowed and
    forbidden, twice each."""
    schema = {}
    for target in TARGETS:
        for rule in ("type", "min", "max", "allowed", "forbidden"):
            for k in range(2):
                rules: dict = {"type": target}
                if rule in ("min", "max"):
                    rules[rule] = _draw_literal(rng)
                elif rule != "type":
                    rules[rule] = [_draw_literal(rng)
                                   for _ in range(rng.randint(1, 3))]
                schema[f"{target}_{rule}_{k}"] = rules
    return schema


def _multisets(spark, schema: dict, ddl: str, docs: list[dict]):
    """The interpreter's and the engine's (path, message) multisets per
    document, from ONE Spark job."""
    oracle = Validator(schema)
    want = []
    for d in docs:
        oracle.validate(d)
        want.append(Counter((e.path, e.message) for e in oracle.errors))
    frame = spark.createDataFrame(
        [{"doc_id": i, **d} for i, d in enumerate(docs)],
        f"doc_id int, {ddl}")
    rows = TableValidator(schema, extra_cols=("doc_id",)).validate(frame)
    got = {r["doc_id"]: Counter((v["path"], v["message"])
                                for v in r["violations"])
           for r in rows.annotated.collect()}
    return want, [got[i] for i in range(len(docs))]


@pytest.mark.parametrize("column", sorted(COLUMN_VALUES))
def test_scalar_table_matches_interpreter(column: str, spark) -> None:
    """Arbitrary strings, numbers (int64 edges included) and the YAML
    special forms, in a column of each scalar Spark type, under every
    builtin target and scalar rule: one job per column type, none
    raises (the session runs in ANSI mode), and every row's violations
    equal the interpreter's."""
    rng = random.Random(f"scalar-table-{column}")
    schema = _scalar_rules(rng)
    draw = COLUMN_VALUES[column]
    docs = [{f: draw(rng) for f in schema if rng.random() < 0.9}
            for _ in range(40)]
    ddl = ", ".join(f"{f} {column}" for f in schema)
    want, got = _multisets(spark, schema, ddl, docs)
    mismatches = [(i, docs[i], want[i], got[i])
                  for i in range(len(docs)) if want[i] != got[i]]
    assert not mismatches, (
        f"{len(mismatches)} rows differ; first: {mismatches[0]}")


# name → (schema, ddl, documents): each case raised or disagreed with
# the interpreter before the scalar table
SCALAR_CASES = {
    "yaml-infinities": (
        {"v": {"type": "float"}}, "v string",
        [{"v": ".inf"}, {"v": "-.inf"}, {"v": ".nan"}, {"v": ".Inf"}]),
    "beyond-int64": (
        {"v": {"type": "integer"}}, "v string",
        [{"v": "99999999999999999999"}, {"v": "-9223372036854775809"},
         {"v": "9223372036854775807"}, {"v": "0x8000000000000000"}]),
    "hex-and-octal": (
        {"v": {"type": "integer", "min": 15}}, "v string",
        [{"v": "0x1F"}, {"v": "0o17"}, {"v": "0X1F"}, {"v": "0o18"}]),
    "surrounding-whitespace": (
        {"v": {"type": "integer"}, "f": {"type": "float"}},
        "v string, f string",
        [{"v": " 42", "f": " 1.5"}, {"v": "42 ", "f": "1.5\t"}]),
    "leading-zero": (
        {"v": {"type": "integer"}}, "v string",
        [{"v": "017"}, {"v": "00"}, {"v": "-0"}]),
    "float-text-regex": (
        {"v": {"regex": "1e-05"}}, "v double",
        [{"v": 1e-05}, {"v": 12345678.0}, {"v": 1e20}]),
    "float-text-allowed": (
        {"v": {"type": "string", "allowed": ["1e-05", "1e+20"]}},
        "v double", [{"v": 1e-05}, {"v": 1e20}, {"v": 12345678.0}]),
    "float-text-contains": (
        {"v": {"type": "list", "contains": [1e-05, 12345678.0]}},
        "v array<double>", [{"v": [1e-05, 12345678.0]}, {"v": [1e-05]}]),
    # schema literals that do not decode as the declared type: the
    # interpreter's less/equality with them are False
    "literal-not-integer": (
        {"v": {"type": "integer", "min": "abc", "max": "abc",
               "forbidden": ["x"], "allowed": ["abc", 5]}},
        "v bigint", [{"v": 5}, {"v": 6}]),
    "literal-beyond-int64": (
        {"v": {"type": "integer", "min": 100000000000000000000,
               "max": 100000000000000000000}},
        "v bigint", [{"v": 5}]),
    "literal-nan": (
        {"v": {"type": "float", "min": ".nan", "max": ".nan",
               "allowed": [".nan", 1.5], "forbidden": [".nan"]}},
        "v double", [{"v": 1.5}, {"v": float("nan")}]),
}


@pytest.mark.parametrize("name", sorted(SCALAR_CASES))
def test_scalar_case_matches_interpreter(name: str, spark) -> None:
    want, got = _multisets(spark, *SCALAR_CASES[name])
    assert got == want


def test_float_text_is_the_interpreters(spark) -> None:
    """A double's text is Python's repr, not Java's ``1.0E-5``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cerberus_cpp_spark.functions.pytypes import scalar_text
    from cerberus_cpp_spark.functions.sparktypes import decode_expr

    frame = spark.createDataFrame([(v,) for v in FLOATS], "v double")
    text = decode_expr(F.col("v"), T.DoubleType(), "string")
    got = [r[0] for r in frame.select(text).collect()]
    assert got == [scalar_text(v) for v in FLOATS]
