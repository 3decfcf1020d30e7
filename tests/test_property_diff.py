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
