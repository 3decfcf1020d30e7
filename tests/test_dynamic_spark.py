"""Distributed schemaless fallback (dynamic/spark.py).

The whole reference golden corpus — INCLUDING the heterogeneous
``type-simple`` case the columnar compiler must refuse — runs through
``mapInArrow`` + the interpreter, distributed. Verdicts must equal
the corpus expectation AND the driver-side interpreter (differential:
same engine, different execution substrate)."""

from __future__ import annotations

import json
import random
import zipfile

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.dynamic.spark import (
    MAX_DEPTH,
    NOT_JSON_MSG,
    RAISED_MSG,
    TOO_DEEP_MSG,
    json_violations,
    validate_json,
)
from cerberus_cpp_spark.errors import SchemaError

from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")
CASES = GOLDEN.cases


def _jsonable(doc) -> bool:
    try:
        json.loads(json.dumps(doc))
        return True
    except (TypeError, ValueError):
        return False


@pytest.mark.parametrize("name", GOLDEN.params())
def test_golden_distributed(name: str, spark) -> None:
    spec = CASES[name]
    docs = [(d, True) for d in spec.get("success") or []] + [
        (d, False) for d in spec.get("failure") or []
    ]
    docs = [(d, exp) for d, exp in docs if _jsonable(d)]
    if not docs:
        pytest.skip("no JSON-representable documents")
    flags = dict(
        allow_unknown=bool(spec.get("allow_unknown", False)),
        purge_unknown=bool(spec.get("purge_unknown", False)),
        require_all=bool(spec.get("require_all", False)),
    )
    registry = spec.get("registry")

    # driver-side interpreter verdicts (the reference twin)
    iv = Validator(spec["schema"], **flags)
    for rname, rschema in (registry or {}).items():
        iv.register_schema(rname, rschema)
    interp = [iv.validate(d) for d, _ in docs]

    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, (d, _) in enumerate(docs)],
        "doc_id int, doc string",
    ).repartition(4)
    ann = validate_json(df, spec["schema"], registry=registry, **flags)
    got = {r["doc_id"]: r for r in ann.collect()}
    for i, (d, expected) in enumerate(docs):
        r = got[i]
        assert r["valid"] == expected, (
            f"{name} doc {i}: expected {expected}, got {r['valid']};"
            f" violations={r['violations']}"
        )
        assert r["valid"] == interp[i], f"{name} doc {i}: engines differ"
        assert r["n_violations"] == len(r["violations"])


def test_type_simple_is_distributed_now(spark) -> None:
    """The one capability gap from round 1: a field that is a dict in
    one row and a scalar in the next (reference rules.hh:549-553,
    golden 'type-simple') validates through a DISTRIBUTED path."""
    docs = [
        (0, '{"simple": 42}', False),        # int where dict expected
        (1, '{"simple": {"x": 1}}', True),   # actual dict
        (2, '{"simple": [1, 2]}', False),    # list
        (3, '{"simple": "s"}', False),       # string
    ]
    df = spark.createDataFrame(docs, "doc_id int, doc string, exp boolean") \
        .repartition(3)
    ann = validate_json(
        df, {"simple": {"type": "dict"}}, id_cols=("doc_id", "exp"),
        allow_unknown=True,
    )
    for r in ann.collect():
        assert r["valid"] == r["exp"], (r["doc_id"], r["violations"])


def test_invalid_json_and_non_mapping(spark) -> None:
    df = spark.createDataFrame(
        [(0, "{not json"), (1, "[1,2,3]"), (2, None), (3, '{"a": 1}')],
        "doc_id int, doc string",
    )
    got = {r["doc_id"]: r for r in
           validate_json(df, {"a": {"type": "integer"}}).collect()}
    assert got[0]["violations"] == [("^", NOT_JSON_MSG)]
    assert got[1]["violations"][0]["message"] == "document is not a mapping"
    assert got[2]["violations"][0]["message"] == "document is not a mapping"
    assert got[3]["valid"] and got[3]["violations"] == []


def test_deeply_nested_document_is_one_violation_row(spark) -> None:
    """A document nested past the recursion limit — unparsable (5,000
    open brackets) or parsable but 500 dicts deep — is one violation
    row at ``^``, never a failed job."""
    deep = '{"a": ' * 500 + "1" + "}" * 500
    df = spark.createDataFrame(
        [(0, '{"a": 1}'), (1, "[" * 5000), (2, deep)],
        "doc_id int, doc string",
    )
    got = {r["doc_id"]: r for r in validate_json(
        df, {"a": {"type": "integer"}}, include_normalized=True
    ).collect()}
    assert len(got) == 3
    assert got[0]["valid"] and got[0]["normalized"] == '{"a":1}'
    for i in (1, 2):
        assert not got[i]["valid"] and got[i]["n_violations"] == 1
        assert got[i]["violations"] == [("^", TOO_DEEP_MSG)]
        assert got[i]["normalized"] is None


def test_nesting_bound_is_exact(spark) -> None:
    """A document MAX_DEPTH containers deep is validated in place; one
    level more is one violation row at ``^``. A long but shallow
    document is validated as usual."""
    def nested(depth: int) -> str:
        return '{"a": ' * depth + "1" + "}" * depth

    long_flat = json.dumps({"a": 1, "b": "x" * (4 * MAX_DEPTH)})
    df = spark.createDataFrame(
        [(0, nested(MAX_DEPTH)), (1, nested(MAX_DEPTH + 1)), (2, long_flat)],
        "doc_id int, doc string",
    )
    got = {r["doc_id"]: r for r in validate_json(
        df, {"a": {"type": "integer"}, "b": {"type": "string"}},
        include_normalized=True).collect()}
    assert got[0]["violations"] == [
        ("^.a", "type-rule violated: expected integer")]
    assert got[0]["normalized"] == nested(MAX_DEPTH).replace(" ", "")
    assert got[1]["violations"] == [("^", TOO_DEEP_MSG)]
    assert got[2]["valid"] and json.loads(got[2]["normalized"]) == \
        json.loads(long_flat)


@pytest.mark.parametrize("depth", [1, MAX_DEPTH, MAX_DEPTH + 1, 600])
def test_driver_validate_bounds_nesting(depth: int) -> None:
    """Driver-side ``Validator.validate`` shares the worker's bound: a
    document deeper than MAX_DEPTH is the one violation at ``^``, found
    before the deep copy recurses; one MAX_DEPTH deep validates."""
    doc: object = 1
    for _ in range(depth):
        doc = {"a": doc}
    v = Validator({"a": {"type": "integer"}})
    v.validate(doc)
    want = ([("^", TOO_DEEP_MSG)] if depth > MAX_DEPTH
            else [] if depth == 1
            else [("^.a", "type-rule violated: expected integer")])
    assert [(e.path, e.message) for e in v.errors] == want
    assert (v.get_document() is None) == (depth > MAX_DEPTH)


def test_unchecked_validator_uses_registered_schema_as_given(
    monkeypatch,
) -> None:
    """validate_schema=False (the worker Validator of validate_json,
    whose registry is normalized once on the driver) uses a
    registered schema as given: no meta-validation per document."""
    img = {"w": {"type": "integer"}, "h": {"type": "integer"},
           "fmt": {"type": "string"}}
    driver = Validator()
    schema = driver.normalized_schema(
        {"id": {"type": "integer"}, "image": {"schema": "img"}})
    calls = []
    real = Validator.normalized_schema
    monkeypatch.setattr(Validator, "normalized_schema",
                        lambda self, s: calls.append(s) or real(self, s))
    v = Validator(schema, validate_schema=False)
    v.register_schema("img", driver.normalized_schema(img))
    calls.clear()
    for doc in ({"id": 1, "image": {"w": 2, "h": 3, "fmt": "png"}},
                {"id": 2, "image": {"w": "x"}}):
        v.validate(doc)
    assert calls == []
    assert [(e.path, e.message) for e in v.errors] == [
        ("^.image.w", "type-rule violated: expected integer")]


def test_normalized_output_and_exploded_violations(spark) -> None:
    df = spark.createDataFrame(
        [(0, '{"b": "zz"}'), (1, '{"a": 7, "b": "yy"}')],
        "doc_id int, doc string",
    )
    schema = {"a": {"type": "integer", "default": 5},
              "b": {"type": "string", "rename": "c"}}
    ann = validate_json(df, schema, include_normalized=True)
    norm = {r["doc_id"]: json.loads(r["normalized"])
            for r in ann.collect()}
    assert norm[0] == {"a": 5, "c": "zz"}    # default injected, renamed
    assert norm[1] == {"a": 7, "c": "yy"}

    vdf = json_violations(
        df, {"a": {"type": "integer", "required": True, "min": 10}}
    )
    rows = {(r["doc_id"], r["path"]): r["message"] for r in vdf.collect()}
    assert rows[(0, "^.a")] == "required-rule violated: field missing"
    assert rows[(1, "^.a")] == "min-rule violated"


def test_illformed_schema_raises_on_driver(spark) -> None:
    """Meta-validation happens BEFORE any job is launched."""
    df = spark.createDataFrame([(0, "{}")], "doc_id int, doc string")
    with pytest.raises(SchemaError):
        validate_json(df, {"a": {"type": "integer", "minlength": 2}})


def test_custom_rule_via_configure(spark) -> None:
    """configure() runs per worker Validator — custom rules reach the
    executors (reference registerRule, validator.hh:56-80)."""
    from cerberus_cpp_spark.dynamic.interpreter import Priority

    def add_odd(v) -> None:
        def odd(ctx):
            value = ctx.item.value
            if value is not None and not isinstance(value, dict):
                if int(value) % 2 == 0:
                    ctx.raise_error("odd-rule violated")
        v.register_rule("odd", {"type": "boolean"}, odd,
                        Priority.VALIDATION)

    df = spark.createDataFrame(
        [(0, '{"n": 3}'), (1, '{"n": 4}')], "doc_id int, doc string"
    )
    ann = validate_json(df, {"n": {"odd": True}}, configure=add_odd,
                        allow_unknown=True)
    got = {r["doc_id"]: r["valid"] for r in ann.collect()}
    assert got == {0: True, 1: False}


def test_raising_rule_fails_only_its_row(spark) -> None:
    """A custom rule that raises on one document turns that row into
    one ``^`` violation naming the exception; the job and the other
    rows go on."""
    def add_parity(v) -> None:
        def parity(ctx):
            if ctx.item.value is not None and int(ctx.item.value) % 2:
                ctx.raise_error("parity-rule violated")
        v.register_rule("parity", {"type": "boolean"}, parity)

    df = spark.createDataFrame(
        [(0, '{"n": 2}'), (1, '{"n": "abc"}'), (2, '{"n": 3}')],
        "doc_id int, doc string")
    ann = validate_json(df, {"n": {"parity": True}}, configure=add_parity,
                        allow_unknown=True, include_normalized=True)
    got = {r["doc_id"]: r for r in ann.collect()}
    assert got[0]["valid"] and got[0]["normalized"] == '{"n":2}'
    assert got[1]["violations"] == [("^", RAISED_MSG.format("ValueError"))]
    assert got[1]["normalized"] is None
    assert got[2]["violations"] == [("^.n", "parity-rule violated")]


def test_nan_and_infinity_are_not_json(spark) -> None:
    """RFC 8259 has no NaN or Infinity, and a number beyond a double
    reads as one: such a document is not JSON, so it never validates as
    a float nor comes back in ``normalized``. A normalized document
    that would hold one (a NaN default) is its row's one violation."""
    docs = ['{"v": NaN}', '{"v": Infinity}', '{"v": -Infinity}',
            '{"v": 1e999}', '{"v": -1e400}', '{"v": 1.5}']
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id int, doc string")
    got = {r["doc_id"]: r for r in validate_json(
        df, {"v": {"type": "float"}}, include_normalized=True).collect()}
    for i in range(5):
        assert got[i]["violations"] == [("^", NOT_JSON_MSG)]
        assert got[i]["normalized"] is None
    nan_default = validate_json(
        df.where("doc_id = 5"),
        {"v": {"type": "float"}, "w": {"default": float("nan")}},
        include_normalized=True).collect()
    assert [(r["violations"], r["normalized"]) for r in nan_default] == [
        ([("^", RAISED_MSG.format("ValueError"))], None)]
    assert got[5]["valid"] and got[5]["normalized"] == '{"v":1.5}'


def test_rule_from_an_added_zip_survives_dropped_finders(
        spark, tmp_path) -> None:
    """Each task drops the worker's zip finders; a ``configure`` hook
    that imports from a zip added with ``addPyFile`` still works, task
    after task: two runs give the same rows."""
    archive = tmp_path / "zipped_rules.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_rules/__init__.py", (
            "def register(v):\n"
            "    from zipped_rules import parity\n"
            "    v.register_rule('parity', {'type': 'boolean'},"
            " parity.rule)\n"))
        z.writestr("zipped_rules/parity.py", (
            "def rule(ctx):\n"
            "    if isinstance(ctx.item.value, int) and ctx.item.value % 2:\n"
            "        ctx.raise_error('parity-rule violated')\n"))
    spark.sparkContext.addPyFile(str(archive))

    def configure(v) -> None:
        import zipped_rules

        zipped_rules.register(v)

    df = spark.createDataFrame(
        [(i, json.dumps({"n": i})) for i in range(40)],
        "doc_id int, doc string").repartition(4)

    def run() -> list:
        out = validate_json(df, {"n": {"type": "integer", "parity": True}},
                            configure=configure)
        return sorted(tuple(r) for r in out.collect())

    first, second = run(), run()
    assert first == second
    assert [r[0] for r in first if not r[3]] == list(range(1, 40, 2))


def _hostile_inputs(rng: random.Random, n: int) -> list:
    """Arbitrary text, arbitrary bytes decoded with ``errors="replace"``
    and mangled JSON, seeded."""
    alphabet = [chr(c) for c in range(0x20)] + list(
        '{}[]":,.-+0123456789eE truefalsnNaIiy\\u') + [
        "\u00e9", "\u2028", "\ufffd", "\U0001f600", "\x00"]
    out: list = [None, "", "{}", "[]", "null", '"x"', "1", "{" * 2000,
                 "[" * 5000 + "]" * 5000, '{"id": 1e999}', '{"id": NaN}']
    for _ in range(n):
        kind = rng.randrange(4)
        if kind == 0:
            out.append("".join(rng.choice(alphabet)
                               for _ in range(rng.randrange(60))))
        elif kind == 1:
            raw = bytes(rng.randrange(256) for _ in range(rng.randrange(60)))
            out.append(raw.decode("utf-8", errors="replace"))
        elif kind == 2:
            text = "".join(chr(rng.choice([rng.randrange(0x20, 0x7f),
                                           rng.randrange(0xa0, 0xd800),
                                           rng.randrange(0xe000, 0x110000)]))
                           for _ in range(rng.randrange(40)))
            out.append(text)
        else:
            doc = json.dumps({"id": rng.choice([1, -5, "7", None, 2 ** 70]),
                              "image": {"w": rng.randrange(-5, 20000)},
                              "tags": rng.choice([["red"], "red", [1]])})
            cut = rng.randrange(len(doc) + 1)
            out.append(doc[:cut] + rng.choice(["", "}", "]", ",", "x"])
                       + doc[cut:])
    return out


def test_every_input_string_yields_one_verdict_row(spark) -> None:
    """No input string fails the job: each one — arbitrary text,
    arbitrary bytes, mangled JSON — gives exactly one row, with
    ``valid`` set and agreeing with its violations."""
    from perfbench.workloads import JSON_SCHEMA

    inputs = _hostile_inputs(random.Random(20), 400)
    df = spark.createDataFrame(list(enumerate(inputs)),
                               "doc_id int, doc string").repartition(3)
    out = validate_json(df, JSON_SCHEMA, include_normalized=True)
    rows = out.select(
        "doc_id", "valid", "n_violations",
        F.size("violations").alias("size")).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(len(inputs)))
    for r in rows:
        assert r["valid"] is not None
        assert r["n_violations"] == r["size"]
        assert r["valid"] == (r["n_violations"] == 0)


def test_id_columns_pass_through_untouched(spark) -> None:
    """Id columns come back with their values and dtypes: a ``bigint``
    above 2^53 beside a NULL in the same batch keeps every digit (a
    pandas boundary would make it a ``float64``), and timestamp,
    decimal, string and binary ids are unchanged."""
    import datetime
    from decimal import Decimal

    ids = [(9007199254740993, "a", datetime.datetime(2024, 1, 2, 3, 4, 5,
                                                     678901),
            Decimal("12345678.91"), b"\x00\xff"),
           (None, None, None, None, None)]
    df = spark.createDataFrame(
        [(*row, '{"n": "x"}') for row in ids],
        "big long, s string, ts timestamp, d decimal(10,2), b binary,"
        " doc string").coalesce(1)  # one batch holds both rows
    id_cols = ("big", "s", "ts", "d", "b")
    schema = {"n": {"type": "integer"}}

    def got(out) -> list:
        assert out.dtypes[:len(id_cols)] == df.dtypes[:len(id_cols)]
        return sorted((tuple(r[c] for c in id_cols) for r in out.collect()),
                      key=lambda row: row[0] is None)

    assert got(validate_json(df, schema)) == ids
    assert got(json_violations(df, schema)) == ids


#: hostile rows → (violations, normalized): what a JSON codec must
#: read and write exactly, so a swapped or reconfigured codec shows
HOSTILE = {
    '{"s": "é\\u007f\\ud800"}': ([], '{"s":"\\u00e9\\u007f\\ud800"}'),
    '{"f": NaN}': ([("^", NOT_JSON_MSG)], None),
    '{"f": 1e999}': ([("^", NOT_JSON_MSG)], None),
    "[" * 3000 + "]" * 3000: ([("^", TOO_DEEP_MSG)], None),
    None: ([("^", "document is not a mapping")], "null"),
    '{"n": 123456789012345678901234567890}': (
        [("^.n", "type-rule violated: expected integer")],
        '{"n":123456789012345678901234567890}'),
    '{"f": 1.5e300}': ([], '{"f":1.5e+300}'),
    '{"f": -0.0, "g": 1e16}': ([], '{"f":-0.0,"g":1e+16}'),
    '{"s": "\\u0001"}': ([], '{"s":"\\u0001"}'),
    "not json": ([("^", NOT_JSON_MSG)], None),
}


def test_hostile_rows_have_pinned_violations_and_normalized_text(
        spark) -> None:
    docs = list(HOSTILE)
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, doc string")
    schema = {"s": {"type": "string"}, "n": {"type": "integer"},
              "f": {"type": "float"}, "g": {"type": "float"}}
    got = {docs[r["doc_id"]]: ([tuple(v) for v in r["violations"]],
                               r["normalized"])
           for r in validate_json(df, schema,
                                  include_normalized=True).collect()}
    assert got == HOSTILE
