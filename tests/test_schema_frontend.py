"""The one schema front-end: ``Validator`` meta-validates and
normalizes a schema, tags a ``nullable: false`` the meta-schema
injected, and keeps the result; ``TableValidator`` and
``validate_json`` read it. The pinned trees and plan hashes are the
ones the engine produced before the front-end moved into the
interpreter: the normalized tree feeds ``ledger.run_validation``'s
lineage, so any drift re-validates every committed partition."""

from __future__ import annotations

import hashlib

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.plans import engine
from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.distgen import image_caption_frame
from cerberus_cpp_spark.sources.fixtures import (
    IMAGE_TABLE_RULES,
    image_caption_table,
)

#: every nesting form the normalizer descends into, plus one it does
#: not (``loose``: a dict ``schema`` with no ``type`` stays as written)
FORMS = {
    "tags": {"type": "list", "schema": {"type": "string"}},
    "image": {"type": "dict", "schema": {
        "w": {"type": "integer", "nullable": True},
        "h": {"type": "integer", "nullable": False}}},
    "pair": {"type": "list", "items": [
        {"type": "integer"}, {"type": "string", "nullable": True}]},
    "counts": {"type": "dict", "keysrules": {"type": "string"},
               "valuesrules": {"type": "integer", "min": 0}},
    "thumb": {"type": "dict", "schema": "img"},
    "loose": {"schema": {"x": {"type": "integer"}}},
    "note": {"nullable": True},
    "caption": {"type": "string", "nullable": False},
}
REGISTRY = {"img": {"w": {"type": "integer"},
                    "fmt": {"type": "string", "nullable": True}}}

_TAG = {"nullable": False, "__nullable_injected__": True}

FORMS_NORMALIZED = {
    "tags": {"type": "list", "schema": {"type": "string", **_TAG},
             **_TAG},
    "image": {"type": "dict",
              "schema": {"w": {"type": "integer", "nullable": True},
                         "h": {"type": "integer", "nullable": False}},
              **_TAG},
    "pair": {"type": "list",
             "items": [{"type": "integer", **_TAG},
                       {"type": "string", "nullable": True}],
             **_TAG},
    "counts": {"type": "dict",
               "keysrules": {"type": "string", **_TAG},
               "valuesrules": {"type": "integer", "min": 0, **_TAG},
               **_TAG},
    "thumb": {"type": "dict", "schema": "img", **_TAG},
    "loose": {"schema": {"x": {"type": "integer"}}, **_TAG},
    "note": {"nullable": True},
    "caption": {"type": "string", "nullable": False},
}
REGISTRY_NORMALIZED = {"img": {"w": {"type": "integer", **_TAG},
                               "fmt": {"type": "string", "nullable": True}}}


def test_normalized_tree_pinned_across_nesting_forms() -> None:
    tv = TableValidator(FORMS, registry=REGISTRY)
    # repr pins the key order too: the ledger lineage is JSON of it
    assert repr(tv.schema) == repr(FORMS_NORMALIZED)
    v = Validator(FORMS)
    v.register_schema("img", REGISTRY["img"])
    schema, registry = v.normalized_schemas()
    assert repr(schema) == repr(FORMS_NORMALIZED)
    assert repr(registry) == repr(REGISTRY_NORMALIZED)


def test_normalized_schema_is_a_fixed_point() -> None:
    v = Validator()
    for s in (FORMS, REGISTRY["img"], IMAGE_TABLE_RULES):
        once = v.normalized_schema(s)
        assert v.normalized_schema(once) == once
    # the engine's tree is a valid schema for the interpreter
    tree = TableValidator(IMAGE_TABLE_RULES).schema
    doc = {"image_id": "img-000000000001", "w": 3, "h": 4, "fmt": "png",
           "caption": "a cat", "phash": 7}
    assert Validator(tree).validate(doc)
    assert not Validator(tree).validate({**doc, "w": -1})


def test_stored_schemas_normalize_once(monkeypatch) -> None:
    calls = []
    real = Validator.normalized_schema
    monkeypatch.setattr(Validator, "normalized_schema",
                        lambda self, s: calls.append(s) or real(self, s))
    v = Validator({"id": {"type": "integer"}, "image": {"schema": "img"}})
    v.register_schema("img", {"w": {"type": "integer", "min": 0},
                              "fmt": {"type": "string"}})
    for i in range(3000):
        assert v.validate({"id": i, "image": {"w": i + 1, "fmt": "png"}})
    assert len(calls) == 2  # the constructor schema and "img", once each
    # a registration invalidates the stored trees
    v.register_type(v.types["integer"])
    v.validate({"id": 1, "image": {"w": 1}})
    assert len(calls) == 4
    # a schema passed per call is normalized per call
    for _ in range(3):
        v.validate({"x": 1}, {"x": {"type": "integer"}})
    assert len(calls) == 7


def test_image_table_plan_pinned(spark) -> None:
    """The compiled plan of the benchmark's table schema. A change
    that alters the plan on purpose updates these prefixes."""
    tv = TableValidator(IMAGE_TABLE_RULES, extra_cols=("id",))
    plan = tv.compile(image_caption_table(spark, 50).schema)

    def sha(text: str) -> str:
        return hashlib.sha1(text.encode()).hexdigest()[:8]

    assert sha(str(plan.violation_count)) == "aa4c67e4"
    assert sha(str(plan.violations)) == "7317ced9"
    assert sha(repr(tv.schema)) == "c538ddda"


def test_extra_cols_lead_normalized_in_the_given_order(spark) -> None:
    """``normalized`` starts with the extra columns as given, then the
    schema fields, then the unknown columns the policy keeps."""
    tv = TableValidator({"x": {"type": "integer"}}, allow_unknown=True,
                        extra_cols=("doc_id", "expected"))
    df = spark.createDataFrame(
        [(1, "a", True, 7)], "x bigint, note string, expected boolean, "
        "doc_id bigint")
    out = tv.validate(df).normalized
    assert out.columns == ["doc_id", "expected", "x", "note"]
    assert out.collect()[0].asDict() == {
        "doc_id": 7, "expected": True, "x": 1, "note": "a"}


def _count_compiles(monkeypatch) -> list:
    """Patch the engine's row compiler to record each call."""
    calls, real = [], engine._compile_mapping

    def counted(*args, **kwargs):
        calls.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(engine, "_compile_mapping", counted)
    return calls


def test_validate_compiles_once_per_input_schema(spark, monkeypatch) -> None:
    """Generated frames of any size share one schema, so repeated
    validations of them, as the benchmark's timed operations run,
    compile once and reuse that plan."""
    compiles = _count_compiles(monkeypatch)
    tv = TableValidator(IMAGE_TABLE_RULES, extra_cols=("id",))
    a = image_caption_frame(spark, 200, partitions=2)
    b = image_caption_frame(spark, 300, seed=7, partitions=2)
    plan = tv.compile(a.schema)
    assert tv.validate(a).plan is plan
    assert tv.validate(b).plan is plan
    for _ in range(3):
        assert tv.validate(a).counts() == {
            "rows": 200, "violations": 2, "invalid_rows": 2}
    assert len(compiles) == 1


def test_changed_nullability_gets_its_own_plan(spark, monkeypatch) -> None:
    compiles = _count_compiles(monkeypatch)
    tv = TableValidator({"x": {"type": "integer", "min": 0}})
    loose = spark.createDataFrame([(1,), (-1,)], "x bigint")
    strict = spark.createDataFrame([(1,), (-1,)], "x bigint not null")
    plan = tv.validate(loose).plan
    assert tv.validate(spark.createDataFrame([], "x bigint")).plan is plan
    assert tv.validate(strict).plan is not plan
    assert len(compiles) == 2
    for df in (loose, strict):
        assert tv.validate(df).counts()["invalid_rows"] == 1
