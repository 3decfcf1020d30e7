"""Columnar extension API — parity with the reference's examples
(``doc/examples/oddrule.cc``, ``datetype.cc``) at the Spark level:
custom rules compile to Columns (or pandas UDFs), custom types plug
convertibility predicates into the ``type`` rule. Meta-validation is
lazy (reference validates at validate() time, ``validator.hh:159``),
so registration after construction is the supported flow."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.errors import SchemaError
from cerberus_cpp_spark.plans.compiler import CompileError, _viol
from cerberus_cpp_spark.plans.engine import TableValidator


def test_custom_column_rule_odd(spark) -> None:
    """oddrule.cc: `odd: true` accepts only odd integers."""

    def compile_odd(ctx, arg):
        if not arg:
            return []
        cond = ctx.defined & (F.pmod(ctx.value, F.lit(2)) == 0)
        return [_viol(cond, F.lit(ctx.path), "odd-rule violated")]

    tv = TableValidator({"n": {"type": "integer", "odd": True}})
    tv.register_column_rule("odd", {"type": "boolean"}, compile_odd)
    df = spark.createDataFrame([(1,), (2,), (7,), (10,)], ["n"])
    res = tv.validate(df)
    bad = {r["n"] for r in res.annotated.where("NOT valid").collect()}
    assert bad == {2, 10}
    v = res.violations("n").collect()
    assert all(r["message"] == "odd-rule violated" for r in v)


def test_registered_rule_after_validate_applies(spark) -> None:
    """A registration clears the compiled plans: the next validate of
    the same frame compiles the newly registered rule in."""

    def compile_odd(ctx, arg):
        cond = ctx.defined & (F.pmod(ctx.value, F.lit(2)) == 0)
        return [_viol(cond, F.lit(ctx.path), "odd-rule violated")]

    tv = TableValidator({"n": {"type": "integer", "odd": True}})
    tv.register_column_rule("odd", {"type": "boolean"}, lambda ctx, arg: [])
    df = spark.createDataFrame([(1,), (2,), (7,), (10,)], ["n"])
    assert tv.validate(df).counts()["invalid_rows"] == 0
    tv.register_column_rule("odd", {"type": "boolean"}, compile_odd)
    bad = tv.validate(df).annotated.where("NOT valid").collect()
    assert {r["n"] for r in bad} == {2, 10}


def test_registered_type_after_validate_applies(spark) -> None:
    tv = TableValidator({"d": {"type": "date"}})
    tv.register_spark_type("date", lambda col, dtype: F.lit(True),
                           py_decode=str)
    df = spark.createDataFrame([("2021-06-21",), ("not-a-date",)], ["d"])
    assert tv.validate(df).counts()["invalid_rows"] == 0
    tv.register_spark_type("date", lambda col, dtype: F.try_to_timestamp(
        col, F.lit("yyyy-MM-dd")).isNotNull())
    bad = tv.validate(df).annotated.where("NOT valid").collect()
    assert {r["d"] for r in bad} == {"not-a-date"}


def test_unregistered_custom_rule_still_raises(spark) -> None:
    tv = TableValidator({"n": {"type": "integer", "odd": True}})
    df = spark.createDataFrame([(1,)], ["n"])
    with pytest.raises(SchemaError):
        tv.validate(df)


@pytest.mark.parametrize("rules,ddl", [
    ({"type": "list", "schema": {"type": "integer", "odd": True}},
     "n array<bigint>"),
    ({"type": "dict", "valuesrules": {"type": "integer", "odd": True}},
     "n map<string, bigint>"),
], ids=["list-element", "map-value"])
def test_custom_rule_inside_element_lambda_raises(rules, ddl, spark) -> None:
    """A custom column rule may build a pandas UDF, which cannot run
    inside the ``F.transform`` lambda of a list element or map entry:
    the compiler refuses it there."""
    tv = TableValidator({"n": rules})
    tv.register_column_rule("odd", {"type": "boolean"}, lambda ctx, arg: [])
    df = spark.createDataFrame([], ddl)
    with pytest.raises(CompileError, match="rule 'odd' not supported"):
        tv.compile(df.schema)


def test_custom_rule_via_pandas_udf(spark) -> None:
    """Escape hatch: a rule backed by an Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    # NB: functional form — `from __future__ import annotations`
    # stringifies hints, which breaks pandas_udf signature inference
    is_palindrome = pandas_udf(
        lambda s: s.map(lambda x: x is not None and x == x[::-1]),
        "boolean",
    )

    def compile_pal(ctx, arg):
        if not arg:
            return []
        cond = ctx.defined & ~is_palindrome(ctx.value)
        return [_viol(cond, F.lit(ctx.path), "palindrome-rule violated")]

    tv = TableValidator({"w": {"type": "string", "palindrome": True}})
    tv.register_column_rule("palindrome", {"type": "boolean"},
                            compile_pal)
    df = spark.createDataFrame(
        [("anna",), ("otto",), ("spark",)], ["w"]
    )
    res = tv.validate(df)
    bad = {r["w"] for r in res.annotated.where("NOT valid").collect()}
    assert bad == {"spark"}


def test_custom_spark_type_date(spark) -> None:
    """datetype.cc: a custom `date` type usable in `type:` — the
    convertibility predicate is a Column factory; the interpreter
    twin gets a TypeAdapter so meta-validation accepts the name."""
    import datetime

    from cerberus_cpp_spark.functions.pytypes import TypeAdapter

    tv = TableValidator({"d": {"type": "date"}})
    tv.register_spark_type(
        "date",
        lambda col, dtype: F.try_to_timestamp(
            col, F.lit("yyyy-MM-dd")
        ).isNotNull(),
    )

    def decode_date(text):
        try:
            return datetime.date.fromisoformat(text)
        except ValueError:
            return None

    tv._interp.register_type(TypeAdapter("date", decode_date))
    df = spark.createDataFrame(
        [("2021-06-21",), ("not-a-date",), (None,)], ["d"]
    )
    res = tv.validate(df)
    bad = {r["d"] for r in res.annotated.where("NOT valid").collect()}
    # NULL passes: type is skipped for null/undefined (rules.hh:587)
    assert bad == {"not-a-date"}


def _register_german_date(tv) -> None:
    """A custom `date` type in DD.MM.YYYY text — its calendar order
    DIFFERS from lexicographic string order, so these tests pin that
    min/max/allowed/forbidden really use the custom ordering
    (types.hh:16-21 equality/less; doc/examples/datetype.cc), not a
    string comparison on the raw column."""
    import datetime

    def py_decode(text):
        return datetime.datetime.strptime(str(text), "%d.%m.%Y").date()

    tv.register_spark_type(
        "date",
        decode=lambda col, dtype: F.try_to_timestamp(
            col, F.lit("dd.MM.yyyy")),
        literal=lambda v: F.to_timestamp(F.lit(str(v)), "dd.MM.yyyy"),
        py_decode=py_decode,
    )


def test_custom_type_ordering_min_max_columnar(spark) -> None:
    """min/max with a custom type use the registered decode/literal:
    '05.01.2021' is lexically < '30.12.2020' but calendar-after it."""
    tv = TableValidator({"d": {
        "type": "date", "min": "30.12.2020", "max": "01.01.2022"}})
    _register_german_date(tv)
    rows = [("05.01.2021",),   # in range (after min, before max)
            ("29.12.2020",),   # before min
            ("30.12.2020",),   # == min → violates (min is EXCLUSIVE)
            ("01.01.2022",),   # == max → violates (max is EXCLUSIVE)
            ("15.06.2021",),   # in range
            ("not-a-date",)]   # undecodable → min fires (rules.hh:335)
    df = spark.createDataFrame(rows, ["d"])
    res = tv.validate(df)
    bad = {r["d"] for r in res.annotated.where("NOT valid").collect()}
    assert bad == {"29.12.2020", "30.12.2020", "01.01.2022",
                   "not-a-date"}


def _register_grouped_int(tv) -> None:
    """Custom `grouped_int`: integer text with `_` thousands
    separators. '1_000' and '1000' decode to the SAME value, so
    equality on the decoded representation accepts both spellings —
    raw string equality would not."""

    def py_decode(text):
        return int(str(text).replace("_", ""))

    pat = r"^[-+]?[0-9][0-9_]*$"
    tv.register_spark_type(
        "grouped_int",
        decode=lambda col, dtype: F.when(
            col.rlike(pat),
            F.replace(col, F.lit("_"), F.lit("")).cast("long")),
        literal=lambda v: F.lit(int(str(v).replace("_", ""))),
        py_decode=py_decode,
    )


def test_custom_type_equality_allowed_forbidden_columnar(spark) -> None:
    """allowed/forbidden equality goes through the custom decode —
    the reference picks equality from the field's `type`
    (rules.hh:90, 240; doc/index.rst:261-268)."""
    tv = TableValidator({"n": {
        "type": "grouped_int", "allowed": ["1_000", 250]}})
    _register_grouped_int(tv)
    df = spark.createDataFrame(
        [("1000",), ("1_000",), ("250",), ("999",)], ["n"])
    res = tv.validate(df)
    bad = {r["n"] for r in res.annotated.where("NOT valid").collect()}
    assert bad == {"999"}

    tv2 = TableValidator({"n": {
        "type": "grouped_int", "forbidden": ["66_6"]}})
    _register_grouped_int(tv2)
    df2 = spark.createDataFrame([("666",), ("667",)], ["n"])
    bad2 = {r["n"] for r in
            tv2.validate(df2).annotated.where("NOT valid").collect()}
    assert bad2 == {"666"}


def test_custom_type_ordering_matches_interpreter(spark) -> None:
    """Differential: the columnar custom-date verdicts equal the twin
    interpreter's (whose TypeAdapter compares decoded datetime.date)."""
    schema = {"d": {"type": "date", "min": "30.12.2020",
                    "max": "01.01.2022"}}
    tv = TableValidator(schema, extra_cols=("doc_id",))
    _register_german_date(tv)
    docs = ["05.01.2021", "29.12.2020", "30.12.2020", "01.01.2022",
            "15.06.2021", "31.12.2020", "02.01.2022", "not-a-date"]
    expected = [tv._interp.validate({"d": d}, schema) for d in docs]
    df = spark.createDataFrame(
        [(d, i) for i, d in enumerate(docs)], ["d", "doc_id"])
    got = {r["doc_id"]: r["valid"]
           for r in tv.validate(df).annotated.collect()}
    assert [got[i] for i in range(len(docs))] == expected


def test_custom_type_decode_only_registration(spark) -> None:
    """decode= alone derives the convertibility predicate, so the
    `type` rule works without a separate convertible=."""
    import datetime

    tv = TableValidator({"d": {"type": "date"}})
    tv.register_spark_type(
        "date",
        decode=lambda col, dtype: F.try_to_timestamp(
            col, F.lit("dd.MM.yyyy")),
        py_decode=lambda t: datetime.datetime.strptime(
            str(t), "%d.%m.%Y").date(),
    )
    df = spark.createDataFrame([("21.06.2021",), ("nope",)], ["d"])
    bad = {r["d"] for r in
           tv.validate(df).annotated.where("NOT valid").collect()}
    assert bad == {"nope"}


def test_custom_type_without_literal_matches_interpreter(spark) -> None:
    """A custom type registered with ``decode`` and ``py_decode`` but no
    ``literal``: its schema literals compare as written, and the two
    engines give the same ``(path, message)`` multisets under
    min/max/allowed/forbidden."""
    from collections import Counter

    from cerberus_cpp_spark import Validator
    from cerberus_cpp_spark.functions.pytypes import TypeAdapter

    def py_even(v):
        if type(v) is int and v % 2 == 0:
            return v
        raise ValueError(f"not even: {v!r}")

    schema = {"a": {"type": "even", "min": 2, "max": 10},
              "b": {"type": "even", "allowed": [4, 6]},
              "c": {"type": "even", "forbidden": [8]}}
    tv = TableValidator(schema, extra_cols=("doc_id",))
    tv.register_spark_type(
        "even", decode=lambda col, dtype: F.when(F.pmod(col, F.lit(2)) == 0,
                                                 col),
        py_decode=py_even)
    oracle = Validator(schema)
    oracle.register_type(TypeAdapter("even", py_even))
    docs = [{"a": n, "b": n, "c": n} for n in (0, 2, 3, 4, 6, 8, 10, 12)]
    want = []
    for d in docs:
        oracle.validate(d)
        want.append(Counter((e.path, e.message) for e in oracle.errors))
    df = spark.createDataFrame(
        [{"doc_id": i, **d} for i, d in enumerate(docs)],
        "doc_id int, a bigint, b bigint, c bigint")
    got = {r["doc_id"]: Counter((v["path"], v["message"])
                                for v in r["violations"])
           for r in tv.validate(df).annotated.collect()}
    assert [got[i] for i in range(len(docs))] == want
