"""Edge inputs: empty tables, all-null columns, single rows — the
places distributed pipelines usually break first."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cerberus_cpp_spark.operators import checks
from cerberus_cpp_spark.operators import dedup as DD
from cerberus_cpp_spark.operators import similarity as SIM
from cerberus_cpp_spark.plans.engine import TableValidator

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("val", T.DoubleType()),
])


@pytest.fixture()
def empty(spark):
    return spark.createDataFrame([], SCHEMA)


def test_validate_empty(spark, empty) -> None:
    tv = TableValidator({"val": {"type": "float", "min": 0}},
                        allow_unknown=True)
    res = tv.validate(empty)
    assert res.counts() == {"rows": 0, "violations": 0,
                            "invalid_rows": 0}
    assert res.is_valid() is True
    assert res.violations("id").count() == 0
    assert res.normalized.count() == 0


def test_validate_all_null_column(spark) -> None:
    df = spark.createDataFrame(
        [(1, None, None), (2, None, None)], SCHEMA
    )
    tv = TableValidator(
        {"text": {"type": "string", "regex": "[a-z]+"},
         "val": {"type": "float", "min": 0, "required": True}},
        allow_unknown=True,
    )
    res = tv.validate(df)
    c = res.counts()
    # nulls: regex/min skip, required fires per row
    assert c["rows"] == 2 and c["violations"] == 2


def test_dedup_empty_and_single(spark, empty) -> None:
    assert DD.exact_duplicates(empty, "id", "text").count() == 0
    assert DD.near_duplicates(empty, "id", "text").count() == 0
    one = spark.createDataFrame([(1, "alpha beta gamma delta", 0.0)],
                                SCHEMA)
    assert DD.near_duplicates(one, "id", "text").count() == 0
    assert DD.simhash(one, "id", "text").count() == 1


def test_stats_and_drift_empty(spark, empty) -> None:
    stats = {r["col_name"]: r for r in
             checks.column_stats(empty, ["val"]).collect()}
    assert stats["val"]["n_rows"] == 0
    assert stats["val"]["null_count"] == 0
    out = checks.exact_quantile_drift_frame(empty, empty, "val")
    # percentile of an empty relation is NULL → no exploded rows
    assert out.count() == 0


def test_similarity_empty_queries(spark) -> None:
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
    )
    none = emb.where("vec_id < 0")
    assert SIM.cosine_topk(emb, none, k=3).count() == 0
    assert SIM.ann_topk_lsh(emb, none, k=3).count() == 0
    assert SIM.embedding_near_duplicates(none, 0.9, exact=True) \
        .count() == 0


def test_cosine_of_two_empty_embeddings_is_nan(spark) -> None:
    """A pair of two empty embeddings yields a NaN cosine, like any
    other pair with no defined angle; it must not fail the job."""
    import math

    pairs = spark.createDataFrame(
        [(1, [], []), (2, [1.0], [1.0])],
        "pid long, vec_a array<double>, vec_b array<double>")
    got = {r["pid"]: r["cosine"]
           for r in SIM._attach_cosine_arrow(pairs).collect()}
    assert math.isnan(got[1])
    assert got[2] == 1.0


def test_referential_empty_dim(spark) -> None:
    fact = spark.createDataFrame([(1, 10), (2, 20)], ["id", "fk"])
    dim = spark.createDataFrame([], "pk long")
    out = checks.referential_violations(fact, dim, "fk", "pk")
    assert out.count() == 2  # everything dangles


def test_from_yaml_schema(spark, tmp_path) -> None:
    """YAML is the reference's native schema format (testdata.yml,
    YAML::Node constructor) — both engines accept it verbatim, from
    text or a file, with identical semantics to the dict form."""
    import yaml

    from cerberus_cpp_spark import SchemaError, Validator
    from cerberus_cpp_spark.plans.engine import TableValidator

    text = """
w:
  type: integer
  min: 0
  max: 100
fmt:
  type: string
  allowed: [png, jpeg]
"""
    v = Validator.from_yaml(text)
    assert v.validate({"w": 50, "fmt": "png"}) is True
    assert v.validate({"w": -1, "fmt": "gif"}) is False
    assert len(v.errors) == 2
    path = tmp_path / "schema.yml"
    path.write_text(text)
    vf = Validator.from_yaml(str(path))
    assert vf.schema == yaml.safe_load(text)

    df = spark.createDataFrame(
        [(50, "png"), (101, "bmp")], "w bigint, fmt string")
    tv = TableValidator.from_yaml(text, allow_unknown=True)
    res = tv.validate(df)
    assert res.counts()["invalid_rows"] == 1
    twin = TableValidator(yaml.safe_load(text), allow_unknown=True)
    assert sorted(map(tuple, res.violations("w").collect())) == \
        sorted(map(tuple, twin.validate(df).violations("w").collect()))

    with pytest.raises(SchemaError, match="mapping"):
        Validator.from_yaml("- a\n- b")


def test_from_yaml_missing_path_raises(tmp_path) -> None:
    """ADVICE r4: a path-shaped source (.yml/.yaml, no newline) that
    names no existing file must raise FileNotFoundError instead of
    being silently parsed as YAML text (which surfaced as a confusing
    'schema must be a mapping, got str'). Both engines share the one
    helper (yamlschema.load_yaml_schema)."""
    from cerberus_cpp_spark import Validator
    from cerberus_cpp_spark.plans.engine import TableValidator

    missing = str(tmp_path / "nope.yml")
    with pytest.raises(FileNotFoundError, match="nope.yml"):
        Validator.from_yaml(missing)
    with pytest.raises(FileNotFoundError, match="nope.yml"):
        TableValidator.from_yaml(missing)
