"""Malformed-tolerant ingest (operators/ingest.py): the pinned
PERMISSIVE semantics, the verdict contract, guards, and plan shape
(native reader, no Python stage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.ingest import jsonl_ingest


@pytest.fixture()
def jsonl(tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "v": 3}\n'
        '{"doc_id": 2, "v": \n'            # truncated json
        '{"doc_id": "xx", "v": 9}\n'       # type mismatch
        "not json at all\n"
        '{"doc_id": 5}\n'                  # missing field
        '{"doc_id": 6, "v": 18, "extra": 1}\n'
    )
    return str(p)


def test_jsonl_semantics(spark, jsonl) -> None:
    rows = jsonl_ingest(spark, jsonl, "doc_id long, v long") \
        .collect()
    by_raw = {r["corrupt_raw"]: r for r in rows
              if not r["ok"]}
    ok = {r["doc_id"]: r for r in rows if r["ok"]}
    # clean parse
    assert ok[1]["v"] == 3
    # missing field is NULL, not corruption
    assert ok[5]["v"] is None and ok[5]["ok"]
    # extra fields dropped, row clean
    assert ok[6]["v"] == 18
    # unparseable: raw line routed, fields NULL
    assert by_raw["not json at all"]["doc_id"] is None
    # truncated: raw line routed
    assert any(k.startswith('{"doc_id": 2') for k in by_raw)
    # type mismatch: raw routed, sibling field SALVAGED
    bad = by_raw['{"doc_id": "xx", "v": 9}']
    assert bad["doc_id"] is None and bad["v"] == 9


def test_split_and_guards(spark, jsonl) -> None:
    df = jsonl_ingest(spark, jsonl, "doc_id long, v long")
    clean, quar = df.where(F.col("ok")), df.where(~F.col("ok"))
    # both branches support bare aggregates — the from_json design
    # avoids the raw reader's corrupt-only-column restriction
    assert clean.count() == 3 and quar.count() == 3
    assert set(quar.toPandas()["ok"]) == {False}
    with pytest.raises(ValueError, match="_corrupt_record"):
        jsonl_ingest(spark, jsonl,
                     "doc_id long, _corrupt_record string")


def test_plan_native_reader(spark, jsonl) -> None:
    df = jsonl_ingest(spark, jsonl, "doc_id long, v long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "FileScan text" in plan or "Scan text" in plan
    assert "from_json" in plan
    assert "mapinpandas" not in plan.lower()
    # pushdown on a parsed column survives the verdict projection
    filt = df.where(F.col("doc_id") > 3)
    fplan = filt._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in fplan
