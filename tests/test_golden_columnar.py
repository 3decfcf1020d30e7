"""Golden corpus through the COLUMNAR compiler (presence='defined').

Every reference case whose documents can be statically typed runs
through the fused Column-expression plan; per-row ``valid`` must equal
the reference verdict. Heterogeneously-shaped cases (a field that is
a dict in one doc and a scalar in another) stay interpreter-only —
they are asserted to raise :class:`HeterogeneousShape` so the skip is
explicit, not silent.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.fixtures import (
    HeterogeneousShape,
    golden_frame,
)

from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")
CASES = GOLDEN.cases

# fields mixing dict+scalar shapes in one column — dynamic path only
DYNAMIC_ONLY = {"type-simple"}


@pytest.mark.parametrize("name", GOLDEN.params())
def test_golden_columnar(name: str, spark) -> None:
    spec = CASES[name]
    docs = [(d, True) for d in spec.get("success") or []] + [
        (d, False) for d in spec.get("failure") or []
    ]
    registry = spec.get("registry")
    if name in DYNAMIC_ONLY:
        with pytest.raises(HeterogeneousShape):
            golden_frame(spark, spec["schema"], docs, registry)
        return
    df = golden_frame(spark, spec["schema"], docs, registry)
    tv = TableValidator(
        spec["schema"],
        allow_unknown=bool(spec.get("allow_unknown", False)),
        purge_unknown=bool(spec.get("purge_unknown", False)),
        require_all=bool(spec.get("require_all", False)),
        presence="defined",
        extra_cols=("doc_id", "expected"),
        registry=registry,
    )
    rows = (
        tv.validate(df)
        .annotated.select("doc_id", "expected", "valid", "violations")
        .orderBy("doc_id")
        .collect()
    )
    for r in rows:
        assert r["valid"] == r["expected"], (
            f"{name} doc {r['doc_id']}: expected {r['expected']},"
            f" got {r['valid']}; violations={r['violations']}"
        )
