"""Golden-port suite: every reference test case, via the dynamic path.

Mirrors the reference harness ``test/testcerberus.cc:15-44``: for each
named case in ``test/testdata.yml`` wire the policy flags + registry,
then assert the boolean verdict for every success/failure document.
The corpus is read from a reference checkout (``tests/conftest.py``,
not copied); if it is absent the suite is skipped with a reason that
names the missing file, so the rest of the tests stand alone.
"""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.dynamic.interpreter import Validator
from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")
CASES = GOLDEN.cases


def _make_validator(spec: dict) -> Validator:
    v = Validator(
        allow_unknown=bool(spec.get("allow_unknown", False)),
        purge_unknown=bool(spec.get("purge_unknown", False)),
        require_all=bool(spec.get("require_all", False)),
    )
    for name, schema in (spec.get("registry") or {}).items():
        v.register_schema(name, schema)
    return v


@pytest.mark.parametrize("name", GOLDEN.params())
def test_golden_case(name: str) -> None:
    spec = CASES[name]
    v = _make_validator(spec)
    for doc in spec.get("success") or []:
        ok = v.validate(doc, spec["schema"])
        assert ok, f"{name}: expected PASS for {doc!r}, errors={v.errors}"
    for doc in spec.get("failure") or []:
        ok = v.validate(doc, spec["schema"])
        assert not ok, f"{name}: expected FAIL for {doc!r}"


@GOLDEN.skip
def test_corpus_is_complete() -> None:
    """All 40 named reference cases must be present and exercised."""
    assert len(CASES) == 40
