"""Distributed schemaless validation — the dynamic fallback at scale.

The columnar compiler needs one static Spark type per field; truly
heterogeneous documents — a field that is a dict in one row and a
scalar in the next (reference ``rules.hh:549-553,592-597``, golden
case ``type-simple`` ``test/testdata.yml:505-516``) — cannot be typed
statically and previously validated only driver-side. This module
runs the SAME interpreter (:mod:`cerberus_cpp_spark.dynamic.
interpreter`) inside Arrow-batched ``mapInPandas`` over a JSON string
column, so heterogeneous documents validate distributed.

Scale design:

- The schema and the registry are meta-validated + normalized ONCE
  on the driver, by the driver ``Validator``'s
  ``normalized_schemas()`` (``SchemaError`` raised before anything
  ships); workers receive those normalized trees and run with
  ``validate_schema=False``.
- ONE ``Validator`` per worker task, reused across every document in
  its partition: rule/type registries and the generated function of
  each rule map (its fields unrolled, its builtin rules inlined) are
  built once per task, not per row. ``compile()`` is memoized by
  source text for the life of the worker process, so a reused worker
  generates each task's source (about 0.5 ms for ``JSON_SCHEMA``) but
  compiles it once. The interpreter walk is the largest share of a
  document's Python cost that this module controls, next to
  ``json.loads`` and the ``json.dumps`` of ``normalized``.
- Each task drops the worker's zip-import finders once its imports
  are done (:func:`~cerberus_cpp_spark.functions.shipping.
  drop_zip_finders`): PySpark invalidates the import caches at the
  start of every task, and each ``zipimporter`` finder then re-reads
  its archive's central directory: 16 of them in a warm worker, about
  0.29 CPU-s per task before any document is read (0.046 s without
  them, on a shared 4-vCPU host).
- The worker hands each freshly parsed document to the interpreter
  (``Validator._validate_owned``), so normalization writes into it in
  place instead of into a deep copy.
- The stage is a narrow projection — no shuffle, embarrassingly
  parallel over input partitions; batches arrive via Arrow.
- Per-document Python is the *fidelity contract* here, not an
  accident: there is no columnar representation of a value whose type
  varies per row, so this is the sanctioned ``mapInPandas`` escape
  hatch (the columnar engine remains the hot path for statically
  typed columns; a field whose shape varies per row belongs here).
- Output is the columnar engine's violations schema
  (``array<struct<path,message>>`` + allocation-free ``n_violations``
  + ``valid``), so ledgers, partition verdicts and windowed rollups
  compose unchanged.

JSON is the wire format (the usual shape of schemaless payload
columns); absent keys stay absent — this path is presence-exact like
``presence="defined"`` mode, with no null/undefined collapse.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.shipping import PKG_PARENT
from ..plans.engine import explode_violations
from .interpreter import MAX_DEPTH, TOO_DEEP_MSG, Validator

VIOL_FIELDS = T.ArrayType(T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("message", T.StringType(), False),
]))

#: violation emitted when the payload cannot be parsed as JSON —
#: mirrors the interpreter's top-level "document is not a mapping".
#: ``NaN``, ``Infinity`` and ``-Infinity`` are not JSON (RFC 8259 §6),
#: nor is a number beyond the range of a double (``1e999``)
NOT_JSON_MSG = "document is not valid JSON"
#: the one violation of a document whose validation raised: a custom
#: rule or type that fails on one document fails only that row
RAISED_MSG = "validation raised {}"
#: the JSON document column
DOC_COL = "doc"


def validate_json(
    df: DataFrame,
    schema: dict,
    *,
    id_cols: tuple[str, ...] | None = None,
    allow_unknown: bool = False,
    purge_unknown: bool = False,
    require_all: bool = False,
    include_normalized: bool = False,
    registry: dict[str, dict] | None = None,
    configure: Callable[[Validator], None] | None = None,
) -> DataFrame:
    """Validate the JSON-document column ``doc`` with the dynamic
    interpreter, distributed via ``mapInPandas``.

    Returns ``id_cols`` (default: every column except ``doc``,
    original dtypes preserved) + ``violations`` + ``n_violations`` +
    ``valid`` [+ ``normalized`` JSON string when
    ``include_normalized``, with object keys sorted for deterministic
    output — the reference's ``getDocument()``].

    ``configure`` runs once per worker-side ``Validator`` (register
    custom rules/types there; it must be picklable)."""
    # driver-side meta-validation: fail fast, ship the NORMALIZED tree
    driver_v = Validator(
        schema, allow_unknown=allow_unknown, purge_unknown=purge_unknown,
        require_all=require_all,
    )
    if configure is not None:
        configure(driver_v)
    for name, s in (registry or {}).items():
        driver_v.register_schema(name, s)
    norm_schema, norm_registry = driver_v.normalized_schemas()

    if id_cols is None:
        id_cols = tuple(c for c in df.columns if c != DOC_COL)
    src = df.select(*id_cols, DOC_COL)
    out_fields = [df.schema[c] for c in id_cols] + [
        T.StructField("violations", VIOL_FIELDS, False),
        T.StructField("n_violations", T.IntegerType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
    if include_normalized:
        out_fields.append(
            T.StructField("normalized", T.StringType(), True)
        )
    out_schema = T.StructType(out_fields)
    pkg_parent = PKG_PARENT
    id_list = list(id_cols)

    def run(batches):
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import json
        import math

        import pandas as pd

        from cerberus_cpp_spark.dynamic.interpreter import (
            Validator,
            too_deep,
        )
        from cerberus_cpp_spark.functions.shipping import drop_zip_finders

        drop_zip_finders()  # the next task re-reads no zip directory
        v = Validator(
            norm_schema,
            allow_unknown=allow_unknown,
            purge_unknown=purge_unknown,
            require_all=require_all,
            validate_schema=False,  # pre-normalized on the driver
        )
        if configure is not None:
            configure(v)
        for name, s in norm_registry.items():
            v.register_schema(name, s)

        def not_json(constant):
            raise ValueError(f"{constant} is not JSON")

        def finite(text):
            x = float(text)
            return x if math.isfinite(x) else not_json(text)

        def parse(raw):
            """(document, None), or (None, the one violation message)."""
            if raw is None:
                return None, None
            try:
                doc = json.loads(raw, parse_constant=not_json,
                                 parse_float=finite)
            except RecursionError:
                return None, TOO_DEEP_MSG
            except (ValueError, TypeError):
                return None, NOT_JSON_MSG
            # nesting d deep takes 2·d brackets: short rows skip the walk
            if len(raw) > 2 * MAX_DEPTH and too_deep(doc):
                return None, TOO_DEEP_MSG
            return doc, None

        for pdf in batches:
            viols, counts, valids, norms = [], [], [], []
            for raw in pdf[DOC_COL]:
                doc, msg = parse(raw)
                norm = None
                if msg is None:
                    try:
                        v._validate_owned(doc)  # json.loads made it fresh
                        errs = [(e.path, e.message) for e in v.errors]
                        if include_normalized:
                            norm = json.dumps(v.get_document(),
                                              sort_keys=True,
                                              separators=(",", ":"),
                                              allow_nan=False)
                    except RecursionError:
                        msg = TOO_DEEP_MSG
                    except Exception as e:  # noqa: BLE001 — one row only
                        msg = RAISED_MSG.format(type(e).__name__)
                if msg is not None:
                    errs = [("^", msg)]
                viols.append(errs)
                counts.append(len(errs))
                valids.append(not errs)
                norms.append(norm)
            data = {c: pdf[c] for c in id_list}
            data["violations"] = viols
            data["n_violations"] = counts
            data["valid"] = valids
            if include_normalized:
                data["normalized"] = norms
            yield pd.DataFrame(data)

    return src.mapInPandas(run, schema=out_schema)


def json_violations(
    df: DataFrame,
    schema: dict,
    *,
    id_cols: tuple[str, ...] | None = None,
    **kw,
) -> DataFrame:
    """Exploded ``(id…, path, message)`` rows — the distributed
    analogue of the reference's error list for schemaless payloads
    (same output shape as ``TableValidationResult.violations``)."""
    if id_cols is None:
        id_cols = tuple(c for c in df.columns if c != DOC_COL)
    return explode_violations(
        validate_json(df, schema, id_cols=id_cols, **kw), id_cols)
