"""Distributed schemaless validation — the dynamic fallback at scale.

The columnar compiler needs one static Spark type per field; truly
heterogeneous documents — a field that is a dict in one row and a
scalar in the next (reference ``rules.hh:549-553,592-597``, golden
case ``type-simple`` ``test/testdata.yml:505-516``) — cannot be typed
statically and previously validated only driver-side. This module
runs the SAME interpreter (:mod:`cerberus_cpp_spark.dynamic.
interpreter`) inside one Arrow worker (``mapInArrow``) over a JSON
string column, so heterogeneous documents validate distributed.

Scale design:

- The schema and the registry are meta-validated + normalized ONCE
  on the driver, by the driver ``Validator``'s
  ``normalized_schemas()`` (``SchemaError`` raised before anything
  ships); workers receive those normalized trees and run with
  ``validate_schema=False``; the verdicts' Arrow types are derived there.
- ONE ``Validator``, ONE ``json.JSONDecoder`` and ONE
  ``json.JSONEncoder`` per worker task, reused across every document
  in its partition: ``json.loads``/``json.dumps`` with keyword
  arguments build a new codec on every call. Rule/type registries and
  the generated function of each rule map (its fields unrolled, its
  builtin rules inlined) are built once per task, not per row.
  ``compile()`` is memoized by source text for the life of the worker
  process, so a reused worker generates each task's source (about
  0.5 ms for ``JSON_SCHEMA``) but compiles it once.
- Each task runs :func:`~cerberus_cpp_spark.functions.shipping.
  task_prelude` once its imports are done: it drops the zip-import
  finders that PySpark's per-task ``importlib.invalidate_caches()``
  would make re-read their archives, and freezes the imported heap
  that the daemon's per-task ``gc.collect()`` would walk again.
- The worker hands each freshly parsed document to the interpreter
  (``Validator._validate_owned``), so normalization writes into it in
  place instead of into a deep copy.
- No pandas frame, no shuffle: ``doc`` is read from the Arrow batch,
  the id columns pass through as the Arrow arrays they arrived as (a
  ``bigint`` beside a NULL keeps every digit), and the verdict columns
  are built directly as Arrow arrays.
- Per-document Python is the *fidelity contract* here, not an
  accident: there is no columnar representation of a value whose type
  varies per row, so this is the sanctioned Python escape hatch (the
  columnar engine remains the hot path for statically typed columns;
  a field whose shape varies per row belongs here).
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
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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
    interpreter, distributed via one Arrow worker (``mapInArrow``).

    Returns ``id_cols`` (default: every column except ``doc``, values
    and dtypes passed through untouched) + ``violations`` +
    ``n_violations`` + ``valid`` [+ ``normalized`` JSON string when
    ``include_normalized``, with object keys sorted for deterministic
    output — the reference's ``getDocument()``].

    Each task parses with one ``json.JSONDecoder`` and writes
    ``normalized`` with one ``json.JSONEncoder``, reused across its
    documents. ``configure`` runs once per worker-side ``Validator``
    (register custom rules/types there; it must be picklable)."""
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
    verdict_fields = [
        T.StructField("violations", VIOL_FIELDS, False),
        T.StructField("n_violations", T.IntegerType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
    if include_normalized:
        verdict_fields.append(T.StructField("normalized", T.StringType()))
    out_schema = T.StructType([df.schema[c] for c in id_cols]
                              + verdict_fields)
    # the verdict columns' Arrow types; the id arrays keep their own
    verdict_types = [f.type for f in to_arrow_schema(
        T.StructType(verdict_fields))]
    names = out_schema.fieldNames()
    pkg_parent = PKG_PARENT
    n_ids = len(id_cols)

    def run(batches):
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import json
        import math

        import pyarrow as pa

        from cerberus_cpp_spark.dynamic.interpreter import Validator, too_deep
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()
        v = Validator(  # pre-normalized on the driver
            norm_schema, allow_unknown=allow_unknown,
            purge_unknown=purge_unknown, require_all=require_all,
            validate_schema=False)
        if configure is not None:
            configure(v)
        for name, s in norm_registry.items():
            v.register_schema(name, s)

        def not_json(constant):
            raise ValueError(f"{constant} is not JSON")

        def finite(text):
            x = float(text)
            return x if math.isfinite(x) else not_json(text)

        decode = json.JSONDecoder(parse_constant=not_json,
                                  parse_float=finite).decode
        encode = json.JSONEncoder(sort_keys=True, separators=(",", ":"),
                                  allow_nan=False).encode

        def parse(raw):
            """(document, None), or (None, the one violation message)."""
            if raw is None:
                return None, None
            try:
                doc = decode(raw)
            except RecursionError:
                return None, TOO_DEEP_MSG
            except (ValueError, TypeError):
                return None, NOT_JSON_MSG
            # nesting d deep takes 2·d brackets: short rows skip the walk
            if len(raw) > 2 * MAX_DEPTH and too_deep(doc):
                return None, TOO_DEEP_MSG
            return doc, None

        for batch in batches:
            viols, counts, valids, norms = [], [], [], []
            for raw in batch.column(n_ids).to_pylist():
                doc, msg = parse(raw)
                norm = None
                if msg is None:
                    try:
                        v._validate_owned(doc)  # the decoder made it fresh
                        errs = [(e.path, e.message) for e in v.errors]
                        if include_normalized:
                            norm = encode(v.get_document())
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
            yield pa.RecordBatch.from_arrays(  # zip drops norms if untyped
                batch.columns[:n_ids] + [
                    pa.array(col, type=t) for col, t in zip(
                        (viols, counts, valids, norms), verdict_types)],
                names=names)

    return src.mapInArrow(run, schema=out_schema)


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
