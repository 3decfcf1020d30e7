"""Deterministic test fixtures.

Two builders:

1. :func:`golden_frame` — turn a reference golden case (schema +
   success/failure documents, ``test/testdata.yml``) into a typed
   DataFrame in ``presence="defined"`` mode: one row per document,
   columns = schema ∪ document keys, scalars carried as their YAML
   scalar *text* (so the columnar YAML-decodability checks are real),
   nested dicts as structs with their own ``__defined__`` bookkeeping,
   dynamic dicts as ``map<string,string>`` — or as maps of the type a
   container-typed ``valuesrules`` declares.
2. :func:`image_caption_table` — the BASELINE.json input_hint table
   ``(image_id, bytes, w, h, fmt, caption, phash)`` with seeded,
   countable violations (FIXTURES.md §1) for production-mode tests and
   benches. Deterministic from a seed; no external data.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..dynamic.interpreter import _schema_form
from ..functions.pytypes import UNDEFINED, scalar_text


def _rule_declared_type(rules: dict) -> str:
    t = rules.get("type", "")
    return str(t[0]) if isinstance(t, list) and t else str(t)


def _schema_arg(rules: dict, form: str, registry: dict | None) -> dict:
    """``rules``' ``schema`` argument read as ``form`` — ``"list"``:
    one rule map for every element, ``"dict"``: a field map — or
    ``{}`` when it reads otherwise. The declared type decides
    (``_schema_form``, as the interpreter's normalizer), else the data
    shape; a registered schema is always a field map."""
    sub = rules.get("schema")
    if isinstance(sub, str):
        sub = (registry or {}).get(sub) if form == "dict" else None
    if not isinstance(sub, dict) or _schema_form(rules) not in (None, form):
        return {}
    return sub


def _scalar_cell(v: Any) -> str | None:
    if v is None:
        return None
    text = scalar_text(v)
    if text is not None:
        return text
    return json.dumps(v, sort_keys=True)


class HeterogeneousShape(Exception):
    """A field mixes container and scalar documents — columnar mode
    cannot type it; the dynamic interpreter path covers the case."""


def _field_type(
    rules: dict, values: list[Any], registry: dict | None
) -> T.DataType:
    declared = _rule_declared_type(rules)
    shapes = {
        "dict" if isinstance(v, dict)
        else "list" if isinstance(v, list)
        else "scalar"
        for v in values
        if v is not None and v is not UNDEFINED
    }
    if len(shapes) > 1:
        raise HeterogeneousShape(shapes)
    shape = next(iter(shapes), None) or (
        declared if declared in ("dict", "list") else "scalar"
    )
    if shape == "list":
        # list form: `schema` is a RULE MAP for the elements — type
        # them recursively (list-of-dict → array<struct>, enabling the
        # columnar map-in-list-in-struct path)
        elem_rules = _schema_arg(rules, "list", registry)
        elems = [x for v in values if isinstance(v, list) for x in v]
        return T.ArrayType(_field_type(elem_rules, elems, registry))
    if shape == "dict":
        sub = _schema_arg(rules, "dict", registry)
        if sub and all(isinstance(v, dict) for v in sub.values()):
            return _struct_type(sub, [
                v for v in values if isinstance(v, dict)
            ], registry)
        # valuesrules declaring a container types the map values by it
        # (map<string,struct…>); otherwise values are scalar text
        vrules = rules.get("valuesrules")
        if isinstance(vrules, dict) and _schema_form(vrules):
            return T.MapType(T.StringType(), _field_type(vrules, [
                x for v in values if isinstance(v, dict) for x in v.values()
            ], registry))
        return T.MapType(T.StringType(), T.StringType())
    return T.StringType()


def _struct_type(
    schema: dict, docs: list[dict], registry: dict | None
) -> T.StructType:
    names = list(schema)
    for d in docs:
        for k in d:
            if k not in names:
                names.append(k)
    fields = []
    for name in names:
        rules = schema.get(name, {})
        vals = [d.get(name, UNDEFINED) for d in docs]
        fields.append(
            T.StructField(name, _field_type(rules, vals, registry), True)
        )
    fields.append(
        T.StructField("__defined__", T.ArrayType(T.StringType()), True)
    )
    return T.StructType(fields)


def _convert(value: Any, dtype: T.DataType, rules: dict,
             registry: dict | None) -> Any:
    if value is UNDEFINED or value is None:
        return None
    if isinstance(dtype, T.ArrayType):
        if not isinstance(value, list):
            return None
        elem_rules = _schema_arg(rules, "list", registry)
        return [_convert(x, dtype.elementType, elem_rules, registry)
                for x in value]
    if isinstance(dtype, T.MapType):
        if isinstance(value, dict):
            return {str(k): _convert(v, dtype.valueType,
                                     rules.get("valuesrules"), registry)
                    for k, v in value.items()}
        return None
    if isinstance(dtype, T.StructType):
        return _struct_row(value, dtype, _schema_arg(rules, "dict", registry),
                           registry)
    return _scalar_cell(value)


def _struct_row(doc: dict, dtype: T.StructType, schema: dict,
                registry: dict | None) -> dict:
    out: dict[str, Any] = {}
    for f in dtype.fields:
        if f.name == "__defined__":
            out[f.name] = [k for k in doc]
            continue
        if f.name in doc:
            out[f.name] = _convert(
                doc[f.name], f.dataType, schema.get(f.name, {}), registry
            )
        else:
            out[f.name] = None
    return out


def golden_frame(
    spark: SparkSession,
    schema: dict,
    docs: list[tuple[dict, bool]],
    registry: dict | None = None,
) -> DataFrame:
    """DataFrame for one golden case: columns = schema ∪ doc keys +
    ``__defined__`` + ``doc_id`` + ``expected``. Raises
    :class:`HeterogeneousShape` when a field cannot be typed."""
    top = _struct_type(schema, [d for d, _ in docs], registry)
    fields = [f for f in top.fields] + [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("expected", T.BooleanType(), False),
    ]
    full = T.StructType(fields)
    rows = []
    for i, (doc, expected) in enumerate(docs):
        row = _struct_row(doc, top, schema, registry)
        row["doc_id"] = i
        row["expected"] = expected
        rows.append(row)
    return spark.createDataFrame(rows, full)


# ---------------------------------------------------------------------------
# Production-shaped synthetic table (FIXTURES.md §1)
# ---------------------------------------------------------------------------

FMT_CYCLE = ("jpeg", "png", "webp")


def image_caption_rows(
    n: int,
    *,
    seed: int = 42,
    violation_every: int | None = 100,
    hot_phash_every: int = 50,
    with_bytes: bool = False,
    plant_lossy: bool = False,
) -> list[dict]:
    """Deterministic image+caption rows with seeded violations at
    known indices: every ``violation_every``-th row cycles through one
    of 6 violation kinds; every ``hot_phash_every``-th row shares ONE
    hot phash value (the skew/uniqueness fixture).

    Expected violation counts are exactly computable:
    ``kind k`` hits rows where ``i % violation_every == 0`` and
    ``(i // violation_every) % 6 == k``.
    """
    from .imagegen import encode_image, pixel_seed  # lazy import

    rows = []
    for i in range(n):
        h = (i * 2654435761 + seed) & 0x7FFFFFFFFFFFFFFF
        w = 16 + (h % 1009) % 4080
        ht = 16 + (h // 7 % 1013) % 4080
        fmt = FMT_CYCLE[i % 3]
        caption = f"caption {i % 997} about image number {i}"
        phash = h if i % hot_phash_every else 0x5A5A5A5A5A5A5A5A
        row = {
            "image_id": f"img-{i:012d}",
            "w": int(w),
            "h": int(ht),
            "fmt": fmt,
            "caption": caption,
            "phash": int(phash),
        }
        if violation_every and i % violation_every == 0:
            kind = (i // violation_every) % 6
            if kind == 0:
                row["w"] = 0  # min violated (exclusive bound)
            elif kind == 1:
                row["h"] = 20000  # max violated
            elif kind == 2:
                row["fmt"] = "heif"  # allowed violated
            elif kind == 3:
                row["caption"] = None  # explicit null
            elif kind == 4:
                row["caption"] = "x\x01y"  # regex violated
            elif kind == 5:
                row["image_id"] = None  # required violated
        if with_bytes and plant_lossy and i % 30 == 8:
            # lossy-VP8 plant (decode_unsupported contract rows);
            # id%30==8 ⇒ fmt webp, disjoint from the i%100 plants
            from .imagegen import lossy_vp8_stub

            row["bytes"] = lossy_vp8_stub(8 + i % 9, 8 + i % 7)
        elif with_bytes and plant_lossy and i % 30 == 23:
            # REAL lossy-VP8 plant (round 4): decodable payload whose
            # PSNR deterministically fails the 40 dB gate → 'mismatch'
            # (id%30==23 ⇒ fmt webp, disjoint from %100 and %30==8)
            from .imagegen import lossy_webp_payload

            row["bytes"] = lossy_webp_payload(i, seed)
        elif with_bytes:
            try:
                row["bytes"] = encode_image(
                    pixel_seed(i, seed), 8 + i % 9, 8 + i % 7, row["fmt"]
                )
            except ValueError:  # seeded bad fmt ('heif') → no payload
                row["bytes"] = None
        else:
            row["bytes"] = None
        rows.append(row)
    return rows


IMAGE_TABLE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), True),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
])


def image_caption_table(
    spark: SparkSession, n: int, *, seed: int = 42, partitions: int = 8,
    with_bytes: bool = False, **kwargs,
) -> DataFrame:
    rows = image_caption_rows(n, seed=seed, with_bytes=with_bytes, **kwargs)
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA).repartition(
        partitions
    )


IMAGE_TABLE_RULES: dict = {
    "image_id": {"type": "string", "required": True,
                 "regex": r"img-[0-9]{12}"},
    "bytes": {"nullable": True},  # binary payload: no reference type
    "w": {"type": "integer", "min": 0, "max": 16384},
    "h": {"type": "integer", "min": 0, "max": 16384},
    "fmt": {"type": "string", "allowed": ["jpeg", "png", "webp"]},
    "caption": {"type": "string", "regex": r"[ -~]{1,512}",
                "nullable": False},
    "phash": {"type": "integer"},
}
