"""TableValidator — the public Spark-facing API of the engine.

One object owns the columnar compilation and the result surfaces the
reference exposes per document, re-expressed per table:

- ``validate(df)`` → :class:`TableValidationResult` with
  ``annotated`` (input + violations array + per-row verdict — the
  reference's ``validate() → bool`` per document),
  ``violations()`` (exploded ``(id…, path, message)`` rows — the
  reference's error list, ``error.hh:42-46``), ``normalized`` (the
  reference's ``getDocument()``, ``validator.hh:200-203``), and
  ``partition_verdicts()`` (per-partition pass/fail aggregation for
  the north-rule ledger).

Schema meta-validation and normalization (reference
``validator.hh:159-175``) belong to the dynamic interpreter alone: the
compiler reads the rule tree and the registry a ``Validator``
normalized, ``nullable`` tags included, and the engine keeps no schema
state of its own.

A validator compiles once per input schema: ``compile`` keeps each
:class:`CompiledPlan` under the frame's ``StructType``, and every
frame with an equal schema (names, types, nullability and metadata)
reuses it, since the plan's Columns name fields and hold no frame.
``register_column_rule`` and ``register_spark_type`` clear the plans,
so the next ``validate`` compiles the new rule or type in.

Scale notes: the validation pass is a single narrow projection — no
shuffle, embarrassingly parallel, AQE-friendly. ``is_valid()`` uses a
LIMIT-1 probe on invalid rows so the common all-clean case never
materializes violation structs driver-side. Partition verdicts are a
single partial+final hash aggregation.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dynamic.interpreter import Priority, Validator, _Policy
from .compiler import (
    CompilerOpts,
    FieldCtx,
    _compile_mapping,
    assemble_violation_count,
    assemble_violations,
    row_ref,
)

BOOKKEEPING_COLS = ("__defined__",)


class TableValidator:
    """Validate DataFrames against a cerberus-style schema.

    The schema, the registry and the policy flags live in one
    interpreter ``Validator`` (a deep copy of ``schema``); ``schema``
    and the compiler's registry are that validator's normalized trees,
    and custom rules and types register on it too."""

    def __init__(
        self,
        schema: dict,
        *,
        allow_unknown: bool = False,
        purge_unknown: bool = False,
        require_all: bool = False,
        presence: str = "null",
        extra_cols: tuple[str, ...] = (),
        registry: dict[str, dict] | None = None,
    ) -> None:
        self._interp = Validator(
            copy.deepcopy(schema),
            allow_unknown=allow_unknown,
            purge_unknown=purge_unknown,
            require_all=require_all,
        )
        for name, s in (registry or {}).items():
            self._interp.register_schema(name, s)
        self.presence = presence
        self.extra_cols = tuple(extra_cols)
        self._column_rules: dict[str, Callable] = {}
        self._spark_types: dict[str, Callable] = {}
        self._plans: dict[T.StructType, CompiledPlan] = {}

    @classmethod
    def from_yaml(cls, source: str, **kwargs) -> "TableValidator":
        """Construct from a YAML schema — the reference's native
        format (``validator.hh:33-38``; every ``test/testdata.yml``
        case is YAML), so a cerberus-cpp user's schema file compiles
        straight to the fused Spark plan. ``source`` is YAML text or
        a ``.yml``/``.yaml`` path; keyword arguments pass through.
        A path-shaped source naming no existing file raises
        ``FileNotFoundError`` (shared helper, ``yamlschema.py``)."""
        from ..yamlschema import load_yaml_schema

        return cls(load_yaml_schema(source), **kwargs)

    @property
    def _policy(self) -> _Policy:
        return self._interp._policy

    @property
    def schema(self) -> dict:
        """The schema as the interpreter meta-validated + normalized
        it (:meth:`Validator.normalized_schema`). Validation is LAZY
        (on first use, like the reference's validate-time check,
        ``validator.hh:159-179``) so custom rules/types registered
        after construction participate in meta-validation."""
        return self._interp.normalized_schemas()[0]

    # -- extension API (parity with registerRule/registerType,
    #    validator.hh:56-95, but compiling to Columns) ----------------
    def register_column_rule(
        self,
        name: str,
        meta_schema: dict,
        compiler: Callable[[FieldCtx, Any], list],
        interpreter_fn: Callable | None = None,
        priority: Priority = Priority.VALIDATION,
    ) -> None:
        self._column_rules[name] = compiler
        self._interp.register_rule(
            name, meta_schema, interpreter_fn or (lambda ctx: None), priority
        )
        self._plans.clear()

    def register_spark_type(
        self,
        name: str,
        convertible: Callable[[Column, T.DataType], Column] | None = None,
        *,
        decode: Callable[[Column, T.DataType], Optional[Column]] | None = None,
        literal: Callable[[Any], Column] | None = None,
        py_decode: Callable[[Any], Any] | None = None,
    ) -> None:
        """Register a custom scalar type (reference ``registerType``,
        ``validator.hh:56-60``; example ``doc/examples/datetype.cc``).

        ``convertible`` feeds the ``type`` rule. ``decode``/``literal``
        supply the custom ordering (``types.hh:16-21`` equality/less)
        used by ``min``/``max``/``allowed``/``forbidden``: both decode
        to one orderable representation and Spark's native comparisons
        apply. ``py_decode`` registers the interpreter twin so
        meta-validation and the dynamic path accept the name too.
        At minimum one of ``convertible``/``decode`` is required.
        """
        from ..functions.sparktypes import SparkTypeAdapter

        if convertible is None:
            if decode is None:
                raise ValueError(
                    "register_spark_type needs convertible= or decode=")
            def convertible(col, dtype, _d=decode):  # noqa: E731
                dec = _d(col, dtype)
                return dec.isNotNull() if dec is not None else F.lit(False)
        self._spark_types[name] = SparkTypeAdapter(
            name, convertible, decode, literal)
        if py_decode is not None:
            from ..functions.pytypes import TypeAdapter

            self._interp.register_type(TypeAdapter(name, py_decode))
        self._plans.clear()

    # -- compilation ---------------------------------------------------
    def _opts(self) -> CompilerOpts:
        return CompilerOpts(
            presence=self.presence,
            schema_registry=self._interp.normalized_schemas()[1],
            column_rules=self._column_rules,
            spark_types=self._spark_types,
        )

    def compile(self, df_schema: T.StructType) -> "CompiledPlan":
        """The row compiles like every nested mapping (validateDict,
        ``validator.hh:302-344``); ``normalized`` is the extra columns,
        each schema field's effective value under its renamed name,
        then the unknown columns the policy keeps. Compiled on the
        first call for a schema; later calls with an equal schema
        return the same plan."""
        plan = self._plans.get(df_schema)
        if plan is not None:
            return plan
        # extra_cols are exempt from the unknown-key check only — a
        # schema rule for such a column still validates it
        exempt = frozenset(self.extra_cols) | frozenset(BOOKKEEPING_COLS)
        viols, fields = _compile_mapping(
            self.schema, row_ref(df_schema), "^", None, self._opts(),
            self._policy, exempt=exempt)
        norm_cols = [F.col(k) for k in self.extra_cols
                     if k in df_schema.fieldNames()]
        norm_cols += [ref.value.alias(name) for name, ref in fields
                      if ref.value is not None]
        if not self._policy.purge_unknown:  # a rename target is no copy
            known = exempt | set(self.schema) | {name for name, _ in fields}
            norm_cols += [F.col(k) for k in df_schema.fieldNames()
                          if k not in known]
        plan = self._plans[df_schema] = CompiledPlan(
            violations=assemble_violations(viols),
            violation_count=assemble_violation_count(viols),
            normalized_cols=tuple(norm_cols),
        )
        return plan

    # -- execution -----------------------------------------------------
    def validate(self, df: DataFrame) -> "TableValidationResult":
        """Validate ``df`` lazily. The plan is compiled once per input
        schema (:meth:`compile`); a registration clears the plans."""
        plan = self.compile(df.schema)
        # n_violations is the ALLOCATION-FREE integer form, not
        # size(violations): verdict/count jobs then never build the
        # struct array (Catalyst prunes the unused column), and the
        # violations() explode path filters on the cheap count before
        # materializing records (filter pushes through the projection)
        annotated = (
            df.withColumn("violations", plan.violations)
            .withColumn("n_violations", plan.violation_count)
            .withColumn("valid", F.col("n_violations") == 0)
        )
        return TableValidationResult(self, df, plan, annotated)


@dataclass(frozen=True)
class CompiledPlan:
    """Shared by every validation of an equal input schema, so it is
    never changed after compile."""

    violations: Column
    violation_count: Column
    normalized_cols: tuple[Column, ...]


def explode_violations(annotated: DataFrame,
                       id_cols: tuple[str, ...]) -> DataFrame:
    """One row ``(id…, path, message)`` per violation of a frame
    carrying the ``violations`` array and ``n_violations`` — shared by
    the columnar engine and the schemaless interpreter path."""
    v = F.explode(F.col("violations")).alias("v")
    return (
        annotated.where(F.col("n_violations") > 0)
        .select(*id_cols, v)
        .select(*id_cols, F.col("v.path").alias("path"),
                F.col("v.message").alias("message"))
    )


@dataclass
class TableValidationResult:
    validator: TableValidator
    source: DataFrame
    plan: CompiledPlan
    annotated: DataFrame

    def violations(self, *id_cols: str) -> DataFrame:
        """Exploded violation rows ``(id…, path, message)`` — the
        distributed analogue of the reference's error list.

        If the validated frame carries an EXPENSIVE derived column
        (``from_json``, a decode, a UDF), wrap it in
        ``functions.barrier.once_per_row`` at the source: the
        count-filter here otherwise pushes below the defining
        projection and re-evaluates the expression once per rule
        branch (measured 12× / 2.8× slower on a JSON-parsed map —
        BENCH.md §14)."""
        return explode_violations(self.annotated, id_cols)

    @property
    def normalized(self) -> DataFrame:
        """The normalized table (defaults injected, renames applied,
        unknown columns purged) — reference ``getDocument()``."""
        return self.source.select(*self.plan.normalized_cols)

    def is_valid(self) -> bool:
        """True iff NO row has violations. LIMIT-1 anti-probe: cheap
        on the clean path, early-exits on the dirty path."""
        return (
            self.annotated.where(~F.col("valid")).limit(1).count() == 0
        )

    def counts(self) -> dict[str, int]:
        row = self.annotated.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("n_violations")).alias("violations"),
            F.sum((~F.col("valid")).cast("long")).alias("invalid_rows"),
        ).collect()[0]
        return {
            "rows": row["rows"],
            "violations": int(row["violations"] or 0),
            "invalid_rows": int(row["invalid_rows"] or 0),
        }

    def partition_verdicts(self, *partition_cols: str | Column) -> DataFrame:
        """Per-partition pass/fail + metrics (north-rule ledger unit):
        one partial+final hash agg, no row data movement beyond the
        tiny aggregate."""
        return self.annotated.groupBy(*partition_cols).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_violations").alias("violations"),
            F.sum((~F.col("valid")).cast("long")).alias("invalid_rows"),
            (F.sum("n_violations") == 0).alias("passed"),
        )

    def quarantine(self) -> tuple[DataFrame, DataFrame]:
        """Production split: ``(clean, quarantined)``.

        ``clean`` = the NORMALIZED projection (defaults injected,
        renames applied, unknowns purged — reference
        ``getDocument()``) of rows with zero violations — the frame a
        pipeline writes onward. ``quarantined`` = the ORIGINAL rows
        of every failing record plus their ``violations`` array and
        ``n_violations`` — the repair/inspection input.

        Both branches filter the same single compiled pass; writing
        both sinks re-runs the narrow plan once per sink (persist
        ``.annotated`` first if the input scan is the dominant cost
        and memory allows — usually recompute wins, BENCH.md §11)."""
        clean = self.annotated.where(F.col("valid")).select(
            *self.plan.normalized_cols)
        src_cols = [F.col(c) for c in self.source.columns]
        quarantined = self.annotated.where(~F.col("valid")).select(
            *src_cols, F.col("violations"), F.col("n_violations"))
        return clean, quarantined
