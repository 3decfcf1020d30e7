"""The four benchmark workloads.

Each workload builds its input from ``(n, seed)`` on the executors,
makes its layer calls through ``call(name, fn)`` (the runner decides
whether a call is traced) and checks every output against a closed
form. Violations and hot keys are planted at ``id % k``, so the
expected values depend on ``n`` only, never on the seed; the seed
moves every unplanted value (dimensions, hashes, scores).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.dynamic.spark import validate_json
from cerberus_cpp_spark.operators.checks import (
    categorical_drift,
    column_stats,
    duplicate_keys,
    referential_violations,
)
from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.distgen import HOT_PHASH, image_caption_frame
from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES


def count_mod(n: int, k: int, r: int) -> int:
    """Number of ids in ``[0, n)`` with ``id % k == r``."""
    return (n - r + k - 1) // k if n > r else 0


@dataclass
class Outcome:
    """One operation's result: input rows, records emitted, and the
    gate's complaints (empty when every output matched)."""

    rows: int
    records: int
    errors: list[str] = field(default_factory=list)
    #: per-call ratios the traced run reports, keyed by metric name
    ratios: dict[str, float] = field(default_factory=dict)

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {got!r}, want {want!r}")


class Workload:
    #: layer calls one ``op`` makes, in order
    calls: tuple[str, ...] = ()

    def __init__(self, spark, n: int, seed: int, parts: int) -> None:
        self.spark, self.n, self.seed, self.parts = spark, n, seed, parts

    def prepare(self, call) -> None:
        """Schema meta-validation, compile and input construction."""
        raise NotImplementedError

    def op(self, call) -> Outcome:
        raise NotImplementedError

    def generate(self) -> None:
        """Generation-only job over the identical input, so the
        generator's share of an operation can be subtracted."""
        self.frame.agg(F.count(F.lit(1)),
                       F.sum(F.length(self.widest))).collect()

    def spot_check(self) -> list[str]:
        """Differential check against the pure-Python interpreter;
        returns mismatches (columnar validation workloads only)."""
        return []


class _ImageTable(Workload):
    """Shared by the two columnar validation workloads: the image +
    caption table validated with ``IMAGE_TABLE_RULES``."""

    violation_every = 100
    widest = "caption"

    def prepare(self, call) -> None:
        self.tv = TableValidator(IMAGE_TABLE_RULES, extra_cols=("id",))
        self.frame = image_caption_frame(
            self.spark, self.n, seed=self.seed,
            violation_every=self.violation_every, partitions=self.parts)
        call("interpreter.normalized_schema", lambda: self.tv.schema)
        call("compiler.compile", lambda: self.tv.compile(self.frame.schema))

    def spot_check(self, size: int = 1000) -> list[str]:
        """Re-validate ~``size`` rows (a fifth of them planted) with the
        dynamic ``Validator`` and compare verdicts and violation paths
        row by row with the columnar engine's."""
        rng = random.Random(self.seed)
        ve = self.violation_every
        ids = {rng.randrange(self.n) for _ in range(size * 4 // 5)}
        ids |= {ve * k for k in rng.sample(range(count_mod(self.n, ve, 0)),
                                           min(size // 5,
                                               count_mod(self.n, ve, 0)))}
        cols = [c for c in self.frame.columns if c != "id"]
        rows = (self.tv.validate(self.frame).annotated
                .where(F.col("id").isin(sorted(ids)))
                .select("id", *cols, "valid", "violations").collect())
        ref = Validator(Validator().normalized_schema(IMAGE_TABLE_RULES),
                        validate_schema=False)
        bad = []
        if len(rows) != len(ids):
            bad.append(f"sampled {len(rows)} rows, want {len(ids)}")
        for r in rows:
            ok = ref.validate({c: r[c] for c in cols})
            want = sorted(e.path for e in ref.errors)
            got = sorted(v["path"] for v in r["violations"] or [])
            if ok != r["valid"] or want != got:
                bad.append(f"id {r['id']}: columnar {r['valid']} {got}, "
                           f"interpreter {ok} {want}")
        return bad


class VerdictClean(_ImageTable):
    """1% planted rows; only the allocation-free verdict count runs."""

    calls = ("engine.counts",)

    def op(self, call) -> Outcome:
        c = call("engine.counts",
                 lambda: self.tv.validate(self.frame).counts())
        dirty = count_mod(self.n, self.violation_every, 0)
        out = Outcome(rows=c["rows"], records=c["violations"])
        out.expect("rows", c["rows"], self.n)
        out.expect("invalid_rows", c["invalid_rows"], dirty)
        out.expect("violations", c["violations"], dirty)
        return out


class ViolationsDirty(_ImageTable):
    """20% planted rows; violation records and both quarantine sinks."""

    violation_every = 5
    calls = ("engine.violations", "engine.quarantine")

    def op(self, call) -> Outcome:
        res = None

        def violations():
            nonlocal res
            res = self.tv.validate(self.frame)
            return res.violations("id").count()

        def quarantine():
            clean, quarantined = res.quarantine()
            counts = []
            for name, df in (("clean", clean), ("quarantined", quarantined)):
                obs = Observation(name)
                (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.format("noop").mode("overwrite").save())
                counts.append(obs.get["rows"])
            return counts

        records = call("engine.violations", violations)
        n_clean, n_quarantined = call("engine.quarantine", quarantine)
        dirty = count_mod(self.n, self.violation_every, 0)
        out = Outcome(rows=self.n, records=records)
        out.expect("violation records", records, dirty)
        out.expect("clean rows", n_clean, self.n - dirty)
        out.expect("quarantined rows", n_quarantined, dirty)
        if n_quarantined:
            out.ratios["engine.violations.records_per_dirty_row"] = (
                records / n_quarantined)
        return out


#: Schema of the generated JSON documents: nested ``schema``,
#: positional ``items``, ``keysrules``/``valuesrules``,
#: ``dependencies`` and a normalizing ``default``.
JSON_SCHEMA: dict = {
    "id": {"type": "integer", "required": True, "min": -1},
    "image": {"type": "dict", "schema": {
        "w": {"type": "integer", "min": 0, "max": 16384},
        "h": {"type": "integer", "min": 0, "max": 16384},
        "fmt": {"type": "string", "allowed": ["jpeg", "png", "webp"]},
    }},
    "caption": {"type": "string", "regex": r"[ -~]{1,512}"},
    "scores": {"type": "list", "items": [
        {"type": "integer"}, {"type": "integer"}, {"type": "float"}]},
    "counts": {"type": "dict",
               "keysrules": {"type": "string", "regex": "[a-z]+"},
               "valuesrules": {"type": "integer", "min": -1}},
    "tags": {"type": "list",
             "schema": {"type": "string",
                        "allowed": ["red", "green", "blue"]}},
    "rating": {"type": ["integer", "string"]},
    "kind": {"type": "string", "allowed": ["photo", "drawing"],
             "default": "photo"},
    "parent": {"type": "integer", "dependencies": "owner"},
    "owner": {"type": "string"},
}

#: planted families ``(k, r, what)``: each planted row carries exactly
#: one violation from its family; families on different fields add up
JSON_PLANTS = (
    (7, 3, "image is a scalar, not a dict"),
    (11, 5, "scores[1] is a string"),
    (13, 6, "counts has a key outside keysrules"),
    (17, 2, "tags has a disallowed value"),
    (19, 4, "parent without its dependency owner"),
)


def json_docs(spark, n: int, seed: int, parts: int):
    """``(id, doc)`` with one JSON document per id, built on the
    executors from the image table's columns. Shapes vary per row:
    ``image`` is a dict except on its plant rows, ``rating`` is an
    integer or a string, ``kind`` and ``parent`` are present on some
    rows only."""
    base = image_caption_frame(spark, n, seed=seed, violation_every=None,
                               partitions=parts)
    i, w, h = F.col("id"), F.col("w"), F.col("h")
    image = F.when(i % 7 == 3, F.lit('"img-ref"')).otherwise(
        F.format_string('{"w":%d,"h":%d,"fmt":"%s"}', w, h, F.col("fmt")))
    scores = F.when(i % 11 == 5, F.format_string('%d,"x",%d.5', w, h)) \
        .otherwise(F.format_string("%d,%d,%d.5", w, h, i % 10))
    counts = F.when(i % 13 == 6,
                    F.format_string('"Bad-Key":%d,"views":%d', w, h)) \
        .otherwise(F.format_string('"clicks":%d,"views":%d', w, h))
    tags = F.when(i % 17 == 2, F.lit('"red","purple"')).otherwise(
        F.element_at(F.array(F.lit('"red"'), F.lit('"green","blue"'),
                             F.lit('"blue"')), (i % 3 + 1).cast("int")))
    rating = F.when(i % 5 == 0, F.lit('"n/a"')).otherwise(
        (F.col("phash") % 5).cast("string"))
    kind = F.when(i % 3 == 1, F.lit(',"kind":"drawing"')).otherwise(F.lit(""))
    parent = (F.when(i % 19 == 4, F.lit(',"parent":7'))
              .when(i % 4 == 1, F.lit(',"parent":7,"owner":"o"'))
              .otherwise(F.lit("")))
    doc = F.format_string(
        '{"id":%d,"image":%s,"caption":"%s","scores":[%s],"counts":{%s},'
        '"tags":[%s],"rating":%s%s%s}',
        i, image, F.col("caption"), scores, counts, tags, rating, kind,
        parent)
    return base.select(i.alias("id"), doc.alias("doc"))


class SchemalessJson(Workload):
    """Heterogeneous JSON through the per-document interpreter inside
    ``mapInPandas``; the columnar compiler is bypassed."""

    calls = ("dynamic.validate_json",)
    widest = "doc"

    def prepare(self, call) -> None:
        call("interpreter.normalized_schema",
             lambda: Validator().normalized_schema(JSON_SCHEMA))
        self.frame = json_docs(self.spark, self.n, self.seed, self.parts)

    def op(self, call) -> Outcome:
        def run():
            out = validate_json(self.frame, JSON_SCHEMA, id_cols=("id",),
                                include_normalized=True)
            return out.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_violations").alias("violations"),
                F.sum((~F.col("valid")).cast("long")).alias("invalid"),
                F.sum((F.instr("normalized", '"kind":"photo"') > 0)
                      .cast("long")).alias("defaulted"),
            ).collect()[0]

        row = call("dynamic.validate_json", run)
        n = self.n
        out = Outcome(rows=row["rows"], records=int(row["violations"] or 0))
        out.expect("documents", row["rows"], n)
        out.expect("violations", out.records,
                   sum(count_mod(n, k, r) for k, r, _ in JSON_PLANTS))
        out.expect("defaulted kind", row["defaulted"], n - count_mod(n, 3, 1))
        return out


class TableChecks(Workload):
    """Dataset-level checks: aggregates, a skewed key, a shuffled
    anti-join and a snapshot drift between two id-disjoint halves."""

    calls = ("checks.column_stats", "checks.duplicate_keys",
             "checks.referential_violations", "checks.drift")
    widest = "caption"
    #: dimension rows missing from the fact table's key space
    orphan_every, orphan_at = 20, 7
    stats_cols = ("image_id", "w", "h", "fmt", "caption", "phash")

    def prepare(self, call) -> None:
        self.frame = image_caption_frame(
            self.spark, self.n, seed=self.seed, violation_every=None,
            hot_phash_every=50, partitions=self.parts)
        self.dim = (self.spark.range(0, self.n, 1, self.parts)
                    .where(F.col("id") % self.orphan_every != self.orphan_at)
                    .select(F.col("id").alias("key")))

    def op(self, call) -> Outcome:
        n, df = self.n, self.frame
        out = Outcome(rows=n, records=0)

        stats = call("checks.column_stats",
                     lambda: column_stats(df, self.stats_cols).collect())
        out.expect("stats columns", sorted(r["col_name"] for r in stats),
                   sorted(self.stats_cols))
        for r in stats:
            out.expect(f"{r['col_name']} rows", r["n_rows"], n)
            out.expect(f"{r['col_name']} nulls", r["null_count"], 0)
            if r["col_name"] == "fmt":
                out.expect("fmt range", (r["min_value"], r["max_value"]),
                           ("jpeg", "webp"))

        dups = call("checks.duplicate_keys",
                    lambda: duplicate_keys(df, "phash").collect())
        hot = count_mod(n, 50, 0)
        out.expect("duplicate keys", [(r["phash"], r["cnt"]) for r in dups],
                   [(HOT_PHASH, hot)])

        orphans = call("checks.referential_violations",
                       lambda: referential_violations(
                           df, self.dim, "id", "key",
                           broadcast_dim=False).count())
        out.expect("orphans", orphans,
                   count_mod(n, self.orphan_every, self.orphan_at))

        half = n // 2
        drift = call("checks.drift", lambda: categorical_drift(
            df.where(F.col("id") < half), df.where(F.col("id") >= half),
            "fmt").collect())
        got = sorted((r["category"], r["cnt_a"], r["cnt_b"]) for r in drift)
        want = sorted(
            (fmt, count_mod(half, 3, r),
             count_mod(n, 3, r) - count_mod(half, 3, r))
            for r, fmt in enumerate(("jpeg", "png", "webp")))
        out.expect("drift histogram", got, want)

        out.records = hot + orphans
        return out


#: name → (class, input rows per core). On a 4-core 2 GHz x86 host a
#: warm verdict_clean operation takes about 3 seconds (about 6
#: CPU-seconds of tasks plus under 1 of driver-side planning, which at
#: half this size was a third of the CPU and its noisiest part) and a
#: schemaless_json one about 2 seconds. A violations_dirty operation pays
#: about a second of planning for its three jobs whatever its size, so
#: it gets more rows, enough that per-row work outweighs the planning.
WORKLOADS = {
    "verdict_clean": (VerdictClean, 600_000),
    "violations_dirty": (ViolationsDirty, 60_000),
    "schemaless_json": (SchemalessJson, 2_500),
    "table_checks": (TableChecks, 60_000),
}
