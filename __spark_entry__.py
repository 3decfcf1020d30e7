"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship validation query;
``queries()`` exposes one callable per implemented operator
(SURVEY.md §2) and ``oracle_sql()`` the DuckDB-equivalent SQL. Column
names/types are aliased identically on both sides (the driver's
compare hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from cerberus_cpp_spark.functions.shipping import PKG_PARENT
from cerberus_cpp_spark.operators import checks
from cerberus_cpp_spark.plans.engine import TableValidator


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship validation schema over `orders` (exclusive min/max, allowed,
# full-match regex, required — the reference rule vocabulary on a real
# table). allow_unknown: uncovered columns are fine.
# ---------------------------------------------------------------------------

ORDERS_RULES: dict = {
    "o_orderkey": {"type": "integer", "required": True, "min": 0},
    "o_custkey": {"type": "integer", "required": True},
    "o_orderstatus": {"type": "string", "allowed": ["O", "F", "P"]},
    "o_totalprice": {"type": "float", "min": 0, "max": 300000},
    "o_orderpriority": {"type": "string", "regex": "[1-3]-[A-Z ]+"},
}

PART_RULES: dict = {
    "p_partkey": {"type": "integer", "required": True, "min": 0},
    "p_size": {"type": "integer", "min": 0, "max": 50},
    "p_retailprice": {"type": "float", "min": 0},
    "p_brand": {"type": "string", "regex": "Brand#[0-9]+"},
}

EMBEDDING_RULES: dict = {
    "vec_id": {"type": "integer", "required": True},
    "embedding": {"type": "list", "minlength": 64, "maxlength": 64,
                  "empty": False},
}


def q_val_orders_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = TableValidator(ORDERS_RULES, allow_unknown=True)
    res = tv.validate(_t(spark, sf_dir, "orders"))
    return res.violations("o_orderkey")


def q_quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production quarantine split (round-3): one compiled pass,
    failing ORIGINAL rows + violation metrics routed to the repair
    side, clean rows to the normalized side. The query returns the
    quarantined keys with their violation counts AND pins the split
    arithmetic inline: |clean| + |quarantined| must equal the table
    row count (raises otherwise)."""
    tv = TableValidator(ORDERS_RULES, allow_unknown=True)
    orders = _t(spark, sf_dir, "orders")
    res = tv.validate(orders)
    clean, quar = res.quarantine()
    n_clean, n_quar, n_all = (clean.count(), quar.count(),
                              orders.count())
    if n_clean + n_quar != n_all:
        raise AssertionError(
            f"quarantine split lost rows: {n_clean}+{n_quar} != {n_all}")
    return quar.select(
        "o_orderkey", F.col("n_violations").cast("int").alias("n_violations"))


def q_suggest_orders_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint SUGGESTION (deequ-style, re-expressed in the
    reference rule vocabulary — plans/suggest.py): profile orders →
    propose a rules dict (type/required/nullable/min/max/allowed,
    exclusive bounds widened; timestamp columns get NO type rule per
    the reference's documented omission, doc/index.rst:278-284).
    Inline self-consistency pin: the suggested rules must validate
    the very data they were derived from (raises otherwise). Output:
    the flattened (col_name, rule, value) triples; the oracle
    recomputes every triple from raw SQL aggregates."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate
    from cerberus_cpp_spark.plans.suggest import (
        rules_as_rows,
        suggest_rules,
    )

    orders = _t(spark, sf_dir, "orders")
    rules = suggest_rules(orders)
    tv = TableValidator(rules, allow_unknown=True)
    # fanout_gate on the self-consistency scan only: the fused
    # many-rule validation is heavy per row over a one-split raw scan
    # (ABA-measured -0.3-0.7s; the PROFILE scan is deliberately not
    # gated — see plans/suggest.py); identity at real scale
    if not tv.validate(fanout_gate(orders)).is_valid():
        raise AssertionError("suggested rules flag their own data")
    return spark.createDataFrame(
        rules_as_rows(rules), "col_name string, rule string, value string")


def q_suggest_customer_rules(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Suggestion BREADTH (round 4): the customer table exercises the
    regex-SHAPE suggestion — every c_name shares one character-class
    shape ('Customer#000000123' → 'Aaaaaaaa#999999999'), so the
    profiler proposes a full-match pattern of char-expanded classes
    (plans/suggest.py shape_of/shape_to_regex; built WITHOUT {n}
    quantifiers so the oracle rebuilds the exact string with three
    replace() calls). Also covers float bounds with the isfinite
    guard path (c_acctbal) and allowed (c_mktsegment). Inline
    self-consistency pin as for orders."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate
    from cerberus_cpp_spark.plans.suggest import (
        rules_as_rows,
        suggest_rules,
    )

    cust = _t(spark, sf_dir, "customer")
    rules = suggest_rules(cust)
    tv = TableValidator(rules, allow_unknown=True)
    # same self-consistency-scan gate as suggest_orders_rules
    if not tv.validate(fanout_gate(cust)).is_valid():
        raise AssertionError("suggested rules flag their own data")
    return spark.createDataFrame(
        rules_as_rows(rules), "col_name string, rule string, value string")


def q_suggest_robust_bounds(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Quantile ("robust") bounds (round 4): numeric min/max derive
    from the exact 1%/99% percentiles instead of observed extremes —
    the deequ-style outlier-tolerant suggestion. The percentiles are
    Spark's exact ``percentile`` aggregate inside the profile's one
    pass, so DuckDB's quantile_cont replays them bit-for-bit. Output:
    only the min/max triples (the rest of the suggestion is
    suggest_orders_rules' contract)."""
    from cerberus_cpp_spark.plans.suggest import (
        rules_as_rows,
        suggest_rules,
    )

    orders = _t(spark, sf_dir, "orders")
    rules = suggest_rules(orders, robust_bounds=(0.01, 0.99))
    rows = [t for t in rules_as_rows(rules) if t[1] in ("min", "max")]
    return spark.createDataFrame(
        rows, "col_name string, rule string, value string")


def _suggest_customer_sql() -> str:
    shape = ("translate(translate(translate(c_name,"
             "'0123456789','9999999999'),"
             "'abcdefghijklmnopqrstuvwxyz','aaaaaaaaaaaaaaaaaaaaaaaaaa'),"
             "'ABCDEFGHIJKLMNOPQRSTUVWXYZ','AAAAAAAAAAAAAAAAAAAAAAAAAA')")
    parts = []
    for c, t in [("c_custkey", "integer"), ("c_name", "string"),
                 ("c_nationkey", "integer"), ("c_acctbal", "float"),
                 ("c_mktsegment", "string")]:
        parts.append(f"SELECT '{c}' AS col_name, 'type' AS rule,"
                     f" '{t}' AS value")
        parts.append(
            f"SELECT '{c}', 'required', 'true' WHERE"
            f" (SELECT count(*) FROM customer WHERE {c} IS NULL) = 0")
        parts.append(
            f"SELECT '{c}', 'nullable', 'true' WHERE"
            f" (SELECT count(*) FROM customer WHERE {c} IS NULL) > 0")
    for c in ("c_custkey", "c_nationkey"):
        parts.append(f"SELECT '{c}', 'min',"
                     f" CAST(min({c}) - 1 AS VARCHAR) FROM customer")
        parts.append(f"SELECT '{c}', 'max',"
                     f" CAST(max({c}) + 1 AS VARCHAR) FROM customer")
    parts.append("SELECT 'c_acctbal', 'min',"
                 " CAST(floor(min(c_acctbal)) - 1.0 AS VARCHAR)"
                 " FROM customer")
    parts.append("SELECT 'c_acctbal', 'max',"
                 " CAST(floor(max(c_acctbal)) + 1.0 AS VARCHAR)"
                 " FROM customer")
    parts.append(
        "SELECT 'c_mktsegment', 'allowed',"
        " array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|')"
        " FROM customer WHERE c_mktsegment IS NOT NULL"
        " HAVING count(DISTINCT c_mktsegment) <= 16")
    # regex shape: emitted iff every non-null value shares ONE shape,
    # all values fit the 64-char gate, and no allowed rule fired
    # (c_name has ~|customers| distinct values, so it cannot)
    parts.append(
        "SELECT 'c_name', 'regex',"
        " replace(replace(replace(min(shape),'9','[0-9]'),"
        "'a','[a-z]'),'A','[A-Z]')"
        f" FROM (SELECT {shape} AS shape, c_name FROM customer"
        " WHERE c_name IS NOT NULL)"
        " HAVING min(shape) = max(shape)"
        " AND max(length(c_name)) <= 64"
        " AND (SELECT count(DISTINCT c_name) FROM customer) > 32")
    return "\nUNION ALL\n".join(parts)


def _suggest_robust_sql() -> str:
    parts = []
    for c in ("o_orderkey", "o_custkey"):
        parts.append(
            f"SELECT '{c}' AS col_name, 'min' AS rule,"
            f" CAST(CAST(floor(quantile_cont(CAST({c} AS DOUBLE),"
            f" 0.01)) AS BIGINT) - 1 AS VARCHAR) AS value FROM orders")
        parts.append(
            f"SELECT '{c}', 'max',"
            f" CAST(CAST(floor(quantile_cont(CAST({c} AS DOUBLE),"
            f" 0.99)) AS BIGINT) + 1 AS VARCHAR) FROM orders")
    parts.append(
        "SELECT 'o_totalprice', 'min',"
        " CAST(floor(quantile_cont(o_totalprice, 0.01)) - 1.0"
        " AS VARCHAR) FROM orders")
    parts.append(
        "SELECT 'o_totalprice', 'max',"
        " CAST(floor(quantile_cont(o_totalprice, 0.99)) + 1.0"
        " AS VARCHAR) FROM orders")
    return "\nUNION ALL\n".join(parts)


def _suggest_orders_sql() -> str:
    cols = [("o_orderkey", "integer"), ("o_custkey", "integer"),
            ("o_orderstatus", "string"), ("o_totalprice", "float"),
            ("o_orderdate", None), ("o_orderpriority", "string")]
    parts = []
    for c, t in cols:
        if t is not None:
            parts.append(
                f"SELECT '{c}' AS col_name, 'type' AS rule,"
                f" '{t}' AS value")
        parts.append(
            f"SELECT '{c}', 'required', 'true' WHERE"
            f" (SELECT count(*) FROM orders WHERE {c} IS NULL) = 0")
        parts.append(
            f"SELECT '{c}', 'nullable', 'true' WHERE"
            f" (SELECT count(*) FROM orders WHERE {c} IS NULL) > 0")
    for c in ("o_orderkey", "o_custkey"):
        parts.append(f"SELECT '{c}', 'min',"
                     f" CAST(min({c}) - 1 AS VARCHAR) FROM orders")
        parts.append(f"SELECT '{c}', 'max',"
                     f" CAST(max({c}) + 1 AS VARCHAR) FROM orders")
    parts.append("SELECT 'o_totalprice', 'min',"
                 " CAST(floor(min(o_totalprice)) - 1.0 AS VARCHAR)"
                 " FROM orders")
    parts.append("SELECT 'o_totalprice', 'max',"
                 " CAST(floor(max(o_totalprice)) + 1.0 AS VARCHAR)"
                 " FROM orders")
    for c in ("o_orderstatus", "o_orderpriority"):
        parts.append(
            f"SELECT '{c}', 'allowed',"
            f" array_to_string(list_sort(list(DISTINCT {c})), '|')"
            f" FROM orders WHERE {c} IS NOT NULL"
            f" HAVING count(DISTINCT {c}) <= 16")
    return "\nUNION ALL\n".join(parts)


def q_val_part_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = TableValidator(PART_RULES, allow_unknown=True)
    res = tv.validate(_t(spark, sf_dir, "part"))
    return res.annotated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_violations").alias("n_violations"),
        F.sum((~F.col("valid")).cast("long")).alias("invalid_rows"),
    )


def q_val_embeddings_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = TableValidator(EMBEDDING_RULES, allow_unknown=True)
    res = tv.validate(_t(spark, sf_dir, "embeddings"))
    return res.violations("vec_id")


def q_stats_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column distinct counts (the oracle-checkable twin of
    the HyperLogLog path in checks.column_stats)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("d_custkey"),
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_priority"),
    )


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = checks.numeric_stats(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )
    # avg/sum of fractional doubles are summation-order sensitive —
    # keep the oracle-checked projection to exact aggregates
    return df.select("col_name", "null_count", "min_value", "max_value")


def q_nullcount_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
    )


def q_dup_keys_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return checks.duplicate_keys(
        _t(spark, sf_dir, "orders"), "o_custkey",
        salt_buckets=8, salt_on="o_orderkey",
    )


def q_dup_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return checks.duplicate_rows(
        _t(spark, sf_dir, "orders"), "o_custkey"
    ).select("o_orderkey", "o_custkey")


def q_ref_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential check vs the non-negative-balance customer slice —
    forces real violations (122 negative-balance customers)."""
    orders = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") >= 0)
    return checks.referential_violations(
        orders, dim, "o_custkey", "c_custkey"
    ).select("o_orderkey", "o_custkey")


def q_ref_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return checks.referential_violations(
        li, part, "l_partkey", "p_partkey"
    ).select("l_orderkey", "l_partkey")


def q_ref_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop referential integrity supplier→nation→region
    (table-scope dependencies over the star schema): both dims are
    sliced deterministically so each hop has real violations;
    ``missing_hop`` names the first broken link. Plan: one supplier
    scan + two broadcast hash joins — no fact shuffle at any scale."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_nationkey") % 5 != 0)
    reg = _t(spark, sf_dir, "region").where(F.col("r_regionkey") != 2)
    return checks.referential_chain(
        sup,
        [(nat, "s_nationkey", "n_nationkey", "nation"),
         (reg, "n_regionkey", "r_regionkey", "region")],
    ).select("s_suppkey", "s_nationkey", "missing_hop")


def q_val_defined_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """presence='defined' over a production-shaped parquet table: a
    __defined__ bookkeeping column distinguishes ABSENT (key missing:
    required fires, nothing else) from EXPLICIT NULL (nullable:false
    AND min fire — the reference's min-fails-on-null oddity,
    rules.hh:316-336) from VALUE. Synthesis is pure event_id
    arithmetic so DuckDB reproduces the exact violation set."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("IF(event_id % 3 = 0 OR event_id % 7 = 0, NULL, value)")
        .alias("value"),
        F.expr("""IF(event_id % 3 = 0, array('event_id'),
                   array('event_id', 'value'))""").alias("__defined__"),
    )
    tv = TableValidator(
        {"value": {"type": "float", "required": True, "nullable": False,
                   "min": 100.0}},
        presence="defined", allow_unknown=True, extra_cols=("event_id",),
    )
    return tv.validate(ev).violations("event_id")


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

from cerberus_cpp_spark.operators import dedup as _dd
from cerberus_cpp_spark.operators import similarity as _sim
from cerberus_cpp_spark.operators import split as _sp
from cerberus_cpp_spark.operators import text as _tx


def _docs_doubled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ (documents with shifted ids): gives the exact-dup
    query a non-empty answer (the raw corpus is all-distinct)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tx.text_profile(_t(spark, sf_dir, "documents"))


def q_lang_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(_tx.lang_guess("text"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.exact_duplicates(_docs_doubled(spark, sf_dir))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.minhash_signatures(_t(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.jaccard_pairs(
        _t(spark, sf_dir, "documents"), min_jaccard=0.5
    ).select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")


def q_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verification. The whole
    pipeline is deterministic portable arithmetic (fixed universal-
    hash params, fixed banding), so the DuckDB oracle replays it
    EXACTLY: signatures → band keys → candidate pairs → verified
    Jaccard ≥ 0.5. max_bucket=None here because the contract data has
    no pathological buckets (the cap's semantics have their own unit
    tests)."""
    return _dd.near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.5, max_bucket=None
    )


_NTOK = "size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
_CHAIN_SB = f"greatest(cast(floor({_NTOK} / 3) as int), 1)"
_CHAIN_SC = f"greatest({_NTOK}, 1)"
_CHAIN_SUFFIX_B = (
    f"concat_ws(' ', transform(sequence(1, {_CHAIN_SB}),"
    " i -> concat('qb', doc_id, 'x', i)))"
)
_CHAIN_SUFFIX_C = (
    f"concat_ws(' ', transform(sequence(1, {_CHAIN_SC}),"
    " i -> concat('qc', doc_id, 'x', i)))"
)


def _docs_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted transitive chains a—b—c: for every tenth
    doc, b = a's text + ~n/3 unique filler tokens and c = b + n more,
    sized so J(a,b) ≥ 0.5 and J(b,c) ≥ 0.5 but J(a,c) < 0.5 for
    typical doc lengths — a and c land in one cluster only through b
    (the transitive case the clustering operator exists for)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.where("doc_id % 10 = 0")
    b = base.selectExpr(
        "doc_id + 1000000 as doc_id",
        f"concat(text, ' ', {_CHAIN_SUFFIX_B}) as text",
    )
    c = base.selectExpr(
        "doc_id + 2000000 as doc_id",
        f"concat(text, ' ', {_CHAIN_SUFFIX_B}, ' ', {_CHAIN_SUFFIX_C})"
        " as text",
    )
    return d.unionByName(b).unionByName(c)


_INC_SB = f"greatest(cast(floor({_NTOK} / 4) as int), 1)"
_INC_SUFFIX = (
    f"concat_ws(' ', transform(sequence(1, {_INC_SB}),"
    " i -> concat('qi', doc_id, 'x', i)))"
)


def _docs_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A synthetic 'today's crawl' increment: for every doc_id%7==3 a
    near-dup variant (original text + ~n/4 unique filler tokens →
    J ≈ 0.8 against its source), for every doc_id%7==5 a genuinely
    fresh 40-token doc matching nothing. Same deterministic SQL text
    construction as `_docs_chained`, so DuckDB replays it verbatim."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variant = d.where("doc_id % 7 = 3").selectExpr(
        "doc_id + 3000000 as doc_id",
        f"concat(text, ' ', {_INC_SUFFIX}) as text",
    )
    fresh = d.where("doc_id % 7 = 5").selectExpr(
        "doc_id + 4000000 as doc_id",
        "concat_ws(' ', transform(sequence(1, 40),"
        " i -> concat('zz', doc_id, 'x', i))) as text",
    )
    return variant.unionByName(fresh)


def q_incremental_near_dups(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: today's increment against the standing
    corpus (dedup.incremental_near_duplicates) — corpus MinHash
    signatures are computed once and reused per increment (stored-
    signature parity pinned in tests), candidates from ONE banded
    cross-join (never corpus×corpus), exact-Jaccard verify of
    candidate docs only. The oracle replays the ENTIRE pipeline —
    increment text construction, shingles, the 16 universal-hash
    minhash constants, 8×2 band keys, the cross candidate join, and
    the verified Jaccard — so any banding miss or hash drift desyncs
    it. Pairs are (corpus id, increment id, jaccard ≥ 0.5); the
    planted variants pair with their sources, fresh docs with
    nothing, and any accidental corpus-text match appears on both
    sides identically."""
    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inc = _docs_increment(spark, sf_dir)
    return _dd.incremental_near_duplicates(
        corpus, inc, threshold=0.5, max_bucket=None)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING (round-2 verdict item 3): complete-Jaccard
    pairs at threshold 0.5 over the planted-chain corpus → connected
    components → (doc_id, cluster_id, keep_id) survivor selection.
    The DuckDB oracle replays the same pair generation and resolves
    components with a recursive reachability query, so transitive
    chains (a-c in one cluster WITHOUT an a-c pair) are verified
    end-to-end."""
    derived = _docs_chained(spark, sf_dir)
    pairs = _dd.jaccard_pairs(derived, min_jaccard=0.5)
    return _dd.near_duplicate_clusters(pairs)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (`operators/split.py`):
    a pure per-key md5-bucket function — narrow, shuffle-free, stable
    under relayout/appends — whose arithmetic the DuckDB oracle
    replays bit-for-bit. NULL keys excluded here only because the two
    engines' NULL-handling parity is pinned separately in
    tests/test_split.py."""
    o = _t(spark, sf_dir, "orders").where("o_orderkey IS NOT NULL")
    return _sp.assign_splits(
        o, "o_orderkey", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    ).select("o_orderkey", "split")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-40-per-stratum deterministic sample: rows ranked inside
    each o_orderpriority stratum by (md5 bucket, key). Output columns
    are a subset of (strata, key), so rank ties among duplicate keys
    are output-identical — the oracle's row_number choice cannot
    diverge. The narrow fraction-based path for unbounded strata is
    covered by tests/test_split.py."""
    o = _t(spark, sf_dir, "orders").where("o_orderkey IS NOT NULL")
    return _sp.stratified_exact_sample(
        o, "o_orderpriority", 40, "o_orderkey", seed=5
    ).select("o_orderkey", "o_orderpriority")


def q_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sample (split.mixture_sample): the largest
    deterministic subset of documents whose language composition hits
    the target shares {en .4, zh .2, es .2, de .1, fr .1} —
    downsample-only, so T = min(count/p) and the binding language
    keeps 100% of itself. Fully IN-PLAN (one hash agg + one-row min
    fold + |targets|-row rate join + the md5-bucket filter — no
    driver collect), so the oracle replays counts, T, per-group
    thresholds AND the bucket predicate: row set EXACT (both engines
    share IEEE f64 expression order and the md5 arithmetic pinned in
    tests/test_split.py). Targets passed as INTEGER weights (4/2/2/1/1
    — total 10.0 is exact in f64, so each normalized share equals the
    oracle's decimal literal bit-for-bit; float weights summing to
    1.0000000000000002 would perturb thresholds by an ulp)."""
    d = _t(spark, sf_dir, "documents")
    return _sp.mixture_sample(
        d, "lang",
        {"en": 4, "zh": 2, "es": 2, "de": 1, "fr": 1},
        key="doc_id", seed=5,
    ).select("doc_id", "lang")


_MIXTURE_SAMPLE_SQL = """
WITH p AS (
  SELECT * FROM (VALUES
    ('en', CAST('0.4' AS DOUBLE)), ('zh', CAST('0.2' AS DOUBLE)),
    ('es', CAST('0.2' AS DOUBLE)), ('de', CAST('0.1' AS DOUBLE)),
    ('fr', CAST('0.1' AS DOUBLE))) v(lang, p)
),
c AS (
  SELECT d.lang, COUNT(*) AS cnt, any_value(p.p) AS p
  FROM documents d JOIN p ON d.lang = p.lang GROUP BY d.lang
),
tm AS (SELECT MIN(cnt / p) AS tv FROM c),
r AS (SELECT c.lang, tm.tv * c.p / c.cnt * 1000000 AS thr FROM c, tm)
SELECT d.doc_id, d.lang
FROM documents d JOIN r ON d.lang = r.lang
WHERE CAST(concat('0x', substr(
        md5(concat_ws(':', CAST(d.doc_id AS VARCHAR), '5')),
        1, 12)) AS BIGINT) % 1000000 < r.thr
"""


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (split.weighted_hash_sample
    — the per-row member of the sampling family): each document kept
    with probability equal to its own length-based quality proxy
    least(1, n_chars/3000). One narrow shuffle-free JVM filter, pure
    function of (key, weight) — the oracle replays the weight
    expression, the clamp, and the md5-bucket predicate, so the row
    set is EXACT."""
    d = _t(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(3000.0))
    return _sp.weighted_hash_sample(d, w, "doc_id", seed=11) \
        .select("doc_id", "n_chars")


_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars FROM documents
WHERE CAST(concat('0x', substr(
        md5(concat_ws(':', CAST(doc_id AS VARCHAR), '11')),
        1, 12)) AS BIGINT) % 1000000
      < least(greatest(least(CAST(1 AS DOUBLE),
                             n_chars / CAST(3000 AS DOUBLE)),
                       CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE))
        * 1000000
"""


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-safe dataset split: Jaccard pairs over the planted
    transitive-chain corpus → connected components → split keyed on
    coalesce(cluster_id, doc_id), so a—b—c chains (a,c linked only
    through b) land in ONE split and eval never sees a train twin.
    Oracle resolves components with a recursive reachability walk and
    replays the split arithmetic — it never assumes the plants."""
    derived = _docs_chained(spark, sf_dir)
    pairs = _dd.jaccard_pairs(derived, min_jaccard=0.5)
    clusters = _dd.near_duplicate_clusters(pairs)
    return _sp.cluster_safe_splits(
        derived, clusters, {"train": 0.9, "val": 0.1}, seed=13
    ).select("doc_id", "split_key", "split")


def q_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways over the documents table: alnum word
    tokens and the BPE-ish pre-tokenizer (GPT-2-shaped regex, the
    brief's LLM-cost proxy). The oracle runs the IDENTICAL pattern
    string through DuckDB's RE2 — lookahead-free by design so both
    engines match byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        _tx.token_count("text"),
        _tx.bpe_token_count("text"),
    )


def _token_stats_docs_sql() -> str:
    pat = _tx.BPE_ISH_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
       len(regexp_extract_all(text, '{pat}')) AS n_bpe_tokens
FROM documents
"""


# doc_id >= 0, so `%` has identical semantics in Spark SQL and
# DuckDB (pmod does not exist in DuckDB)
_PII_PLANT = """concat(text, CASE doc_id % 4
  WHEN 0 THEN concat(' contact user', doc_id,
                     '@example.com for details')
  WHEN 1 THEN ' ssn is 123-45-6789 ok'
  WHEN 2 THEN concat(' from 10.0.', doc_id % 256,
                     '.7 at 555-867-5309')
  ELSE '' END)"""


def q_pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before training (text.redact_pii): plant an
    email / SSN / (ipv4 + phone) tail on 3 of every 4 documents by
    id arithmetic, redact with the fixed-order lookahead-free
    pattern set, and emit per-kind pre-redaction counts plus the
    length AND md5 of the redacted text — so the oracle (DuckDB RE2
    replaying the IDENTICAL pattern strings and replacement order)
    verifies the full redacted byte stream, not just counts. The
    cross-engine portability contract is the one BPE_ISH_PATTERN
    established: fixed-shape patterns, no alternation, no lookahead."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate

    # fanout_gate: four sequential regexp_replace passes per row over
    # a one-split raw scan (ABA-measured 0.49s -> 0.20s; identity at
    # real scale)
    d = fanout_gate(_t(spark, sf_dir, "documents"))
    planted = d.select("doc_id", F.expr(_PII_PLANT).alias("text"))
    red = _tx.redact_pii(planted, "text")
    return red.select(
        "doc_id", "n_pii_email", "n_pii_ipv4", "n_pii_ssn",
        "n_pii_phone",
        F.length("text").alias("red_len"),
        F.md5("text").alias("red_md5"),
    )


def _pii_redact_sql() -> str:
    from cerberus_cpp_spark.operators.text import PII_PATTERNS

    kinds = ("email", "ipv4", "ssn", "phone")
    counts = ",\n       ".join(
        "len(regexp_extract_all(text, '{p}')) AS n_pii_{k}".format(
            p=PII_PATTERNS[k].replace("'", "''"), k=k)
        for k in kinds)
    red = "text"
    for k in kinds:
        red = ("regexp_replace({r}, '{p}', '[PII-{k}]', 'g')"
               .format(r=red, p=PII_PATTERNS[k].replace("'", "''"),
                       k=k))
    return f"""
WITH planted AS (
  SELECT doc_id, {_PII_PLANT} AS text FROM documents
)
SELECT doc_id,
       {counts},
       length({red}) AS red_len,
       md5({red}) AS red_md5
FROM planted
"""


# repetition plant: %3==0 gets 1-4 copies of a repeated line, %3==1
# gets a duplicated paragraph; `%` safe (doc_id >= 0, both engines)
_REP_PLANT = """CASE doc_id % 3
  WHEN 0 THEN concat(text, repeat(concat(chr(10), 'repeat me'),
                                  1 + doc_id % 4))
  WHEN 1 THEN concat(text, chr(10), chr(10), 'para dup',
                     chr(10), chr(10), 'para dup')
  ELSE text END"""


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (text.repetition_features)
    over the documents table with planted repeated lines and
    duplicated paragraphs by id arithmetic — the boilerplate /
    template-page detector length and stopword ratios cannot see.
    The oracle rebuilds the IDENTICAL array pipeline (split → trim →
    filter → distinct → top-share fold) in DuckDB list functions."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select("doc_id", F.expr(_REP_PLANT).alias("text"))
    return planted.select("doc_id", *_tx.repetition_features("text"))


def _repetition_sql() -> str:
    l = ("list_filter(list_transform(string_split(text, chr(10)),"
         " x -> trim(x)), x -> x <> '')[1:10000]")
    p = ("list_filter(list_transform(regexp_split_to_array(text,"
         " '\\n{2,}'), x -> trim(x)), x -> x <> '')")

    def dup(a: str) -> str:
        return (f"CASE WHEN len({a}) > 0 THEN"
                f" CAST(len({a}) - len(list_distinct({a})) AS DOUBLE)"
                f" / len({a}) ELSE 0.0 END")

    top = (f"CASE WHEN len({l}) > 0 THEN CAST(list_max("
           f"list_transform(list_distinct({l}), x ->"
           f" len(list_filter({l}, y -> y = x)))) AS DOUBLE)"
           f" / len({l}) ELSE 0.0 END")
    return f"""
WITH planted AS (
  SELECT doc_id, {_REP_PLANT} AS text FROM documents
)
SELECT doc_id,
       len({l}) AS n_lines,
       {dup(l)} AS dup_line_ratio,
       {top} AS top_line_share,
       {dup(p)} AS dup_para_ratio
FROM planted
"""


def q_time_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness/timeliness over the events feed
    (checks.missing_time_buckets): delete whole hours by arithmetic
    on the absolute hour id (h%50 ∈ {13,14,15} → recurring 3-hour
    outages; h%97 = 5 → scattered 1-hour holes) and detect every
    contiguous gap between the observed first and last hour. One
    distinct-bucket aggregate over the source; the run collapse
    works on the tiny bucket frame. Integer bucket ids in the output
    so engine timezone RENDERING can never skew the compare; the
    oracle replays filter, bucketing, expected-vs-observed diff, and
    the bucket − row_number() run trick."""
    ev = _t(spark, sf_dir, "events").where("ts IS NOT NULL")
    h = "floor(unix_timestamp(ts) / 3600)"
    kept = ev.where(F.expr(
        f"NOT ({h} % 50 IN (13, 14, 15) OR {h} % 97 = 5)"))
    return checks.missing_time_buckets(kept, "ts")


_TIME_GAPS_SQL = """
WITH kept AS (
  SELECT ts FROM events
  WHERE ts IS NOT NULL
    AND NOT (CAST(floor(epoch(ts) / 3600) AS BIGINT) % 50 IN (13, 14, 15)
             OR CAST(floor(epoch(ts) / 3600) AS BIGINT) % 97 = 5)
), observed AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket
  FROM kept
), bounds AS (
  SELECT min(bucket) AS lo, max(bucket) AS hi FROM observed
), expected AS (
  SELECT unnest(generate_series(lo, hi)) AS bucket FROM bounds
), missing AS (
  SELECT bucket FROM expected
  WHERE bucket NOT IN (SELECT bucket FROM observed)
), runs AS (
  SELECT bucket,
         bucket - row_number() OVER (ORDER BY bucket) AS run
  FROM missing
)
SELECT min(bucket) AS gap_start_bucket,
       max(bucket) AS gap_end_bucket,
       count(*) AS n_missing
FROM runs GROUP BY run
"""


def q_staleness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group freshness (checks.group_staleness): silence the
    'error' feed for the last 48 observed hours and 'signup' for the
    last 24 (arithmetic on the hour id relative to the corpus's
    known 2024-01-01 start, constant 473352 = epoch/3600), then
    report how far behind the table's last event each type's last
    event is. The oracle replays the filter and the max-epoch
    arithmetic."""
    ev = _t(spark, sf_dir, "events").where("ts IS NOT NULL")
    rel = "(floor(unix_timestamp(ts) / 3600) - 473352)"
    kept = ev.where(F.expr(
        f"NOT (event_type = 'error' AND {rel} >= 672)"
        f" AND NOT (event_type = 'signup' AND {rel} >= 696)"))
    return checks.group_staleness(kept, "ts", "event_type")


_STALENESS_SQL = """
WITH kept AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
  WHERE ts IS NOT NULL
    AND NOT (event_type = 'error'
             AND CAST(floor(epoch(ts) / 3600) AS BIGINT) - 473352 >= 672)
    AND NOT (event_type = 'signup'
             AND CAST(floor(epoch(ts) / 3600) AS BIGINT) - 473352 >= 696)
), per AS (
  SELECT event_type, max(ep) AS last_epoch FROM kept
  GROUP BY event_type
)
SELECT event_type, last_epoch,
       (SELECT max(last_epoch) FROM per) - last_epoch
         AS staleness_seconds
FROM per
"""


def q_volume_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-volume anomalies (checks.volume_anomalies — the partner
    of time_gaps_events: a feed that halves or 10×es without ever
    stopping leaves no gap): plant a replay storm (hours with
    h%301==7 duplicated ×5) and a sampling drought (hours with
    h%211==3 keep only event_id%5==0), then score every hourly
    count with the median/MAD robust z. The oracle replays the
    plants, the count aggregate, and the quantile/MAD/score
    arithmetic — natural hours are judged by the SAME replayed
    formula, so the row set matches exactly whatever the
    borderline hours do."""
    ev = _t(spark, sf_dir, "events").where("ts IS NOT NULL")
    h = "floor(unix_timestamp(ts) / 3600)"
    storm = ev.where(F.expr(f"{h} % 301 = 7")).crossJoin(
        spark.range(4).select(F.lit(1).alias("__r"))).drop("__r")
    drought_kept = ev.where(F.expr(
        f"NOT ({h} % 211 = 3 AND event_id % 5 != 0)"))
    planted = drought_kept.unionByName(storm)
    return checks.volume_anomalies(planted, "ts")


_VOLUME_ANOMALY_SQL = """
WITH ev AS (
  SELECT event_id, ts, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
  FROM events WHERE ts IS NOT NULL
), planted AS (
  SELECT h AS bucket FROM ev
  WHERE NOT (h % 211 = 3 AND event_id % 5 != 0)
  UNION ALL
  SELECT h FROM ev, range(4) WHERE h % 301 = 7
), counts AS (
  SELECT bucket, count(*) AS cnt FROM planted GROUP BY bucket
), med AS (
  SELECT quantile_cont(cnt, 0.5) AS med FROM counts
), mad AS (
  SELECT quantile_cont(abs(cnt - med), 0.5) AS mad FROM counts, med
)
SELECT bucket, cnt, med, mad,
       CASE WHEN mad > 0
            THEN abs(cnt - med) / (1.4826 * mad) END AS robust_z
FROM counts, med, mad
WHERE (CASE WHEN mad > 0
            THEN abs(cnt - med) / (1.4826 * mad) END > 3.5)
   OR (mad = 0 AND cnt <> med)
"""


# curation plants: %3==0 repeated lines (repetitive), else %11==5 an
# email (pii); %13==1 docs additionally get an exact duplicate copy
# under doc_id+100000 (of the ALREADY-transformed text, so the pair
# shares a fingerprint). `%` safe: doc_id >= 0 in both engines.
_CURATE_PLANT = """CASE WHEN doc_id % 3 = 0
  THEN concat(text, repeat(concat(chr(10), 'dup line'), 6))
  WHEN doc_id % 11 = 5
  THEN concat(text, ' reach me at x', cast(doc_id as string),
              '@spam.io now')
  ELSE text END"""


def q_curate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass corpus-curation verdict (text.curate_documents):
    every text filter composed into keep + machine-readable reasons
    — too_short, low_quality, repetitive, lang, pii, duplicate — the
    documents analogue of run_full_validation. Plants exercise every
    reason; the oracle recomposes the ENTIRE verdict in SQL from the
    already-proven component twins (quality/lang from text_profile's,
    repetition from repetition_docs', PII counts, md5-fingerprint
    window for survivor selection) down to the exact reasons string."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate

    # fanout_gate: the one-pass verdict folds every text filter into
    # a heavy per-row projection over a raw scan that arrives as ONE
    # split locally (ABA-measured 1.03-1.29s -> 0.89s; identity at
    # real scale)
    d = fanout_gate(_t(spark, sf_dir, "documents"))
    planted = d.select("doc_id", F.expr(_CURATE_PLANT).alias("text"))
    dups = planted.where("doc_id % 13 = 1").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = planted.unionByName(dups)
    return _tx.curate_documents(corpus)


def _curate_sql() -> str:
    toks = _TOKS
    l = ("list_filter(list_transform(string_split(text, chr(10)),"
         " x -> trim(x)), x -> x <> '')[1:10000]")
    dupr = (f"CASE WHEN len({l}) > 0 THEN"
            f" CAST(len({l}) - len(list_distinct({l})) AS DOUBLE)"
            f" / len({l}) ELSE 0.0 END")
    topr = (f"CASE WHEN len({l}) > 0 THEN CAST(list_max("
            f"list_transform(list_distinct({l}), x ->"
            f" len(list_filter({l}, y -> y = x)))) AS DOUBLE)"
            f" / len({l}) ELSE 0.0 END")
    pii = " + ".join(
        "len(regexp_extract_all(text, '{p}'))".format(
            p=_tx.PII_PATTERNS[k].replace("'", "''"))
        for k in ("email", "ipv4", "ssn", "phone"))
    hits = ",\n         ".join(
        f"{_duck_stophits(lang)} AS hits_{lang}"
        for lang in _tx.LANG_STOPWORDS)
    return f"""
WITH planted0 AS (
  SELECT doc_id, {_CURATE_PLANT} AS text FROM documents
), planted AS (
  SELECT * FROM planted0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM planted0
  WHERE doc_id % 13 = 1
), f AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS alnum,
         length(text) AS n_chars,
         {_duck_stophits('en')} AS n_stop,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fp,
         len({l}) AS n_lines,
         {dupr} AS dup_line_ratio,
         {topr} AS top_line_share,
         {pii} AS n_pii,
         {hits}
  FROM planted
), r AS (
  SELECT *,
         0.4 * least(CAST(n_tokens AS DOUBLE) / 32.0, 1.0)
         + 0.4 * least(CASE WHEN n_tokens > 0
                 THEN CAST(n_stop AS DOUBLE) / n_tokens
                 ELSE 0.0 END * 4, 1.0)
         + 0.2 * (1.0 - least(CASE WHEN n_chars > 0
                 THEN CAST(n_chars - alnum - n_spaces AS DOUBLE)
                      / n_chars ELSE 0.0 END * 5, 1.0))
           AS quality_score,
         {_duck_lang_case()} AS lang_guess,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM f
), v AS (
  SELECT *,
         concat_ws(',',
           CASE WHEN n_tokens < 5 THEN 'too_short' END,
           CASE WHEN quality_score < 0.45 THEN 'low_quality' END,
           CASE WHEN n_lines >= 5 AND (dup_line_ratio > 0.3
                OR top_line_share > 0.5) THEN 'repetitive' END,
           CASE WHEN lang_guess NOT IN ('en') THEN 'lang' END,
           CASE WHEN n_pii > 0 THEN 'pii' END,
           CASE WHEN rk > 1 THEN 'duplicate' END) AS reasons
  FROM r
)
SELECT doc_id, reasons, reasons = '' AS keep, n_tokens,
       quality_score, lang_guess, dup_line_ratio, top_line_share,
       CAST(n_pii AS INTEGER) AS n_pii
FROM v
"""


def q_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (text.ngram_contamination — the
    13-gram overlap check every LLM pipeline runs before training):
    20 synthetic eval sentences of 15 nonce tokens each
    (zq{e}w0..zq{e}w14 — alnum shapes that cannot occur in natural
    text, so accidental overlap is impossible and the oracle is pure
    arithmetic); every doc with doc_id % 7 == 2 gets eval sentence
    (doc_id % 20) appended. A 15-token sentence holds exactly 3
    distinct 13-grams, and grams spanning the splice boundary mix in
    non-eval tokens, so every planted doc reports EXACTLY 3
    contaminated grams and no clean doc reports any."""
    d = _t(spark, sf_dir, "documents")

    def sent(idc: str) -> str:
        return (f"concat_ws(' ', transform(sequence(0, 14), j ->"
                f" concat('zq', cast({idc} % 20 as string), 'w',"
                f" cast(j as string))))")

    # text IS NOT NULL on BOTH engines: Spark's concat(NULL, ...) is
    # NULL so a null-text doc would emit no grams while the count-only
    # oracle still predicted 3 (ADVICE r4 latent asymmetry).
    planted = d.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(f"CASE WHEN doc_id % 7 = 2 THEN concat(text, ' ',"
               f" {sent('doc_id')}) ELSE text END").alias("text"))
    evals = spark.range(20).select(
        F.col("id").alias("eval_id"),
        F.expr(sent("id")).alias("text"))
    return _tx.ngram_contamination(planted, evals, n=13)


_CONTAMINATION_SQL = """
SELECT doc_id, CAST(3 AS BIGINT) AS n_contaminated_grams
FROM documents WHERE doc_id % 7 = 2 AND text IS NOT NULL
"""


MP4_N = 600


def q_mp4_track_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 movie-container census (multimodal.mp4_track_frames over
    sources/isobmff.mp4_movie_info — the most common video container,
    completing the structural A/V family next to AVI, Annex-B H.264,
    ADTS, MPEG audio, and WAV): one row per track with handler,
    sample-entry codec, tkhd dims, stts sample counts, and integer
    millisecond durations, all from the moov walk with zero sample
    decode. Fixtures are spec-valid ISO 14496-12 v0 boxes built by
    id arithmetic; damage plants with CONSTANT messages (ftyp cut
    below its declared size → brand sniff fails; moov 4cc corrupted
    → 'no moov box') so the oracle replays every field including
    message text. Precedence: null > truncation > moov corruption."""
    from cerberus_cpp_spark.operators.multimodal import mp4_track_frames

    df = spark.range(0, MP4_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.isobmff import build_mp4

        vts = (30000, 25, 24000)
        vcodec = ("avc1", "hvc1", "av01")
        sts = (48000, 44100)
        scodec = ("mp4a", "opus")
        langs = ("und", "eng", "deu", "fra")
        brands = (b"isom", b"mp42", b"avc1")
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("mp4-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                tracks = []
                for k in range(1 + i % 3):
                    vide = (i + k) % 2 == 0
                    n = 30 + (i + k) % 50
                    tracks.append({
                        "track_id": k + 1,
                        "handler": "vide" if vide else "soun",
                        "codec": (vcodec[i % 3] if vide
                                  else scodec[i % 2]),
                        "timescale": (vts[i % 3] if vide
                                      else sts[i % 2]),
                        "samples": [(n, 1001 if vide else 1024)],
                        "width": 320 + 16 * (i % 5) if vide else 0,
                        "height": 180 + 9 * (i % 5) if vide else 0,
                        "lang": langs[(i + k) % 4],
                    })
                blob = build_mp4(tracks, brand=brands[i % 3])
                if i % 17 == 9:
                    blob = blob[:20]   # ftyp below declared size
                elif i % 19 == 11:
                    blob = blob.replace(b"moov", b"mooX", 1)
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return mp4_track_frames(clips)


_MP4_TRACK_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({MP4_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9 THEN 'not an mp4 movie (ftyp brand)'
              WHEN id % 19 = 11 THEN 'no moov box' END AS message
  FROM ids
),
k3 AS (SELECT unnest(range(3)) AS k),
tr AS (
  SELECT id, CAST(k AS INTEGER) AS k,
         (id + k) % 2 = 0 AS vide,
         30 + (id + k) % 50 AS n,
         CAST(1 + id % 3 AS INTEGER) AS n_tracks,
         ['und', 'eng', 'deu', 'fra'][CAST((id + k) % 4 AS INT) + 1]
           AS lang
  FROM ids, k3
  WHERE k < 1 + id % 3 AND id IN (SELECT id FROM bad
                                  WHERE message IS NULL)
),
f AS (
  SELECT id, k, n, n_tracks, lang, vide,
         CASE WHEN vide
              THEN ['avc1', 'hvc1', 'av01'][CAST(id % 3 AS INT) + 1]
              ELSE ['mp4a', 'opus'][CAST(id % 2 AS INT) + 1]
         END AS codec,
         CASE WHEN vide
              THEN [30000, 25, 24000][CAST(id % 3 AS INT) + 1]
              ELSE [48000, 44100][CAST(id % 2 AS INT) + 1]
         END AS ts,
         n * CASE WHEN vide THEN 1001 ELSE 1024 END AS dur_ts,
         CASE WHEN vide THEN 320 + 16 * (id % 5) ELSE 0 END AS w,
         CASE WHEN vide THEN 180 + 9 * (id % 5) ELSE 0 END AS h
  FROM tr
),
movie AS (
  SELECT id, max(dur_ts * 1000 // ts) AS mdur FROM f GROUP BY id
)
SELECT concat('mp4-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       CASE WHEN b.message IS NULL THEN
         ['isom', 'mp42', 'avc1'][CAST(b.id % 3 AS INT) + 1]
       END AS brand,
       CAST(m.mdur AS BIGINT) AS movie_duration_ms,
       f.n_tracks, CAST(f.k + 1 AS INTEGER) AS track_id,
       CASE WHEN f.vide THEN 'vide'
            WHEN f.vide IS NOT NULL THEN 'soun' END AS handler,
       f.codec, CAST(f.w AS INTEGER) AS width,
       CAST(f.h AS INTEGER) AS height,
       CAST(f.ts AS BIGINT) AS track_timescale,
       CAST(f.n AS BIGINT) AS n_samples,
       CAST(f.dur_ts * 1000 // f.ts AS BIGINT) AS duration_ms,
       f.lang
FROM bad b
LEFT JOIN f ON b.id = f.id
LEFT JOIN movie m ON b.id = m.id
"""


WEBM_N = 600


def q_webm_track_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM container census (multimodal.webm_track_frames
    over sources/ebml.webm_movie_info — RFC 8794 EBML + the public
    Matroska registry), the sibling of mp4_track_census for the
    other big web video container: one row per TrackEntry with type,
    CodecID, pixel dims, sampling rate/channels, language, plus
    doctype, TimestampScale, integer ms duration, and cluster count,
    all from the Segment walk with zero sample decode. Fixtures are
    spec-valid EBML built by id arithmetic; damage plants with
    CONSTANT messages (header truncation → doctype sniff fails;
    Tracks ID corrupted → 'Segment without Tracks') so the oracle
    replays every field including message text. Precedence:
    null > truncation > Tracks corruption."""
    from cerberus_cpp_spark.operators.multimodal import (
        webm_track_frames,
    )

    df = spark.range(0, WEBM_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.ebml import build_webm

        vcodec = ("V_VP9", "V_VP8", "V_AV1")
        acodec = ("A_OPUS", "A_VORBIS")
        hz = (48000.0, 44100.0)
        langs = ("und", "eng", "deu", "fra")
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("webm-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                tracks = []
                for k in range(1 + i % 3):
                    vide = (i + k) % 2 == 0
                    t = {"number": k + 1,
                         "type": "video" if vide else "audio",
                         "lang": langs[(i + k) % 4]}
                    if vide:
                        t.update(codec=vcodec[i % 3],
                                 width=320 + 16 * (i % 5),
                                 height=180 + 9 * (i % 5))
                    else:
                        t.update(codec=acodec[i % 2], hz=hz[i % 2],
                                 channels=1 + (i + k) % 2)
                    tracks.append(t)
                blob = build_webm(
                    tracks,
                    doctype="webm" if i % 2 == 0 else "matroska",
                    duration_ms=1000 + 7 * i, n_clusters=i % 4)
                if i % 17 == 9:
                    blob = blob[:10]   # EBML header truncated
                elif i % 19 == 11:
                    blob = blob.replace(b"\x16\x54\xae\x6b",
                                        b"\x16\x54\xae\x6a", 1)
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return webm_track_frames(clips)


_WEBM_TRACK_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({WEBM_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9
                THEN 'not a matroska/webm stream (EBML doctype)'
              WHEN id % 19 = 11 THEN 'Segment without Tracks'
         END AS message
  FROM ids
),
k3 AS (SELECT unnest(range(3)) AS k),
tr AS (
  SELECT id, CAST(k AS INTEGER) AS k,
         (id + k) % 2 = 0 AS vide,
         CAST(1 + id % 3 AS INTEGER) AS n_tracks,
         ['und', 'eng', 'deu', 'fra'][CAST((id + k) % 4 AS INT) + 1]
           AS lang
  FROM ids, k3
  WHERE k < 1 + id % 3 AND id IN (SELECT id FROM bad
                                  WHERE message IS NULL)
)
SELECT concat('webm-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       CASE WHEN b.message IS NULL THEN
         CASE WHEN b.id % 2 = 0 THEN 'webm' ELSE 'matroska' END
       END AS doctype,
       CASE WHEN b.message IS NULL
            THEN CAST(1000000 AS BIGINT) END AS timestamp_scale,
       CASE WHEN b.message IS NULL
            THEN CAST(1000 + 7 * b.id AS BIGINT)
       END AS movie_duration_ms,
       CASE WHEN b.message IS NULL
            THEN CAST(b.id % 4 AS INTEGER) END AS n_clusters,
       t.n_tracks, CAST(t.k + 1 AS INTEGER) AS track_number,
       CASE WHEN t.vide THEN 'video'
            WHEN t.vide IS NOT NULL THEN 'audio' END AS track_type,
       CASE WHEN t.vide
            THEN ['V_VP9', 'V_VP8', 'V_AV1'][CAST(b.id % 3 AS INT)
                                             + 1]
            WHEN t.vide IS NOT NULL
            THEN ['A_OPUS', 'A_VORBIS'][CAST(b.id % 2 AS INT) + 1]
       END AS codec,
       CASE WHEN t.vide
            THEN CAST(320 + 16 * (b.id % 5) AS INTEGER)
       END AS width,
       CASE WHEN t.vide
            THEN CAST(180 + 9 * (b.id % 5) AS INTEGER)
       END AS height,
       CASE WHEN NOT t.vide
            THEN [48000.0, 44100.0][CAST(b.id % 2 AS INT) + 1]
       END AS sampling_hz,
       CASE WHEN NOT t.vide
            THEN CAST(1 + (b.id + t.k) % 2 AS INTEGER)
       END AS channels,
       t.lang
FROM bad b
LEFT JOIN tr t ON b.id = t.id
"""


_LD_HEAD = "JOIN OUR NEWSLETTER TODAY"
_LD_FOOT = "COPYRIGHT 2026 EXAMPLE CORP"


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup — the C4 recipe
    (text.dedup_lines): a line occurring 2+ times anywhere in the
    corpus survives only at its first (doc_id, line_index)
    occurrence. The plant wraps documents in shared boilerplate
    (newsletter header on doc_id%5==0, copyright footer on both
    %5==0 and %7==0) so cross-document duplicate lines exist by
    construction; the oracle replays the plant AND the full
    dedup (window count + first-occurrence rank + ordered rebuild)
    and compares the md5 of every surviving text. Returns the
    docs that lost at least one line."""
    from cerberus_cpp_spark.operators.text import dedup_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat_ws("\n", F.lit(_LD_HEAD), F.col("text"),
                               F.lit(_LD_FOOT)))
            .when(F.col("doc_id") % 7 == 0,
                  F.concat_ws("\n", F.lit(_LD_FOOT), F.col("text")))
            .otherwise(F.col("text")),
        ).alias("text"),
    )
    out = dedup_lines(planted)
    return (
        out.where(F.col("n_removed") > 0)
        .select("doc_id", "n_lines", "n_removed",
                F.md5("text").alias("text_md5"))
    )


_LINE_DEDUP_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN doc_id % 5 = 0 THEN
                concat('{_LD_HEAD}', chr(10), text, chr(10),
                       '{_LD_FOOT}')
              WHEN doc_id % 7 = 0 THEN
                concat('{_LD_FOOT}', chr(10), text)
              ELSE text END AS text
  FROM documents
),
split AS (
  SELECT doc_id, string_split(text, chr(10)) AS l
  FROM planted WHERE text IS NOT NULL
),
lines AS (
  SELECT doc_id, unnest(l) AS line,
         unnest(generate_series(0, len(l) - 1)) AS pos
  FROM split
),
marked AS (
  SELECT doc_id, line, pos,
         count(*) OVER (PARTITION BY line) AS cnt,
         row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) AS rn
  FROM lines
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN cnt >= 2 AND rn > 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE cnt < 2 OR rn = 1), ''))
         AS text_md5
FROM marked
GROUP BY doc_id
HAVING n_removed > 0
"""


_SD_PROMO = "subscribe to our channel for weekly updates"


def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-SPAN removal — the ExactSubstr recipe
    (text.remove_repeated_spans): every 5-token window occurring 2+
    times anywhere in the corpus keeps only its first
    (doc_id, token_index) occurrence; tokens covered by any other
    occurrence are removed and the text is rebuilt. The plant
    prepends a shared 7-token promo sentence to doc_id%4==0 and
    appends it to doc_id%9==0, so cross-document duplicated spans
    exist mid-text by construction (plus whatever natural repeats
    the corpus carries — the oracle replays those identically). The
    oracle re-derives the plant, the 5-token windows, the
    first-occurrence rank, the covered-position union, and the
    ordered rebuild, comparing the md5 of every affected text.
    Returns the docs that lost at least one token."""
    from cerberus_cpp_spark.operators.text import (
        remove_repeated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat_ws(" ", F.lit(_SD_PROMO),
                               F.col("text")))
            .when(F.col("doc_id") % 9 == 0,
                  F.concat_ws(" ", F.col("text"),
                              F.lit(_SD_PROMO)))
            .otherwise(F.col("text")),
        ).alias("text"),
    )
    out = remove_repeated_spans(planted, n=5)
    return (
        out.where(F.col("n_removed") > 0)
        .select("doc_id", "n_tokens", "n_removed",
                F.md5("text").alias("text_md5"))
    )


_SPAN_DEDUP_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN doc_id % 4 = 0 THEN
                concat('{_SD_PROMO}', ' ', text)
              WHEN doc_id % 9 = 0 THEN
                concat(text, ' ', '{_SD_PROMO}')
              ELSE text END AS text
  FROM documents
),
split AS (
  SELECT doc_id, string_split(text, ' ') AS l
  FROM planted WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id, p, array_to_string(l[p + 1 : p + 5], chr(1)) AS g
  FROM (
    SELECT doc_id, l,
           unnest(generate_series(0, len(l) - 5)) AS p
    FROM split WHERE len(l) >= 5)
),
marked AS (
  SELECT doc_id, p,
         count(*) OVER (PARTITION BY g) AS cnt,
         row_number() OVER (PARTITION BY g
                            ORDER BY doc_id, p) AS rn
  FROM occ
),
removed AS (
  SELECT DISTINCT doc_id, tp FROM (
    SELECT doc_id,
           unnest(generate_series(p, p + 4)) AS tp
    FROM marked WHERE cnt >= 2 AND rn > 1)
),
toks AS (
  SELECT doc_id, unnest(l) AS tok,
         unnest(generate_series(0, len(l) - 1)) AS tp
  FROM split
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN r.tp IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.tp)
                    FILTER (WHERE r.tp IS NULL), ''))
         AS text_md5
FROM toks t
LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.tp = r.tp
GROUP BY t.doc_id
HAVING n_removed > 0
"""


#: (term, integer weight) vocabulary shared verbatim by the Spark
#: classifier and the DuckDB oracle — unigrams and bigrams over the
#: corpus's own token space, signs chosen so both labels occur
_QC_WEIGHTS: tuple[tuple[str, int], ...] = (
    ("scan", 3), ("fast", 6), ("spark", 4), ("data", 1),
    ("slow", -8), ("window", -2), ("dup", -5),
    ("sort merge", 9), ("hash join", 7), ("big data", 5),
    ("slow query", -15),
)
_QC_BIAS = 2
_QC_THRESHOLD = 0.4


def q_quality_classifier_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear bag-of-ngrams quality classifier inference
    (text.linear_quality_score — the fastText-shaped CCNet/LLaMA
    crawl filter): unigram + adjacent-bigram features over the
    module's token regex, integer weight sum (exact,
    order-independent) plus bias, length-normalized mean vs
    threshold. The vocabulary, bias, and threshold are shared
    verbatim with the oracle, which replays tokenization through
    DuckDB RE2, the bigram window, the left join, and the single
    f64 division. Returns every document's verdict row."""
    from cerberus_cpp_spark.operators.text import (
        linear_quality_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = spark.createDataFrame(
        list(_QC_WEIGHTS), "term string, weight long"
    )
    return linear_quality_score(
        docs, w, bias=_QC_BIAS, threshold=_QC_THRESHOLD
    )


def _quality_classifier_sql() -> str:
    vals = ", ".join(
        f"('{t}', {w})" for t, w in _QC_WEIGHTS
    )
    return f"""
WITH w(term, weight) AS (VALUES {vals}),
toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS u
  FROM documents WHERE text IS NOT NULL
),
terms AS (
  SELECT doc_id, unnest(u) AS term FROM toks
  UNION ALL
  SELECT doc_id, concat(u[i + 1], ' ', u[i + 2]) AS term
  FROM (
    SELECT doc_id, u,
           unnest(generate_series(0, len(u) - 2)) AS i
    FROM toks WHERE len(u) >= 2)
),
scored AS (
  SELECT t.doc_id,
         count(*) AS n_terms,
         sum(CASE WHEN w.term IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_matched,
         coalesce(sum(w.weight), 0) AS ws
  FROM terms t LEFT JOIN w ON t.term = w.term
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_terms, 0) AS BIGINT) AS n_terms,
       CAST(coalesce(s.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS BIGINT)
         AS score_sum,
       CASE WHEN coalesce(s.n_terms, 0) > 0
            THEN CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS DOUBLE)
                 / s.n_terms END AS score_mean,
       coalesce(
         (CASE WHEN coalesce(s.n_terms, 0) > 0
               THEN CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS DOUBLE)
                    / s.n_terms END) >= {_QC_THRESHOLD},
         false) AS label
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def q_vocab_topk_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-50 corpus vocabulary (text.vocab_topk): occurrence and
    document frequency of every lowercased alnum token, ranked
    1-based by (n_occ DESC, term ASC) — a deterministic tie-break
    so the row set is a pure function of the corpus. The global
    order is a per-partition top-k (TakeOrderedAndProject), never a
    full sort; the rank window sees 50 rows. The oracle replays
    tokenization, both frequencies, and the rank through DuckDB."""
    from cerberus_cpp_spark.operators.text import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, k=50)


_VOCAB_TOPK_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           AS term
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT term,
         count(*) AS n_occ,
         count(DISTINCT doc_id) AS n_docs
  FROM toks GROUP BY term
)
SELECT term,
       CAST(n_occ AS BIGINT) AS n_occ,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(row_number() OVER (ORDER BY n_occ DESC, term)
            AS INTEGER) AS rank
FROM agg
ORDER BY n_occ DESC, term
LIMIT 50
"""


def q_vocab_stats_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row corpus vocabulary summary (text.vocab_stats): total
    token occurrences, distinct types, hapax legomena, type/token
    ratio, and the top term's share — exact integers until the two
    final f64 divisions, so the oracle matches bit-for-bit."""
    from cerberus_cpp_spark.operators.text import vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_stats(docs)


_VOCAB_STATS_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           AS term
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT term, count(*) AS n_occ FROM toks GROUP BY term
)
SELECT CAST(sum(n_occ) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       CAST(count(*) AS DOUBLE) / CAST(sum(n_occ) AS BIGINT)
         AS type_token_ratio,
       CAST(max(n_occ) AS DOUBLE) / CAST(sum(n_occ) AS BIGINT)
         AS top_share
FROM agg
"""


_C4_GOOD = "this is a perfectly fine sentence with many words."
_C4_SHORT = "short line."
_C4_NOPUNCT = "no terminal punctuation in this line at all"
_C4_JS = "we use javascript to render this page sadly."


def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning recipe (text.c4_clean — Raffel et al. 2020
    §2.2): line grain keeps only trimmed lines ending in terminal
    punctuation with 5+ whitespace words and no 'javascript'; page
    grain drops documents containing curly braces, 'lorem ipsum',
    or fewer than 2 surviving lines. The plant turns each document
    into a page: the real text plus '.' as one line, a shared pool
    of pass/fail lines rotated by doc_id%4, a curly-brace arm on
    %13 and a lorem-ipsum arm on %17 — so every rule branch fires.
    The oracle replays the page construction AND the full rule set
    (list_filter over trimmed lines, the word-count split, the
    page-drop CASE, the ordered rebuild) comparing verdicts, the
    first-fail reason, and the md5 of every surviving text."""
    from cerberus_cpp_spark.operators.text import c4_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pool = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(_C4_GOOD))
        .when(F.col("doc_id") % 4 == 1, F.lit(_C4_SHORT))
        .when(F.col("doc_id") % 4 == 2, F.lit(_C4_NOPUNCT))
        .otherwise(F.lit(_C4_JS))
    )
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.when(F.col("doc_id") % 13 == 0,
                       F.lit("brace { here\n")).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 17 == 0,
                       F.lit("lorem ipsum prefix\n"))
                .otherwise(F.lit("")),
                F.col("text"), F.lit(".\n"),
                pool,
            ),
        ).alias("text"),
    )
    out = c4_clean(planted, min_kept_lines=2)
    return out.select(
        "doc_id", "n_lines", "n_kept", "dropped", "drop_reason",
        F.md5("text").alias("text_md5"),
    )


_C4_CLEAN_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE
           concat(
             CASE WHEN doc_id % 13 = 0
                  THEN 'brace {{ here' || chr(10) ELSE '' END,
             CASE WHEN doc_id % 17 = 0
                  THEN 'lorem ipsum prefix' || chr(10)
                  ELSE '' END,
             text, '.', chr(10),
             CASE WHEN doc_id % 4 = 0 THEN '{_C4_GOOD}'
                  WHEN doc_id % 4 = 1 THEN '{_C4_SHORT}'
                  WHEN doc_id % 4 = 2 THEN '{_C4_NOPUNCT}'
                  ELSE '{_C4_JS}' END)
         END AS text
  FROM documents
),
marked AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN NULL
              ELSE string_split(text, chr(10)) END AS l,
         CASE WHEN text IS NULL THEN NULL ELSE
           list_filter(
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)),
             x -> regexp_matches(x, '[.!?"]$')
                  AND len(regexp_split_to_array(x, '[ \\t\\n\\f\\r]+')) >= 5
                  AND NOT contains(lower(x), 'javascript'))
         END AS kept
  FROM planted
),
verdict AS (
  SELECT doc_id,
         coalesce(len(l), 0) AS n_lines,
         coalesce(len(kept), 0) AS n_kept,
         CASE WHEN text IS NULL THEN 'null_text'
              WHEN contains(text, '{{') OR contains(text, '}}')
                THEN 'curly_brace'
              WHEN contains(lower(text), 'lorem ipsum')
                THEN 'lorem_ipsum'
              WHEN len(kept) < 2 THEN 'too_few_lines'
         END AS drop_reason,
         kept
  FROM marked
)
SELECT doc_id,
       CAST(n_lines AS INTEGER) AS n_lines,
       CAST(n_kept AS INTEGER) AS n_kept,
       drop_reason IS NOT NULL AS dropped,
       drop_reason,
       md5(CASE WHEN drop_reason IS NULL
                THEN array_to_string(kept, chr(10)) END)
         AS text_md5
FROM verdict
"""


def q_gopher_filter_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Gopher quality rule set (text.gopher_quality_filter —
    Rae et al. 2021 §A1.1) with thresholds tuned to the corpus so
    both verdicts occur: word count >= 30, symbol ratio <= 0.1,
    bullet-line fraction <= 0.5, ellipsis-line fraction <= 0.3,
    alpha-word fraction >= 0.8, >= 1 distinct stopword. The plant
    appends a hash-symbol run on doc_id%6, two bullet lines on
    %10, and an ellipsis line on %15, so the symbol, bullet, and
    ellipsis rules all fire on disjoint-ish arms while word-count
    and stopword verdicts ride the real text. The oracle replays
    the plant and EVERY counter (whitespace words, non-space char
    total, hash + non-overlapping ellipsis occurrences, trimmed
    non-empty lines, bullet/ellipsis line regexes, alpha words,
    word-boundary stopword hits), every f64 ratio, and the ordered
    fail_reasons string."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate
    from cerberus_cpp_spark.operators.text import (
        gopher_quality_filter,
    )

    docs = fanout_gate(spark.read.parquet(
        f"{sf_dir}/documents.parquet"))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 6 == 0,
                       F.lit(" ### ## #")).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.lit("\n• bullet item one\n• bullet item two"),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 15 == 0,
                    F.lit("\ntrailing thought goes on ..."),
                ).otherwise(F.lit("")),
            ),
        ).alias("text"),
    )
    return gopher_quality_filter(
        planted,
        min_words=30,
        max_bullet_frac=0.5,
        min_stop_hits=1,
    )


def _gopher_filter_sql() -> str:
    stop_sum = " + ".join(
        "CASE WHEN regexp_matches(lower(text),"
        f" '\\b{s}\\b') THEN 1 ELSE 0 END"
        for s in (
            "the", "be", "to", "of", "and", "that", "have", "with",
        )
    )
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE
           concat(text,
             CASE WHEN doc_id % 6 = 0 THEN ' ### ## #'
                  ELSE '' END,
             CASE WHEN doc_id % 10 = 0 THEN
               chr(10) || '• bullet item one' ||
               chr(10) || '• bullet item two' ELSE '' END,
             CASE WHEN doc_id % 15 = 0 THEN
               chr(10) || 'trailing thought goes on ...'
               ELSE '' END)
         END AS text
  FROM documents
),
counters AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')), 0)
           AS n_words,
         coalesce(length(regexp_replace(text, '[ \\t\\n\\f\\r]+', '', 'g')),
                  0) AS word_chars,
         coalesce(len(regexp_extract_all(text, '#'))
                  + len(regexp_extract_all(
                        text, '(\\.\\.\\.|…)')), 0) AS n_symbols,
         coalesce(len(list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> trim(x)),
           x -> x <> '')), 0) AS n_lines,
         coalesce(len(list_filter(
           list_filter(
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)),
             x -> x <> ''),
           x -> regexp_matches(x, '^[•\\-*]'))), 0)
           AS n_bullet_lines,
         coalesce(len(list_filter(
           list_filter(
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)),
             x -> x <> ''),
           x -> regexp_matches(x, '(\\.\\.\\.|…)$'))), 0)
           AS n_ellipsis_lines,
         coalesce(len(list_filter(
           regexp_extract_all(text, '[^ \\t\\n\\f\\r]+'),
           w -> regexp_matches(w, '[A-Za-z]'))), 0)
           AS n_alpha_words,
         coalesce(CASE WHEN text IS NULL THEN 0
                       ELSE {stop_sum} END, 0) AS n_stop_hits
  FROM planted
),
derived AS (
  SELECT doc_id, n_words, n_stop_hits,
         CASE WHEN n_words > 0 THEN
           CAST(word_chars AS DOUBLE) / n_words END
           AS mean_word_len,
         CASE WHEN n_words > 0 THEN
           CAST(n_symbols AS DOUBLE) / n_words END
           AS symbol_word_ratio,
         CASE WHEN n_lines > 0 THEN
           CAST(n_bullet_lines AS DOUBLE) / n_lines END
           AS bullet_line_frac,
         CASE WHEN n_lines > 0 THEN
           CAST(n_ellipsis_lines AS DOUBLE) / n_lines END
           AS ellipsis_line_frac,
         CASE WHEN n_words > 0 THEN
           CAST(n_alpha_words AS DOUBLE) / n_words END
           AS alpha_word_frac,
         n_lines
  FROM counters
),
reasons AS (
  SELECT *,
    coalesce(array_to_string(list_filter([
      CASE WHEN n_words = 0 THEN 'no_words' END,
      CASE WHEN n_words > 0 AND (n_words < 30
                OR n_words > 100000) THEN 'word_count' END,
      CASE WHEN n_words > 0 AND (mean_word_len < 3.0
                OR mean_word_len > 10.0)
           THEN 'mean_word_len' END,
      CASE WHEN n_words > 0 AND symbol_word_ratio > 0.1
           THEN 'symbol_ratio' END,
      CASE WHEN n_words > 0 AND n_lines > 0
                AND bullet_line_frac > 0.5
           THEN 'bullet_lines' END,
      CASE WHEN n_words > 0 AND n_lines > 0
                AND ellipsis_line_frac > 0.3
           THEN 'ellipsis_lines' END,
      CASE WHEN n_words > 0 AND alpha_word_frac < 0.8
           THEN 'alpha_words' END,
      CASE WHEN n_words > 0 AND n_stop_hits < 1
           THEN 'stopwords' END
    ], x -> x IS NOT NULL), ','), '') AS fail_reasons
  FROM derived
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       mean_word_len, symbol_word_ratio, bullet_line_frac,
       ellipsis_line_frac, alpha_word_frac,
       CAST(n_stop_hits AS INTEGER) AS n_stop_hits,
       fail_reasons = '' AS passed,
       fail_reasons
FROM reasons
"""


_BPE_K = 6
#: fixed merge table for the segmentation query, shared verbatim
#: with its oracle (training-order replay)
_BPE_FIXED: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("i", "n"), ("o", "n"),
)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (text.bpe_train — Sennrich et al.
    2016): learn 6 merge rules from the documents corpus. One
    corpus scan builds the word-frequency table; every round then
    runs on the persisted vocabulary-sized frame — adjacent-pair
    counts weighted by word frequency, global top-1 with the
    (count DESC, left ASC, right ASC) tie-break, greedy
    left-to-right merge application via the wrapped-string replace
    mechanics. The oracle replays ALL SIX training rounds unrolled
    in SQL (the same chr(2) wrapping, the same replace), so the
    learned merge table is compared rule-for-rule including
    counts."""
    from cerberus_cpp_spark.operators.text import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=_BPE_K)
    return spark.createDataFrame(
        merges,
        "step int, lhs string, rhs string, merged string,"
        " pair_count long",
    )


def _bpe_merges_sql(k: int = _BPE_K) -> str:
    parts = ["""
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
             AS word
    FROM documents WHERE text IS NOT NULL) GROUP BY word
),
s0 AS (
  SELECT cnt,
         array_to_string(list_transform(string_split(word, ''),
            c -> chr(2) || c || chr(2)), '') AS state
  FROM w
)"""]
    for i in range(1, k + 1):
        parts.append(f""",
p{i} AS (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT cnt,
           unnest(syms[1:len(syms) - 1]) AS l,
           unnest(syms[2:len(syms)]) AS r
    FROM (SELECT cnt,
                 string_split(state[2:len(state) - 1],
                              chr(2) || chr(2)) AS syms
          FROM s{i - 1})
    WHERE len(syms) >= 2
  ) GROUP BY l, r
),
b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
s{i} AS (
  SELECT cnt,
         replace(state,
                 chr(2) || b.l || chr(2) || chr(2) || b.r || chr(2),
                 chr(2) || b.l || b.r || chr(2)) AS state
  FROM s{i - 1}, b{i} b
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS step, l AS lhs, r AS rhs,"
        f" l || r AS merged, c AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + selects


def q_bpe_segment_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE segmentation (text.bpe_segment): apply a fixed 6-rule
    merge table to every document in training order — one
    shuffle-free codegen projection (the replace chain lives inside
    a transform over the token array). Returns per-document subword
    count and the md5 of the space-joined subword stream; the
    oracle replays the identical wrapped-string replace chain."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate
    from cerberus_cpp_spark.operators.text import bpe_segment

    # fanout_gate: the per-token replace chain is heavy per row and
    # the raw scan is ONE split locally (ABA-measured 0.88-1.08s ->
    # 0.33s; identity at real scale)
    docs = fanout_gate(spark.read.parquet(
        f"{sf_dir}/documents.parquet"))
    sub = F.col("subwords")
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", bpe_segment("text", _BPE_FIXED))
        .select(
            "doc_id",
            F.size(sub).alias("n_subwords"),
            F.md5(F.concat_ws(" ", sub)).alias("subwords_md5"),
        )
    )


def _bpe_segment_sql() -> str:
    chain = "array_to_string(list_transform(string_split(word, '')," \
            " c -> chr(2) || c || chr(2)), '')"
    for l, r in _BPE_FIXED:
        chain = (
            f"replace({chain},"
            f" chr(2) || '{l}' || chr(2) || chr(2) || '{r}' || chr(2),"
            f" chr(2) || '{l}{r}' || chr(2))"
        )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           AS word,
         unnest(generate_series(1, len(regexp_extract_all(
           lower(text), '[a-z0-9]+')))) AS pos
  FROM documents WHERE text IS NOT NULL
),
seg AS (
  SELECT doc_id, pos,
         string_split(({chain})[2:len({chain}) - 1],
                      chr(2) || chr(2)) AS syms
  FROM toks
),
flat AS (
  SELECT doc_id,
         CAST(coalesce(sum(len(syms)), 0) AS INTEGER)
           AS n_subwords,
         md5(coalesce(string_agg(array_to_string(syms, ' '), ' '
                                 ORDER BY pos), ''))
           AS subwords_md5
  FROM seg GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(f.n_subwords, 0) AS n_subwords,
       coalesce(f.subwords_md5, md5('')) AS subwords_md5
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN flat f ON d.doc_id = f.doc_id
"""


def q_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END curation showcase composing this round's whole
    operator family: the C4 page plant -> text.c4_clean (line +
    page rules, survivors only) -> text.gopher_quality_filter over
    the CLEANED text (word count >= 20, >= 1 stopword, the other
    Gopher defaults) gating the corpus -> text.remove_repeated_spans
    (n=5) across the surviving documents (the planted shared line
    is exactly the viral boilerplate the span dedup exists for) ->
    text.linear_quality_score with the shared vocabulary. The
    oracle replays EVERY stage in SQL — the plant, both rule sets,
    the first-occurrence span removal, the classifier sums — down
    to the md5 of each final text. Returns one row per surviving
    document.

    The gated corpus and the deduped corpus are WRITTEN TO PARQUET
    stage boundaries (a per-call temp dir) and read back: the span
    dedup references its input three times and the final verdict
    join twice more, so without a materialization barrier the
    expensive clean+gate projection would re-run ~18x (measured).
    Parquet, not .persist(): a cached frame has no unpersist point
    in a lazily-returned query (the leak would pin executor storage
    for the rest of the session), and writing stage boundaries is
    exactly what the production 100 TB run does anyway."""
    from cerberus_cpp_spark.operators.text import (
        c4_clean,
        gopher_quality_filter,
        linear_quality_score,
        remove_repeated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pool = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(_C4_GOOD))
        .when(F.col("doc_id") % 4 == 1, F.lit(_C4_SHORT))
        .when(F.col("doc_id") % 4 == 2, F.lit(_C4_NOPUNCT))
        .otherwise(F.lit(_C4_JS))
    )
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.when(F.col("doc_id") % 13 == 0,
                       F.lit("brace { here\n")).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 17 == 0,
                       F.lit("lorem ipsum prefix\n"))
                .otherwise(F.lit("")),
                F.col("text"), F.lit(".\n"),
                pool,
            ),
        ).alias("text"),
    )
    from cerberus_cpp_spark.functions.barrier import once_per_row

    # barrier on the c4-cleaned text: CollapseProject + filter
    # pushdown would otherwise inline the whole line-rule rebuild
    # expression into every gopher counter AND the passed filter
    # (the q_dynamic_props from_json blowup; measured 1.8s -> 0.7s
    # for the gate stage at sf0.1)
    cleaned = (
        c4_clean(planted, min_kept_lines=2)
        .where(~F.col("dropped"))
        .select("doc_id", once_per_row(F.col("text")).alias("text"))
    )
    gate = gopher_quality_filter(
        cleaned, min_words=20, min_stop_hits=1
    ).where(F.col("passed")).select("doc_id")
    import tempfile

    stage_dir = tempfile.mkdtemp(prefix="curation_stages_")
    # REBALANCE before each stage write (guide §6): AQE sizes the
    # write tasks from the actual surviving bytes, so the stage dirs
    # hold a few right-sized files instead of one near-empty file
    # per upstream task at every scale
    cleaned.join(gate, "doc_id").hint("rebalance") \
        .write.mode("overwrite").parquet(f"{stage_dir}/gated")
    gated = spark.read.parquet(f"{stage_dir}/gated")
    remove_repeated_spans(gated, n=5).hint("rebalance") \
        .write.mode("overwrite").parquet(f"{stage_dir}/deduped")
    deduped = spark.read.parquet(f"{stage_dir}/deduped")
    w = spark.createDataFrame(
        list(_QC_WEIGHTS), "term string, weight long"
    )
    scored = linear_quality_score(
        deduped, w, bias=_QC_BIAS, threshold=_QC_THRESHOLD
    )
    return (
        deduped.join(scored, "doc_id")
        .select(
            "doc_id", "n_tokens", "n_removed",
            "score_sum", "score_mean", "label",
            F.md5("text").alias("text_md5"),
        )
    )


def _curation_pipeline_sql() -> str:
    vals = ", ".join(f"('{t}', {w})" for t, w in _QC_WEIGHTS)
    stop_or = " OR ".join(
        f"regexp_matches(lower(text), '\\b{s}\\b')"
        for s in (
            "the", "be", "to", "of", "and", "that", "have", "with",
        )
    )
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE
           concat(
             CASE WHEN doc_id % 13 = 0
                  THEN 'brace {{ here' || chr(10) ELSE '' END,
             CASE WHEN doc_id % 17 = 0
                  THEN 'lorem ipsum prefix' || chr(10)
                  ELSE '' END,
             text, '.', chr(10),
             CASE WHEN doc_id % 4 = 0 THEN '{_C4_GOOD}'
                  WHEN doc_id % 4 = 1 THEN '{_C4_SHORT}'
                  WHEN doc_id % 4 = 2 THEN '{_C4_NOPUNCT}'
                  ELSE '{_C4_JS}' END)
         END AS text
  FROM documents
),
c4kept AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> trim(x)),
           x -> regexp_matches(x, '[.!?"]$')
                AND len(regexp_split_to_array(x, '[ \\t\\n\\f\\r]+')) >= 5
                AND NOT contains(lower(x), 'javascript'))
           AS kept
  FROM planted
  WHERE text IS NOT NULL
    AND NOT contains(text, '{{') AND NOT contains(text, '}}')
    AND NOT contains(lower(text), 'lorem ipsum')
),
cleaned AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS text
  FROM c4kept WHERE len(kept) >= 2
),
gophered AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) AS n_words,
         length(regexp_replace(text, '[ \\t\\n\\f\\r]+', '', 'g'))
           AS word_chars,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '(\\.\\.\\.|…)'))
           AS n_symbols,
         len(list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> trim(x)), x -> x <> ''))
           AS n_lines,
         len(list_filter(list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> trim(x)), x -> x <> ''),
           x -> regexp_matches(x, '^[•\\-*]')))
           AS n_bullet_lines,
         len(list_filter(list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> trim(x)), x -> x <> ''),
           x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
           AS n_ellipsis_lines,
         len(list_filter(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+'),
                         w -> regexp_matches(w, '[A-Za-z]')))
           AS n_alpha_words,
         CASE WHEN {stop_or} THEN 1 ELSE 0 END AS any_stop
  FROM cleaned
),
gated AS (
  SELECT doc_id, text FROM gophered
  WHERE n_words >= 20 AND n_words <= 100000
    AND CAST(word_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
    AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
    AND (n_lines = 0 OR
         CAST(n_bullet_lines AS DOUBLE) / n_lines <= 0.9)
    AND (n_lines = 0 OR
         CAST(n_ellipsis_lines AS DOUBLE) / n_lines <= 0.3)
    AND CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8
    AND any_stop >= 1
),
split AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM gated
),
occ AS (
  SELECT doc_id, p,
         array_to_string(l[p + 1 : p + 5], chr(1)) AS g
  FROM (SELECT doc_id, l,
               unnest(generate_series(0, len(l) - 5)) AS p
        FROM split WHERE len(l) >= 5)
),
marked AS (
  SELECT doc_id, p,
         count(*) OVER (PARTITION BY g) AS cnt,
         row_number() OVER (PARTITION BY g
                            ORDER BY doc_id, p) AS rn
  FROM occ
),
removed AS (
  SELECT DISTINCT doc_id, tp FROM (
    SELECT doc_id, unnest(generate_series(p, p + 4)) AS tp
    FROM marked WHERE cnt >= 2 AND rn > 1)
),
toks AS (
  SELECT doc_id, unnest(l) AS tok,
         unnest(generate_series(0, len(l) - 1)) AS tp
  FROM split
),
deduped AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN r.tp IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_removed,
         coalesce(string_agg(t.tok, ' ' ORDER BY t.tp)
                  FILTER (WHERE r.tp IS NULL), '') AS text
  FROM toks t
  LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.tp = r.tp
  GROUP BY t.doc_id
),
w(term, weight) AS (VALUES {vals}),
qtoks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS u
  FROM deduped
),
terms AS (
  SELECT doc_id, unnest(u) AS term FROM qtoks
  UNION ALL
  SELECT doc_id, concat(u[i + 1], ' ', u[i + 2]) AS term
  FROM (SELECT doc_id, u,
               unnest(generate_series(0, len(u) - 2)) AS i
        FROM qtoks WHERE len(u) >= 2)
),
scored AS (
  SELECT t.doc_id,
         count(*) AS n_terms,
         coalesce(sum(w.weight), 0) AS ws
  FROM terms t LEFT JOIN w ON t.term = w.term
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.n_tokens, d.n_removed,
       CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS BIGINT)
         AS score_sum,
       CASE WHEN coalesce(s.n_terms, 0) > 0
            THEN CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS DOUBLE)
                 / s.n_terms END AS score_mean,
       coalesce(
         (CASE WHEN coalesce(s.n_terms, 0) > 0
               THEN CAST(coalesce(s.ws, 0) + {_QC_BIAS} AS DOUBLE)
                    / s.n_terms END) >= {_QC_THRESHOLD},
         false) AS label,
       md5(d.text) AS text_md5
FROM deduped d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


_CMS_W, _CMS_D = 64, 3


def q_cms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (sketch.cms_sketch / cms_estimate —
    Cormode & Muthukrishnan 2005): a fixed 3x64-cell mergeable
    frequency summary of events.user_id built in one
    partially-aggregated scan, then every distinct key
    point-estimated from the sketch and joined against its exact
    count — est >= true always (CMS never underestimates), and the
    deliberately small width makes real collisions (overcount > 0)
    appear in the result. The md5 cell hashing is the repo's
    portable bucket recipe, so the oracle replays the sketch build,
    the min-over-rows estimate, and the overcounts exactly."""
    from cerberus_cpp_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = cms_sketch(ev, "user_id", width=_CMS_W, depth=_CMS_D)
    keys = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    est = cms_estimate(
        sk, keys.select("user_id"), "user_id",
        width=_CMS_W, depth=_CMS_D,
    )
    return (
        keys.join(est, "user_id")
        .select(
            "user_id", "est", "true_cnt",
            (F.col("est") - F.col("true_cnt")).alias("overcount"),
        )
    )


_CMS_SQL = f"""
WITH ds AS (SELECT unnest([0, 1, 2]) AS d),
keys AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
cells AS (
  SELECT e.user_id, ds.d,
         CAST(concat('0x', substr(md5(concat(
           CAST(e.user_id AS VARCHAR), ':', '0', ':',
           CAST(ds.d AS VARCHAR))), 1, 12)) AS BIGINT)
           % {_CMS_W} AS cell
  FROM events e, ds WHERE e.user_id IS NOT NULL
),
sketch AS (
  SELECT d, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY d, cell
),
kcells AS (
  SELECT k.user_id, ds.d,
         CAST(concat('0x', substr(md5(concat(
           CAST(k.user_id AS VARCHAR), ':', '0', ':',
           CAST(ds.d AS VARCHAR))), 1, 12)) AS BIGINT)
           % {_CMS_W} AS cell
  FROM keys k, ds
),
est AS (
  SELECT user_id, min(coalesce(s.cnt, 0)) AS est
  FROM kcells LEFT JOIN sketch s USING (d, cell)
  GROUP BY user_id
)
SELECT k.user_id, e.est, k.true_cnt,
       e.est - k.true_cnt AS overcount
FROM keys k JOIN est e USING (user_id)
"""


_ROBOTS_AGENT = "cerbot/1.0"
#: constant robots.txt bodies; host h{k}.example.com gets body k,
#: h4 has NO robots row (allow-all default)
_ROBOTS_BODIES: tuple[str, ...] = (
    "# site 0\nUser-agent: cerbot\nDisallow: /private/*\n"
    "Allow: /private/public$\nCrawl-delay: 2\n\n"
    "User-agent: *\nDisallow: /tmp\n",
    "User-agent: *\nDisallow: /\nAllow: /pub/*\n",
    "User-agent: cer\nDisallow: /deep/*\nAllow: /deep/a/*\n"
    "Disallow: /*?sid=*\n\n"
    "User-agent: *\nDisallow: /never\n",
    "# comments only\n# nothing to see\n",
)


def q_robots_audit_urls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crawl-policy audit (url.robots_audit + sources/robots.py —
    the pinned RFC 9309 / REP contract): four constant robots.txt
    bodies are parsed by the REAL parser inside the Arrow rules
    stage (group selection for 'cerbot/1.0' exercises exact-token,
    substring-token, and * groups), URLs derived from doc_id
    arithmetic walk every rule shape (wildcard, $-anchored allow
    exception, longest-match, allow-wins-ties, bare prefix, no
    group, no robots row, NULL/unparsable URLs). The oracle carries
    the rule table DERIVED FROM THE SAME BODIES at SQL-build time
    (parse + group-select + regex translation run once in Python —
    a parser snapshot pin: any parser regression desyncs the Spark
    side from the frozen oracle) and replays the host join, the
    per-candidate regex match, and the (plen, allow, pattern)
    winner fold."""
    from cerberus_cpp_spark.operators.url import robots_audit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    path = (
        F.when(i % 7 == 0, F.concat(F.lit("/private/x"),
                                    i.cast("string")))
        .when((i % 7 == 1) & (i % 2 == 1),
              F.lit("/private/public?sid=9"))
        .when(i % 7 == 1, F.lit("/private/public"))
        .when(i % 7 == 2, F.concat(F.lit("/pub/a"),
                                   i.cast("string")))
        .when(i % 7 == 3, F.lit(""))
        .when(i % 7 == 4, F.lit("/tmpfile"))
        .when(i % 7 == 5, F.concat(F.lit("/deep/a/b"),
                                   i.cast("string")))
        .otherwise(F.lit("/never/mind"))
    )
    urls = docs.select(
        F.when(i % 13 == 12, F.lit(None).cast("string"))
        .when(i % 11 == 10, F.lit("not a url"))
        .otherwise(
            F.concat(F.lit("https://h"), (i % 5).cast("string"),
                     F.lit(".example.com"), path)
        ).alias("url")
    )
    robots = spark.createDataFrame(
        [(f"h{k}.example.com", body)
         for k, body in enumerate(_ROBOTS_BODIES)],
        "host string, robots_txt string",
    )
    return robots_audit(urls, robots, agent=_ROBOTS_AGENT)


def _robots_audit_sql() -> str:
    from cerberus_cpp_spark.sources.robots import (
        parse_robots,
        rule_regex,
        select_group,
    )

    rows = []
    for k, body in enumerate(_ROBOTS_BODIES):
        g = select_group(parse_robots(body), _ROBOTS_AGENT)
        if g is None:
            continue
        for allow, pat in g.rules:
            rx = rule_regex(pat)  # SQL '...' literals keep backslashes
            rows.append(
                f"('h{k}.example.com', {str(allow).lower()},"
                f" '{pat}', '{rx}', {len(pat)})"
            )
    vals = ",\n         ".join(rows)
    return f"""
WITH urls AS (
  SELECT CASE
           WHEN doc_id % 13 = 12 THEN NULL
           WHEN doc_id % 11 = 10 THEN 'not a url'
           ELSE concat('https://h', CAST(doc_id % 5 AS VARCHAR),
                       '.example.com',
             CASE
               WHEN doc_id % 7 = 0 THEN
                 concat('/private/x', CAST(doc_id AS VARCHAR))
               WHEN doc_id % 7 = 1 AND doc_id % 2 = 1
                 THEN '/private/public?sid=9'
               WHEN doc_id % 7 = 1 THEN '/private/public'
               WHEN doc_id % 7 = 2 THEN
                 concat('/pub/a', CAST(doc_id AS VARCHAR))
               WHEN doc_id % 7 = 3 THEN ''
               WHEN doc_id % 7 = 4 THEN '/tmpfile'
               WHEN doc_id % 7 = 5 THEN
                 concat('/deep/a/b', CAST(doc_id AS VARCHAR))
               ELSE '/never/mind' END)
         END AS url
  FROM documents
),
rules(host, allow, pattern, regex, plen) AS (
  VALUES {vals}
),
pages AS (
  SELECT url,
         CASE WHEN lower(regexp_extract(url,
                '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)',
                1)) = '' THEN NULL
              ELSE lower(regexp_extract(url,
                '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)',
                1)) END AS host,
         CASE WHEN lower(regexp_extract(url,
                '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)',
                1)) = '' THEN NULL
              WHEN regexp_extract(url,
                '^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
                THEN '/'
              ELSE regexp_extract(url,
                '^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)', 1)
         END AS path
  FROM urls
),
ranked AS (
  SELECT p.url, r.allow, r.pattern,
         row_number() OVER (
           PARTITION BY p.url
           ORDER BY r.plen DESC, r.allow DESC, r.pattern DESC
         ) AS rn
  FROM (SELECT DISTINCT url, host, path
        FROM pages WHERE host IS NOT NULL) p
  JOIN rules r ON p.host = r.host
  WHERE regexp_matches(p.path, r.regex)
),
best AS (
  SELECT url, allow, pattern FROM ranked WHERE rn = 1
)
SELECT p.url, p.host, p.path,
       coalesce(b.allow, true) AS allowed,
       b.pattern AS matched_pattern
FROM pages p LEFT JOIN best b ON p.url = b.url
"""


_HLL_M = 64


def q_hll_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (sketch.hll_sketch / hll_estimate — Flajolet et
    al. 2007, the north-star's named approx-distinct sketch) at
    register grain over events.user_id: two independent md5 48-bit
    hashes (register mod m, leading-zero rank from the zero-padded
    binary string), per-register max in one partially-aggregated
    scan, and the raw alpha_m*m^2 estimate computed from an exact
    INTEGER harmonic denominator in units of 2^-49 — no float ever
    accumulates, so the oracle replays every number bit-for-bit
    including the single f64 division. The true distinct count
    rides along for context."""
    from cerberus_cpp_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = hll_estimate(
        hll_sketch(ev, "user_id", m=_HLL_M), m=_HLL_M
    )
    true = ev.where(F.col("user_id").isNotNull()).agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    return est.crossJoin(true)


def _hll_events_sql() -> str:
    from cerberus_cpp_spark.operators.sketch import _hll_alpha

    m = _HLL_M
    num = float(_hll_alpha(m) * m * m) * float(1 << 49)
    return f"""
WITH hashed AS (
  SELECT
    CAST(concat('0x', substr(md5(concat('r', ':',
      CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      % {m} AS reg,
    CAST(concat('0x', substr(md5(concat('w', ':',
      CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      AS w
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT reg,
         max(CASE WHEN w = 0 THEN 49
                  ELSE strpos(lpad(bin(w), 48, '0'), '1')
             END) AS rho
  FROM hashed GROUP BY reg
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_set,
         CAST(coalesce(sum(CAST(1 AS BIGINT) << (49 - rho)), 0)
              AS BIGINT) AS present
  FROM regs
)
SELECT CAST({m} AS INTEGER) AS m,
       CAST(n_set AS INTEGER) AS n_set,
       CAST({m} - n_set AS INTEGER) AS n_zero,
       present + ({m} - n_set) * (CAST(1 AS BIGINT) << 49)
         AS denom,
       {num!r} / CAST(present + ({m} - n_set)
                      * (CAST(1 AS BIGINT) << 49) AS DOUBLE)
         AS estimate,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
        FROM events WHERE user_id IS NOT NULL) AS true_distinct
FROM agg
"""


_KMV_K = 64


def q_kmv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k sketches (sketch.kmv_sketch / kmv_estimate /
    kmv_jaccard — Bar-Yossef et al. 2002, Beyer et al. 2007): two
    overlapping event snapshots (event_id%3 != 0 vs != 1) sketch
    their user_id sets as the 64 smallest md5 hashes; per-snapshot
    distinct-count estimates ((k-1)*2^48/kth, or exact below k) and
    the cross-snapshot Jaccard estimate (membership of the merged
    bottom-k in both inputs — set overlap WITHOUT joining raw
    data) ride next to the exact truths. Every number is integer
    until one f64 division, so the oracle replays the hashing, the
    bottom-k cuts, the membership counts, and the divisions
    bit-for-bit. At sf0.001 the snapshots sit below k (the exact
    regime); at sf0.01 above it (the estimation regime) — both
    code paths land in the driver gate."""
    from cerberus_cpp_spark.operators.sketch import (
        kmv_estimate,
        kmv_jaccard,
        kmv_sketch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.where(F.col("event_id") % 3 != 0)
    b = ev.where(F.col("event_id") % 3 != 1)
    ska = kmv_sketch(a, "user_id", k=_KMV_K)
    skb = kmv_sketch(b, "user_id", k=_KMV_K)
    ea = kmv_estimate(ska, k=_KMV_K).select(
        F.col("estimate").alias("est_a"))
    eb = kmv_estimate(skb, k=_KMV_K).select(
        F.col("estimate").alias("est_b"))
    j = kmv_jaccard(ska, skb, k=_KMV_K)
    ua = a.where(F.col("user_id").isNotNull()) \
        .select("user_id").distinct()
    ub = b.where(F.col("user_id").isNotNull()) \
        .select("user_id").distinct()
    ta = ua.agg(F.count(F.lit(1)).alias("true_a"))
    tb = ub.agg(F.count(F.lit(1)).alias("true_b"))
    ti = ua.join(ub, ua["user_id"] == ub["user_id"]) \
        .agg(F.count(F.lit(1)).alias("_ti"))
    tu = ua.unionByName(ub).distinct().agg(
        F.count(F.lit(1)).alias("_tu"))
    return (
        ea.crossJoin(eb).crossJoin(j)
        .crossJoin(ta).crossJoin(tb)
        .crossJoin(ti).crossJoin(tu)
        .select(
            "est_a", "est_b", "n_union_sample", "n_both",
            "jaccard", "true_a", "true_b",
            (F.col("_ti").cast("double") / F.col("_tu"))
            .alias("true_jaccard"),
        )
    )


def _kmv_events_sql() -> str:
    k = _KMV_K
    num = float(k - 1) * float(1 << 48)
    hash_sql = (
        "CAST(concat('0x', substr(md5(concat('kmv', ':', "
        "CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)"
    )
    return f"""
WITH ea AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND event_id % 3 <> 0
),
eb AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND event_id % 3 <> 1
),
ska AS (
  SELECT DISTINCT {hash_sql} AS h FROM ea ORDER BY h LIMIT {k}
),
skb AS (
  SELECT DISTINCT {hash_sql} AS h FROM eb ORDER BY h LIMIT {k}
),
mrg AS (
  SELECT DISTINCT h FROM (
    SELECT h FROM ska UNION ALL SELECT h FROM skb)
  ORDER BY h LIMIT {k}
),
jac AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union_sample,
         CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM mrg m
  LEFT JOIN ska a ON m.h = a.h
  LEFT JOIN skb b ON m.h = b.h
),
esta AS (SELECT count(*) AS n, max(h) AS kth FROM ska),
estb AS (SELECT count(*) AS n, max(h) AS kth FROM skb),
truth AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ea) AS true_a,
         (SELECT CAST(count(*) AS BIGINT) FROM eb) AS true_b,
         (SELECT count(*) FROM
            (SELECT user_id FROM ea
             INTERSECT SELECT user_id FROM eb)) AS ti,
         (SELECT count(*) FROM
            (SELECT user_id FROM ea
             UNION SELECT user_id FROM eb)) AS tu
)
SELECT CASE WHEN esta.n < {k} THEN CAST(esta.n AS DOUBLE)
            ELSE {num!r} / CAST(esta.kth AS DOUBLE) END AS est_a,
       CASE WHEN estb.n < {k} THEN CAST(estb.n AS DOUBLE)
            ELSE {num!r} / CAST(estb.kth AS DOUBLE) END AS est_b,
       jac.n_union_sample, jac.n_both,
       CAST(jac.n_both AS DOUBLE) / jac.n_union_sample AS jaccard,
       truth.true_a, truth.true_b,
       CAST(truth.ti AS DOUBLE) / truth.tu AS true_jaccard
FROM esta, estb, jac, truth
"""


def q_numeric_hist_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact equi-width histogram (checks.numeric_histogram) of
    l_extendedprice in 24 bins with in-plan exact bounds (min/max
    aggregate cross-joined, zero driver round-trips): integer
    counts, IEEE-f64 bin edges, NULL/NaN/inf excluded. The oracle
    replays the bounds, the width, the floor/clamp bin assignment,
    and the edge arithmetic bit-for-bit."""
    from cerberus_cpp_spark.operators.checks import (
        numeric_histogram,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return numeric_histogram(li, "l_extendedprice", bins=24)


_NUMERIC_HIST_SQL = """
WITH f AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND isfinite(CAST(l_extendedprice AS DOUBLE))
),
b AS (SELECT min(x) AS lo, max(x) AS hi FROM f),
binned AS (
  SELECT CAST(CASE WHEN b.lo = b.hi THEN 0
              ELSE least(23, greatest(0,
                floor((x - b.lo) / ((b.hi - b.lo) / 24.0))))
         END AS INTEGER) AS bin,
         b.lo, b.hi
  FROM f, b
)
SELECT bin,
       lo + bin * ((hi - lo) / 24.0) AS lo_edge,
       lo + (bin + 1) * ((hi - lo) / 24.0) AS hi_edge,
       CAST(count(*) AS BIGINT) AS cnt
FROM binned GROUP BY bin, lo, hi
"""


def q_hll_hourly_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-hour HLL distinct-user estimates (sketch.hll_sketch /
    hll_estimate with by=('hour',)): ONE partially-aggregated scan
    yields every hour's register table (at most groups*m partials
    per task), then the estimate rows per hour — the time axis of
    the monitoring loop, each number integer-exact until its single
    f64 division so the oracle replays all hours bit-for-bit."""
    from cerberus_cpp_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    )
    sk = hll_sketch(ev, "user_id", m=32, by=("hour",))
    return hll_estimate(sk, m=32, by=("hour",))


def _hll_hourly_sql() -> str:
    from cerberus_cpp_spark.operators.sketch import _hll_alpha

    m = 32
    num = float(_hll_alpha(m) * m * m) * float(1 << 49)
    return f"""
WITH hashed AS (
  SELECT date_trunc('hour', ts) AS hour,
    CAST(concat('0x', substr(md5(concat('r', ':',
      CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      % {m} AS reg,
    CAST(concat('0x', substr(md5(concat('w', ':',
      CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      AS w
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT hour, reg,
         max(CASE WHEN w = 0 THEN 49
                  ELSE strpos(lpad(bin(w), 48, '0'), '1')
             END) AS rho
  FROM hashed GROUP BY hour, reg
),
agg AS (
  SELECT hour,
         CAST(count(*) AS BIGINT) AS n_set,
         CAST(coalesce(sum(CAST(1 AS BIGINT) << (49 - rho)), 0)
              AS BIGINT) AS present
  FROM regs GROUP BY hour
)
SELECT hour,
       CAST({m} AS INTEGER) AS m,
       CAST(n_set AS INTEGER) AS n_set,
       CAST({m} - n_set AS INTEGER) AS n_zero,
       present + ({m} - n_set) * (CAST(1 AS BIGINT) << 49)
         AS denom,
       {num!r} / CAST(present + ({m} - n_set)
                      * (CAST(1 AS BIGINT) << 49) AS DOUBLE)
         AS estimate
FROM agg
"""


def q_img_phash_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_star's 'phash-based uniqueness + approx-distinct
    via HyperLogLog' sentence made literal, per image format: one
    partially-aggregated scan of the synthetic input_hint table
    yields per-fmt HLL register tables over phash (by=('fmt',)),
    the per-fmt raw estimates ride next to the exact distinct
    counts (the id%50 hot-phash plant visibly collapses distincts
    below row counts), and the oracle regenerates the frame with
    identical integer arithmetic and replays registers, exact
    denominators, and the single f64 division per format."""
    from cerberus_cpp_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )
    from cerberus_cpp_spark.sources.distgen import (
        image_caption_frame,
    )

    df = image_caption_frame(spark, VAL_IMAGES_N)
    sk = hll_sketch(df, "phash", m=64, by=("fmt",))
    est = hll_estimate(sk, m=64, by=("fmt",))
    true = df.groupBy("fmt").agg(
        F.count_distinct("phash").alias("true_distinct"))
    return est.join(true, "fmt")


def _img_phash_hll_sql() -> str:
    from cerberus_cpp_spark.operators.sketch import _hll_alpha

    m = 64
    num = float(_hll_alpha(m) * m * m) * float(1 << 49)
    return f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {VAL_IMAGES_N})
),
t AS (
  SELECT CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 2
              THEN 'heif'
              ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1]
         END AS fmt,
         CASE WHEN id % 50 = 0 THEN {0x5A5A5A5A5A5A5A5A}
              ELSE mix END AS phash
  FROM g
),
hashed AS (
  SELECT fmt,
    CAST(concat('0x', substr(md5(concat('r', ':',
      CAST(phash AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      % {m} AS reg,
    CAST(concat('0x', substr(md5(concat('w', ':',
      CAST(phash AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)
      AS w
  FROM t
),
regs AS (
  SELECT fmt, reg,
         max(CASE WHEN w = 0 THEN 49
                  ELSE strpos(lpad(bin(w), 48, '0'), '1')
             END) AS rho
  FROM hashed GROUP BY fmt, reg
),
agg AS (
  SELECT fmt,
         CAST(count(*) AS BIGINT) AS n_set,
         CAST(coalesce(sum(CAST(1 AS BIGINT) << (49 - rho)), 0)
              AS BIGINT) AS present
  FROM regs GROUP BY fmt
),
truth AS (
  SELECT fmt, CAST(count(DISTINCT phash) AS BIGINT)
           AS true_distinct
  FROM t GROUP BY fmt
)
SELECT a.fmt,
       CAST({m} AS INTEGER) AS m,
       CAST(n_set AS INTEGER) AS n_set,
       CAST({m} - n_set AS INTEGER) AS n_zero,
       present + ({m} - n_set) * (CAST(1 AS BIGINT) << 49)
         AS denom,
       {num!r} / CAST(present + ({m} - n_set)
                      * (CAST(1 AS BIGINT) << 49) AS DOUBLE)
         AS estimate,
       truth.true_distinct
FROM agg a JOIN truth ON a.fmt = truth.fmt
"""


def q_lm_coverage_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reference-corpus bigram coverage (text.lm_coverage — the
    integer-exact core of a CCNet-style LM quality gate): even
    doc_ids are the trusted reference, odd doc_ids are scored
    against it with min_count=2, so rare reference grams drop out
    and both known and unknown grams occur. Every counter is exact
    and the two ratios are single f64 divisions; the oracle replays
    tokenization, the bigram window, the reference frequency table,
    and the per-document fold with string grams (the same
    int64-hash / replay-as-strings contract dup_gram_docs pins)."""
    from cerberus_cpp_spark.operators.text import lm_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    scored = docs.where(F.col("doc_id") % 2 == 1)
    return lm_coverage(scored, ref, n=2, min_count=2)


_LM_COVERAGE_SQL = """
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS u
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, concat(u[i + 1], ' ', u[i + 2]) AS g
  FROM (SELECT doc_id, u,
               unnest(generate_series(0, len(u) - 2)) AS i
        FROM toks WHERE len(u) >= 2)
),
freq AS (
  SELECT g, CAST(count(*) AS BIGINT) AS rc
  FROM grams WHERE doc_id % 2 = 0
  GROUP BY g HAVING count(*) >= 2
),
scored AS (
  SELECT d.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN f.rc IS NOT NULL THEN 1 ELSE 0 END)
           AS n_known,
         coalesce(sum(f.rc), 0) AS rcsum
  FROM (SELECT * FROM grams WHERE doc_id % 2 = 1) d
  LEFT JOIN freq f ON d.g = f.g
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_known, 0) AS BIGINT) AS n_known,
       CASE WHEN coalesce(s.n_grams, 0) > 0 THEN
         CAST(s.n_known AS DOUBLE) / s.n_grams END AS coverage,
       CASE WHEN coalesce(s.n_grams, 0) > 0 THEN
         CAST(s.rcsum AS DOUBLE) / s.n_grams END
         AS mean_ref_count
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def q_kmv_set_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV set algebra (sketch.kmv_set_ops): union / intersection /
    both directed differences of the two event-snapshot user sets
    estimated from the same bottom-64 sketches kmv_events uses —
    the 'how many users are new, how many vanished' accounting
    without joining raw data, next to the exact truths. Membership
    counts are exact integers; every estimate is the union's KMV
    cardinality scaled by a membership share (one f64 chain the
    oracle replays bit-for-bit). At sf0.001 the sketches sit below
    k (everything exact end-to-end); at sf0.01 above it."""
    from cerberus_cpp_spark.operators.sketch import (
        kmv_set_ops,
        kmv_sketch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.where(F.col("event_id") % 3 != 0)
    b = ev.where(F.col("event_id") % 3 != 1)
    est = kmv_set_ops(
        kmv_sketch(a, "user_id", k=_KMV_K),
        kmv_sketch(b, "user_id", k=_KMV_K),
        k=_KMV_K,
    )
    ua = a.where(F.col("user_id").isNotNull()) \
        .select("user_id").distinct()
    ub = b.where(F.col("user_id").isNotNull()) \
        .select("user_id").distinct()
    ti = ua.join(ub, "user_id").agg(
        F.count(F.lit(1)).alias("true_inter"))
    tu = ua.unionByName(ub).distinct().agg(
        F.count(F.lit(1)).alias("true_union"))
    return est.crossJoin(ti).crossJoin(tu)


def _kmv_set_events_sql() -> str:
    k = _KMV_K
    num = float(k - 1) * float(1 << 48)
    hash_sql = (
        "CAST(concat('0x', substr(md5(concat('kmv', ':', "
        "CAST(user_id AS VARCHAR), ':', '0')), 1, 12)) AS BIGINT)"
    )
    return f"""
WITH ea AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND event_id % 3 <> 0
),
eb AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND event_id % 3 <> 1
),
ska AS (
  SELECT DISTINCT {hash_sql} AS h FROM ea ORDER BY h LIMIT {k}
),
skb AS (
  SELECT DISTINCT {hash_sql} AS h FROM eb ORDER BY h LIMIT {k}
),
mrg AS (
  SELECT DISTINCT h FROM (
    SELECT h FROM ska UNION ALL SELECT h FROM skb)
  ORDER BY h LIMIT {k}
),
marked AS (
  SELECT m.h, a.h IS NOT NULL AS ina, b.h IS NOT NULL AS inb
  FROM mrg m
  LEFT JOIN ska a ON m.h = a.h
  LEFT JOIN skb b ON m.h = b.h
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         max(h) AS kth,
         CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a_only,
         CAST(sum(CASE WHEN NOT ina AND inb THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b_only
  FROM marked
),
est AS (
  SELECT *,
         CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
              ELSE {num!r} / CAST(kth AS DOUBLE) END AS union_est
  FROM agg
),
truth AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT user_id FROM ea
             INTERSECT SELECT user_id FROM eb)) AS true_inter,
         (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT user_id FROM ea
             UNION SELECT user_id FROM eb)) AS true_union
)
SELECT e.union_est,
       e.union_est * (CAST(e.n_both AS DOUBLE) / e.n)
         AS inter_est,
       e.union_est * (CAST(e.n_a_only AS DOUBLE) / e.n)
         AS a_only_est,
       e.union_est * (CAST(e.n_b_only AS DOUBLE) / e.n)
         AS b_only_est,
       e.n AS n_union_sample,
       e.n_both, e.n_a_only, e.n_b_only,
       truth.true_inter, truth.true_union
FROM est e, truth
"""


_HTML_GAUNTLET = (" &amp; x&lt;y &gt;z &quot;q&quot; &#39;s&#39;"
                  "&nbsp;end")


def q_html_strip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawled-HTML cleaning (text.strip_html — the deterministic
    regexp pipeline: drop script/style/comment blocks, strip tags,
    decode the six common entities, collapse whitespace): the plant
    wraps every doc_id%3==0 document in markup whose script body
    contains '<' comparisons and quoted tags (the classic naive-
    stripper traps) plus an entity gauntlet; the oracle replays the
    plant and the SAME shared pattern tables
    (text.HTML_STRIP_STEPS / HTML_ENTITIES) through DuckDB RE2 and
    compares the md5 of every cleaned string plus raw/clean
    lengths."""
    from cerberus_cpp_spark.operators.text import strip_html

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = docs.where((F.col("doc_id") % 3 == 0)
                     & F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p{margin:0}</style>"
                  "<script>if(1<2){x=\"<p>\"}</script></head>"
                  "<body><!-- hidden <b>note</b> --><h1>"),
            F.col("lang"),
            F.lit("</h1>\n<p>"),
            F.col("text"),
            F.lit("</p>" + _HTML_GAUNTLET + "</body></html>"),
        ).alias("text"),
    )
    return raw.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length(strip_html("text")).alias("n_chars_clean"),
        F.md5(strip_html("text")).alias("clean_md5"),
    )


def _html_strip_sql() -> str:
    from cerberus_cpp_spark.operators.text import (
        HTML_ENTITIES,
        HTML_STRIP_STEPS,
    )

    expr = "text"
    for pat, rep in HTML_STRIP_STEPS:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{ch_sql}')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    gauntlet = _HTML_GAUNTLET.replace("'", "''")
    return f"""
WITH raw AS (
  SELECT doc_id,
         concat('<html><head><style>p{{margin:0}}</style>',
                '<script>if(1<2){{x="<p>"}}</script></head>',
                '<body><!-- hidden <b>note</b> --><h1>', lang,
                '</h1>', chr(10), '<p>', text,
                '</p>{gauntlet}</body></html>') AS text
  FROM documents
  WHERE doc_id % 3 = 0 AND text IS NOT NULL
)
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars_raw,
       CAST(length({expr}) AS INTEGER) AS n_chars_clean,
       md5({expr}) AS clean_md5
FROM raw
"""


COMP_N = 600


def q_compression_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-payload census with REAL stdlib decode
    (multimodal.compression_census over
    sources/compression.decompress_bounded): gzip/zlib/bzip2/xz
    streams are actually decompressed (through the zip-bomb budget)
    and fingerprinted; zstd is sniffed but honestly gated on the
    absent decoder. The oracle regenerates the identical plaintext
    per id, so n_raw and the md5 of the DECOMPRESSED bytes are
    replayed exactly — the decode itself is verified, not just the
    framing. Damage plants with CONSTANT message classes: null,
    magic flip (unknown format), truncation (corrupt), appended
    junk (trailing garbage); zstd outranks truncation/trailing
    because the gate fires before decode. Compressed sizes are
    codec-version-dependent and deliberately NOT part of the
    contract columns."""
    from cerberus_cpp_spark.operators.multimodal import (
        compression_census,
    )

    df = spark.range(0, COMP_N, 1, 8)

    def gen(batches):
        import bz2
        import gzip
        import lzma
        import zlib

        import pandas as pd

        enc = (gzip.compress, zlib.compress, bz2.compress,
               lzma.compress)
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("pay-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                if i % 5 == 4:
                    blob = b"\x28\xb5\x2f\xfd" + b"\x00" * 32
                else:
                    raw = ("lorem-%d " % i) * (50 + i % 30)
                    blob = enc[i % 5](raw.encode())
                if i % 17 == 9:
                    blob = bytes([blob[0] ^ 0xFF]) + blob[1:]
                elif i % 19 == 11:
                    blob = blob[:-5]
                elif i % 13 == 5:
                    blob = blob + b"JUNKJUNK"
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return compression_census(clips).select(
        "clip_id", "ok", "message", "fmt", "n_raw", "raw_md5")


_COMPRESSION_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({COMP_N})),
v AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9 THEN 'unknown compression format'
              WHEN id % 5 = 4 THEN 'zstd: no decoder available'
              WHEN id % 19 = 11 THEN 'truncated or corrupt stream'
              WHEN id % 13 = 5
                THEN 'trailing garbage after stream end'
         END AS message,
         repeat(concat('lorem-', CAST(id AS VARCHAR), ' '),
                CAST(50 + id % 30 AS BIGINT)) AS raw
  FROM ids
)
SELECT concat('pay-', lpad(CAST(id AS VARCHAR), 8, '0'))
         AS clip_id,
       message IS NULL AS ok, message,
       CASE WHEN message IS NULL THEN
         ['gzip', 'zlib', 'bzip2', 'xz'][CAST(id % 5 AS INT) + 1]
       END AS fmt,
       CASE WHEN message IS NULL
            THEN CAST(length(raw) AS BIGINT) END AS n_raw,
       CASE WHEN message IS NULL THEN md5(raw) END AS raw_md5
FROM v
"""


#: the driver's correctness sweep runs at sf0.01 — parquet_metadata
#: oracles must read the SAME files the Spark side is handed, so the
#: path resolves from the harness env var when set (the local pytest
#: harness runs at sf0.001 and pins it in conftest) and falls back to
#: the driver's sf0.01
def _oracle_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_SF_DIR_SMALL",
                          "/root/testdata/sf0.01")

_TABLES = ("region", "nation", "customer", "supplier", "part",
           "orders", "lineitem", "events", "documents",
           "embeddings")


def _table_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        [(f"{sf_dir}/{t}.parquet",) for t in _TABLES],
        "path string")


def q_parquet_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet layout audit (operators/layout.parquet_layout):
    distributed FOOTER-ONLY reads over the table manifest — one row
    per (file, row group, column chunk) with codec, value/null
    counts, statistics presence (the row-group-pruning
    prerequisite) and compressed/uncompressed bytes. At 100 TB the
    scan-throughput killers are layout defects (tiny row groups,
    statless columns, uncompressed chunks), and this audit prices a
    petabyte in megabytes of I/O. ORACLE: DuckDB's own
    parquet_metadata() — a second, unrelated footer parser reading
    the SAME files; field-for-field equality is the strongest
    oracle class in the repo."""
    from cerberus_cpp_spark.operators.layout import parquet_layout

    return parquet_layout(_table_paths(spark, sf_dir))


def _parquet_layout_sql() -> str:
    return f"""
SELECT regexp_extract(file_name, '[^/]+$') AS file_name,
       TRUE AS ok, CAST(NULL AS VARCHAR) AS message,
       CAST(row_group_id AS INTEGER) AS row_group_id,
       CAST(row_group_num_rows AS BIGINT) AS row_group_rows,
       replace(path_in_schema, ', ', '.') AS path_in_schema,
       compression,
       CAST(num_values AS BIGINT) AS n_values,
       CAST(stats_null_count AS BIGINT) AS null_count,
       stats_null_count IS NOT NULL
         OR stats_min_value IS NOT NULL AS has_stats,
       CAST(total_compressed_size AS BIGINT) AS compressed_bytes,
       CAST(total_uncompressed_size AS BIGINT) AS uncompressed_bytes
FROM parquet_metadata('{_oracle_sf_dir()}/*.parquet')
"""


def q_parquet_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE layout health report
    (operators/layout.parquet_layout_report): row counts, row-group
    count and minimum size, small-row-group count (the canonical
    write-path defect), bytes, compression ratio, the codec census
    (CSV so the value hash is engine-neutral), and statless-chunk
    count. The oracle re-derives the SAME aggregate from DuckDB's
    parquet_metadata()."""
    from cerberus_cpp_spark.operators.layout import (
        parquet_layout_report,
    )

    rep = parquet_layout_report(_table_paths(spark, sf_dir),
                                min_row_group_rows=100_000)
    return rep.select(
        "file_name", "ok", "n_row_groups", "n_rows",
        "min_row_group_rows", "n_small_row_groups",
        "compressed_bytes", "uncompressed_bytes",
        "compression_ratio",
        F.array_join("codecs", ",").alias("codecs_csv"),
        "n_statless_chunks")


def _parquet_report_sql() -> str:
    return f"""
WITH chunks AS (
  SELECT regexp_extract(file_name, '[^/]+$') AS file_name,
         row_group_id, row_group_num_rows, compression,
         total_compressed_size, total_uncompressed_size,
         (stats_null_count IS NOT NULL
          OR stats_min_value IS NOT NULL) AS has_stats
  FROM parquet_metadata('{_oracle_sf_dir()}/*.parquet')
),
rg AS (
  SELECT file_name, row_group_id,
         any_value(row_group_num_rows) AS rows,
         sum(total_compressed_size) AS cbytes,
         sum(total_uncompressed_size) AS ubytes,
         sum(CASE WHEN has_stats THEN 0 ELSE 1 END) AS statless
  FROM chunks GROUP BY file_name, row_group_id
),
codecs AS (
  SELECT file_name,
         array_to_string(list_sort(list_distinct(
           list(DISTINCT compression))), ',') AS codecs_csv
  FROM chunks GROUP BY file_name
)
SELECT r.file_name, TRUE AS ok,
       CAST(count(*) AS INTEGER) AS n_row_groups,
       CAST(sum(rows) AS BIGINT) AS n_rows,
       CAST(min(rows) AS BIGINT) AS min_row_group_rows,
       CAST(sum(CASE WHEN rows < 100000 THEN 1 ELSE 0 END)
            AS INTEGER) AS n_small_row_groups,
       CAST(sum(cbytes) AS BIGINT) AS compressed_bytes,
       CAST(sum(ubytes) AS BIGINT) AS uncompressed_bytes,
       CAST(sum(ubytes) AS DOUBLE) / CAST(sum(cbytes) AS DOUBLE)
         AS compression_ratio,
       any_value(c.codecs_csv) AS codecs_csv,
       CAST(sum(statless) AS BIGINT) AS n_statless_chunks
FROM rg r JOIN codecs c ON r.file_name = c.file_name
GROUP BY r.file_name
"""


URL_N = 2000


def _url_plant(spark: SparkSession) -> DataFrame:
    """Planted URL corpus shared by url_profile and domain_mix.
    The generator is NESTED so cloudpickle ships it by value — a
    module-level function would be pickled as a reference to
    __spark_entry__, which executors cannot import when the driver
    runs from a neutral cwd."""

    def gen(batches):
        import pandas as pd

        schemes = ("https", "http", "ftp")
        tlds = ("com", "org", "co.uk")
        for pdf in batches:
            ids, urls = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append(i)
                if i % 13 == 7:
                    urls.append(None)
                    continue
                if i % 11 == 5:
                    urls.append("not a url %d" % i)
                    continue
                u = schemes[i % 3] + "://"
                if i % 4 == 1:
                    u += "u:p@"
                u += "s%d.example%d.%s" % (i % 50, i % 7,
                                           tlds[i % 3])
                if i % 5 == 0:
                    u += ":8080"
                u += "/seg" * (i % 4)
                if i % 6 == 2:
                    u += "//"
                u += ("?a=1&b=2", "", "?x")[i % 3]
                if i % 8 == 3:
                    u += "#frag"
                urls.append(u)
            yield pd.DataFrame({"doc_id": ids, "url": urls})

    return spark.range(0, URL_N, 1, 8).mapInPandas(
        gen, schema="doc_id long, url string")


#: the plant replayed in SQL — shared by both URL oracles
_URL_PLANT_SQL = f"""
  SELECT range AS doc_id,
         CASE
           WHEN range % 13 = 7 THEN NULL
           WHEN range % 11 = 5
             THEN concat('not a url ', CAST(range AS VARCHAR))
           ELSE concat(
             ['https', 'http', 'ftp'][CAST(range % 3 AS INT) + 1],
             '://',
             CASE WHEN range % 4 = 1 THEN 'u:p@' ELSE '' END,
             's', range % 50, '.example', range % 7, '.',
             ['com', 'org', 'co.uk'][CAST(range % 3 AS INT) + 1],
             CASE WHEN range % 5 = 0 THEN ':8080' ELSE '' END,
             repeat('/seg', CAST(range % 4 AS BIGINT)),
             CASE WHEN range % 6 = 2 THEN '//' ELSE '' END,
             ['?a=1&b=2', '', '?x'][CAST(range % 3 AS INT) + 1],
             CASE WHEN range % 8 = 3 THEN '#frag' ELSE '' END)
         END AS url
  FROM range({URL_N})
"""


def q_url_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL featurization (operators/url.url_features — one codegen
    projection, zero shuffle): scheme, host (userinfo/port
    stripped, lowercased), naive registered domain (last two
    labels — the deliberate no-PSL contract, so 'co.uk' IS the
    documented answer for co.uk hosts), non-empty path depth, and
    query-param count over a planted URL corpus covering the trap
    shapes (userinfo, ports, doubled slashes, fragments, bare
    params, unparseable rows, NULLs). The oracle replays BOTH the
    plant and the module's shared RE2 patterns verbatim."""
    from cerberus_cpp_spark.operators.url import url_features

    return _url_plant(spark).select("doc_id", *url_features("url"))


def _url_profile_sql() -> str:
    from cerberus_cpp_spark.operators.url import (
        HOST_RE,
        PATH_RE,
        QUERY_RE,
        SCHEME_RE,
    )

    return f"""
WITH planted AS ({_URL_PLANT_SQL}),
f AS (
  SELECT doc_id, url,
         regexp_extract(url, '{SCHEME_RE}', 1) AS scheme,
         lower(regexp_extract(url, '{HOST_RE}', 1)) AS host,
         regexp_extract(url, '{PATH_RE}', 1) AS path,
         regexp_extract(url, '{QUERY_RE}', 1) AS q
  FROM planted
)
SELECT doc_id, scheme, host,
       CASE WHEN host IS NULL THEN NULL
            WHEN len(string_split(host, '.')) >= 2
            THEN concat(string_split(host, '.')[-2], '.',
                        string_split(host, '.')[-1])
            ELSE host END AS domain,
       CAST(CASE WHEN path IS NULL THEN NULL
            ELSE len(list_filter(string_split(path, '/'),
                                 x -> x != '')) END AS INTEGER)
         AS path_depth,
       CAST(CASE WHEN url IS NULL THEN NULL WHEN q = '' THEN 0
            ELSE len(string_split(q, '&')) END AS INTEGER)
         AS n_params
FROM f
"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus shares (url.domain_mix) — the
    achievable-share report a domain-curation plan feeds into
    mixture_sample, over the same planted URL corpus as
    url_profile (unparseable/NULL rows accounted under domain '').
    One partially-aggregated scan; the share denominator is a
    window over the REDUCED O(domains) frame. The oracle replays
    plant, domain rule, counts, and the f64 share division."""
    from cerberus_cpp_spark.operators.url import domain_mix

    return domain_mix(_url_plant(spark), min_pages=2)


def _domain_mix_sql() -> str:
    from cerberus_cpp_spark.operators.url import HOST_RE

    return f"""
WITH planted AS ({_URL_PLANT_SQL}),
d AS (
  SELECT coalesce(CASE
           WHEN url IS NULL THEN NULL
           WHEN len(string_split(lower(regexp_extract(
                  url, '{HOST_RE}', 1)), '.')) >= 2
           THEN concat(
             string_split(lower(regexp_extract(
               url, '{HOST_RE}', 1)), '.')[-2], '.',
             string_split(lower(regexp_extract(
               url, '{HOST_RE}', 1)), '.')[-1])
           ELSE lower(regexp_extract(url, '{HOST_RE}', 1))
         END, '') AS domain
  FROM planted
),
c AS (SELECT domain, count(*) AS n_pages FROM d GROUP BY domain)
SELECT domain, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_pages AS DOUBLE)
         / CAST(sum(n_pages) OVER () AS DOUBLE) AS share
FROM c
QUALIFY n_pages >= 2
"""


CRAWL_N = 400


def q_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl-to-corpus pipeline — the showcase
    composition of this round's ingest surface, every stage an
    operator this repo ships: WARC payloads → HTML response
    extraction (multimodal.warc_text_frames) → HTTP-status filter
    (drop 4xx/5xx fetches) → corpus-level C4 line dedup
    (text.dedup_lines — the shared nav/copyright boilerplate lines
    planted in EVERY page survive only at their first (uri, line)
    occurrence) → tag stripping (text.strip_html). The oracle
    replays the ENTIRE pipeline in SQL: plant, status filter, the
    line-dedup window (string-ordered first occurrence), the
    ordered rebuild, and the verbatim strip pattern chain, down to
    the md5 of every final document."""
    from cerberus_cpp_spark.operators.multimodal import (
        warc_text_frames,
    )
    from cerberus_cpp_spark.operators.text import (
        dedup_lines,
        strip_html,
    )

    df = spark.range(0, CRAWL_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.warc import build_warc

        codes = (200, 404, 200, 500)
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("crawl-%08d" % i)
                recs = [{"type": "warcinfo",
                         "record_id": "<urn:uuid:%d-info>" % i,
                         "content_type": "application/warc-fields",
                         "block": b"software: cerberus\r\n"}]
                for k in range(1 + i % 3):
                    body = "\n".join((
                        "<html><body>",
                        "<h1>page-%d-%d</h1>" % (i, k),
                        "NAV BOILERPLATE LINE",
                        "<p>content %d %d alpha beta</p>" % (i, k),
                        "COPYRIGHT 2026 CRAWLCORP",
                        "</body></html>",
                    ))
                    blk = ("HTTP/1.1 %d X\r\n"
                           "Content-Type: text/html\r\n\r\n"
                           % codes[(i + k) % 4]) + body
                    recs.append({
                        "type": "response",
                        "record_id": "<urn:uuid:%d-%d>" % (i, k),
                        "uri": "https://crawl.test/p-%d-%d"
                               % (i, k),
                        "content_type":
                            "application/http;msgtype=response",
                        "block": blk.encode()})
                blobs.append(build_warc(recs))
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    pages = (
        warc_text_frames(clips)
        .where(F.col("http_status") == 200)
        .select(F.col("uri").alias("doc_id"),
                F.col("html").alias("text"))
    )
    deduped = dedup_lines(pages)
    return deduped.select(
        F.col("doc_id").alias("uri"), "n_lines", "n_removed",
        F.length(strip_html("text")).alias("n_chars_clean"),
        F.md5(strip_html("text")).alias("clean_md5"))


def _crawl_to_corpus_sql() -> str:
    from cerberus_cpp_spark.operators.text import (
        HTML_ENTITIES,
        HTML_STRIP_STEPS,
    )

    expr = "text"
    for pat, rep in HTML_STRIP_STEPS:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{ch_sql}')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    return f"""
WITH ids AS (SELECT range AS id FROM range({CRAWL_N})),
k3 AS (SELECT unnest(range(3)) AS k),
pages AS (
  SELECT concat('https://crawl.test/p-', id, '-', k) AS uri,
         concat('<html><body>', chr(10),
                '<h1>page-', id, '-', k, '</h1>', chr(10),
                'NAV BOILERPLATE LINE', chr(10),
                '<p>content ', id, ' ', k, ' alpha beta</p>',
                chr(10),
                'COPYRIGHT 2026 CRAWLCORP', chr(10),
                '</body></html>') AS text
  FROM ids, k3
  WHERE k < 1 + id % 3
    AND [200, 404, 200, 500][CAST((id + k) % 4 AS INT) + 1] = 200
),
split AS (
  SELECT uri, string_split(text, chr(10)) AS l FROM pages
),
lines AS (
  SELECT uri, unnest(l) AS line,
         unnest(generate_series(0, len(l) - 1)) AS pos
  FROM split
),
marked AS (
  SELECT uri, line, pos,
         count(*) OVER (PARTITION BY line) AS cnt,
         row_number() OVER (PARTITION BY line
                            ORDER BY uri, pos) AS rn
  FROM lines
),
rebuilt AS (
  SELECT uri,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN cnt >= 2 AND rn > 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         coalesce(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE cnt < 2 OR rn = 1), '') AS text
  FROM marked GROUP BY uri
)
SELECT uri, n_lines, n_removed,
       CAST(length({expr}) AS INTEGER) AS n_chars_clean,
       md5({expr}) AS clean_md5
FROM rebuilt
"""


ENC_N = 2000


def q_encoding_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding census (operators/encoding.encoding_census — the
    charset gate before any text operator): strict-UTF-8 verdict,
    BOM accounting (chars counted WITHOUT it), non-ASCII byte
    count, U+FFFD mojibake count (prior bad decodes that strict
    validation alone cannot see), and the first invalid byte offset
    for triage. Plants cover plain multibyte text, BOM'd text,
    pre-mangled text, an invalid byte mid-stream, and NULLs; every
    field is byte arithmetic over the digit width of the id, which
    the oracle replays exactly."""
    from cerberus_cpp_spark.operators.encoding import (
        encoding_census,
    )

    df = spark.range(0, ENC_N, 1, 8)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("enc-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                elif i % 17 == 9:
                    blobs.append(("text-%d " % i).encode()
                                 + b"\xff" + b"tail")
                elif i % 13 == 5:
                    blobs.append(b"\xef\xbb\xbf"
                                 + ("bom-%d-\u00e9" % i).encode())
                elif i % 11 == 4:
                    blobs.append(
                        ("m-%d-\ufffd\ufffd" % i).encode())
                else:
                    blobs.append(
                        ("plain-%d caf\u00e9" % i).encode())
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return encoding_census(clips)


_ENCODING_SQL = f"""
WITH ids AS (
  SELECT range AS id,
         length(CAST(range AS VARCHAR)) AS ds
  FROM range({ENC_N})
)
SELECT concat('enc-', lpad(CAST(id AS VARCHAR), 8, '0'))
         AS clip_id,
       id % 23 != 21 AS ok,
       CASE WHEN id % 23 = 21 THEN 'no payload' END AS message,
       CASE WHEN id % 23 = 21 THEN NULL
            ELSE id % 17 != 9 END AS utf8_valid,
       CASE WHEN id % 23 = 21 THEN NULL
            ELSE id % 17 != 9 AND id % 13 = 5 END AS has_bom,
       CAST(CASE WHEN id % 23 = 21 THEN NULL
            WHEN id % 17 = 9 THEN 11 + ds
            WHEN id % 13 = 5 THEN 10 + ds
            WHEN id % 11 = 4 THEN 9 + ds
            ELSE 12 + ds END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN id % 23 = 21 THEN NULL
            WHEN id % 17 = 9 THEN 1
            WHEN id % 13 = 5 THEN 5
            WHEN id % 11 = 4 THEN 6
            ELSE 2 END AS BIGINT) AS n_nonascii_bytes,
       CAST(CASE WHEN id % 23 = 21 OR id % 17 = 9 THEN NULL
            WHEN id % 13 = 5 THEN 6 + ds
            WHEN id % 11 = 4 THEN 5 + ds
            ELSE 11 + ds END AS BIGINT) AS n_chars,
       CAST(CASE WHEN id % 23 = 21 OR id % 17 = 9 THEN NULL
            WHEN id % 11 = 4 AND id % 13 != 5 THEN 2
            ELSE 0 END AS BIGINT) AS n_replacement_chars,
       CAST(CASE WHEN id % 17 = 9 AND id % 23 != 21
            THEN 6 + ds END AS BIGINT) AS invalid_at
FROM ids
"""


JSONL_N = 2000


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-tolerant JSONL ingest (operators/ingest.jsonl_ingest
    — Spark's native PERMISSIVE parser over text + from_json, so the
    verdict/quarantine contract composes with arbitrary downstream
    aggregates; see the module docstring for why the raw reader
    cannot). The plant writes a deterministic JSONL file once per
    process covering the four semantic classes pinned in tests:
    clean rows, truncated JSON (raw line routed, fields NULL), type
    mismatch (raw line routed, parseable sibling SALVAGED), and
    missing fields (NULL, not corruption). The oracle replays every
    row including the raw corrupt line by id arithmetic."""
    import os
    import tempfile

    from cerberus_cpp_spark.operators.ingest import jsonl_ingest

    path = os.path.join(tempfile.gettempdir(),
                        f"cerberus_jsonl_plant_{JSONL_N}.jsonl")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for i in range(JSONL_N):
                if i % 7 == 3:
                    f.write('{"doc_id": %d, "v": \n' % i)
                elif i % 11 == 6:
                    f.write('{"doc_id": "bad-%d", "v": %d}\n'
                            % (i, 3 * i))
                elif i % 13 == 9:
                    f.write('{"doc_id": %d}\n' % i)
                else:
                    f.write('{"doc_id": %d, "v": %d}\n'
                            % (i, 3 * i))
        os.replace(tmp, path)
    return jsonl_ingest(spark, path, "doc_id long, v long")


_JSONL_INGEST_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({JSONL_N}))
SELECT CASE WHEN id % 7 = 3 OR id % 11 = 6 THEN FALSE
            ELSE TRUE END AS ok,
       CASE WHEN id % 7 = 3 OR id % 11 = 6 THEN NULL
            ELSE id END AS doc_id,
       CASE WHEN id % 7 = 3 THEN NULL
            WHEN id % 11 = 6 THEN 3 * id
            WHEN id % 13 = 9 THEN NULL
            ELSE 3 * id END AS v,
       CASE WHEN id % 7 = 3
              THEN concat('{{"doc_id": ', CAST(id AS VARCHAR),
                          ', "v": ')
            WHEN id % 11 = 6
              THEN concat('{{"doc_id": "bad-', CAST(id AS VARCHAR),
                          '", "v": ', CAST(3 * id AS VARCHAR), '}}')
       END AS corrupt_raw
FROM ids
"""


TFR_N = 600


def q_tfrecord_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard census (multimodal.tfrecord_census over
    sources/tfrecord — the masked-CRC-32C framing of ML example
    shards; the Castagnoli CRC is from-scratch and pinned against
    the published RFC 3720 check value): one row per record with
    its length and a REAL per-record CRC verdict. Damage plants:
    null; a flipped length-header byte (constant length-crc
    message — every later offset would be garbage, so the walk
    refuses); truncation; and a flipped byte in record 0's payload,
    which keeps the framing intact so the census reports it IN the
    row as crc_ok=false with every other field live (the Ogg
    contract). Precedence: null > header flip > truncation >
    payload flip."""
    from cerberus_cpp_spark.operators.multimodal import (
        tfrecord_census,
    )

    df = spark.range(0, TFR_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.tfrecord import (
            build_tfrecord,
        )

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("tfr-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                payloads = [
                    (("ex-%d-%d " % (i, k))
                     * (3 + (i + k) % 7)).encode()
                    for k in range(1 + i % 4)
                ]
                blob = build_tfrecord(payloads)
                if i % 17 == 9:
                    blob = bytes([blob[0] ^ 0xFF]) + blob[1:]
                elif i % 19 == 11:
                    blob = blob[:-3]
                elif i % 13 == 5:
                    blob = (blob[:12] + bytes([blob[12] ^ 0xFF])
                            + blob[13:])
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return tfrecord_census(clips)


_TFRECORD_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({TFR_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9 THEN 'tfrecord length crc mismatch'
              WHEN id % 19 = 11 THEN 'tfrecord truncated mid-record'
         END AS message
  FROM ids
),
k4 AS (SELECT unnest(range(4)) AS k),
r AS (
  SELECT id, CAST(k AS INTEGER) AS record_index,
         CAST(1 + id % 4 AS INTEGER) AS n_records,
         CAST(length(repeat(concat('ex-', id, '-', k, ' '),
                            CAST(3 + (id + k) % 7 AS BIGINT)))
              AS BIGINT) AS length,
         NOT (k = 0 AND id % 13 = 5) AS crc_ok
  FROM ids, k4
  WHERE k < 1 + id % 4 AND id IN (SELECT id FROM bad
                                  WHERE message IS NULL)
)
SELECT concat('tfr-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       r.n_records, r.record_index, r.length, r.crc_ok
FROM bad b
LEFT JOIN r ON b.id = r.id
"""


WARC_N = 600


def q_warc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive census (multimodal.warc_census over
    sources/warc — ISO 28500, the container Common-Crawl-style
    corpora arrive in): one row per record with type, id, target
    URI, Content-Length framing, and the HTTP status parsed from
    response blocks — the census that lets an ingest pipeline drop
    4xx/5xx fetches before HTML extraction spends a cycle. Fixtures
    are spec-valid record chains built by id arithmetic (one
    warcinfo + 1-3 responses, constant-width HTTP preamble so the
    oracle replays Content-Length exactly); damage plants with
    CONSTANT messages (version flip; truncation into the last
    content block). Precedence: null > flip > truncation."""
    from cerberus_cpp_spark.operators.multimodal import warc_census

    df = spark.range(0, WARC_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.warc import build_warc

        codes = (200, 404, 301, 500)
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("warc-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                recs = [{"type": "warcinfo",
                         "record_id": "<urn:uuid:%d-info>" % i,
                         "content_type": "application/warc-fields",
                         "block": b"software: cerberus\r\n"}]
                for k in range(1 + i % 3):
                    body = ("body-%d-%d " % (i, k)) \
                        * (5 + (i + k) % 10)
                    blk = ("HTTP/1.1 %d X\r\n"
                           "Content-Type: text/html\r\n\r\n"
                           % codes[(i + k) % 4]) + body
                    recs.append({
                        "type": "response",
                        "record_id": "<urn:uuid:%d-%d>" % (i, k),
                        "uri": "https://example.com/p-%d-%d"
                               % (i, k),
                        "content_type":
                            "application/http;msgtype=response",
                        "block": blk.encode()})
                blob = build_warc(recs)
                if i % 17 == 9:
                    blob = b"X" + blob[1:]
                elif i % 19 == 11:
                    blob = blob[:-10]
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return warc_census(clips)


_WARC_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({WARC_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9
                THEN 'not a warc stream (version line)'
              WHEN id % 19 = 11
                THEN 'warc content block overruns stream'
         END AS message
  FROM ids
),
ok AS (SELECT id, CAST(2 + id % 3 AS INTEGER) AS n_records
       FROM bad WHERE message IS NULL),
k3 AS (SELECT unnest(range(3)) AS k),
resp AS (
  SELECT o.id, k, o.n_records,
         'response' AS record_type,
         concat('<urn:uuid:', o.id, '-', k, '>') AS record_id,
         concat('https://example.com/p-', o.id, '-', k) AS uri,
         CAST(43 + length(repeat(
           concat('body-', o.id, '-', k, ' '),
           CAST(5 + (o.id + k) % 10 AS BIGINT))) AS BIGINT)
           AS content_length,
         'application/http;msgtype=response' AS content_type,
         CAST([200, 404, 301, 500][CAST((o.id + k) % 4 AS INT) + 1]
              AS INTEGER) AS http_status
  FROM ok o, k3 WHERE k < 1 + o.id % 3
),
info AS (
  SELECT id, NULL::INTEGER AS k, n_records,
         'warcinfo' AS record_type,
         concat('<urn:uuid:', id, '-info>') AS record_id,
         NULL::VARCHAR AS uri, CAST(20 AS BIGINT) AS content_length,
         'application/warc-fields' AS content_type,
         NULL::INTEGER AS http_status
  FROM ok
),
recs AS (SELECT * FROM info UNION ALL SELECT * FROM resp)
SELECT concat('warc-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       r.n_records, r.record_type, r.record_id, r.uri,
       r.content_length, r.content_type, r.http_status
FROM bad b
LEFT JOIN recs r ON b.id = r.id
"""


ARCH_N = 600


def q_archive_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive census (multimodal.archive_census over
    sources/archive — ustar TAR header arithmetic + ZIP central-
    directory walk with REAL deflate decode and CRC-32 verification
    per member): one row per member with name, size, tar typeflag /
    zip method, and the zip crc verdict. Fixtures are spec-valid
    archives built by id arithmetic (builders interop-pinned against
    stdlib tarfile/zipfile in tests); damage plants with CONSTANT
    per-format messages (tar magic flip / zip leading-byte flip →
    unknown archive format; tar truncation / zip EOCD cut → the
    format's own truncation message). Precedence: null > flip >
    truncation."""
    from cerberus_cpp_spark.operators.multimodal import (
        archive_census,
    )

    df = spark.range(0, ARCH_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.archive import (
            build_tar,
            build_zip,
        )

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("arc-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                members = [
                    {"name": "f-%d-%d.txt" % (i, k),
                     "data": (("data-%d-%d " % (i, k))
                              * (10 + (i + k) % 20)).encode()}
                    for k in range(1 + i % 3)
                ]
                blob = (build_tar(members) if i % 2 == 0
                        else build_zip(members))
                if i % 17 == 9:
                    if i % 2 == 0:
                        blob = blob[:257] + b"X" + blob[258:]
                    else:
                        blob = b"XK" + blob[2:]
                elif i % 19 == 11:
                    # tar: cut past both zero-terminator blocks into
                    # the last member's data block (a single missing
                    # terminator is legitimately accepted);
                    # zip: cut the EOCD record
                    blob = blob[:-1064] if i % 2 == 0 else blob[:-30]
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return archive_census(clips)


_ARCHIVE_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({ARCH_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9 THEN 'unknown archive format'
              WHEN id % 19 = 11 THEN
                CASE WHEN id % 2 = 0 THEN 'tar archive truncated'
                     ELSE 'zip end-of-central-directory not found'
                END
         END AS message
  FROM ids
),
k3 AS (SELECT unnest(range(3)) AS k),
m AS (
  SELECT id, k,
         CAST(1 + id % 3 AS INTEGER) AS n_members,
         concat('f-', id, '-', k, '.txt') AS member_name,
         CAST(length(repeat(concat('data-', id, '-', k, ' '),
                            CAST(10 + (id + k) % 20 AS BIGINT)))
              AS BIGINT) AS member_size
  FROM ids, k3
  WHERE k < 1 + id % 3 AND id IN (SELECT id FROM bad
                                  WHERE message IS NULL)
)
SELECT concat('arc-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       CASE WHEN b.message IS NULL THEN
         CASE WHEN b.id % 2 = 0 THEN 'tar' ELSE 'zip' END
       END AS fmt,
       m.n_members, m.member_name, m.member_size,
       CASE WHEN m.id IS NOT NULL AND b.id % 2 = 0
            THEN '0' END AS typeflag,
       CASE WHEN m.id IS NOT NULL AND b.id % 2 = 1
            THEN 'deflate' END AS method,
       CASE WHEN m.id IS NOT NULL AND b.id % 2 = 1
            THEN TRUE END AS crc_ok
FROM bad b
LEFT JOIN m ON b.id = m.id
"""


OGG_N = 600


def q_ogg_stream_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg container census (multimodal.ogg_stream_frames over
    sources/ogg.ogg_stream_info — RFC 3533 page walk + RFC 7845
    OpusHead / Vorbis-I BOS identification), completing the
    web-audio container family next to the MP4/Matroska movie walks:
    codec, channels, granule clock, Opus pre-skip, page count,
    integer-ms duration from the final granule position, CRC verdict
    and EOS, with zero sample decode. Fixtures are spec-valid pages
    with real appendix-A CRCs built by id arithmetic; damage plants:
    header truncation → constant sniff message; a flipped payload
    byte on the LAST page → structure intact, crc_ok=false (every
    other field still replayed by the oracle). Precedence:
    null > truncation > crc flip."""
    from cerberus_cpp_spark.operators.multimodal import (
        ogg_stream_frames,
    )

    df = spark.range(0, OGG_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.ogg import (
            build_ogg_opus,
            build_ogg_vorbis,
            iter_pages,
        )

        vrates = (44100, 22050, 48000)
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("ogg-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                n_audio = 1 + i % 4
                ch = 1 + (i // 2) % 2
                if i % 2 == 0:
                    blob = build_ogg_opus(
                        serial=i + 1, n_audio_pages=n_audio,
                        duration_ms=500 + 13 * i,
                        pre_skip=312 + 10 * (i % 5), channels=ch)
                else:
                    blob = build_ogg_vorbis(
                        serial=i + 1, n_audio_pages=n_audio,
                        duration_ms=500 + 13 * i,
                        rate=vrates[i % 3], channels=ch)
                if i % 17 == 9:
                    blob = blob[:10]   # header truncated
                elif i % 19 == 11:
                    # flip one payload byte on the LAST page: the
                    # structure survives, the page CRC does not
                    last = list(iter_pages(blob))[-1]
                    ps = last[5]
                    blob = (blob[:ps] + bytes([blob[ps] ^ 0xFF])
                            + blob[ps + 1:])
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return ogg_stream_frames(clips)


_OGG_STREAM_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({OGG_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9
                THEN 'not an ogg stream (OggS BOS capture)'
         END AS message
  FROM ids
),
f AS (
  SELECT id,
         id % 2 = 0 AS opus,
         1 + id % 4 AS n_audio,
         CAST(1 + (id // 2) % 2 AS INTEGER) AS channels,
         500 + 13 * id AS dur_in,
         312 + 10 * (id % 5) AS pre_skip,
         [44100, 22050, 48000][CAST(id % 3 AS INT) + 1] AS vrate
  FROM ids
  WHERE id IN (SELECT id FROM bad WHERE message IS NULL)
)
SELECT concat('ogg-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       CASE WHEN f.opus THEN 'opus'
            WHEN f.opus IS NOT NULL THEN 'vorbis' END AS codec,
       f.channels,
       CAST(CASE WHEN f.opus THEN 48000 ELSE f.vrate END
            AS BIGINT) AS rate,
       CAST(CASE WHEN f.opus THEN f.pre_skip
                 WHEN f.opus IS NOT NULL THEN 0 END
            AS INTEGER) AS pre_skip,
       CAST(f.n_audio + CASE WHEN f.opus THEN 2 ELSE 1 END
            AS INTEGER) AS n_pages,
       CAST(CASE WHEN f.opus THEN f.dur_in
            ELSE ((f.dur_in * f.vrate) // 1000) * 1000 // f.vrate
       END AS BIGINT) AS duration_ms,
       CASE WHEN f.opus IS NOT NULL
            THEN NOT b.id % 19 = 11 END AS crc_ok,
       CASE WHEN f.opus IS NOT NULL THEN TRUE END AS eos
FROM bad b
LEFT JOIN f ON b.id = f.id
"""


FLAC_N = 600


def q_flac_stream_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC metadata census (multimodal.flac_stream_frames over
    sources/flac.flac_stream_info — RFC 9639 block walk +
    bit-packed STREAMINFO): rate, channels, bits-per-sample, total
    samples → integer-ms duration (NULL for streamed encodes with
    total=0), MD5 presence, block count and type list (joined to a
    CSV column so the value hash is engine-neutral). Fixtures are
    spec-valid metadata prefixes built by id arithmetic; damage
    plants with CONSTANT messages (magic corrupted → sniff fails;
    last-block flag cleared → 'no last-metadata-block flag before
    EOF'). Precedence: null > magic > lost-last-flag."""
    from cerberus_cpp_spark.operators.multimodal import (
        flac_stream_frames,
    )

    df = spark.range(0, FLAC_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.flac import build_flac

        rates = (8000, 16000, 22050, 44100, 48000)
        bpss = (8, 16, 24)
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append("flac-%08d" % i)
                if i % 23 == 21:
                    blobs.append(None)
                    continue
                blob = build_flac(
                    rate=rates[i % 5], channels=1 + i % 4,
                    bps=bpss[i % 3],
                    total_samples=0 if i % 13 == 0
                    else 1000 * i + i % 7,
                    n_padding=i % 3)
                if i % 17 == 9:
                    blob = b"XLaC" + blob[4:]
                elif i % 19 == 11:
                    # clear the last-block flag on the final block
                    # (every tail block here has a 16-byte payload)
                    p = len(blob) - 20
                    blob = (blob[:p] + bytes([blob[p] & 0x7F])
                            + blob[p + 1:])
                blobs.append(blob)
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    res = flac_stream_frames(clips)
    return res.select(
        "clip_id", "ok", "message", "rate", "channels",
        "bits_per_sample", "total_samples", "duration_ms",
        "n_blocks",
        F.array_join("block_types", ",").alias("block_types_csv"),
        "md5_set")


_FLAC_STREAM_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({FLAC_N})),
bad AS (
  SELECT id,
         CASE WHEN id % 23 = 21 THEN 'no payload'
              WHEN id % 17 = 9
                THEN 'not a flac stream (fLaC magic)'
              WHEN id % 19 = 11
                THEN 'no last-metadata-block flag before EOF'
         END AS message
  FROM ids
),
f AS (
  SELECT id,
         [8000, 16000, 22050, 44100, 48000][CAST(id % 5 AS INT) + 1]
           AS rate,
         CAST(1 + id % 4 AS INTEGER) AS channels,
         [8, 16, 24][CAST(id % 3 AS INT) + 1] AS bps,
         CASE WHEN id % 13 = 0 THEN 0
              ELSE 1000 * id + id % 7 END AS total,
         CAST(id % 3 AS INT) AS pads
  FROM ids
  WHERE id IN (SELECT id FROM bad WHERE message IS NULL)
)
SELECT concat('flac-', lpad(CAST(b.id AS VARCHAR), 8, '0'))
         AS clip_id,
       b.message IS NULL AS ok, b.message,
       CAST(f.rate AS BIGINT) AS rate, f.channels,
       CAST(f.bps AS INTEGER) AS bits_per_sample,
       CAST(f.total AS BIGINT) AS total_samples,
       CAST(CASE WHEN f.total > 0
                 THEN f.total * 1000 // f.rate END AS BIGINT)
         AS duration_ms,
       CAST(2 + f.pads AS INTEGER) AS n_blocks,
       CASE WHEN f.id IS NOT NULL THEN
         concat('streaminfo,vorbis_comment',
                repeat(',padding', f.pads))
       END AS block_types_csv,
       CASE WHEN f.id IS NOT NULL THEN TRUE END AS md5_set
FROM bad b
LEFT JOIN f ON b.id = f.id
"""


def q_emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup end-to-end: LSH-bucketed
    embedding near-dup pairs (similarity.embedding_near_duplicates)
    → connected components + canonical survivor
    (dedup.near_duplicate_clusters). Plant: every vec_id < 10 gains
    TWO exact-copy twins at 1000000 + vec_id*10 + r — bit-identical
    vectors produce bit-identical hyperplane signatures (same floats
    → same matmul → same signs), so the banded LSH provably emits
    all three pairs per base, cosine 1.0 clears threshold 0.999, and
    no natural pair comes near it (corpus ceiling ≈ 0.48). The
    oracle is therefore pure id arithmetic: each component is
    {base, twin0, twin1} with cluster_id = keep_id = the base id."""
    emb = _t(spark, sf_dir, "embeddings")
    twins = (
        emb.where("vec_id < 10")
        .select("vec_id", "embedding",
                F.explode(F.expr("sequence(0, 1)")).alias("r"))
        .select(
            (F.lit(1000000) + F.col("vec_id") * 10 + F.col("r"))
            .alias("vec_id"),
            "embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    pairs = _sim.embedding_near_duplicates(corpus, threshold=0.999)
    return _dd.near_duplicate_clusters(pairs)


_EMB_DUP_CLUSTERS_SQL = """
WITH base AS (SELECT vec_id FROM embeddings WHERE vec_id < 10),
r AS (SELECT unnest(range(2)) AS r),
m AS (
  SELECT vec_id AS doc_id, vec_id AS cid FROM base
  UNION ALL
  SELECT 1000000 + vec_id * 10 + r AS doc_id, vec_id AS cid
  FROM base, r
)
SELECT doc_id, cid AS cluster_id, cid AS keep_id FROM m
"""


def q_token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus token budget (text.token_budget):
    the achievable-share report a data-mixing plan is written
    against before mixture_sample enforces it. One scan + one
    partial-aggregated hash agg; the oracle replays both tokenizers
    (alnum and the RE2-portable BPE-ish pattern) and pins DuckDB's
    HUGEINT sums back to BIGINT."""
    d = _t(spark, sf_dir, "documents")
    return _tx.token_budget(d, ("lang", "source"))


def _token_budget_sql() -> str:
    pat = _tx.BPE_ISH_PATTERN.replace("'", "''")
    return f"""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
            AS BIGINT) AS n_tokens,
       CAST(sum(len(regexp_extract_all(text, '{pat}')))
            AS BIGINT) AS n_bpe_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
       CAST(sum(len(regexp_extract_all(text, '{pat}'))) AS DOUBLE)
         / count(*) AS mean_bpe_per_doc
FROM documents
GROUP BY lang, source
"""


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential token-budget packing (split.pack_documents — the
    deterministic first-fit bin assignment every pretraining
    pipeline runs to build fixed-budget training sequences): pack
    each language's documents in doc_id order into 2000-char bins.
    The oracle replays the running sum, the integer DIV, and the
    offset arithmetic; casts pin DuckDB's HUGEINT window sums back
    to BIGINT."""
    d = _t(spark, sf_dir, "documents")
    return _sp.pack_documents(
        d, 2000, weight="n_chars", group_col="lang",
    ).select("doc_id", "lang", "pack_weight", "bin_id", "bin_offset")


_PACK_DOCS_SQL = """
WITH c AS (
  SELECT doc_id, lang, n_chars AS pack_weight,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars AS strt
  FROM documents
)
SELECT doc_id, lang, pack_weight,
       CAST(strt // 2000 AS BIGINT) AS bin_id,
       CAST(strt - (strt // 2000) * 2000 AS BIGINT) AS bin_offset
FROM c
"""


def q_epoch_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle (split.epoch_shuffle):
    every document gets a reproducible (bucket, position) for epoch 3
    under seed 1 — a pure function of the key, so a killed job
    replays the identical order and appends never reorder existing
    rows. The oracle replays the md5 order key bit-for-bit (the
    module's established CAST(concat('0x', substr(md5(..)))) recipe)
    and the per-bucket row_number."""
    d = _t(spark, sf_dir, "documents")
    return _sp.epoch_shuffle(
        d, key="doc_id", epoch=3, n_buckets=16, seed=1,
    ).select("doc_id", "epoch_bucket", "epoch_pos")


_EPOCH_ORDER_SQL = """
WITH o AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat_ws(':',
              CAST(doc_id AS VARCHAR), 'epoch3', '1')), 1, 12))
           AS BIGINT) AS okey
  FROM documents
)
SELECT doc_id, CAST(okey % 16 AS INTEGER) AS epoch_bucket,
       CAST(row_number() OVER (PARTITION BY okey % 16
            ORDER BY okey, doc_id) AS BIGINT) AS epoch_pos
FROM o
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (text.chunk_documents — the
    pre-tokenization step that turns long documents into training
    rows): 120-char windows at stride 90 (30 chars of overlap so no
    span is cut without a context copy). One shuffle-free JVM
    projection (plan-pinned); the oracle replays the window
    arithmetic with generate_series + substr."""
    d = _t(spark, sf_dir, "documents")
    return _tx.chunk_documents(d, chunk_chars=120, stride=90)


_CHUNK_DOCS_SQL = """
WITH d AS (
  SELECT doc_id, text, length(text) AS L
  FROM documents WHERE text IS NOT NULL AND length(text) >= 1
),
k AS (
  SELECT doc_id, text,
         unnest(generate_series(0, (L - 1) // 90)) AS k
  FROM d
)
SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
       CAST(k * 90 AS BIGINT) AS chunk_start,
       substr(text, CAST(k * 90 + 1 AS INTEGER), 120) AS chunk_text,
       CAST(length(substr(text, CAST(k * 90 + 1 AS INTEGER), 120))
            AS BIGINT) AS chunk_chars_out
FROM k
"""


def q_dup_gram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span score
    (text.duplicate_ngram_stats — the C4/Dolma repeated-span signal
    that per-doc repetition features cannot see): every doc with
    doc_id % 9 == 4 gets the SAME 7 nonce tokens appended, so the 3
    fully-inside 5-grams of that sentence become corpus-wide
    duplicates while splice-boundary grams stay doc-unique; natural
    word-salad overlaps are replayed verbatim by the oracle (it
    recomputes grams as STRINGS — agreement with the engine's 64-bit
    gram hashes is exact absent a blake2b+poly collision, and the
    parquet corpus is fixed)."""
    d = _t(spark, sf_dir, "documents")
    planted = d.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 9 = 4 THEN concat(text,"
               " ' zydup1 zydup2 zydup3 zydup4 zydup5 zydup6"
               " zydup7') ELSE text END").alias("text"))
    return _tx.duplicate_ngram_stats(planted, n=5)


_DUP_GRAM_SQL = """
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 4 THEN concat(text,
           ' zydup1 zydup2 zydup3 zydup4 zydup5 zydup6 zydup7')
         ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
),
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM planted
),
g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) < 5 THEN []
             ELSE [array_to_string(t[i:i+4], ' ')
                   FOR i IN range(1, len(t) - 3)] END) AS gram
    FROM toks)
),
freq AS (SELECT gram, count(*) AS nd FROM g GROUP BY 1)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_gram_ratio
FROM g JOIN freq f USING (gram)
GROUP BY 1
"""


def q_emb_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding (semantic) eval-set decontamination
    (similarity.embedding_decontamination — the third member of the
    decontamination trio after 13-gram text and phash image): the
    eval set is every embedding with vec_id % 37 == 5, scaled ×1.5
    (cosine is scale-invariant, so each planted eval vector matches
    its own train twin at cosine ≈ 1.0 exactly — float→double
    widening and ×1.5 are both IEEE-exact, so both engines build
    bit-identical eval matrices). The natural cross-cosine ceiling of
    this corpus is measured ≈ 0.48 at every SF, so threshold 0.9
    splits planted from natural with ~0.4 of margin — both engines
    agree on every pair's side of the threshold regardless of
    summation-order ulps, and round(·, 6) pins the reported value."""
    emb = _t(spark, sf_dir, "embeddings")
    evals = emb.where("vec_id % 37 = 5").select(
        F.expr("transform(embedding, x -> cast(x as double) * 1.5d)")
        .alias("embedding"))
    return _sim.embedding_decontamination(
        emb, evals, threshold=0.9,
    ).select("vec_id", "label", "contaminated", "n_eval_matches",
             "max_cosine")


_EMB_DECONTAMINATION_SQL = """
WITH ev AS (
  SELECT list_transform(embedding::DOUBLE[], x -> x * 1.5) AS ev
  FROM embeddings WHERE vec_id % 37 = 5 AND embedding IS NOT NULL
),
hits AS (
  SELECT t.vec_id, count(*) AS n_eval_matches,
         round(max(list_cosine_similarity(
             t.embedding::DOUBLE[], e.ev)), 6) AS max_cosine
  FROM embeddings t, ev e
  WHERE list_cosine_similarity(t.embedding::DOUBLE[], e.ev) >= 0.9
  GROUP BY 1
)
SELECT t.vec_id, t.label,
       h.n_eval_matches IS NOT NULL AS contaminated,
       CAST(coalesce(h.n_eval_matches, 0) AS BIGINT)
         AS n_eval_matches,
       h.max_cosine
FROM embeddings t LEFT JOIN hits h USING (vec_id)
"""


IMG_STRIP_N = 250


def q_img_strip_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata stripping — the privacy twin of
    pii_redact_docs (image_checks.strip_image_metadata over
    sources/imagemeta.strip_metadata): plant EXIF+comment JPEGs,
    eXIf+tEXt PNGs, EXIF+ICC VP8X WebPs, clean PNGs, and TIFFs
    (refused — structural EXIF) by id arithmetic, strip, then VERIFY
    per row that decoded pixels are bit-identical and the metadata
    walk comes back empty. The oracle predicts status, removed-kind
    set, bytes-saved sign, pixel equality, and metadata-gone purely
    from id arithmetic — the strip is proven lossless-on-pixels and
    complete-on-metadata for every row, not sampled."""
    # 8 partitions: 32 python-worker spin-ups on tiny generated
    # frames cost seconds (HANDOFF trap)
    df = spark.range(0, IMG_STRIP_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append(i)
                if i % 50 == 49:
                    blobs.append(None)
                    continue
                px = synth_pixels(pixel_seed(i, 42),
                                  8 + i % 9, 8 + i % 7)
                kind = i % 5
                exif = build_exif(description=f"cam-{i}",
                                  orientation=1)
                if kind == 0:
                    blobs.append(jpeg_insert_metadata(
                        encode_pixels(px, "jpeg"), exif=exif,
                        comment=f"shot {i}"))
                elif kind == 1:
                    blobs.append(png_insert_metadata(
                        encode_pixels(px, "png"), exif=exif,
                        text={"Author": f"a{i}"}))
                elif kind == 2:
                    rgba = np.dstack([px, np.full(
                        px.shape[:2], 255, np.uint8)])
                    blobs.append(encode_webp_vp8x(
                        rgba, lossy=False, exif=exif,
                        icc=b"P" * (32 + i % 16)))
                elif kind == 3:
                    blobs.append(encode_pixels(px, "png"))
                else:
                    blobs.append(encode_pixels(px, "tiff"))
            yield pd.DataFrame({"img_id": ids, "bytes": blobs})

    corpus = df.mapInPandas(gen, schema="img_id long, bytes binary")
    from cerberus_cpp_spark.operators.image_checks import (
        strip_image_metadata,
    )

    stripped = strip_image_metadata(
        corpus, id_col="img_id", keep_original=True)

    def verify(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import decode_image
        from cerberus_cpp_spark.sources.imagemeta import image_metadata

        for pdf in batches:
            rows = {k: [] for k in (
                "img_id", "status", "removed", "saved_pos",
                "pixel_equal", "meta_gone")}
            for _, r in pdf.iterrows():
                rows["img_id"].append(r["image_id"])
                rows["status"].append(r["status"])
                rows["removed"].append(r["removed"])
                if r["status"] == "no_payload":
                    rows["saved_pos"].append(None)
                    rows["pixel_equal"].append(None)
                    rows["meta_gone"].append(None)
                    continue
                orig, strp = bytes(r["original"]), bytes(r["stripped"])
                if r["status"] == "unsupported":
                    rows["saved_pos"].append(None)
                    rows["pixel_equal"].append(orig == strp)
                    rows["meta_gone"].append(False)
                    continue
                rows["saved_pos"].append(bool(r["bytes_saved"] > 0))
                _, p1 = decode_image(orig)
                _, p2 = decode_image(strp)
                rows["pixel_equal"].append(
                    bool(np.array_equal(p1, p2)))
                m = image_metadata(strp)
                rows["meta_gone"].append(bool(
                    m["exif"] is None and not m["text"]
                    and m["comment"] is None and not m["has_icc"]
                    and not m["has_xmp"]))
            out = pd.DataFrame(rows)
            for c in ("saved_pos", "pixel_equal", "meta_gone"):
                out[c] = out[c].astype("boolean")
            yield out

    return stripped.mapInPandas(
        verify,
        schema="img_id long, status string, removed string, "
               "saved_pos boolean, pixel_equal boolean, "
               "meta_gone boolean")


_IMG_STRIP_SQL = f"""
SELECT t.id AS img_id,
  CASE WHEN t.id % 50 = 49 THEN 'no_payload'
       WHEN t.id % 5 = 4 THEN 'unsupported'
       ELSE 'ok' END AS status,
  CASE WHEN t.id % 50 = 49 OR t.id % 5 = 4 THEN NULL
       WHEN t.id % 5 = 0 THEN 'comment,exif'
       WHEN t.id % 5 = 1 THEN 'exif,text'
       WHEN t.id % 5 = 2 THEN 'exif,icc'
       ELSE '' END AS removed,
  CASE WHEN t.id % 50 = 49 OR t.id % 5 = 4 THEN NULL
       ELSE t.id % 5 <> 3 END AS saved_pos,
  CASE WHEN t.id % 50 = 49 THEN NULL
       ELSE TRUE END AS pixel_equal,
  CASE WHEN t.id % 50 = 49 THEN NULL
       WHEN t.id % 5 = 4 THEN FALSE
       ELSE TRUE END AS meta_gone
FROM range({IMG_STRIP_N}) t(id)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.simhash(_t(spark, sf_dir, "documents"))


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cerberus_cpp_spark.operators.partitioning import fanout_gate

    # the Karp-Rabin fold is CodegenFallback — gate split-starved
    # local inputs up to full parallelism (raw scan, so the eager
    # partition probe is harmless)
    return fanout_gate(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", _tx.rolling_fingerprint("text")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_topk(emb, emb.where("vec_id < 10"), k=5)


_PERTURB = """concat(
  transform(slice(embedding, 1, r), x -> cast(x as double)),
  array(cast(element_at(embedding, r + 1) as double) * 1.002D),
  transform(slice(embedding, r + 2, size(embedding)),
            x -> cast(x as double)))"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN on a PLANTED-TRUTH corpus: each query gets 5
    near-identical twins (one coordinate scaled by 1.002 — cosine
    ≈ 0.999998, far above the ~0.5 max random 64-dim cosine), so the
    true top-5 is exactly the twin set and the random-hyperplane
    signatures (deterministic: fixed seed) place every twin in the
    query's buckets. The approximate path therefore carries an EXACT
    top-k oracle; recall-under-stress measurements for non-planted
    corpora live in tests/test_dedup_scale.py + BENCH.md §5."""
    emb = _t(spark, sf_dir, "embeddings")
    reps = spark.range(5).select(F.col("id").cast("int").alias("r"))
    planted = (
        emb.where("vec_id < 10").crossJoin(reps)
        .select(
            (F.lit(1000000) + F.col("vec_id") * 10 + F.col("r"))
            .alias("vec_id"),
            F.expr(_PERTURB).alias("embedding"),
        )
    )
    as_double = F.expr("transform(embedding, x -> cast(x as double))")
    corpus = emb.select("vec_id", as_double.alias("embedding")) \
        .unionByName(planted)
    queries = emb.where("vec_id < 10").select(
        "vec_id", as_double.alias("embedding"))
    return _sim.ann_topk_lsh(corpus, queries, k=5)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF (k-means coarse quantizer) ANN scale path — the task
    brief names both IVF and LSH variants; ann_topk_lsh covers the
    other. PLANTED-TRUTH oracle: each query has an IDENTICAL twin
    (vec_id + 1e6) in the corpus; probe lists run through the same
    assignment code as the corpus, so the twin's inverted list is
    always the query's first probe and top-1 is provably the twin at
    cosine exactly 1.0 (after round-6). Recall-vs-nprobe on
    non-planted data: tests/test_training_ops.py + BENCH.md §5."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    assigned, cents = _sim.ivf_index(corpus, n_lists=16, seed=11)
    return _sim.ivf_topk(assigned, cents, queries, k=1, nprobe=4) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_IVF_SQL = """
SELECT vec_id AS query_id,
       vec_id + 1000000 AS neighbor_id,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 10
"""


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the COMPRESSED-domain scale path
    (the third next to LSH and IVF): the corpus is encoded to m=8
    uint8 codes per vector (32× smaller than float32 at dim 64; at
    10^12 vectors the only frame a per-query-batch scan can afford
    to read), searched via ADC lookup tables, and the top candidates
    exact-cosine rescored. PLANTED-TRUTH oracle: each query has an
    IDENTICAL twin (vec_id + 1e6) in the corpus; identical vectors
    encode to identical codes, so the twin carries the query's own
    maximal ADC score into the rescore set, where exact cosine makes
    it provably rank 1 at cosine 1.0. Recall-vs-rescore_n on
    non-planted data: tests/test_pq.py + BENCH.md §5."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    books = _sim.pq_train(corpus, m=8, n_codes=64, seed=11)
    codes = _sim.pq_encode(corpus, books)
    return _sim.pq_topk(codes, books, queries, k=1,
                        corpus=corpus, rescore_n=32) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_PQ_SQL = """
SELECT vec_id AS query_id,
       vec_id + 1000000 AS neighbor_id,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 10
"""


def q_ann_topk_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (similarity.sq_train — FAISS 'SQ8',
    the middle rung of the quantizer ladder: dim bytes per vector,
    4× smaller than float32, near-lossless where PQ m=8 is 32×
    smaller but lossier). The codebook is a per-dim uniform grid in
    the pq_train tensor contract, so encode, ADC LUT search, the
    per-partition top-R prune and the exact rescore are the
    UNMODIFIED pq_* machinery with all its plan pins. PLANTED-TRUTH
    oracle: identical twin (vec_id + 1e6) encodes to the identical
    rung vector, carries the query's maximal ADC score into the
    rescore set, and exact cosine makes it provably rank 1 at
    1.0. Fidelity-vs-PQ and round-to-rung pins:
    tests/test_sq.py."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    grid = _sim.sq_train(corpus, n_levels=256)
    codes = _sim.pq_encode(corpus, grid)
    return _sim.pq_topk(codes, grid, queries, k=1,
                        corpus=corpus, rescore_n=16) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_SQ_SQL = _ANN_PQ_SQL


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVFADC composition (coarse-quantizer list pruning ×
    PQ codes — FAISS's trillion-scale design): nprobe=1 scans ONLY
    each query's nearest inverted list, and within it only the
    8-byte code column. PLANTED-TRUTH oracle inherited from BOTH
    parents: the identical twin (vec_id + 1e6) lands in the query's
    first probe (shared assignment math) carrying the query's own
    code, so the exact rescore provably ranks it 1 at cosine 1.0.
    Lossless-when-unpruned and probe-bounding pins:
    tests/test_pq.py."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    # one shared bounded sample for both trainers (identical to what
    # each would collect itself — similarity.training_sample), and
    # list assignment fused into the encode pass (residual=False:
    # same codes, same lists, one Arrow stage instead of two)
    mat = _sim.training_sample(corpus)
    _, cents = _sim.ivf_index(corpus, n_lists=16, seed=11,
                              sample_matrix=mat)
    books = _sim.pq_train(corpus, m=8, n_codes=64, seed=11,
                          sample_matrix=mat)
    codes = _sim.pq_encode(corpus, books, centroids=cents,
                           residual=False)
    return _sim.ivf_pq_topk(codes, cents, books, queries, k=1,
                            nprobe=1, corpus=corpus, rescore_n=16) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_IVFPQ_SQL = _ANN_PQ_SQL


ANN_DIST_REPS = 2021  # 5 bases × 2021 replicas = 10,105 queries


def q_ann_topk_pq_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED ADC serving path (round-4 verdict task #1):
    10,105 queries — past the 10k bound the driver-LUT path refuses —
    processed in 5,100-query hash blocks with LUTs built
    EXECUTOR-side over the query DataFrame (the query vectors never
    reach the driver; ``similarity.build_query_luts``). PLANTED-TRUTH
    oracle: every query is a fresh-id replica of one of 5 corpus
    vectors, so its identical original is provably rank 1 at cosine
    exactly 1.0 (it shares the query's own code, hence its maximal
    ADC score, into every per-partition prune; no two corpus vectors
    are parallel — max off-diagonal cosine 0.60 measured — so the
    exact rescore has a unique winner)."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    books = _sim.pq_train(corpus, m=8, n_codes=64, seed=11)
    codes = _sim.pq_encode(corpus, books)
    reps = spark.range(ANN_DIST_REPS).select(F.col("id").alias("r"))
    queries = (
        emb.where("vec_id < 5").crossJoin(reps)
        .select((F.lit(100000) + F.col("r") * 10 + F.col("vec_id"))
                .alias("vec_id"), "embedding"))
    return _sim.pq_topk_distributed(
        codes, books, queries, k=1, corpus=corpus, rescore_n=8,
        queries_per_block=5100) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_PQ_DIST_SQL = f"""
SELECT 100000 + t.r * 10 + e.vec_id AS query_id,
       e.vec_id AS neighbor_id,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings e CROSS JOIN range({ANN_DIST_REPS}) t(r)
WHERE e.vec_id < 5
"""


def q_ann_topk_ivfpq_residual(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC (round-4 verdict task #2 — the
    standard FAISS composition): PQ codebooks trained on residuals
    from the coarse centroid (``pq_train(centroids=...)``), codes
    quantize ``x_norm - centroid[list]``, and ADC adds the
    <q, centroid[list]> bias the probe selection already computed.
    Same PLANTED-TRUTH oracle as the raw-vector parent: the identical
    twin (vec_id + 1e6) shares the query's list (probe[0]) and its
    residual code, so the exact rescore provably ranks it 1 at cosine
    1.0. Recall-at-same-bits vs the raw encoder: tests/test_pq.py +
    BENCH.md §34."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    # one shared bounded sample for both trainers; the encode pass
    # recomputes the list with _assign_lists' exact math and codes
    # the residual in the same Arrow stage (pq_encode(centroids=)
    # with list_col=None) — one stage instead of two
    mat = _sim.training_sample(corpus)
    _, cents = _sim.ivf_index(corpus, n_lists=16, seed=11,
                              sample_matrix=mat)
    books = _sim.pq_train(corpus, m=8, n_codes=64, seed=11,
                          centroids=cents, sample_matrix=mat)
    codes = _sim.pq_encode(corpus, books, centroids=cents)
    return _sim.ivf_pq_topk(codes, cents, books, queries, k=1,
                            nprobe=1, corpus=corpus, rescore_n=16,
                            residual=True) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_IVFPQ_RES_SQL = _ANN_PQ_SQL


def q_ann_topk_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ — optimized product quantization (Ge et al., CVPR 2013):
    a learned orthogonal rotation redistributes correlation across
    the PQ subspace boundaries before coding (alternating k-means /
    orthogonal-Procrustes on the bounded training sample), then the
    SAME ADC machinery searches the rotated space — R is orthogonal
    so <q·R, x·R> = <q, x>. PLANTED-TRUTH oracle unchanged from the
    PQ parent: identical vectors rotate identically, so the twin
    (vec_id + 1e6) shares the query's code and provably ranks 1 at
    cosine exactly 1.0 after the exact rescore. The
    quantization-error win on anisotropic data is pinned in
    tests/test_pq.py (random corpora are isotropic — there OPQ
    matches plain PQ, which this query demonstrates by staying
    exact)."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    rot, books = _sim.opq_train(corpus, m=8, n_codes=64, seed=11,
                                opq_iters=3)
    codes = _sim.pq_encode(corpus, books, rotation=rot)
    return _sim.pq_topk(codes, books, queries, k=1, corpus=corpus,
                        rescore_n=16, rotation=rot) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_OPQ_SQL = _ANN_PQ_SQL


def q_ann_topk_opq_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS-style 'OPQ,IVF,PQ' chain
    (similarity.opq_ivf_pq_topk): learn the OPQ rotation, rotate
    corpus and queries ONCE (rotate_embeddings — R preserves inner
    products and norms), then the UNMODIFIED coarse-quantize →
    residual-PQ → probe-pruned ADC → exact-rescore pipeline runs in
    rotated space. This composes what pq_encode(rotation=, centroids=)
    deliberately refuses — there the quantizer would live in the
    unrotated space; here it is trained on rotated vectors, so the
    model is exact. PLANTED-TRUTH oracle shared with the whole PQ
    family: the twin rotates identically → same list, same residual
    code, rescored (rotated == raw) cosine exactly 1.0 at rank 1."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    queries = emb.where("vec_id < 10").select("vec_id", "embedding")
    return _sim.opq_ivf_pq_topk(
        corpus, queries, k=1, m=8, n_codes=64, n_lists=16, nprobe=1,
        rescore_n=16, opq_iters=3, seed=11, residual=True) \
        .select("query_id", "neighbor_id", "cosine")


_ANN_OPQ_IVF_SQL = _ANN_PQ_SQL


def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups over corpus ∪ planted duplicates (the raw
    corpus has no near-pairs at 0.99); exact all-pairs variant, so it
    carries a DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where("vec_id % 100 = 0").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    return _sim.embedding_near_duplicates(both, 0.999, exact=True)


def q_dynamic_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-document path: events.props is a JSON payload column;
    parse to map<string,string>, validate with keysrules/valuesrules
    (the reference's schemaless-dict semantics, rules.hh:270-288 +
    614-632, over a MapType column)."""
    from cerberus_cpp_spark.functions.barrier import once_per_row
    from cerberus_cpp_spark.operators.partitioning import fanout_gate

    # once_per_row: without the barrier, the violations() filter
    # inlines the from_json parse into EVERY rule branch (12x per
    # row — measured 2.49s vs 0.90s at sf0.1; functions/barrier.py).
    # fanout_gate: the from_json + 12-rule projection is heavy per
    # row and the raw events scan arrives as ONE split locally
    # (measured 1.12s -> 0.81s; identity at real scale)
    ev = fanout_gate(_t(spark, sf_dir, "events")).select(
        "event_id",
        once_per_row(
            F.from_json("props", "map<string,string>")).alias("props"),
    )
    rules = {"props": {"type": "dict",
                       "keysrules": {"allowed": ["k"]},
                       "valuesrules": {"type": "integer",
                                       "min": 0, "max": 75}}}
    tv = TableValidator(rules, allow_unknown=True,
                        extra_cols=("event_id",))
    return tv.validate(ev).violations("event_id")


def q_schemaless_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous schemaless documents at scale (reference
    rules.hh:549-553/575-612 type semantics — the golden
    'type-simple' shape): field `a` is an int, dict, list, numeric
    string or explicit null depending on the row, so NO static Spark
    type exists and the columnar compiler refuses the column. The
    validation runs through the DISTRIBUTED interpreter
    (dynamic/spark.py: one mapInArrow worker, one Validator per
    worker). Docs are synthesized from pure event_id arithmetic so
    DuckDB can oracle the exact violation set without JSON parsing."""
    from cerberus_cpp_spark.dynamic.spark import json_violations

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("""CASE pmod(event_id, 6)
          WHEN 0 THEN concat('{"a": ', pmod(event_id, 23), ', "b": "s"}')
          WHEN 1 THEN '{"a": {"x": 1}, "b": "t"}'
          WHEN 2 THEN concat('{"a": [', pmod(event_id, 23), ']}')
          WHEN 3 THEN concat('{"a": "', pmod(event_id, 23), '"}')
          WHEN 4 THEN '{"a": null, "b": "u"}'
          ELSE '{"b": [1]}'
        END""").alias("doc"),
    ).repartition(spark.sparkContext.defaultParallelism)
    schema = {"a": {"type": "integer", "min": 10},
              "b": {"type": "string", "required": True}}
    return json_violations(ev, schema, id_cols=("event_id",))


def _events_with_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with DETERMINISTIC synthesized nulls (the raw table has
    none at these SFs): value nulled on id%7, props on id%11 — same
    arithmetic in the oracle."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("IF(event_id % 7 = 0, NULL, value)").alias("value"),
        F.expr("IF(event_id % 11 = 0, NULL, props)").alias("props"),
    )


def q_deps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column dependencies rule (rules.hh:143-187): a present
    props requires a present value; same-row predicate, no join."""
    tv = TableValidator(
        {"props": {"type": "string", "dependencies": "value"},
         "value": {"type": "float"}},
        allow_unknown=True, extra_cols=("event_id",),
    )
    return tv.validate(_events_with_gaps(spark, sf_dir))         .violations("event_id")


def q_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization at table scale (reference getDocument(),
    validator.hh:200-203): default fills null value, props renamed,
    unknown columns purged."""
    tv = TableValidator(
        {"value": {"type": "float", "default": -1.0},
         "props": {"type": "string", "rename": "attributes"}},
        purge_unknown=True, extra_cols=("event_id",),
    )
    return tv.validate(_events_with_gaps(spark, sf_dir)).normalized


def q_rules_list_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contains + per-element schema(list) over a real array column:
    violation paths carry the reference's `[i]` grammar
    (stack.hh:39-54) without a posexplode in the rule pass."""
    from cerberus_cpp_spark.operators.partitioning import fanout_gate

    # fanout_gate: the per-element HOF regex rules are interpreted
    # (CodegenFallback) and the raw documents scan is ONE split
    # locally (measured 0.99s -> 0.83s; identity at real scale)
    docs = fanout_gate(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        .alias("words"),
    )
    tv = TableValidator(
        {"words": {"type": "list", "contains": "the",
                   "schema": {"type": "string",
                              "regex": "[a-su-z][a-z0-9]*"}}},
        allow_unknown=True, extra_cols=("doc_id",),
    )
    return tv.validate(docs).violations("doc_id")


def q_rules_cross_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forbidden + excludes + positional items in one pass over
    orders (synthesized alternative columns for excludes)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("IF(o_orderkey % 2 = 0, o_orderpriority, NULL)")
        .alias("prio_a"),
        F.expr("IF(o_orderkey % 3 = 0, o_orderpriority, NULL)")
        .alias("prio_b"),
        "o_orderstatus",
        F.array("o_orderstatus", "o_orderpriority")
        .alias("status_prio"),
    )
    tv = TableValidator(
        {
            "o_orderstatus": {"type": "string", "forbidden": ["P"]},
            "prio_a": {"type": "string", "excludes": "prio_b"},
            "prio_b": {"type": "string"},
            "status_prio": {"type": "list", "items": [
                {"type": "string", "allowed": ["O", "F"]},
                {"type": "string", "regex": "[1-2]-[A-Z ]+"}]},
        },
        allow_unknown=True, extra_cols=("o_orderkey",),
    )
    return tv.validate(orders).violations("o_orderkey")


VAL_IMAGES_N = 10000


def q_val_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship (north_star): full rule vocabulary over the
    input_hint image+caption table, oracle-checked — the table is
    synthesized deterministically executor-side (sources/distgen) and
    the DuckDB twin regenerates it with identical integer arithmetic
    (no external data, per the driver brief)."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame
    from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

    df = image_caption_frame(spark, VAL_IMAGES_N).drop("id")
    tv = TableValidator(IMAGE_TABLE_RULES)
    return tv.validate(df).violations("image_id")


_VAL_IMAGES_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {VAL_IMAGES_N})
), t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 0 THEN 0
         ELSE CAST(16 + (mix % 1009) % 4080 AS INT) END AS w,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 1 THEN 20000
         ELSE CAST(16 + ((mix // 7) % 1013) % 4080 AS INT) END AS h,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 2 THEN 'heif'
         ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1] END AS fmt,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 3 THEN NULL
         WHEN id % 100 = 0 AND (id // 100) % 6 = 4
           THEN 'x' || chr(1) || 'y'
         ELSE printf('caption %d about image number %d',
                     id % 997, id) END AS caption
  FROM g
)
SELECT image_id, '^.image_id' AS path,
       'required-rule violated: field missing' AS message
  FROM t WHERE image_id IS NULL
UNION ALL
SELECT image_id, '^.image_id', 'regex-rule violated'
  FROM t WHERE image_id IS NOT NULL
           AND NOT regexp_full_match(image_id, 'img-[0-9]{{12}}')
UNION ALL
SELECT image_id, '^.w', 'min-rule violated'
  FROM t WHERE w IS NOT NULL AND NOT (w > 0)
UNION ALL
SELECT image_id, '^.w', 'max-rule violated'
  FROM t WHERE w IS NOT NULL AND w >= 16384
UNION ALL
SELECT image_id, '^.h', 'min-rule violated'
  FROM t WHERE h IS NOT NULL AND NOT (h > 0)
UNION ALL
SELECT image_id, '^.h', 'max-rule violated'
  FROM t WHERE h IS NOT NULL AND h >= 16384
UNION ALL
SELECT image_id, '^.fmt', 'value disallowed by allowed-rule'
  FROM t WHERE fmt NOT IN ('jpeg', 'png', 'webp')
UNION ALL
SELECT image_id, '^.caption', 'nullable-rule violated'
  FROM t WHERE caption IS NULL
UNION ALL
SELECT image_id, '^.caption', 'regex-rule violated'
  FROM t WHERE caption IS NOT NULL
           AND NOT regexp_full_match(caption, '[ -~]{{1,512}}')
"""


def q_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash-based uniqueness via salted two-phase hash-aggregate
    (north_star verbatim): the synthetic image table plants one HOT
    phash on every 50th row (2% of a trillion-row table in one key),
    so the salt fans the hot key over 32 reducers before the final
    sum — the skew pattern the north_rule calls out."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, VAL_IMAGES_N)
    return checks.duplicate_keys(
        df, "phash", salt_buckets=32, salt_on="image_id")


_PHASH_DUPS_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {VAL_IMAGES_N})
)
SELECT CASE WHEN id % 50 = 0 THEN {0x5A5A5A5A5A5A5A5A} ELSE mix END
         AS phash,
       count(*) AS cnt
FROM g GROUP BY 1 HAVING count(*) > 1
"""


IMG_FIDELITY_N = 3000


def q_img_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-pixel + caption fidelity over REAL payload bytes
    (input_hint row-wise invariant): synthesize the image+caption
    table WITH payloads (real PNG + real baseline JPEG + real VP8L
    webp), decode every blob in an Arrow-batched stage, and compare
    against the re-synthesized reference. Every outcome is a
    deterministic function of the row id — the jpeg coder's
    worst-case PSNR over this id family is 43.0 dB (> the 40 dB
    gate, pinned in tests/test_jpegcodec.py) — so DuckDB can oracle
    the exact (pixels_ok, caption_ok, verdict) sets without decoding
    anything. psnr_db itself is excluded: it's real-valued and
    codec-specific.

    ``plant_lossy`` plants two lossy-VP8 families (always webp rows,
    disjoint from the id%100 violation plants): id%30==8 rows carry a
    well-formed but UNDECODABLE container (empty first partition) →
    ``decode_unsupported`` (r3 verdict #6), and id%30==23 rows carry
    a REAL lossy payload from the in-repo RFC 6386 encoder whose
    PSNR deterministically fails the 40 dB gate (4:2:0 chroma on the
    wrapping-gradient family caps it ~33 dB; margin pinned in
    tests/test_vp8enc.py) → ``mismatch`` with a decoded payload —
    the lossy branch of the input_hint invariant, exercised in the
    contract (round 4)."""
    from cerberus_cpp_spark.operators.image_checks import fidelity_check
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_FIDELITY_N, with_bytes=True,
                             plant_lossy=True)
    return fidelity_check(df).select(
        "image_id", "pixels_ok", "caption_ok", "verdict")


_IMG_FIDELITY_SQL = f"""
WITH g AS (SELECT range AS id FROM range(0, {IMG_FIDELITY_N})),
t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 2 THEN 'heif'
         ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1] END AS fmt,
    (id % 100 = 0 AND (id // 100) % 6 IN (3, 4)) AS bad_caption
  FROM g
)
SELECT image_id,
       (image_id IS NOT NULL AND fmt <> 'heif' AND id % 30 <> 8
        AND id % 30 <> 23)
         AS pixels_ok,
       (image_id IS NOT NULL AND NOT bad_caption) AS caption_ok,
       CASE WHEN fmt = 'heif' THEN 'undecodable'
            WHEN id % 30 = 8 THEN 'decode_unsupported'
            WHEN id % 30 = 23 THEN 'mismatch'
            WHEN image_id IS NULL THEN 'no_reference'
            ELSE 'ok' END AS verdict
FROM t
"""


IMG_CODEC_CENSUS_N = 3000


IMG_RESIZE_N = 2000


def q_img_resize_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed resize (decode → nearest-neighbour thumbnail into a
    12×10 box → re-encode) over real payloads. The oracle is
    PIXEL-EXACT for bit-exact codecs: nearest-neighbour uses pure
    integer source-index arithmetic (((2x+1)·w)//(2·out)) and the
    planted gradient pixels are id-arithmetic, so DuckDB recomputes
    every lossless row's resized pixel checksum from scratch (a
    range-join over output coordinates). Lossy sources (jpeg, VP8)
    get NULL checksums by the operator's own policy; statuses cover
    no_payload (seeded 'heif' rows) and decode_unsupported (id%30==8
    lossy stubs). Aspect-ratio math (thumbnail_dims) is integer-only
    and replayed in SQL."""
    from cerberus_cpp_spark.operators import image_transform as _it
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_RESIZE_N,
                             with_bytes=True, plant_lossy=True)
    return _it.resize_images(df, box=(12, 10), method="nearest").select(
        "image_id", "out_w", "out_h", "out_fmt", "status", "px_sum"
    )


def _img_resize_census_sql() -> str:
    # channel value at source pixel (sx, sy): the synth_pixels gradient
    chans = ("((sx*7 + sy*3 + ps) % 256)"
             " + ((sx*5 + sy*11 + ps//3) % 256)"
             " + ((sx*13 + sy*2 + ps//7) % 256)")
    return f"""
WITH ids AS (SELECT range AS id FROM range({IMG_RESIZE_N})),
base AS (
  SELECT id,
         (id * 1103515245 + 42*12345 + 12345) % 2147483648 AS ps,
         8 + id % 9 AS wt, 8 + id % 7 AS ht,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 2 THEN 'heif'
              ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1]
         END AS fmt,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 5 THEN NULL
              ELSE printf('img-%012d', id) END AS image_id
  FROM ids),
dims AS (
  SELECT *,
         CASE WHEN wt * 10 <= ht * 12
              THEN greatest(1, (wt * 10) // ht) ELSE 12 END AS ow,
         CASE WHEN wt * 10 <= ht * 12
              THEN 10 ELSE greatest(1, (ht * 12) // wt) END AS oh,
         CASE WHEN fmt = 'heif' THEN 'no_payload'
              WHEN id % 30 = 8 THEN 'decode_unsupported'
              ELSE 'ok' END AS status,
         (fmt = 'png' OR (fmt = 'webp' AND id % 30 NOT IN (8, 23)))
           AS lossless
  FROM base),
psums AS (
  SELECT d.id,
         SUM({chans}) AS s
  FROM dims d,
       LATERAL (SELECT ((2*tx.x + 1) * d.wt) // (2 * d.ow) AS sx,
                       ((2*ty.y + 1) * d.ht) // (2 * d.oh) AS sy
                FROM range(12) tx(x), range(10) ty(y)
                WHERE tx.x < d.ow AND ty.y < d.oh)
  WHERE d.status = 'ok' AND d.lossless
  GROUP BY d.id)
SELECT d.image_id,
       CAST(CASE WHEN status = 'ok' THEN ow END AS INT) AS out_w,
       CAST(CASE WHEN status = 'ok' THEN oh END AS INT) AS out_h,
       CASE WHEN status = 'ok' THEN fmt END AS out_fmt,
       status,
       CAST(p.s AS BIGINT) AS px_sum
FROM dims d LEFT JOIN psums p USING (id)
"""


IMG_HEIF_N = 1200
_HEIF_PAYLOAD_CACHE: dict = {}


def _heif_payloads(spark: SparkSession) -> str:
    """Generate the deterministic HEIC/AVIF payload fixtures ONCE per
    process and serve them from a temp parquet (round-4 verdict #4:
    the ~1,100 x265/aom encodes used to run INSIDE the timed census,
    so BENCH measured fixture generation, not the operator — 17.9s
    recorded vs 2-3s isolated). Payload derivation is unchanged
    (same seeds, same plants), so the oracle is untouched; bench reps
    now re-run only the census."""
    import tempfile

    key = IMG_HEIF_N
    cached = _HEIF_PAYLOAD_CACHE.get(key)
    if cached and os.path.exists(cached):
        return cached
    path = os.path.join(
        tempfile.mkdtemp(prefix="ccs_heif_fixtures_"),
        "payloads.parquet")
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.libheif import encode_heif

        for pdf in batches:
            blobs: list = []
            for i in pdf["id"]:
                i = int(i)
                if i % 25 == 0:
                    blobs.append(None)  # no_payload plant
                    continue
                px = synth_pixels(pixel_seed(i, 42), 8 + i % 9,
                                  8 + i % 7)
                if i % 20 == 13:
                    blobs.append(
                        encode_heif(px, "avif", quality=95)[:60])
                else:
                    codec = ("heic", "avif")[i % 2]
                    blobs.append(encode_heif(
                        px, codec, quality=95,
                        lossless=(i % 5 == 2)))
            yield pd.DataFrame({"id": pdf["id"], "blob": blobs})

    spark.range(0, IMG_HEIF_N, 1, 8).mapInPandas(
        gen, schema="id long, blob binary"
    ).write.mode("overwrite").parquet(path)
    _HEIF_PAYLOAD_CACHE[key] = path
    return path


def q_img_heif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIC/AVIF census (round 4): real HEVC- and AV1-coded payloads
    from the system-libheif binding (`sources/libheif.py`; the
    container SHIPS libheif 1.15.1 — noted in BASELINE.md) decoded
    through the sniffing dispatch, with the pure-python ISO-BMFF
    header walk (pitm→ipma→ispe, no codec) cross-checked against
    decoded dims per row. px_sum is emitted for the LOSSLESS family
    only — lossless-decoded pixels equal the planted gradient exactly
    even though the emitted bitstream may vary across encoder builds,
    so the oracle predicts it; lossy fidelity is pinned in
    tests/test_heif.py (444-chroma ≥ 40 dB). Truncation plants route
    to undecodable, payload-less rows to no_payload.

    Payloads come pre-generated from :func:`_heif_payloads` (one-time
    per process) so the timed region measures the CENSUS — sniff,
    decode, ISO-BMFF header cross-check — not x265/aom fixture
    encoding (round-4 verdict #4)."""
    df = spark.read.parquet(_heif_payloads(spark))
    pkg_parent = PKG_PARENT

    def census(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            decode_image,
            image_header_info,
            sniff_format,
        )

        for pdf in batches:
            n = len(pdf)
            fmt: list = [None] * n
            status = ["ok"] * n
            dw: list = [None] * n
            dh: list = [None] * n
            hok: list = [None] * n
            psum: list = [None] * n
            for j, (i, blob) in enumerate(zip(pdf["id"], pdf["blob"])):
                i = int(i)
                if blob is None:
                    status[j] = "no_payload"
                    continue
                blob = bytes(blob)
                fmt[j] = sniff_format(blob)
                try:
                    dec_fmt, dec = decode_image(blob)
                except ValueError:
                    status[j] = "undecodable"
                    continue
                dh[j], dw[j] = dec.shape[0], dec.shape[1]
                try:
                    _, hw, hh = image_header_info(blob)
                    hok[j] = (hw == dw[j] and hh == dh[j])
                except ValueError:
                    hok[j] = False
                if i % 5 == 2:
                    psum[j] = int(dec.sum(dtype="int64"))
            yield pd.DataFrame({
                "image_id": ["img-%012d" % int(i) for i in pdf["id"]],
                "fmt": fmt, "status": status,
                "dec_w": pd.array(dw, dtype="Int32"),
                "dec_h": pd.array(dh, dtype="Int32"),
                "header_ok": pd.array(hok, dtype="boolean"),
                "px_sum": pd.array(psum, dtype="Int64"),
            })

    return df.mapInPandas(
        census,
        schema=("image_id string, fmt string, status string, "
                "dec_w int, dec_h int, header_ok boolean, "
                "px_sum bigint"),
    )


_IMG_HEIF_CENSUS_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({IMG_HEIF_N})),
base AS (
  SELECT id,
         (id * 1103515245 + 42*12345 + 12345) % 2147483648 AS ps,
         8 + id % 9 AS wt, 8 + id % 7 AS ht,
         CASE WHEN id % 25 = 0 THEN 'no_payload'
              WHEN id % 20 = 13 THEN 'undecodable'
              ELSE 'ok' END AS status,
         CASE WHEN id % 25 = 0 THEN NULL
              WHEN id % 20 = 13 THEN 'avif'
              ELSE ['heic','avif'][CAST(id % 2 AS INT) + 1]
         END AS fmt
  FROM ids),
psums AS (
  SELECT d.id,
         SUM(((7*tx.x + 3*ty.y + ps) % 256)
           + ((5*tx.x + 11*ty.y + ps//3) % 256)
           + ((13*tx.x + 2*ty.y + ps//7) % 256)) AS s
  FROM base d, range(16) tx(x), range(14) ty(y)
  WHERE tx.x < d.wt AND ty.y < d.ht
    AND d.status = 'ok' AND d.id % 5 = 2
  GROUP BY d.id)
SELECT printf('img-%012d', d.id) AS image_id,
       d.fmt, d.status,
       CAST(CASE WHEN status = 'ok' THEN wt END AS INT) AS dec_w,
       CAST(CASE WHEN status = 'ok' THEN ht END AS INT) AS dec_h,
       CASE WHEN status = 'ok' THEN TRUE END AS header_ok,
       CAST(p.s AS BIGINT) AS px_sum
FROM base d LEFT JOIN psums p USING (id)
"""


AUDIO_HDR_N = 2000
_MP3_BR = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
           256, 320]
_MP3_RATES = [44100, 48000, 32000]


def q_audio_header_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-level audio validation with ZERO sample decode
    (`multimodal.audio_header_info` over `sources/mpegaudio.py` +
    `wavcodec.wav_header_info`): MPEG1-Layer-III frame chains (CBR
    and alternating-bitrate VBR, optional ID3v2/ID3v1 tags, planted
    final-frame truncation) and WAV headers. Every field — frame
    counts, integer durations, bitrate extrema, tag flags, even the
    truncation MESSAGE text — follows from ISO 11172-3 frame
    arithmetic the oracle replays exactly. The honest boundary for
    the stubbed compressed-audio family: validate and measure the
    structure a transcode pipeline needs before spending a decoder."""
    from cerberus_cpp_spark.operators.multimodal import audio_header_info

    num_parts = 8
    df = spark.range(0, AUDIO_HDR_N, 1, num_parts)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.mpegaudio import (
            build_frame,
            build_id3v2,
        )
        from cerberus_cpp_spark.sources.wavcodec import (
            encode_wav,
            synth_pcm,
        )

        for pdf in batches:
            payloads = []
            for i in pdf["id"]:
                i = int(i)
                if i % 25 == 0:
                    payloads.append(None)
                    continue
                if i % 5 == 0:
                    payloads.append(encode_wav(
                        synth_pcm(i, 800 + (i % 7) * 160),
                        sample_rate=16000))
                    continue
                rate = _MP3_RATES[i % 3]
                b1 = _MP3_BR[i % 14]
                b2 = _MP3_BR[(i + 3) % 14]
                vbr = i % 2 == 1
                n = 2 + i % 5
                trunc = i % 20 == 13
                frames = b"".join(
                    build_frame(
                        bitrate_kbps=(b2 if vbr and k % 2 == 1 else b1),
                        sample_rate=rate, mono=(i % 4 == 1))
                    for k in range(n))
                pay = frames
                if not trunc and i % 7 == 3:
                    pay = build_id3v2(24 + i % 5) + pay
                if not trunc and i % 11 == 5:
                    pay = pay + b"TAG" + b"\x00" * 125
                if trunc:
                    pay = pay[:-10]
                payloads.append(pay)
            yield pd.DataFrame({
                "clip_id": ["clip-%08d" % int(i) for i in pdf["id"]],
                "bytes": payloads,
            })

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return audio_header_info(clips)


def _audio_header_census_sql() -> str:
    br = "[" + ", ".join(str(b) for b in _MP3_BR) + "]"
    rates = "[" + ", ".join(str(r) for r in _MP3_RATES) + "]"
    return f"""
WITH ids AS (SELECT range AS id FROM range({AUDIO_HDR_N})),
base AS (
  SELECT id,
         {rates}[CAST(id % 3 AS INT) + 1] AS rate,
         {br}[CAST(id % 14 AS INT) + 1] AS b1,
         {br}[CAST((id + 3) % 14 AS INT) + 1] AS b2,
         id % 2 = 1 AS vbr,
         2 + id % 5 AS n,
         id % 20 = 13 AS trunc,
         id % 4 = 1 AS mono
  FROM ids),
mp AS (
  SELECT *,
         -- last frame's bitrate decides the truncation arithmetic
         CASE WHEN vbr AND (n - 1) % 2 = 1 THEN b2 ELSE b1 END AS blast,
         144000 * (CASE WHEN vbr AND (n - 1) % 2 = 1
                        THEN b2 ELSE b1 END) // rate AS fblast
  FROM base)
SELECT printf('clip-%08d', id) AS clip_id,
       CASE WHEN id % 25 = 0 THEN NULL
            WHEN id % 5 = 0 THEN 'wav' ELSE 'mpeg' END AS fmt,
       CASE WHEN id % 25 = 0 THEN FALSE
            WHEN id % 5 = 0 THEN TRUE
            ELSE NOT trunc END AS ok,
       CASE WHEN id % 25 = 0 THEN 'no payload'
            WHEN id % 5 = 0 THEN NULL
            WHEN trunc THEN printf(
              'frame %d truncated (%d of %d bytes)',
              n - 1, fblast - 10, fblast)
            ELSE NULL END AS message,
       CAST(CASE WHEN id % 25 = 0 THEN NULL
            WHEN id % 5 = 0 THEN 16000 ELSE rate END AS INT)
         AS sample_rate,
       CAST(CASE WHEN id % 25 = 0 THEN NULL
            WHEN id % 5 = 0 THEN 1
            WHEN mono THEN 1 ELSE 2 END AS INT) AS channels,
       CAST(CASE WHEN id % 25 = 0 THEN NULL
            WHEN id % 5 = 0
              THEN (800 + (id % 7) * 160) * 1000 // 16000
            WHEN trunc THEN NULL
            ELSE n * 1152 * 1000 // rate END AS BIGINT) AS duration_ms,
       CAST(CASE WHEN id % 25 = 0 OR id % 5 = 0 THEN NULL
            WHEN trunc THEN n - 1 ELSE n END AS INT) AS n_frames,
       CAST(CASE WHEN id % 25 = 0 OR id % 5 = 0 OR trunc THEN NULL
            WHEN vbr THEN least(b1, b2) ELSE b1 END AS INT)
         AS bitrate_kbps_min,
       CAST(CASE WHEN id % 25 = 0 OR id % 5 = 0 OR trunc THEN NULL
            WHEN vbr THEN greatest(b1, b2) ELSE b1 END AS INT)
         AS bitrate_kbps_max,
       CASE WHEN id % 25 = 0 OR id % 5 = 0 OR trunc THEN NULL
            ELSE NOT vbr END AS cbr,
       CASE WHEN id % 25 = 0 OR id % 5 = 0 THEN NULL
            ELSE (NOT trunc AND id % 7 = 3) END AS id3v2,
       CASE WHEN id % 25 = 0 OR id % 5 = 0 THEN NULL
            ELSE (NOT trunc AND id % 11 = 5) END AS id3v1,
       CAST(NULL AS VARCHAR) AS profile
FROM mp
"""


ADTS_HDR_N = 900


def q_adts_header_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC ADTS structural census (round-4 verdict task #6 — the most
    common compressed-audio transport, closed honestly at the frame
    layer): `multimodal.audio_header_info` routes ADTS payloads
    through `sources/mpegaudio.audit_adts` — per-frame ISO 13818-7
    header arithmetic (1024 samples per raw data block, frame length
    from the header), exact integer durations, CRC-frame and
    multi-raw-block accounting, truncation and mid-stream
    parameter-change detection, ID3v2 prefixes. Every field including
    the damage MESSAGE text follows from frame arithmetic the oracle
    replays exactly; AAC sample decode remains the honest stub (no
    decoder ships in the container)."""
    from cerberus_cpp_spark.operators.multimodal import audio_header_info

    df = spark.range(0, ADTS_HDR_N, 1, 8)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.mpegaudio import (
            _ADTS_PROFILES,
            build_adts_frame,
            build_id3v2,
        )

        rates = (44100, 48000, 32000)
        for pdf in batches:
            payloads = []
            for i in pdf["id"]:
                i = int(i)
                if i % 23 == 0:
                    payloads.append(None)
                    continue
                rate = rates[i % 3]
                n = 3 + i % 6
                trunc = i % 9 == 4
                pchange = (not trunc) and i % 11 == 6
                frames = b"".join(
                    build_adts_frame(
                        sample_rate=(rates[(i + 1) % 3]
                                     if pchange and k == n // 2
                                     else rate),
                        channel_config=1 + i % 2,
                        profile=_ADTS_PROFILES[i % 4],
                        payload=40 + i % 17,
                        crc=(i % 7 == 0),
                        raw_blocks=(2 if i % 13 == 0 else 1))
                    for k in range(n))
                if i % 5 == 0:
                    frames = build_id3v2(24) + frames
                if trunc:
                    frames = frames[:-10]
                payloads.append(frames)
            yield pd.DataFrame({
                "clip_id": ["aac-%08d" % int(i) for i in pdf["id"]],
                "bytes": payloads,
            })

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return audio_header_info(clips)


_ADTS_HEADER_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({ADTS_HDR_N})),
base AS (
  SELECT id,
         [44100, 48000, 32000][CAST(id % 3 AS INT) + 1] AS rate,
         3 + id % 6 AS n,
         (CASE WHEN id % 7 = 0 THEN 9 ELSE 7 END) + 40 + id % 17
           AS fb,
         CASE WHEN id % 13 = 0 THEN 2 ELSE 1 END AS blocks,
         CAST(1 + id % 2 AS INT) AS chan,
         ['main', 'lc', 'ssr', 'ltp'][CAST(id % 4 AS INT) + 1]
           AS prof,
         id % 9 = 4 AS trunc,
         id % 9 <> 4 AND id % 11 = 6 AS pchange
  FROM ids
)
SELECT printf('aac-%08d', id) AS clip_id,
       CASE WHEN id % 23 = 0 THEN NULL ELSE 'adts' END AS fmt,
       CASE WHEN id % 23 = 0 THEN FALSE
            ELSE NOT (trunc OR pchange) END AS ok,
       CASE WHEN id % 23 = 0 THEN 'no payload'
            WHEN trunc THEN printf(
              'frame %d truncated (%d of %d bytes)',
              n - 1, fb - 10, fb)
            WHEN pchange THEN printf(
              'stream parameters change at frame %d', n // 2)
            ELSE NULL END AS message,
       CAST(CASE WHEN id % 23 = 0 THEN NULL ELSE rate END AS INT)
         AS sample_rate,
       CAST(CASE WHEN id % 23 = 0 THEN NULL ELSE chan END AS INT)
         AS channels,
       CAST(CASE WHEN id % 23 = 0 OR trunc OR pchange THEN NULL
            ELSE blocks * 1024 * n * 1000 // rate END AS BIGINT)
         AS duration_ms,
       CAST(CASE WHEN id % 23 = 0 THEN NULL
            WHEN trunc THEN n - 1
            WHEN pchange THEN n // 2
            ELSE n END AS INT) AS n_frames,
       CAST(NULL AS INT) AS bitrate_kbps_min,
       CAST(NULL AS INT) AS bitrate_kbps_max,
       CAST(NULL AS BOOLEAN) AS cbr,
       CASE WHEN id % 23 = 0 THEN NULL
            ELSE id % 5 = 0 END AS id3v2,
       CAST(NULL AS BOOLEAN) AS id3v1,
       CASE WHEN id % 23 = 0 THEN NULL ELSE prof END AS profile
FROM base
"""


VIDEO_HDR_N = 900


def q_video_header_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-level video validation with ZERO macroblock decode
    (`multimodal.video_header_info`): H.264 Annex-B streams get a NAL
    walk + Exp-Golomb SPS decode — REAL display dims including the
    conformance cropping window, profile/level, slice/IDR counts —
    and AVI-MJPEG containers get the RIFF demux header. Every field
    follows from spec arithmetic the oracle replays exactly
    (width = mb_w·16 − crop_r·2, etc.); planted damage (an appended
    empty NAL) must produce the exact structural message. The honest
    boundary for the stubbed h264 family, mirroring
    audio_header_census."""
    from cerberus_cpp_spark.operators.multimodal import video_header_info

    num_parts = 8
    df = spark.range(0, VIDEO_HDR_N, 1, num_parts)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.avicodec import synth_clip
        from cerberus_cpp_spark.sources.h264 import build_stream

        for pdf in batches:
            payloads = []
            for i in pdf["id"]:
                i = int(i)
                if i % 25 == 0:
                    payloads.append(None)
                    continue
                if i % 5 in (0, 1):
                    payloads.append(synth_clip(
                        i, 2 + i % 3, w=8 + 8 * (i % 2), h=16,
                        fps=5 + i % 6))
                    continue
                pay = build_stream(
                    mb_w=2 + i % 6, mb_h=2 + i % 4,
                    crop_r=i % 2, crop_b=i % 3,
                    n_slices=1 + i % 5,
                    profile=100 if i % 7 == 2 else 66)
                if i % 20 == 13:
                    pay += b"\x00\x00\x01"   # empty NAL → damaged
                payloads.append(pay)
            yield pd.DataFrame({
                "clip_id": ["clip-%08d" % int(i) for i in pdf["id"]],
                "bytes": payloads,
            })

    clips = df.mapInPandas(gen, schema="clip_id string, bytes binary")
    return video_header_info(clips)


_VIDEO_HEADER_CENSUS_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({VIDEO_HDR_N})),
base AS (
  SELECT id,
         id % 25 = 0 AS np,
         id % 25 <> 0 AND id % 5 IN (0, 1) AS avi,
         id % 20 = 13 AS damaged,
         2 + id % 6 AS mbw, 2 + id % 4 AS mbh,
         id % 2 AS cr, id % 3 AS cb,
         1 + id % 5 AS nsl
  FROM ids)
SELECT printf('clip-%08d', id) AS clip_id,
       CASE WHEN np THEN NULL
            WHEN avi THEN 'avi' ELSE 'h264' END AS fmt,
       CASE WHEN np THEN FALSE
            WHEN avi THEN TRUE ELSE NOT damaged END AS ok,
       CASE WHEN np THEN 'no payload'
            WHEN NOT avi AND damaged THEN 'empty NAL unit'
            ELSE NULL END AS message,
       CAST(CASE WHEN np OR (NOT avi AND damaged) THEN NULL
            WHEN avi THEN 8 + 8 * (id % 2)
            ELSE mbw * 16 - cr * 2 END AS INT) AS width,
       CAST(CASE WHEN np OR (NOT avi AND damaged) THEN NULL
            WHEN avi THEN 16
            ELSE mbh * 16 - cb * 2 END AS INT) AS height,
       CAST(CASE WHEN np OR (NOT avi AND damaged) THEN NULL
            WHEN avi THEN 2 + id % 3 ELSE nsl END AS INT) AS n_frames,
       CAST(CASE WHEN np OR avi OR damaged THEN NULL
            ELSE 1 END AS INT) AS n_idr,
       CAST(CASE WHEN np OR avi OR damaged THEN NULL
            WHEN id % 7 = 2 THEN 100 ELSE 66 END AS INT)
         AS profile_idc,
       CAST(CASE WHEN np OR avi OR damaged THEN NULL
            ELSE 30 END AS INT) AS level_idc,
       CAST(CASE WHEN np OR NOT avi THEN NULL
            ELSE 5 + id % 6 END AS DOUBLE) AS fps
FROM base
"""


IMG_DRIFT_N = 800


def q_img_content_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image CONTENT drift between two corpus snapshots (round 4):
    decode each snapshot once into integer-exact quality metrics and
    compare exact per-metric quantile vectors in one tagged aggregate
    (`image_checks.image_content_drift_frame`). The snapshots share
    ids/dims but use different pixel seeds, so the sharpness and luma
    populations genuinely differ; the oracle recomputes BOTH
    snapshots' per-image metrics pixel-by-pixel (two seeds of the
    gradient arithmetic) and replays quantile_cont + the rel-gap
    formula bit-for-bit. Restricted to png rows (bit-exact decode)."""
    from cerberus_cpp_spark.operators.image_checks import (
        image_content_drift_frame,
    )
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    a = image_caption_frame(spark, IMG_DRIFT_N, seed=42,
                            with_bytes=True).where("fmt = 'png'")
    b = image_caption_frame(spark, IMG_DRIFT_N, seed=99,
                            with_bytes=True).where("fmt = 'png'")
    # tolerance 0.03 sits inside the two seeds' measured gap spread
    # (max ~0.065), so BOTH drifted branches are exercised
    return image_content_drift_frame(a, b, rel_tolerance=0.03)


def _img_content_drift_sql() -> str:
    def ch(cx: int, cy: int, s: str, x: str = "tx.x",
           y: str = "ty.y") -> str:
        return f"(({cx}*{x} + {cy}*{y} + {s}) % 256)"

    def lap(cx: int, cy: int, s: str) -> str:
        return (f"ABS(4*{ch(cx, cy, s)}"
                f" - {ch(cx, cy, s, x='(tx.x-1)')}"
                f" - {ch(cx, cy, s, x='(tx.x+1)')}"
                f" - {ch(cx, cy, s, y='(ty.y-1)')}"
                f" - {ch(cx, cy, s, y='(ty.y+1)')})")

    def pop(tag: int, seed: int) -> str:
        luma = (f"299*{ch(7, 3, 'ps')} + 587*{ch(5, 11, '(ps//3)')}"
                f" + 114*{ch(13, 2, '(ps//7)')}")
        laps = (f"{lap(7, 3, 'ps')} + {lap(5, 11, '(ps//3)')}"
                f" + {lap(13, 2, '(ps//7)')}")
        return f"""
  SELECT 'luma1000_sum' AS metric, {tag} AS side,
         CAST(SUM({luma}) AS DOUBLE) AS v
  FROM (SELECT id, (id * 1103515245 + {seed}*12345 + 12345)
                     % 2147483648 AS ps,
               8 + id % 9 AS wt, 8 + id % 7 AS ht
        FROM range({IMG_DRIFT_N}) t(id)
        WHERE id % 3 = 1 AND NOT
              (id % 100 = 0 AND ((id // 100) % 6) = 2)) d,
       range(16) tx(x), range(14) ty(y)
  WHERE tx.x < d.wt AND ty.y < d.ht
  GROUP BY d.id
  UNION ALL
  SELECT 'lap_abs_sum', {tag}, CAST(SUM({laps}) AS DOUBLE)
  FROM (SELECT id, (id * 1103515245 + {seed}*12345 + 12345)
                     % 2147483648 AS ps,
               8 + id % 9 AS wt, 8 + id % 7 AS ht
        FROM range({IMG_DRIFT_N}) t(id)
        WHERE id % 3 = 1 AND NOT
              (id % 100 = 0 AND ((id // 100) % 6) = 2)) d,
       range(16) tx(x), range(14) ty(y)
  WHERE tx.x >= 1 AND tx.x <= d.wt - 2
    AND ty.y >= 1 AND ty.y <= d.ht - 2
  GROUP BY d.id"""

    probs = (0.1, 0.25, 0.5, 0.75, 0.9)
    plist = ", ".join(str(p) for p in probs)
    pr = " UNION ALL ".join(
        f"SELECT {i + 1} AS i, {p}::DOUBLE AS prob"
        for i, p in enumerate(probs)
    )
    return f"""
WITH m AS ({pop(0, 42)}
  UNION ALL{pop(1, 99)}
),
q AS (
  SELECT metric,
         quantile_cont(CASE WHEN side = 0 THEN v END,
                       [{plist}]) AS qa,
         quantile_cont(CASE WHEN side = 1 THEN v END,
                       [{plist}]) AS qb
  FROM m GROUP BY metric),
pr AS ({pr})
SELECT q.metric, pr.prob, qa[pr.i] AS q_a, qb[pr.i] AS q_b,
       abs(qa[pr.i] - qb[pr.i])
         / greatest(abs(qa[pr.i]), abs(qb[pr.i]), 1e-12) AS rel_gap,
       (abs(qa[pr.i] - qb[pr.i])
         / greatest(abs(qa[pr.i]), abs(qb[pr.i]), 1e-12)) > 0.03
         AS drifted
FROM q, pr
"""


IMG_BURST_N = 300


def q_img_heif_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-image HEIF (burst/stack) validation: lossless AVIF stacks
    of 1-3 frames per clip through `multimodal.heif_burst_frames`.
    Lossless decode is deterministic, so the oracle predicts every
    frame's dims AND pixel checksum from the gradient arithmetic;
    truncated clips (id%20==7) must drop their OWN rows only."""
    from cerberus_cpp_spark.operators.multimodal import heif_burst_frames

    num_parts = 8
    df = spark.range(0, IMG_BURST_N, 1, num_parts)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.libheif import encode_heif_burst

        for pdf in batches:
            payloads = []
            for i in pdf["id"]:
                i = int(i)
                frames = [
                    synth_pixels(pixel_seed(i * 10 + k, 42),
                                 8 + (i + k) % 9, 8 + (i + k) % 7)
                    for k in range(1 + i % 3)
                ]
                blob = encode_heif_burst(frames, "avif", lossless=True)
                payloads.append(blob[:50] if i % 20 == 7 else blob)
            yield pd.DataFrame({
                "image_id": ["img-%012d" % int(i) for i in pdf["id"]],
                "bytes": payloads,
            })

    clips = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return heif_burst_frames(clips)


_IMG_HEIF_BURST_SQL = f"""
WITH ids AS (SELECT range AS id FROM range({IMG_BURST_N})),
frames AS (
  SELECT id, fk.k AS frame_idx,
         ((id*10 + fk.k) * 1103515245 + 42*12345 + 12345)
           % 2147483648 AS ps,
         8 + (id + fk.k) % 9 AS wt, 8 + (id + fk.k) % 7 AS ht
  FROM ids, range(3) fk(k)
  WHERE fk.k < 1 + id % 3 AND id % 20 <> 7),
sums AS (
  SELECT f.id, f.frame_idx, f.wt, f.ht,
         SUM(((7*tx.x + 3*ty.y + ps) % 256)
           + ((5*tx.x + 11*ty.y + ps//3) % 256)
           + ((13*tx.x + 2*ty.y + ps//7) % 256)) AS s
  FROM frames f, range(16) tx(x), range(14) ty(y)
  WHERE tx.x < f.wt AND ty.y < f.ht
  GROUP BY f.id, f.frame_idx, f.wt, f.ht)
SELECT printf('img-%012d', id) AS image_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(wt AS INT) AS w, CAST(ht AS INT) AS h,
       CAST(s AS BIGINT) AS px_sum
FROM sums
"""


IMG_CONFLICT_N = 3000


def q_img_caption_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal conflict detection over the input_hint table in ONE
    melted scan (`checks.cross_modal_conflicts`): phash values with
    conflicting captions (the hot-phash plant: one perceptual hash,
    many captions) and captions stamped on many image_ids (a planted
    boilerplate-caption family id%40==7 plus the seeded control-char
    caption violations, which genuinely repeat). The oracle replays
    the full frame generation and the melt+distinct aggregation."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_CONFLICT_N).withColumn(
        "caption",
        F.expr("IF(id % 40 = 7, format_string('dup caption %d',"
               " cast(id % 5 as int)), caption)"),
    )
    return checks.cross_modal_conflicts(df.drop("id"))


_IMG_CAPTION_CONFLICTS_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {IMG_CONFLICT_N})
), t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 50 = 0 THEN 6510615555426900570
         ELSE mix END AS phash,
    CASE WHEN id % 40 = 7 THEN printf('dup caption %d', id % 5)
         WHEN id % 100 = 0 AND (id // 100) % 6 = 3 THEN NULL
         WHEN id % 100 = 0 AND (id // 100) % 6 = 4
           THEN 'x' || chr(1) || 'y'
         ELSE printf('caption %d about image number %d',
                     id % 997, id) END AS caption
  FROM g
), m AS (
  SELECT 'phash~caption' AS kind, CAST(phash AS VARCHAR) AS key,
         caption AS other FROM t
  UNION ALL
  SELECT 'caption~image_id', caption, image_id FROM t
)
SELECT kind, key, COUNT(*) AS n_rows,
       COUNT(DISTINCT other) AS n_distinct_other
FROM m WHERE key IS NOT NULL AND other IS NOT NULL
GROUP BY kind, key HAVING COUNT(DISTINCT other) >= 2
"""


IMG_AUGMENT_N = 2000


def q_img_augment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic augmentation chain (center-crop 10×8 → mirror →
    90° clockwise) over real payloads. The oracle replays the FULL
    coordinate algebra per pixel: output (xr, yr) maps to source
    (x0 + cw−1−yr, y0 + ch−1−xr), and the POSITION-weighted luma
    checksum (pos_sum) is sensitive to any flip/rotation/crop
    misalignment — a plain pixel sum would pass even if the flip or
    rotation were wrong, since those merely permute pixels."""
    from cerberus_cpp_spark.operators import image_transform as _it
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_AUGMENT_N,
                             with_bytes=True, plant_lossy=True)
    return _it.augment_images(
        df, crop=("center", 10, 8), flip_h=True, rot90=90
    ).select("image_id", "out_w", "out_h", "out_fmt", "status",
             "px_sum", "pos_sum")


def _img_augment_census_sql() -> str:
    # source coordinate of output pixel (xr, yr) after
    # crop(center 10x8) -> flip_h -> rot90(cw):
    #   sx = x0 + cw-1-yr,  sy = y0 + ch-1-xr
    sx, sy = "(x0 + cw - 1 - t.yr)", "(y0 + ch - 1 - t.xr)"
    r = f"((7*{sx} + 3*{sy} + ps) % 256)"
    g = f"((5*{sx} + 11*{sy} + (ps//3)) % 256)"
    b = f"((13*{sx} + 2*{sy} + (ps//7)) % 256)"
    return f"""
WITH ids AS (SELECT range AS id FROM range({IMG_AUGMENT_N})),
base AS (
  SELECT id,
         (id * 1103515245 + 42*12345 + 12345) % 2147483648 AS ps,
         8 + id % 9 AS wt, 8 + id % 7 AS ht,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 2 THEN 'heif'
              ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1]
         END AS fmt,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 5 THEN NULL
              ELSE printf('img-%012d', id) END AS image_id
  FROM ids),
dims AS (
  SELECT *, least(10, wt) AS cw, 8 AS ch,
         (wt - least(10, wt)) // 2 AS x0, (ht - 8) // 2 AS y0,
         CASE WHEN fmt = 'heif' THEN 'no_payload'
              WHEN id % 30 = 8 THEN 'decode_unsupported'
              ELSE 'ok' END AS status,
         (fmt = 'png' OR (fmt = 'webp' AND id % 30 NOT IN (8, 23)))
           AS lossless
  FROM base),
sums AS (
  SELECT d.id,
         SUM({r} + {g} + {b}) AS psum,
         SUM((t.yr * d.ch + t.xr)
             * (299*{r} + 587*{g} + 114*{b})) AS wsum
  FROM dims d,
       LATERAL (SELECT tx.x AS xr, ty.y AS yr
                FROM range(8) tx(x), range(10) ty(y)
                WHERE ty.y < d.cw) t
  WHERE d.status = 'ok' AND d.lossless
  GROUP BY d.id)
SELECT d.image_id,
       CAST(CASE WHEN status = 'ok' THEN ch END AS INT) AS out_w,
       CAST(CASE WHEN status = 'ok' THEN cw END AS INT) AS out_h,
       CASE WHEN status = 'ok' THEN fmt END AS out_fmt,
       status,
       CAST(s.psum AS BIGINT) AS px_sum,
       CAST(s.wsum AS BIGINT) AS pos_sum
FROM dims d LEFT JOIN sums s USING (id)
"""


IMG_QUALITY_N = 2000


def q_img_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality profiling (blur / blank / grayscale detection for
    training-data filtering): every metric is integer-exact (scaled
    ITU-R 601 luma sums, interior 4-neighbour |Laplacian| energy,
    exact distinct-color count), so the DuckDB oracle recomputes each
    decoded pixel AND each Laplacian tap from the planted gradient
    arithmetic via lateral range-joins — full per-pixel verification
    of the decode+metrics path, not just plumbing. Restricted to
    bit-exact rows (png + the payload-less 'heif' plants) because
    lossy decode output is not SQL-predictable; lossy-row routing is
    covered by img_resize_census/img_codec_census."""
    from cerberus_cpp_spark.operators import image_transform as _it
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_QUALITY_N, with_bytes=True)
    return _it.image_quality_profile(df.where("fmt IN ('png','heif')"))


def _img_quality_profile_sql() -> str:
    def ch(cx: int, cy: int, s: str, x: str = "tx.x",
           y: str = "ty.y") -> str:
        return f"(({cx}*{x} + {cy}*{y} + {s}) % 256)"

    def lap(cx: int, cy: int, s: str) -> str:
        return (f"ABS(4*{ch(cx, cy, s)}"
                f" - {ch(cx, cy, s, x='(tx.x-1)')}"
                f" - {ch(cx, cy, s, x='(tx.x+1)')}"
                f" - {ch(cx, cy, s, y='(ty.y-1)')}"
                f" - {ch(cx, cy, s, y='(ty.y+1)')})")

    r, g, b = ch(7, 3, "ps"), ch(5, 11, "(ps//3)"), ch(13, 2, "(ps//7)")
    laps = f"{lap(7, 3, 'ps')} + {lap(5, 11, '(ps//3)')}" \
           f" + {lap(13, 2, '(ps//7)')}"
    return f"""
WITH ids AS (SELECT range AS id FROM range({IMG_QUALITY_N})),
base AS (
  SELECT id,
         (id * 1103515245 + 42*12345 + 12345) % 2147483648 AS ps,
         8 + id % 9 AS wt, 8 + id % 7 AS ht,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 2 THEN 'heif'
              ELSE ['jpeg','png','webp'][CAST(id % 3 AS INT) + 1]
         END AS fmt,
         CASE WHEN id % 100 = 0 AND ((id // 100) % 6) = 5 THEN NULL
              ELSE printf('img-%012d', id) END AS image_id
  FROM ids),
sel AS (SELECT * FROM base WHERE fmt IN ('png', 'heif')),
pix AS (
  SELECT s.id, {r} AS r, {g} AS g, {b} AS b
  FROM sel s, range(16) tx(x), range(14) ty(y)
  WHERE s.fmt = 'png' AND tx.x < s.wt AND ty.y < s.ht),
agg AS (
  SELECT id, SUM(299*r + 587*g + 114*b) AS lsum,
         MIN(299*r + 587*g + 114*b) AS lmin,
         MAX(299*r + 587*g + 114*b) AS lmax,
         COUNT(DISTINCT r*65536 + g*256 + b) AS nd,
         BOOL_AND(r = g AND g = b) AS gray
  FROM pix GROUP BY id),
lp AS (
  SELECT s.id, SUM({laps}) AS lap
  FROM sel s, range(16) tx(x), range(14) ty(y)
  WHERE s.fmt = 'png'
    AND tx.x >= 1 AND tx.x <= s.wt - 2
    AND ty.y >= 1 AND ty.y <= s.ht - 2
  GROUP BY s.id)
SELECT s.image_id,
       CASE WHEN s.fmt = 'heif' THEN 'no_payload' ELSE 'ok' END AS status,
       CAST(CASE WHEN s.fmt = 'png' THEN s.wt END AS INT) AS w,
       CAST(CASE WHEN s.fmt = 'png' THEN s.ht END AS INT) AS h,
       CAST(a.lsum AS BIGINT) AS luma1000_sum,
       CAST(a.lmin AS BIGINT) AS luma1000_min,
       CAST(a.lmax AS BIGINT) AS luma1000_max,
       CAST(l.lap AS BIGINT) AS lap_abs_sum,
       CAST(a.nd AS BIGINT) AS n_distinct_rgb,
       a.gray AS is_grayscale
FROM sel s LEFT JOIN agg a USING (id) LEFT JOIN lp l USING (id)
"""


def q_img_codec_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec census over the REAL payload bytes (round 4): sniff the
    container codec of every blob (png / jpeg / webp-VP8L /
    webp-lossy-VP8) and attempt a full decode, counting rows by
    (codec, decodable). Makes the codec layer itself an
    oracle-counted contract surface: the id%30==23 rows are REAL
    lossy VP8 from the in-repo RFC 6386 encoder (decodable), the
    id%30==8 rows are well-formed-but-undecodable lossy containers,
    and the seeded 'heif' violation rows carry no payload. All counts
    follow from id arithmetic."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_CODEC_CENSUS_N,
                             with_bytes=True, plant_lossy=True)
    pkg_parent = PKG_PARENT

    def census(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            decode_image,
            sniff_format,
        )
        from cerberus_cpp_spark.sources.webpcodec import webp_fourcc

        for pdf in batches:
            codecs, oks = [], []
            for blob in pdf["bytes"]:
                if blob is None:
                    codecs.append("none")
                    oks.append(False)
                    continue
                blob = bytes(blob)
                fourcc = webp_fourcc(blob)
                if fourcc == "VP8L":
                    codec = "vp8l"
                elif fourcc == "VP8 ":
                    codec = "vp8"
                else:
                    codec = sniff_format(blob) or "unknown"
                try:
                    decode_image(blob)
                    ok = True
                except ValueError:
                    ok = False
                codecs.append(codec)
                oks.append(ok)
            yield pd.DataFrame({"codec": codecs, "decodable": oks})

    return (
        df.select("bytes")
        .mapInPandas(census, schema="codec string, decodable boolean")
        .groupBy("codec", "decodable")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


_IMG_CODEC_CENSUS_SQL = f"""
WITH g AS (SELECT range AS id FROM range(0, {IMG_CODEC_CENSUS_N})),
t AS (
  SELECT id,
    CASE
      WHEN id % 100 = 0 AND (id // 100) % 6 = 2 THEN 'none'
      WHEN id % 30 = 8 THEN 'vp8'
      WHEN id % 30 = 23 THEN 'vp8'
      WHEN id % 3 = 0 THEN 'jpeg'
      WHEN id % 3 = 1 THEN 'png'
      ELSE 'vp8l' END AS codec,
    NOT (id % 30 = 8 OR (id % 100 = 0 AND (id // 100) % 6 = 2))
      AS decodable
  FROM g
)
SELECT codec, decodable, CAST(count(*) AS BIGINT) AS cnt
FROM t GROUP BY codec, decodable
"""


PHASH_PIXEL_N = 1000
PHASH_PIXEL_GROUPS = 250


def q_phash_pixel_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash uniqueness computed from DECODED payload
    pixels (north_star's phash check with the hash actually derived
    from content): 1000 PNG payloads of deterministic white-noise
    images, seeds planted so ids {g, g+250, g+500, g+750} carry
    IDENTICAL bytes. Identical bytes ⇒ identical pHash; distinct
    noise seeds are pairwise-distinct at min hamming 16 (pinned in
    tests/test_image_checks.py), so the phash-equality groups equal
    the planted groups EXACTLY and DuckDB predicts the full grouping
    from id arithmetic without decoding anything."""
    from cerberus_cpp_spark.operators.image_checks import pixel_phash

    n, groups = PHASH_PIXEL_N, PHASH_PIXEL_GROUPS
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_png,
            synth_noise_pixels,
        )

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame({
                "image_id": [f"img-{i:06d}" for i in ids],
                "bytes": [
                    encode_png(synth_noise_pixels(i % groups, 16, 16))
                    for i in ids
                ],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    ph = pixel_phash(imgs)
    w = W.partitionBy("phash")
    return ph.select(
        "image_id",
        F.count(F.lit(1)).over(w).alias("n_same_phash"),
        F.min("image_id").over(w).alias("keep_id"),
    )


_PHASH_PIXEL_SQL = f"""
SELECT printf('img-%06d', g.range) AS image_id,
       CAST({PHASH_PIXEL_N // PHASH_PIXEL_GROUPS} AS BIGINT)
         AS n_same_phash,
       printf('img-%06d', g.range % {PHASH_PIXEL_GROUPS}) AS keep_id
FROM range(0, {PHASH_PIXEL_N}) g
"""


AUDIO_STATS_N = 300
VIDEO_FRAMES_N = 120


def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path: WAV-PCM clips synthesized executor-
    side (integer sawtooth mixtures, sources/wavcodec.synth_pcm),
    decoded by the in-repo RIFF/WAVE parser inside an Arrow-batched
    stage, reduced to integer statistics (sample count, sum of
    squares, zero crossings) that DuckDB regenerates bit-exactly from
    the same id arithmetic — no libm anywhere, so no float drift."""
    from cerberus_cpp_spark.operators.multimodal import audio_features
    from cerberus_cpp_spark.sources.clipgen import audio_clip_frame

    clips = audio_clip_frame(spark, AUDIO_STATS_N)
    return audio_features(clips).select(
        "clip_id", "sample_rate", "n_samples", "zero_crossings",
        "sumsq")


_AUDIO_STATS_SQL = f"""
WITH c AS (SELECT range AS cid FROM range(0, {AUDIO_STATS_N})),
s AS (  -- cross join + filter: DuckDB range() is not correlatable
  SELECT c.cid, r.range AS i
  FROM c, range(0, 4000) r
  WHERE r.range < 1000 + (c.cid % 7) * 500
),
w AS (
  SELECT cid, i,
         ((i % (20 + cid % 41)) * 16000 // (20 + cid % 41) - 8000)
       + ((i % (50 + cid % 97)) * 8000 // (50 + cid % 97) - 4000) AS v
  FROM s
),
lagged AS (
  SELECT cid, v,
         lag(v) OVER (PARTITION BY cid ORDER BY i) AS pv
  FROM w
)
SELECT printf('clip-%06d', cid) AS clip_id,
       16000 AS sample_rate,
       count(*) AS n_samples,
       CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT)
         AS zero_crossings,
       CAST(sum(v * v) AS BIGINT) AS sumsq
FROM lagged GROUP BY cid
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode path: AVI-MJPEG clips (frames are baseline
    JPEGs from the in-repo codec) demuxed by the RIFF parser; every
    sampled frame is actually JPEG-decoded for its dimensions, so
    the oracle row (frame_w/h from id arithmetic) fails if either
    the container demux or the image codec regresses."""
    from cerberus_cpp_spark.operators.multimodal import sample_frames
    from cerberus_cpp_spark.sources.clipgen import video_clip_frame

    clips = video_clip_frame(spark, VIDEO_FRAMES_N)
    return sample_frames(clips, every_n=2, max_frames=8).select(
        "clip_id", "frame_idx", "ts_sec", "frame_w", "frame_h")


_VIDEO_FRAMES_SQL = f"""
WITH c AS (SELECT range AS cid FROM range(0, {VIDEO_FRAMES_N})),
f AS (
  SELECT c.cid, r.range AS fi
  FROM c, range(0, 6) r
  WHERE r.range < 2 + c.cid % 5
)
SELECT printf('clip-%06d', cid) AS clip_id,
       CAST(fi AS INT) AS frame_idx,
       fi / 30.0 AS ts_sec,
       CAST(8 + cid % 5 AS INT) AS frame_w,
       CAST(8 + cid % 4 AS INT) AS frame_h
FROM f WHERE fi % 2 = 0
"""


IMG_ANIM_N = 1500


def q_img_anim_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WebP frame validation (round 4, closing the
    container-format gap the still-image checks could not see):
    1,500 REAL multi-frame VP8X|ANIM|ANMF containers muxed by the
    in-repo encoder (``sources/animgen.py``), demuxed/decoded by the
    in-repo ANIM decoder, one contract row per frame. Every ANMF
    header field (geometry, duration), the VP8X canvas dims, and
    per-frame RAW-subframe pixel equality vs the re-synthesized
    reference are pure functions of the clip id, so DuckDB replays
    the full per-frame table from arithmetic. Plants: id%20==11 →
    truncated container (per-clip skip — those ids emit NO rows);
    id%30==13 → frame 1 stored off-seed (pixels_ok=false for frame 1
    and ONLY frame 1 — raw-subframe compare, not composed canvas)."""
    from cerberus_cpp_spark.operators.multimodal import animation_frames
    from cerberus_cpp_spark.sources.animgen import anim_clip_frame

    # default (full) parallelism, unlike the other generated frames'
    # 8-partition convention: this query is COMPUTE-bound (pure-Python
    # VP8L encode+decode per frame), measured 3.5 s at 32 parts vs
    # 4.1 s at 8 — worker spin-up is not the dominant cost here
    clips = anim_clip_frame(spark, IMG_ANIM_N)
    return animation_frames(clips, reference="animgen")


_IMG_ANIM_FRAMES_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_ANIM_N})),
f AS (
  SELECT g.i, r.range AS fi
  FROM g, range(0, 5) r
  WHERE r.range < 2 + g.i % 4 AND g.i % 20 <> 11
)
SELECT printf('img-%012d', i) AS image_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(40 + 10 * ((i + fi) % 5) AS INT) AS duration_ms,
       CAST(4 + (i + 3 * fi) % 5 AS INT) AS frame_w,
       CAST(4 + (i + 5 * fi) % 4 AS INT) AS frame_h,
       CAST(12 + (i % 3) * 2 AS INT) AS canvas_w,
       CAST(12 + (i % 5) * 2 AS INT) AS canvas_h,
       NOT (i % 30 = 13 AND fi = 1) AS pixels_ok
FROM f
"""


IMG_ALPHA_N = 2000


def q_img_alpha_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-feature census over the EXTENDED WebP still/animated
    families (round 4): bare opaque VP8L / VP8L-with-alpha /
    VP8X-wrapped lossless RGBA / VP8X+ALPH+VP8 lossy stills
    (``animgen.vp8x_still_payload``, ``i % 4``), animated containers
    at ``i % 20 == 17``, and truncated payloads at ``i % 50 == 33``
    (container walk raises → counted as ``variant='invalid'``, never
    job-killing). Each payload's (variant, has_alpha, has_animation)
    comes from the in-repo header parser (``webpx.webp_features``,
    libwebp-pinned) and ``decodable`` from a full RGBA decode — so
    the census is an oracle-counted contract over the feature parser
    AND every extended decode path at once."""
    df = spark.range(0, IMG_ALPHA_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def census(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.animgen import (
            anim_payload,
            vp8x_still_payload,
        )
        from cerberus_cpp_spark.sources.webpx import (
            decode_webp_rgba_any,
            webp_features,
        )

        for pdf in batches:
            rows = {"variant": [], "has_alpha": [],
                    "has_animation": [], "decodable": []}
            for i in pdf["id"]:
                i = int(i)
                if i % 50 == 33:
                    blob = vp8x_still_payload(i)[:-5]
                elif i % 20 == 17:
                    blob = anim_payload(i)
                else:
                    blob = vp8x_still_payload(i)
                try:
                    feats = webp_features(blob)
                    decode_webp_rgba_any(blob)
                    rows["variant"].append(feats["variant"].strip())
                    rows["has_alpha"].append(feats["has_alpha"])
                    rows["has_animation"].append(feats["has_animation"])
                    rows["decodable"].append(True)
                except ValueError:
                    rows["variant"].append("invalid")
                    rows["has_alpha"].append(False)
                    rows["has_animation"].append(False)
                    rows["decodable"].append(False)
            yield pd.DataFrame(rows)

    return (
        df.mapInPandas(census, schema="variant string, "
                       "has_alpha boolean, has_animation boolean, "
                       "decodable boolean")
        .groupBy("variant", "has_alpha", "has_animation", "decodable")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


_IMG_ALPHA_CENSUS_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_ALPHA_N})),
t AS (
  SELECT i,
    CASE WHEN i % 50 = 33 THEN 'invalid'
         WHEN i % 20 = 17 THEN 'VP8X'
         WHEN i % 4 IN (0, 1) THEN 'VP8L'
         ELSE 'VP8X' END AS variant,
    CASE WHEN i % 50 = 33 THEN FALSE
         WHEN i % 20 = 17 THEN TRUE
         ELSE i % 4 <> 0 END AS has_alpha,
    (i % 50 <> 33 AND i % 20 = 17) AS has_animation,
    i % 50 <> 33 AS decodable
  FROM g
)
SELECT variant, has_alpha, has_animation, decodable,
       CAST(count(*) AS BIGINT) AS cnt
FROM t GROUP BY 1, 2, 3, 4
"""


IMG_HEADER_N = 3000


def _img_header_fixture(spark: SparkSession) -> DataFrame:
    """Shared fixture for img_header_consistency / img_tiered_check:
    the real-payload frame with w/h rewritten to the true thumb dims,
    then the header-check plants — id%40==21 w off by one (all odd
    ids, so never colliding with the even id%100==0 'heif' family),
    id%60==35 fmt rewritten to 'png' AFTER payload synthesis (those
    ids are always webp payloads)."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, IMG_HEADER_N, with_bytes=True,
                             plant_lossy=True)
    return (df
            .withColumn("w", F.expr(
                "CAST(IF(id % 40 = 21, 9 + id % 9, 8 + id % 9) AS INT)"))
            .withColumn("h", F.expr("CAST(8 + id % 7 AS INT)"))
            .withColumn("fmt", F.expr("IF(id % 60 = 35, 'png', fmt)")))


# the three header-visible violation families (shared by both
# oracles; expects a CTE `g(id)` in scope). The fmt/w families hit
# only ODD ids (35 mod 60 / 21 mod 40), the no-payload family only
# EVEN ids (multiples of 100) — provably disjoint.
_HEADER_VIOL_FAMILIES = """
  SELECT printf('img-%012d', id) AS image_id, '^.bytes' AS path,
         'undecodable payload: no payload' AS message
  FROM g WHERE id % 100 = 0 AND (id // 100) % 6 = 2
  UNION ALL
  SELECT printf('img-%012d', id), '^.fmt',
         'payload is webp, metadata says png'
  FROM g WHERE id % 60 = 35
  UNION ALL
  SELECT printf('img-%012d', id), '^.w',
         printf('payload width %d != metadata %d',
                8 + id % 9, 9 + id % 9)
  FROM g WHERE id % 40 = 21
"""


def q_img_header_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADER-ONLY metadata consistency (the 10^12-row first pass:
    container-header parse, no pixel decode — ``image_header_info``).
    Fixture: the real-payload frame with w/h rewritten to the actual
    thumb dims, then three planted families: id%100==0 kind 2 keeps
    its 'heif' rows (no payload → undecodable), id%40==21 gets w
    metadata off by one (dim mismatch caught from the header, and for
    id%30∈{8,23} rows that means dims verified on LOSSY payloads the
    decode path can't even open), id%60==35 rewrites fmt to 'png'
    AFTER payload synthesis (always webp payloads at those ids → fmt
    mismatch). All violations are id arithmetic for the oracle."""
    from cerberus_cpp_spark.operators.image_checks import (
        metadata_consistency_violations,
    )

    return metadata_consistency_violations(
        _img_header_fixture(spark), header_only=True)


_IMG_HEADER_SQL = f"""
WITH g AS (SELECT range AS id FROM range(0, {IMG_HEADER_N})),
v AS ({_HEADER_VIOL_FAMILIES})
SELECT image_id, path, message FROM v
"""


def q_img_tiered_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PHASE image validation (the at-scale shape: header-only
    pass over every row, full decode only on a deterministic sample).
    Same fixture + plants as img_header_consistency, PLUS a
    deep-corruption family at id%75==28 (always png rows, always
    inside the id%25==3 sample): the payload keeps its valid
    signature+IHDR (header pass sees nothing wrong) but the body is
    overwritten — only the sampled full decode catches it. Sampled
    lossy rows (id%30∈{8,23} where id%25==3) must NOT be flagged:
    decode_unsupported is a missing codec, not corruption."""
    from cerberus_cpp_spark.operators.image_checks import (
        tiered_image_check,
    )

    df = _img_header_fixture(spark).withColumn("bytes", F.expr(
        "IF(id % 75 = 28, concat(substring(bytes, 1, 33), "
        "CAST(repeat(' ', CAST(length(bytes) AS INT) - 33) "
        "AS BINARY)), bytes)"))
    return tiered_image_check(df, sample_pred=F.expr("id % 25 = 3"))


_IMG_TIERED_SQL = f"""
WITH g AS (SELECT range AS id FROM range(0, {IMG_HEADER_N})),
v AS ({_HEADER_VIOL_FAMILIES}
  UNION ALL
  SELECT printf('img-%012d', id), '^.bytes',
         'sampled deep-decode failed'
  FROM g WHERE id % 75 = 28
)
SELECT image_id, path, message FROM v
"""


IMG_GIF_N = 1500


def q_img_gif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF container census (round 4 — the 4th real image codec,
    ImageIO-interop-pinned bit-exact both directions): deterministic
    payload families by id — static (plain and interlaced), animated
    with per-frame offsets/delays, animated with transparency +
    restore-background disposal, and truncated (parse raises →
    counted as 'invalid', never job-killing). Each payload is fully
    frame-decoded and composed in one Arrow stage; counts by
    (kind, n_frames, decodable) follow from id arithmetic."""
    df = spark.range(0, IMG_GIF_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def census(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.gifcodec import (
            GifFrame,
            decode_gif_frames,
            encode_gif,
            encode_gif_anim,
        )
        from cerberus_cpp_spark.sources.imagegen import (
            pixel_seed,
            synth_pixels,
        )

        def payload(i: int) -> bytes:
            fam = i % 4
            if fam in (0, 2):
                px = synth_pixels(pixel_seed(i, 42),
                                  8 + i % 9, 8 + i % 7)
                blob = encode_gif(px, interlace=(fam == 2))
            elif fam == 1:
                frames = []
                for fi in range(2 + i % 3):
                    fw, fh = 4 + (i + fi) % 5, 4 + (i + 2 * fi) % 4
                    frames.append(GifFrame(
                        synth_pixels(pixel_seed(i * 7 + fi, 42), fw, fh),
                        delay_cs=2 + (i + fi) % 5,
                        x=(i + fi) % 3, y=(i + 2 * fi) % 4))
                blob = encode_gif_anim(frames, canvas=(10, 10))
            else:
                base = synth_pixels(pixel_seed(i * 7, 42), 8, 6)
                patch = synth_pixels(pixel_seed(i * 7 + 1, 42), 4, 3)
                xs = np.arange(4)[None, :]
                ys = np.arange(3)[:, None]
                mask = ((xs + ys + i) % 3 == 0)
                blob = encode_gif_anim([
                    GifFrame(base, delay_cs=3),
                    GifFrame(patch, delay_cs=4, x=2, y=1, disposal=2,
                             transparent_mask=mask)])
            if i % 20 == 11:
                blob = blob[:-5]
            return blob

        for pdf in batches:
            rows = {"kind": [], "n_frames": [], "decodable": []}
            for i in pdf["id"]:
                i = int(i)
                try:
                    frames = decode_gif_frames(payload(i))
                    rows["kind"].append(
                        "animated" if len(frames) > 1 else "static")
                    rows["n_frames"].append(len(frames))
                    rows["decodable"].append(True)
                except ValueError:
                    rows["kind"].append("invalid")
                    rows["n_frames"].append(0)
                    rows["decodable"].append(False)
            out = pd.DataFrame(rows)
            out["n_frames"] = out["n_frames"].astype("int32")
            yield out

    return (
        df.mapInPandas(census, schema="kind string, n_frames int, "
                       "decodable boolean")
        .groupBy("kind", "n_frames", "decodable")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


_IMG_GIF_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_GIF_N})),
t AS (
  SELECT i,
    CASE WHEN i % 20 = 11 THEN 'invalid'
         WHEN i % 4 IN (1, 3) THEN 'animated'
         ELSE 'static' END AS kind,
    CAST(CASE WHEN i % 20 = 11 THEN 0
              WHEN i % 4 = 1 THEN 2 + i % 3
              WHEN i % 4 = 3 THEN 2
              ELSE 1 END AS INT) AS n_frames,
    i % 20 <> 11 AS decodable
  FROM g
)
SELECT kind, n_frames, decodable, CAST(count(*) AS BIGINT) AS cnt
FROM t GROUP BY 1, 2, 3
"""


IMG_BMPTIFF_N = 1600


def q_img_bmp_tiff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP + TIFF container census (round 4 — the 5th and 6th real
    image codecs, ImageIO-interop-pinned bit-exact both directions):
    eight deterministic payload families by id — BMP 24-bit
    bottom-up, BMP RLE8 palette, BMP 32-bit top-down, BMP 4-bit
    palette, TIFF LZW+predictor, TIFF PackBits palette, TIFF tiled
    big-endian Deflate, TIFF uncompressed gray — plus an id%20==11
    truncation plant. Each row is decoded through the sniffing
    dispatch (``imagegen.decode_image``), compared bit-exactly
    against the regenerated reference pixels, AND header-parsed
    (``image_header_info``): truncation kills the decode but never
    the header walk in these containers, so header_ok stays true on
    invalid rows — the tiered-validation property the header-only
    checks rely on. Counts by (fmt, family, decodable, header_ok)
    follow from id arithmetic."""
    df = spark.range(0, IMG_BMPTIFF_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def census(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.bmpcodec import encode_bmp
        from cerberus_cpp_spark.sources.imagegen import (
            decode_image,
            image_header_info,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.tiffcodec import encode_tiff

        def make(i: int):
            w, h = 8 + i % 9, 8 + i % 7
            fam = i % 8
            px = synth_pixels(pixel_seed(i, 42), w, h)
            if fam == 0:
                return "bmp", px, encode_bmp(px)
            if fam == 1:
                return "bmp", px, encode_bmp(px, bpp=8, rle=True)
            if fam == 2:
                return "bmp", px, encode_bmp(px, bpp=32, top_down=True)
            if fam == 3:
                pal = synth_pixels(pixel_seed(i * 3 + 1, 42),
                                   4, 4).reshape(16, 3)
                xs = np.arange(w)[None, :]
                ys = np.arange(h)[:, None]
                ref = pal[(xs + ys + i) % 16]
                return "bmp", ref, encode_bmp(ref, bpp=4)
            if fam == 4:
                return "tiff", px, encode_tiff(
                    px, compression="lzw", predictor=True)
            if fam == 5:
                return "tiff", px, encode_tiff(
                    px, mode="palette", compression="packbits")
            if fam == 6:
                return "tiff", px, encode_tiff(
                    px, tile=16, compression="deflate", byte_order=">")
            gray = np.repeat(px[:, :, :1], 3, axis=2)
            return "tiff", gray, encode_tiff(gray, mode="gray")

        for pdf in batches:
            rows = {"fmt": [], "family": [], "decodable": [],
                    "header_ok": []}
            for i in pdf["id"]:
                i = int(i)
                w, h = 8 + i % 9, 8 + i % 7
                fmt, ref, blob = make(i)
                if i % 20 == 11:
                    blob = blob[:-5]
                try:
                    hfmt, hw, hh = image_header_info(blob)
                    header_ok = (hfmt, hw, hh) == (fmt, w, h)
                except ValueError:
                    header_ok = False
                try:
                    dfmt, px = decode_image(blob)
                    decodable = (dfmt == fmt
                                 and np.array_equal(px, ref))
                except ValueError:
                    decodable = False
                rows["fmt"].append(fmt)
                rows["family"].append(i % 8)
                rows["decodable"].append(decodable)
                rows["header_ok"].append(header_ok)
            out = pd.DataFrame(rows)
            out["family"] = out["family"].astype("int32")
            yield out

    return (
        df.mapInPandas(census, schema="fmt string, family int, "
                       "decodable boolean, header_ok boolean")
        .groupBy("fmt", "family", "decodable", "header_ok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


_IMG_BMPTIFF_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_BMPTIFF_N})),
t AS (
  SELECT i,
    CASE WHEN i % 8 IN (0, 1, 2, 3) THEN 'bmp' ELSE 'tiff' END AS fmt,
    CAST(i % 8 AS INT) AS family,
    i % 20 <> 11 AS decodable,
    TRUE AS header_ok
  FROM g
)
SELECT fmt, family, decodable, header_ok,
       CAST(count(*) AS BIGINT) AS cnt
FROM t GROUP BY 1, 2, 3, 4
"""


IMG_EXIF_N = 1500


def q_img_exif_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF-vs-header consistency over four carrier formats (round 4
    — ``sources/imagemeta.py`` + ``exif_consistency_violations``):
    every row carries an embedded EXIF block (JPEG APP1, PNG eXIf,
    TIFF IFD tags, WebP EXIF chunk) with PixelX/YDimension and
    Orientation; plants by id — i%20==3 dims off by one (violation),
    i%20==7 orientation 6 with display-swapped dims (ACCEPTED — the
    orientation-aware rule), i%20==13 swapped dims without a rotating
    orientation (violation unless the thumb is square), i%20==17
    orientation 9 outside the EXIF vocabulary (violation). Header +
    metadata container walks only, no pixel decode — the same
    10^12-row tier as img_header_consistency. Exact id-arithmetic
    oracle down to the message strings."""
    df = spark.range(0, IMG_EXIF_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.tiffcodec import encode_tiff
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

        def payload(i: int) -> bytes:
            w, h = 8 + i % 9, 8 + i % 7
            px = synth_pixels(pixel_seed(i, 42), w, h)
            ew, eh, o = w, h, 1
            if i % 20 == 3:
                ew = w + 1
            elif i % 20 == 7:
                ew, eh, o = h, w, 6
            elif i % 20 == 13:
                ew, eh = h, w
            elif i % 20 == 17:
                o = 9
            desc = f"img {i}"
            fam = i % 4
            if fam == 2:
                return encode_tiff(px, meta_tags={
                    270: desc, 274: o, 40962: ew, 40963: eh})
            exif = build_exif(description=desc, orientation=o,
                              pixel_x=ew, pixel_y=eh)
            if fam == 0:
                return jpeg_insert_metadata(
                    encode_pixels(px, "jpeg"), exif=exif)
            if fam == 1:
                return png_insert_metadata(
                    encode_pixels(px, "png"), exif=exif,
                    text={"Title": desc})
            rgba = np.dstack(
                [px, np.full((h, w), 255, np.uint8)])
            return encode_webp_vp8x(rgba, lossy=False, exif=exif)

        for pdf in batches:
            out = pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })
            yield out

    frame = df.mapInPandas(gen, schema="image_id string, bytes binary")
    from cerberus_cpp_spark.operators.image_checks import (
        exif_consistency_violations,
    )

    return exif_consistency_violations(frame)


_IMG_EXIF_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_EXIF_N})),
d AS (
  SELECT i, printf('img-%012d', i) AS image_id,
         8 + i % 9 AS w, 8 + i % 7 AS h
  FROM g
)
SELECT image_id, '^.exif' AS path,
       printf('exif dims %dx%d disagree with header %dx%d',
              w + 1, h, w, h) AS message
  FROM d WHERE i % 20 = 3
UNION ALL
SELECT image_id, '^.exif',
       printf('exif dims %dx%d disagree with header %dx%d',
              h, w, w, h)
  FROM d WHERE i % 20 = 13 AND w <> h
UNION ALL
SELECT image_id, '^.exif.orientation', 'invalid orientation 9'
  FROM d WHERE i % 20 = 17
"""


IMG_ORIENT_N = 1400


def q_img_orientation_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF-orientation baking (round 4 —
    ``multimodal.normalize_orientation``): every row carries an EXIF
    Orientation cycling 1..8 over four carrier formats; the operator
    decodes only the rotated subset, transforms pixels upright,
    re-encodes in the row's own format, and rewrites the metadata
    (orientation→1, pixel dims updated). The contract surface is the
    per-row outcome (fmt, new dims, fixed flag) — dims swap exactly
    for orientations 5..8 — with an exact id-arithmetic oracle;
    pixel-level correctness of all eight transforms is pinned in
    ``tests/test_orientation.py``."""
    df = spark.range(0, IMG_ORIENT_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.tiffcodec import encode_tiff
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

        def payload(i: int) -> bytes:
            w, h = 8 + i % 9, 8 + i % 7
            px = synth_pixels(pixel_seed(i, 42), w, h)
            o = i % 8 + 1
            fam = i % 4
            if fam == 2:
                return encode_tiff(px, meta_tags={
                    274: o, 40962: w, 40963: h})
            exif = build_exif(orientation=o, pixel_x=w, pixel_y=h)
            if fam == 0:
                return jpeg_insert_metadata(
                    encode_pixels(px, "jpeg"), exif=exif)
            if fam == 1:
                return png_insert_metadata(
                    encode_pixels(px, "png"), exif=exif)
            rgba = np.dstack([px, np.full((h, w), 255, np.uint8)])
            return encode_webp_vp8x(rgba, lossy=False, exif=exif)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    from cerberus_cpp_spark.operators.multimodal import (
        normalize_orientation,
    )

    frame = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return normalize_orientation(frame).select(
        "image_id", "w", "h", "fmt", "fixed")


_IMG_ORIENT_SQL = f"""
WITH g AS (SELECT range AS i FROM range(0, {IMG_ORIENT_N})),
d AS (
  SELECT i, printf('img-%012d', i) AS image_id,
         8 + i % 9 AS w0, 8 + i % 7 AS h0,
         i % 8 + 1 AS o,
         ['jpeg','png','tiff','webp'][CAST(i % 4 AS INT) + 1] AS fmt
  FROM g
)
SELECT image_id,
       CAST(CASE WHEN o BETWEEN 5 AND 8 THEN h0 ELSE w0 END AS INT) AS w,
       CAST(CASE WHEN o BETWEEN 5 AND 8 THEN w0 ELSE h0 END AS INT) AS h,
       fmt, o <> 1 AS fixed
FROM d
"""


def q_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two event snapshots (even/odd ids):
    exact-percentile variant so the DuckDB oracle can mirror it; the
    sketch path (percentile_approx) is the at-scale route."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 = 1")
    return checks.exact_quantile_drift_frame(a, b, "value")


def q_emb_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per DIMENSION (round 4): snapshot B is
    snapshot A re-embedded with a planted projection change (dims
    0-7 scaled ×1.6 — the shape of a model-checkpoint or
    normalization swap), and `checks.embedding_dim_drift_frame`
    melts both sides into ONE tagged aggregate of exact per-dim
    quantile vectors. Tolerance 0.1 sits under the scaled dims'
    exact 0.375 rel gap and above the unscaled dims' 0.0, so both
    drifted branches are exercised. The oracle replays the melt
    (generate_subscripts + unnest), the planted scale, and the
    quantile_cont + rel-gap arithmetic bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings") \
        .where("embedding IS NOT NULL")
    a = emb.select("embedding")
    b = emb.select(F.expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN"
        " cast(x as double) * 1.6D ELSE cast(x as double) END)"
    ).alias("embedding"))
    return checks.embedding_dim_drift_frame(a, b)


def _emb_dim_drift_sql() -> str:
    probs = (0.1, 0.25, 0.5, 0.75, 0.9)
    plist = ", ".join(str(p) for p in probs)
    pr = " UNION ALL ".join(
        f"SELECT {i + 1} AS i, {p}::DOUBLE AS prob"
        for i, p in enumerate(probs)
    )
    return f"""
WITH m AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         0 AS side, CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
  UNION ALL
  SELECT dim, 1,
         CASE WHEN dim < 8 THEN v * 1.6 ELSE v END
  FROM (SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings WHERE embedding IS NOT NULL)
),
q AS (
  SELECT dim,
         quantile_cont(CASE WHEN side = 0 THEN v END, [{plist}]) AS qa,
         quantile_cont(CASE WHEN side = 1 THEN v END, [{plist}]) AS qb
  FROM m GROUP BY dim),
pr AS ({pr})
SELECT q.dim, pr.prob, qa[pr.i] AS q_a, qb[pr.i] AS q_b,
       abs(qa[pr.i] - qb[pr.i])
         / greatest(abs(qa[pr.i]), abs(qb[pr.i]), 1e-12) AS rel_gap,
       (abs(qa[pr.i] - qb[pr.i])
         / greatest(abs(qa[pr.i]), abs(qb[pr.i]), 1e-12)) > 0.1
         AS drifted
FROM q, pr
"""


_TDIGEST_PROBS = (0.1, 0.25, 0.5, 0.75, 0.9)


def q_tdigest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift via DISTRIBUTED t-digest sketches (north_star
    verbatim: "t-digest quantile sketches compared across
    snapshots"; functions/tdigest.py, checks.tdigest_pair). The metric
    column is clamped-floor(value) — 31 near-uniform levels each
    carrying ~3% of total weight, 6x above the exact-regime bar
    (every level weight > W/compression; see the tdigest module
    docstring — low cardinality ALONE is not sufficient) — so
    nearest-rank quantiles equal the true discrete lower quantiles
    and DuckDB replays them with an explicit inverse-CDF.
    Accuracy on continuous data (rank error ~1e-5 at delta=100 on
    1M values) is pinned in tests/test_tdigest.py."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vb = F.expr(
        "cast(least(greatest(floor(value), 0), 30) as double)"
    ).alias("vb")
    # SINGLE PASS (round-2 verdict item): both snapshots live in the
    # same events table, so tag each row with its side and build both
    # digests' partials in one scan instead of one job per snapshot
    da, db = checks.tdigest_pair(
        ev.select(F.expr("event_id % 2").alias("side"), vb),
        "side", "vb", compression=200)
    rows = []
    for p in _TDIGEST_PROBS:
        qa = da.quantile(p, "nearest")
        qb = db.quantile(p, "nearest")
        rows.append((p, qa, qb, abs(qa - qb)))
    return spark.createDataFrame(
        rows, "prob double, q_a double, q_b double, abs_gap double")


_TDIGEST_DRIFT_SQL = f"""
WITH vals AS (
  SELECT CAST(least(greatest(floor(value), 0), 30) AS DOUBLE) AS vb,
         event_id % 2 = 0 AS side_a
  FROM events WHERE value IS NOT NULL
),
probs AS (SELECT CAST(unnest([{', '.join(str(p) for p in _TDIGEST_PROBS)}])
            AS DOUBLE) AS prob),
agg AS (
  SELECT side_a, vb, count(*) AS c FROM vals GROUP BY side_a, vb
),
cums AS (
  SELECT side_a, vb,
         sum(c) OVER (PARTITION BY side_a ORDER BY vb) AS cum,
         sum(c) OVER (PARTITION BY side_a) AS w
  FROM agg
),
q AS (  -- discrete lower quantile: min value whose cdf reaches prob
  SELECT p.prob, c.side_a, min(c.vb) AS qv
  FROM probs p JOIN cums c ON c.cum >= p.prob * c.w
  GROUP BY p.prob, c.side_a
)
SELECT qa.prob, qa.qv AS q_a, qb.qv AS q_b,
       abs(qa.qv - qb.qv) AS abs_gap
FROM (SELECT prob, qv FROM q WHERE side_a) qa
JOIN (SELECT prob, qv FROM q WHERE NOT side_a) qb USING (prob)
"""


HOT_KEYS_N = 20000


def q_hot_keys_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key (heavy-hitter) detection over the input_hint table's
    phash column — the detector that DECIDES the salting the
    north_rule calls for ("skew from hot phash buckets ... handled
    with explicit salting"): per-partition Misra-Gries summaries (one
    narrow Arrow pass, provably complete candidates) + one exact
    counting pass restricted to candidates; the raw table is never
    shuffled on the key (checks.heavy_hitters). The generator plants
    one hot phash on every 50th row (2% share); the oracle replays
    the exact GROUP BY ... HAVING count over the same arithmetic."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    # 8 generator partitions: ids (hence the oracle arithmetic) are
    # partition-count-independent, and 32 concurrent Python worker
    # spin-ups on 625-row partitions would be pure fan-out overhead
    # at this test scale (the MG pass itself is 0.7s at 8 parts vs
    # 2.6s warm at 32 on local[32]).
    df = image_caption_frame(spark, HOT_KEYS_N, partitions=8)
    return checks.heavy_hitters(df, "phash", min_share=0.01)


def _hot_keys_sql() -> str:
    from cerberus_cpp_spark.sources.distgen import HOT_PHASH

    return f"""
WITH g AS (
  SELECT CASE WHEN range % 50 = 0 THEN {HOT_PHASH}
         ELSE ((range * 2654435761) + 42) & 9223372036854775807
         END AS phash
  FROM range(0, {HOT_KEYS_N})
), t AS (SELECT count(*) AS total FROM g),
c AS (SELECT phash, count(*)::BIGINT AS cnt FROM g GROUP BY phash)
SELECT c.phash, c.cnt, CAST(c.cnt AS DOUBLE) / t.total AS share
FROM c, t
WHERE c.cnt >= ceil(0.01 * t.total)
"""


def q_cat_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical frequency drift between two event snapshots
    (even/odd ids) over event_type, in ONE scan (the tagged-union
    trick tdigest_pair uses, applied to frequency histograms): one
    hash aggregate builds both histograms, then transcendental-free
    drift terms (abs share gap + chi-square contribution) that an
    exact SQL oracle replays bit-for-bit. The categorical complement
    of the quantile-drift family (north_star: "distribution-drift
    detection ... compared across snapshots")."""
    ev = _t(spark, sf_dir, "events")
    return checks.categorical_drift_tagged(
        ev, F.expr("event_id % 2"), "event_type"
    )


def q_phash_band_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift ACROSS SNAPSHOTS OF THE IMAGE TABLE
    (north_star verbatim, categorical face): bucket phash into its
    256 low-byte bands JVM-side, split the input_hint table into two
    snapshots (even/odd ids), and compare the band histograms in one
    tagged scan. The planted hot phash (every 50th row, all even
    ids) concentrates one band's snapshot-A share — a real hot-bucket
    drift signature the oracle replays exactly from id arithmetic."""
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, HOT_KEYS_N, partitions=8).select(
        F.col("id"),
        F.expr("phash & 255").alias("band"),
    )
    return checks.categorical_drift_tagged(df, F.expr("id % 2"), "band")


def _phash_band_drift_sql() -> str:
    from cerberus_cpp_spark.sources.distgen import HOT_PHASH

    return f"""
WITH g AS (
  SELECT range AS id,
         CASE WHEN range % 50 = 0 THEN {HOT_PHASH}
              ELSE ((range * 2654435761) + 42) & 9223372036854775807
         END AS phash
  FROM range(0, {HOT_KEYS_N})
),
ev AS (SELECT phash & 255 AS category, id % 2 = 0 AS a FROM g),
c AS (
  SELECT category,
         SUM(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
         SUM(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS cnt_b
  FROM ev GROUP BY category
),
t AS (SELECT SUM(cnt_a)::BIGINT AS ta, SUM(cnt_b)::BIGINT AS tb FROM c)
SELECT c.category, c.cnt_a, c.cnt_b,
       CAST(c.cnt_a AS DOUBLE) / t.ta AS share_a,
       CAST(c.cnt_b AS DOUBLE) / t.tb AS share_b,
       abs(CAST(c.cnt_a AS DOUBLE) / t.ta
           - CAST(c.cnt_b AS DOUBLE) / t.tb) AS abs_gap,
       ((CAST(c.cnt_a AS DOUBLE) / t.ta - CAST(c.cnt_b AS DOUBLE) / t.tb)
        * (CAST(c.cnt_a AS DOUBLE) / t.ta
           - CAST(c.cnt_b AS DOUBLE) / t.tb))
       / (CAST(c.cnt_a AS DOUBLE) / t.ta
          + CAST(c.cnt_b AS DOUBLE) / t.tb) AS chi2_term
FROM c, t
"""


_CAT_DRIFT_SQL = """
WITH ev AS (
  SELECT event_type AS category, event_id % 2 = 0 AS a
  FROM events WHERE event_type IS NOT NULL
),
c AS (
  SELECT category,
         SUM(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
         SUM(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS cnt_b
  FROM ev GROUP BY category
),
t AS (SELECT SUM(cnt_a)::BIGINT AS ta, SUM(cnt_b)::BIGINT AS tb FROM c)
SELECT c.category, c.cnt_a, c.cnt_b,
       CAST(c.cnt_a AS DOUBLE) / t.ta AS share_a,
       CAST(c.cnt_b AS DOUBLE) / t.tb AS share_b,
       abs(CAST(c.cnt_a AS DOUBLE) / t.ta
           - CAST(c.cnt_b AS DOUBLE) / t.tb) AS abs_gap,
       ((CAST(c.cnt_a AS DOUBLE) / t.ta - CAST(c.cnt_b AS DOUBLE) / t.tb)
        * (CAST(c.cnt_a AS DOUBLE) / t.ta
           - CAST(c.cnt_b AS DOUBLE) / t.tb))
       / (CAST(c.cnt_a AS DOUBLE) / t.ta
          + CAST(c.cnt_b AS DOUBLE) / t.tb) AS chi2_term
FROM c, t
"""


PHASH_NEAR_N = 4000
# planted per-group bit flips: member 1 differs from the anchor by 1
# bit (block 0), member 2 by 2 bits (blocks 1 and 2), member 3 by 5
# bits spread over four blocks — so with max_hamming=3 exactly the
# (0,1)=1, (0,2)=2, (1,2)=3 pairs qualify per group and member 3's
# pairs (5/6/7 bits) are correctly rejected after blocking recalls
# them (members share block 3 untouched).
_PHASH_FLIPS = (0, 1 << 3, (1 << 17) | (1 << 33),
                (1 << 2) | (1 << 9) | (1 << 18) | (1 << 34) | (1 << 50))


def _phash_planted_frame(spark: SparkSession) -> DataFrame:
    flips = ", ".join(f"{v}L" for v in _PHASH_FLIPS)
    return spark.range(0, PHASH_NEAR_N, 1, 8).select(
        F.format_string("img-%012d", F.col("id")).alias("image_id"),
        F.expr(
            "(((id DIV 4) * 2654435761L + 99L) & 9223372036854775807L)"
            f" ^ element_at(array({flips}), cast(id % 4 AS int) + 1)"
        ).alias("phash"),
    )


def _phash_planted_cte() -> str:
    flips = ", ".join(str(v) for v in _PHASH_FLIPS)
    return f"""
g AS (
  SELECT range AS id,
         ((range // 4) * 2654435761 + 99) & 9223372036854775807
           AS anchor,
         [{flips}][(range % 4)::INT + 1] AS flip
  FROM range(0, {PHASH_NEAR_N})
), t AS (
  SELECT printf('img-%012d', id) AS image_id,
         xor(anchor, flip) AS phash
  FROM g
)"""


def q_img_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate images by perceptual-hash Hamming distance over
    the input_hint's 64-bit phash column — the multi-index blocking
    join (dedup.hamming_near_pairs): split each phash into 4 disjoint
    16-bit blocks; any pair within distance ≤ 3 agrees exactly on ≥ 1
    block (pigeonhole), so one posexplode + one self-equi-join on
    (block, bkey) recalls EVERY qualifying pair and a JVM-side
    bit_count(xor) pass verifies. COMPLETE — unlike LSH there is no
    recall loss, so a brute-force O(n²) DuckDB oracle must agree
    exactly. The generator plants 1,000 groups of 4 phashes at known
    pairwise distances (1/2/3 in, 5/6/7 out); blocking completeness,
    not the plants, is what guarantees the match (any accidental
    cross-group pair ≤ 3 would appear on both sides identically)."""
    from cerberus_cpp_spark.operators import dedup

    pairs = dedup.hamming_near_pairs(
        _phash_planted_frame(spark), "phash", id_col="image_id",
        max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _phash_near_dups_sql() -> str:
    return f"""
WITH {_phash_planted_cte()}
SELECT a.image_id AS id_a, b.image_id AS id_b,
       bit_count(xor(a.phash, b.phash))::INT AS hamming
FROM t a JOIN t b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


def q_img_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE CLUSTERS: the Hamming pair join feeds the
    connected-components operator (min-label propagation + pointer
    jumping), so transitively-linked phash variants collapse to one
    cluster with a canonical survivor — exact dedup policy a training
    pipeline applies before sampling. Each planted group's members
    {0,1,2} link pairwise (distances 1/2/3); member 3 sits at ≥5 from
    all of them and must NOT join the cluster. The oracle replays the
    brute-force pair set and resolves components with a RECURSIVE
    reachability walk (same pattern as near_dup_clusters) — it never
    assumes the plants, so a freak cross-group pair would appear on
    both sides identically."""
    from cerberus_cpp_spark.operators import dedup

    pairs = dedup.hamming_near_pairs(
        _phash_planted_frame(spark), "phash", id_col="image_id",
        max_hamming=3)
    return dedup.near_duplicate_clusters(pairs)


def _phash_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_phash_planted_cte()},
p AS (
  SELECT a.image_id AS id_a, b.image_id AS id_b
  FROM t a JOIN t b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
walk(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.id
)
SELECT id AS doc_id, min(r) AS cluster_id, min(r) AS keep_id
FROM walk GROUP BY id
"""


DECON_EVAL_N = 150


def q_img_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination for IMAGES (dedup.image_decontamination
    — the phash analogue of the 13-gram text decontamination): every
    training row gains contaminated / n_eval_matches / min_hamming
    from a COMPLETE cross-frame pigeonhole-blocked Hamming join
    (dedup.cross_hamming_pairs) against a 150-row eval set at
    distance ≤ 3. Eval hashes are anchor(13·id) ^ bit 5, so eval row
    id hits group 13·id's members 0/1/2 at distances 1/2/3 (member 3
    lands at 6, out) while ids past the 1,000 planted groups match
    nothing — but the oracle is brute force O(n·m), so blocking
    completeness, not the plants, carries the equality."""
    from cerberus_cpp_spark.operators import dedup

    train = _phash_planted_frame(spark)
    ev = spark.range(0, DECON_EVAL_N, 1, 4).select(
        F.format_string("ev-%06d", F.col("id")).alias("image_id"),
        F.expr(
            "(((id * 13L) * 2654435761L + 99L) & 9223372036854775807L)"
            " ^ 32L"
        ).alias("phash"),
    )
    out = dedup.image_decontamination(
        train, ev, "phash", train_id="image_id", eval_id="image_id",
        max_hamming=3)
    return out.select("image_id", "phash", "contaminated",
                      "n_eval_matches", "min_hamming")


def _img_decontamination_sql() -> str:
    return f"""
WITH {_phash_planted_cte()},
e AS (
  SELECT printf('ev-%06d', range) AS eval_id,
         xor((((range * 13) * 2654435761) + 99)
             & 9223372036854775807, 32) AS ephash
  FROM range(0, {DECON_EVAL_N})
),
hits AS (
  SELECT t.image_id, COUNT(*) AS n_eval_matches,
         MIN(bit_count(xor(t.phash, e.ephash)))::INT AS min_hamming
  FROM t JOIN e ON bit_count(xor(t.phash, e.ephash)) <= 3
  GROUP BY t.image_id
)
SELECT t.image_id, t.phash,
       hits.image_id IS NOT NULL AS contaminated,
       COALESCE(hits.n_eval_matches, 0) AS n_eval_matches,
       hits.min_hamming
FROM t LEFT JOIN hits USING (image_id)
"""


PNG_AUDIT_N = 3000


def q_img_png_chunk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level forensic audit of PNG payloads (the check a
    validation engine owes a 10^12-image table BEFORE any decode):
    tolerant chunk walk verifying every chunk's CRC-32, continuing
    past mismatches — zlib happily inflates streams whose container
    CRC proves a flipped byte. Corruption is planted JVM-SIDE on the
    real payload bytes (binary substring/concat — no Python in the
    plant): id%17==9 → last 20 bytes dropped (cuts into IDAT's tail
    → structural 'malformed'), else id%11==5 → the IEND CRC zeroed
    (its true value is the constant AE426082, so 'crc_mismatch' on
    exactly 'IEND'). The minimal writer emits exactly IHDR/IDAT/IEND
    (pinned in test_pngcodec), so every verdict column is pure id
    arithmetic for the oracle."""
    from cerberus_cpp_spark.operators.image_checks import png_chunk_audit
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(
        spark, PNG_AUDIT_N, violation_every=None, with_bytes=True,
        partitions=8,
    ).where("fmt = 'png'")
    planted = df.withColumn("bytes", F.expr("""
        CASE WHEN id % 17 = 9
               THEN substring(bytes, 1, length(bytes) - 20)
             WHEN id % 11 = 5
               THEN concat(substring(bytes, 1, length(bytes) - 4),
                           X'00000000')
             ELSE bytes END"""))
    return png_chunk_audit(planted)


_PNG_AUDIT_SQL = f"""
WITH g AS (
  SELECT range AS id FROM range(0, {PNG_AUDIT_N}) WHERE range % 3 = 1
)
SELECT printf('img-%012d', id) AS image_id,
       CASE WHEN id % 17 = 9 THEN 'malformed'
            WHEN id % 11 = 5 THEN 'crc_mismatch'
            ELSE 'ok' END AS verdict,
       (CASE WHEN id % 17 = 9 THEN NULL ELSE 3 END)::INT AS n_chunks,
       CASE WHEN id % 17 = 9 THEN NULL
            WHEN id % 11 = 5 THEN 'IEND' END AS bad_chunks,
       CASE WHEN id % 17 = 9 THEN 'truncated PNG chunk' END AS message
FROM g
"""


def q_snapshot_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-level delta between two snapshots of the orders table —
    the finest face of the north_star's cross-snapshot comparison
    (tdigest/categorical = distribution level, this = per-key
    rows): one full-outer sort-merge join on the key, null-safe JVM
    comparisons, emitting (key, status,
    changed_cols). Snapshot old drops key%89==7 rows (→ 'added'),
    snapshot new drops key%97==3 (→ 'removed'), mutates
    o_orderstatus on key%31==5 and o_totalprice on key%13==0, and
    NULLs o_orderpriority on key%41==11 (value→NULL must register as
    changed — the null-safe branch). NULL keys are excluded up front
    (a row diff needs a key; NULL keys belong to the validation
    queries); duplicate keys survive with identical full-outer
    semantics in both engines."""
    base = _t(spark, sf_dir, "orders").where("o_orderkey IS NOT NULL")
    old = base.where("o_orderkey % 89 != 7")
    new = (
        base.where("o_orderkey % 97 != 3")
        .withColumn("o_orderstatus", F.expr(
            "IF(o_orderkey % 31 = 5, 'X', o_orderstatus)"))
        .withColumn("o_totalprice", F.expr(
            "IF(o_orderkey % 13 = 0, o_totalprice + 1.5, o_totalprice)"))
        .withColumn("o_orderpriority", F.expr(
            "IF(o_orderkey % 41 = 11, NULL, o_orderpriority)"))
    )
    return checks.snapshot_row_diff(
        old, new, "o_orderkey",
        compare_cols=["o_custkey", "o_orderstatus", "o_totalprice",
                      "o_orderpriority"],
    )


_SNAPSHOT_ROW_DIFF_SQL = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey IS NOT NULL),
o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 89 != 7
),
n AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 31 = 5 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 41 = 11 THEN NULL
              ELSE o_orderpriority END AS o_orderpriority
  FROM base WHERE o_orderkey % 97 != 3
),
j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         o.o_custkey IS DISTINCT FROM n.o_custkey AS d_cust,
         o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS d_stat,
         o.o_totalprice IS DISTINCT FROM n.o_totalprice AS d_price,
         o.o_orderpriority IS DISTINCT FROM n.o_orderpriority AS d_prio
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS status,
       CASE WHEN in_old AND in_new THEN nullif(concat_ws(',',
            CASE WHEN d_cust THEN 'o_custkey' END,
            CASE WHEN d_stat THEN 'o_orderstatus' END,
            CASE WHEN d_price THEN 'o_totalprice' END,
            CASE WHEN d_prio THEN 'o_orderpriority' END), '')
       END AS changed_cols
FROM j
WHERE NOT in_old OR NOT in_new OR d_cust OR d_stat OR d_price OR d_prio
"""


CONTAINER_AUDIT_N = 3000


def q_img_container_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-GENERIC container-integrity audit over mixed real
    payloads (JPEG marker/EOI walk, PNG chunk CRCs, RIFF size/chunk
    bounds): plants are JVM-side binary edits. id%10==7 drops the
    last two bytes — three different structural failures, one per
    format (JPEG loses its EOI, PNG its IEND, RIFF its declared
    size). id%10==3 zeroes the PNG IEND CRC (caught: crc_mismatch)
    but only flips a CONTENT byte on JPEG/WebP — which their
    containers provably cannot catch (no checksums), so those rows
    stay 'ok': the oracle records exactly which formats' containers
    protect integrity and which don't. The flipped JPEG byte is the
    last entropy byte: if its predecessor is 0xFF the original was
    necessarily a 0x00 stuffing byte (the walk is invariant either
    way), so the outcome is deterministic."""
    from cerberus_cpp_spark.operators.image_checks import (
        image_container_audit,
    )
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(
        spark, CONTAINER_AUDIT_N, violation_every=None,
        with_bytes=True, partitions=8)
    planted = df.withColumn("bytes", F.expr("""
        CASE WHEN id % 10 = 7
               THEN substring(bytes, 1, length(bytes) - 2)
             WHEN id % 10 = 3 AND id % 3 = 1
               THEN concat(substring(bytes, 1, length(bytes) - 4),
                           X'00000000')
             WHEN id % 10 = 3
               THEN concat(substring(bytes, 1, length(bytes) - 3),
                           X'00',
                           substring(bytes, length(bytes) - 1, 2))
             ELSE bytes END"""))
    return image_container_audit(planted)


_CONTAINER_AUDIT_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ['jpeg', 'png', 'webp'][(range % 3)::INT + 1] AS fmt
  FROM range(0, {CONTAINER_AUDIT_N})
)
SELECT printf('img-%012d', id) AS image_id, fmt,
       CASE WHEN id % 10 = 7 THEN 'malformed'
            WHEN id % 10 = 3 AND fmt = 'png' THEN 'crc_mismatch'
            ELSE 'ok' END AS verdict,
       CASE WHEN id % 10 = 7 AND fmt = 'jpeg' THEN 'missing EOI'
            WHEN id % 10 = 7 AND fmt = 'png'
              THEN 'PNG stream missing IEND'
            WHEN id % 10 = 7 AND fmt = 'webp' THEN 'truncated RIFF'
            WHEN id % 10 = 3 AND fmt = 'png'
              THEN 'CRC mismatch: IEND'
       END AS detail
FROM g
"""


def q_incremental_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL validation across snapshots: revalidate ONLY the
    rows that are added or changed vs the previous snapshot
    (checks.incremental_validation_targets = snapshot_row_diff delta
    keys → left-semi join), then run the compiled rule pass on that
    subset. The unchanged >90% of the table — including its
    already-known violations — is never re-read by the validator;
    the planted o_orderstatus='X' mutation (key%31==5) surfaces as a
    fresh allowed-rule violation while identical pre-existing
    violations on untouched rows stay out of the delta. Oracle:
    DuckDB replays the delta-key set (distinct full-outer-diff keys,
    exactly the semi-join semantics under duplicate keys) and the
    rule SQL over the mutated new snapshot restricted to it."""
    base = _t(spark, sf_dir, "orders").where("o_orderkey IS NOT NULL")
    old = base.where("o_orderkey % 89 != 7")
    new = (
        base.where("o_orderkey % 97 != 3")
        .withColumn("o_orderstatus", F.expr(
            "IF(o_orderkey % 31 = 5, 'X', o_orderstatus)"))
        .withColumn("o_totalprice", F.expr(
            "IF(o_orderkey % 13 = 0, o_totalprice + 1.5, o_totalprice)"))
        .withColumn("o_orderpriority", F.expr(
            "IF(o_orderkey % 41 = 11, NULL, o_orderpriority)"))
    )
    targets = checks.incremental_validation_targets(
        old, new, "o_orderkey",
        compare_cols=["o_custkey", "o_orderstatus", "o_totalprice",
                      "o_orderpriority"],
    )
    tv = TableValidator(ORDERS_RULES, allow_unknown=True)
    return tv.validate(targets).violations("o_orderkey")


_INCR_VALIDATION_SQL = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey IS NOT NULL),
o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 89 != 7
),
n AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 31 = 5 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 41 = 11 THEN NULL
              ELSE o_orderpriority END AS o_orderpriority
  FROM base WHERE o_orderkey % 97 != 3
),
dk AS (
  SELECT DISTINCT coalesce(o.o_orderkey, n.o_orderkey) AS k
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
  WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
     OR o.o_custkey IS DISTINCT FROM n.o_custkey
     OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
     OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
     OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
),
t AS (SELECT * FROM n WHERE o_orderkey IN (SELECT k FROM dk))
SELECT o_orderkey, '^.o_orderkey' AS path,
       'min-rule violated' AS message
  FROM t WHERE NOT (o_orderkey > 0)
UNION ALL
SELECT o_orderkey, '^.o_custkey', 'required-rule violated: field missing'
  FROM t WHERE o_custkey IS NULL
UNION ALL
SELECT o_orderkey, '^.o_orderstatus', 'value disallowed by allowed-rule'
  FROM t WHERE o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('O','F','P')
UNION ALL
SELECT o_orderkey, '^.o_totalprice', 'min-rule violated'
  FROM t WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice > 0)
UNION ALL
SELECT o_orderkey, '^.o_totalprice', 'max-rule violated'
  FROM t WHERE o_totalprice IS NOT NULL AND o_totalprice >= 300000
UNION ALL
SELECT o_orderkey, '^.o_orderpriority', 'regex-rule violated'
  FROM t WHERE o_orderpriority IS NOT NULL
           AND NOT regexp_full_match(o_orderpriority, '[1-3]-[A-Z ]+')
"""


_LEDGER_RULES: dict = {
    "event_type": {"type": "string",
                   "allowed": ["click", "view", "purchase"]},
    "value": {"type": "float", "min": 0.0, "max": 25.0},
}


def q_full_validation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RESUMABLE pipeline over a hive-partitioned table
    (round-2 verdict item 9): write events partitioned by
    p = event_id % 6, run the ledgered rule pass, KILL it after one
    committed chunk (the fault injector), then resume through the
    production surface (``run_full_validation``) and return the final
    per-partition verdict table. The query asserts INLINE that the
    killed run committed some-but-not-all partitions and that the
    resume processed exactly the remainder (raises otherwise — a
    resume that recomputes everything cannot silently pass). The
    DuckDB oracle recomputes every verdict row from the raw events
    with the same exclusive-min/max + allowed semantics."""
    import re
    import shutil

    from cerberus_cpp_spark.operators.ledger import (
        KilledRun,
        ValidationLedger,
        run_validation,
    )
    from cerberus_cpp_spark.operators.pipeline import run_full_validation

    base = "/tmp/cerberus_ledger_demo_" + re.sub(r"\W+", "_", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    (_t(spark, sf_dir, "events")
     .select("event_id", "event_type", "value",
             F.expr("pmod(event_id, 6)").alias("p"))
     .write.mode("overwrite").partitionBy("p")
     .parquet(f"{base}/table"))
    src = spark.read.parquet(f"{base}/table")
    ledger = ValidationLedger(spark, f"{base}/ledger")
    tv = TableValidator(_LEDGER_RULES, allow_unknown=True,
                        extra_cols=("p",))
    try:
        run_validation(src, tv, "p", ledger,
                       partitions_per_commit=2, fail_after_chunks=1)
        raise AssertionError("fault injector did not fire")
    except KilledRun:
        pass
    done_before = ledger.read().where("status = 'done'").count()
    if not 0 < done_before < 6:
        raise AssertionError(
            f"unexpected pre-kill commit count: {done_before}")
    report = run_full_validation(
        src, _LEDGER_RULES, partition_col="p",
        ledger_path=f"{base}/ledger", partitions_per_commit=2)
    if report.run["partitions_processed"] != 6 - done_before:
        raise AssertionError("resume re-validated committed partitions")
    return (
        ledger.read().where("status = 'done'")
        .select(F.col("partition_value").cast("int").alias("p"),
                F.col("rows").alias("n_rows"), "violations",
                "invalid_rows", "passed")
    )


_FULL_VALIDATION_LEDGER_SQL = """
WITH src AS (
  SELECT event_id % 6 AS p, event_type, value FROM events
),
per_row AS (
  SELECT p,
    (CASE WHEN event_type IS NOT NULL
            AND event_type NOT IN ('click', 'view', 'purchase')
          THEN 1 ELSE 0 END)
    + (CASE WHEN value IS NOT NULL AND NOT (value > 0.0)
            THEN 1 ELSE 0 END)
    + (CASE WHEN value IS NOT NULL AND value >= 25.0
            THEN 1 ELSE 0 END) AS v
  FROM src
)
SELECT CAST(p AS INT) AS p,
       count(*) AS n_rows,
       CAST(sum(v) AS BIGINT) AS violations,
       CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS invalid_rows,
       sum(v) = 0 AS passed
FROM per_row GROUP BY p
"""


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-time rollup: per-window row count, null-value
    count, value sum."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").start.alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("value").isNull().cast("long"))
            .alias("null_values"),
            # no float sums here: parallel summation order makes them
            # non-deterministic across engines (cf. stats_lineitem)
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
    )


def q_audit_sampled_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-budgeted validation AUDIT (plans/audit.py): run the
    compiled rule plan over a deterministic 25% md5-hash sample of
    orders AND part, and emit per violation path a Wilson 95%
    confidence interval on the violation ROW rate plus a three-way
    verdict against a 5% budget. The economic point at 10^12 rows:
    decide ship/no-ship per rule from ~1% of the data, escalating
    only 'inconclusive' paths to an exact pass. One source scan per
    table (marker explode → one hash aggregate; denominator recovered
    from the same aggregate via a single-partition window over the
    O(rules)-sized frame). The interval arithmetic is ONE SQL string
    evaluated by both engines, so the oracle matches bit-for-bit.
    Reference analogue: cerberus-cpp validates every document
    (validator.hh:239-258); the audit is the dataset-level,
    scan-budgeted generalization with quantified uncertainty."""
    from cerberus_cpp_spark.plans.audit import sampled_audit

    frames = []
    for tbl, rules, key in (("orders", ORDERS_RULES, "o_orderkey"),
                            ("part", PART_RULES, "p_partkey")):
        tv = TableValidator(rules, allow_unknown=True)
        a = sampled_audit(tv, _t(spark, sf_dir, tbl), key,
                          fraction=0.25, seed=11, budget=0.05)
        frames.append(a.select(F.lit(tbl).alias("tbl"), "*"))
    return frames[0].unionByName(frames[1])


def q_audit_escalated_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit → escalate → exact loop end-to-end: sample orders at
    25% with a 40% budget chosen so the hot paths land INSIDE the
    interval (inconclusive at both sf0.001 and sf0.01), collect the
    O(rules)-sized escalation worklist, and settle it with ONE exact
    full-table pass (plans/audit.py exact_rates). The oracle derives
    the same worklist from the same Wilson verdict SQL and replays the
    exact counts — so the query proves the two-phase economics, not
    just each phase in isolation."""
    from cerberus_cpp_spark.plans.audit import (
        escalation_filter,
        exact_rates,
        sampled_audit,
    )

    tv = TableValidator(ORDERS_RULES, allow_unknown=True)
    orders = _t(spark, sf_dir, "orders")
    audit = sampled_audit(tv, orders, "o_orderkey",
                          fraction=0.25, seed=11, budget=0.40)
    worklist = escalation_filter(audit)
    return exact_rates(tv, orders, worklist, budget=0.40)


# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): as-of join, sessions,
# funnel, retention, bucketed interval-point join — the query shapes
# a monitoring loop runs downstream of the time-axis checks
# (SURVEY §2.3). All time arithmetic is integer microseconds
# (unix_micros == DuckDB epoch_us under the pinned UTC session zone).
# ---------------------------------------------------------------------------


def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (temporal.asof_join): every 'click' event
    gains the same user's LATEST 'purchase' at or before the click —
    the union-tag-window construction, ONE shuffle on the key, never
    an inequality join. Determinism at equal purchase timestamps via
    the event_id tiebreak (greatest wins), replayed by the oracle's
    (rts DESC, rid DESC) row_number. Clicks with NULL user/ts pass
    through with NULL as-of columns, matching the oracle's failed
    join condition."""
    from cerberus_cpp_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=("event_id", "value"), right_tiebreak="event_id",
    )


_ASOF_EVENTS_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r AS (
  SELECT event_id AS rid, user_id, ts AS rts, value
  FROM events
  WHERE event_type = 'purchase'
    AND user_id IS NOT NULL AND ts IS NOT NULL
), j AS (
  SELECT l.event_id, r.rid, r.rts, r.value,
         row_number() OVER (PARTITION BY l.event_id
                            ORDER BY r.rts DESC, r.rid DESC) AS rn
  FROM l JOIN r
    ON l.user_id = r.user_id AND r.rts <= l.ts
)
SELECT l.event_id, l.user_id, l.ts,
       m.rts AS asof_ts, m.rid AS asof_event_id,
       m.value AS asof_value
FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) m USING (event_id)
"""


def q_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (temporal.session_stats): one row per
    (user, session) with event count, bounds, and integer-microsecond
    duration; a session breaks when the gap STRICTLY exceeds 1800 s.
    Two windows + the final aggregate share ONE key shuffle; the
    oracle replays lag → flag → running sum → groupBy exactly."""
    from cerberus_cpp_spark.operators.temporal import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, key="user_id", ts="ts",
                         gap_seconds=1800, tiebreak="event_id")


_SESSIONS_EVENTS_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > 1800000000
              THEN 1 ELSE 0 END AS st
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), x AS (
  SELECT user_id, ts,
         sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_index
  FROM s
)
SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
FROM x GROUP BY user_id, session_index
"""


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase (temporal.funnel): per
    user the FIRST time each step was reached, step i+1 at or after
    step i (non-strict). Each step is a pushed-down filter + per-key
    min aggregate chained through key-cardinality equi-joins — no
    windows, no per-key sort. The oracle unrolls the same chain."""
    from cerberus_cpp_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, key="user_id", ts="ts", type_col="event_type",
                  steps=("view", "click", "purchase"))


_FUNNEL_EVENTS_SQL = """
WITH base AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), s1 AS (
  SELECT user_id, min(ts) AS step1_ts FROM base
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT b.user_id, min(b.ts) AS step2_ts
  FROM base b JOIN s1 USING (user_id)
  WHERE b.event_type = 'click' AND b.ts >= s1.step1_ts
  GROUP BY b.user_id
), s3 AS (
  SELECT b.user_id, min(b.ts) AS step3_ts
  FROM base b JOIN s2 USING (user_id)
  WHERE b.event_type = 'purchase' AND b.ts >= s2.step2_ts
  GROUP BY b.user_id
)
SELECT s1.user_id, step1_ts, step2_ts, step3_ts,
       1 + CAST(step2_ts IS NOT NULL AS INTEGER)
         + CAST(step3_ts IS NOT NULL AS INTEGER) AS depth
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (temporal.retention): cohort = a user's first
    activity day (integer epoch-day id, timezone-proof), n_active =
    distinct cohort members active `offset` days later; offset-0 rows
    carry cohort sizes. Every Exchange ships key- or cohort-sized
    frames, never raw events."""
    from cerberus_cpp_spark.operators.temporal import retention

    ev = _t(spark, sf_dir, "events")
    return retention(ev, key="user_id", ts="ts")


_RETENTION_EVENTS_SQL = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), cohort AS (
  SELECT user_id, min(bucket) AS cohort_bucket FROM act
  GROUP BY user_id
)
SELECT cohort_bucket, bucket - cohort_bucket AS offset,
       count(DISTINCT act.user_id) AS n_active
FROM act JOIN cohort USING (user_id)
GROUP BY cohort_bucket, bucket - cohort_bucket
"""


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-point join (temporal.interval_point_join):
    every 'error' event opens an incident window [ts, ts + (id%7+1)
    minutes]; count the 'click' events inside each window. Intervals
    explode into the fixed 600 s buckets they cover, points map to
    their single bucket, and the match is ONE equi-join plus a
    residual microsecond filter — never a cartesian (plan-pinned in
    tests). Inclusive ends; each qualifying pair appears exactly
    once. The oracle is the plain BETWEEN join on epoch_us."""
    from cerberus_cpp_spark.operators.temporal import (
        interval_point_join,
    )

    ev = _t(spark, sf_dir, "events")
    incidents = (
        ev.where((F.col("event_type") == "error")
                 & F.col("ts").isNotNull())
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("lo"),
            F.expr(
                "timestamp_micros(unix_micros(cast(ts as timestamp))"
                " + (event_id % 7 + 1) * 60000000)"
            ).alias("hi"),
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = interval_point_join(
        clicks, incidents, point_ts="click_ts", lo_ts="lo",
        hi_ts="hi", bucket_seconds=600)
    return pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("click_ts").alias("first_click_ts"),
        F.max("click_ts").alias("last_click_ts"),
    )


_RANGE_JOIN_EVENTS_SQL = """
WITH iv AS (
  SELECT event_id AS incident_id,
         epoch_us(ts) AS lo_us,
         epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS hi_us
  FROM events WHERE event_type = 'error' AND ts IS NOT NULL
), pt AS (
  SELECT event_id AS click_id, ts AS click_ts, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
)
SELECT incident_id, count(*) AS n_clicks,
       min(click_ts) AS first_click_ts,
       max(click_ts) AS last_click_ts
FROM iv JOIN pt ON pt.p_us >= iv.lo_us AND pt.p_us <= iv.hi_us
GROUP BY incident_id
"""


def q_bloom_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership (sketch.bloom_sketch / bloom_contains): a
    1024-bit k=3 filter over the users active in the feed's first 15
    days (integer epoch-day < 19738), probed with every live user id
    PLUS a planted absent twin (id + 100000), with the exact
    first-half membership joined alongside — no false negatives by
    construction, false positives visible and deterministic. The
    filter is at most m_bits rows regardless of corpus size; the
    oracle replays every md5-derived bit position, the hit counts,
    and both verdicts."""
    from cerberus_cpp_spark.operators.sketch import (
        bloom_contains,
        bloom_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp"))
        / F.lit(86_400_000_000))
    first_half = ev.where(F.col("ts").isNotNull()
                          & (day < F.lit(19738)))
    sk = bloom_sketch(first_half, "user_id", m_bits=1024, k=3)
    users = (ev.where(F.col("user_id").isNotNull())
             .select("user_id").distinct())
    probes = users.unionByName(
        users.select((F.col("user_id") + F.lit(100_000))
                     .alias("user_id")))
    res = bloom_contains(sk, probes, "user_id", m_bits=1024, k=3)
    truth = (first_half.where(F.col("user_id").isNotNull())
             .select("user_id").distinct()
             .withColumn("truly_member", F.lit(True)))
    return (res.join(truth, "user_id", "left")
            .withColumn("truly_member",
                        F.coalesce(F.col("truly_member"),
                                   F.lit(False))))


_BLOOM_EVENTS_SQL = """
WITH fh AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) < 19738
), bits AS (
  SELECT DISTINCT
    CAST(concat('0x', substr(md5(concat(
      'bloom', ':', CAST(user_id AS VARCHAR), ':', '0', ':',
      CAST(i AS VARCHAR))), 1, 12)) AS BIGINT) % 1024 AS pos
  FROM fh, range(0, 3) t(i)
), users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
), probes AS (
  SELECT user_id FROM users
  UNION
  SELECT user_id + 100000 FROM users
), cand AS (
  SELECT p.user_id,
    CAST(concat('0x', substr(md5(concat(
      'bloom', ':', CAST(p.user_id AS VARCHAR), ':', '0', ':',
      CAST(t.i AS VARCHAR))), 1, 12)) AS BIGINT) % 1024 AS pos
  FROM probes p, range(0, 3) t(i)
)
SELECT c.user_id,
       CAST(count(b.pos) AS INTEGER) AS n_hits,
       count(b.pos) = 3 AS might_contain,
       max(CASE WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END) = 1
         AS truly_member
FROM cand c
LEFT JOIN bits b USING (pos)
LEFT JOIN fh f ON c.user_id = f.user_id
GROUP BY c.user_id
"""


def _doc_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-node graph derived from documents by integer
    arithmetic (two edge formulas per doc so triangles exist) — the
    same derive-from-the-table pattern as the sketch plants, so the
    oracle regenerates the identical edge multiset."""
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 60).alias("n"),
        (F.col("doc_id") % 7).alias("r7"),
        (F.col("doc_id") % 11).alias("r11"),
    )
    e1 = d.select(F.col("n").alias("src"),
                  ((F.col("n") + F.col("r7") + 1) % 60).alias("dst"))
    e2 = d.select(F.col("n").alias("src"),
                  ((F.col("n") + 2 * F.col("r11") + 2) % 60)
                  .alias("dst"))
    return e1.unionByName(e2)


_DOC_EDGES_SQL = """
  SELECT doc_id % 60 AS src,
         (doc_id % 60 + doc_id % 7 + 1) % 60 AS dst
  FROM documents
  UNION ALL
  SELECT doc_id % 60 AS src,
         (doc_id % 60 + 2 * (doc_id % 11) + 2) % 60 AS dst
  FROM documents
"""


def q_graph_bfs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (graph.bfs_hops): minimum hop count from
    the seed set (nodes ≡ 0 mod 10) within 3 undirected hops over
    the deterministic document graph — the blast-radius query a
    decontamination pass runs from a contaminated seed set. Each
    round is one frontier equi-join + anti-join against visited
    (driver-bounded loop, lineage truncated per round); the oracle
    unrolls all three rounds in SQL."""
    from cerberus_cpp_spark.operators.graph import bfs_hops

    edges = _doc_graph_edges(spark, sf_dir)
    seeds = (edges.where(F.col("src") % 10 == 0)
             .select(F.col("src").alias("node")).distinct())
    return bfs_hops(edges, seeds, max_hops=3, directed=False)


_GRAPH_BFS_SQL = f"""
WITH e0 AS ({_DOC_EDGES_SQL}),
adj AS (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0
),
v0 AS (
  SELECT DISTINCT src AS n FROM e0 WHERE src % 10 = 0
),
f1 AS (
  SELECT DISTINCT adj.b AS n FROM adj JOIN v0 ON adj.a = v0.n
  WHERE adj.b NOT IN (SELECT n FROM v0)
),
f2 AS (
  SELECT DISTINCT adj.b AS n FROM adj JOIN f1 ON adj.a = f1.n
  WHERE adj.b NOT IN (SELECT n FROM v0 UNION SELECT n FROM f1)
),
f3 AS (
  SELECT DISTINCT adj.b AS n FROM adj JOIN f2 ON adj.a = f2.n
  WHERE adj.b NOT IN (SELECT n FROM v0 UNION SELECT n FROM f1
                      UNION SELECT n FROM f2)
)
SELECT n AS node, CAST(0 AS INTEGER) AS hops FROM v0
UNION ALL SELECT n, CAST(1 AS INTEGER) FROM f1
UNION ALL SELECT n, CAST(2 AS INTEGER) FROM f2
UNION ALL SELECT n, CAST(3 AS INTEGER) FROM f3
"""


def q_graph_triangles_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact triangle census (graph.triangle_count) of the document
    graph — clique density separates true duplicate clusters from
    hash-collision chains in a near-dup pair graph. Degree
    orientation bounds the wedge join's fan-out at O(sqrt(m)) for
    any graph and counts each triangle exactly once; the oracle
    counts the same triangles by the id-ordered three-way join."""
    from cerberus_cpp_spark.operators.graph import triangle_count

    return triangle_count(_doc_graph_edges(spark, sf_dir))


_GRAPH_TRIANGLES_SQL = f"""
WITH e0 AS ({_DOC_EDGES_SQL}),
g AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst
    AND src IS NOT NULL AND dst IS NOT NULL
)
SELECT
  (SELECT count(*) FROM (
     SELECT DISTINCT x FROM (
       SELECT u AS x FROM g UNION ALL SELECT v FROM g))) AS n_nodes,
  (SELECT count(*) FROM g) AS n_edges,
  (SELECT count(*) FROM g g1
     JOIN g g2 ON g2.u = g1.u AND g2.v > g1.v
     JOIN g g3 ON g3.u = g1.v AND g3.v = g2.v) AS n_triangles
"""


def q_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 intervals (temporal.scd2_intervals): each
    customer's order log becomes half-open validity intervals
    [valid_from, valid_to) that tile time per key, with a 1-based
    version_index and an is_current flag — ONE window over one key
    shuffle (lead + row_number share the sort). Ties on the order
    date are totalized by o_orderkey; the oracle replays both
    windows."""
    from cerberus_cpp_spark.operators.temporal import scd2_intervals

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
    return scd2_intervals(orders, key="o_custkey", ts="o_orderdate",
                          tiebreak="o_orderkey")


_SCD2_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       CAST(row_number() OVER w AS INTEGER) AS version_index,
       (lead(o_orderdate) OVER w) IS NULL AS is_current
FROM orders
WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey)
"""


def q_img_phash_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot phash membership via Bloom (sketch.bloom_*
    over the input_hint image+caption table): an 8192-bit k=3
    filter built from the FIRST snapshot's phashes (id < 2N/3)
    answers "was this image's phash already seen" for every
    distinct phash in the full table — the fixed-size pre-filter a
    100 TB image-dedup anti-join consults before shuffling raw
    keys. One verdict row: probe/flag/member counts, false
    positives (deterministic, replayed bit-for-bit) and false
    negatives (zero by construction — the invariant is IN the
    result). The id%50 hot-phash plant collapses distincts exactly
    as in img_phash_hll."""
    from cerberus_cpp_spark.operators.sketch import (
        bloom_contains,
        bloom_sketch,
    )
    from cerberus_cpp_spark.sources.distgen import (
        image_caption_frame,
    )

    cut = 2 * VAL_IMAGES_N // 3
    df = image_caption_frame(spark, VAL_IMAGES_N)
    snap_a = df.where(F.col("id") < F.lit(cut))
    sk = bloom_sketch(snap_a, "phash", m_bits=8192, k=3)
    probes = df.select("phash").distinct()
    res = bloom_contains(sk, probes, "phash", m_bits=8192, k=3)
    member = (snap_a.select("phash").distinct()
              .withColumn("mem", F.lit(True)))
    j = (res.join(member, "phash", "left")
         .withColumn("mem", F.coalesce(F.col("mem"), F.lit(False))))
    return j.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.count_if(F.col("might_contain")).alias("n_flagged"),
        F.count_if(F.col("mem")).alias("n_members"),
        F.count_if(F.col("might_contain") & ~F.col("mem"))
        .alias("n_false_pos"),
        F.count_if(~F.col("might_contain") & F.col("mem"))
        .alias("n_false_neg"),
    )


def _img_phash_bloom_sql() -> str:
    cut = 2 * VAL_IMAGES_N // 3
    hot = 0x5A5A5A5A5A5A5A5A
    return f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {VAL_IMAGES_N})
), t AS (
  SELECT id, CASE WHEN id % 50 = 0 THEN {hot} ELSE mix END AS phash
  FROM g
), a AS (
  SELECT DISTINCT phash FROM t WHERE id < {cut}
), bits AS (
  SELECT DISTINCT
    CAST(concat('0x', substr(md5(concat(
      'bloom', ':', CAST(phash AS VARCHAR), ':', '0', ':',
      CAST(i AS VARCHAR))), 1, 12)) AS BIGINT) % 8192 AS pos
  FROM a, range(0, 3) r(i)
), probes AS (
  SELECT DISTINCT phash FROM t
), cand AS (
  SELECT p.phash,
    CAST(concat('0x', substr(md5(concat(
      'bloom', ':', CAST(p.phash AS VARCHAR), ':', '0', ':',
      CAST(r.i AS VARCHAR))), 1, 12)) AS BIGINT) % 8192 AS pos
  FROM probes p, range(0, 3) r(i)
), per AS (
  SELECT c.phash, count(b.pos) = 3 AS mc
  FROM cand c LEFT JOIN bits b USING (pos)
  GROUP BY c.phash
), fin AS (
  SELECT per.phash, mc, (a.phash IS NOT NULL) AS mem
  FROM per LEFT JOIN a ON per.phash = a.phash
)
SELECT count(*) AS n_probes,
       count(*) FILTER (WHERE mc) AS n_flagged,
       count(*) FILTER (WHERE mem) AS n_members,
       count(*) FILTER (WHERE mc AND NOT mem) AS n_false_pos,
       count(*) FILTER (WHERE mem AND NOT mc) AS n_false_neg
FROM fin
"""


def q_graph_lcc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficients (graph.clustering_coefficients)
    of the deterministic document graph — the per-node signal that
    separates true duplicate cliques (lcc → 1) from hash-collision
    chains (lcc → 0). Spark uses the degree-oriented wedge join
    (bounded fan-out); the oracle counts each node's triangles with
    the INDEPENDENT id-ordered closure join — two different exact
    algorithms agreeing per node, including the single f64 division."""
    from cerberus_cpp_spark.operators.graph import (
        clustering_coefficients,
    )

    return clustering_coefficients(_doc_graph_edges(spark, sf_dir))


_GRAPH_LCC_SQL = f"""
WITH e0 AS ({_DOC_EDGES_SQL}),
g AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst
    AND src IS NOT NULL AND dst IS NOT NULL
), deg AS (
  SELECT x AS node, count(*) AS d FROM (
    SELECT u AS x FROM g UNION ALL SELECT v FROM g) GROUP BY x
), tri AS (
  SELECT g1.u AS a, g1.v AS b, g2.v AS c
  FROM g g1
  JOIN g g2 ON g2.u = g1.u AND g2.v > g1.v
  JOIN g g3 ON g3.u = g1.v AND g3.v = g2.v
), pern AS (
  SELECT x AS node, count(*) AS t FROM (
    SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY x
)
SELECT deg.node, deg.d AS degree,
       CAST(coalesce(pern.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN (2.0 * coalesce(pern.t, 0))
                 / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
            ELSE 0.0 END AS lcc
FROM deg LEFT JOIN pern USING (node)
"""


def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled PageRank (graph.pagerank_scaled), 3 rounds at
    damping 85/100 over the DIRECTED document graph. Every round is
    pure int64 arithmetic (div, never a f64 round-trip) so the ranks
    are bit-portable across engines and partitionings — the oracle
    unrolls all three rounds in SQL with the same `//` folds.
    Dangling mass is not redistributed (documented variant)."""
    from cerberus_cpp_spark.operators.graph import pagerank_scaled

    return pagerank_scaled(_doc_graph_edges(spark, sf_dir), rounds=3)


def _pagerank_sql() -> str:
    scale, num, den = 1_000_000_000_000, 85, 100
    base = scale * (den - num) // den
    rounds = "".join(
        f""", s{i} AS (
  SELECT adj.b AS node, sum(r{i - 1}.rank // o.outdeg) AS inbox
  FROM r{i - 1} JOIN outdeg o USING (node)
  JOIN adj ON adj.a = r{i - 1}.node
  GROUP BY adj.b
), r{i} AS (
  SELECT n.node,
         CAST({base} + ({num} * coalesce(s{i}.inbox, 0)) // {den}
              AS BIGINT) AS rank
  FROM nodes n LEFT JOIN s{i} USING (node)
)"""
        for i in range(1, 4)
    )
    return f"""
WITH e0 AS ({_DOC_EDGES_SQL}),
adj AS (
  SELECT DISTINCT src AS a, dst AS b FROM e0
  WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL
), nodes AS (
  SELECT DISTINCT x AS node FROM (
    SELECT a AS x FROM adj UNION ALL SELECT b FROM adj)
), outdeg AS (
  SELECT a AS node, count(*) AS outdeg FROM adj GROUP BY a
), r0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes
){rounds}
SELECT node, rank FROM r3
"""


def q_edit_pairs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (dedup.edit_distance_pairs,
    FastSS deletion-neighborhood blocking — exact recall by the
    alignment argument, exact precision by the final levenshtein
    filter): part names plus a planted mutated twin for every tenth
    part (one character deleted at a key-derived position, id +
    10,000,000). Variants travel as xxhash64 int64 keys; candidates
    are DISTINCT'd before strings re-join. The oracle is the
    INDEPENDENT brute-force O(n²) levenshtein join over the same
    frame — blocking correctness is being checked against an
    algorithm that has no blocking at all."""
    from cerberus_cpp_spark.operators.dedup import edit_distance_pairs

    part = _t(spark, sf_dir, "part")
    orig = part.select(F.col("p_partkey").cast("long").alias("doc_id"),
                       F.col("p_name").alias("text"))
    pos = (F.col("p_partkey") % F.length("p_name")) + 1
    twins = (
        part.where(F.col("p_partkey") % 10 == 0)
        .select(
            (F.col("p_partkey") + 10_000_000).cast("long")
            .alias("doc_id"),
            F.concat(
                F.col("p_name").substr(F.lit(1), pos - F.lit(1)),
                F.col("p_name").substr(pos + F.lit(1),
                                       F.length("p_name")),
            ).alias("text"),
        )
    )
    return edit_distance_pairs(orig.unionByName(twins), k=1)


_EDIT_PAIRS_PART_SQL = """
WITH t AS (
  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS s FROM part
  UNION ALL
  SELECT CAST(p_partkey + 10000000 AS BIGINT) AS id,
         concat(
           substr(p_name, 1, (p_partkey % length(p_name) + 1) - 1),
           substr(p_name, (p_partkey % length(p_name) + 1) + 1,
                  length(p_name))) AS s
  FROM part WHERE p_partkey % 10 = 0
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
FROM t a JOIN t b
  ON a.id < b.id
 AND abs(length(a.s) - length(b.s)) <= 1
WHERE levenshtein(a.s, b.s) <= 1
"""


def q_kcore_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core (graph.k_core) of a deterministic FUNCTIONAL graph
    derived from documents (node m = doc_id % 101, one edge to
    (m² + 1) % 101): a functional graph is cycles with trees hanging
    off them, so its 2-core is exactly the cycle set and the tree
    tails peel over MANY rounds (this plant: 101 nodes → a 9-node
    core after 20 peel rounds — the loop is genuinely exercised,
    unlike the dense doc graph whose min degree 24 makes small-k
    cores trivial). The oracle is a DuckDB RECURSIVE CTE carrying the
    accumulated removed-set as a list column — a true fixpoint
    replay with no unrolled-round assumption, the strongest oracle
    shape for an iterate-until-converged operator."""
    from cerberus_cpp_spark.operators.graph import k_core

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 101).alias("m"))
    edges = d.select(
        F.col("m").alias("src"),
        ((F.col("m") * F.col("m") + 1) % 101).alias("dst"))
    return k_core(edges, k=2)


_KCORE_DOCS_SQL = """
WITH RECURSIVE g AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM (
    SELECT doc_id % 101 AS src,
           ((doc_id % 101) * (doc_id % 101) + 1) % 101 AS dst
    FROM documents
  ) e0
  WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL
), peel AS (
  SELECT CAST([] AS BIGINT[]) AS removed
  UNION
  SELECT (
    SELECT coalesce(list(DISTINCT x ORDER BY x),
                    CAST([] AS BIGINT[]))
    FROM (
      SELECT x FROM (
        SELECT u AS x, v AS y FROM g
        UNION ALL SELECT v AS x, u AS y FROM g) e
      GROUP BY x
      HAVING list_contains(p.removed, x)
          OR count(*) FILTER (
               WHERE NOT list_contains(p.removed, y)) < 2
    ) cand
  ) AS removed
  FROM peel p
), fin AS (
  SELECT removed FROM peel ORDER BY len(removed) DESC LIMIT 1
)
SELECT x AS node, count(*) AS degree
FROM (
  SELECT u AS x, v AS y FROM g
  UNION ALL SELECT v AS x, u AS y FROM g) e, fin
WHERE NOT list_contains(fin.removed, x)
  AND NOT list_contains(fin.removed, y)
GROUP BY x
"""


def q_comoment_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact co-moment table (checks.comoment_stats) over lineitem's
    four fixed-point measures at decimals=2: all 10 unordered pairs'
    pairwise-valid counts and integer Σx/Σy/Σxy/Σx²/Σy² in cent
    units, sums as exact digit strings, inexact-value counters
    alongside — the covariance/Pearson/OLS core WITHOUT the
    non-bit-portable division/sqrt (the hll_estimate policy). ONE
    full scan, two-level hash aggregation (bounded-chunk LONG limb
    sums + a tiny decimal fold — plan-pinned two Exchanges; 5.6x
    faster than per-row decimal sums, OPTIMIZATION_r06.md); the
    oracle replays the scaling, the pairwise deletion, and every sum
    with DuckDB's HUGEINT arithmetic."""
    from cerberus_cpp_spark.operators.checks import comoment_stats

    li = _t(spark, sf_dir, "lineitem")
    return comoment_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        decimals=2)


def _comoment_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            cx, cy = cols[i], cols[j]
            v = (f"({cx} IS NOT NULL AND NOT isnan({cx}) AND "
                 f"{cy} IS NOT NULL AND NOT isnan({cy}))")
            sx = f"CAST(round({cx} * 100) AS BIGINT)"
            sy = f"CAST(round({cy} * 100) AS BIGINT)"
            parts.append(f"""
SELECT '{cx}' AS col_x, '{cy}' AS col_y,
  count(*) FILTER (WHERE {v}) AS n,
  CAST(sum({sx}) FILTER (WHERE {v}) AS VARCHAR) AS sum_x,
  CAST(sum({sy}) FILTER (WHERE {v}) AS VARCHAR) AS sum_y,
  CAST(sum({sx} * {sy}) FILTER (WHERE {v}) AS VARCHAR) AS sum_xy,
  CAST(sum({sx} * {sx}) FILTER (WHERE {v}) AS VARCHAR) AS sum_x2,
  CAST(sum({sy} * {sy}) FILTER (WHERE {v}) AS VARCHAR) AS sum_y2,
  count(*) FILTER (WHERE {v}
    AND abs({cx} * 100 - round({cx} * 100)) > 1e-6) AS inexact_x,
  count(*) FILTER (WHERE {v}
    AND abs({cy} * 100 - round({cy} * 100)) > 1e-6) AS inexact_y
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


def q_nfc_census_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization census (encoding.nfc_census) over
    documents with planted arms: composed é (already NFC),
    decomposed e+U+0301 (not NFC), the ANGSTROM SIGN U+212B (a
    SINGLETON that NFC rewrites to Å U+00C5 — normalization without
    any combining mark), and a NULL arm. The oracle does NOT replay
    the Python engine's arithmetic — DuckDB normalizes with its OWN
    utf8proc `nfc_normalize` and hashes the result: two unrelated
    UAX #15 implementations agreeing on verdicts, codepoint counts,
    and md5 join keys per row (the parquet_layout oracle class)."""
    from cerberus_cpp_spark.operators.encoding import nfc_census

    d = _t(spark, sf_dir, "documents")
    arm = F.col("doc_id") % 5
    planted = d.select(
        "doc_id",
        F.when(arm == 3, F.lit(None).cast("string"))
        .when(arm == 1, F.concat(F.col("text"),
                                 F.lit("\u00e9")))      # composed
        .when(arm == 2, F.concat(F.col("text"),
                                 F.lit("e\u0301")))     # decomposed
        .when(arm == 4, F.concat(F.col("text"),
                                 F.lit("\u212b")))      # angstrom
        .otherwise(F.col("text")).alias("text"),
    )
    return nfc_census(planted)


_NFC_CENSUS_SQL = """
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 3 THEN NULL
         WHEN doc_id % 5 = 1 THEN text || chr(233)
         WHEN doc_id % 5 = 2 THEN text || chr(101) || chr(769)
         WHEN doc_id % 5 = 4 THEN text || chr(8491)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN 'no_text' ELSE 'ok' END AS status,
       CAST(text = nfc_normalize(text) AS INTEGER) AS is_nfc,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
       md5(nfc_normalize(text)) AS nfc_md5
FROM planted
"""


IMG_XCODEC_N = 900


def q_img_cross_codec_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container content dedup
    (image_checks.cross_codec_duplicates): 900 images in 300 triples
    — each triple is the SAME pixels encoded as PNG, BMP, and TIFF
    (three different byte streams, one image — byte-grain dedup by
    design finds nothing here), except every fifth triple carries
    three UNIQUE pixel arrays (singleton groups; their seed space is
    offset by 10^6 so it can never alias a shared triple's seed) and
    every hundredth-mod-37 payload is corrupt (undecodable rows pass
    through with NULL group columns). The oracle predicts every
    group size and lowest-id survivor by pure id arithmetic — it
    never sees pixels, which is exactly the point: identical pixels
    ⟺ identical fingerprints is the decode+hash invariant the
    interop-pinned codecs guarantee. pixel_md5 itself is projected
    OUT (not SQL-computable); is_survivor is coalesced non-null (the
    nullable-bool pandas trap)."""
    from cerberus_cpp_spark.operators.image_checks import (
        cross_codec_duplicates,
    )

    df = spark.range(0, IMG_XCODEC_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )

        def payload(i: int) -> bytes:
            if i % 100 == 37:
                return b"\x00corrupt" + bytes([i % 251]) * 4
            g, mem = i // 3, i % 3
            seed = (pixel_seed(i + 1_000_000, 99)
                    if g % 5 == 4 else pixel_seed(g, 99))
            px = synth_pixels(seed, 8 + g % 6, 8 + g % 4)
            return encode_pixels(px, ("png", "bmp", "tiff")[mem])

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return cross_codec_duplicates(imgs).select(
        "image_id", "status", "fmt", "w", "h", "group_size",
        "survivor_id",
        F.coalesce(F.col("is_survivor"), F.lit(False))
        .alias("is_survivor"),
    )


_IMG_XCODEC_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_XCODEC_N}) t(i)),
m AS (
  SELECT i, i // 3 AS g, i % 3 AS mem,
         (i % 100 = 37) AS broken,
         ((i // 3) % 5 = 4) AS uniq
  FROM ids
), shared AS (
  SELECT g,
         count(*) FILTER (WHERE NOT broken) AS sz,
         min(i) FILTER (WHERE NOT broken) AS surv
  FROM m WHERE NOT uniq GROUP BY g
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE WHEN broken THEN 'undecodable' ELSE 'ok' END AS status,
       CASE WHEN broken THEN NULL
            ELSE ['png', 'bmp', 'tiff'][mem + 1] END AS fmt,
       CASE WHEN broken THEN NULL
            ELSE CAST(8 + g % 6 AS INTEGER) END AS w,
       CASE WHEN broken THEN NULL
            ELSE CAST(8 + g % 4 AS INTEGER) END AS h,
       CASE WHEN broken THEN NULL
            WHEN uniq THEN CAST(1 AS BIGINT)
            ELSE (SELECT sz FROM shared WHERE shared.g = m.g)
            END AS group_size,
       CASE WHEN broken THEN NULL
            WHEN uniq THEN
              concat('img-', lpad(CAST(i AS VARCHAR), 12, '0'))
            ELSE concat('img-', lpad(CAST(
              (SELECT surv FROM shared WHERE shared.g = m.g)
              AS VARCHAR), 12, '0'))
            END AS survivor_id,
       CASE WHEN broken THEN FALSE
            WHEN uniq THEN TRUE
            ELSE i = (SELECT surv FROM shared WHERE shared.g = m.g)
            END AS is_survivor
FROM m
"""


IMG_ICC_N = 600


def q_img_icc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colour-management audit (image_checks.icc_profile_audit) over
    600 real JPEG/WebP payloads carrying in-repo-built ICC profiles
    (ISO 15076-1 header + tag table, `sources/iccprofile.py`):
    device class / colour space / version / intent / tag count
    rotate by id arithmetic, every third image carries no profile,
    every twentieth-mod-3 profile has its 'acsp' magic corrupted
    (routes to 'bad_icc' with the container intact), every
    twenty-fifth-mod-7 payload is sniff garbage ('malformed').
    Metadata walks only — never pixels; fixed 12-byte tag payloads
    make declared_size pure arithmetic (132 + 24·n_tags), so the
    oracle replays every field including both size columns."""
    from cerberus_cpp_spark.operators.image_checks import (
        icc_profile_audit,
    )

    df = spark.range(0, IMG_ICC_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.iccprofile import (
            build_icc_profile,
        )
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            jpeg_insert_metadata,
        )
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

        def payload(i: int) -> bytes:
            if i % 25 == 7:
                return b"\x03junk" + bytes([i % 251]) * 6
            w, h = 8 + i % 4, 8 + i % 3
            px = synth_pixels(pixel_seed(i, 55), w, h)
            icc = None
            if i % 3 != 1:
                n_tags = 2 + (i // 5) % 2
                icc = build_icc_profile(
                    profile_class=("mntr", "prtr",
                                   "scnr")[(i // 3) % 3],
                    color_space=("RGB ", "CMYK",
                                 "GRAY")[(i // 2) % 3],
                    version=(2, 1) if i % 4 < 2 else (4, 3),
                    rendering_intent=i % 4,
                    tags=[("desc", b"\x00" * 12),
                          ("wtpt", b"\x00" * 12),
                          ("bkpt", b"\x00" * 12)][:n_tags],
                )
                if i % 20 == 3:
                    icc = icc[:36] + b"nope" + icc[40:]
            if i % 2 == 0:
                return jpeg_insert_metadata(
                    encode_pixels(px, "jpeg"), icc=icc)
            rgba = np.dstack([px, np.full((h, w), 255, np.uint8)])
            return encode_webp_vp8x(rgba, lossy=False, icc=icc)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return icc_profile_audit(imgs).withColumn(
        "has_icc", F.coalesce(F.col("has_icc"), F.lit(False)))


_IMG_ICC_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_ICC_N}) t(i)),
m AS (
  SELECT i,
         (i % 25 = 7) AS junk,
         (i % 3 <> 1) AS carries,
         (i % 20 = 3 AND i % 3 <> 1 AND i % 25 <> 7) AS bad,
         2 + (i // 5) % 2 AS nt
  FROM ids
), v AS (
  SELECT *,
         (carries AND NOT junk AND NOT bad) AS good
  FROM m
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE WHEN junk THEN 'malformed'
            WHEN bad THEN 'bad_icc'
            ELSE 'ok' END AS status,
       (NOT junk AND carries) AS has_icc,
       CASE WHEN good THEN CAST(132 + 24 * nt AS BIGINT)
            END AS declared_size,
       CASE WHEN good THEN CAST(132 + 24 * nt AS BIGINT)
            END AS actual_size,
       CASE WHEN good THEN
            CAST(CASE WHEN i % 4 < 2 THEN 2 ELSE 4 END AS INTEGER)
            END AS version_major,
       CASE WHEN good THEN
            CAST(CASE WHEN i % 4 < 2 THEN 1 ELSE 3 END AS INTEGER)
            END AS version_minor,
       CASE WHEN good THEN
            ['mntr', 'prtr', 'scnr'][(i // 3) % 3 + 1]
            END AS profile_class,
       CASE WHEN good THEN
            ['RGB ', 'CMYK', 'GRAY'][(i // 2) % 3 + 1]
            END AS color_space,
       CASE WHEN good THEN 'XYZ ' END AS pcs,
       CASE WHEN good THEN CAST(i % 4 AS INTEGER) END AS intent,
       CASE WHEN good THEN CAST(nt AS INTEGER) END AS n_tags
FROM v
"""


IMG_JQ_N = 600


def q_img_jpeg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free JPEG quality census
    (image_checks.jpeg_quality_audit) over 600 payloads: the encoder
    quality rotates 35..95 by id arithmetic and the audit INVERTS it
    exactly from the DQT tables alone (all 100 IJG (luma, chroma)
    pairs are distinct — pinned in tests/test_jpeg_quality.py), with
    custom-table (one patched luma DC coefficient → no match, integer
    approx scale 100), synthetic 16-bit-table, truncated-mid-header,
    PNG, sniff-garbage, and NULL arms. Header walks only — the DQT
    sits in the first few hundred bytes, so the canonical "drop JPEGs
    below quality N" gate runs at the 10^12-row metadata tier. The
    oracle replays status precedence and every field by pure id
    arithmetic."""
    from cerberus_cpp_spark.operators.image_checks import (
        jpeg_quality_audit,
    )

    df = spark.range(0, IMG_JQ_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.jpegcodec import encode_jpeg

        tbl16 = b"".join(
            int(256 + j).to_bytes(2, "big") for j in range(64))
        blob16 = (b"\xff\xd8" + b"\xff\xdb"
                  + (131).to_bytes(2, "big") + b"\x10" + tbl16
                  + b"\xff\xda\x00\x02")

        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x02junk" + bytes([i % 251]) * 6
            if i % 17 == 4:
                return None
            w, h = 8 + i % 4, 8 + i % 3
            px = synth_pixels(pixel_seed(i, 56), w, h)
            if i % 6 == 5:
                return encode_pixels(px, "png")
            if i % 29 == 11:
                return encode_jpeg(px, quality=80)[:30]
            if i % 10 == 3:
                blob = bytearray(encode_jpeg(px, quality=50))
                # luma DC 16 -> 17: no IJG q matches; the integer
                # approx-scale arithmetic lands exactly on 100
                # (63 coefficients imply 100, the patched DC 106;
                # floor((63*100+106)/64) = 100 — pinned in tests)
                blob[blob.find(b"\xff\xdb") + 5] = 17
                return bytes(blob)
            if i % 31 == 9:
                return blob16
            return encode_jpeg(px, quality=35 + (i * 7) % 61)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return jpeg_quality_audit(imgs).withColumn(
        "has_16bit", F.coalesce(F.col("has_16bit"), F.lit(False)))


_IMG_JQ_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_JQ_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              WHEN i % 6 = 5 THEN 'png'
              WHEN i % 29 = 11 THEN 'trunc'
              WHEN i % 10 = 3 THEN 'custom'
              WHEN i % 31 = 9 THEN 'bit16'
              ELSE 'ijg' END AS arm
  FROM ids
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE arm WHEN 'junk' THEN 'malformed'
                WHEN 'nul' THEN 'no_payload'
                WHEN 'png' THEN 'not_jpeg'
                WHEN 'trunc' THEN 'malformed'
                ELSE 'ok' END AS status,
       CAST(CASE WHEN arm IN ('custom', 'ijg') THEN 2
            WHEN arm = 'bit16' THEN 1 END AS INTEGER) AS n_tables,
       CAST(CASE WHEN arm IN ('custom', 'bit16', 'ijg') THEN 1
            END AS INTEGER) AS n_dqt_segments,
       (arm = 'bit16') AS has_16bit,
       CASE WHEN arm = 'ijg' THEN CAST(35 + (i * 7) % 61 AS INTEGER)
            END AS matched_quality,
       CAST(CASE WHEN arm = 'custom' THEN 100 END AS INTEGER)
         AS approx_scale_pct
FROM m
"""


IMG_PS_N = 600


def q_img_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-tier curation census (image_checks.pixel_stats) over 600
    lossless PNG payloads whose pixels are PARAMETRIC in (id, x, y):
    solid / grey-gradient / letterboxed / colour-gradient arms plus
    corrupt and NULL payloads. The oracle regenerates EVERY PIXEL of
    every image with the same modular arithmetic in a DuckDB
    range-join grid and folds the same integer moments — sums,
    sum-of-squares, grey and dark counts, and ring min=max border
    uniformity — so brightness/contrast/greyscale/letterbox gates
    are verified end-to-end without any hardcoded expectations. The
    decode stage is the in-repo PNG codec; one narrow Arrow pass."""
    from cerberus_cpp_spark.operators.image_checks import pixel_stats

    df = spark.range(0, IMG_PS_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            parametric_pixels,
        )

        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x89PNG\r\n\x1a\n" + bytes([i % 251]) * 9
            if i % 17 == 4:
                return None
            w, h = 8 + i % 4, 8 + i % 3
            arm = ("solid", "greygrad", "boxed",
                   "colorgrad")[i % 4]
            return encode_pixels(
                parametric_pixels(i, w, h, arm), "png")

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return pixel_stats(imgs).withColumn(
        "border_uniform",
        F.coalesce(F.col("border_uniform"), F.lit(False)))


_IMG_PS_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_PS_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              ELSE ['solid', 'greygrad', 'boxed',
                    'colorgrad'][i % 4 + 1] END AS arm,
         8 + i % 4 AS w, 8 + i % 3 AS h
  FROM ids
),
px AS (
  SELECT m.i, m.arm, m.w, m.h, gx.x, gy.y,
         (gx.x = 0 OR gx.x = m.w - 1
          OR gy.y = 0 OR gy.y = m.h - 1) AS ring
  FROM m
  JOIN range(0, 11) gx(x) ON gx.x < m.w
  JOIN range(0, 10) gy(y) ON gy.y < m.h
  WHERE m.arm NOT IN ('junk', 'nul')
),
rgb AS (
  SELECT i, arm, w, h, ring,
         CASE arm WHEN 'solid' THEN i % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 13 + y * 29 + i) % 256 END
         END AS r,
         CASE arm WHEN 'solid' THEN (3 * i) % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 7 + y * 3 + 2 * i) % 256 END
         END AS g,
         CASE arm WHEN 'solid' THEN (7 * i) % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 11 + y * 5 + 3 * i) % 256 END
         END AS b
  FROM px
),
agg AS (
  SELECT i,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum(r) AS BIGINT) AS sum_r,
         CAST(sum(g) AS BIGINT) AS sum_g,
         CAST(sum(b) AS BIGINT) AS sum_b,
         CAST(sum(r * r) AS BIGINT) AS sumsq_r,
         CAST(sum(g * g) AS BIGINT) AS sumsq_g,
         CAST(sum(b * b) AS BIGINT) AS sumsq_b,
         CAST(sum(CASE WHEN r = g AND g = b THEN 1 ELSE 0 END)
              AS BIGINT) AS n_grey,
         CAST(sum(CASE WHEN r + g + b < 96 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dark,
         (min(CASE WHEN ring THEN r * 65536 + g * 256 + b END)
          = max(CASE WHEN ring THEN r * 65536 + g * 256 + b END))
             AS border_uniform,
         CAST(min(CASE WHEN ring THEN r * 65536 + g * 256 + b END)
              AS INTEGER) AS border_min
  FROM rgb GROUP BY i
)
SELECT concat('img-', lpad(CAST(m.i AS VARCHAR), 12, '0')) AS image_id,
       CASE m.arm WHEN 'junk' THEN 'undecodable'
                  WHEN 'nul' THEN 'no_payload'
                  ELSE 'ok' END AS status,
       agg.n_pixels, agg.sum_r, agg.sum_g, agg.sum_b,
       agg.sumsq_r, agg.sumsq_g, agg.sumsq_b,
       agg.n_grey, agg.n_dark,
       coalesce(agg.border_uniform, FALSE) AS border_uniform,
       CASE WHEN agg.border_uniform THEN agg.border_min
            END AS border_rgb
FROM m LEFT JOIN agg ON m.i = agg.i
"""


IMG_SH_N = 600


def q_img_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur/sharpness census (image_checks.pixel_sharpness) over the
    SAME parametric-pixel fixture family as img_pixel_stats (solid /
    grey-gradient / letterboxed / colour-gradient, corrupt, NULL):
    the oracle never sees a pixel — it evaluates the generator's
    modular formulas AT THE NEIGHBOUR COORDINATES in a DuckDB
    (pixel x offset x channel) grid and folds the same exact int64
    Laplacian aggregates. Gradient arms are linear inside mod 256,
    so their response is zero except where a channel WRAPS — real
    +-256-scale edges the n_edges counter must find; the boxed arm
    adds the ring/interior boundary. One decode pass, no shuffle."""
    from cerberus_cpp_spark.operators.image_checks import (
        pixel_sharpness,
    )

    df = spark.range(0, IMG_SH_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            parametric_pixels,
        )

        # shares the single parametric builder with
        # q_img_pixel_stats / q_img_curation_verdict
        # (and both oracles' CASE arithmetic)
        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x89PNG\r\n\x1a\n" + bytes([i % 251]) * 9
            if i % 17 == 4:
                return None
            w, h = 8 + i % 4, 8 + i % 3
            arm = ("solid", "greygrad", "boxed",
                   "colorgrad")[i % 4]
            return encode_pixels(
                parametric_pixels(i, w, h, arm), "png")

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return pixel_sharpness(imgs)


_IMG_SH_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_SH_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              ELSE ['solid', 'greygrad', 'boxed',
                    'colorgrad'][i % 4 + 1] END AS arm,
         8 + i % 4 AS w, 8 + i % 3 AS h
  FROM ids
),
contrib AS (
  SELECT m.i, gx.x, gy.y, ch.c, o.wt,
         gx.x + o.dx AS ox, gy.y + o.dy AS oy
  FROM m
  JOIN range(0, 11) gx(x) ON gx.x >= 1 AND gx.x < m.w - 1
  JOIN range(0, 10) gy(y) ON gy.y >= 1 AND gy.y < m.h - 1
  CROSS JOIN (VALUES (0, 0, 4), (-1, 0, -1), (1, 0, -1),
                     (0, -1, -1), (0, 1, -1)) o(dx, dy, wt)
  CROSS JOIN range(0, 3) ch(c)
  WHERE m.arm NOT IN ('junk', 'nul')
),
val AS (
  SELECT contrib.*, m.arm, m.w, m.h,
         CASE m.arm
           WHEN 'solid' THEN
             CASE c WHEN 0 THEN i % 256
                    WHEN 1 THEN (3 * i) % 256
                    ELSE (7 * i) % 256 END
           WHEN 'greygrad' THEN (ox * 31 + oy * 7 + i) % 256
           ELSE CASE WHEN m.arm = 'boxed'
                      AND (ox = 0 OR ox = m.w - 1
                           OR oy = 0 OR oy = m.h - 1) THEN 5
                ELSE CASE c
                       WHEN 0 THEN (ox * 13 + oy * 29 + i) % 256
                       WHEN 1 THEN (ox * 7 + oy * 3 + 2 * i) % 256
                       ELSE (ox * 11 + oy * 5 + 3 * i) % 256 END
                END
         END AS v
  FROM contrib JOIN m USING (i)
),
lapc AS (
  SELECT i, x, y, c, sum(wt * v) AS lap
  FROM val GROUP BY i, x, y, c
),
lap3 AS (
  SELECT i, x, y, sum(abs(lap)) AS lap3
  FROM lapc GROUP BY i, x, y
),
agg AS (
  SELECT i,
         CAST(count(*) AS BIGINT) AS n_interior,
         CAST(sum(lap3) AS BIGINT) AS lap_sum,
         CAST(max(lap3) AS BIGINT) AS lap_max,
         CAST(sum(CASE WHEN lap3 >= 128 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_edges
  FROM lap3 GROUP BY i
)
SELECT concat('img-', lpad(CAST(m.i AS VARCHAR), 12, '0')) AS image_id,
       CASE m.arm WHEN 'junk' THEN 'undecodable'
                  WHEN 'nul' THEN 'no_payload'
                  ELSE 'ok' END AS status,
       agg.n_interior, agg.lap_sum, agg.lap_max, agg.n_edges
FROM m LEFT JOIN agg ON m.i = agg.i
"""


IMG_CV_N = 600


def q_img_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass image curation verdict
    (image_checks.image_curation_verdict — the image twin of
    curate_docs): 600 payloads spanning every rule — garbage/NULL,
    sub-minimum-size, low-IJG-quality JPEGs (exact DQT inversion,
    quality 35..59 by id arithmetic), high-quality-but-flat JPEGs
    (solid pixels survive the quality gate and fail the Laplacian
    gate — solidity is decode-invariant, so the oracle needs no DCT),
    and the parametric PNG arms whose flat/dark/greyscale outcomes
    the oracle computes from the SAME pixel + neighbour grids as
    img_pixel_stats / img_sharpness before folding the first-fail
    rule order. Integer comparisons only — the verdict replays
    bit-for-bit."""
    from cerberus_cpp_spark.operators.image_checks import (
        image_curation_verdict,
    )

    df = spark.range(0, IMG_CV_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            parametric_pixels,
        )
        from cerberus_cpp_spark.sources.jpegcodec import encode_jpeg

        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x06junk" + bytes([i % 251]) * 6
            if i % 17 == 4:
                return None
            w, h = 9 + i % 4, 9 + i % 3
            if i % 6 == 5:
                solid = np.full((h, w, 3), 130, np.uint8)
                return encode_jpeg(solid, quality=35 + (i * 5) % 25)
            if i % 10 == 3:
                solid = np.full((h, w, 3), 130, np.uint8)
                return encode_jpeg(solid, quality=60 + (i * 3) % 36)
            if i % 29 == 11:
                return encode_pixels(
                    np.full((8, 8, 3), 130, np.uint8), "png")
            arm = ("solid", "greygrad", "boxed",
                   "colorgrad")[i % 4]
            return encode_pixels(
                parametric_pixels(i, w, h, arm), "png")

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return image_curation_verdict(imgs)


_IMG_CV_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_CV_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              WHEN i % 6 = 5 THEN 'lowq'
              WHEN i % 10 = 3 THEN 'hiq'
              WHEN i % 29 = 11 THEN 'small'
              ELSE ['solid', 'greygrad', 'boxed',
                    'colorgrad'][i % 4 + 1] END AS arm,
         9 + i % 4 AS w, 9 + i % 3 AS h
  FROM ids
),
px AS (
  SELECT m.i, m.arm, m.w, m.h, gx.x, gy.y,
         (gx.x = 0 OR gx.x = m.w - 1
          OR gy.y = 0 OR gy.y = m.h - 1) AS ring
  FROM m
  JOIN range(0, 13) gx(x) ON gx.x < m.w
  JOIN range(0, 12) gy(y) ON gy.y < m.h
  WHERE m.arm IN ('solid', 'greygrad', 'boxed', 'colorgrad')
),
rgb AS (
  SELECT i, arm, w, h, x, y,
         CASE arm WHEN 'solid' THEN i % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 13 + y * 29 + i) % 256 END
         END AS r,
         CASE arm WHEN 'solid' THEN (3 * i) % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 7 + y * 3 + 2 * i) % 256 END
         END AS g,
         CASE arm WHEN 'solid' THEN (7 * i) % 256
                  WHEN 'greygrad' THEN (x * 31 + y * 7 + i) % 256
                  ELSE CASE WHEN arm = 'boxed' AND ring THEN 5
                       ELSE (x * 11 + y * 5 + 3 * i) % 256 END
         END AS b
  FROM px
),
pixagg AS (
  SELECT i, count(*) AS n_pixels,
         sum(CASE WHEN r + g + b < 96 THEN 1 ELSE 0 END) AS n_dark,
         sum(CASE WHEN r = g AND g = b THEN 1 ELSE 0 END) AS n_grey
  FROM rgb GROUP BY i
),
contrib AS (
  SELECT m.i, gx.x, gy.y, ch.c, o.wt,
         gx.x + o.dx AS ox, gy.y + o.dy AS oy, m.arm, m.w, m.h
  FROM m
  JOIN range(0, 13) gx(x) ON gx.x >= 1 AND gx.x < m.w - 1
  JOIN range(0, 12) gy(y) ON gy.y >= 1 AND gy.y < m.h - 1
  CROSS JOIN (VALUES (0, 0, 4), (-1, 0, -1), (1, 0, -1),
                     (0, -1, -1), (0, 1, -1)) o(dx, dy, wt)
  CROSS JOIN range(0, 3) ch(c)
  WHERE m.arm IN ('solid', 'greygrad', 'boxed', 'colorgrad')
),
val AS (
  SELECT i, x, y, c, wt,
         CASE arm
           WHEN 'solid' THEN
             CASE c WHEN 0 THEN i % 256
                    WHEN 1 THEN (3 * i) % 256
                    ELSE (7 * i) % 256 END
           WHEN 'greygrad' THEN (ox * 31 + oy * 7 + i) % 256
           ELSE CASE WHEN arm = 'boxed'
                      AND (ox = 0 OR ox = w - 1
                           OR oy = 0 OR oy = h - 1) THEN 5
                ELSE CASE c
                       WHEN 0 THEN (ox * 13 + oy * 29 + i) % 256
                       WHEN 1 THEN (ox * 7 + oy * 3 + 2 * i) % 256
                       ELSE (ox * 11 + oy * 5 + 3 * i) % 256 END
                END
         END AS v
  FROM contrib
),
lapagg AS (
  SELECT i, sum(l3) AS lap_sum, count(*) AS n_interior FROM (
    SELECT i, x, y, sum(abs(lap)) AS l3 FROM (
      SELECT i, x, y, c, sum(wt * v) AS lap
      FROM val GROUP BY i, x, y, c
    ) GROUP BY i, x, y
  ) GROUP BY i
),
folded AS (
  SELECT m.i, m.arm, m.w, m.h,
         CASE m.arm
           WHEN 'junk' THEN 'undecodable'
           WHEN 'nul' THEN 'no_payload'
           WHEN 'lowq' THEN 'low_quality'
           WHEN 'hiq' THEN 'too_flat'
           WHEN 'small' THEN 'too_small'
           ELSE CASE
             WHEN l.lap_sum < 3 * l.n_interior THEN 'too_flat'
             WHEN 2 * p.n_dark > p.n_pixels THEN 'too_dark'
             WHEN p.n_grey = p.n_pixels THEN 'greyscale'
           END
         END AS reason
  FROM m
  LEFT JOIN pixagg p ON m.i = p.i
  LEFT JOIN lapagg l ON m.i = l.i
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE arm WHEN 'junk' THEN 'undecodable'
                WHEN 'nul' THEN 'no_payload'
                ELSE 'ok' END AS status,
       CAST(CASE WHEN arm = 'junk' OR arm = 'nul' THEN NULL
                 WHEN arm = 'small' THEN 8 ELSE w
            END AS INTEGER) AS w,
       CAST(CASE WHEN arm = 'junk' OR arm = 'nul' THEN NULL
                 WHEN arm = 'small' THEN 8 ELSE h
            END AS INTEGER) AS h,
       CASE WHEN reason IS NULL THEN 'keep' ELSE 'drop' END
         AS verdict,
       reason
FROM folded
"""


IMG_TH_N = 600


def q_img_thumb_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF IFD1 embedded-thumbnail audit
    (image_checks.exif_thumbnail_audit) over 600 real JPEG and PNG
    carriers: five constant thumbnail variants (REAL in-repo JPEG
    encodes whose byte lengths and dims the oracle pins at
    SQL-BUILD time — the robots-oracle parser-snapshot pattern),
    plus no-exif, exif-without-IFD1, truncated-IFD1 (out-of-bounds
    payload routes to 'malformed'), undecodable-thumbnail, garbage
    and NULL arms. The strip-pipeline leak class: a thumbnail is a
    second image redaction must not miss. Container walks + one tiny
    decode per thumbnail; one narrow Arrow stage."""
    from cerberus_cpp_spark.operators.image_checks import (
        exif_thumbnail_audit,
    )

    df = spark.range(0, IMG_TH_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.jpegcodec import encode_jpeg

        thumbs = [encode_jpeg(
            synth_pixels(pixel_seed(k, 58), 8 + k % 3, 6 + k % 2),
            quality=55 + k) for k in range(5)]
        garbage = b"\x00not-a-jpeg\x00" * 3

        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x05junk" + bytes([i % 251]) * 6
            if i % 17 == 4:
                return None
            w, h = 8 + i % 4, 8 + i % 3
            px = synth_pixels(pixel_seed(i, 59), w, h)
            host_jpeg = i % 2 == 0
            host = encode_pixels(px, "jpeg" if host_jpeg else "png")
            insert = (jpeg_insert_metadata if host_jpeg
                      else png_insert_metadata)
            if i % 6 == 5:
                return host
            if i % 10 == 3:
                return insert(host, exif=build_exif(
                    description=f"img {i}"))
            if i % 29 == 11:
                return insert(host, exif=build_exif(
                    thumbnail=thumbs[0])[:-5])
            if i % 31 == 9:
                return insert(host, exif=build_exif(
                    thumbnail=garbage))
            return insert(host, exif=build_exif(
                thumbnail=thumbs[i % 5]))

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return exif_thumbnail_audit(imgs).withColumn(
        "has_exif", F.coalesce(F.col("has_exif"), F.lit(False))
    ).withColumn(
        "has_thumbnail",
        F.coalesce(F.col("has_thumbnail"), F.lit(False))
    ).withColumn(
        "thumb_decodes",
        F.coalesce(F.col("thumb_decodes"), F.lit(False)))


def _img_thumb_sql() -> str:
    """Oracle with the five thumbnail constants derived from the
    SAME in-repo encoder at SQL-build time (the robots-oracle
    parser-snapshot pin): lengths and dims become literals."""
    from cerberus_cpp_spark.sources.imagegen import (
        pixel_seed,
        synth_pixels,
    )
    from cerberus_cpp_spark.sources.jpegcodec import encode_jpeg

    lens, ws, hs = [], [], []
    for k in range(5):
        w, h = 8 + k % 3, 6 + k % 2
        lens.append(len(encode_jpeg(
            synth_pixels(pixel_seed(k, 58), w, h), quality=55 + k)))
        ws.append(w)
        hs.append(h)
    garbage_len = len(b"\x00not-a-jpeg\x00" * 3)
    return f"""
WITH ids AS (SELECT i FROM range(0, {IMG_TH_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              WHEN i % 6 = 5 THEN 'noexif'
              WHEN i % 10 = 3 THEN 'nothumb'
              WHEN i % 29 = 11 THEN 'trunc'
              WHEN i % 31 = 9 THEN 'garbage'
              ELSE 'thumb' END AS arm,
         i % 5 AS k
  FROM ids
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE arm WHEN 'junk' THEN 'malformed'
                WHEN 'nul' THEN 'no_payload'
                WHEN 'trunc' THEN 'malformed'
                ELSE 'ok' END AS status,
       (arm IN ('nothumb', 'garbage', 'thumb')) AS has_exif,
       (arm IN ('garbage', 'thumb')) AS has_thumbnail,
       CAST(CASE WHEN arm IN ('garbage', 'thumb') THEN 6
            END AS INTEGER) AS thumb_compression,
       CAST(CASE WHEN arm = 'garbage' THEN {garbage_len}
                 WHEN arm = 'thumb' THEN
                   [{lens[0]}, {lens[1]}, {lens[2]}, {lens[3]},
                    {lens[4]}][k + 1]
            END AS BIGINT) AS thumb_len,
       (arm = 'thumb') AS thumb_decodes,
       CAST(CASE WHEN arm = 'thumb' THEN
              [{ws[0]}, {ws[1]}, {ws[2]}, {ws[3]}, {ws[4]}][k + 1]
            END AS INTEGER) AS thumb_w,
       CAST(CASE WHEN arm = 'thumb' THEN
              [{hs[0]}, {hs[1]}, {hs[2]}, {hs[3]}, {hs[4]}][k + 1]
            END AS INTEGER) AS thumb_h
FROM m
"""


IMG_SOF_N = 600


def q_img_sof_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-structure census (image_checks.jpeg_sof_census) over 600
    payloads: real baseline 4:4:4 encodes (some with DRI restart
    intervals), plus headers-only SOF fixtures for the layouts the
    in-repo encoder never writes — progressive 4:2:0, grayscale,
    4:2:2 with id-derived restart intervals, 12-bit extended 4:4:0 —
    and no-SOF / truncation / PNG / garbage / NULL arms. Header
    walks only, never entropy data; the oracle replays process,
    precision, dims, the sampling string, the derived subsampling
    label, and the restart interval by pure id arithmetic."""
    from cerberus_cpp_spark.operators.image_checks import (
        jpeg_sof_census,
    )

    df = spark.range(0, IMG_SOF_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.jpegcodec import (
            build_sof_fixture,
            encode_jpeg,
        )

        def payload(i: int) -> bytes | None:
            if i % 25 == 7:
                return b"\x04junk" + bytes([i % 251]) * 6
            if i % 17 == 4:
                return None
            w, h = 8 + i % 4, 8 + i % 3
            if i % 6 == 5:
                return encode_pixels(
                    synth_pixels(pixel_seed(i, 57), w, h), "png")
            if i % 29 == 11:
                return b"\xff\xd8\xff\xda\x00\x02"  # no SOF
            if i % 10 == 3:
                return build_sof_fixture(
                    process=0xC2, w=32 + i % 64, h=16 + i % 32)
            if i % 31 == 9:
                return build_sof_fixture(
                    w=24 + i % 8, h=24 + i % 8,
                    comps=[(1, 1, 1, 0)])
            if i % 13 == 2:
                return build_sof_fixture(
                    w=40 + i % 16, h=20 + i % 16,
                    comps=[(1, 2, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)],
                    restart_interval=1 + i % 7)
            if i % 11 == 6:
                return build_sof_fixture(
                    process=0xC1, precision=12,
                    w=48 + i % 4, h=12 + i % 4,
                    comps=[(1, 1, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)])
            px = synth_pixels(pixel_seed(i, 57), w, h)
            return encode_jpeg(
                px, quality=75,
                restart_interval=4 if i % 4 == 0 else 0)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    return jpeg_sof_census(imgs)


_IMG_SOF_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_SOF_N}) t(i)),
m AS (
  SELECT i,
         CASE WHEN i % 25 = 7 THEN 'junk'
              WHEN i % 17 = 4 THEN 'nul'
              WHEN i % 6 = 5 THEN 'png'
              WHEN i % 29 = 11 THEN 'nosof'
              WHEN i % 10 = 3 THEN 'prog'
              WHEN i % 31 = 9 THEN 'grey'
              WHEN i % 13 = 2 THEN 's422'
              WHEN i % 11 = 6 THEN 'ext440'
              ELSE 'real' END AS arm
  FROM ids
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE arm WHEN 'junk' THEN 'malformed'
                WHEN 'nul' THEN 'no_payload'
                WHEN 'png' THEN 'not_jpeg'
                WHEN 'nosof' THEN 'malformed'
                ELSE 'ok' END AS status,
       CASE arm WHEN 'prog' THEN 'progressive'
                WHEN 'ext440' THEN 'extended'
                WHEN 'grey' THEN 'baseline'
                WHEN 's422' THEN 'baseline'
                WHEN 'real' THEN 'baseline' END AS process,
       CAST(CASE WHEN arm = 'ext440' THEN 12
            WHEN arm IN ('prog', 'grey', 's422', 'real') THEN 8
            END AS INTEGER) AS precision,
       CAST(CASE arm WHEN 'prog' THEN 32 + i % 64
                WHEN 'grey' THEN 24 + i % 8
                WHEN 's422' THEN 40 + i % 16
                WHEN 'ext440' THEN 48 + i % 4
                WHEN 'real' THEN 8 + i % 4 END AS INTEGER) AS img_w,
       CAST(CASE arm WHEN 'prog' THEN 16 + i % 32
                WHEN 'grey' THEN 24 + i % 8
                WHEN 's422' THEN 20 + i % 16
                WHEN 'ext440' THEN 12 + i % 4
                WHEN 'real' THEN 8 + i % 3 END AS INTEGER) AS img_h,
       CAST(CASE WHEN arm = 'grey' THEN 1
            WHEN arm IN ('prog', 's422', 'ext440', 'real') THEN 3
            END AS INTEGER) AS n_components,
       CASE arm WHEN 'prog' THEN '2x2,1x1,1x1'
                WHEN 'grey' THEN '1x1'
                WHEN 's422' THEN '2x1,1x1,1x1'
                WHEN 'ext440' THEN '1x2,1x1,1x1'
                WHEN 'real' THEN '1x1,1x1,1x1' END AS sampling,
       CASE arm WHEN 'prog' THEN '4:2:0'
                WHEN 'grey' THEN 'grayscale'
                WHEN 's422' THEN '4:2:2'
                WHEN 'ext440' THEN '4:4:0'
                WHEN 'real' THEN '4:4:4' END AS subsampling,
       CAST(CASE arm WHEN 's422' THEN 1 + i % 7
                WHEN 'real' THEN CASE WHEN i % 4 = 0 THEN 4 ELSE 0 END
                WHEN 'prog' THEN 0 WHEN 'grey' THEN 0
                WHEN 'ext440' THEN 0 END AS INTEGER)
         AS restart_interval
FROM m
"""


ARB_N = 20000


def q_ar_buckets_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (operators/arbuckets.assign_ar_buckets)
    over the 20k-row input_hint table: every image lands in the
    nearest of the 25 SDXL-style 1-megapixel buckets via ONE
    shuffle-free codegen projection (the bucket table travels as
    literals in a single least() over structs — no join, no window,
    no Python). Integer cross-multiplication distance with one final
    IEEE division keeps the argmin bit-portable, so the oracle
    regenerates the bucket table from range() arithmetic, replays
    the distgen w/h plants, and re-derives every assignment with a
    window argmin — including the w=0 violation arm routing to NULL
    and extreme ARs clamping to the widest/tallest bucket."""
    from cerberus_cpp_spark.operators.arbuckets import assign_ar_buckets
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, ARB_N, partitions=8)
    return assign_ar_buckets(
        df.select("image_id", "w", "h"))


_ARB_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {ARB_N})
), t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 0 THEN 0
         ELSE CAST(16 + (mix % 1009) % 4080 AS INT) END AS w,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 1 THEN 20000
         ELSE CAST(16 + ((mix // 7) % 1013) % 4080 AS INT) END AS h
  FROM g
), buckets AS (
  SELECT row_number() OVER (ORDER BY bw) - 1 AS bucket_id, bw, bh
  FROM (
    SELECT (r.range + 1) * 64 AS bw,
           ((1048576 // ((r.range + 1) * 64)) // 64) * 64 AS bh
    FROM range(0, 256) r
  )
  WHERE bw <= bh * 4 AND bh <= bw * 4
), assigned AS (
  SELECT t.id, t.image_id, t.w, t.h,
         b.bucket_id, b.bw, b.bh,
         row_number() OVER (
           PARTITION BY t.id
           ORDER BY CAST(abs(t.w * b.bh - t.h * b.bw) AS DOUBLE)
                    / b.bh, b.bucket_id) AS rn
  FROM t JOIN buckets b ON t.w > 0 AND t.h > 0
)
SELECT image_id, w, h,
       CAST(bucket_id AS INTEGER) AS bucket_id,
       CAST(bw AS INTEGER) AS bucket_w,
       CAST(bh AS INTEGER) AS bucket_h
FROM assigned WHERE rn = 1
UNION ALL
SELECT image_id, w, h, NULL, NULL, NULL
FROM t WHERE NOT (w > 0 AND h > 0)
"""


def q_ar_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full bucketing pipeline (assign_ar_buckets composed with
    ar_resize_plan) over the same 20k input_hint table: each image
    gets its nearest 1-megapixel bucket AND the cover-resize +
    center-crop plan that lands it there — resize_w/resize_h each at
    least their bucket side (round-half-up of the AR-preserving
    scale, pure integer arithmetic), crop offsets the floored half
    overflow. Still ONE shuffle-free codegen projection end to end
    (both stages are projections over literals). The oracle re-derives
    the assignment with the window argmin and replays the resize
    arithmetic with integer `//` — bit-identical by the rational-gap
    argument in arbuckets.ar_resize_plan."""
    from cerberus_cpp_spark.operators.arbuckets import (
        ar_resize_plan,
        assign_ar_buckets,
    )
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, ARB_N, partitions=8)
    return ar_resize_plan(
        assign_ar_buckets(df.select("image_id", "w", "h")))


_ARB_RESIZE_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {ARB_N})
), t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 0 THEN 0
         ELSE CAST(16 + (mix % 1009) % 4080 AS INT) END AS w,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 1 THEN 20000
         ELSE CAST(16 + ((mix // 7) % 1013) % 4080 AS INT) END AS h
  FROM g
), buckets AS (
  SELECT row_number() OVER (ORDER BY bw) - 1 AS bucket_id, bw, bh
  FROM (
    SELECT (r.range + 1) * 64 AS bw,
           ((1048576 // ((r.range + 1) * 64)) // 64) * 64 AS bh
    FROM range(0, 256) r
  )
  WHERE bw <= bh * 4 AND bh <= bw * 4
), assigned AS (
  SELECT t.id, t.image_id, t.w, t.h,
         b.bucket_id, b.bw, b.bh,
         row_number() OVER (
           PARTITION BY t.id
           ORDER BY CAST(abs(t.w * b.bh - t.h * b.bw) AS DOUBLE)
                    / b.bh, b.bucket_id) AS rn
  FROM t JOIN buckets b ON t.w > 0 AND t.h > 0
), planned AS (
  SELECT *,
         CASE WHEN w * bh >= h * bw
              THEN (2 * w * bh + h) // (2 * h) ELSE bw END AS rw,
         CASE WHEN w * bh >= h * bw
              THEN bh ELSE (2 * h * bw + w) // (2 * w) END AS rh
  FROM assigned WHERE rn = 1
)
SELECT image_id, w, h,
       CAST(bucket_id AS INTEGER) AS bucket_id,
       CAST(bw AS INTEGER) AS bucket_w,
       CAST(bh AS INTEGER) AS bucket_h,
       CAST(rw AS INTEGER) AS resize_w,
       CAST(rh AS INTEGER) AS resize_h,
       CAST((rw - bw) // 2 AS INTEGER) AS crop_x,
       CAST((rh - bh) // 2 AS INTEGER) AS crop_y
FROM planned
UNION ALL
SELECT image_id, w, h, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM t WHERE NOT (w > 0 AND h > 0)
"""


def q_pack_batches_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-batch assembly
    (arbuckets.pack_batches after assign_ar_buckets) over the 20k
    input_hint table: every image lands in a stable md5 shard of its
    id and a fixed-size-32 batch within its (bucket, shard) group,
    ordered by a second independent md5 — relayout- and
    append-stable by construction (pure key functions, the
    split_bucket discipline), remainder rows and NULL-key/NULL-bucket
    rows reporting NULL batch columns instead of shipping short or
    nondeterministic batches. ONE Exchange, partitioned on
    (bucket, shard) so parallelism is n_buckets*n_shards, never 25
    tasks; both window functions share it. The oracle replays the
    shard hash, the ordering hash, the row_number fold, and the
    drop-last arithmetic in SQL."""
    from cerberus_cpp_spark.operators.arbuckets import (
        assign_ar_buckets,
        pack_batches,
    )
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    df = image_caption_frame(spark, ARB_N, partitions=8)
    packed = pack_batches(
        assign_ar_buckets(df.select("image_id", "w", "h")),
        batch_size=32, key="image_id", n_shards=4)
    return packed.select("image_id", "bucket_id", "shard",
                         "batch_index", "batch_pos", "batch_id")


_PACK_SQL = f"""
WITH g AS (
  SELECT range AS id,
         ((range * 2654435761) + 42) & 9223372036854775807 AS mix
  FROM range(0, {ARB_N})
), t AS (
  SELECT id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 5 THEN NULL
         ELSE printf('img-%012d', id) END AS image_id,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 0 THEN 0
         ELSE CAST(16 + (mix % 1009) % 4080 AS INT) END AS w,
    CASE WHEN id % 100 = 0 AND (id // 100) % 6 = 1 THEN 20000
         ELSE CAST(16 + ((mix // 7) % 1013) % 4080 AS INT) END AS h
  FROM g
), buckets AS (
  SELECT row_number() OVER (ORDER BY bw) - 1 AS bucket_id, bw, bh
  FROM (
    SELECT (r.range + 1) * 64 AS bw,
           ((1048576 // ((r.range + 1) * 64)) // 64) * 64 AS bh
    FROM range(0, 256) r
  )
  WHERE bw <= bh * 4 AND bh <= bw * 4
), assigned AS (
  SELECT t.id, t.image_id, b.bucket_id,
         row_number() OVER (
           PARTITION BY t.id
           ORDER BY CAST(abs(t.w * b.bh - t.h * b.bw) AS DOUBLE)
                    / b.bh, b.bucket_id) AS rn
  FROM t JOIN buckets b ON t.w > 0 AND t.h > 0
), rows_ AS (
  SELECT t.id, t.image_id, a.bucket_id,
         CASE WHEN a.bucket_id IS NOT NULL
                   AND t.image_id IS NOT NULL THEN
           CAST(CAST(concat('0x', substr(md5(
             concat('shard:', t.image_id, ':0')), 1, 12)) AS BIGINT)
             % 4 AS INTEGER) END AS shard,
         CASE WHEN t.image_id IS NOT NULL THEN
           md5(concat('pack:', t.image_id, ':0')) END AS ordk
  FROM t LEFT JOIN (SELECT * FROM assigned WHERE rn = 1) a
    ON t.id = a.id
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY bucket_id, shard
                            ORDER BY ordk, image_id) - 1 AS rank,
         count(*) OVER (PARTITION BY bucket_id, shard) AS n_in
  FROM rows_ WHERE shard IS NOT NULL
)
SELECT image_id,
       CAST(bucket_id AS INTEGER) AS bucket_id, shard,
       CAST(rank // 32 AS BIGINT) AS batch_index,
       CAST(rank % 32 AS INTEGER) AS batch_pos,
       printf('%d:%d:%d', bucket_id, shard, rank // 32) AS batch_id
FROM ranked WHERE rank < n_in - n_in % 32
UNION ALL
SELECT image_id, CAST(bucket_id AS INTEGER), shard, NULL, NULL, NULL
FROM ranked WHERE rank >= n_in - n_in % 32
UNION ALL
SELECT image_id, CAST(bucket_id AS INTEGER), NULL, NULL, NULL, NULL
FROM rows_ WHERE shard IS NULL
"""


IMG_GPS_N = 600


def q_img_gps_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location-PII audit (image_checks.gps_pii_audit) over 600 real
    JPEG/PNG/WebP payloads: every fourth image carries an EXIF GPS
    IFD with id-derived deg/min/sec RATIONALs (exact num/den int64
    pairs end to end — CIPA DC-008 stores rationals, and floats
    would destroy oracle exactness), every 25th-mod-1 payload is
    sniff-garbage routed to 'malformed'. Container walks only, one
    narrow Arrow stage, no pixel decode — the 10^12-row tier. The
    oracle replays the plant (status precedence, refs, every
    rational, the alt arm) by pure id arithmetic."""
    from cerberus_cpp_spark.operators.image_checks import gps_pii_audit

    df = spark.range(0, IMG_GPS_N, 1,
                     spark.sparkContext.defaultParallelism)
    pkg_parent = PKG_PARENT

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np

        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels,
            pixel_seed,
            synth_pixels,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )
        from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

        def payload(i: int) -> bytes:
            if i % 25 == 1:
                return b"\x00\x01junk" + bytes([i % 251]) * 8
            w, h = 8 + i % 5, 8 + i % 3
            px = synth_pixels(pixel_seed(i, 77), w, h)
            gps = None
            if i % 4 == 0:
                gps = {
                    "lat_ref": "N" if i % 8 == 0 else "S",
                    "lat": ((i * 7 % 90, 1), (i * 11 % 60, 1),
                            (i * 13 % 60000, 1000)),
                    "lon_ref": "E" if (i // 4) % 2 == 0 else "W",
                    "lon": ((i * 17 % 180, 1), (i * 19 % 60, 1),
                            (i * 23 % 60000, 1000)),
                    "alt": (i % 5000, 100) if i % 8 == 0 else None,
                }
            exif = build_exif(description=f"img {i}", gps=gps)
            fam = i % 3
            if fam == 0:
                return jpeg_insert_metadata(
                    encode_pixels(px, "jpeg"), exif=exif)
            if fam == 1:
                return png_insert_metadata(
                    encode_pixels(px, "png"), exif=exif)
            rgba = np.dstack([px, np.full((h, w), 255, np.uint8)])
            return encode_webp_vp8x(rgba, lossy=False, exif=exif)

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):012d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    imgs = df.mapInPandas(gen, schema="image_id string, bytes binary")
    # has_gps is nullable in the operator (unknown for malformed
    # rows); the contract projects it non-null (false there) because
    # a NULLABLE boolean round-trips as an object column of mixed
    # None/bool in pandas on BOTH engines, where NULL representation
    # (None vs NaN) is not portable — same class of trap as the
    # array_to_string([]) note in HANDOFF
    return gps_pii_audit(imgs).withColumn(
        "has_gps", F.coalesce(F.col("has_gps"), F.lit(False)))


_IMG_GPS_AUDIT_SQL = f"""
WITH ids AS (SELECT i FROM range(0, {IMG_GPS_N}) t(i)),
g AS (
  SELECT i,
         (i % 25 <> 1) AS ok,
         (i % 25 <> 1 AND i % 4 = 0) AS gps,
         (i % 25 <> 1 AND i % 8 = 0) AS alt
  FROM ids
)
SELECT concat('img-', lpad(CAST(i AS VARCHAR), 12, '0')) AS image_id,
       CASE WHEN ok THEN 'ok' ELSE 'malformed' END AS status,
       gps AS has_gps,
       CASE WHEN gps THEN (CASE WHEN i % 8 = 0 THEN 'N' ELSE 'S' END)
            END AS lat_ref,
       CASE WHEN gps THEN
            (CASE WHEN (i // 4) % 2 = 0 THEN 'E' ELSE 'W' END)
            END AS lon_ref,
       CASE WHEN gps THEN CAST(i * 7 % 90 AS BIGINT) END AS lat_d_num,
       CASE WHEN gps THEN CAST(1 AS BIGINT) END AS lat_d_den,
       CASE WHEN gps THEN CAST(i * 11 % 60 AS BIGINT) END AS lat_m_num,
       CASE WHEN gps THEN CAST(1 AS BIGINT) END AS lat_m_den,
       CASE WHEN gps THEN CAST(i * 13 % 60000 AS BIGINT)
            END AS lat_s_num,
       CASE WHEN gps THEN CAST(1000 AS BIGINT) END AS lat_s_den,
       CASE WHEN gps THEN CAST(i * 17 % 180 AS BIGINT)
            END AS lon_d_num,
       CASE WHEN gps THEN CAST(1 AS BIGINT) END AS lon_d_den,
       CASE WHEN gps THEN CAST(i * 19 % 60 AS BIGINT) END AS lon_m_num,
       CASE WHEN gps THEN CAST(1 AS BIGINT) END AS lon_m_den,
       CASE WHEN gps THEN CAST(i * 23 % 60000 AS BIGINT)
            END AS lon_s_num,
       CASE WHEN gps THEN CAST(1000 AS BIGINT) END AS lon_s_den,
       CASE WHEN alt THEN CAST(i % 5000 AS BIGINT) END AS alt_num,
       CASE WHEN alt THEN CAST(100 AS BIGINT) END AS alt_den
FROM g
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full rule-vocabulary validation over orders."""
    return q_val_orders_violations(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering policy (round-4 verdict #1): the driver's correctness
    # harness checks the FIRST 50 entries, so the newest / least-soaked
    # queries go first and the 50 that were driver-green in
    # CORRECTNESS_r04 rotate to the back. Keep adding new queries at
    # the TOP.
    return {
        "img_curation_verdict": q_img_curation_verdict,
        "img_thumb_audit": q_img_thumb_audit,
        "img_sof_census": q_img_sof_census,
        "pack_batches_images": q_pack_batches_images,
        "ar_resize_images": q_ar_resize_images,
        "img_sharpness": q_img_sharpness,
        "ar_buckets_images": q_ar_buckets_images,
        "img_pixel_stats": q_img_pixel_stats,
        "img_jpeg_quality": q_img_jpeg_quality,
        "img_icc_audit": q_img_icc_audit,
        "img_cross_codec_dups": q_img_cross_codec_dups,
        "nfc_census_docs": q_nfc_census_docs,
        "comoment_lineitem": q_comoment_lineitem,
        "kcore_docs": q_kcore_docs,
        "img_gps_audit": q_img_gps_audit,
        "graph_lcc_docs": q_graph_lcc_docs,
        "pagerank_docs": q_pagerank_docs,
        "edit_pairs_part": q_edit_pairs_part,
        "img_phash_bloom": q_img_phash_bloom,
        "graph_bfs_docs": q_graph_bfs_docs,
        "graph_triangles_docs": q_graph_triangles_docs,
        "scd2_orders": q_scd2_orders,
        "bloom_events": q_bloom_events,
        "asof_events": q_asof_events,
        "sessions_events": q_sessions_events,
        "funnel_events": q_funnel_events,
        "retention_events": q_retention_events,
        "range_join_events": q_range_join_events,
        "span_dedup_docs": q_span_dedup_docs,
        "quality_classifier_docs": q_quality_classifier_docs,
        "vocab_topk_docs": q_vocab_topk_docs,
        "vocab_stats_docs": q_vocab_stats_docs,
        "c4_clean_docs": q_c4_clean_docs,
        "gopher_filter_docs": q_gopher_filter_docs,
        "bpe_merges": q_bpe_merges,
        "bpe_segment_docs": q_bpe_segment_docs,
        "curation_pipeline": q_curation_pipeline,
        "cms_events": q_cms_events,
        "robots_audit_urls": q_robots_audit_urls,
        "hll_events": q_hll_events,
        "kmv_events": q_kmv_events,
        "numeric_hist_lineitem": q_numeric_hist_lineitem,
        "hll_hourly_events": q_hll_hourly_events,
        "img_phash_hll": q_img_phash_hll,
        "lm_coverage_docs": q_lm_coverage_docs,
        "kmv_set_events": q_kmv_set_events,
        "crawl_to_corpus": q_crawl_to_corpus,
        "encoding_census": q_encoding_census,
        "jsonl_ingest_docs": q_jsonl_ingest,
        "tfrecord_census": q_tfrecord_census,
        "parquet_layout": q_parquet_layout,
        "parquet_report": q_parquet_report,
        "url_profile": q_url_profile,
        "domain_mix": q_domain_mix,
        "warc_census": q_warc_census,
        "archive_census": q_archive_census,
        "compression_census": q_compression_census,
        "ann_topk_sq": q_ann_topk_sq,
        "line_dedup_docs": q_line_dedup_docs,
        "html_strip_docs": q_html_strip_docs,
        "ogg_stream_census": q_ogg_stream_census,
        "flac_stream_census": q_flac_stream_census,
        "webm_track_census": q_webm_track_census,
        "mp4_track_census": q_mp4_track_census,
        "emb_dup_clusters": q_emb_dup_clusters,
        "token_budget_docs": q_token_budget_docs,
        "pack_docs": q_pack_docs,
        "epoch_order_docs": q_epoch_order_docs,
        "chunk_docs": q_chunk_docs,
        "dup_gram_docs": q_dup_gram_docs,
        "emb_decontamination": q_emb_decontamination,
        "img_decontamination": q_img_decontamination,
        "mixture_sample_docs": q_mixture_sample_docs,
        "incremental_near_dups": q_incremental_near_dups,
        "ann_topk_opq_ivf": q_ann_topk_opq_ivf,
        "weighted_sample_docs": q_weighted_sample_docs,
        "ann_topk_pq_dist": q_ann_topk_pq_dist,
        "ann_topk_ivfpq_residual": q_ann_topk_ivfpq_residual,
        "ann_topk_opq": q_ann_topk_opq,
        "adts_header_census": q_adts_header_census,
        "img_content_drift": q_img_content_drift,
        "audio_header_census": q_audio_header_census,
        "video_header_census": q_video_header_census,
        "audio_pcm_stats": q_audio_pcm_stats,
        "video_frames": q_video_frames,
        "img_anim_frames": q_img_anim_frames,
        "img_alpha_census": q_img_alpha_census,
        "img_header_consistency": q_img_header_consistency,
        "img_tiered_check": q_img_tiered_check,
        "img_gif_census": q_img_gif_census,
        "img_bmp_tiff_census": q_img_bmp_tiff_census,
        "img_exif_consistency": q_img_exif_consistency,
        "img_orientation_fix": q_img_orientation_fix,
        "tdigest_drift": q_tdigest_drift,
        "hot_keys_phash": q_hot_keys_phash,
        "img_phash_near_dups": q_img_phash_near_dups,
        "snapshot_row_diff": q_snapshot_row_diff,
        "img_png_chunk_audit": q_img_png_chunk_audit,
        "incremental_validation": q_incremental_validation,
        "img_container_audit": q_img_container_audit,
        "img_phash_clusters": q_img_phash_clusters,
        "cat_drift_events": q_cat_drift_events,
        "phash_band_drift": q_phash_band_drift,
        "full_validation_ledger": q_full_validation_ledger,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_topk_pq": q_ann_topk_pq,
        "ann_topk_ivfpq": q_ann_topk_ivfpq,
        "emb_dim_drift": q_emb_dim_drift,
        "pii_redact_docs": q_pii_redact_docs,
        "img_strip_metadata": q_img_strip_metadata,
        "repetition_docs": q_repetition_docs,
        "contamination_docs": q_contamination_docs,
        "curate_docs": q_curate_docs,
        "time_gaps_events": q_time_gaps_events,
        "staleness_events": q_staleness_events,
        "volume_anomaly_events": q_volume_anomaly_events,
        "phash_pixel_dups": q_phash_pixel_dups,
        "audit_sampled_rules": q_audit_sampled_rules,
        "audit_escalated_exact": q_audit_escalated_exact,
        "val_orders_violations": q_val_orders_violations,
        "val_part_summary": q_val_part_summary,
        "val_embeddings_len": q_val_embeddings_len,
        "stats_lineitem": q_stats_lineitem,
        "stats_distinct": q_stats_distinct,
        "nullcount_events": q_nullcount_events,
        "dup_keys_orders": q_dup_keys_orders,
        "dup_rows_orders": q_dup_rows_orders,
        "ref_orders_customer": q_ref_orders_customer,
        "ref_lineitem_part": q_ref_lineitem_part,
        "ref_supplier_chain": q_ref_supplier_chain,
        "val_defined_orders": q_val_defined_orders,
        "text_profile": q_text_profile,
        "lang_hist": q_lang_hist,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "jaccard_pairs": q_jaccard_pairs,
        "near_dups_lsh": q_near_dups_lsh,
        "near_dup_clusters": q_near_dup_clusters,
        "dataset_split": q_dataset_split,
        "stratified_sample": q_stratified_sample,
        "cluster_safe_split": q_cluster_safe_split,
        "quarantine_orders": q_quarantine_orders,
        "suggest_orders_rules": q_suggest_orders_rules,
        "suggest_customer_rules": q_suggest_customer_rules,
        "suggest_robust_bounds": q_suggest_robust_bounds,
        "simhash": q_simhash,
        "token_stats_docs": q_token_stats_docs,
        "rolling_fingerprint": q_rolling_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "emb_near_dups": q_emb_near_dups,
        "drift_events": q_drift_events,
        "windowed_events": q_windowed_events,
        "dynamic_props": q_dynamic_props,
        "schemaless_props": q_schemaless_props,
        "deps_events": q_deps_events,
        "normalize_events": q_normalize_events,
        "rules_list_docs": q_rules_list_docs,
        "rules_cross_orders": q_rules_cross_orders,
        "val_images": q_val_images,
        "phash_dups": q_phash_dups,
        "img_fidelity": q_img_fidelity,
        "img_codec_census": q_img_codec_census,
        "img_resize_census": q_img_resize_census,
        "img_quality_profile": q_img_quality_profile,
        "img_augment_census": q_img_augment_census,
        "img_caption_conflicts": q_img_caption_conflicts,
        "img_heif_census": q_img_heif_census,
        "img_heif_burst": q_img_heif_burst,
    }


_ORDERS_VIOL_SQL = """
WITH v AS (
  SELECT o_orderkey, '^.o_orderkey' AS path,
         'min-rule violated' AS message
    FROM orders WHERE o_orderkey IS NOT NULL AND NOT (o_orderkey > 0)
  UNION ALL
  SELECT o_orderkey, '^.o_orderkey', 'required-rule violated: field missing'
    FROM orders WHERE o_orderkey IS NULL
  UNION ALL
  SELECT o_orderkey, '^.o_custkey', 'required-rule violated: field missing'
    FROM orders WHERE o_custkey IS NULL
  UNION ALL
  SELECT o_orderkey, '^.o_orderstatus', 'value disallowed by allowed-rule'
    FROM orders WHERE o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('O','F','P')
  UNION ALL
  SELECT o_orderkey, '^.o_totalprice', 'min-rule violated'
    FROM orders WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice > 0)
  UNION ALL
  SELECT o_orderkey, '^.o_totalprice', 'max-rule violated'
    FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 300000
  UNION ALL
  SELECT o_orderkey, '^.o_orderpriority', 'regex-rule violated'
    FROM orders WHERE o_orderpriority IS NOT NULL
                  AND NOT regexp_full_match(o_orderpriority, '[1-3]-[A-Z ]+')
)
SELECT * FROM v
"""

_QUARANTINE_SQL = _ORDERS_VIOL_SQL.replace(
    "SELECT * FROM v",
    "SELECT o_orderkey, CAST(count(*) AS INT) AS n_violations\n"
    "FROM v GROUP BY o_orderkey",
)

_PART_SUMMARY_SQL = """
SELECT count(*) AS n_rows,
       (count(*) FILTER (WHERE p_partkey IS NULL)
        + count(*) FILTER (WHERE p_partkey IS NOT NULL AND NOT (p_partkey > 0))
        + count(*) FILTER (WHERE p_size IS NOT NULL AND NOT (p_size > 0))
        + count(*) FILTER (WHERE p_size IS NOT NULL AND p_size >= 50)
        + count(*) FILTER (WHERE p_retailprice IS NOT NULL
                             AND NOT (p_retailprice > 0))
        + count(*) FILTER (WHERE p_brand IS NOT NULL
                             AND NOT regexp_full_match(p_brand, 'Brand#[0-9]+'))
       ) AS n_violations,
       count(*) FILTER (WHERE
            p_partkey IS NULL
         OR (p_partkey IS NOT NULL AND NOT (p_partkey > 0))
         OR (p_size IS NOT NULL AND (NOT (p_size > 0) OR p_size >= 50))
         OR (p_retailprice IS NOT NULL AND NOT (p_retailprice > 0))
         OR (p_brand IS NOT NULL
             AND NOT regexp_full_match(p_brand, 'Brand#[0-9]+'))
       ) AS invalid_rows
FROM part
"""

_EMB_VIOL_SQL = """
WITH v AS (
  SELECT vec_id, '^.embedding' AS path, 'minlength-rule violated' AS message
    FROM embeddings WHERE COALESCE(len(embedding), 0) < 64
  UNION ALL
  SELECT vec_id, '^.embedding', 'maxlength-rule violated'
    FROM embeddings WHERE COALESCE(len(embedding), 0) > 64
  UNION ALL
  SELECT vec_id, '^.embedding', 'empty-rule violated for sequence'
    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 0
  UNION ALL
  SELECT vec_id, '^.vec_id', 'required-rule violated: field missing'
    FROM embeddings WHERE vec_id IS NULL
)
SELECT * FROM v
"""


# ---------------------------------------------------------------------------
# DuckDB oracle twins of the training-data operators. Built from the
# SAME constants as the Spark operators (hash params, stopword sets)
# so the arithmetic is bit-identical.
# ---------------------------------------------------------------------------

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _duck_roll(expr: str) -> str:
    return (
        "list_reduce(list_prepend(0::BIGINT,"
        f" [ascii(c) FOR c IN split({expr}, '')]),"
        f" (acc, x) -> (acc * {_tx.ROLL_BASE} + x) % {_tx.ROLL_MOD})"
    )


def _duck_stophits(lang: str) -> str:
    stops = ", ".join(f"'{w}'" for w in _tx.LANG_STOPWORDS[lang])
    return f"len(list_filter({_TOKS}, t -> t IN ({stops})))"


def _duck_lang_case() -> str:
    langs = list(_tx.LANG_STOPWORDS)
    clauses = []
    for i, lang in enumerate(langs):
        rest = [f"hits_{l2}" for l2 in langs[i + 1:]] + ["1"]
        clauses.append(
            f"WHEN hits_{lang} >= greatest({', '.join(rest)})"
            f" THEN '{lang}'"
        )
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


def _text_profile_sql() -> str:
    hits = ",\n         ".join(
        f"{_duck_stophits(lang)} AS hits_{lang}"
        for lang in _tx.LANG_STOPWORDS
    )
    return f"""
WITH f AS (
  SELECT doc_id,
         len({_TOKS}) AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS alnum,
         length(text) AS n_chars,
         {_duck_stophits('en')} AS n_stop,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         {hits}
  FROM documents
), r AS (
  SELECT doc_id, n_tokens, fingerprint,
         CASE WHEN n_tokens > 0
              THEN CAST(alnum AS DOUBLE) / n_tokens ELSE 0.0 END
           AS mean_token_len,
         CASE WHEN n_tokens > 0
              THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END
           AS stopword_ratio,
         CASE WHEN n_chars > 0
              THEN CAST(n_chars - alnum - n_spaces AS DOUBLE) / n_chars
              ELSE 0.0 END AS symbol_ratio,
         {_duck_lang_case()} AS lang_guess
  FROM f
)
SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, symbol_ratio,
       0.4 * least(CAST(n_tokens AS DOUBLE) / 32.0, 1.0)
       + 0.4 * least(stopword_ratio * 4, 1.0)
       + 0.2 * (1.0 - least(symbol_ratio * 5, 1.0)) AS quality_score,
       lang_guess, fingerprint
FROM r
"""


def _lang_hist_sql() -> str:
    hits = ", ".join(
        f"{_duck_stophits(lang)} AS hits_{lang}"
        for lang in _tx.LANG_STOPWORDS
    )
    return f"""
WITH f AS (SELECT {hits} FROM documents)
SELECT {_duck_lang_case()} AS lang_guess, count(*) AS cnt
FROM f GROUP BY 1
"""


_DUCK_SHINGLE_CTE = f"""
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) < 3 THEN []
           ELSE [array_to_string(t[i:i+2], ' ')
                 FOR i IN range(1, len(t) - 1)] END)) AS shingle
  FROM toks
),
shh AS (
  SELECT doc_id, {_duck_roll('shingle')} AS sh FROM sh
)"""


def _minhash_sql() -> str:
    mins = ",\n       ".join(
        f"min((sh * {_dd.MINHASH_A[j]} + {_dd.MINHASH_B[j]})"
        f" % {_dd.MERSENNE31}) AS mh_{j}"
        for j in range(_dd.MINHASH_K)
    )
    return f"""
WITH {_DUCK_SHINGLE_CTE}
SELECT doc_id, {mins}
FROM shh GROUP BY doc_id
"""


def _jaccard_sql() -> str:
    return f"""
WITH {_DUCK_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
"""


def _chain_walk_cte() -> str:
    """Shared DuckDB CTE chain: the SAME planted-chain corpus as
    `_docs_chained` (identical text construction), complete-Jaccard
    pairs at 0.5, symmetric edges, and a RECURSIVE reachability walk
    whose per-node min reachable id equals the operator's min-label
    connected-components result. Consumed by both the clustering
    oracle and the cluster-safe-split oracle."""
    ntok = "len(regexp_extract_all(lower(text), '[a-z0-9]+'))"
    sb = f"greatest(cast(floor({ntok} / 3) as int), 1)"
    sc = f"greatest({ntok}, 1)"
    sfx_b = ("array_to_string([('qb' || doc_id || 'x' || i)"
             f" FOR i IN range(1, {sb} + 1)], ' ')")
    sfx_c = ("array_to_string([('qc' || doc_id || 'x' || i)"
             f" FOR i IN range(1, {sc} + 1)], ' ')")
    return f"""chained AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' ' || {sfx_b}
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' ' || {sfx_b} || ' ' || {sfx_c}
  FROM documents WHERE doc_id % 10 = 0
),
ctoks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM chained
),
csh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) < 3 THEN []
           ELSE [array_to_string(t[i:i+2], ' ')
                 FOR i IN range(1, len(t) - 1)] END)) AS shingle
  FROM ctoks
),
cshh AS (SELECT doc_id, {_duck_roll('shingle')} AS sh FROM csh),
sizes AS (SELECT doc_id, count(*) AS sz FROM cshh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM cshh a JOIN cshh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM cpairs
  UNION ALL SELECT id_b, id_a FROM cpairs
),
walk(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.id
)"""


def _near_dup_clusters_sql() -> str:
    """DuckDB replay of the clustering pipeline over the shared
    reachability walk (`_chain_walk_cte`)."""
    return f"""
WITH RECURSIVE {_chain_walk_cte()}
SELECT id AS doc_id, min(r) AS cluster_id, min(r) AS keep_id
FROM walk GROUP BY id
"""


def _split_bucket_sql(key_sql: str, seed: int) -> str:
    """The portable md5-bucket arithmetic of `operators/split.py`
    (first 12 hex chars of md5(key ':' seed) mod 10^6) in DuckDB
    terms — bit-identical to Spark's conv(substring(md5(..)))."""
    return (
        "CAST(concat('0x', substr(md5(concat_ws(':', "
        f"CAST({key_sql} AS VARCHAR), '{seed}')), 1, 12)) AS BIGINT)"
        " % 1000000"
    )


# per violation path, the DuckDB row-level predicate — shared by the
# sampled-audit and escalation oracles so both replay the identical
# rule semantics (exclusive min/max, NULL-skipping, full-match regex)
_AUDIT_ORDERS_PATHS = {
    "^.o_orderkey": ("(o_orderkey IS NULL OR (o_orderkey IS NOT NULL"
                     " AND NOT (o_orderkey > 0)))"),
    "^.o_custkey": "(o_custkey IS NULL)",
    "^.o_orderstatus": ("(o_orderstatus IS NOT NULL"
                        " AND o_orderstatus NOT IN ('O','F','P'))"),
    "^.o_totalprice": ("(o_totalprice IS NOT NULL AND"
                       " (NOT (o_totalprice > 0)"
                       " OR o_totalprice >= 300000))"),
    "^.o_orderpriority": (
        "(o_orderpriority IS NOT NULL AND NOT"
        " regexp_full_match(o_orderpriority, '[1-3]-[A-Z ]+'))"),
}
_AUDIT_PART_PATHS = {
    "^.p_partkey": ("(p_partkey IS NULL OR (p_partkey IS NOT NULL"
                    " AND NOT (p_partkey > 0)))"),
    "^.p_size": ("(p_size IS NOT NULL AND"
                 " (NOT (p_size > 0) OR p_size >= 50))"),
    "^.p_retailprice": ("(p_retailprice IS NOT NULL"
                        " AND NOT (p_retailprice > 0))"),
    "^.p_brand": ("(p_brand IS NOT NULL AND NOT"
                  " regexp_full_match(p_brand, 'Brand#[0-9]+'))"),
}


def _audit_sampled_sql() -> str:
    """Oracle for audit_sampled_rules: replay the md5-bucket sample
    membership, the per-path violating-ROW counts, and the Wilson
    interval + verdict arithmetic — the interval SQL fragments are
    imported from plans/audit.py VERBATIM, so both engines parse the
    identical expression tree (shared f64 ops + correctly-rounded
    sqrt ⇒ bit-exact, not tolerance-based)."""
    from cerberus_cpp_spark.plans.audit import (
        Z_95,
        rate_sql,
        verdict_sql,
        wilson_sql,
    )

    lo, hi = wilson_sql("violating_rows", "sampled_rows", Z_95)
    rate = rate_sql("violating_rows", "sampled_rows")
    verdict = verdict_sql(lo, hi, 0.05)

    o_paths = _AUDIT_ORDERS_PATHS
    p_paths = _AUDIT_PART_PATHS

    def per_table(tbl: str, key: str, paths: dict) -> str:
        pred = f"{_split_bucket_sql(key, 11)} < 250000"
        any_pred = " OR ".join(paths.values())
        rows = ",\n      ".join(
            f'count(*) FILTER (WHERE {p}) AS "k{i}"'
            for i, p in enumerate(paths.values())
        )
        unions = "\n      UNION ALL ".join(
            f"""SELECT '{tbl}' AS tbl, '{path}' AS path,"""
            f""" "k{i}" AS violating_rows, n AS sampled_rows FROM agg_{tbl}"""
            for i, path in enumerate(paths)
        )
        return f"""
    agg_{tbl} AS (
      SELECT count(*) AS n,
      count(*) FILTER (WHERE {any_pred}) AS k_any,
      {rows}
      FROM {tbl} WHERE {pred}
    ),
    paths_{tbl} AS (
      {unions}
      UNION ALL SELECT '{tbl}', '__table__', k_any, n FROM agg_{tbl}
    )"""

    return f"""
    WITH {per_table('orders', 'o_orderkey', o_paths)},
    {per_table('part', 'p_partkey', p_paths)},
    allp AS (SELECT * FROM paths_orders UNION ALL SELECT * FROM paths_part)
    SELECT tbl, path, sampled_rows, violating_rows,
           {rate} AS rate, {lo} AS rate_lo, {hi} AS rate_hi,
           {verdict} AS verdict
    FROM allp WHERE violating_rows > 0
    """


def _audit_escalated_sql() -> str:
    """Oracle for audit_escalated_exact: recompute the sampled audit
    over orders at budget 0.40, derive the 'inconclusive' worklist
    with the SAME Wilson verdict SQL, then replay the full-table
    EXACT counts and two-way verdicts for exactly those paths."""
    from cerberus_cpp_spark.plans.audit import (
        Z_95,
        exact_verdict_sql,
        rate_sql,
        verdict_sql,
        wilson_sql,
    )

    lo, hi = wilson_sql("violating_rows", "sampled_rows", Z_95)
    s_verdict = verdict_sql(lo, hi, 0.40)
    e_rate = rate_sql("violating_rows", "total_rows")
    e_verdict = exact_verdict_sql(e_rate, 0.40)
    pred = f"{_split_bucket_sql('o_orderkey', 11)} < 250000"
    paths = _AUDIT_ORDERS_PATHS

    s_counts = ",\n      ".join(
        f'count(*) FILTER (WHERE {p}) AS "sk{i}"'
        for i, p in enumerate(paths.values()))
    f_counts = ",\n      ".join(
        f'count(*) FILTER (WHERE {p}) AS "fk{i}"'
        for i, p in enumerate(paths.values()))
    s_unions = "\n      UNION ALL ".join(
        f"""SELECT '{path}' AS path, "sk{i}" AS violating_rows,"""
        f""" sn AS sampled_rows FROM s_agg"""
        for i, path in enumerate(paths))
    f_unions = "\n      UNION ALL ".join(
        f"""SELECT '{path}' AS path, "fk{i}" AS violating_rows,"""
        f""" fn AS total_rows FROM f_agg"""
        for i, path in enumerate(paths))

    return f"""
    WITH s_agg AS (
      SELECT count(*) AS sn, {s_counts}
      FROM orders WHERE {pred}
    ),
    f_agg AS (
      SELECT count(*) AS fn, {f_counts}
      FROM orders
    ),
    s_paths AS ({s_unions}),
    worklist AS (
      SELECT path FROM s_paths
      WHERE violating_rows > 0 AND {s_verdict} = 'inconclusive'
    ),
    f_paths AS ({f_unions})
    SELECT f.path, f.total_rows, f.violating_rows,
           {e_rate} AS rate, {e_verdict} AS verdict
    FROM f_paths f JOIN worklist USING (path)
    """


def _cluster_safe_split_sql() -> str:
    """Cluster-safe split oracle: resolve near-dup components with the
    shared recursive walk, then replay the split arithmetic on
    coalesce(component min id, doc_id) — every member of a component
    (including transitively-linked ones) must land in one split."""
    b = _split_bucket_sql("coalesce(p.cluster_id, c.doc_id)", 13)
    return f"""
WITH RECURSIVE {_chain_walk_cte()},
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id)
SELECT c.doc_id,
       coalesce(p.cluster_id, c.doc_id) AS split_key,
       CASE WHEN {b} < 900000 THEN 'train' ELSE 'val' END AS split
FROM chained c LEFT JOIN comp p USING (doc_id)
"""


def _near_dups_lsh_sql() -> str:
    """DuckDB replay of the FULL LSH near-dup pipeline: minhash
    signatures (identical universal-hash constants), 8×2 band keys
    (same ':'-joined key strings), distinct band-colliding candidate
    pairs, exact-Jaccard verification of candidates only."""
    mins = ",\n       ".join(
        f"min((sh * {_dd.MINHASH_A[j]} + {_dd.MINHASH_B[j]})"
        f" % {_dd.MERSENNE31}) AS mh_{j}"
        for j in range(_dd.MINHASH_K)
    )
    br = _dd.LSH_BAND_ROWS
    n_bands = _dd.MINHASH_K // br
    band_sel = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CAST(mh_{b * br} AS VARCHAR)"
        + "".join(
            f" || ':' || CAST(mh_{b * br + j} AS VARCHAR)"
            for j in range(1, br)
        )
        + " AS kv FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH {_DUCK_SHINGLE_CTE},
sig AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id),
banded AS (
{band_sel}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.kv = b.kv AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5
"""


def _incremental_near_dups_sql() -> str:
    """DuckDB replay of the INCREMENTAL LSH pipeline: the increment's
    text construction, per-side shingle/minhash/band chains (identical
    constants to `_near_dups_lsh_sql`), the CROSS candidate join (no
    `<` ordering — independent namespaces), and the exact-Jaccard
    verification restricted to candidates."""
    mins = ",\n       ".join(
        f"min((sh * {_dd.MINHASH_A[j]} + {_dd.MINHASH_B[j]})"
        f" % {_dd.MERSENNE31}) AS mh_{j}"
        for j in range(_dd.MINHASH_K)
    )
    br = _dd.LSH_BAND_ROWS
    n_bands = _dd.MINHASH_K // br

    def band_sel(src: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band,"
            f" CAST(mh_{b * br} AS VARCHAR)"
            + "".join(
                f" || ':' || CAST(mh_{b * br + j} AS VARCHAR)"
                for j in range(1, br)
            )
            + f" AS kv FROM {src}"
            for b in range(n_bands)
        )

    ntok = "len(regexp_extract_all(lower(text), '[a-z0-9]+'))"
    si = f"greatest(cast(floor({ntok} / 4) as int), 1)"
    sfx = ("array_to_string([('qi' || doc_id || 'x' || i)"
           f" FOR i IN range(1, {si} + 1)], ' ')")
    fresh = ("array_to_string([('zz' || doc_id || 'x' || i)"
             " FOR i IN range(1, 41)], ' ')")
    return f"""
WITH inc AS (
  SELECT doc_id + 3000000 AS doc_id, text || ' ' || {sfx} AS text
  FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, {fresh} AS text
  FROM documents WHERE doc_id % 7 = 5
),
{_DUCK_SHINGLE_CTE},
itoks AS (
  SELECT doc_id, {_TOKS} AS t FROM inc
),
ish AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) < 3 THEN []
           ELSE [array_to_string(t[i:i+2], ' ')
                 FOR i IN range(1, len(t) - 1)] END)) AS shingle
  FROM itoks
),
ishh AS (
  SELECT doc_id, {_duck_roll('shingle')} AS sh FROM ish
),
sig_c AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id),
sig_n AS (SELECT doc_id, {mins} FROM ishh GROUP BY doc_id),
banded_c AS (
{band_sel('sig_c')}
),
banded_n AS (
{band_sel('sig_n')}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded_c a JOIN banded_n b
    ON a.band = b.band AND a.kv = b.kv
),
sizes_c AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
sizes_n AS (SELECT doc_id, count(*) AS sz FROM ishh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shh a JOIN ishh b ON a.sh = b.sh
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes_c sa ON sa.doc_id = i.id_a
JOIN sizes_n sb ON sb.doc_id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5
"""


def _simhash_sql() -> str:
    bits = ",\n       ".join(
        f"sum(CASE WHEN (th & {1 << b}) > 0 THEN 1 ELSE -1 END)"
        f" AS s_{b}"
        for b in range(_dd.SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(_dd.SIMHASH_BITS)
    )
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
th AS (SELECT doc_id, {_duck_roll('tok')} AS th FROM tk),
bits AS (SELECT doc_id, {bits} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bits
"""


_DEDUP_EXACT_SQL = """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint
  FROM doubled
)
SELECT fingerprint, count(*) AS cnt, min(doc_id) AS keep_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1
"""

_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_ROLLING_FP_SQL = f"""
SELECT doc_id, {_duck_roll(_NORM_TEXT)} AS rolling_fp
FROM documents
"""

_COSINE_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS cs
  FROM embeddings c, q WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, round(cs, 6) AS cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""

# exact top-k over the planted-truth ANN corpus: the twins are
# rebuilt with the IDENTICAL slice/scale arithmetic (float→double
# widening is exact, double multiply is IEEE-identical), so the
# oracle needs no signature replay — the construction guarantees the
# ANN candidate set contains the true top-5
_ANN_TOPK_SQL = """
WITH r AS (SELECT unnest(range(5)) AS r),
planted AS (
  SELECT 1000000 + e.vec_id * 10 + r.r AS vec_id,
         list_slice(e.embedding::DOUBLE[], 1, r.r)
           || [e.embedding[r.r + 1]::DOUBLE * 1.002]
           || list_slice(e.embedding::DOUBLE[], r.r + 2,
                         len(e.embedding)) AS emb
  FROM embeddings e, r WHERE e.vec_id < 10
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL SELECT vec_id, emb FROM planted
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(c.emb, q.qv) AS cs
  FROM corpus c, q WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, round(cs, 6) AS cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""

_EMB_NEAR_DUPS_SQL = """
WITH doubled AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings
  WHERE vec_id % 100 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6)
         AS cosine
FROM doubled a JOIN doubled b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.999
"""


_DRIFT_EVENTS_SQL = """
WITH q AS (
  SELECT 0.01::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.01) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.01) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.05::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.05) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.05) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.25::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.25) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.25) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.5::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.5) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.5) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.75::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.75) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.75) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.95::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.95) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.95) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
  UNION ALL
  SELECT 0.99::DOUBLE AS prob,
    (SELECT quantile_cont(value::DOUBLE, 0.99) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 0) AS q_a,
    (SELECT quantile_cont(value::DOUBLE, 0.99) FROM events
      WHERE value IS NOT NULL AND event_id % 2 = 1) AS q_b
)
SELECT prob, q_a, q_b,
       abs(q_a - q_b) / greatest(abs(q_a), abs(q_b), 1e-12) AS rel_gap,
       abs(q_a - q_b) / greatest(abs(q_a), abs(q_b), 1e-12) > 0.1
         AS drifted
FROM q
"""

_WINDOWED_EVENTS_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       count(*) AS rows,
       count(*) FILTER (WHERE value IS NULL) AS null_values,
       min(value) AS value_min,
       max(value) AS value_max
FROM events GROUP BY 1
"""


_DYNAMIC_PROPS_SQL = """
WITH k AS (
  SELECT event_id, CAST(props->>'k' AS BIGINT) AS kv
  FROM events WHERE props IS NOT NULL
)
SELECT event_id, '^.props.k' AS path,
       'min-rule violated' AS message
  FROM k WHERE kv IS NOT NULL AND NOT (kv > 0)
UNION ALL
SELECT event_id, '^.props.k', 'max-rule violated'
  FROM k WHERE kv IS NOT NULL AND kv >= 75
"""


# violations of the schemaless_props heterogeneous-doc query, derived
# from the same event_id arithmetic that synthesizes the docs:
#   m = event_id % 6 selects the shape, k = event_id % 23 the value
#   m=0 {"a": k, "b": "s"}     → min iff k <= 10 (exclusive bound)
#   m=1 {"a": {...}, "b": "t"} → min (dict not decodable) + type
#   m=2 {"a": [k]}             → min + type; b missing → required
#   m=3 {"a": "k"}             → numeric STRING decodes as integer
#                                (yaml-convertibility): min iff k<=10;
#                                b missing → required
#   m=4 {"a": null, "b": "u"}  → nullable (auto-injected false) + min
#   m=5 {"b": [1]}             → a absent: all rules skip; b list →
#                                type (any scalar decodes as string,
#                                so only containers can violate it)
_SCHEMALESS_PROPS_SQL = """
WITH e AS (
  SELECT event_id, event_id % 6 AS m, event_id % 23 AS k FROM events
)
SELECT event_id, '^.a' AS path, 'min-rule violated' AS message
  FROM e WHERE (m IN (0, 3) AND k <= 10) OR m IN (1, 2, 4)
UNION ALL
SELECT event_id, '^.a', 'type-rule violated: expected integer'
  FROM e WHERE m IN (1, 2)
UNION ALL
SELECT event_id, '^.a', 'nullable-rule violated' FROM e WHERE m = 4
UNION ALL
SELECT event_id, '^.b', 'required-rule violated: field missing'
  FROM e WHERE m IN (2, 3)
UNION ALL
SELECT event_id, '^.b', 'type-rule violated: expected string'
  FROM e WHERE m = 5
"""


def oracle_sql() -> dict[str, str]:
    return {
        "img_curation_verdict": _IMG_CV_SQL,
        "img_thumb_audit": _img_thumb_sql(),
        "img_sof_census": _IMG_SOF_SQL,
        "pack_batches_images": _PACK_SQL,
        "ar_resize_images": _ARB_RESIZE_SQL,
        "img_sharpness": _IMG_SH_SQL,
        "ar_buckets_images": _ARB_SQL,
        "img_pixel_stats": _IMG_PS_SQL,
        "img_jpeg_quality": _IMG_JQ_SQL,
        "img_icc_audit": _IMG_ICC_SQL,
        "img_cross_codec_dups": _IMG_XCODEC_SQL,
        "nfc_census_docs": _NFC_CENSUS_SQL,
        "comoment_lineitem": _comoment_sql(),
        "kcore_docs": _KCORE_DOCS_SQL,
        "img_gps_audit": _IMG_GPS_AUDIT_SQL,
        "graph_lcc_docs": _GRAPH_LCC_SQL,
        "pagerank_docs": _pagerank_sql(),
        "edit_pairs_part": _EDIT_PAIRS_PART_SQL,
        "img_phash_bloom": _img_phash_bloom_sql(),
        "graph_bfs_docs": _GRAPH_BFS_SQL,
        "graph_triangles_docs": _GRAPH_TRIANGLES_SQL,
        "scd2_orders": _SCD2_ORDERS_SQL,
        "bloom_events": _BLOOM_EVENTS_SQL,
        "asof_events": _ASOF_EVENTS_SQL,
        "sessions_events": _SESSIONS_EVENTS_SQL,
        "funnel_events": _FUNNEL_EVENTS_SQL,
        "retention_events": _RETENTION_EVENTS_SQL,
        "range_join_events": _RANGE_JOIN_EVENTS_SQL,
        "span_dedup_docs": _SPAN_DEDUP_SQL,
        "quality_classifier_docs": _quality_classifier_sql(),
        "vocab_topk_docs": _VOCAB_TOPK_SQL,
        "vocab_stats_docs": _VOCAB_STATS_SQL,
        "c4_clean_docs": _C4_CLEAN_SQL,
        "gopher_filter_docs": _gopher_filter_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_segment_docs": _bpe_segment_sql(),
        "curation_pipeline": _curation_pipeline_sql(),
        "cms_events": _CMS_SQL,
        "robots_audit_urls": _robots_audit_sql(),
        "hll_events": _hll_events_sql(),
        "kmv_events": _kmv_events_sql(),
        "numeric_hist_lineitem": _NUMERIC_HIST_SQL,
        "hll_hourly_events": _hll_hourly_sql(),
        "img_phash_hll": _img_phash_hll_sql(),
        "lm_coverage_docs": _LM_COVERAGE_SQL,
        "kmv_set_events": _kmv_set_events_sql(),
        "crawl_to_corpus": _crawl_to_corpus_sql(),
        "encoding_census": _ENCODING_SQL,
        "jsonl_ingest_docs": _JSONL_INGEST_SQL,
        "tfrecord_census": _TFRECORD_SQL,
        "parquet_layout": _parquet_layout_sql(),
        "parquet_report": _parquet_report_sql(),
        "url_profile": _url_profile_sql(),
        "domain_mix": _domain_mix_sql(),
        "warc_census": _WARC_SQL,
        "archive_census": _ARCHIVE_SQL,
        "compression_census": _COMPRESSION_SQL,
        "ann_topk_sq": _ANN_SQ_SQL,
        "line_dedup_docs": _LINE_DEDUP_SQL,
        "html_strip_docs": _html_strip_sql(),
        "ogg_stream_census": _OGG_STREAM_SQL,
        "flac_stream_census": _FLAC_STREAM_SQL,
        "webm_track_census": _WEBM_TRACK_SQL,
        "mp4_track_census": _MP4_TRACK_SQL,
        "emb_dup_clusters": _EMB_DUP_CLUSTERS_SQL,
        "token_budget_docs": _token_budget_sql(),
        "pack_docs": _PACK_DOCS_SQL,
        "epoch_order_docs": _EPOCH_ORDER_SQL,
        "chunk_docs": _CHUNK_DOCS_SQL,
        "dup_gram_docs": _DUP_GRAM_SQL,
        "emb_decontamination": _EMB_DECONTAMINATION_SQL,
        "val_orders_violations": _ORDERS_VIOL_SQL,
        "val_part_summary": _PART_SUMMARY_SQL,
        "val_embeddings_len": _EMB_VIOL_SQL,
        "stats_distinct": """
            SELECT count(DISTINCT o_custkey) AS d_custkey,
                   count(DISTINCT o_orderstatus) AS d_status,
                   count(DISTINCT o_orderpriority) AS d_priority
            FROM orders
        """,
        "stats_lineitem": """
            SELECT c.col_name, c.null_count, c.min_value, c.max_value
            FROM (
              SELECT 'l_quantity' AS col_name,
                     count(*) FILTER (WHERE l_quantity IS NULL) AS null_count,
                     min(l_quantity::DOUBLE) AS min_value,
                     max(l_quantity::DOUBLE) AS max_value FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     count(*) FILTER (WHERE l_extendedprice IS NULL),
                     min(l_extendedprice::DOUBLE),
                     max(l_extendedprice::DOUBLE) FROM lineitem
              UNION ALL
              SELECT 'l_discount',
                     count(*) FILTER (WHERE l_discount IS NULL),
                     min(l_discount::DOUBLE),
                     max(l_discount::DOUBLE) FROM lineitem
            ) c
        """,
        "nullcount_events": """
            SELECT count(*) AS n_rows,
                   count(*) FILTER (WHERE props IS NULL) AS null_props,
                   count(*) FILTER (WHERE value IS NULL) AS null_value
            FROM events
        """,
        "dup_keys_orders": """
            SELECT o_custkey, count(*) AS cnt FROM orders
            GROUP BY o_custkey HAVING count(*) > 1
        """,
        "dup_rows_orders": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey IN (
              SELECT o_custkey FROM orders GROUP BY o_custkey
              HAVING count(*) > 1)
        """,
        "ref_orders_customer": """
            SELECT o_orderkey, o_custkey FROM orders o
            WHERE o_custkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_acctbal >= 0 AND c.c_custkey = o.o_custkey)
        """,
        "ref_lineitem_part": """
            SELECT l_orderkey, l_partkey FROM lineitem l
            WHERE l_partkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        """,
        "ref_supplier_chain": """
            SELECT s.s_suppkey, s.s_nationkey,
                   CASE WHEN n.n_nationkey IS NULL THEN 'nation'
                        ELSE 'region' END AS missing_hop
            FROM supplier s
            LEFT JOIN (SELECT * FROM nation
                       WHERE n_nationkey % 5 <> 0) n
              ON s.s_nationkey = n.n_nationkey
            LEFT JOIN (SELECT * FROM region
                       WHERE r_regionkey <> 2) r
              ON n.n_regionkey = r.r_regionkey
            WHERE s.s_nationkey IS NOT NULL
              AND (n.n_nationkey IS NULL
                   OR (n.n_regionkey IS NOT NULL
                       AND r.r_regionkey IS NULL))
        """,
        "val_defined_orders": """
            WITH ev AS (
              SELECT event_id,
                     IF(event_id % 3 = 0 OR event_id % 7 = 0,
                        NULL, value) AS value,
                     event_id % 3 <> 0 AS value_defined
              FROM events
            ), v AS (
              SELECT event_id, '^.value' AS path,
                     'required-rule violated: field missing' AS message
                FROM ev WHERE NOT value_defined
              UNION ALL
              SELECT event_id, '^.value', 'nullable-rule violated'
                FROM ev WHERE value_defined AND value IS NULL
              UNION ALL
              SELECT event_id, '^.value', 'min-rule violated'
                FROM ev WHERE value_defined
                          AND NOT coalesce(value > 100.0, FALSE)
            )
            SELECT * FROM v
        """,
        "text_profile": _text_profile_sql(),
        "lang_hist": _lang_hist_sql(),
        "dedup_exact": _DEDUP_EXACT_SQL,
        "minhash_signatures": _minhash_sql(),
        "jaccard_pairs": _jaccard_sql(),
        "near_dups_lsh": _near_dups_lsh_sql(),
        "near_dup_clusters": _near_dup_clusters_sql(),
        "dataset_split": f"""
SELECT o_orderkey,
       CASE WHEN {_split_bucket_sql('o_orderkey', 7)} < 800000 THEN 'train'
            WHEN {_split_bucket_sql('o_orderkey', 7)} < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM orders WHERE o_orderkey IS NOT NULL
""",
        "stratified_sample": f"""
SELECT o_orderkey, o_orderpriority FROM (
  SELECT o_orderkey, o_orderpriority,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY {_split_bucket_sql('o_orderkey', 5)}, o_orderkey
         ) AS rn
  FROM orders WHERE o_orderkey IS NOT NULL
) t WHERE rn <= 40
""",
        "cluster_safe_split": _cluster_safe_split_sql(),
        "quarantine_orders": _QUARANTINE_SQL,
        "suggest_orders_rules": _suggest_orders_sql(),
        "suggest_customer_rules": _suggest_customer_sql(),
        "suggest_robust_bounds": _suggest_robust_sql(),
        "simhash": _simhash_sql(),
        "token_stats_docs": _token_stats_docs_sql(),
        "rolling_fingerprint": _ROLLING_FP_SQL,
        "cosine_topk": _COSINE_TOPK_SQL,
        "ann_topk_lsh": _ANN_TOPK_SQL,
        "emb_near_dups": _EMB_NEAR_DUPS_SQL,
        "drift_events": _DRIFT_EVENTS_SQL,
        "windowed_events": _WINDOWED_EVENTS_SQL,
        "dynamic_props": _DYNAMIC_PROPS_SQL,
        "schemaless_props": _SCHEMALESS_PROPS_SQL,
        "deps_events": """
            SELECT event_id, '^.props' AS path,
                   'dependencies-rule violated: value required'
                     AS message
            FROM events
            WHERE event_id % 11 != 0 AND event_id % 7 = 0
        """,
        "normalize_events": """
            SELECT event_id,
                   coalesce(CASE WHEN event_id % 7 = 0 THEN NULL
                                 ELSE value END, -1.0) AS value,
                   CASE WHEN event_id % 11 = 0 THEN NULL
                        ELSE props END AS attributes
            FROM events
        """,
        "val_images": _VAL_IMAGES_SQL,
        "phash_dups": _PHASH_DUPS_SQL,
        "img_fidelity": _IMG_FIDELITY_SQL,
        "img_codec_census": _IMG_CODEC_CENSUS_SQL,
        "img_resize_census": _img_resize_census_sql(),
        "img_quality_profile": _img_quality_profile_sql(),
        "img_augment_census": _img_augment_census_sql(),
        "img_caption_conflicts": _IMG_CAPTION_CONFLICTS_SQL,
        "img_heif_census": _IMG_HEIF_CENSUS_SQL,
        "img_heif_burst": _IMG_HEIF_BURST_SQL,
        "img_content_drift": _img_content_drift_sql(),
        "audio_header_census": _audio_header_census_sql(),
        "video_header_census": _VIDEO_HEADER_CENSUS_SQL,
        "audio_pcm_stats": _AUDIO_STATS_SQL,
        "video_frames": _VIDEO_FRAMES_SQL,
        "img_anim_frames": _IMG_ANIM_FRAMES_SQL,
        "img_alpha_census": _IMG_ALPHA_CENSUS_SQL,
        "img_header_consistency": _IMG_HEADER_SQL,
        "img_tiered_check": _IMG_TIERED_SQL,
        "img_gif_census": _IMG_GIF_SQL,
        "img_bmp_tiff_census": _IMG_BMPTIFF_SQL,
        "img_exif_consistency": _IMG_EXIF_SQL,
        "img_orientation_fix": _IMG_ORIENT_SQL,
        "tdigest_drift": _TDIGEST_DRIFT_SQL,
        "hot_keys_phash": _hot_keys_sql(),
        "img_phash_near_dups": _phash_near_dups_sql(),
        "snapshot_row_diff": _SNAPSHOT_ROW_DIFF_SQL,
        "img_png_chunk_audit": _PNG_AUDIT_SQL,
        "incremental_validation": _INCR_VALIDATION_SQL,
        "img_container_audit": _CONTAINER_AUDIT_SQL,
        "img_phash_clusters": _phash_clusters_sql(),
        "cat_drift_events": _CAT_DRIFT_SQL,
        "phash_band_drift": _phash_band_drift_sql(),
        "full_validation_ledger": _FULL_VALIDATION_LEDGER_SQL,
        "ann_topk_ivf": _ANN_IVF_SQL,
        "ann_topk_pq": _ANN_PQ_SQL,
        "ann_topk_ivfpq": _ANN_IVFPQ_SQL,
        "img_decontamination": _img_decontamination_sql(),
        "mixture_sample_docs": _MIXTURE_SAMPLE_SQL,
        "incremental_near_dups": _incremental_near_dups_sql(),
        "ann_topk_opq_ivf": _ANN_OPQ_IVF_SQL,
        "weighted_sample_docs": _WEIGHTED_SAMPLE_SQL,
        "ann_topk_pq_dist": _ANN_PQ_DIST_SQL,
        "ann_topk_ivfpq_residual": _ANN_IVFPQ_RES_SQL,
        "ann_topk_opq": _ANN_OPQ_SQL,
        "adts_header_census": _ADTS_HEADER_SQL,
        "emb_dim_drift": _emb_dim_drift_sql(),
        "pii_redact_docs": _pii_redact_sql(),
        "img_strip_metadata": _IMG_STRIP_SQL,
        "repetition_docs": _repetition_sql(),
        "contamination_docs": _CONTAMINATION_SQL,
        "curate_docs": _curate_sql(),
        "time_gaps_events": _TIME_GAPS_SQL,
        "staleness_events": _STALENESS_SQL,
        "volume_anomaly_events": _VOLUME_ANOMALY_SQL,
        "phash_pixel_dups": _PHASH_PIXEL_SQL,
        "audit_sampled_rules": _audit_sampled_sql(),
        "audit_escalated_exact": _audit_escalated_sql(),
        "rules_list_docs": """
            WITH w AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS words
              FROM documents
            )
            SELECT doc_id, '^.words' AS path,
                   'contains-rule violated: missing the' AS message
              FROM w WHERE NOT list_contains(words, 'the')
            UNION ALL
            SELECT doc_id,
                   '^.words[' || (u.i - 1) || ']' AS path,
                   'regex-rule violated' AS message
              FROM w, LATERAL (
                SELECT unnest(range(1, len(w.words) + 1)) AS i
              ) u
             WHERE NOT regexp_full_match(
                     w.words[u.i], '[a-su-z][a-z0-9]*')
        """,
        "rules_cross_orders": """
            WITH o AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 2 = 0
                          THEN o_orderpriority END AS prio_a,
                     CASE WHEN o_orderkey % 3 = 0
                          THEN o_orderpriority END AS prio_b,
                     o_orderstatus, o_orderpriority
              FROM orders
            )
            SELECT o_orderkey, '^.o_orderstatus' AS path,
                   'forbidden-rule violated: P' AS message
              FROM o WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT o_orderkey, '^.prio_a',
                   'excludes-rule violated: prio_b is not allowed'
              FROM o WHERE prio_a IS NOT NULL AND prio_b IS NOT NULL
            UNION ALL
            SELECT o_orderkey, '^.status_prio[0]',
                   'value disallowed by allowed-rule'
              FROM o WHERE o_orderstatus NOT IN ('O', 'F')
            UNION ALL
            SELECT o_orderkey, '^.status_prio[1]',
                   'regex-rule violated'
              FROM o WHERE NOT regexp_full_match(
                     o_orderpriority, '[1-2]-[A-Z ]+')
        """,
    }
