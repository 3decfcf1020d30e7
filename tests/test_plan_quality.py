"""Physical-plan pins: the properties that make the engine viable at
100 TB must hold in the plan text, not just in prose.

- column pruning: validating K columns reads ONLY those K columns
  from parquet (`ReadSchema`)
- filter pushdown: a source filter reaches the scan (`PushedFilters`)
- the violations() explode path filters on the cheap integer count
  BEFORE materializing violation records (filter pushes through the
  projection)
- referential check broadcasts the deduplicated key set
- whole-stage codegen covers the fused validation projection
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import checks
from cerberus_cpp_spark.plans.engine import TableValidator

ORDERS = "/root/testdata/sf0.01/orders.parquet"


@pytest.fixture(autouse=True)
def _no_cached_scans(spark):
    # plan assertions need the real parquet scan, not a cache hit
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark) -> None:
    df = spark.read.parquet(ORDERS)
    tv = TableValidator({"o_orderkey": {"type": "integer", "min": 0}},
                        allow_unknown=True)
    plan = _plan(tv.validate(df).annotated.agg(F.sum("n_violations")))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"o_orderkey"}, cols


def test_filter_pushdown_reaches_scan(spark) -> None:
    df = spark.read.parquet(ORDERS).where("o_custkey = 371")
    tv = TableValidator({"o_orderkey": {"type": "integer", "min": 0}},
                        allow_unknown=True)
    plan = _plan(tv.validate(df).annotated.agg(F.sum("n_violations")))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_custkey,371\)",
                     plan), plan[:800]


def test_violation_explode_filters_before_materializing(spark) -> None:
    """violations() keeps only dirty rows; the row filter must use
    the integer-count expression (pushed through the projection), so
    clean rows never build violation structs."""
    df = spark.read.parquet(ORDERS)
    tv = TableValidator({"o_orderkey": {"type": "integer", "min": 0}},
                        allow_unknown=True)
    v = tv.validate(df).violations("o_orderkey")
    plan = _plan(v)
    filter_idx = plan.index("Filter")
    gen_idx = plan.index("Generate")  # the explode
    # physical plans print top-down: Generate(explode) above, Filter
    # below it = filter evaluated FIRST
    assert gen_idx < filter_idx
    filter_line = plan[filter_idx:].split("\n")[0]
    assert "CASE WHEN" in filter_line or "isnull" in filter_line


def test_referential_broadcasts_dim_keys(spark) -> None:
    fact = spark.read.parquet(ORDERS)
    dim = spark.read.parquet(
        "/root/testdata/sf0.01/customer.parquet"
    )
    plan = _plan(checks.referential_violations(
        fact, dim, "o_custkey", "c_custkey"
    ))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_referential_chain_broadcasts_every_hop(spark) -> None:
    """supplier→nation→region: the fact side must never shuffle —
    one scan + N BroadcastHashJoins (the 100 TB plan shape)."""
    from pyspark.sql import functions as F

    sup = spark.read.parquet("/root/testdata/sf0.01/supplier.parquet")
    nat = spark.read.parquet("/root/testdata/sf0.01/nation.parquet") \
        .where(F.col("n_nationkey") % 5 != 0)
    reg = spark.read.parquet("/root/testdata/sf0.01/region.parquet") \
        .where(F.col("r_regionkey") != 2)
    df = checks.referential_chain(
        sup,
        [(nat, "s_nationkey", "n_nationkey", "nation"),
         (reg, "n_regionkey", "r_regionkey", "region")],
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # the fact side never shuffles: no Exchange keyed by fact columns
    # (the dimension-key dedup adds tiny DIM-side shuffles only)
    import re
    assert not re.search(r"Exchange hashpartitioning\(s_", plan), plan


def test_validation_stays_in_codegen(spark) -> None:
    df = spark.read.parquet(ORDERS)
    tv = TableValidator(
        {
            "o_orderkey": {"type": "integer", "required": True,
                           "min": 0},
            "o_orderstatus": {"type": "string",
                              "allowed": ["O", "F", "P"]},
            "o_orderpriority": {"type": "string",
                                "regex": "[1-3]-[A-Z ]+"},
        },
        allow_unknown=True,
    )
    agg = tv.validate(df).annotated.agg(F.sum("n_violations"))
    agg.collect()
    plan = _plan(agg)
    # '*(n)' prefixes mark WholeStageCodegen spans; the projection +
    # partial agg must be inside one
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:600]
    assert re.search(r"\*\(\d+\) (Project|ColumnarToRow)", plan)


def test_media_pipelines_are_narrow(spark) -> None:
    """clip/image synthesis -> Arrow decode stages must stay a single
    narrow pipeline: zero Exchange (shuffle) operators — at 10^12
    payloads a shuffle of binary columns would dominate everything."""
    from cerberus_cpp_spark.operators.multimodal import (
        audio_features,
        sample_frames,
    )
    from cerberus_cpp_spark.operators.image_checks import fidelity_check
    from cerberus_cpp_spark.sources.clipgen import (
        audio_clip_frame,
        video_clip_frame,
    )
    from cerberus_cpp_spark.sources.distgen import image_caption_frame

    for df in (
        audio_features(audio_clip_frame(spark, 10, partitions=2)),
        sample_frames(video_clip_frame(spark, 10, partitions=2),
                      every_n=2),
        fidelity_check(
            image_caption_frame(spark, 10, partitions=2,
                                with_bytes=True)),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan[:800]


def test_quarantine_branches_are_narrow(spark) -> None:
    """Both quarantine branches stay shuffle-free: filter + project
    over the one compiled pass — no Exchange in either plan."""
    df = spark.read.parquet(ORDERS)
    rules = {"o_orderkey": {"type": "integer", "min": 0},
             "o_orderstatus": {"type": "string",
                               "allowed": ["O", "F", "P"]}}
    clean, quar = TableValidator(
        rules, allow_unknown=True).validate(df).quarantine()
    for side in (clean, quar):
        plan = _plan(side)
        assert "Exchange" not in plan
        # codegen marker is either the literal node name or the
        # "*(n)" stage prefix depending on the toString form
        assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_once_per_row_barrier_prevents_parse_duplication(spark) -> None:
    """Expensive derived columns (from_json here) must not be inlined
    into every rule branch of the violations() filter: the
    once_per_row barrier keeps the parse at exactly ONE occurrence in
    the executed plan (without it, Spark 4 inlines it 12x — measured
    2.49s vs 0.90s at sf0.1). Also pins that Spark's optimizer does
    not fold the barrier away (it ELIMINATES rand()-guard barriers)."""
    from cerberus_cpp_spark.functions.barrier import once_per_row

    df = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src = df.select(
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
    out = tv.validate(src).violations("event_id")
    plan = _plan(out)
    assert plan.count("from_json") == 1, plan.count("from_json")


def test_once_per_row_is_identity(spark) -> None:
    from cerberus_cpp_spark.functions.barrier import once_per_row

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z")], "id long, s string")
    got = df.select("id", once_per_row(F.col("s")).alias("s")).collect()
    assert sorted((r["id"], r["s"]) for r in got) \
        == [(1, "x"), (2, None), (3, "z")]


def test_round4_image_queries_plan_shape(spark) -> None:
    """The round-4 image contract queries keep the scale shape:
    the census aggregates ONE narrow Arrow stage (exactly one
    Exchange, for the final groupBy), and the header-consistency
    pass is entirely Exchange-free."""
    import __spark_entry__ as E

    census = E.queries()["img_alpha_census"](spark, "unused")
    plan = _plan(census)
    assert plan.count("Exchange") == 1, plan
    hdr = E.queries()["img_header_consistency"](spark, "unused")
    assert "Exchange" not in _plan(hdr)


def test_round4_metadata_queries_plan_shape(spark) -> None:
    """The late-round-4 codec/metadata contract queries keep the
    scale shape: the BMP/TIFF census aggregates ONE narrow Arrow
    stage (exactly one Exchange, for the final groupBy), and the
    EXIF-consistency pass — generation + metadata walk + violation
    filter — is entirely Exchange-free."""
    import __spark_entry__ as E

    census = E.queries()["img_bmp_tiff_census"](spark, "unused")
    plan = _plan(census)
    assert plan.count("Exchange") == 1, plan
    exif = E.queries()["img_exif_consistency"](spark, "unused")
    assert "Exchange" not in _plan(exif)


def test_chunk_documents_is_narrow(spark) -> None:
    """Document chunking is one shuffle-free JVM projection:
    posexplode(sequence)+substring fan rows out in place — at 10^12
    docs an Exchange here would ship the full text corpus."""
    from cerberus_cpp_spark.operators.text import chunk_documents

    df = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet")
    plan = _plan(chunk_documents(df, chunk_chars=120, stride=90))
    assert "Exchange" not in plan, plan[:800]
    # the scan reads only the two columns the operator needs
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "doc_id:bigint", "text:string"}, plan[:800]


def test_pack_documents_single_exchange(spark) -> None:
    """Sequential packing = ONE hash Exchange on the group column;
    the running-sum window, the guard count window (same
    partitioning — reuses the exchange), and all bin arithmetic run
    inside it, and the scan is pruned to the three needed columns."""
    from cerberus_cpp_spark.operators.split import pack_documents

    df = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet")
    plan = _plan(
        pack_documents(df, 2000, weight="n_chars", group_col="lang")
        .select("doc_id", "lang", "pack_weight", "bin_id",
                "bin_offset"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, \
        plan[:1200]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "doc_id:bigint", "lang:string", "n_chars:bigint"}, plan[:800]


def test_epoch_shuffle_single_exchange(spark) -> None:
    """Epoch ordering = ONE hash Exchange on the shuffle bucket +
    in-task sort — exactly the repartition+sortWithinPartitions plan
    a writer would materialize; the guard count window shares the
    exchange."""
    from cerberus_cpp_spark.operators.split import epoch_shuffle

    df = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet")
    plan = _plan(
        epoch_shuffle(df, key="doc_id", epoch=3, n_buckets=16,
                      seed=1)
        .select("doc_id", "epoch_bucket", "epoch_pos"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, \
        plan[:1200]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "doc_id:bigint", plan[:800]


def test_domain_mix_has_no_single_partition_window(spark) -> None:
    """The share denominator must be a 1-row aggregate broadcast
    back over the domain frame — an unpartitioned window would move
    the whole O(domains) frame through ONE task (round-5 verdict
    finding #2). Also pins exchange reuse: the domain aggregate is
    computed once, not once per branch."""
    from cerberus_cpp_spark.operators.url import domain_mix

    df = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select(
        F.concat(F.lit("https://d"), (F.col("doc_id") % 7)
                 .cast("string"), F.lit(".example.com/p"))
        .alias("url"))
    plan = _plan(domain_mix(df))
    # no WindowExec at all — the grand total is allowed its 1-row
    # final-aggregate exchange (it ships one partial row per task,
    # not the domain frame)
    assert "Window" not in plan, plan[:1500]
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 1, \
        plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]


def test_group_staleness_has_no_single_partition_window(spark) -> None:
    """Same shape as domain_mix: global-max denominator = 1-row agg
    + broadcast, never an unpartitioned window over the group frame
    (round-5 verdict finding #3)."""
    events = spark.read.parquet(
        "/root/testdata/sf0.01/events.parquet")
    plan = _plan(checks.group_staleness(events, "ts", "event_type"))
    assert "Window" not in plan, plan[:1500]
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 1, \
        plan[:1500]
