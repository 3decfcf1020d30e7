"""Corpus-level line dedup and HTML stripping
(operators/text.py dedup_lines / strip_html):
C4-recipe semantics, DuckDB twin parity, plan shape, and edge
routing."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators.text import (
    HTML_ENTITIES,
    HTML_STRIP_STEPS,
    dedup_lines,
    strip_html,
)


def _docs(spark):
    rows = [
        (1, "alpha\nBOILER\nunique one\nBOILER"),
        (2, "BOILER\nbeta"),
        (3, "gamma\nunique two"),
        (4, None),
        (5, ""),
        (6, "BOILER"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_dedup_first_occurrence_survives(spark) -> None:
    out = {
        r["doc_id"]: r
        for r in dedup_lines(_docs(spark)).collect()
    }
    # BOILER occurs 4x corpus-wide; first occurrence = doc 1 pos 1
    assert out[1]["text"] == "alpha\nBOILER\nunique one"
    assert out[1]["n_removed"] == 1          # its own second copy
    assert out[2]["text"] == "beta"
    assert out[2]["n_removed"] == 1
    assert out[3]["text"] == "gamma\nunique two"
    assert out[3]["n_removed"] == 0
    assert out[4]["text"] is None
    assert out[4]["n_lines"] == 0 and out[4]["n_removed"] == 0
    # empty text = one empty line, unique enough to survive here
    assert out[5]["text"] == ""
    assert out[6]["text"] == "" and out[6]["n_removed"] == 1


def test_corpus_dedup_min_count(spark) -> None:
    # at min_count=5 the 4x BOILER line is spared everywhere
    out = {
        r["doc_id"]: r
        for r in dedup_lines(_docs(spark), min_count=5).collect()
    }
    assert out[1]["text"] == "alpha\nBOILER\nunique one\nBOILER"
    assert all(r["n_removed"] == 0 for r in out.values())
    with pytest.raises(ValueError, match="min_count"):
        dedup_lines(_docs(spark), min_count=1)


def test_corpus_dedup_duckdb_twin(spark) -> None:
    """Full-replay parity on a generated corpus: the DuckDB twin
    computes the identical surviving text per doc."""
    n = 400
    df = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("u"), F.col("id").cast("string")),
            F.concat(F.lit("shared"),
                     (F.col("id") % 7).cast("string")),
            F.concat(F.lit("v"), F.col("id").cast("string")),
            F.concat(F.lit("shared"),
                     (F.col("id") % 3).cast("string")),
        ).alias("text"),
    )
    got = {
        (r["doc_id"]): (r["text"], r["n_lines"], r["n_removed"])
        for r in dedup_lines(df).collect()
    }
    want_rows = duckdb.sql(f"""
        WITH docs AS (
          SELECT range AS doc_id,
                 concat('u', range, chr(10),
                        'shared', range % 7, chr(10),
                        'v', range, chr(10),
                        'shared', range % 3) AS text
          FROM range({n})
        ),
        split AS (
          SELECT doc_id, string_split(text, chr(10)) AS l
          FROM docs
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
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE cnt < 2 OR rn = 1),
                        '') AS text,
               count(*) AS n_lines,
               sum(CASE WHEN cnt >= 2 AND rn > 1
                        THEN 1 ELSE 0 END) AS n_removed
        FROM marked GROUP BY doc_id
    """).fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in want_rows}
    assert got == want


def test_corpus_dedup_plan_shape(spark, tmp_path) -> None:
    """The stats aggregate is partial (map-side combine before its
    Exchange) and the line join is an equi-join, not cartesian."""
    p = str(tmp_path / "docs.parquet")
    _docs(spark).write.mode("overwrite").parquet(p)
    out = dedup_lines(spark.read.parquet(p))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_strip_html_basic(spark) -> None:
    raw = ("<html><head><style>p{color:red}</style>"
           "<script>var x = '<b>';</script></head>"
           "<body><!-- note --><h1>Title</h1>"
           "<p>Hello &amp; welcome to &lt;Spark&gt;&nbsp;"
           "&quot;engine&quot;&#39;s page.</p></body></html>")
    df = spark.createDataFrame([(1, raw), (2, None),
                                (3, "no markup")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in df.select("doc_id",
                              strip_html("text")).collect()}
    assert got[1] == ("Title Hello & welcome to <Spark> "
                      "\"engine\"'s page.")
    assert got[2] is None
    assert got[3] == "no markup"


def test_strip_html_duckdb_twin(spark) -> None:
    """The shared pattern tables produce the identical cleaned
    string in both engines over an awkward corpus (nested quotes,
    multiline scripts, stray angle brackets, double-escapes)."""
    rows = [
        (1, "<div class='a\nb'>x</div> y < 3 &amp;lt; z"),
        (2, "<SCRIPT>\nwhile(a<b){}\n</SCRIPT>ok<BR/>"),
        (3, "plain &nbsp; text"),
        (4, "<style type=text/css>a{}</style><p>q</p>"),
        (5, "<!-- <p>gone</p> -->kept"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in df.select("doc_id",
                              strip_html("text")).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    expr = "text"
    for pat, rep in HTML_STRIP_STEPS:
        expr = f"regexp_replace({expr}, '{pat}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{ch_sql}')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    want = dict(con.sql(
        f"SELECT doc_id, {expr} FROM t").fetchall())
    assert got == want
    # stray '<' followed by space is NOT a tag in either engine
    assert "y < 3" in got[1]
    assert got[5] == "kept"


def test_strip_html_plan_is_narrow(spark, tmp_path) -> None:
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(1, "<p>x</p>")],
                          "doc_id long, text string") \
        .write.mode("overwrite").parquet(p)
    out = spark.read.parquet(p).select("doc_id",
                                       strip_html("text"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


from hypothesis import given, settings
from hypothesis import strategies as st

_line = st.text(alphabet="abXY ", min_size=0, max_size=6)


@given(st.lists(st.lists(_line, min_size=1, max_size=6),
                min_size=1, max_size=8))
@settings(max_examples=25, deadline=None)
def test_dedup_lines_properties(spark, docs_lines) -> None:
    """Invariants over arbitrary corpora: (1) accounting — kept +
    removed == total lines per doc; (2) no duplicated line survives
    anywhere except its single first occurrence; (3) idempotence —
    re-running dedup on its own output removes nothing."""
    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_lines(df).collect()
    # (1) accounting
    for r in out:
        kept = len(r["text"].split("\n")) if r["text"] != "" else 0
        # an all-removed doc rebuilds as ''; a kept empty line also
        # renders as '' — reconcile through the counters instead
        assert r["n_lines"] - r["n_removed"] >= 0
        if r["text"] != "":
            assert kept == r["n_lines"] - r["n_removed"]
    # (2) global first-occurrence uniqueness for repeated lines
    from collections import Counter

    all_in = Counter(ln for _, t in rows for ln in t.split("\n"))
    survivors = Counter(
        ln for r in out if r["text"] != ""
        for ln in r["text"].split("\n"))
    for ln, cnt in all_in.items():
        if cnt >= 2:
            assert survivors[ln] <= 1
        else:
            assert survivors[ln] <= cnt
    # (3) idempotence, modulo the '' rebuild artifact: a doc whose
    # lines were ALL removed rebuilds as '' — indistinguishable from
    # a doc that kept exactly one empty line — and re-parsing it
    # injects a phantom empty line that can steal the first-occurrence
    # slot from the doc that legitimately kept ''. Feed back only the
    # non-empty outputs; with min_count=2 every line in that corpus
    # occurs at most once, so a second pass must remove NOTHING.
    nonempty = [r for r in out if r["text"] != ""]
    if nonempty:
        again = {
            r["doc_id"]: r
            for r in dedup_lines(
                spark.createDataFrame(
                    [(r["doc_id"], r["text"]) for r in nonempty],
                    "doc_id long, text string")).collect()
        }
        for r in nonempty:
            assert again[r["doc_id"]]["text"] == r["text"]
            assert again[r["doc_id"]]["n_removed"] == 0
