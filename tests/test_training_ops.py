"""Training-data pipeline operators: text analysis, dedup families,
embedding similarity. Crafted fixtures with known answers + recall
checks of the approximate paths against their exact baselines."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import dedup as DD
from cerberus_cpp_spark.operators import similarity as SIM
from cerberus_cpp_spark.operators import text as TX

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog near the river"),
    (1, "the  quick Brown fox JUMPS over the lazy dog near the river"),
    (2, "The quick brown fox jumps over the lazy cat near the river"),
    (3, "Der Hund ist nicht zu Hause und die Katze ist im Garten"),
    (4, "le chat est dans la maison et les oiseaux sont pas la"),
    (5, "el perro es una mascota y los gatos no son el problema"),
    (6, "zzz qqq xxx www yyy vvv"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_token_count_and_features(spark, docs) -> None:
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *TX.quality_features("text")).collect()}
    assert rows[0]["n_tokens"] == 12
    assert rows[6]["n_tokens"] == 6
    assert rows[0]["stopword_ratio"] == pytest.approx(3 / 12)
    assert rows[6]["stopword_ratio"] == 0.0
    assert rows[0]["symbol_ratio"] == 0.0


def test_lang_guess(spark, docs) -> None:
    got = {r["doc_id"]: r["lang_guess"] for r in docs.select(
        "doc_id", TX.lang_guess("text")).collect()}
    assert got[0] == "en"
    assert got[3] == "de"
    assert got[4] == "fr"
    assert got[5] == "es"
    assert got[6] == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark, docs) -> None:
    fp = {r["doc_id"]: r["fingerprint"] for r in docs.select(
        "doc_id", TX.fingerprint_md5("text")).collect()}
    assert fp[0] == fp[1]          # case + runs of spaces normalized
    assert fp[0] != fp[2]          # one word differs


def test_exact_duplicates(spark, docs) -> None:
    groups = DD.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["cnt"] == 2 and groups[0]["keep_id"] == 0


def test_jaccard_pairs_complete(spark, docs) -> None:
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.jaccard_pairs(docs, min_jaccard=0.5).collect()}
    assert pairs[(0, 1)] == 1.0    # identical after normalization
    assert (0, 2) in pairs         # one-word edit: high overlap
    assert pairs[(0, 2)] < 1.0
    assert not any(6 in p for p in pairs)


def test_near_duplicates_lsh_agrees_with_exact(spark, docs) -> None:
    nd = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in DD.near_duplicates(docs, threshold=0.5).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.jaccard_pairs(docs, min_jaccard=0.5).collect()}
    # LSH at 8 bands × 2 rows catches J ≥ 0.5 pairs w.h.p.; on this
    # fixture it must be exactly the exact answer
    assert nd == exact


def test_lsh_recall_on_synthetic_corpus(spark) -> None:
    """Recall of the LSH path vs the complete join on sf0.001 docs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = set(
        (r["id_a"], r["id_b"])
        for r in DD.jaccard_pairs(docs, min_jaccard=0.4).collect()
    )
    got = set(
        (r["id_a"], r["id_b"])
        for r in DD.near_duplicates(docs, threshold=0.4).collect()
    )
    assert got <= exact
    if exact:
        assert len(got) / len(exact) >= 0.8


def test_simhash_near_pairs(spark, docs) -> None:
    sig = DD.simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert all(0 <= v < 2 ** 16 for v in vals.values())
    # identical docs → identical signature
    assert vals[0] == vals[1]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in DD.hamming_near_pairs(
                 sig, "simhash", max_hamming=3, n_blocks=4,
                 block_bits=4).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).cache()


def test_cosine_topk_exact(spark, emb) -> None:
    qs = emb.where("vec_id < 3")
    tk = SIM.cosine_topk(emb, qs, k=3)
    rows = tk.collect()
    assert len(rows) == 9
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        sims = [r["cosine"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ann_recall_vs_exact(spark, emb) -> None:
    qs = emb.where("vec_id < 20")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, qs, k=5).collect()}
    ann = {(r["query_id"], r["neighbor_id"])
           for r in SIM.ann_topk_lsh(emb, qs, k=5).collect()}
    # 16-bit/4-band LSH on random embeddings: expect moderate recall;
    # pin a floor so regressions surface
    assert len(ann & exact) / len(exact) >= 0.3


def test_embedding_near_duplicates_finds_planted_dup(spark, emb) -> None:
    # plant an exact duplicate vector under a new id
    dup = emb.where("vec_id = 7").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding", "label")
    with_dup = emb.unionByName(dup)
    found = SIM.embedding_near_duplicates(with_dup, 0.999)
    rows = found.collect()
    assert (7, 100007) in {(r["id_a"], r["id_b"]) for r in rows}
    exact = SIM.embedding_near_duplicates(with_dup, 0.999, exact=True)
    assert {(r["id_a"], r["id_b"]) for r in exact.collect()} == \
        {(7, 100007)}


def test_exact_near_dup_guard_refuses_unbounded_collect(spark, emb) -> None:
    """The BLAS exact path collects the corpus driver-side; above the
    cap it must REFUSE with a pointer at the LSH route, not OOM."""
    with pytest.raises(ValueError, match="exact=False"):
        SIM.embedding_near_duplicates(emb, 0.99, exact=True,
                                      exact_max_rows=10)


def test_rh_signatures_string_ids(spark, emb) -> None:
    """rh_signatures derives the id output dtype from the input —
    non-long id columns (e.g. string doc ids) must work end-to-end
    through ann_topk_lsh."""
    semb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    sig = SIM.rh_signatures(semb)
    assert dict(sig.dtypes)["vec_id"] == "string"
    assert sig.count() == emb.count()
    qs = semb.where("vec_id in ('doc-0', 'doc-1')")
    ann = SIM.ann_topk_lsh(semb, qs, k=3)
    rows = ann.collect()
    assert rows and all(r["query_id"].startswith("doc-") for r in rows)


def test_ivf_index_and_recall(spark, emb) -> None:
    """IVF coarse quantizer: nprobe=all is lossless (every list
    probed == brute force), recall grows with nprobe, identical
    twins always recovered at rank 1 (the contract-oracle
    invariant)."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    assigned = assigned.localCheckpoint(eager=False)
    assert cents.shape[0] == 8
    qs = emb.where("vec_id < 10")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, qs, k=3).collect()}
    full = {(r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(assigned, cents, qs, k=3,
                                  nprobe=8).collect()}
    assert full == exact  # all lists probed => exact
    part = {(r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(assigned, cents, qs, k=3,
                                  nprobe=2).collect()}
    assert len(part & exact) >= len(exact) * 0.3  # partial recall


def test_ivf_planted_twin_rank1(spark, emb) -> None:
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    assigned, cents = SIM.ivf_index(corpus, n_lists=8, seed=11)
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    top1 = SIM.ivf_topk(assigned, cents, qs, k=1, nprobe=1).collect()
    assert len(top1) == 5
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] + 5000
        assert r["cosine"] == 1.0


def test_ivf_deterministic_and_guarded(spark, emb) -> None:
    a1, c1 = SIM.ivf_index(emb, n_lists=8, seed=11)
    a2, c2 = SIM.ivf_index(emb, n_lists=8, seed=11)
    import numpy as np

    assert np.array_equal(c1, c2)
    r1 = sorted((r["vec_id"], r["list_id"]) for r in a1.collect())
    r2 = sorted((r["vec_id"], r["list_id"]) for r in a2.collect())
    assert r1 == r2
    with pytest.raises(ValueError, match="smaller than"):
        SIM.ivf_index(emb.limit(4), n_lists=8, seed=1)


def test_redact_pii(spark) -> None:
    from cerberus_cpp_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@ex-1.co.uk or x@y.io today"),
            (1, "ssn 123-45-6789 ip 192.168.0.1 tel 555-867-5309"),
            (2, "no pii here, just 1234 and a-b-c"),
            (3, "version 1.2.3.4 is an ip-shaped string"),
        ],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in redact_pii(df, "text").collect()}
    assert rows[0]["text"] == \
        "mail me at [PII-email] or [PII-email] today"
    assert rows[0]["n_pii_email"] == 2
    assert rows[1]["text"] == \
        "ssn [PII-ssn] ip [PII-ipv4] tel [PII-phone]"
    assert (rows[1]["n_pii_ssn"], rows[1]["n_pii_ipv4"],
            rows[1]["n_pii_phone"]) == (1, 1, 1)
    assert rows[2]["text"] == "no pii here, just 1234 and a-b-c"
    assert all(rows[2][f"n_pii_{k}"] == 0
               for k in ("email", "ipv4", "ssn", "phone"))
    # 1.2.3.4 IS ipv4-shaped: redacted (documented: shape, not
    # semantics — a validity check would need per-octet <= 255)
    assert rows[3]["text"] == "version [PII-ipv4] is an ip-shaped string"


def test_redact_pii_options_and_guards(spark) -> None:
    from cerberus_cpp_spark.operators.text import redact_pii
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, "x@y.io and 1.2.3.4")], "doc_id long, text string")
    only_email = redact_pii(df, "text", kinds=("email",),
                            token="<{kind}>").collect()[0]
    assert only_email["text"] == "<email> and 1.2.3.4"
    assert "n_pii_ipv4" not in only_email.asDict()
    no_count = redact_pii(df, "text", count=False)
    assert no_count.columns == ["doc_id", "text"]
    with _pytest.raises(ValueError, match="unknown PII kinds"):
        redact_pii(df, "text", kinds=("email", "dna"))


def test_redact_pii_plan_is_narrow(spark, tmp_path) -> None:
    from cerberus_cpp_spark.operators.text import redact_pii

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"u{i}@ex.com") for i in range(32)],
        "doc_id long, text string").write.mode("overwrite").parquet(p)
    out = redact_pii(spark.read.parquet(p), "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and plan.count("FileScan") == 1


def test_repetition_features(spark) -> None:
    from cerberus_cpp_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(0, "a\nb\nc"), (1, "x\nx\nx\n\n\np\n\np"), (2, ""),
         (3, "solo"), (4, "t\n t \nt\nu")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            df.select("doc_id", *repetition_features("text")).collect()}
    assert rows[0]["dup_line_ratio"] == 0.0
    assert abs(rows[0]["top_line_share"] - 1 / 3) < 1e-12
    # [x,x,x,p,p]: dup (5-2)/5, top 3/5; paras [x\nx\nx, p, p]: 1/3
    assert rows[1]["n_lines"] == 5
    assert rows[1]["dup_line_ratio"] == 0.6
    assert rows[1]["top_line_share"] == 0.6
    assert abs(rows[1]["dup_para_ratio"] - 1 / 3) < 1e-12
    # empty doc: all zeros, no division error
    assert (rows[2]["n_lines"], rows[2]["dup_line_ratio"],
            rows[2]["top_line_share"]) == (0, 0.0, 0.0)
    assert rows[3]["top_line_share"] == 1.0
    # whitespace-trimmed lines count as duplicates
    assert rows[4]["dup_line_ratio"] == 0.5
    assert rows[4]["top_line_share"] == 0.75
    # max_lines cap bounds the fold on pathological docs
    big = spark.createDataFrame(
        [(0, "\n".join(f"l{i}" for i in range(50)))],
        "doc_id long, text string")
    capped = big.select(
        *repetition_features("text", max_lines=10)).collect()[0]
    assert capped["n_lines"] == 10


def test_ngram_contamination(spark) -> None:
    from cerberus_cpp_spark.operators.text import ngram_contamination

    evals = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "eval_id long, text string")
    docs = spark.createDataFrame(
        [
            # full eval sentence embedded mid-document
            (0, "intro text. The quick brown fox jumps over the "
                "lazy dog tonight! outro."),
            # only 9 shared tokens: no full 10-gram at n=10
            (1, "quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated content with many words here"),
            # sentence embedded twice: hits stay DISTINCT grams
            (3, "The quick brown fox jumps over the lazy dog tonight "
                "and again the quick brown fox jumps over the lazy "
                "dog tonight"),
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_contaminated_grams"]
           for r in ngram_contamination(docs, evals, n=10).collect()}
    # eval sentence = 10 tokens -> exactly 1 distinct 10-gram
    assert got == {0: 1, 3: 1}
    # case/punctuation insensitivity proved by doc 0 (The ... dog!)
    # n larger than every doc: nothing flagged, no crash
    assert ngram_contamination(docs, evals, n=50).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not an eval set"):
        ngram_contamination(docs, evals, n=2, max_eval_grams=3)
    with _pytest.raises(ValueError, match="n must be"):
        ngram_contamination(docs, evals, n=0)


def test_curate_documents(spark) -> None:
    from cerberus_cpp_spark.operators.text import curate_documents

    long_en = ("the quick brown fox is one of the fine animals that "
               "live in a forest and the story goes on and on with "
               "many fine words to say about it")
    df = spark.createDataFrame(
        [
            (0, long_en),
            (1, "tiny"),
            (2, "der und die das ist ein nicht zu der und die das "
                "ist ein beispiel mit vielen worten und noch mehr "
                "worten damit es lang genug ist"),
            (3, "mail me at a@b.co please and also the rest of this "
                "document is a fine long text that continues for "
                "quite a while with the usual words"),
            (4, "x\nx\nx\nx\nx\nx\nx\nsomething else"),
            (100, long_en),
        ],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in curate_documents(df).collect()}
    assert rows[0]["keep"] and rows[0]["reasons"] == ""
    assert "too_short" in rows[1]["reasons"]
    assert rows[2]["reasons"] == "lang"
    assert rows[2]["lang_guess"] == "de"
    assert rows[3]["reasons"] == "pii" and rows[3]["n_pii"] == 1
    assert "repetitive" in rows[4]["reasons"]
    # exact duplicate: lowest id survives, copy flagged
    assert rows[100]["reasons"] == "duplicate" and not rows[100]["keep"]
    # dedup=False: fully narrow, no duplicate reason
    nd = {r["doc_id"]: r for r in
          curate_documents(df, dedup=False).collect()}
    assert nd[100]["keep"]
    plan = curate_documents(df.limit(6), dedup=False) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # langs=() disables the language filter
    no_lang = {r["doc_id"]: r for r in
               curate_documents(df, langs=()).collect()}
    assert no_lang[2]["keep"]


def test_redact_pii_property_no_residual_matches(spark) -> None:
    """Invariant: after redaction, re-counting on the REDACTED text
    finds zero matches of every enabled kind (replacement tokens can
    never retrigger a pattern), and PII-free text passes through
    byte-identical."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cerberus_cpp_spark.operators.text import redact_pii

    plants = ["u{i}@ex-{i}.org", "10.{i}.0.7", "123-45-678{d}",
              "555-867-530{d}"]
    words = st.lists(
        st.text(alphabet="abcdefgh XYZ.,-", min_size=0, max_size=8),
        min_size=0, max_size=6)

    @settings(max_examples=15, deadline=None)
    @given(words, st.integers(0, 3), st.integers(0, 999))
    def check(ws, which, i):
        body = " ".join(ws)
        pii = plants[which].format(i=i, d=i % 10)
        doc = f"{body} {pii} {body}"
        df = spark.createDataFrame(
            [(0, doc), (1, body)], "doc_id long, text string")
        out = redact_pii(df, "text")
        red = {r["doc_id"]: r for r in out.collect()}
        total0 = sum(red[0][f"n_pii_{k}"]
                     for k in ("email", "ipv4", "ssn", "phone"))
        assert total0 >= 1
        again = redact_pii(
            spark.createDataFrame([(0, red[0]["text"])],
                                  "doc_id long, text string"),
            "text").collect()[0]
        assert sum(again[f"n_pii_{k}"]
                   for k in ("email", "ipv4", "ssn", "phone")) == 0
        # PII-free doc: untouched iff it matched nothing itself
        if sum(red[1][f"n_pii_{k}"]
               for k in ("email", "ipv4", "ssn", "phone")) == 0:
            assert red[1]["text"] == body

    check()


def test_curate_documents_full_rows(spark) -> None:
    """full_rows=True carries the source columns through and agrees
    with the id-only verdict frame; a verdict column name colliding
    with a source column is refused."""
    from cerberus_cpp_spark.operators.text import curate_documents

    long_en = ("the quick brown fox is one of the fine animals that "
               "live in a forest and the story goes on and on with "
               "many fine words to say about it")
    df = spark.createDataFrame(
        [(0, long_en, "m0"), (1, "tiny", "m1"), (100, long_en, "m2")],
        "doc_id long, text string, meta string")
    # full_rows collision guard
    bad = df.withColumnRenamed("meta", "reasons")
    with pytest.raises(ValueError, match="collide"):
        curate_documents(bad, full_rows=True)
    # full_rows verdicts agree with the id-only frame
    slim = {r["doc_id"]: (r["keep"], r["reasons"])
            for r in curate_documents(df).collect()}
    full = {r["doc_id"]: (r["keep"], r["reasons"], r["meta"])
            for r in curate_documents(df, full_rows=True).collect()}
    assert {k: v[:2] for k, v in full.items()} == slim
    assert slim[0][0] and not slim[1][0]
    assert slim[100] == (False, "duplicate")
    # source columns ride along with the verdict for triage
    assert full[100][2] == "m2"


# ---------------------------------------------------------------------------
# incremental near-dup: the daily-increment-vs-standing-corpus join
# ---------------------------------------------------------------------------


def _inc_frames(spark):
    corpus = spark.createDataFrame(DOCS, ["doc_id", "text"])
    new = spark.createDataFrame([
        # near-dup of corpus doc 0 (one word swapped)
        (100, "The quick brown fox leaps over the lazy dog near the river"),
        # exact re-crawl of corpus doc 3
        (101, "Der Hund ist nicht zu Hause und die Katze ist im Garten"),
        # genuinely new
        (102, "completely fresh material about distributed query engines"),
    ], ["doc_id", "text"])
    return corpus, new


def test_incremental_near_duplicates_pairs(spark) -> None:
    """Cross-frame verify matches a brute-force cross Jaccard at the
    threshold: the re-crawl pairs at 1.0, the variant above 0.5, the
    fresh doc pairs with nothing."""
    corpus, new = _inc_frames(spark)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in DD.incremental_near_duplicates(
               corpus, new, threshold=0.5, max_bucket=None).collect()}
    assert got.get((3, 101)) == 1.0
    assert (0, 100) in got and 0.5 <= got[(0, 100)] < 1.0
    assert all(b != 102 for (_, b) in got)
    # cross-namespace: ids never pair corpus-side with corpus-side
    assert all(a <= 6 and b >= 100 for (a, b) in got)


def test_incremental_equals_self_join_restriction(spark) -> None:
    """Running the SELF near-dup join over corpus ∪ increment and
    restricting to cross pairs must equal the incremental result —
    the incremental path is an optimization, not a semantics change."""
    corpus, new = _inc_frames(spark)
    union = corpus.unionByName(new)
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.near_duplicates(
                union, threshold=0.5, max_bucket=None).collect()
            if r["id_a"] <= 6 and r["id_b"] >= 100}
    inc = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in DD.incremental_near_duplicates(
               corpus, new, threshold=0.5, max_bucket=None).collect()}
    assert inc == full


def test_incremental_with_precomputed_signatures(spark) -> None:
    """The stored-signature path (corpus sigs computed once, reused
    per increment) must agree exactly with the from-text path."""
    corpus, new = _inc_frames(spark)
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", 3).cache()
    a = sorted(map(tuple, DD.incremental_near_duplicates(
        corpus, new, threshold=0.5, max_bucket=None).collect()))
    b = sorted(map(tuple, DD.incremental_near_duplicates(
        corpus, new, threshold=0.5, max_bucket=None,
        corpus_signatures=sigs).collect()))
    assert a == b and len(a) > 0


def test_cross_lsh_shared_id_pairs(spark) -> None:
    """Identical docs with the SAME id across frames still pair —
    cross-frame namespaces are independent (no self-exclusion)."""
    corpus, _ = _inc_frames(spark)
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", 3)
    cands = {(r["id_a"], r["id_b"])
             for r in DD.cross_lsh_candidate_pairs(
                 sigs, sigs).collect()}
    assert (0, 0) in cands and (3, 3) in cands


@pytest.fixture(scope="module")
def decon_frames(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [0.0, 1.0, 0.0, 0.0], "b"),
        (2, [0.6, 0.8, 0.0, 0.0], "c"),
        (3, None, "d"),                    # NULL vector: clean
        (4, [0.0, 0.0, 0.0, 0.0], "e"),    # zero-norm: clean
        (5, [0.0, 0.0, 0.6, 0.8], "f"),
    ]
    train = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tag string")
    evals = spark.createDataFrame(
        [([2.0, 0.0, 0.0, 0.0],),          # = train 0 scaled
         ([0.0, 0.0, 1.2, 1.6],),          # = train 5 scaled
         ([0.0, 0.0, 0.0, 0.0],)],         # zero-norm eval: ignored
        "embedding array<double>")
    return train, evals


def test_embedding_decontamination_planted(spark, decon_frames) -> None:
    train, evals = decon_frames
    out = {r["vec_id"]: r for r in SIM.embedding_decontamination(
        train, evals, threshold=0.95).collect()}
    assert len(out) == 6
    assert {i for i, r in out.items() if r["contaminated"]} == {0, 5}
    assert out[0]["n_eval_matches"] == 1
    assert out[0]["max_cosine"] == 1.0
    assert out[5]["max_cosine"] == 1.0
    for i in (1, 2, 3, 4):
        assert out[i]["n_eval_matches"] == 0
        assert out[i]["max_cosine"] is None
    # train columns survive the verdict join
    assert out[2]["tag"] == "c"


def test_embedding_decontamination_guards(spark, decon_frames) -> None:
    train, evals = decon_frames
    with pytest.raises(ValueError, match="verdict column"):
        SIM.embedding_decontamination(
            train.withColumn("contaminated", F.lit(True)), evals)
    with pytest.raises(ValueError, match="bounds it at 2 rows"):
        SIM.embedding_decontamination(train, evals, max_eval_rows=2)
    with pytest.raises(ValueError, match="threshold"):
        SIM.embedding_decontamination(train, evals, threshold=1.5)
    # width mismatch fails loudly in the Arrow stage
    bad = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="vector width"):
        SIM.embedding_decontamination(bad, evals).collect()


def test_embedding_decontamination_empty_eval(spark, decon_frames) -> None:
    train, _ = decon_frames
    empty = spark.createDataFrame([], "embedding array<double>")
    out = SIM.embedding_decontamination(train, empty).collect()
    assert len(out) == 6
    assert all(not r["contaminated"] and r["n_eval_matches"] == 0
               and r["max_cosine"] is None for r in out)


def test_duplicate_ngram_stats(spark, docs) -> None:
    # docs 0 and 1 normalize to the SAME 12 tokens -> all 8 of their
    # 5-grams are corpus-duplicated; doc 2 differs only at token
    # index 8 (cat vs dog) -> its 4 grams starting at 0..3 are shared
    # with docs 0/1, the 4 covering index 8 are unique; docs 3-6
    # share nothing.
    out = {r["doc_id"]: r for r in TX.duplicate_ngram_stats(
        docs, n=5).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5, 6}
    for i in (0, 1):
        assert out[i]["n_grams"] == 8
        assert out[i]["n_dup_grams"] == 8
        assert out[i]["dup_gram_ratio"] == 1.0
    assert out[2]["n_grams"] == 8
    assert out[2]["n_dup_grams"] == 4
    assert out[2]["dup_gram_ratio"] == 0.5
    for i in (3, 4, 5, 6):
        assert out[i]["n_dup_grams"] == 0
        assert out[i]["dup_gram_ratio"] == 0.0
    assert out[6]["n_grams"] == 2  # 6 tokens -> 2 five-grams


def test_duplicate_ngram_stats_short_and_null_docs(spark) -> None:
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, None), (2, "p q r s t u")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TX.duplicate_ngram_stats(
        df, n=5).collect()}
    # doc 0 has 4 tokens (< n) and doc 1 is NULL: both absent
    assert set(out) == {2}
    assert out[2]["n_grams"] == 2
    with pytest.raises(ValueError, match="min_docs"):
        TX.duplicate_ngram_stats(df, min_docs=0)
    with pytest.raises(ValueError, match="n must be"):
        TX.ngram_hashes(df, n=0)


def test_chunk_documents_exact_windows(spark) -> None:
    df = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "xy"), (2, ""), (3, None)],
        ["doc_id", "text"])
    out = TX.chunk_documents(df, chunk_chars=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_id"]):
           (r["chunk_start"], r["chunk_text"], r["chunk_chars_out"])
           for r in out}
    # len 10, stride 3 -> starts 0,3,6,9 (start < len)
    assert got == {
        (0, 0): (0, "abcd", 4),
        (0, 1): (3, "defg", 4),
        (0, 2): (6, "ghij", 4),
        (0, 3): (9, "j", 1),
        (1, 0): (0, "xy", 2),
    }
    # non-overlapping default: stride == chunk_chars
    out2 = TX.chunk_documents(df, chunk_chars=4).collect()
    texts = sorted(r["chunk_text"] for r in out2
                   if r["doc_id"] == 0)
    assert texts == ["abcd", "efgh", "ij"]
    with pytest.raises(ValueError, match="stride"):
        TX.chunk_documents(df, chunk_chars=4, stride=5)
    with pytest.raises(ValueError, match="chunk_chars"):
        TX.chunk_documents(df, chunk_chars=0)


def test_token_budget(spark) -> None:
    df = spark.createDataFrame(
        [("en", "it's one", 0), ("en", None, 1), ("de", "a b", 2)],
        ["lang", "text", "doc_id"])
    out = {r["lang"]: r for r in TX.token_budget(df, "lang").collect()}
    # "it's one" -> alnum tokens [it, s, one]; BPE-ish: [it,'s, one]
    assert out["en"]["n_docs"] == 2          # NULL text still a doc
    assert out["en"]["n_tokens"] == 3
    assert out["en"]["n_bpe_tokens"] == 3
    assert out["en"]["n_chars_total"] == 8   # NULL adds nothing
    assert out["en"]["mean_bpe_per_doc"] == 1.5
    assert out["de"]["n_tokens"] == 2
    with pytest.raises(ValueError, match="group_cols"):
        TX.token_budget(df, [])


def test_chunk_documents_property_coverage(spark) -> None:
    """Property: for any text and any (chunk, stride ≤ chunk), the
    emitted windows exactly tile the document — non-overlapping mode
    reassembles the original text by chunk_id order, and overlapping
    mode covers every character position with correct substrings at
    the declared starts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(st.text(alphabet="abcXYZ 09", min_size=1, max_size=80),
           st.integers(1, 12), st.integers(1, 12))
    def check(text, chunk, stride_raw):
        stride = min(stride_raw, chunk)
        df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
        rows = sorted(TX.chunk_documents(
            df, chunk_chars=chunk, stride=stride).collect(),
            key=lambda r: r["chunk_id"])
        covered = set()
        for r in rows:
            s = r["chunk_start"]
            assert r["chunk_text"] == text[s:s + chunk]
            assert s == r["chunk_id"] * stride and s < len(text)
            covered |= set(range(s, min(s + chunk, len(text))))
        assert covered == set(range(len(text)))
        if stride == chunk:
            assert "".join(r["chunk_text"] for r in rows) == text

    check()


def test_pack_documents_property_bins(spark) -> None:
    """Property: for any weight sequence, within each group bins are
    contiguous non-decreasing in id order, every row's bin matches a
    sequential replay of the running total, and bin_offset is that
    replay's in-bin cursor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cerberus_cpp_spark.operators.split import pack_documents

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.integers(0, 13), min_size=1, max_size=20),
           st.integers(1, 9))
    def check(weights, budget):
        df = spark.createDataFrame(
            [("g", i, w) for i, w in enumerate(weights)],
            ["grp", "doc_id", "w"])
        got = {r["doc_id"]: (r["bin_id"], r["bin_offset"])
               for r in pack_documents(
                   df, budget, weight="w", group_col="grp").collect()}
        cum = 0
        prev_bin = 0
        for i, w in enumerate(weights):
            want_bin, want_off = cum // budget, cum % budget
            assert got[i] == (want_bin, want_off), (i, weights, budget)
            assert want_bin >= prev_bin
            prev_bin = want_bin
            cum += w

    check()
