"""Product-quantization ANN (operators/similarity.py pq_*).

The compressed-domain third ANN path (next to LSH and IVF): codebook
training is deterministic and guarded, identical vectors encode to
identical codes (the planted-oracle invariant), ADC + exact rescore
recovers planted twins at rank 1 with cosine exactly 1.0, recall on
NON-planted random embeddings is measured against the exact baseline,
and the scan stage is one narrow Arrow pass whose plan never reads
the float vectors.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cerberus_cpp_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).cache()


@pytest.fixture(scope="module")
def books(emb):
    return SIM.pq_train(emb, m=8, n_codes=64, seed=11)


def test_pq_train_shape_and_determinism(emb, books) -> None:
    assert books.shape == (8, 64, 8)
    again = SIM.pq_train(emb, m=8, n_codes=64, seed=11)
    assert np.array_equal(books, again)
    other = SIM.pq_train(emb, m=8, n_codes=64, seed=12)
    assert not np.array_equal(books, other)


def test_pq_train_guards(emb) -> None:
    with pytest.raises(ValueError, match="divisible"):
        SIM.pq_train(emb, m=7, n_codes=16)
    with pytest.raises(ValueError, match="smaller than n_codes"):
        SIM.pq_train(emb.limit(10), n_codes=64)
    with pytest.raises(ValueError, match="n_codes"):
        SIM.pq_train(emb, n_codes=257)


def test_pq_encode_codes_and_twins(spark, emb, books) -> None:
    codes = SIM.pq_encode(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["code"]) == 8 for r in rows)
    # identical vector under a new id → identical code bytes
    twin = emb.where("vec_id = 3").select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding")
    both = {r["vec_id"]: bytes(r["code"])
            for r in SIM.pq_encode(
                emb.select("vec_id", "embedding").unionByName(twin),
                books).collect()}
    assert both[3] == both[9003]


def test_pq_encode_narrow_plan(spark, emb, books, tmp_path) -> None:
    """The encode stage is ONE MapInPandas with no Exchange, and the
    ADC scan stage reads ONLY the (id, code) columns — the parquet
    scan of the code frame must not touch the embedding column."""
    path = str(tmp_path / "emb")
    emb.write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)
    codes = SIM.pq_encode(src, books)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    # persist codes, then score: the scan must prune to id+code
    cpath = str(tmp_path / "codes")
    codes.write.mode("overwrite").parquet(cpath)
    stored = spark.read.parquet(cpath)
    qs = emb.where("vec_id < 3")
    adc = SIM.pq_topk(stored, books, qs, k=3, rescore_n=8)
    aplan = adc._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in aplan.split("FileScan")[1][:400]


def test_pq_topk_planted_twin_rank1(spark, emb, books) -> None:
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pbooks = SIM.pq_train(corpus, m=8, n_codes=64, seed=11)
    codes = SIM.pq_encode(corpus, pbooks)
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    top1 = SIM.pq_topk(codes, pbooks, qs, k=1,
                       corpus=corpus, rescore_n=16).collect()
    assert len(top1) == 5
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] + 5000
        assert r["cosine"] == 1.0


def test_pq_adc_only_mode(spark, emb, books) -> None:
    codes = SIM.pq_encode(emb, books)
    qs = emb.where("vec_id < 3")
    adc = SIM.pq_topk(codes, books, qs, k=3, rescore_n=8)
    rows = adc.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        adcs = [r["adc"] for r in rs]
        assert adcs == sorted(adcs, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_pq_recall_vs_exact(spark, emb, books) -> None:
    """Measured recall on random 64-dim embeddings (worst case —
    near-orthogonal neighbors). With rescore_n ≫ k the ADC top set
    need only CONTAIN the true neighbors; rescoring fixes the order.
    Floor pinned so codebook/scoring regressions surface."""
    codes = SIM.pq_encode(emb, books)
    qs = emb.where("vec_id < 20")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, qs, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in SIM.pq_topk(codes, books, qs, k=5,
                                corpus=emb, rescore_n=64).collect()}
    assert len(got & exact) / len(exact) >= 0.6


def test_pq_topk_guards_and_edges(spark, emb, books) -> None:
    codes = SIM.pq_encode(emb, books)
    with pytest.raises(ValueError, match="rescore_n"):
        SIM.pq_topk(codes, books, emb.limit(1), k=5, rescore_n=2)
    with pytest.raises(ValueError, match="max_queries"):
        SIM.pq_topk(codes, books, emb, k=1, max_queries=10)
    none = SIM.pq_topk(codes, books, emb.where("vec_id < 0"), k=3)
    assert none.count() == 0
    assert none.columns == ["query_id", "neighbor_id", "rank", "adc"]


def test_pq_encode_keep_cols(spark, emb, books) -> None:
    """keep_cols passes the IVF list_id through so the code table
    can be written partitioned by list at rest."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    codes = SIM.pq_encode(assigned, books, keep_cols=("list_id",))
    assert codes.columns == ["vec_id", "list_id", "code"]
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r["list_id"] < 8 and len(r["code"]) == 8
               for r in rows)


def test_ivf_pq_planted_twin_rank1(spark, emb) -> None:
    """The full IVFADC composition inherits BOTH planted invariants:
    the twin's list is the query's first probe (shared assignment
    math) and identical vectors share codes, so even nprobe=1 with a
    small rescore recovers the twin at rank 1, cosine exactly 1.0."""
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    assigned, cents = SIM.ivf_index(corpus, n_lists=8, seed=11)
    books = SIM.pq_train(corpus, m=8, n_codes=64, seed=11)
    codes = SIM.pq_encode(assigned, books, keep_cols=("list_id",))
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    top1 = SIM.ivf_pq_topk(codes, cents, books, qs, k=1, nprobe=1,
                           corpus=corpus, rescore_n=16).collect()
    assert len(top1) == 5
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] + 5000
        assert r["cosine"] == 1.0


def test_ivf_pq_all_lists_equals_pq(spark, emb, books) -> None:
    """nprobe = n_lists scans every list: IVFADC must return exactly
    the plain-PQ result (the pruning is lossless when nothing is
    pruned)."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    codes = SIM.pq_encode(assigned, books, keep_cols=("list_id",))
    qs = emb.where("vec_id < 10")
    full = SIM.ivf_pq_topk(codes, cents, books, qs, k=3, nprobe=8,
                           corpus=emb, rescore_n=32)
    plain = SIM.pq_topk(codes.drop("list_id"), books, qs, k=3,
                        corpus=emb, rescore_n=32)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_ivf_pq_probe_prunes_scan(spark, emb, books) -> None:
    """With nprobe=1 each query scores only its probed list — the
    candidate pool per query is bounded by that list's size."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    codes = SIM.pq_encode(assigned, books, keep_cols=("list_id",))
    sizes = {r["list_id"]: r["n"] for r in
             assigned.groupBy("list_id").count()
             .withColumnRenamed("count", "n").collect()}
    qs = emb.where("vec_id < 5")
    adc = SIM.ivf_pq_topk(codes, cents, books, qs, k=500, nprobe=1,
                          rescore_n=500)
    per_q = {r["query_id"]: 0 for r in adc.collect()}
    for r in adc.collect():
        per_q[r["query_id"]] += 1
    assert all(n <= max(sizes.values()) for n in per_q.values())


def test_pq_string_ids(spark, emb, books) -> None:
    """Code frames keep the caller's id dtype end-to-end."""
    semb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding")
    codes = SIM.pq_encode(semb, books)
    assert dict(codes.dtypes)["vec_id"] == "string"
    qs = semb.where("vec_id in ('doc-0', 'doc-1')")
    rows = SIM.pq_topk(codes, books, qs, k=3,
                       corpus=semb, rescore_n=8).collect()
    assert rows and all(r["query_id"].startswith("doc-") for r in rows)


def test_pq_adc_error_bound_property(books) -> None:
    """ADC is exact up to quantization: for ANY query q and vector x,
    |<q_norm, reconstruct(code(x))> - <q_norm, x_norm>| is bounded
    per-subspace by Cauchy-Schwarz: Σ_sub ‖q_sub‖·‖x_sub - c_sub‖.
    Pure numpy — pins the scoring algebra independent of Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    m, n_codes, dsub = books.shape

    @settings(max_examples=50, deadline=None)
    @given(st.integers(0, 2**31 - 1))
    def check(seed: int) -> None:
        rng = np.random.RandomState(seed)
        q = rng.standard_normal(m * dsub)
        x = rng.standard_normal(m * dsub)
        q /= np.linalg.norm(q)
        x /= np.linalg.norm(x)
        code = np.empty(m, dtype=np.uint8)
        recon = np.empty_like(x)
        bound = 0.0
        for sub in range(m):
            xs = x[sub * dsub:(sub + 1) * dsub]
            qs = q[sub * dsub:(sub + 1) * dsub]
            d2 = ((books[sub] - xs) ** 2).sum(axis=1)
            code[sub] = d2.argmin()
            recon[sub * dsub:(sub + 1) * dsub] = books[sub][code[sub]]
            bound += np.linalg.norm(qs) * np.sqrt(d2.min())
        # the LUT-sum IS <q, recon> (same decomposition)
        lut_sum = sum(
            q[s * dsub:(s + 1) * dsub] @ books[s][code[s]]
            for s in range(m))
        assert abs(lut_sum - q @ recon) < 1e-9
        assert abs(lut_sum - q @ x) <= bound + 1e-9

    check()


def test_pq_encode_with_error_staleness_signal(spark, emb, books) -> None:
    """pq_err is the codebook-staleness monitor: (a) it matches a
    numpy recomputation exactly in shape and closely in value, (b)
    codebook-representable vectors have ~zero error, (c) a drifted
    batch (vectors scaled per-dim — a distribution the sample never
    saw) has strictly higher median error than the training data."""
    rows = SIM.pq_encode(emb, books, with_error=True).collect()
    assert all(r["pq_err"] >= 0.0 for r in rows)
    # (a) spot-recompute one row
    r0 = [r for r in rows if r["vec_id"] == 0][0]
    base = {r["vec_id"]: list(r["embedding"])
            for r in emb.select("vec_id", "embedding").collect()}
    x = np.asarray(base[0], dtype=np.float64)
    x /= np.linalg.norm(x)
    want = 0.0
    for sub in range(8):
        xs = x[sub * 8:(sub + 1) * 8]
        want += ((books[sub] - xs) ** 2).sum(axis=1).min()
    assert abs(r0["pq_err"] - want) < 1e-9
    # (b) vectors BUILT from codebook entries reconstruct ~exactly
    synth = np.concatenate([books[s][s % books.shape[1]]
                            for s in range(8)])
    synth_df = spark.createDataFrame(
        [(1, [float(v) for v in synth])],
        "vec_id long, embedding array<double>")
    e = SIM.pq_encode(synth_df, books, with_error=True).collect()[0]
    # the synth vector is unit-normalized before encoding, which
    # moves every subvector off its entry (the concat's norm is not
    # 1) — but it stays several times closer than real vectors get
    assert e["pq_err"] < np.median([r["pq_err"] for r in rows]) / 5
    # (c) drifted batch: median error strictly above training data
    drifted = emb.select("vec_id", F.expr(
        "transform(embedding, (x, i) -> cast(x as double) *"
        " CASE WHEN i % 2 = 0 THEN 3.0D ELSE 0.25D END)"
    ).alias("embedding"))
    derr = [r["pq_err"] for r in
            SIM.pq_encode(drifted, books, with_error=True).collect()]
    terr = [r["pq_err"] for r in rows]
    assert np.median(derr) > np.median(terr)


# ---------------------------------------------------------------------------
# Distributed query path (round-4 verdict #1): executor-side LUTs,
# unbounded query count, driver never collects the query frame.
# ---------------------------------------------------------------------------


def test_build_query_luts_exact_and_plan(spark, emb, books) -> None:
    """The executor-built LUT bytes are byte-identical to the driver
    path's _query_luts, and the build is one MapInPandas Arrow stage
    (the 'no driver collect of the query frame' plan pin)."""
    qs = emb.where("vec_id < 6").select("vec_id", "embedding")
    frame = SIM.build_query_luts(qs, books)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "CollectLimit" not in plan and "Exchange" not in plan
    got = {r["query_id"]: bytes(r["lut"]) for r in frame.collect()}
    q_rows = qs.collect()
    q_ids, lut = SIM._query_luts(q_rows, books,
                                 id_col="vec_id", vec_col="embedding")
    for i, qid in enumerate(q_ids):
        assert got[qid] == lut[i].tobytes()
    # probes/bias are NULL without centroids
    assert all(r["probes"] is None and r["bias"] is None
               for r in frame.collect())


def test_pq_topk_distributed_equals_driver(spark, emb, books) -> None:
    """Multiple hash blocks (queries_per_block forces 3+) must return
    exactly the driver path's result — same ranks, same cosines."""
    codes = SIM.pq_encode(emb, books)
    qs = emb.where("vec_id < 12")
    want = sorted(map(tuple, SIM.pq_topk(
        codes, books, qs, k=3, corpus=emb, rescore_n=16).collect()))
    got = sorted(map(tuple, SIM.pq_topk_distributed(
        codes, books, qs, k=3, corpus=emb, rescore_n=16,
        queries_per_block=4).collect()))
    assert got == want
    # ADC-only mode too
    wa = sorted(map(tuple, SIM.pq_topk(
        codes, books, qs, k=3, rescore_n=8).collect()))
    ga = sorted(map(tuple, SIM.pq_topk_distributed(
        codes, books, qs, k=3, rescore_n=8,
        queries_per_block=5).collect()))
    assert ga == wa


def test_pq_topk_distributed_beyond_driver_bound(spark, emb) -> None:
    """>10k queries — the load the driver path refuses — processed in
    bounded blocks with the planted-twin invariant exact for every
    query: replicas of 5 base queries (fresh ids) must all rank their
    base's identical twin 1 at cosine 1.0."""
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    books = SIM.pq_train(corpus, m=8, n_codes=64, seed=11)
    codes = SIM.pq_encode(corpus, books)
    reps = spark.range(2021).select(F.col("id").alias("r"))
    qs = (emb.where("vec_id < 5").crossJoin(reps)
          .select((F.lit(100000) + F.col("r") * 10 + F.col("vec_id"))
                  .alias("vec_id"), "embedding"))
    n_q = qs.count()
    assert n_q == 10_105  # > the 10k driver bound
    with pytest.raises(ValueError, match="max_queries"):
        SIM.pq_topk(codes, books, qs, k=1, corpus=corpus)
    top1 = SIM.pq_topk_distributed(
        codes, books, qs, k=1, corpus=corpus, rescore_n=16,
        queries_per_block=4096).collect()
    assert len(top1) == n_q
    for r in top1:
        # two identical vectors exist per base (the original and its
        # +5000 twin); exact-cosine tie-break picks the lower id
        assert r["neighbor_id"] == r["query_id"] % 10
        assert r["cosine"] == 1.0


def test_ivf_pq_topk_distributed_equals_driver(spark, emb) -> None:
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    books = SIM.pq_train(emb, m=8, n_codes=64, seed=11)
    codes = SIM.pq_encode(assigned, books, keep_cols=("list_id",))
    qs = emb.where("vec_id < 10")
    want = sorted(map(tuple, SIM.ivf_pq_topk(
        codes, cents, books, qs, k=3, nprobe=2,
        corpus=emb, rescore_n=16).collect()))
    got = sorted(map(tuple, SIM.ivf_pq_topk_distributed(
        codes, cents, books, qs, k=3, nprobe=2, corpus=emb,
        rescore_n=16, queries_per_block=3).collect()))
    assert got == want


def test_topk_distributed_guards_and_empty(spark, emb, books) -> None:
    codes = SIM.pq_encode(emb, books)
    none = SIM.pq_topk_distributed(
        codes, books, emb.where("vec_id < 0"), k=3)
    assert none.count() == 0
    assert none.columns == ["query_id", "neighbor_id", "rank", "adc"]
    with pytest.raises(ValueError, match="rescore_n"):
        SIM.pq_topk_distributed(codes, books, emb.limit(1),
                                k=5, rescore_n=2)
    with pytest.raises(ValueError, match="queries_per_block"):
        SIM.pq_topk_distributed(codes, books, emb.limit(1),
                                k=1, queries_per_block=0)
    with pytest.raises(ValueError, match="residual"):
        SIM._topk_distributed(
            codes, books, emb.limit(1), 1, centroids=None, nprobe=0,
            corpus=None, rescore_n=8, queries_per_block=10,
            residual=True, id_col="vec_id", vec_col="embedding",
            code_col="code", list_col=None)


# ---------------------------------------------------------------------------
# Residual-encoded IVF-PQ (round-4 verdict #2): codebooks trained on
# coarse-centroid residuals — finer quantization at the same bits.
# ---------------------------------------------------------------------------


def test_residual_encode_guards(spark, emb, books) -> None:
    with pytest.raises(ValueError, match="list_col requires"):
        SIM.pq_encode(emb, books, list_col="list_id")
    _, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    with pytest.raises(ValueError, match="not in frame"):
        SIM.pq_encode(emb, books, centroids=cents, list_col="nope")
    with pytest.raises(ValueError, match="bias requires"):
        SIM._adc_partial_topn(
            SIM.pq_encode(emb, books), [0],
            np.zeros((1, 8, 64)), 4, queries_schema=emb.schema,
            id_col="vec_id", code_col="code",
            bias=np.zeros((1, 8)))


def test_residual_encode_emits_consistent_lists(spark, emb) -> None:
    """pq_encode(centroids=...) without list_col recomputes the
    assignment with _assign_lists' exact math — must agree with the
    ivf_index frame; with list_col it reads the stored column."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    rbooks = SIM.pq_train(emb, m=8, n_codes=64, seed=11,
                          centroids=cents)
    via_col = SIM.pq_encode(assigned, rbooks, centroids=cents,
                            list_col="list_id",
                            keep_cols=("list_id",))
    recomputed = SIM.pq_encode(emb, rbooks, centroids=cents)
    a = {r["vec_id"]: (r["list_id"], bytes(r["code"]))
         for r in via_col.collect()}
    b = {r["vec_id"]: (r["list_id"], bytes(r["code"]))
         for r in recomputed.collect()}
    assert a == b


def _clustered_emb(spark, n=600, dim=64, n_clusters=8, seed=5):
    """Deterministic CLUSTERED unit vectors — the regime residual
    encoding exists for (real embedding corpora cluster; uniform
    random vectors do not, and there residuals carry MORE energy
    than the vectors: ||x - c||² ≈ 2 for near-orthogonal x, c)."""
    rng = np.random.RandomState(seed)
    anchors = rng.standard_normal((n_clusters, dim))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        v = anchors[i % n_clusters] + 0.15 * rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(8)


def test_residual_quantization_error_strictly_lower(spark) -> None:
    """THE reason residual encoding exists: on clustered data,
    quantizing residuals from the coarse centroid at the same
    (m, n_codes) bits leaves strictly less error than quantizing the
    raw normalized vectors. (On UNIFORM random vectors the opposite
    holds — residuals carry more energy — which is why this test
    builds a clustered corpus, not the random `embeddings` table.)"""
    emb = _clustered_emb(spark).cache()
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    raw_books = SIM.pq_train(emb, m=8, n_codes=64, seed=11)
    res_books = SIM.pq_train(emb, m=8, n_codes=64, seed=11,
                             centroids=cents)
    raw_err = [r["pq_err"] for r in SIM.pq_encode(
        emb, raw_books, with_error=True).collect()]
    res_err = [r["pq_err"] for r in SIM.pq_encode(
        assigned, res_books, centroids=cents, list_col="list_id",
        with_error=True).collect()]
    assert np.median(res_err) < np.median(raw_err)
    assert np.mean(res_err) < np.mean(raw_err)


def test_residual_ivfpq_planted_twin_rank1(spark, emb) -> None:
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    assigned, cents = SIM.ivf_index(corpus, n_lists=8, seed=11)
    rbooks = SIM.pq_train(corpus, m=8, n_codes=64, seed=11,
                          centroids=cents)
    codes = SIM.pq_encode(assigned, rbooks, centroids=cents,
                          list_col="list_id", keep_cols=("list_id",))
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    top1 = SIM.ivf_pq_topk(codes, cents, rbooks, qs, k=1, nprobe=1,
                           corpus=corpus, rescore_n=16,
                           residual=True).collect()
    assert len(top1) == 5
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] + 5000
        assert r["cosine"] == 1.0


def test_residual_recall_at_fixed_budget(spark) -> None:
    """Measured recall@5 at the SAME rescore_n on clustered data:
    residual IVFADC must not be worse than raw-vector IVFADC (it is
    typically strictly better; the ADC-error test above pins the
    mechanism)."""
    emb = _clustered_emb(spark).cache()
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    raw_books = SIM.pq_train(emb, m=8, n_codes=64, seed=11)
    res_books = SIM.pq_train(emb, m=8, n_codes=64, seed=11,
                             centroids=cents)
    raw_codes = SIM.pq_encode(assigned, raw_books,
                              keep_cols=("list_id",))
    res_codes = SIM.pq_encode(assigned, res_books, centroids=cents,
                              list_col="list_id",
                              keep_cols=("list_id",))
    qs = emb.where("vec_id < 20")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, qs, k=5).collect()}
    raw = {(r["query_id"], r["neighbor_id"])
           for r in SIM.ivf_pq_topk(
               raw_codes, cents, raw_books, qs, k=5, nprobe=8,
               corpus=emb, rescore_n=32).collect()}
    res = {(r["query_id"], r["neighbor_id"])
           for r in SIM.ivf_pq_topk(
               res_codes, cents, res_books, qs, k=5, nprobe=8,
               corpus=emb, rescore_n=32, residual=True).collect()}
    r_raw = len(raw & exact) / len(exact)
    r_res = len(res & exact) / len(exact)
    assert r_res >= r_raw


def test_residual_distributed_equals_driver(spark, emb) -> None:
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    rbooks = SIM.pq_train(emb, m=8, n_codes=64, seed=11,
                          centroids=cents)
    codes = SIM.pq_encode(assigned, rbooks, centroids=cents,
                          list_col="list_id", keep_cols=("list_id",))
    qs = emb.where("vec_id < 8")
    want = sorted(map(tuple, SIM.ivf_pq_topk(
        codes, cents, rbooks, qs, k=3, nprobe=2, corpus=emb,
        rescore_n=16, residual=True).collect()))
    got = sorted(map(tuple, SIM.ivf_pq_topk_distributed(
        codes, cents, rbooks, qs, k=3, nprobe=2, corpus=emb,
        rescore_n=16, residual=True,
        queries_per_block=3).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# OPQ — optimized product quantization (learned orthogonal rotation)
# ---------------------------------------------------------------------------


def _anisotropic_emb(spark, n=600, dim=64, seed=3):
    """Correlated, unevenly-scaled dimensions — the regime OPQ exists
    for. x = z @ (U diag(decay) V): cross-subspace correlation that
    plain contiguous-subspace PQ cannot exploit."""
    rng = np.random.RandomState(seed)
    u, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    v, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    mix = u @ np.diag(np.geomspace(1.0, 0.02, dim)) @ v
    z = rng.standard_normal((n, dim))
    x = z @ mix
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rows = [(i, [float(t) for t in x[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(8)


def test_opq_rotation_orthogonal_and_deterministic(spark) -> None:
    emb = _anisotropic_emb(spark).cache()
    rot, books = SIM.opq_train(emb, m=8, n_codes=32, seed=11,
                               opq_iters=4)
    assert rot.shape == (64, 64) and books.shape == (8, 32, 8)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-10)
    rot2, books2 = SIM.opq_train(emb, m=8, n_codes=32, seed=11,
                                 opq_iters=4)
    assert np.array_equal(rot, rot2) and np.array_equal(books, books2)
    with pytest.raises(ValueError, match="opq_iters"):
        SIM.opq_train(emb, opq_iters=0)


def test_opq_error_lower_on_anisotropic(spark) -> None:
    """THE OPQ claim: on correlated/unevenly-scaled dimensions the
    learned rotation leaves strictly less quantization error than
    plain PQ at the same (m, n_codes) bits."""
    emb = _anisotropic_emb(spark).cache()
    pq_books = SIM.pq_train(emb, m=8, n_codes=32, seed=11)
    rot, opq_books = SIM.opq_train(emb, m=8, n_codes=32, seed=11)
    pq_err = [r["pq_err"] for r in SIM.pq_encode(
        emb, pq_books, with_error=True).collect()]
    opq_err = [r["pq_err"] for r in SIM.pq_encode(
        emb, opq_books, rotation=rot, with_error=True).collect()]
    assert np.median(opq_err) < np.median(pq_err)
    assert np.mean(opq_err) < np.mean(pq_err)


def test_opq_planted_twin_rank1_and_distributed(spark, emb) -> None:
    """Identical vectors rotate identically → identical codes → the
    planted twin carries the query's own maximal ADC score into the
    rescore, rank 1 at cosine exactly 1.0 — on both the driver and
    the distributed query paths, which must agree exactly."""
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    rot, books = SIM.opq_train(corpus, m=8, n_codes=64, seed=11,
                               opq_iters=3)
    codes = SIM.pq_encode(corpus, books, rotation=rot)
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    top1 = SIM.pq_topk(codes, books, qs, k=1, corpus=corpus,
                       rescore_n=16, rotation=rot).collect()
    assert len(top1) == 5
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] + 5000
        assert r["cosine"] == 1.0
    want = sorted(map(tuple, SIM.pq_topk(
        codes, books, qs, k=3, corpus=corpus, rescore_n=16,
        rotation=rot).collect()))
    got = sorted(map(tuple, SIM.pq_topk_distributed(
        codes, books, qs, k=3, corpus=corpus, rescore_n=16,
        rotation=rot, queries_per_block=2).collect()))
    assert got == want


def test_opq_guards(spark, emb, books) -> None:
    _, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    with pytest.raises(ValueError, match="does not compose"):
        SIM.pq_encode(emb, books, centroids=cents,
                      rotation=np.eye(64))
    with pytest.raises(ValueError, match="rotation shape"):
        SIM.pq_encode(emb, books, rotation=np.eye(8))
    with pytest.raises(ValueError, match="does not compose"):
        SIM.build_query_luts(emb, books, centroids=cents,
                             rotation=np.eye(64))


# ---------------------------------------------------------------------------
# rotate_embeddings + the full OPQ,IVF,PQ chain
# ---------------------------------------------------------------------------


def test_rotate_embeddings_math_and_passthrough(spark, emb) -> None:
    rng = np.random.RandomState(5)
    q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    # the operator rotates each Arrow batch with ONE matrix product,
    # whose rows may differ bitwise from per-row products; one
    # partition smaller than a batch makes the whole frame that batch,
    # so the expectation below is the same product over the same rows
    src = emb.coalesce(1).withColumn("tag", F.col("vec_id") % 7)
    rows = src.collect()
    assert len(rows) <= int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    out = {r["vec_id"]: r for r in SIM.rotate_embeddings(
        src, q).collect()}
    raw = {r["vec_id"]: r for r in rows}
    assert set(out) == set(raw)
    batch = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    rotated = {r["vec_id"]: v for r, v in zip(rows, batch @ q)}
    some = list(raw)[:25]
    for vid in some:
        got = np.asarray(out[vid]["embedding"])
        assert np.array_equal(got, rotated[vid])   # bit-exact, same op
        assert out[vid]["tag"] == raw[vid]["tag"]
    # norms preserved (orthogonal R) up to f64 noise
    for vid in some[:5]:
        a = np.linalg.norm(raw[vid]["embedding"])
        b = np.linalg.norm(out[vid]["embedding"])
        assert abs(a - b) < 1e-9 * max(a, 1)


def test_rotate_embeddings_out_col_and_plan(spark, emb) -> None:
    q = np.eye(64)
    out = SIM.rotate_embeddings(emb, q, out_col="rot")
    assert "rot" in out.columns and "embedding" in out.columns
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") == 0          # one narrow stage
    r = out.limit(3).collect()
    for row in r:
        assert list(row["rot"]) == list(row["embedding"])


def test_rotate_embeddings_guards(spark, emb) -> None:
    with pytest.raises(ValueError, match="square"):
        SIM.rotate_embeddings(emb, np.zeros((4, 8)))
    import re
    with pytest.raises(Exception, match=re.compile(
            "rotation dim", re.DOTALL)):
        SIM.rotate_embeddings(emb, np.eye(8)).collect()
    withnull = emb.limit(5).withColumn(
        "embedding", F.when(F.col("vec_id") % 2 == 0,
                            F.col("embedding")))
    with pytest.raises(Exception, match=re.compile(
            "NULL embedding", re.DOTALL)):
        SIM.rotate_embeddings(withnull, np.eye(64)).collect()


def test_opq_ivf_pq_planted_twin(spark, emb) -> None:
    """The full OPQ,IVF,PQ chain: identical vectors rotate
    identically → same coarse list, same residual code → the exact
    rescore (rotated cosines == raw cosines) ranks the planted twin
    1 at exactly 1.0 — in BOTH residual and raw encodings."""
    planted = emb.where("vec_id < 5").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    qs = emb.where("vec_id < 5").select("vec_id", "embedding")
    for residual in (True, False):
        top1 = SIM.opq_ivf_pq_topk(
            corpus, qs, k=1, m=8, n_codes=64, n_lists=8, nprobe=1,
            rescore_n=16, opq_iters=2, seed=11,
            residual=residual).collect()
        assert len(top1) == 5, residual
        for r in top1:
            assert r["neighbor_id"] == r["query_id"] + 5000
            assert r["cosine"] == 1.0


def test_opq_ivf_pq_distributed_equals_driver(spark, emb) -> None:
    """distributed=True routes the chain's search through the
    unbounded-query block path — results must equal the driver path
    exactly (rotation baked into the frames, not the params)."""
    planted = emb.where("vec_id < 4").selectExpr(
        "vec_id + 5000 AS vec_id", "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    qs = emb.where("vec_id < 4").select("vec_id", "embedding")
    kw = dict(k=3, m=8, n_codes=64, n_lists=8, nprobe=2,
              rescore_n=16, opq_iters=2, seed=11, residual=True)
    want = sorted(map(tuple, SIM.opq_ivf_pq_topk(
        corpus, qs, **kw).collect()))
    got = sorted(map(tuple, SIM.opq_ivf_pq_topk(
        corpus, qs, distributed=True, queries_per_block=2,
        **kw).collect()))
    assert got == want and len(got) == 12


def test_training_sample_matrix_equivalence(emb) -> None:
    """sample_matrix= must reproduce the per-trainer collect exactly:
    the shared matrix from training_sample() is what each trainer
    would have collected itself, so books/centroids are bit-equal."""
    mat = SIM.training_sample(emb)
    assert np.array_equal(
        SIM.pq_train(emb, m=8, n_codes=64, seed=11),
        SIM.pq_train(emb, m=8, n_codes=64, seed=11,
                     sample_matrix=mat))
    _, c_self = SIM.ivf_index(emb, n_lists=8, seed=11)
    _, c_shared = SIM.ivf_index(emb, n_lists=8, seed=11,
                                sample_matrix=mat)
    assert np.array_equal(c_self, c_shared)
    assert np.array_equal(
        SIM.sq_train(emb, n_levels=16),
        SIM.sq_train(emb, n_levels=16, sample_matrix=mat))
    # the caller's matrix is not mutated by the trainers' in-place
    # normalization (they must copy)
    assert np.array_equal(mat, SIM.training_sample(emb))


def test_pq_encode_assign_only_matches_two_stage(emb, books) -> None:
    """pq_encode(centroids=, residual=False) must equal the two-stage
    ivf_index-assign + plain-encode layout byte for byte: same lists,
    same raw-vector codes, one Arrow stage instead of two."""
    assigned, cents = SIM.ivf_index(emb, n_lists=8, seed=11)
    two_stage = {
        r["vec_id"]: (r["list_id"], bytes(r["code"]))
        for r in SIM.pq_encode(assigned, books,
                               keep_cols=("list_id",)).collect()
    }
    fused = {
        r["vec_id"]: (r["list_id"], bytes(r["code"]))
        for r in SIM.pq_encode(emb, books, centroids=cents,
                               residual=False).collect()
    }
    assert fused == two_stage and len(fused) == emb.count()
