"""Embedding similarity search: exact baseline + LSH scale path.

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  set (queries ≪ corpus), one narrow pass computing dot products
  JVM-side (``zip_with``/``aggregate`` in double), per-query top-k via
  window. Cost O(|corpus|·|queries|·dim) but embarrassingly parallel
  and shuffle-light (only the tiny per-query top-k moves).
- :func:`rh_signatures` — random-hyperplane (SimHash-for-cosine)
  bit signatures via a vectorized pandas UDF (one numpy matmul per
  Arrow batch; the hyperplane matrix is regenerated per-executor from
  the seed, never shipped).
- :func:`ann_topk_lsh` — candidates = corpus rows sharing the
  query's bucket in ≥ 1 band, exact cosine re-rank on candidates
  only. Approximate (recall measured in tests vs the exact baseline).
- :func:`embedding_near_duplicates` — near-dup pairs by cosine ≥
  threshold among bucket-colliding pairs.
- :func:`ivf_index` / :func:`ivf_topk` — IVF coarse quantizer:
  bounded driver-side k-means training, one narrow assignment pass,
  probe-list search.
- :func:`pq_train` / :func:`pq_encode` / :func:`pq_topk` — product
  quantization: vectors compressed to m uint8 codes (32× at the
  defaults), ADC lookup-table scan over the code column only, exact
  cosine rescore of the top candidates. ``pq_train(centroids=...)``
  / ``pq_encode(centroids=...)`` switch to RESIDUAL encoding
  (standard IVFADC — better recall at the same bits);
  ``ivf_pq_topk(residual=True)`` scores them.
- :func:`pq_topk_distributed` / :func:`ivf_pq_topk_distributed` —
  the unbounded-query serving path: ADC LUTs built executor-side
  over the query DataFrame (:func:`build_query_luts`), processed in
  bounded hash blocks; the driver never collects the query frame.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.shipping import PKG_PARENT


def _cosine_expr(a: str, b: str) -> str:
    """Spark-SQL cosine similarity between two float-array columns,
    computed entirely in double (sequential left-fold — matches the
    DuckDB oracle's evaluation order)."""
    dot = (f"aggregate(zip_with({a}, {b},"
           " (x, y) -> cast(x as double) * cast(y as double)),"
           " 0D, (acc, v) -> acc + v)")
    na = (f"sqrt(aggregate({a}, 0D,"
          " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    nb = (f"sqrt(aggregate({b}, 0D,"
          " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    return f"({dot}) / (({na}) * ({nb}))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every query row:
    (query_id, neighbor_id, rank, cosine). Self-matches excluded.
    Deterministic tie-break: higher cosine first, then lower id."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(_cosine_expr("cvec", "qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("cosine"), 6).alias("cosine"))
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, n_bits)).astype(np.float64)


def rh_signatures(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    seed: int = 7,
) -> DataFrame:
    """(``id_col``, sig): random-hyperplane signature, one numpy
    matmul per Arrow batch. Narrow stage, no shuffle. The id column
    keeps its caller-facing name AND dtype (the mapInPandas output
    schema is derived from ``df.schema[id_col]``, so string/int/long
    ids all work)."""
    src = df.select(F.col(id_col), F.col(vec_col))
    id_dtype = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_dtype, True),
        T.StructField("sig", T.LongType(), True),
    ])
    pkg_parent = PKG_PARENT

    def compute(batches):
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        import numpy as np
        import pandas as pd
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        planes = None
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if planes is None:
                from cerberus_cpp_spark.operators.similarity import (
                    _hyperplanes,
                )

                planes = _hyperplanes(mat.shape[1], n_bits, seed)
            bits = (mat @ planes) > 0
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "sig": (bits @ weights).astype("int64"),
            })

    return src.mapInPandas(compute, schema=out_schema)


def _attach_cosine_arrow(pairs: DataFrame,
                         vec_a: str = "vec_a",
                         vec_b: str = "vec_b") -> DataFrame:
    """Append a ``cosine`` double to a pair frame carrying two
    embedding-array columns, dropping the arrays.

    Bit-identical to ``F.expr(_cosine_expr(vec_a, vec_b))``: the dot
    and both norms accumulate as the same sequential left-fold of
    IEEE-double multiply/add (a j-indexed loop over the dimension,
    vectorized ACROSS rows with numpy), followed by the same
    sqrt/multiply/divide — numpy and the JVM both execute IEEE 754
    round-to-nearest, so every intermediate matches the HOF chain
    exactly. The HOF path evaluates interpreted per-element lambda
    closures (~256 per pair at dim 64 — measured ~4s per million
    pairs); this runs the identical arithmetic in C. Length-mismatch
    or null-element rows yield NaN where the HOF yields NULL — both
    fail any threshold comparison identically, which is the only way
    callers consume them."""
    out_fields = [f for f in pairs.schema.fields
                  if f.name not in (vec_a, vec_b)]
    out_schema = T.StructType(
        out_fields + [T.StructField("cosine", T.DoubleType(), True)])
    keep = [f.name for f in out_fields]

    def _flat(col, n):
        """(values float64[total], offsets int64[n+1], lens int64[n])
        for a list<double> Arrow array — the values buffer is read
        in place, never per-row."""
        import numpy as np

        lens = np.full(n, -1, dtype=np.int64)
        off = col.offsets.to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        valid = np.ones(n, dtype=bool)
        if col.null_count:
            valid = ~np.asarray(col.is_null())
        lens[valid] = (off[1:] - off[:-1])[valid]
        vals = col.values.to_numpy(zero_copy_only=False) \
            .astype(np.float64, copy=False)
        return vals, off, lens

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pyarrow as pa

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for batch in batches:
            n = batch.num_rows
            names = batch.schema.names
            cols = {nm: batch.column(i) for i, nm in enumerate(names)}
            cos = np.full(n, np.nan)
            if n:
                a_col, b_col = cols[vec_a], cols[vec_b]
                va, oa, la = _flat(a_col, n)
                vb, ob, lb = _flat(b_col, n)
                for d in np.unique(la[(la == lb) & (la >= 0)]):
                    idx = np.nonzero((la == d) & (lb == d))[0]
                    if d == 0:  # two empty vectors: cos stays NaN
                        continue
                    gather = np.arange(int(d))[None, :]
                    a_m = va[oa[idx][:, None] + gather]
                    b_m = vb[ob[idx][:, None] + gather]
                    dot = np.zeros(len(idx))
                    na = np.zeros(len(idx))
                    nb = np.zeros(len(idx))
                    for j in range(int(d)):
                        dot += a_m[:, j] * b_m[:, j]
                        na += a_m[:, j] * a_m[:, j]
                        nb += b_m[:, j] * b_m[:, j]
                    with np.errstate(divide="ignore",
                                     invalid="ignore"):
                        cos[idx] = dot / (np.sqrt(na) * np.sqrt(nb))
            yield pa.RecordBatch.from_arrays(
                [cols[nm] for nm in keep]
                + [pa.array(cos, type=pa.float64())],
                names=keep + ["cosine"])

    return pairs.select(*keep, vec_a, vec_b) \
        .mapInArrow(work, schema=out_schema)


def _band_key(sig_col: str, band: int, band_bits: int):
    mask = ((1 << band_bits) - 1) << (band * band_bits)
    return (F.col(sig_col).bitwiseAND(F.lit(mask)))


def _banded(df: DataFrame, sig_col: str, n_bits: int, band_bits: int):
    """Explode a signature into (band, bkey) rows — all bands in one
    relation so downstream candidate generation is ONE join (the
    per-band loop version compiled to n_bands separate shuffles)."""
    n_bands = n_bits // band_bits
    keys = [_band_key(sig_col, b, band_bits) for b in range(n_bands)]
    return df.select(
        "*", F.posexplode(F.array(*keys)).alias("band", "bkey")
    ).drop(sig_col)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 32,
    band_bits: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: LSH band collision → exact cosine re-rank
    of candidates only. Output schema matches :func:`cosine_topk`.
    Recall < 1 by construction; measured presets on sf0.1 random
    embeddings (worst case — near-orthogonal neighbors; clustered
    real embeddings recall higher), recall@5 vs the exact baseline:
    (16,4)=0.45 (32,4)=0.73 (60,4)=0.92; 8-bit bands collapse recall
    (0.05-0.11) — see BENCH.md §5."""
    n_bands = n_bits // band_bits
    csig = rh_signatures(corpus, id_col=id_col, vec_col=vec_col,
                         n_bits=n_bits, seed=seed)
    qsig = rh_signatures(queries, id_col=id_col, vec_col=vec_col,
                         n_bits=n_bits, seed=seed)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec")) \
        .join(csig.select(F.col(id_col).alias("neighbor_id"), "sig"),
              on="neighbor_id")
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec")) \
        .join(qsig.select(F.col(id_col).alias("query_id"),
                          F.col("sig").alias("qsig")),
              on="query_id")
    cb = _banded(c, "sig", n_bits, band_bits)
    qb = _banded(q.withColumnRenamed("qsig", "sig"), "sig",
                 n_bits, band_bits)
    cand = cb.join(F.broadcast(qb), on=["band", "bkey"])
    cand = (
        cand.where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cvec", "qvec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.expr(_cosine_expr("cvec", "qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("cosine"), 6).alias("cosine"))
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 32,
    band_bits: int = 4,
    seed: int = 7,
    exact: bool = False,
    exact_max_rows: int = 200_000,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    ``exact=True``: all-pairs (only for tests / small slices).
    Default: LSH-bucketed candidates (complete only for pairs whose
    signatures collide in ≥ 1 band — at cosine ≥ 0.95 collision
    probability per 4-bit band is ≈ (1 - 0.102)^4 ≈ 0.65, over 4
    bands ≈ 0.985)."""
    base = df.select(F.col(id_col).alias("vid"),
                     F.col(vec_col).alias("vec"))
    if exact:
        return _exact_near_duplicates_blas(
            base, threshold, max_rows=exact_max_rows
        )
    else:
        # ids-only through the band join and the pair-dedup (guide
        # §2.3: shuffle keys, not payloads): 4-bit bands give only 16
        # buckets per band, so the self-join fans out to O(n²/16)
        # candidate rows per band — carrying both embedding arrays
        # through that join and the dropDuplicates moved ~1 KB per
        # candidate (measured 6.1s for 2k vectors); the vectors
        # re-attach to the DISTINCT pairs only, via two joins against
        # the narrow (vid, vec) frame
        sig = rh_signatures(df, id_col=id_col, vec_col=vec_col,
                            n_bits=n_bits, seed=seed)
        banded = _banded(
            sig.select(F.col(id_col).alias("vid"), "sig"),
            "sig", n_bits, band_bits)
        a = banded.alias("a")
        b = banded.alias("b")
        pairs = (
            a.join(b, on=["band", "bkey"])
            .where(F.col("a.vid") < F.col("b.vid"))
            .select(F.col("a.vid").alias("id_a"),
                    F.col("b.vid").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .join(base.select(F.col("vid").alias("id_a"),
                              F.col("vec").alias("vec_a")), "id_a")
            .join(base.select(F.col("vid").alias("id_b"),
                              F.col("vec").alias("vec_b")), "id_b")
        )
        return (
            _attach_cosine_arrow(pairs)
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b",
                    F.round(F.col("cosine"), 6).alias("cosine"))
        )
    return (
        pairs.withColumn("cosine",
                         F.expr(_cosine_expr("vec_a", "vec_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b",
                F.round(F.col("cosine"), 6).alias("cosine"))
    )


def _exact_near_duplicates_blas(base: DataFrame,
                                threshold: float,
                                max_rows: int = 200_000) -> DataFrame:
    """Exact all-pairs cosine via broadcast matrix + one BLAS matmul
    per Arrow batch. The interpreted-HOF crossJoin version took 59s
    for 5000 vectors (12.5M pairs through CodegenFallback folds);
    this runs the identical math in C (~0.1s). Only for corpora whose
    (id, vector) set fits in a broadcast (the LSH path is the scale
    route; at 1e9 vectors all-pairs is off the table regardless).

    The driver ``collect()`` is size-GUARDED: a corpus above
    ``max_rows`` raises before any collect instead of OOMing the
    driver — callers at scale must use the LSH route
    (``exact=False``)."""
    spark = base.sparkSession
    # limit(max_rows+1) enforces the guard in the SAME job as the
    # collect — a separate count() ran the full upstream plan twice
    # and an unguarded collect could OOM the driver first
    rows = base.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"exact near-duplicate mode collects the corpus to the "
            f"driver and is bounded at {max_rows} rows; got more. Use "
            f"exact=False (the LSH-bucketed scale path) or raise "
            f"exact_max_rows explicitly."
        )
    import numpy as np

    if not rows:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    ids = np.array([r["vid"] for r in rows], dtype=np.int64)
    mat = np.array([list(r["vec"]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, unit))

    src = base.select("vid")

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        all_ids, all_unit = bc.value
        pos = {int(v): i for i, v in enumerate(all_ids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx = np.array([pos[int(v)] for v in pdf["vid"]])
            sims = all_unit[idx] @ all_unit.T   # batch × N
            out_a, out_b, out_s = [], [], []
            for row_i, vid in zip(range(len(idx)), pdf["vid"]):
                mask = (sims[row_i] >= threshold) & (all_ids > int(vid))
                hit = np.nonzero(mask)[0]
                out_a.extend([int(vid)] * len(hit))
                out_b.extend(all_ids[hit].tolist())
                out_s.extend(np.round(sims[row_i][hit], 6).tolist())
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "cosine": out_s}
            )

    return src.mapInPandas(
        work, schema="id_a long, id_b long, cosine double"
    )


def _assign_lists(df: DataFrame, centroids: np.ndarray, *,
                  id_col: str, vec_col: str,
                  out_col: str = "list_id",
                  top_n: int = 1) -> DataFrame:
    """Nearest-centroid assignment (cosine) as one vectorized numpy
    matmul per Arrow batch. ``top_n`` > 1 emits that many rows per
    vector (probe lists for queries). Centroids travel in the
    closure — (n_lists, dim) doubles, a few KB."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    id_dtype = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True)
         for f in df.select(id_col, vec_col).schema.fields]
        + [T.StructField(out_col, T.IntegerType(), True)]
    )
    src = df.select(id_col, vec_col)
    _ = id_dtype  # documented: schema derives from the input frame

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ cn.T  # (batch, n_lists)
            if top_n == 1:
                lists = sims.argmax(axis=1)[:, None]
            else:
                # stable sort: exact score ties resolve by list index,
                # matching argmax (the planted-oracle invariant needs
                # probe[0] == the twin's assigned list)
                lists = np.argsort(-sims, axis=1,
                                   kind="stable")[:, :top_n]
            rows = {id_col: [], vec_col: [], out_col: []}
            for i in range(len(pdf)):
                for j in lists[i]:
                    rows[id_col].append(pdf[id_col].iloc[i])
                    rows[vec_col].append(pdf[vec_col].iloc[i])
                    rows[out_col].append(int(j))
            yield pd.DataFrame(rows)

    return src.mapInPandas(work, schema=out_schema)


def _bounded_sample_matrix(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    train_rows: int,
    sample_mod: int | None,
) -> np.ndarray:
    """Bounded DETERMINISTIC training sample as an (n, dim) float64
    matrix — shared by the IVF coarse quantizer and the PQ codebook
    trainer so both sample identically. Never a full scan: sizing via
    a ≤8-partition ``runJob`` probe, membership a pure function of
    the id hash, and the collect hard-bounded by ``limit``."""
    if sample_mod is None:
        # size the sample WITHOUT a full count job (round-2 verdict:
        # the default paid one extra full scan at 100 TB): count rows
        # in <= 8 probe partitions via runJob — only those tasks run,
        # non-probed splits are never read — and scale by the
        # partition count. The fixed stride makes the probe (and so
        # the derived sample_mod and training set) a pure function of
        # the data. CAVEAT: the .rdd access eagerly executes upstream
        # shuffle stages on derived frames — pass sample_mod
        # explicitly for non-raw inputs or when an exact rate is
        # preferred. Estimate error only shifts the sample size band
        # (the orderBy+limit below still hard-bounds the collect).
        rdd = corpus.select(F.lit(0).alias("__one")).rdd
        nparts = rdd.getNumPartitions()
        if nparts == 0:
            raise ValueError("empty corpus: nothing to train on")
        if nparts <= 8:
            # the probe would cover EVERY partition, i.e. read the
            # same data as a full count — so count in the JVM (no
            # Python-worker job round trip; measured ~2× cheaper at
            # bench scale) for the identical exact estimate
            n_est = corpus.count()
        else:
            stride = -(-nparts // 8)  # ceil → ≤ 8 probed partitions
            probe = list(range(0, nparts, stride))
            counts = corpus.sparkSession.sparkContext.runJob(
                rdd, lambda it: [sum(1 for _ in it)], probe)
            n_est = int(sum(counts) * nparts / len(probe))
        sample_mod = max(1, n_est // max(train_rows, 1))
    # the hash filter leaves ~[train_rows, 2*train_rows) rows; a bare
    # limit() would keep whichever partitions answer first (plan-
    # nondeterministic training sets — review finding). Ordering by
    # the id hash first makes the kept subset a pure function of the
    # data: TakeOrdered over a small filtered set, no full sort.
    sample = (
        corpus.where(
            F.pmod(F.xxhash64(F.col(id_col)),
                   F.lit(int(sample_mod))) == 0)
        .select(vec_col, F.xxhash64(F.col(id_col)).alias("__h"),
                F.col(id_col).alias("__id"))
        .orderBy(F.col("__h"), F.col("__id"))
        .limit(train_rows)
        .collect()
    )
    return np.asarray([np.asarray(r[vec_col], dtype=np.float64)
                       for r in sample])


def training_sample(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 20_000,
    sample_mod: int | None = None,
) -> np.ndarray:
    """The bounded deterministic training sample as a raw (n, dim)
    float64 matrix — the SHARING hook for pipelines that train
    several quantizers over the same corpus (IVF + PQ in the IVFADC
    compositions): collect the sample ONCE here and pass it to
    ``ivf_index`` / ``pq_train`` / ``opq_train`` / ``sq_train`` via
    ``sample_matrix=`` instead of paying the sizing probe + bounded
    collect per trainer. Identical membership/ordering rules as the
    per-trainer default (a pure function of the id hash), so the
    shared matrix is exactly what each trainer would have collected
    itself."""
    return _bounded_sample_matrix(
        corpus, id_col=id_col, vec_col=vec_col,
        train_rows=train_rows, sample_mod=sample_mod)


def ivf_index(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_rows: int = 20_000,
    iters: int = 10,
    seed: int = 11,
    sample_mod: int | None = None,
    sample_matrix: np.ndarray | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer — the second scale path for ANN next to
    the LSH route (the task brief names both): spherical k-means
    centroids trained driver-side on a bounded deterministic sample,
    then ONE narrow assignment pass over the corpus.

    Returns ``(assigned, centroids)``: the corpus with an extra
    ``list_id`` column (partition-pruning-friendly at rest — write
    bucketed/partitioned by it at scale) and the (n_lists, dim)
    centroid matrix. ``sample_mod`` skips the sizing count for giant
    corpora (keep every row with xxhash64(id) % sample_mod == 0).
    ``sample_matrix`` (from :func:`training_sample`) skips the
    collect entirely — the co-training hook for IVF×PQ compositions.
    Deterministic for a fixed seed (k-means++ under a seeded RNG;
    note that BLAS ulp differences across heterogeneous hardware can
    flip assignments of near-boundary vectors)."""
    mat = (np.array(sample_matrix, dtype=np.float64)
           if sample_matrix is not None
           else _bounded_sample_matrix(
               corpus, id_col=id_col, vec_col=vec_col,
               train_rows=train_rows, sample_mod=sample_mod))
    if len(mat) < n_lists:
        raise ValueError(
            f"IVF training sample ({len(mat)}) smaller than "
            f"n_lists ({n_lists}); lower n_lists or sample_mod")
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                      1e-12)
    rng = np.random.RandomState(seed)
    # k-means++ seeding (incremental running-min over the centroid
    # set: O(k·n·d) instead of recomputing the whole list per new
    # centroid — elementwise min of the same exact values, so the
    # draws and centroids are bit-identical), then spherical Lloyd
    cents = [mat[rng.randint(len(mat))]]
    dmin = 1.0 - mat @ cents[0]
    for _ in range(n_lists - 1):
        d2 = dmin.clip(min=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(mat[rng.choice(len(mat), p=probs)])
        dmin = np.minimum(dmin, 1.0 - mat @ cents[-1])
    cents = np.asarray(cents)
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for j in range(n_lists):
            members = mat[assign == j]
            if len(members):
                c = members.sum(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    assigned = _assign_lists(corpus, cents, id_col=id_col,
                             vec_col=vec_col)
    return assigned, cents


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF probe lists: each query scores ONLY the
    corpus rows assigned to its ``nprobe`` nearest centroids — the
    candidate set shrinks ~n_lists/nprobe-fold vs brute force, and
    the probe pairs (queries x nprobe rows) broadcast. Probe lists
    are computed through the SAME assignment code path as the corpus
    (identical vectors therefore probe exactly their twin's list —
    the invariant the planted contract oracle checks). Output:
    (query_id, neighbor_id, rank, cosine), self-matches excluded."""
    probes = _assign_lists(
        queries, centroids, id_col=id_col, vec_col=vec_col,
        top_n=int(nprobe)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "list_id",
    )
    cands = (
        assigned.join(F.broadcast(probes), on="list_id")
        .where(F.col(id_col) != F.col("query_id"))
        # a vector can appear via several probed lists: dedup before
        # ranking so row_number never double-counts a neighbor
        .dropDuplicates(["query_id", id_col])
        .withColumn("cosine", F.expr(_cosine_expr(vec_col, "qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                "rank", F.round(F.col("cosine"), 6).alias("cosine"))
    )


def pq_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    train_rows: int = 20_000,
    iters: int = 10,
    seed: int = 11,
    sample_mod: int | None = None,
    centroids: np.ndarray | None = None,
    sample_matrix: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks — the compressed-domain ANN
    path next to LSH (:func:`ann_topk_lsh`) and IVF
    (:func:`ivf_index`): at 10^12 vectors the raw float32 corpus is
    ~0.25 PB at dim 64, while ``m`` uint8 codes per vector are
    dim·4/m× smaller (32× at the defaults), small enough to rescan
    per query batch.

    Splits each (unit-normalized) vector into ``m`` contiguous
    subspaces and trains an independent ``n_codes``-entry Euclidean
    k-means codebook per subspace (k-means++ seeding, Lloyd
    iterations) on the SAME bounded deterministic driver-side sample
    the IVF trainer uses (``_bounded_sample_matrix`` — sizing via a
    ≤8-partition probe, membership a pure function of the id hash,
    hard-bounded collect). Returns an (m, n_codes, dim/m) float64
    codebook tensor — a few hundred KB, travels in task closures.

    Deterministic for a fixed seed. Reference parity anchor: the
    brief's embedding-similarity leg (SURVEY.md §2 LLM-pipeline ops);
    the ADC search design follows Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search" (TPAMI 2011, public).

    ``centroids`` (the IVF coarse quantizer's matrix) switches to
    RESIDUAL encoding — standard IVFADC: each training vector is
    assigned to its nearest (cosine) centroid with the SAME math as
    :func:`_assign_lists` and the codebooks are trained on
    ``x_norm - centroid`` instead of the raw normalized vector.
    Residuals concentrate much closer to the origin than the vectors
    themselves, so the same bit budget quantizes them with less
    error — materially better recall at fixed m/n_codes (measured in
    tests/test_pq.py and BENCH.md §34). Pair with
    ``pq_encode(centroids=...)`` and ``ivf_pq_topk(residual=True)``.

    ``sample_matrix`` (from :func:`training_sample`) skips the
    bounded collect — pass the one shared matrix when co-training
    with :func:`ivf_index` over the same corpus.
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    if not 2 <= n_codes <= 256:
        raise ValueError("n_codes must be in [2, 256] (uint8 codes)")
    mat = (np.array(sample_matrix, dtype=np.float64)
           if sample_matrix is not None
           else _bounded_sample_matrix(
               corpus, id_col=id_col, vec_col=vec_col,
               train_rows=train_rows, sample_mod=sample_mod))
    if len(mat) < n_codes:
        raise ValueError(
            f"PQ training sample ({len(mat)}) smaller than n_codes "
            f"({n_codes}); lower n_codes or sample_mod")
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) not divisible by m ({m})")
    dsub = dim // m
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                      1e-12)
    if centroids is not None:
        cn = centroids / np.linalg.norm(centroids, axis=1,
                                        keepdims=True)
        assign = (mat @ cn.T).argmax(axis=1)
        mat = mat - cn[assign]
    # incremental k-means++ running-min inside (same exact values as
    # a per-centroid full recompute — 19× less work, measured)
    return _pq_kmeans(mat, m, n_codes, iters, seed)


def sq_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_levels: int = 256,
    train_rows: int = 20_000,
    sample_mod: int | None = None,
    centroids: np.ndarray | None = None,
    sample_matrix: np.ndarray | None = None,
) -> np.ndarray:
    """Scalar-quantization codebooks (FAISS's 'SQ8'): each dimension
    independently snapped to a uniform ``n_levels``-step grid
    between that dimension's observed min and max — dim bytes per
    vector at the default (4× smaller than float32, vs PQ's 32× at
    m=8), trading compression for near-lossless fidelity: the
    middle rung of the quantizer ladder (LSH < PQ < SQ < exact).

    Returns a ``(dim, n_levels, 1)`` codebook tensor — EXACTLY the
    :func:`pq_train` contract with m=dim, so the entire downstream
    machinery is reused unmodified and keeps its pins:
    :func:`pq_encode` (one narrow Arrow stage; for a uniform grid
    the per-subspace nearest-entry argmin IS round-to-nearest-rung),
    :func:`pq_topk` / :func:`pq_topk_distributed` (ADC LUTs, the
    per-partition top-R prune, exact rescore), and the IVF
    composition via ``centroids`` (residual SQ — the grid is fit to
    the residuals instead). Out-of-range values at encode time clamp
    to the edge rungs automatically (nearest entry of a bounded
    grid). Constant dimensions degenerate to a single repeated rung
    — argmin picks index 0 deterministically.

    Bounds come from the SAME bounded deterministic sample as
    IVF/PQ training (``_bounded_sample_matrix``), computed on
    unit-normalized vectors to match the encode path. Deterministic:
    no iterative training at all — the codebook is a pure function
    of the sample's per-dim extrema."""
    if not 2 <= n_levels <= 256:
        raise ValueError(
            "n_levels must be in [2, 256] (uint8 codes)")
    mat = (np.array(sample_matrix, dtype=np.float64)
           if sample_matrix is not None
           else _bounded_sample_matrix(
               corpus, id_col=id_col, vec_col=vec_col,
               train_rows=train_rows, sample_mod=sample_mod))
    if len(mat) == 0:
        raise ValueError("empty training sample")
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                      1e-12)
    if centroids is not None:
        cn = centroids / np.linalg.norm(centroids, axis=1,
                                        keepdims=True)
        assign = (mat @ cn.T).argmax(axis=1)
        mat = mat - cn[assign]
    lo = mat.min(axis=0)                      # (dim,)
    hi = mat.max(axis=0)
    steps = np.linspace(0.0, 1.0, n_levels)   # (n_levels,)
    grid = lo[:, None] + (hi - lo)[:, None] * steps[None, :]
    return np.ascontiguousarray(grid[:, :, None])


def opq_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    train_rows: int = 20_000,
    iters: int = 10,
    opq_iters: int = 8,
    seed: int = 11,
    sample_mod: int | None = None,
    sample_matrix: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge, He, Ke, Sun, CVPR 2013 —
    public): learn an ORTHOGONAL rotation R that redistributes
    variance/correlation across the PQ subspace boundaries before
    quantizing, then codebooks on the rotated sample. Returns
    ``(rotation, codebooks)`` — feed both to
    ``pq_encode(rotation=...)`` / ``pq_topk(rotation=...)``.

    Alternating minimization on the SAME bounded deterministic sample
    as :func:`pq_train`: (1) k-means codebooks on X·R, (2) the
    orthogonal Procrustes step R = U·Vᵀ from the SVD of Xᵀ·Y (Y =
    the per-subspace reconstruction). R is orthogonal, so rotated
    inner products equal raw ones (<q·R, x·R> = <q, x>) and the whole
    ADC machinery — LUTs, per-partition prune, exact rescore — is
    unchanged; only encode/query rotate first. Wins when dimensions
    are correlated or variance is uneven across subspaces (real
    embeddings; measured in tests on anisotropic data — on already
    isotropic vectors R converges near a permutation and matches
    plain PQ)."""
    if m < 1:
        raise ValueError("m must be >= 1")
    if not 2 <= n_codes <= 256:
        raise ValueError("n_codes must be in [2, 256] (uint8 codes)")
    if opq_iters < 1:
        raise ValueError("opq_iters must be >= 1")
    mat = (np.array(sample_matrix, dtype=np.float64)
           if sample_matrix is not None
           else _bounded_sample_matrix(
               corpus, id_col=id_col, vec_col=vec_col,
               train_rows=train_rows, sample_mod=sample_mod))
    if len(mat) < n_codes:
        raise ValueError(
            f"OPQ training sample ({len(mat)}) smaller than n_codes "
            f"({n_codes}); lower n_codes or sample_mod")
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) not divisible by m ({m})")
    dsub = dim // m
    mat = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rot = np.eye(dim)
    books = None
    for _ in range(opq_iters):
        xr = mat @ rot
        # codebooks on the rotated sample: same k-means as pq_train
        # (per-subspace k-means++ + Lloyd), fewer Lloyd iters per
        # alternation — the outer loop supplies the refinement
        books = _pq_kmeans(xr, m, n_codes, max(2, iters // 2), seed)
        recon = np.empty_like(xr)
        for sub in range(m):
            part = xr[:, sub * dsub:(sub + 1) * dsub]
            # expansion trick: (n, k) distances, never an (n, k, d)
            # tensor (the sample is 20k rows — memory matters)
            d2 = ((part ** 2).sum(axis=1, keepdims=True)
                  - 2.0 * part @ books[sub].T
                  + (books[sub] ** 2).sum(axis=1))
            recon[:, sub * dsub:(sub + 1) * dsub] = \
                books[sub][d2.argmin(axis=1)]
        # orthogonal Procrustes: min_R ||X R - Y||_F
        u, _, vt = np.linalg.svd(mat.T @ recon)
        rot = u @ vt
    # final full-strength codebooks on the converged rotation
    books = _pq_kmeans(mat @ rot, m, n_codes, iters, seed)
    return rot, books


def rotate_embeddings(
    df: DataFrame,
    rotation: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Every vector multiplied by ``rotation`` in ONE narrow Arrow
    stage (zero Exchanges, all other columns pass through). The
    composition primitive that makes OPQ orthogonal to everything
    else: because R preserves inner products and norms, a frame
    rotated ONCE can feed the unmodified IVF / residual-PQ / rescore
    machinery — no ``rotation=`` plumbing inside those operators, no
    unmodeled coupling (this is how :func:`opq_ivf_pq_topk` composes
    OPQ with the coarse quantizer, i.e. FAISS's 'OPQ..,IVF..,PQ..'
    chain). NULL or wrong-width vectors fail the task with a clear
    message rather than silently mis-rotating."""
    rot = np.ascontiguousarray(rotation, dtype=np.float64)
    if rot.ndim != 2 or rot.shape[0] != rot.shape[1]:
        raise ValueError(f"rotation must be square, got {rot.shape}")
    out = out_col or vec_col
    fields = []
    for f in df.schema.fields:
        if f.name == out:
            fields.append(T.StructField(
                out, T.ArrayType(T.DoubleType()), True))
        else:
            fields.append(f)
    if out not in df.columns:
        fields.append(T.StructField(
            out, T.ArrayType(T.DoubleType()), True))
    out_schema = T.StructType(fields)
    names = [f.name for f in fields]
    dim = rot.shape[0]

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            if len(pdf):
                if pdf[vec_col].isna().any():
                    raise ValueError(
                        "rotate_embeddings: NULL embedding — filter "
                        "or repair before rotating")
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64)
                     for v in pdf[vec_col]])
                if mat.ndim != 2 or mat.shape[1] != dim:
                    raise ValueError(
                        f"rotate_embeddings: vectors of width "
                        f"{mat.shape[1:]} vs rotation dim {dim}")
                r = mat @ rot
                pdf = pdf.copy()
                pdf[out] = list(r)
            else:
                pdf = pdf.copy()
                pdf[out] = pd.Series([], dtype=object)
            yield pdf[names]

    return df.mapInPandas(work, schema=out_schema)


def opq_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    m: int = 8,
    n_codes: int = 256,
    n_lists: int = 16,
    nprobe: int = 4,
    rescore_n: int = 32,
    opq_iters: int = 8,
    iters: int = 10,
    seed: int = 11,
    train_rows: int = 20_000,
    residual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    sample_mod: int | None = None,
    distributed: bool = False,
    queries_per_block: int = 10_000,
) -> DataFrame:
    """The full FAISS-style 'OPQ,IVF,PQ' chain (Ge et al. CVPR 2013 ×
    Jégou et al. 2011): learn the OPQ rotation, rotate corpus AND
    queries ONCE (:func:`rotate_embeddings` — R preserves inner
    products and norms, so rotated cosines ARE the raw cosines and
    normalization commutes), then run the UNMODIFIED coarse-quantize
    → residual-PQ → probe-pruned ADC → exact-rescore pipeline in the
    rotated space. This composes what ``pq_encode(rotation=,
    centroids=)`` deliberately refuses: there the rotation would
    couple with a coarse quantizer trained in the unrotated space;
    here the quantizer itself is trained on rotated vectors, so the
    model is exact, not approximated.

    Planted-twin invariant survives end-to-end: identical vectors
    rotate identically → same list, same residual code, and the
    rescore (cosines of rotated vectors = raw cosines) ranks the twin
    1 at exactly 1.0. At scale: training collects stay bounded
    (same deterministic sample as every quantizer here), the rotated
    corpus is one extra narrow Arrow pass you'd materialize next to
    the codes at rest, and search cost is identical to
    :func:`ivf_pq_topk`."""
    # collect the bounded training sample ONCE from the raw corpus
    # and rotate it driver-side for the IVF/PQ trainers: the rotated
    # corpus's sample has identical membership/ordering (both are
    # pure functions of the id hash), and its vectors are the same
    # float64 ``x @ R`` product ``rotate_embeddings`` computes — so
    # three sizing probes + three bounded collects (two of which
    # would materialize the full rotation stage early) collapse into
    # one, with no change to what any trainer sees.
    mat = _bounded_sample_matrix(
        corpus, id_col=id_col, vec_col=vec_col,
        train_rows=train_rows, sample_mod=sample_mod)
    rot, _ = opq_train(
        corpus, id_col=id_col, vec_col=vec_col, m=m, n_codes=n_codes,
        train_rows=train_rows, iters=iters, opq_iters=opq_iters,
        seed=seed, sample_matrix=mat)
    rmat = mat @ np.ascontiguousarray(rot, dtype=np.float64)
    # lazy localCheckpoint: the rotated corpus feeds the encode and
    # the rescore — without truncation each would re-run the Arrow
    # rotation stage
    rcorp = rotate_embeddings(corpus, rot, vec_col=vec_col) \
        .localCheckpoint(eager=False)
    rq = rotate_embeddings(queries, rot, vec_col=vec_col)
    _, cents = ivf_index(
        rcorp, id_col=id_col, vec_col=vec_col, n_lists=n_lists,
        train_rows=train_rows, iters=iters, seed=seed,
        sample_matrix=rmat)
    books = pq_train(
        rcorp, id_col=id_col, vec_col=vec_col, m=m, n_codes=n_codes,
        train_rows=train_rows, iters=iters, seed=seed,
        sample_matrix=rmat,
        centroids=cents if residual else None)
    # assignment fused into the encode pass (same normalized-matmul
    # argmax as _assign_lists) — one Arrow stage instead of two
    codes = pq_encode(
        rcorp, books, id_col=id_col, vec_col=vec_col,
        centroids=cents, residual=residual)
    if distributed:
        # unbounded-query serving: rotation is already baked into rq
        # and rcorp, so the distributed path needs no rotation param
        return ivf_pq_topk_distributed(
            codes, cents, books, rq, k, nprobe=nprobe, corpus=rcorp,
            rescore_n=rescore_n, queries_per_block=queries_per_block,
            residual=residual, id_col=id_col, vec_col=vec_col)
    return ivf_pq_topk(
        codes, cents, books, rq, k, nprobe=nprobe, corpus=rcorp,
        rescore_n=rescore_n, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries, residual=residual)


def _pq_kmeans(mat: np.ndarray, m: int, n_codes: int, iters: int,
               seed: int) -> np.ndarray:
    """Per-subspace k-means (k-means++ seeding + Lloyd) — the exact
    :func:`pq_train` training loop, factored so OPQ's alternation
    reuses it on rotated samples."""
    dim = mat.shape[1]
    dsub = dim // m
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for sub in range(m):
        part = mat[:, sub * dsub:(sub + 1) * dsub]
        rng = np.random.RandomState(seed + 7919 * sub)
        cents = [part[rng.randint(len(part))]]
        dmin = ((part - cents[0]) ** 2).sum(axis=1)
        for _ in range(n_codes - 1):
            probs = dmin / dmin.sum() if dmin.sum() > 0 else None
            cents.append(part[rng.choice(len(part), p=probs)])
            dmin = np.minimum(
                dmin, ((part - cents[-1]) ** 2).sum(axis=1))
        cents = np.asarray(cents)
        for _ in range(iters):
            d2 = ((part ** 2).sum(axis=1, keepdims=True)
                  - 2.0 * part @ cents.T
                  + (cents ** 2).sum(axis=1))
            assign = d2.argmin(axis=1)
            # one scatter-add instead of n_codes boolean-mask means
            # (the mask loop re-scanned the sample per code —
            # measured ~40% of training); deterministic fixed-order
            # accumulation, so books stay reproducible per seed
            counts = np.bincount(assign, minlength=n_codes)
            sums = np.empty((n_codes, dsub))
            for d in range(dsub):
                sums[:, d] = np.bincount(
                    assign, weights=part[:, d], minlength=n_codes)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        books[sub] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "code",
    keep_cols: tuple = (),
    with_error: bool = False,
    centroids: np.ndarray | None = None,
    list_col: str | None = None,
    rotation: np.ndarray | None = None,
    residual: bool = True,
) -> DataFrame:
    """(``id_col``, *``keep_cols``, ``out_col``): each vector
    compressed to ``m`` uint8 codes packed into one BinaryType value
    (nearest codebook entry per subspace, Euclidean, on the
    unit-normalized vector). ONE narrow Arrow stage — no shuffle;
    identical vectors get identical codes (the planted-oracle
    invariant). At rest, write the code column next to the id and
    drop the float vectors: the 32× smaller frame is what the
    per-query-batch ADC scan reads. ``keep_cols`` passes extra
    columns through unchanged — e.g. the IVF ``list_id``, so the
    code table can be written partitioned/bucketed by list and
    :func:`ivf_pq_topk`'s probe filter prunes at the source.

    ``with_error=True`` appends ``pq_err`` — the squared L2 distance
    between the normalized vector and its reconstruction, from
    distances the encoder already computed (same single pass). This
    is the CODEBOOK-STALENESS signal: as the live distribution
    drifts away from the training sample, quantization error climbs
    and ADC ranking quality decays silently — monitor pq_err
    quantiles on fresh batches against the training-time baseline
    (``checks.tdigest_pair``) and retrain when they drift, the
    index-maintenance twin of ``checks.embedding_dim_drift_frame``
    (which watches the INPUT side).

    ``centroids`` switches to RESIDUAL encoding (pair with
    ``pq_train(centroids=...)``): each vector's residual from its
    coarse centroid is what gets coded. The list comes from
    ``list_col`` when given (the ``ivf_index`` assignment already on
    the frame — the stored index stays self-consistent) or is
    recomputed per batch with :func:`_assign_lists`' exact math.
    With ``centroids`` and no explicit ``list_col`` the output grows
    a ``list_id`` column so :func:`ivf_pq_topk` can prune.

    ``residual=False`` with ``centroids`` keeps the IVF list
    assignment (recomputed or read from ``list_col``) but codes the
    RAW normalized vector — byte-identical to encoding the
    ``ivf_index`` output with plain codebooks, minus one whole Arrow
    assignment stage (the coarse-pruned-but-not-residual IVFPQ
    layout).

    ``rotation`` (from :func:`opq_train`) rotates each normalized
    vector before coding — pass the SAME matrix to the search side.
    Rotation composes with neither ``centroids`` nor residuals here
    (OPQ-IVFADC couples the rotation with the coarse quantizer in
    ways this engine does not model — refused, not silently
    mis-encoded)."""
    m, n_codes, dsub = codebooks.shape
    books = np.ascontiguousarray(codebooks)
    rot = None
    if rotation is not None:
        if centroids is not None:
            raise ValueError(
                "rotation does not compose with centroids/residual "
                "encoding; use one or the other")
        rot = np.ascontiguousarray(rotation, dtype=np.float64)
        if rot.shape != (m * dsub, m * dsub):
            raise ValueError(
                f"rotation shape {rot.shape} does not match dim "
                f"{m * dsub}")
    cn = None
    if centroids is not None:
        cn = centroids / np.linalg.norm(centroids, axis=1,
                                        keepdims=True)
        if list_col is not None and list_col not in df.columns:
            raise ValueError(
                f"list_col {list_col!r} not in frame; encode the "
                f"ivf_index output or pass list_col=None to "
                f"recompute assignments")
    elif list_col is not None:
        raise ValueError("list_col requires centroids")
    keep = [c for c in keep_cols if c not in (id_col, vec_col)]
    use_list_col = list_col if cn is not None else None
    emit_list = cn is not None and list_col is None
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType, True)]
        + [T.StructField(c, df.schema[c].dataType, True) for c in keep]
        + ([T.StructField("list_id", T.IntegerType(), True)]
           if emit_list else [])
        + [T.StructField(out_col, T.BinaryType(), True)]
        + ([T.StructField("pq_err", T.DoubleType(), True)]
           if with_error else [])
    )
    extra = ([use_list_col] if use_list_col is not None
             and use_list_col not in keep else [])
    src = df.select(id_col, *keep, *extra, vec_col)

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        b2 = (books ** 2).sum(axis=2)  # (m, n_codes)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
            if rot is not None:
                mat = mat @ rot
            lists = None
            if cn is not None:
                if use_list_col is not None:
                    lists = pdf[use_list_col].to_numpy().astype(int)
                else:
                    lists = (mat @ cn.T).argmax(axis=1)
                if residual:
                    # residual from the coarse cell
                    mat = mat - cn[lists]
            codes = np.empty((len(mat), m), dtype=np.uint8)
            err = np.zeros(len(mat)) if with_error else None
            for sub in range(m):
                part = mat[:, sub * dsub:(sub + 1) * dsub]
                d2 = b2[sub] - 2.0 * part @ books[sub].T
                codes[:, sub] = d2.argmin(axis=1)
                if with_error:
                    # full ||x_sub - c||²: re-add the ||x_sub||² term
                    # the argmin could drop (constant per row), clip
                    # the float cancellation noise at 0
                    err += np.maximum(
                        d2.min(axis=1) + (part ** 2).sum(axis=1), 0.0)
            out = {id_col: pdf[id_col]}
            for c in keep:
                out[c] = pdf[c]
            if emit_list:
                out["list_id"] = lists.astype(np.int32)
            out[out_col] = [c.tobytes() for c in codes]
            if with_error:
                out["pq_err"] = err
            yield pd.DataFrame(out)

    return src.mapInPandas(work, schema=out_schema)


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    corpus: DataFrame | None = None,
    rescore_n: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    max_queries: int = 10_000,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation over PQ codes:
    per query, inner-product lookup tables against the codebooks
    (LUT[sub][code] = <q_sub, codebook[sub][code]>) turn scoring one
    compressed vector into ``m`` table lookups — the full scan reads
    only the 32×-smaller code column, never the floats.

    Shape: queries (≪ corpus, same contract as :func:`cosine_topk`)
    are collected once (size-GUARDED at ``max_queries``) to build the
    LUT tensor, which travels in the task closure; ONE narrow pass
    over ``codes`` keeps a per-partition top-``rescore_n`` per query
    (only partitions × queries × rescore_n rows ever shuffle); a
    window takes the global ADC top-``rescore_n``.

    With ``corpus`` given, those candidates are exact-cosine rescored
    (broadcast join — the candidate set is ≤ |queries|·rescore_n
    rows, bounded by the CALLER's query batch, not by the data, so
    the hint cannot OOM at crawl scale the way a data-dependent
    broadcast could) and the output matches :func:`cosine_topk`:
    (query_id, neighbor_id, rank, cosine). Without ``corpus`` the
    raw ADC ranking is returned as (query_id, neighbor_id, rank,
    adc). Self-matches excluded in both modes. ``rotation`` (OPQ)
    rotates queries before the LUT build — R is orthogonal, so
    <q·R, x·R> = <q, x> and ADC approximates the SAME inner product,
    just with less quantization error."""
    m, n_codes, dsub = codebooks.shape
    books = np.ascontiguousarray(codebooks)
    if rescore_n < k:
        raise ValueError("rescore_n must be >= k")
    q_rows = queries.select(id_col, vec_col) \
        .limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk builds one LUT per query driver-side and is "
            f"bounded at {max_queries} queries; got more. Use "
            f"pq_topk_distributed (executor-side LUTs, unbounded "
            f"query count) or raise max_queries explicitly.")
    if not q_rows:
        spark = codes.sparkSession
        empty = T.StructType([
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", codes.schema[id_col].dataType),
            T.StructField("rank", T.IntegerType()),
            T.StructField("cosine" if corpus is not None else "adc",
                          T.DoubleType()),
        ])
        return spark.createDataFrame([], empty)
    q_ids, lut = _query_luts(q_rows, codebooks,
                             id_col=id_col, vec_col=vec_col,
                             rotation=rotation)
    partial = _adc_partial_topn(
        codes, q_ids, lut, int(rescore_n),
        queries_schema=queries.schema,
        id_col=id_col, code_col=code_col)
    return _finish_topk(partial, int(rescore_n), k,
                        corpus=corpus, queries=queries,
                        id_col=id_col, vec_col=vec_col)


def _query_luts(q_rows, codebooks: np.ndarray, *,
                id_col: str, vec_col: str,
                rotation: np.ndarray | None = None):
    """ADC lookup tables: LUT[q, sub, code] = <q_sub, books[sub,
    code]> over the unit-normalized (optionally OPQ-rotated) query
    vectors."""
    m, n_codes, dsub = codebooks.shape
    q_ids = [r[id_col] for r in q_rows]
    q_mat = np.asarray([np.asarray(r[vec_col], dtype=np.float64)
                        for r in q_rows])
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True),
                        1e-12)
    if rotation is not None:
        q_mat = q_mat @ np.ascontiguousarray(rotation,
                                             dtype=np.float64)
    lut = np.einsum("qsd,scd->qsc",
                    q_mat.reshape(len(q_mat), m, dsub),
                    np.ascontiguousarray(codebooks))
    return q_ids, lut


def _adc_partial_topn(
    codes: DataFrame,
    q_ids: list,
    lut: np.ndarray,
    n_keep: int,
    *,
    queries_schema: T.StructType,
    id_col: str,
    code_col: str,
    list_col: str | None = None,
    probe_sets: list | None = None,
    bias: np.ndarray | None = None,
) -> DataFrame:
    """Per-partition ADC top-``n_keep`` per query over the code
    column — the only rows that ever shuffle (partitions × |queries|
    × n_keep). With ``list_col``/``probe_sets`` (aligned with
    ``q_ids``), each query scores ONLY rows in its probed IVF lists.
    ``bias`` (|queries| × n_lists, aligned with ``q_ids``) adds the
    residual-IVFADC correction: score = <q, centroid[list]> +
    Σ LUT[sub, code] when the codes quantize residuals."""
    if bias is not None and list_col is None:
        raise ValueError("bias requires list_col")
    m = lut.shape[1]
    # scoring matrix cell budget: queries chunk so that
    # chunk × partition_rows stays ~32 MB of float64 — vectorizes
    # ACROSS queries (the 10k-query serving batch would otherwise pay
    # per-query Python overhead) while bounding task memory at scale
    cell_budget = 4_000_000

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        acc: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            codes_mat = np.frombuffer(
                b"".join(pdf[code_col]), dtype=np.uint8
            ).reshape(len(pdf), m)
            nids = pdf[id_col].to_numpy()
            lists = (pdf[list_col].to_numpy()
                     if list_col is not None else None)
            # queries sharing a probe set score the same row subset —
            # group them so each group scores as one vectorized chunk
            if probe_sets is not None:
                groups: dict = {}
                for qi in range(len(q_ids)):
                    groups.setdefault(
                        frozenset(probe_sets[qi]), []).append(qi)
                group_items = list(groups.items())
            else:
                group_items = [(None, np.arange(len(q_ids)))]
            q_arr = np.asarray(q_ids)
            frames = []
            for pset, qis in group_items:
                if pset is not None:
                    mask = np.isin(lists, np.fromiter(pset, int))
                    if not mask.any():
                        continue
                    sub_codes, sub_nids = codes_mat[mask], nids[mask]
                    sub_lists = lists[mask].astype(int)
                else:
                    sub_codes, sub_nids = codes_mat, nids
                    sub_lists = None
                n = len(sub_codes)
                take = min(n_keep, n)
                qis = np.asarray(qis)
                step = max(1, cell_budget // max(n, 1))
                for st in range(0, len(qis), step):
                    qchunk = qis[st:st + step]
                    # float64 accumulation in the same order as the
                    # scalar path (bias, then subspaces 0..m-1) —
                    # bitwise-identical scores
                    s = np.zeros((len(qchunk), n))
                    if bias is not None:
                        s += bias[qchunk][:, sub_lists]
                    for sub in range(m):
                        s += lut[qchunk, sub][:, sub_codes[:, sub]]
                    top = np.argpartition(-s, take - 1,
                                          axis=1)[:, :take]
                    frames.append(pd.DataFrame({
                        "query_id": np.repeat(q_arr[qchunk], take),
                        "neighbor_id": sub_nids[top].ravel(),
                        "adc": np.take_along_axis(
                            s, top, axis=1).ravel(),
                    }))
            if not frames:
                continue
            batch = pd.concat(frames, ignore_index=True)
            batch = batch[batch["neighbor_id"] != batch["query_id"]]
            acc.append(batch)
        if not acc:
            return
        all_rows = pd.concat(acc, ignore_index=True)
        # per-partition prune BEFORE the shuffle: deterministic
        # (adc desc, neighbor_id asc) head per query
        all_rows = all_rows.sort_values(
            ["query_id", "adc", "neighbor_id"],
            ascending=[True, False, True])
        yield all_rows.groupby("query_id", sort=False) \
            .head(n_keep).reset_index(drop=True)

    part_schema = T.StructType([
        T.StructField("query_id", queries_schema[id_col].dataType,
                      True),
        T.StructField("neighbor_id", codes.schema[id_col].dataType,
                      True),
        T.StructField("adc", T.DoubleType(), True),
    ])
    cols = [id_col, code_col] + ([list_col] if list_col else [])
    return codes.select(*cols).mapInPandas(work, schema=part_schema)


def _finish_topk(
    partial: DataFrame,
    n_keep: int,
    k: int,
    *,
    corpus: DataFrame | None,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Global ADC top-``n_keep`` window, then (with ``corpus``) the
    exact-cosine rescore of the caller-bounded candidate set."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc())
    cand = (
        partial.withColumn("rank", F.row_number().over(w_adc))
        .where(F.col("rank") <= n_keep)
    )
    if corpus is None:
        return cand.where(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank",
            F.round(F.col("adc"), 6).alias("adc"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"))
    rescored = (
        c.join(F.broadcast(cand.select("query_id", "neighbor_id")),
               on="neighbor_id")
        .join(F.broadcast(q), on="query_id")
        .withColumn("cosine", F.expr(_cosine_expr("cvec", "qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("cosine"), 6).alias("cosine"))
    )


def ivf_pq_topk(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 4,
    corpus: DataFrame | None = None,
    rescore_n: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    list_col: str = "list_id",
    max_queries: int = 10_000,
    residual: bool = False,
) -> DataFrame:
    """IVF × PQ — the full trillion-scale composition (FAISS's
    IVFADC, Jégou et al. 2011): the coarse quantizer prunes the scan
    to each query's ``nprobe`` inverted lists, and within those lists
    only the 32×-smaller PQ codes are read and ADC-scored.

    ``codes`` is the corpus encoded with BOTH structures:
    ``pq_encode(assigned, books, keep_cols=("list_id",))`` over the
    frame :func:`ivf_index` returns — write it partitioned/bucketed
    by ``list_id`` at rest and the probe filter prunes at the source.
    Probe lists are computed with the SAME normalized-matmul +
    stable-argsort math as :func:`_assign_lists`, so an identical
    twin's list is always the query's first probe and (with
    ``corpus`` rescoring) top-1 is provably the twin — the planted
    contract-oracle invariant, inherited from both parents.

    Output matches :func:`pq_topk`: (query_id, neighbor_id, rank,
    cosine) with ``corpus``, else the raw ADC ranking.

    ``residual=True`` reads codes produced by the residual encoder
    (``pq_train(centroids=...)`` + ``pq_encode(centroids=...)``):
    ADC becomes <q, centroid[list]> + Σ LUT[sub, code] — the bias
    matrix is the SAME q·centroidᵀ product the probe selection
    already computes, so residual scoring costs one extra gather per
    row, and the finer residual quantization buys measurably better
    recall at the same bits (BENCH §34)."""
    if rescore_n < k:
        raise ValueError("rescore_n must be >= k")
    nprobe = max(1, min(int(nprobe), len(centroids)))
    q_rows = queries.select(id_col, vec_col) \
        .limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_topk builds one LUT per query driver-side and "
            f"is bounded at {max_queries} queries; got more. Use "
            f"ivf_pq_topk_distributed (executor-side LUTs, unbounded "
            f"query count) or raise max_queries explicitly.")
    if not q_rows:
        spark = codes.sparkSession
        empty = T.StructType([
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", codes.schema[id_col].dataType),
            T.StructField("rank", T.IntegerType()),
            T.StructField("cosine" if corpus is not None else "adc",
                          T.DoubleType()),
        ])
        return spark.createDataFrame([], empty)
    q_ids, lut = _query_luts(q_rows, codebooks,
                             id_col=id_col, vec_col=vec_col)
    # probe lists driver-side with _assign_lists' exact math
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q_mat = np.asarray([np.asarray(r[vec_col], dtype=np.float64)
                        for r in q_rows])
    norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (q_mat / norms) @ cn.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    probe_sets = [set(int(j) for j in row) for row in order]
    partial = _adc_partial_topn(
        codes, q_ids, lut, int(rescore_n),
        queries_schema=queries.schema,
        id_col=id_col, code_col=code_col,
        list_col=list_col, probe_sets=probe_sets,
        bias=sims if residual else None)
    return _finish_topk(partial, int(rescore_n), k,
                        corpus=corpus, queries=queries,
                        id_col=id_col, vec_col=vec_col)


def build_query_luts(
    queries: DataFrame,
    codebooks: np.ndarray,
    *,
    centroids: np.ndarray | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ADC lookup tables built EXECUTOR-side: one Arrow stage over
    the query frame (codebooks + centroids travel in the closure —
    a few hundred KB), emitting per query row:

    - ``lut``: the (m × n_codes) float64 LUT as bytes
      (LUT[sub][code] = <q_sub, codebook[sub][code]>, unit-normalized
      query — byte-for-byte the driver path's :func:`_query_luts`)
    - ``probes``: the ``nprobe`` IVF lists (``centroids`` given),
      same stable-argsort math as :func:`_assign_lists`
    - ``bias``: the full q·centroidᵀ row as bytes (``centroids``
      given) — the residual-ADC correction terms

    This is the scale half of :func:`pq_topk_distributed`: the query
    VECTORS never leave the executors; the driver only ever ferries
    bounded blocks of these fixed-size derived rows (round-4 verdict
    #2)."""
    m, n_codes, dsub = codebooks.shape
    books = np.ascontiguousarray(codebooks)
    rot = (np.ascontiguousarray(rotation, dtype=np.float64)
           if rotation is not None else None)
    cn = None
    n_probe = 0
    if centroids is not None:
        if rot is not None:
            raise ValueError(
                "rotation does not compose with centroids")
        cn = centroids / np.linalg.norm(centroids, axis=1,
                                        keepdims=True)
        n_probe = max(1, min(int(nprobe), len(centroids)))
    out_schema = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType,
                      True),
        T.StructField("lut", T.BinaryType(), True),
        T.StructField("probes", T.ArrayType(T.IntegerType()), True),
        T.StructField("bias", T.BinaryType(), True),
    ])
    src = queries.select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("qvec"))

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            if not len(pdf):
                continue
            q_mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["qvec"]])
            # LUT normalization: EXACT _query_luts arithmetic
            q_lut = q_mat / np.maximum(
                np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
            if rot is not None:
                q_lut = q_lut @ rot
            lut = np.einsum("qsd,scd->qsc",
                            q_lut.reshape(len(q_mat), m, dsub), books)
            out = {
                "query_id": pdf["query_id"],
                "lut": [x.tobytes() for x in lut],
            }
            if cn is not None:
                # probe/bias normalization: EXACT ivf_pq_topk driver
                # arithmetic (zero-norm guard differs from the LUT's)
                norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                sims = (q_mat / norms) @ cn.T
                order = np.argsort(-sims, axis=1,
                                   kind="stable")[:, :n_probe]
                out["probes"] = [[int(j) for j in row] for row in order]
                out["bias"] = [s.tobytes() for s in sims]
            else:
                out["probes"] = [None] * len(pdf)
                out["bias"] = [None] * len(pdf)
            yield pd.DataFrame(out)

    return src.mapInPandas(work, schema=out_schema)


def _empty_topk_frame(codes: DataFrame, queries: DataFrame,
                      corpus: DataFrame | None, id_col: str) -> DataFrame:
    spark = codes.sparkSession
    empty = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType),
        T.StructField("neighbor_id", codes.schema[id_col].dataType),
        T.StructField("rank", T.IntegerType()),
        T.StructField("cosine" if corpus is not None else "adc",
                      T.DoubleType()),
    ])
    return spark.createDataFrame([], empty)


def _topk_distributed(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    *,
    centroids: np.ndarray | None,
    nprobe: int,
    corpus: DataFrame | None,
    rescore_n: int,
    queries_per_block: int,
    residual: bool,
    id_col: str,
    vec_col: str,
    code_col: str,
    list_col: str | None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Shared engine for :func:`pq_topk_distributed` /
    :func:`ivf_pq_topk_distributed` — the UNBOUNDED-query ADC path.

    The query frame is never collected: LUTs/probes/bias are built
    executor-side (:func:`build_query_luts`), split into
    deterministic md5-free hash blocks (``pmod(xxhash64(query_id),
    B)``), and the driver ferries ONE block of fixed-size LUT rows at
    a time (≤ ``queries_per_block`` × ~(m·n_codes·8 + n_lists·8)
    bytes — the blocks bound driver memory no matter how many million
    queries arrive). Each block scans the 32×-compressed code column
    once with the per-partition top-R prune; results are eagerly
    localCheckpoint'ed so block closures free before the next block
    runs, then unioned. Total cost: ceil(|Q|/block) scans of the code
    frame — the rescan-per-query-batch contract the PQ design is
    built around (see :func:`pq_train`)."""
    import math

    m, n_codes, _ = codebooks.shape
    if rescore_n < k:
        raise ValueError("rescore_n must be >= k")
    if residual and centroids is None:
        raise ValueError("residual=True requires centroids")
    if queries_per_block < 1:
        raise ValueError("queries_per_block must be >= 1")
    from ..functions.ckpt import checkpoint_tracked, free_checkpoint

    # build + materialize the LUT frame ONCE (one pass over the query
    # frame); the per-block filters below read the checkpointed
    # blocks instead of re-running the crossJoin/einsum per block,
    # and counting the materialized frame replaces a separate
    # queries.count() scan
    luts, lut_blocks = checkpoint_tracked(
        build_query_luts(queries, codebooks, centroids=centroids,
                         nprobe=nprobe, id_col=id_col,
                         vec_col=vec_col, rotation=rotation))
    spark = codes.sparkSession
    code_blocks: frozenset[int] = frozenset()
    try:
        n_q = luts.count()
        if n_q == 0:
            return _empty_topk_frame(codes, queries, corpus, id_col)
        n_blocks = max(1, math.ceil(n_q / int(queries_per_block)))
        if n_blocks > 1:
            # every block scans the code frame once; when codes are
            # DERIVED (the bench builds them from pq_encode in the
            # same plan) each block would re-run the whole encode
            # stage. Materialize once (MEMORY_AND_DISK — the column
            # is the 32×-compressed one, and it spills rather than
            # recomputes) and free the blocks after the per-block
            # results are eagerly checkpointed. Single-block calls
            # skip the copy: one scan either way.
            codes, code_blocks = checkpoint_tracked(codes)
        return _topk_block_loop(
            codes, codebooks, queries, k, luts=luts,
            n_blocks=n_blocks, centroids=centroids, corpus=corpus,
            rescore_n=rescore_n, residual=residual, id_col=id_col,
            vec_col=vec_col, code_col=code_col, list_col=list_col)
    finally:
        free_checkpoint(spark, lut_blocks)
        free_checkpoint(spark, code_blocks)


def _topk_block_loop(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    *,
    luts: DataFrame,
    n_blocks: int,
    centroids: np.ndarray | None,
    corpus: DataFrame | None,
    rescore_n: int,
    residual: bool,
    id_col: str,
    vec_col: str,
    code_col: str,
    list_col: str | None,
) -> DataFrame:
    m, n_codes, _ = codebooks.shape
    qb = F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_blocks))

    def run_block(b: int) -> DataFrame | None:
        rows = luts.where(qb == b).collect()
        if not rows:
            return None
        q_ids = [r["query_id"] for r in rows]
        lut = np.stack([
            np.frombuffer(r["lut"], dtype=np.float64)
            .reshape(m, n_codes) for r in rows
        ])
        probe_sets = None
        bias = None
        if centroids is not None:
            probe_sets = [set(r["probes"]) for r in rows]
            if residual:
                bias = np.stack([
                    np.frombuffer(r["bias"], dtype=np.float64)
                    for r in rows
                ])
        partial = _adc_partial_topn(
            codes, q_ids, lut, int(rescore_n),
            queries_schema=queries.schema,
            id_col=id_col, code_col=code_col,
            list_col=list_col if centroids is not None else None,
            probe_sets=probe_sets, bias=bias)
        q_block = queries.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)) == b)
        res = _finish_topk(partial, int(rescore_n), k,
                           corpus=corpus, queries=q_block,
                           id_col=id_col, vec_col=vec_col)
        # eager checkpoint: materializes this block's small top-k and
        # releases the block's LUT closure before the block returns
        return res.localCheckpoint(eager=True)

    # blocks are independent jobs over disjoint query slices — run a
    # few in flight so one block's straggler tail back-fills with the
    # next block's tasks (guide §2.6). 3 concurrent blocks bound
    # driver memory at 3 LUT closures (~queries_per_block × m·n_codes
    # doubles each); Spark's scheduler is thread-safe and FIFO, which
    # is exactly the back-fill behaviour wanted here.
    from concurrent.futures import ThreadPoolExecutor

    if n_blocks == 1:
        results = [r for r in (run_block(0),) if r is not None]
    else:
        with ThreadPoolExecutor(
                max_workers=min(3, n_blocks)) as pool:
            results = [
                r for r in pool.map(run_block, range(n_blocks))
                if r is not None
            ]
    if not results:
        return _empty_topk_frame(codes, queries, corpus, id_col)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def pq_topk_distributed(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    corpus: DataFrame | None = None,
    rescore_n: int = 32,
    queries_per_block: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """:func:`pq_topk` without the driver-LUT query bound — the
    100 TB SERVING path (round-4 verdict task #1): LUTs are built
    executor-side over the query DataFrame (the query vectors never
    reach the driver), queries process in deterministic hash blocks
    of ``queries_per_block``, and each block is one rescan of the
    compressed code column with the same per-partition top-R prune
    and exact-cosine rescore. Output and semantics are identical to
    :func:`pq_topk` (pinned in tests); only the query-side plumbing
    scales."""
    return _topk_distributed(
        codes, codebooks, queries, k,
        centroids=None, nprobe=0, corpus=corpus,
        rescore_n=rescore_n, queries_per_block=queries_per_block,
        residual=False, id_col=id_col, vec_col=vec_col,
        code_col=code_col, list_col=None, rotation=rotation)


def ivf_pq_topk_distributed(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 4,
    corpus: DataFrame | None = None,
    rescore_n: int = 32,
    queries_per_block: int = 10_000,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    list_col: str = "list_id",
) -> DataFrame:
    """:func:`ivf_pq_topk` without the driver-LUT query bound: probe
    lists, LUTs, and (with ``residual=True``) centroid-bias rows are
    all computed executor-side in one Arrow stage over the query
    frame; the driver ferries bounded LUT blocks only. Same planted
    invariants as the driver-path parent (identical twin's list is
    probe[0]; nprobe=n_lists equals plain PQ)."""
    return _topk_distributed(
        codes, codebooks, queries, k,
        centroids=centroids, nprobe=nprobe, corpus=corpus,
        rescore_n=rescore_n, queries_per_block=queries_per_block,
        residual=residual, id_col=id_col, vec_col=vec_col,
        code_col=code_col, list_col=list_col)


def embedding_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_vec_col: str = "embedding",
    max_eval_rows: int = 20_000,
) -> DataFrame:
    """Eval-set decontamination by embedding cosine — the semantic
    member of the decontamination trio (text: 13-gram
    ``text.ngram_contamination``; image: perceptual-hash
    ``dedup.image_decontamination``). Every ``train`` row gains
    ``contaminated`` (true when some ``eval_df`` vector has cosine ≥
    ``threshold`` with it), ``n_eval_matches`` (how many — 0 when
    clean) and ``max_cosine`` (closest match rounded to 6 decimals;
    NULL when clean). Rows whose vector is NULL or zero-norm cannot
    match anything and come back clean — the same contract as a
    null-text document emitting no grams.

    EXACT by construction (complete brute force against the eval
    side), which is the point of a decontamination gate: the eval
    set is small by definition, so it is size-guarded
    (``max_eval_rows``, enforced with ``limit(n+1)`` inside the same
    job as the bounded collect) and carried to every executor as one
    normalized float64 matrix; the train side is scanned ONCE in a
    narrow Arrow stage doing a single BLAS matmul per batch
    (interpreted ``zip_with`` folds per pair would be ~100× slower
    and CodegenFallback). Only the contaminated rows (a vanishing
    fraction — eval sets are tiny and leaks rare) leave the stage,
    then one AQE-planned left join pins the verdict back onto
    ``train``. Nothing data-proportional is broadcast or collected.

    Reference analogue: cerberus-cpp has no vectors (SURVEY §2.2) —
    this extends the validation family the same way the phash and
    n-gram checks do, with the per-row verdict contract of
    `validator.hh`'s document-level pass/fail."""
    clash = {"contaminated", "n_eval_matches", "max_cosine"} \
        & set(train.columns)
    if clash:
        raise ValueError(
            f"embedding_decontamination: train already has verdict "
            f"column(s) {sorted(clash)} — rename or drop them first")
    if not -1.0 <= threshold <= 1.0:
        raise ValueError("threshold must be a cosine in [-1, 1]")
    spark = train.sparkSession
    ev_rows = eval_df.select(eval_vec_col).where(
        F.col(eval_vec_col).isNotNull()
    ).limit(max_eval_rows + 1).collect()
    if len(ev_rows) > max_eval_rows:
        raise ValueError(
            f"embedding_decontamination is exact against the eval set "
            f"and bounds it at {max_eval_rows} rows; got more. That is "
            f"not an eval set — raise max_eval_rows explicitly if "
            f"intended.")
    verdictless = train.withColumn(
        "contaminated", F.lit(False)
    ).withColumn("n_eval_matches", F.lit(0)) \
     .withColumn("max_cosine", F.lit(None).cast("double"))
    if not ev_rows:
        return verdictless
    emat = np.asarray(
        [np.asarray(r[eval_vec_col], dtype=np.float64)
         for r in ev_rows])
    enorm = np.linalg.norm(emat, axis=1)
    keep = enorm > 0
    if not keep.any():
        return verdictless
    eunit = emat[keep] / enorm[keep][:, None]
    bc = spark.sparkContext.broadcast(eunit)
    id_dtype = train.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_dtype, True),
        T.StructField("n_eval_matches", T.LongType(), True),
        T.StructField("max_cosine", T.DoubleType(), True),
    ])
    src = train.select(id_col, vec_col)
    dim = eunit.shape[1]
    thr = float(threshold)

    pkg_parent = PKG_PARENT

    def work(batches):
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        ev = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = [None if v is None else
                    np.asarray(v, dtype=np.float64)
                    for v in pdf[vec_col]]
            ok = [i for i, v in enumerate(vecs)
                  if v is not None and v.shape == (dim,)]
            bad = [i for i, v in enumerate(vecs)
                   if v is not None and v.shape != (dim,)]
            if bad:
                raise ValueError(
                    f"embedding_decontamination: train vector width "
                    f"{vecs[bad[0]].shape} != eval dim {dim} at "
                    f"{id_col}={pdf[id_col].iloc[bad[0]]!r}")
            if not ok:
                continue
            mat = np.stack([vecs[i] for i in ok])
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat / norms[:, None]) @ ev.T  # (batch, |eval|)
            hits = sims >= thr
            n = hits.sum(axis=1)
            rows = np.nonzero(n > 0)[0]
            if not len(rows):
                continue
            yield pd.DataFrame({
                id_col: pdf[id_col].iloc[[ok[i] for i in rows]],
                "n_eval_matches": n[rows].astype(np.int64),
                "max_cosine": np.round(
                    np.where(hits[rows], sims[rows],
                             -np.inf).max(axis=1), 6),
            })

    hits = src.mapInPandas(work, schema=out_schema)
    return (
        train.join(hits, on=id_col, how="left")
        .withColumn("contaminated",
                    F.col("n_eval_matches").isNotNull())
        .withColumn("n_eval_matches",
                    F.coalesce(F.col("n_eval_matches"), F.lit(0)))
    )
