"""Deduplication operators for training-data pipelines.

Four families, all shuffle-planned for scale:

- **exact**: md5-fingerprint ``groupBy`` — one hash agg (map-side
  partials), violation rows via an AQE-planned join back (broadcast
  only when the dup-group set is measured small at runtime).
- **MinHash + LSH**: shingle explode → per-doc min over k universal
  hashes (partial agg before shuffle; shuffle payload = |docs| × k
  ints, never the shingles) → ONE self-join over posexploded
  (band, bkey) rows → exact-Jaccard verification of candidates only.
- **n-gram Jaccard (complete)**: shared-shingle blocking join — finds
  EVERY pair with Jaccard > 0 (no approximation); quadratic only
  within a shared shingle, so ``max_shingle_freq`` drops
  degenerate stop-shingles (logged, not silent).
- **SimHash**: frequency-weighted 16-bit signature from token
  hashes; one explode + one agg.

Hashes default to the portable rolling hash (``text.ROLL_MOD``) so
every pipeline here has a bit-identical DuckDB oracle; pass
``hash_fn="fast"`` for xxhash64 at scale (no oracle needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ckpt import checkpoint_tracked, free_checkpoint
from .partitioning import fanout_gate
from .text import fingerprint_md5, rolling_hash_sql, shingles

MERSENNE31 = 2_147_483_647
MINHASH_K = 16
LSH_BAND_ROWS = 2  # 16 hashes → 8 bands of 2: catches J≳0.5 pairs

# fixed odd universal-hash parameters (a*h + b mod 2^31-1); literals
# so the DuckDB oracle can embed the identical table
MINHASH_A = (
    593689054, 1062549677, 1853107633, 480581012, 1136308597,
    1653588986, 1043632705, 76438563, 1201719408, 1546491999,
    371712761, 1817020993, 650361690, 197555539, 1737772498,
    986213883,
)
MINHASH_B = (
    1755659915, 1335584453, 541207897, 1469548876, 118723850,
    409871999, 1172944105, 81010072, 1684544009, 793117242,
    577591413, 1784585823, 74753517, 1967345055, 467846326,
    1178495393,
)


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate groups by normalized-text fingerprint:
    (fingerprint, cnt, keep_id) — keep_id = min id (the canonical
    survivor for a dedup pass)."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.min(id_col).alias("keep_id"))
        .where(F.col("cnt") > 1)
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, hash_fn: str = "portable", fanout: bool = True,
) -> DataFrame:
    """(id, sh) — one row per DISTINCT shingle hash per doc. The
    explode is the fan-out stage; everything downstream works on
    integer hashes only.

    ``hash_fn``: "portable" (rolling hash, bit-identical in DuckDB —
    the oracle-checked contract path) or "fast" (xxhash64 masked to
    non-negative 61 bits, whole-stage codegen — ~7x cheaper per
    shingle, measured; use at scale when no cross-engine oracle is
    needed; minhash/LSH math downstream is hash-agnostic)."""
    # fan out before the explode when the source is parallelism-
    # starved — shared policy + eager-probe caveat documented in
    # partitioning.fanout_gate (callers passing a frame with upstream
    # joins must set fanout=False; near_duplicates does for its
    # candidate side)
    if fanout:
        df = fanout_gate(df, id_col)
    ex = df.select(F.col(id_col), F.explode(shingles(text_col, k))
                   .alias("shingle"))
    if hash_fn == "fast":
        sh = F.expr(
            "xxhash64(shingle) & 2305843009213693951L"
        )
    else:
        sh = F.expr(rolling_hash_sql("shingle"))
    # NB: shingles() already emits DISTINCT shingle strings per doc;
    # a further .distinct() here (hash-space dedup) costs a full
    # shuffle of the exploded rows (~55M at 1M docs) to guard a
    # ~1e-6-probability within-doc hash collision. We keep the rare
    # collision double-count instead — the DuckDB oracle counts the
    # same way, so cross-engine results stay identical.
    return ex.select(F.col(id_col), sh.alias("sh"))


def signatures_from_shingles(
    sh: DataFrame, id_col: str = "doc_id",
    num_hashes: int = MINHASH_K,
) -> DataFrame:
    """MinHash signatures from an existing (id, sh) shingle frame —
    lets pipelines that also need the shingles for verification
    (``near_duplicates``) pay the shingle-hash fold ONCE."""
    # reduce into 31-bit space BEFORE the affine transform: the fast
    # hash is 61-bit and sh * a_j would overflow int64 (ANSI error);
    # a no-op for the portable hash (already < 2^31)
    reduced = F.pmod(F.col("sh"), F.lit(MERSENNE31))
    aggs = [
        F.min(
            F.pmod(
                reduced * F.lit(MINHASH_A[j]) + F.lit(MINHASH_B[j]),
                F.lit(MERSENNE31),
            )
        ).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = MINHASH_K, hash_fn: str = "portable",
) -> DataFrame:
    """(id, mh_0..mh_{K-1}): min over the doc's shingle hashes of
    ``(a_j * sh + b_j) mod (2^31-1)``. One explode + one hash agg;
    partial min runs map-side so the shuffle carries K ints per doc.
    Docs with no shingles (< k tokens) are absent."""
    sh = doc_shingles(df, id_col, text_col, k, hash_fn)
    return signatures_from_shingles(sh, id_col, num_hashes)


def _banded_keys(
    signatures: DataFrame, id_col: str, band_rows: int
) -> DataFrame:
    """(id, band, bkey): ONE row per (doc, band) via posexplode — all
    bands live in a single relation, so candidate generation is ONE
    self-join shuffled on (band, bkey) instead of n_bands separate
    joins (the naive per-band loop produced a ~1000-Exchange plan)."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh_")]
    n_bands = len(mh_cols) // band_rows
    keys = [
        F.concat_ws(
            ":", *[F.col(c)
                   for c in mh_cols[b * band_rows:(b + 1) * band_rows]]
        )
        for b in range(n_bands)
    ]
    return signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*keys)).alias("band", "bkey"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    band_rows: int = LSH_BAND_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one
    LSH band. Single self-equi-join on (band, bkey); AQE handles
    residual bucket skew. ``max_bucket`` drops pathological buckets
    with every candidate pair they hold; ``None`` keeps them all."""
    banded = _banded_keys(signatures, id_col, band_rows)
    if max_bucket is not None:
        # anti-join against the OVERSIZED set (tiny by construction —
        # only pathological buckets exceed the cap), never the kept
        # set: broadcasting kept buckets would ship ~|docs|·n_bands
        # rows and OOM the driver at 1e9-doc scale
        oversized = (
            banded.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .where(F.col("bsz") > max_bucket)
            .select("band", "bkey")
        )
        banded = banded.join(
            F.broadcast(oversized), on=["band", "bkey"], how="left_anti",
        )
    a = banded.alias("a")
    c = banded.alias("c")
    return (
        a.join(c, on=["band", "bkey"])
        .where(F.col(f"a.{id_col}") < F.col(f"c.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"c.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, min_jaccard: float = 0.0,
    max_shingle_freq: int | None = None, hash_fn: str = "portable",
) -> DataFrame:
    """COMPLETE n-gram Jaccard join: every doc pair sharing ≥ 1
    shingle, with exact ``jaccard = |∩| / |∪|``. Blocking key = the
    shingle hash itself, so the join explodes only within shared
    shingles. ``max_shingle_freq`` excludes shingles appearing in
    more than N docs from PAIR GENERATION (a stop-shingle guard; the
    Jaccard denominator still counts them exactly)."""
    # localCheckpoint, not .cache(): plain cache still embeds the full
    # lineage in every referencing plan (same policy as near_duplicates;
    # also avoids leaking storage memory across repeated calls)
    sh = doc_shingles(df, id_col, text_col, k, hash_fn) \
        .localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    pair_src = sh
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_freq)
            .select("sh")
        )
        pair_src = sh.join(freq_ok, on="sh", how="left_semi")
    a = pair_src.alias("a")
    b = pair_src.alias("b")
    inter = (
        a.join(b, on="sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, on="id_a").join(sb, on="id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )
    if min_jaccard > 0.0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def _candidate_docs(
    df: DataFrame, cand_ids: DataFrame, id_col: str,
    broadcast_candidates: bool,
) -> DataFrame:
    """Semi-join the raw doc table down to LSH candidate ids.

    No forced broadcast on cand_ids by default: at LLM-training dup
    rates the candidate-id set can be tens of millions of ids
    (hundreds of MB), and a hard ``F.broadcast`` bypasses
    ``autoBroadcastJoinThreshold``. AQE sees the ACTUAL size of the
    (checkpointed) candidate stage at runtime and picks
    broadcast-semi when it is genuinely small; when it is not, a
    shuffled semi-join is the plan that finishes.
    ``broadcast_candidates=True`` is the explicit escape hatch
    (mirrors ``checks.referential_violations(broadcast_dim=)``)."""
    if broadcast_candidates:
        cand_ids = F.broadcast(cand_ids)
    return df.join(cand_ids, on=id_col, how="left_semi")


def near_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.7,
    max_bucket: int | None = 10_000, hash_fn: str = "portable",
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Scale path: MinHash-LSH candidates, then exact-Jaccard verify
    of candidates ONLY (semi-join the shingle table down to candidate
    ids before the verification join)."""
    # localCheckpoint (lazy) on the reused SMALL intermediates only:
    # `cands` feeds three downstream plans — without persistence
    # Spark re-runs the whole candidate DAG per reference (measured
    # 170s vs 2s at 500 docs), and plain .cache() still EMBEDS the
    # full lineage in every referencing plan; checkpoint truncates
    # it. The 50x-fan-out shingle frame is deliberately NOT
    # materialized: the fused explode→hash→partial-min pipeline
    # computes signatures in 76s at 1M docs where checkpointing the
    # 52M-row shingle frame alone took 237s (BENCH.md §11) — and the
    # verify side never needs most of it anyway.
    sigs = minhash_signatures(df, id_col, text_col, k,
                              hash_fn=hash_fn) \
        .localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(
        sigs, id_col, max_bucket=max_bucket
    ).localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # recompute shingles ONLY for candidate docs: semi-join the RAW
    # doc table down (typically a few % of docs) BEFORE the explode,
    # so the verify side's fold runs over a tiny fraction of the
    # corpus instead of re-exploding (or materializing) all of it
    docs_c = _candidate_docs(df, cand_ids, id_col,
                             broadcast_candidates)
    # fanout=False: the partition probe would eagerly run the whole
    # candidate DAG embedded in docs_c's plan; the candidate set is a
    # few % of docs, so fan-out buys nothing here anyway
    sh_c = doc_shingles(docs_c, id_col, text_col, k, hash_fn,
                        fanout=False) \
        .localCheckpoint(eager=False)
    sizes = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh_c.alias("a")
    b = sh_c.alias("b")
    inter = (
        a.join(b, on="sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    verified = (
        inter.join(cands, on=["id_a", "id_b"], how="left_semi")
        .join(sizes.select(F.col(id_col).alias("id_a"),
                           F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("sz").alias("sz_b")), on="id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


SIMHASH_BITS = 16


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    fanout: bool = True,
) -> DataFrame:
    """(id, simhash): 16-bit frequency-weighted SimHash over token
    rolling-hashes. bit_b(sig) = 1 iff sum over token occurrences of
    ±1 (by bit b of the token hash) is positive. One explode + one
    agg; portable arithmetic only. ``fanout`` applies the shared
    split-starvation gate (raw scans only — see fanout_gate)."""
    from .text import TOKEN_RE

    if fanout:
        df = fanout_gate(df, id_col)
    tok = df.select(
        F.col(id_col),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}),"
                   f" '{TOKEN_RE}', 0)")
        ).alias("tok"),
    ).select(
        F.col(id_col), F.expr(rolling_hash_sql("tok")).alias("th")
    )
    bit_sums = [
        F.sum(
            F.when((F.col("th").bitwiseAND(F.lit(1 << b))) > 0, 1)
            .otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(0)
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def _hamming_widths(n_blocks: int, block_bits: int | None) -> list[int]:
    """Per-block bit widths covering all 64 bits as evenly as
    possible (explicit ``block_bits`` pins a uniform width)."""
    if block_bits is not None:
        return [block_bits] * n_blocks
    base, extra = divmod(64, n_blocks)
    return [base + (1 if b < extra else 0) for b in range(n_blocks)]


def _hamming_blocked(
    df: DataFrame, hash_col: str, id_col: str,
    n_blocks: int, block_bits: int | None, combo: int = 1,
) -> DataFrame:
    """(id, hash, block, bkey): one row per (row, block-combination)
    via posexplode — all combination tables in a single relation so
    candidate generation is ONE self-join shuffled on (block, bkey),
    mirroring ``_banded_keys``. ``shiftrightunsigned`` keeps block
    extraction correct for negative int64 hashes (bit 63 set).

    ``combo`` is the number of blocks concatenated into each key
    (Manku/Jain/Das Sarma's multi-table design): with m blocks and
    distance ≤ k, at least m−k blocks are untouched, so every
    c-combination table with c ≤ m−k recalls every qualifying pair
    — and a c-block key is c× wider, shrinking bucket sizes (hence
    the quadratic in-bucket cost) by 2^((c−1)·width) at the price of
    C(m, c) exploded rows per input row instead of m."""
    from itertools import combinations

    widths = _hamming_widths(n_blocks, block_bits)
    offsets = [sum(widths[:b]) for b in range(n_blocks)]
    blocks = [
        F.shiftrightunsigned(F.col(hash_col), offsets[b])
        .bitwiseAND(F.lit((1 << widths[b]) - 1))
        for b in range(n_blocks)
    ]
    keys = []
    for comb in combinations(range(n_blocks), combo):
        key = None
        for b in comb:
            part = blocks[b]
            key = part if key is None else \
                F.shiftleft(key, widths[b]) + part
        keys.append(key)
    return df.select(
        F.col(id_col), F.col(hash_col),
        F.posexplode(F.array(*keys)).alias("block", "bkey"),
    )


def hamming_near_pairs(
    df: DataFrame, hash_col: str, *, id_col: str = "doc_id",
    max_hamming: int = 3, n_blocks: int = 4,
    block_bits: int | None = 16, combo: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """All pairs within Hamming distance ``max_hamming`` on an
    integer hash column (e.g. the input_hint's 64-bit ``phash``) —
    multi-index blocking (Manku/Jain/Das Sarma, WWW'07 §3): split
    the hash into ``n_blocks`` disjoint bit blocks; any pair with
    ≤ ``max_hamming`` differing bits agrees EXACTLY on ≥ 1 block by
    the pigeonhole whenever ``n_blocks > max_hamming``, so an
    equi-join per block finds every qualifying pair, then one
    ``bit_count(xor)`` pass verifies candidates. Returns
    (id_a, id_b, hamming), complete — no LSH-style recall loss.

    Scale notes: one shuffle for the self-join on (block, bkey) —
    all combination tables live in a single posexploded relation,
    not separate joins — and the Hamming verify runs INSIDE the join
    projection so failing candidates die in whole-stage codegen
    without ever being shuffled (the ``distinct`` sees only
    qualifying triples; this took 10M rows from a >10-minute timeout
    to 8s, BENCH §28). The asymptotic knob is ``combo`` (blocks per
    key, Manku et al. WWW'07 §3.1.1): candidate volume is
    ~C(m,c)·N²/2^(c·width). Single-block 16-bit keys (the default)
    mean ~4·N²/65536 in-join compares — measured fine through 10M
    rows, quadratically doomed by ~10^9 — while c=3 over m=6 blocks
    (20 tables, ~32-bit keys) shrinks buckets by ~2^21 for a 5×
    wider shuffle: slower at local scales, the only viable shape at
    crawl scale. Residual hot buckets (low-entropy hash regions —
    all-dark thumbnails: measured 75% of rows in ONE bucket → one
    straggler task owning billions of compares) are capped with
    ``max_bucket`` (a dropped bucket loses every pair whose only
    agreeing block it was — the same contract as the MinHash LSH
    path); AQE skew-join splits the rest.
    """
    if combo < 1 or max_hamming > n_blocks - combo:
        raise ValueError(
            f"completeness needs max_hamming ≤ n_blocks - combo "
            f"(pigeonhole): got distance {max_hamming} with "
            f"{n_blocks} blocks, {combo}-block keys")
    if block_bits is not None and n_blocks * block_bits > 64:
        raise ValueError("n_blocks * block_bits must be ≤ 64")
    banded = _hamming_blocked(df, hash_col, id_col, n_blocks,
                              block_bits, combo)
    if max_bucket is not None:
        oversized = (
            banded.groupBy("block", "bkey")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .where(F.col("bsz") > max_bucket)
            .select("block", "bkey")
        )
        # anti-join against the OVERSIZED set only (tiny by
        # construction), same rationale as lsh_candidate_pairs
        banded = banded.join(
            F.broadcast(oversized), on=["block", "bkey"],
            how="left_anti",
        )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    # verify INSIDE the join projection, BEFORE the distinct: real
    # corpora reject most candidates here, so the dedup shuffle
    # carries only qualifying (id_a, id_b, hamming) triples instead
    # of every candidate with both 8-byte signatures
    return (
        a.join(b, on=["block", "bkey"])
        .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & (hamming <= F.lit(max_hamming)))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .distinct()
    )


def cross_lsh_candidate_pairs(
    left_sigs: DataFrame, right_sigs: DataFrame, *,
    left_id: str = "doc_id", right_id: str = "doc_id",
    band_rows: int = LSH_BAND_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (left, right) candidate pairs sharing ≥ 1 LSH band
    ACROSS two signature frames — the cross-frame twin of
    :func:`lsh_candidate_pairs`, for INCREMENTAL dedup (today's crawl
    against the standing corpus) where re-banding the whole corpus
    against itself would redo yesterday's work. No ``<`` ordering, no
    self-exclusion: the namespaces are independent. Same single
    equi-join shape on (band, bkey); ``max_bucket`` caps each side's
    buckets independently (anti-join against the tiny oversized
    set)."""
    sides = []
    for sigs, id_col in ((left_sigs, left_id), (right_sigs, right_id)):
        banded = _banded_keys(sigs, id_col, band_rows)
        if max_bucket is not None:
            oversized = (
                banded.groupBy("band", "bkey")
                .agg(F.count(F.lit(1)).alias("bsz"))
                .where(F.col("bsz") > max_bucket)
                .select("band", "bkey")
            )
            banded = banded.join(
                F.broadcast(oversized), on=["band", "bkey"],
                how="left_anti",
            )
        sides.append(banded)
    a = sides[0].alias("a")
    b = sides[1].alias("b")
    return (
        a.join(b, on=["band", "bkey"])
        .select(F.col(f"a.{left_id}").alias("id_a"),
                F.col(f"b.{right_id}").alias("id_b"))
        .distinct()
    )


def incremental_near_duplicates(
    corpus: DataFrame, new_docs: DataFrame, *,
    id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.7,
    max_bucket: int | None = 10_000, hash_fn: str = "portable",
    corpus_signatures: DataFrame | None = None,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Near-dup pairs of a NEW increment against the STANDING corpus
    — (id_a from corpus, id_b from new, jaccard ≥ threshold). The
    daily-ingest op at 100 TB: the corpus side's MinHash signatures
    are computed once and stored (pass them via
    ``corpus_signatures`` — |corpus| × 16 ints, ~1000× smaller than
    the text), so each increment pays signatures for ITSELF plus one
    banded cross-join, never a corpus×corpus pass. Verification
    recomputes shingles only for candidate docs on each side
    (semi-join before the explode), exactly like
    :func:`near_duplicates`.

    A doc present on both sides pairs with itself at jaccard 1.0 —
    that IS the signal (the increment re-crawled a known page); no
    self-exclusion applies across namespaces."""
    sigs_c = corpus_signatures
    if sigs_c is None:
        sigs_c = minhash_signatures(corpus, id_col, text_col, k,
                                    hash_fn=hash_fn) \
            .localCheckpoint(eager=False)
    sigs_n = minhash_signatures(new_docs, id_col, text_col, k,
                                hash_fn=hash_fn) \
        .localCheckpoint(eager=False)
    cands = cross_lsh_candidate_pairs(
        sigs_c, sigs_n, left_id=id_col, right_id=id_col,
        max_bucket=max_bucket,
    ).localCheckpoint(eager=False)
    ids_a = cands.select(F.col("id_a").alias(id_col)).distinct()
    ids_b = cands.select(F.col("id_b").alias(id_col)).distinct()
    docs_a = _candidate_docs(corpus, ids_a, id_col,
                             broadcast_candidates)
    docs_b = _candidate_docs(new_docs, ids_b, id_col,
                             broadcast_candidates)
    sh_a = doc_shingles(docs_a, id_col, text_col, k, hash_fn,
                        fanout=False).localCheckpoint(eager=False)
    sh_b = doc_shingles(docs_b, id_col, text_col, k, hash_fn,
                        fanout=False).localCheckpoint(eager=False)
    sizes_a = sh_a.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sizes_b = sh_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh_a.alias("a")
    b = sh_b.alias("b")
    inter = (
        a.join(b, on="sh")
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(cands, on=["id_a", "id_b"], how="left_semi")
        .join(sizes_a.select(F.col(id_col).alias("id_a"),
                             F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes_b.select(F.col(id_col).alias("id_b"),
                             F.col("sz").alias("sz_b")), on="id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_hamming_pairs(
    left: DataFrame, right: DataFrame, hash_col: str, *,
    left_id: str = "doc_id", right_id: str = "doc_id",
    max_hamming: int = 3, n_blocks: int = 4,
    block_bits: int | None = 16, combo: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """All (left, right) pairs within Hamming distance ``max_hamming``
    on an integer hash column ACROSS two frames — the cross-frame twin
    of :func:`hamming_near_pairs` (same Manku/Jain/Das Sarma WWW'07
    multi-index blocking, same pigeonhole completeness: with
    ``n_blocks − combo ≥ max_hamming`` every qualifying pair agrees
    exactly on ≥ 1 block key, so one equi-join recalls it and one
    ``bit_count(xor)`` verifies). Returns (id_a, id_b, hamming) with
    id_a from ``left``, id_b from ``right`` — the namespaces are
    independent, so no ``<`` ordering and no self-pair exclusion.

    This is the EVAL-SET DECONTAMINATION join for images (the phash
    analogue of ``text.ngram_contamination``): left = the training
    corpus, right = the eval set; see :func:`image_decontamination`
    for the per-row verdict wrapper. Scale shape is the self-join's:
    both sides posexplode to one banded relation each, ONE equi-join
    shuffled on (block, bkey), the Hamming verify dies in codegen
    before the distinct shuffles anything. ``max_bucket`` caps each
    side's buckets independently (anti-join against the tiny oversized
    set; a dropped bucket loses only pairs whose sole agreeing block
    was that bucket, same documented contract as the self-join)."""
    if combo < 1 or max_hamming > n_blocks - combo:
        raise ValueError(
            f"completeness needs max_hamming ≤ n_blocks - combo "
            f"(pigeonhole): got distance {max_hamming} with "
            f"{n_blocks} blocks, {combo}-block keys")
    if block_bits is not None and n_blocks * block_bits > 64:
        raise ValueError("n_blocks * block_bits must be ≤ 64")
    sides = []
    for df, id_col in ((left, left_id), (right, right_id)):
        banded = _hamming_blocked(df, hash_col, id_col, n_blocks,
                                  block_bits, combo)
        if max_bucket is not None:
            oversized = (
                banded.groupBy("block", "bkey")
                .agg(F.count(F.lit(1)).alias("bsz"))
                .where(F.col("bsz") > max_bucket)
                .select("block", "bkey")
            )
            banded = banded.join(
                F.broadcast(oversized), on=["block", "bkey"],
                how="left_anti",
            )
        sides.append(banded)
    a = sides[0].alias("a")
    b = sides[1].alias("b")
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    return (
        a.join(b, on=["block", "bkey"])
        .where(hamming <= F.lit(max_hamming))
        .select(F.col(f"a.{left_id}").alias("id_a"),
                F.col(f"b.{right_id}").alias("id_b"),
                hamming.alias("hamming"))
        .distinct()
    )


def image_decontamination(
    train: DataFrame, eval_set: DataFrame, hash_col: str = "phash", *,
    train_id: str = "image_id", eval_id: str = "image_id",
    max_hamming: int = 3, n_blocks: int = 4,
    block_bits: int | None = 16, combo: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Per-training-row eval-set contamination verdict by perceptual
    hash: every ``train`` row gains ``contaminated`` (true when some
    ``eval_set`` row sits within Hamming ``max_hamming`` on
    ``hash_col``), ``n_eval_matches`` (how many — 0 when clean) and
    ``min_hamming`` (closest match; NULL when clean). The image twin
    of the 13-gram text decontamination (``text.ngram_contamination``)
    — a training pipeline drops or quarantines the flagged rows
    before sampling, exactly like eval-leaked documents.

    Scale: the pair join is :func:`cross_hamming_pairs` (complete
    pigeonhole blocking, verify-in-join); the per-train aggregate
    reduces pairs to ≤ |contaminated| rows BEFORE the verdict join
    back onto ``train``, so AQE broadcasts it whenever contamination
    is rare (the realistic regime — eval sets are tiny next to the
    corpus). Nothing is ever driver-collected."""
    clash = {"contaminated", "n_eval_matches", "min_hamming"} \
        & set(train.columns)
    if clash:
        raise ValueError(
            f"image_decontamination: train already has verdict "
            f"column(s) {sorted(clash)} — rename or drop them first")
    pairs = cross_hamming_pairs(
        train.select(train_id, hash_col), eval_set, hash_col,
        left_id=train_id, right_id=eval_id, max_hamming=max_hamming,
        n_blocks=n_blocks, block_bits=block_bits, combo=combo,
        max_bucket=max_bucket)
    hits = (
        pairs.groupBy(F.col("id_a").alias(train_id))
        .agg(F.count(F.lit(1)).alias("n_eval_matches"),
             F.min("hamming").alias("min_hamming"))
    )
    return (
        train.join(hits, on=train_id, how="left")
        .withColumn("contaminated", F.col("n_eval_matches").isNotNull())
        .withColumn("n_eval_matches",
                    F.coalesce(F.col("n_eval_matches"), F.lit(0)))
    )


def _cc_local(sym: DataFrame) -> DataFrame:
    """Finish connected components in-process from a size-guarded
    collect of the symmetric edge list: union-find, then label every
    node with its component's minimum id — exactly the fixpoint the
    min-label-propagation loop converges to. Returns the (id, label)
    frame from ONE driver slice (tiny-frame ``parallelize``)."""
    spark = sym.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in sym.collect():
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label: dict = {}
    for n in parent:
        root = find(n)
        if root not in label or n < label[root]:
            label[root] = n
    schema = T.StructType([
        T.StructField("id", sym.schema["a"].dataType, True),
        T.StructField("label", sym.schema["a"].dataType, True),
    ])
    rows = [(n, label[find(n)]) for n in parent]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def near_duplicate_clusters(
    pairs: DataFrame,
    *,
    max_iter: int = 25,
    local_finish_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup PAIRS → survivor selection:
    ``(doc_id, cluster_id, keep_id)``, one row per document that
    participates in at least one pair. ``cluster_id`` = the minimum
    doc id of the component; ``keep_id`` = the canonical survivor
    (same min-id policy as ``exact_duplicates``' keep_id), so a
    training pipeline drops every row with ``doc_id != keep_id``.

    Algorithm: iterative min-label propagation PLUS pointer jumping
    (label ← label of label) each round, which squares the reach per
    iteration — convergence in O(log diameter) rounds instead of
    O(diameter). Near-dup graphs are small-diameter by construction
    (clusters are variants of one source doc), so this terminates in
    a handful of rounds; a non-converged run RAISES rather than
    returning partial components.

    Scale shape: the symmetric edge list is checkpointed once; each
    round is one edges⋈labels shuffle (by vertex id), one min-agg,
    and one labels self-join — all partitioned on the id, no
    broadcast of anything proportional to |docs|. Per-round
    ``localCheckpoint(eager=True)`` truncates the iterative lineage
    (plain .cache() would embed every prior round in each new plan),
    and the PREVIOUS round's checkpoint blocks are explicitly freed
    once the new round is materialized (``functions/ckpt.py`` —
    ``DataFrame.unpersist`` cannot release checkpoint blocks, so
    without this the loop leaks O(rounds) |V|-sized materializations
    in executor block storage). The edge-list checkpoint is freed on
    exit; only the final labels frame stays resident.

    Reference analogue: cerberus-cpp has no graph scope; this extends
    ``exact_duplicates``' keep_id semantics (operators/dedup.py) to
    transitive near-duplicate chains a-b-c per the round-2 verdict.
    """
    edges = pairs.select(F.col("id_a").alias("a"),
                         F.col("id_b").alias("b")).where(
        # defensive: NULL endpoints would silently vanish from joins
        # mid-iteration (null-keyed rows never match) and self-loops
        # only add work — neither occurs from our pair generators,
        # but callers can feed arbitrary frames
        F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
        & (F.col("id_a") != F.col("id_b"))
    )
    spark = pairs.sparkSession
    sym, sym_blocks = checkpoint_tracked(
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ),
        eager=False,
    )
    # convergence tails of the propagation loop are chains of tiny
    # driver-job rounds; once the symmetric edge list fits the
    # bounded-driver guard (2M rows ≈ 32 MB of ids — the ADC block
    # ferry discipline), union-find finishes the identical min-label
    # fixpoint in-process. The count doubles as the materializer of
    # the edge checkpoint the distributed loop needs anyway. Set
    # local_finish_edges=0 to force every round distributed.
    if local_finish_edges > 0 \
            and sym.count() <= int(local_finish_edges):
        labels = _cc_local(sym)
        free_checkpoint(spark, sym_blocks)
        return labels.select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.col("label").alias("keep_id"),
        )
    labels, label_blocks = checkpoint_tracked(
        sym.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
    )
    for _ in range(max_iter):
        neigh = sym.join(
            labels.select(F.col("id").alias("a"), "label"), on="a"
        ).select(F.col("b").alias("id"), "label")
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: follow the label one more hop (labels ARE
        # vertex ids, so label(label) exists whenever label != id)
        hop = new_labels.select(F.col("id").alias("label"),
                                F.col("label").alias("label2"))
        jumped, jumped_blocks = checkpoint_tracked(
            new_labels.join(hop, on="label", how="left")
            .select(
                "id",
                F.least(F.col("label"),
                        F.coalesce(F.col("label2"), F.col("label")))
                .alias("label"),
            )
        )
        changed = (
            jumped.join(
                labels.select("id", F.col("label").alias("old")),
                on="id")
            .where(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        # the changed-check above was the last reader of the PREVIOUS
        # round's labels — release its checkpoint blocks now (ADVICE
        # r3: the loop otherwise leaks O(rounds) |V|-sized
        # materializations for the life of the session)
        free_checkpoint(spark, label_blocks)
        labels, label_blocks = jumped, jumped_blocks
        if changed == 0:
            break
    else:
        free_checkpoint(spark, sym_blocks)
        raise ValueError(
            f"connected components did not converge in {max_iter} "
            "rounds — raise max_iter (diameter > 2^max_iter is "
            "implausible for near-dup graphs; check the pair input)")
    # edge list no longer referenced: the result plan is just the
    # final labels checkpoint (which must stay resident for callers)
    free_checkpoint(spark, sym_blocks)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.col("label").alias("keep_id"),
    )


# ---------------------------------------------------------------
# Edit-distance similarity self-join (FastSS deletion-neighborhood
# blocking — Bocek et al. 2007, public). The near-dup family's
# CHARACTER-grain member: MinHash answers shingle-set overlap,
# SimHash answers Hamming proximity of fingerprints; this answers
# "which short strings (titles, captions, names) are within k
# edits", with EXACT recall and EXACT precision — recall because an
# optimal alignment with i insertions, d deletions, s substitutions
# (i+d+s <= k) yields a common variant after deleting the d+s
# mismatched chars from one side (<= k deletions) and the i+s from
# the other (<= k deletions), precision because candidates pass a
# final levenshtein filter. Reference analogue: the uniqueness
# checks (SURVEY §2.3) relaxed from exact keys to bounded edits.
# ---------------------------------------------------------------


def _delete_one(s: Column, p: Column) -> Column:
    """The string ``s`` with its ``p``-th character deleted
    (1-based); ``p = 0`` returns ``s`` unchanged. Pure codegen."""
    return F.when(p == 0, s).otherwise(
        F.concat(s.substr(F.lit(1), p - F.lit(1)),
                 s.substr(p + F.lit(1), F.length(s))))


def _edit_pairs_dedup_first(base: DataFrame, k: int) -> DataFrame:
    """Uncapped FastSS pair join, identity-groups-first.

    ``base`` = (id, s), NULL/overlong already excluded. Distance-0
    pairs are exactly the within-identity-group pairs (one equi-join
    on the string — enumeration IS the output); distance >= 1 pairs
    are found by running the deletion-neighborhood machinery over
    one REPRESENTATIVE per distinct string and expanding each
    surviving rep pair through both groups (disjoint groups, so each
    unordered id pair appears exactly once; ``least``/``greatest``
    restores the id_a < id_b contract). levenshtein runs once per
    DISTINCT-string candidate pair, not once per id pair."""
    reps = base.groupBy("s").agg(F.min("id").alias("id"))
    v1 = (
        reps.select(
            "id", "s",
            F.explode(F.sequence(F.lit(0), F.length("s"))).alias("p"))
        .select("id", _delete_one(F.col("s"), F.col("p")).alias("v"),
                "p")
    )
    if k == 2:
        v1 = (
            v1.select(
                "id", "v",
                F.explode(F.sequence(F.lit(0), F.length("v")))
                .alias("p"))
            .select("id",
                    _delete_one(F.col("v"), F.col("p")).alias("v"))
        )
        var = v1.select("id", F.xxhash64("v").alias("h")).distinct()
        pos_ok = F.lit(True)
    else:
        # k=1 position certificate (FastSS, Bocek 2007 §3): reps are
        # pairwise-distinct strings, so a shared variant certifies
        # distance 1 only when one side deleted nothing (pure
        # deletion) or both deleted the SAME position (substitution
        # there); different interior positions certify distance 2.
        var = v1.select("id", F.xxhash64("v").alias("h"), "p") \
            .distinct()
        pos_ok = (
            (F.col("a.p") == F.col("b.p")) | (F.col("a.p") == 0)
            | (F.col("b.p") == 0)
        )
    a, b = var.alias("a"), var.alias("b")
    cand = (
        a.join(b, "h")
        .where((F.col("a.id") < F.col("b.id")) & pos_ok)
        .select(F.col("a.id").alias("ra"),
                F.col("b.id").alias("rb"))
        .distinct()
    )
    lev = F.levenshtein("sa", "sb", int(k))
    dpairs = (
        cand
        .join(reps.select(F.col("id").alias("ra"),
                          F.col("s").alias("sa")), "ra")
        .join(reps.select(F.col("id").alias("rb"),
                          F.col("s").alias("sb")), "rb")
        .where(
            (F.abs(F.length("sa") - F.length("sb")) <= F.lit(int(k)))
            & (lev >= F.lit(0)))
        .select("sa", "sb", lev.cast("int").alias("dist"))
    )
    ba = base.select(F.col("id").alias("ia"), F.col("s").alias("sa"))
    bb = base.select(F.col("id").alias("ib"), F.col("s").alias("sb"))
    cross = (
        dpairs.join(ba, "sa").join(bb, "sb")
        .select(F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"), "dist")
    )
    eq = (
        ba.join(base.select(F.col("id").alias("ib"),
                            F.col("s").alias("sa")), "sa")
        .where(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                F.lit(0).cast("int").alias("dist"))
    )
    return eq.unionByName(cross)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 1,
    max_len: int = 512,
    max_bucket: int | None = None,
) -> DataFrame:
    """All unordered pairs with ``levenshtein(a, b) <= k``:
    ``(id_a, id_b, dist)`` with ``id_a < id_b``. ``k`` in {1, 2}
    (the deletion neighborhood is O(len^k) variants per string —
    exactly the regimes where edit-distance dedup is used). NULL
    text and strings longer than ``max_len`` are excluded (the
    variant fan-out budget; raise it deliberately).

    Shape, at 100 TB: the default (uncapped) path DEDUPES FIRST —
    FastSS runs over the DISTINCT strings only, then pairs expand
    back through the identity groups, so total enumeration is
    O(output) + O(distinct-string candidates) instead of paying the
    full identity-group quadratic once per shared variant bucket
    (measured 10.4s → 1.6s on the part-name corpus, where ~200-way
    repeated names made every variant bucket re-enumerate the same
    group pairs ~11×). Variants ship as xxhash64 int64 keys only (a
    hash collision can only ADD a candidate, which the final filter
    kills); candidate pairs are DISTINCT'd before strings re-join,
    so the expensive levenshtein runs once per DISTINCT-string
    candidate pair. ``max_bucket`` optionally drops
    hotter-than-designed variant buckets (recall loss, surfaced by
    the cap — same contract as the LSH family); its bucket sizes
    are defined over per-document variant rows, so setting it takes
    the original per-id path; the default keeps recall exact.
    """
    if k not in (1, 2):
        raise ValueError("k must be 1 or 2 (deletion-neighborhood "
                         "blocking is O(len^k) variants per string)")
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    s = F.col(text_col)
    base = (
        df.where(s.isNotNull() & (F.length(s) <= max_len))
        .select(F.col(id_col).alias("id"), s.alias("s"))
    )
    if max_bucket is None:
        return _edit_pairs_dedup_first(base, k)
    v1 = (
        base.select(
            "id", "s",
            F.explode(F.sequence(F.lit(0), F.length("s"))).alias("p"))
        .select("id", _delete_one(F.col("s"), F.col("p")).alias("v"),
                "p")
    )
    if k == 2:
        v1 = (
            v1.select(
                "id", "v",
                F.explode(F.sequence(F.lit(0), F.length("v")))
                .alias("p"))
            .select("id",
                    _delete_one(F.col("v"), F.col("p")).alias("v"))
        )
        var = v1.select("id", F.xxhash64("v").alias("h")).distinct()
    else:
        # k=1 keeps the DELETION POSITION with each variant: two
        # strings are within one edit iff some shared variant has a
        # position-compatible certificate — equal strings (0, 0), a
        # single deletion (0, p) / (p, 0), or a substitution at the
        # SAME position (p, p). Deleting different interior positions
        # only certifies distance 2 (FastSS, Bocek 2007 §3) — without
        # this filter the candidate join fans out to every
        # distance<=2-shaped pair (measured 4.66M candidates for a
        # 45k-pair answer on the part-name corpus, 100x the output).
        var = v1.select("id", F.xxhash64("v").alias("h"), "p") \
            .distinct()
    if max_bucket is not None:
        # bucket size = distinct (id, variant) pairs, position-blind:
        # the cap's semantics must not depend on k's blocking layout
        hot = (var.select("id", "h").distinct()
               .groupBy("h").agg(F.count(F.lit(1)).alias("bsz"))
               .where(F.col("bsz") > max_bucket).select("h"))
        var = var.join(hot, "h", "left_anti")
    a, b = var.alias("a"), var.alias("b")
    pos_ok = (
        (F.col("a.p") == F.col("b.p")) | (F.col("a.p") == 0)
        | (F.col("b.p") == 0)
    ) if k == 1 else F.lit(True)
    cand = (
        a.join(b, "h")
        .where((F.col("a.id") < F.col("b.id")) & pos_ok)
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    sb = base.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    # levenshtein appears twice (filter + projection): the "compute
    # once, alias, then filter the alias" rewrite is undone by
    # Catalyst — PushDownPredicates substitutes the alias and
    # re-creates this exact Filter+Project pair, and whole-stage
    # codegen emits two call sites either way (verified on 4.1);
    # an agg/window barrier would shuffle, which costs more than
    # the recompute. Both sites use the THRESHOLD variant, whose
    # banded DP is O(len*k) and early-exits at k+1 instead of
    # filling the full O(len^2) matrix — it returns -1 above the
    # threshold, so `>= 0` is the within-k filter and the surviving
    # values equal the true distance.
    lev = F.levenshtein("sa", "sb", int(k))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .where(
            (F.abs(F.length("sa") - F.length("sb")) <= F.lit(int(k)))
            & (lev >= F.lit(0)))
        .select("id_a", "id_b", lev.cast("int").alias("dist"))
    )
