"""Text-analysis operators for training-data pipelines.

All hot-path computation is JVM-side column expressions (regexp,
array ops) — no Python in the row path. Formulas are deliberately
portable: every function here has an exact ANSI-SQL twin runnable by
DuckDB (the driver's oracle), which pins cross-engine determinism.

Portability rules used throughout:
- tokenization = ``regexp_extract_all(lower(text), '[a-z0-9]+')``
- hashes = either md5 hex (both engines bit-identical) or the
  Karp-Rabin rolling hash below with modulus 10^9+7 (accumulator
  stays < 2^37, so identical 64-bit integer arithmetic everywhere)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.shipping import PKG_PARENT

TOKEN_RE = "[a-z0-9]+"
ROLL_MOD = 1_000_000_007
ROLL_BASE = 131

# tiny per-language stopword sets for the n-gram/stopword language
# heuristic (deterministic, oracle-replicable; not a real lang-id)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "no"),
}


def tokens(col: str) -> Column:
    """Lower-cased alnum tokens; JVM regexp, codegen-friendly."""
    return F.expr(
        f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)"
    )


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).alias("n_tokens")


#: GPT-2-style pre-tokenizer shape (the brief's "BPE-ish regex"):
#: common contractions, space-prefixed letter runs, digit runs, and
#: punctuation runs. The upstream pattern's trailing lookahead
#: (`\s+(?!\S)`) is dropped — RE2 (DuckDB) has no lookahead, and
#: whitespace runs fall out naturally as unmatched gaps — so the SAME
#: pattern string runs on Java regex and RE2 with identical output
#: (cross-engine parity pinned in tests on contractions, Unicode
#: letters, digit runs, and punctuation clusters).
BPE_ISH_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
)


def bpe_ish_tokens(col: str = "text") -> Column:
    """BPE-ish pre-tokens (may carry one leading space, like GPT-2
    byte-pair merges see them). JVM regexp — codegen-friendly, no
    Python. The Column API is used because the pattern's apostrophe
    cannot live inside an `expr()` SQL literal."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_token_count(col: str = "text") -> Column:
    """LLM-ish token count: a far better cost/length proxy for
    training-data budgeting than whitespace words (punctuation and
    contractions count, long words still count once per run)."""
    return F.size(bpe_ish_tokens(col)).alias("n_bpe_tokens")


def _feature_map(col: str) -> dict[str, Column]:
    stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    n_tok = F.size(tokens(col))
    alnum_chars = F.length(
        F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9]", "")
    )
    n_chars = F.length(F.col(col))
    n_stop = F.expr(
        f"size(filter(regexp_extract_all(lower({col}), '{TOKEN_RE}', 0),"
        f" t -> t IN ({stops})))"
    )
    return {
        "n_tokens": n_tok,
        "mean_token_len": F.when(
            n_tok > 0, alnum_chars.cast("double") / n_tok
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, n_stop.cast("double") / n_tok
        ).otherwise(F.lit(0.0)),
        "symbol_ratio": F.when(
            n_chars > 0,
            (n_chars - alnum_chars
             - F.length(F.regexp_replace(F.col(col), "[^ ]", "")))
            .cast("double") / n_chars,
        ).otherwise(F.lit(0.0)),
    }


def quality_features(col: str = "text") -> list[Column]:
    """Deterministic quality signals: token count, mean token length,
    stopword ratio (English set), non-alnum-ratio. All exact integer/
    double arithmetic — the DuckDB twin produces identical bits."""
    return [c.alias(name) for name, c in _feature_map(col).items()]


def quality_score(col: str = "text") -> Column:
    """Single [0,1] score: penalize too-short docs, reward stopword
    presence, penalize symbol soup. Fixed affine combination so the
    oracle twin is one expression."""
    f = _feature_map(col)
    len_term = F.least(f["n_tokens"].cast("double") / F.lit(32.0),
                       F.lit(1.0))
    return (
        F.lit(0.4) * len_term
        + F.lit(0.4) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(f["symbol_ratio"] * 5,
                                             F.lit(1.0)))
    ).alias("quality_score")


def lang_guess(col: str = "text") -> Column:
    """argmax over the per-language stopword counts with first-wins
    tie-break; 'und' when all counts are zero."""
    langs = list(LANG_STOPWORDS)
    expr = F.lit("und")
    best = F.lit(0)
    # build right-to-left so earlier languages win ties
    for lang in reversed(langs):
        stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score = F.expr(
            f"size(filter(regexp_extract_all(lower({col}),"
            f" '{TOKEN_RE}', 0), t -> t IN ({stops})))"
        )
        expr = F.when(score >= F.greatest(best, F.lit(1)), F.lit(lang)) \
            .otherwise(expr)
        best = F.greatest(best, score)
    return expr.alias("lang_guess")


def fingerprint_md5(col: str = "text") -> Column:
    """Whitespace-normalized md5 fingerprint (exact-dup key); md5 hex
    is bit-identical across engines."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(col)), "\\s+", " "))
    return F.md5(norm).alias("fingerprint")


def rolling_fingerprint(col: str = "text") -> Column:
    """Karp-Rabin rolling hash over the normalized character stream,
    mod 10^9+7 (portable 64-bit arithmetic; accumulator < 2^37)."""
    return F.expr(
        f"aggregate(transform(split(trim(regexp_replace(lower({col}),"
        " '\\\\s+', ' ')), ''),"
        " c -> ascii(c)),"
        f" 0L, (acc, x) -> pmod(acc * {ROLL_BASE} + x, {ROLL_MOD}L))"
    ).alias("rolling_fp")


def shingles(col: str = "text", k: int = 3) -> Column:
    """Word k-gram shingles (distinct), the unit set for Jaccard/
    MinHash. Empty array when the doc has < k tokens."""
    # NB: Spark's sequence(1, n) DESCENDS when n < 1 (sequence(1,0) =
    # [1,0]) — docs shorter than k tokens must short-circuit to []
    toks = f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)"
    return F.expr(
        f"IF(size({toks}) < {k}, array(),"
        f" array_distinct(transform("
        f" sequence(1, size({toks}) - {k - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {k})))))"
    ).alias("shingles")


def rolling_hash_sql(expr: str) -> str:
    """Spark-SQL text of the portable rolling hash — reused by the
    dedup operators and (with tiny syntax tweaks) the DuckDB oracle."""
    return (
        f"aggregate(transform(split({expr}, ''), c -> ascii(c)),"
        f" 0L, (acc, x) -> pmod(acc * {ROLL_BASE} + x, {ROLL_MOD}L))"
    )


def text_profile(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", fanout: bool = True) -> DataFrame:
    """One narrow pass: id + all quality features + token count +
    language guess + md5 fingerprint.

    The HOF ``filter`` folds here are CodegenFallback, so on a
    split-starved local input the whole pass ran on one core; the
    shared ``fanout_gate`` (raw scans only — see its caveat) restores
    full parallelism without adding a shuffle at real scale."""
    if fanout:
        from .partitioning import fanout_gate

        df = fanout_gate(df, id_col)
    return df.select(
        F.col(id_col),
        *quality_features(text_col),
        quality_score(text_col),
        lang_guess(text_col),
        fingerprint_md5(text_col),
    )


# PII patterns for training-data hygiene. Deliberately LOOKAHEAD-FREE
# and fixed-shape (no alternation whose leftmost-first vs
# leftmost-longest semantics could diverge): the identical pattern
# string must produce the identical match set on Java regex (Spark)
# and RE2 (DuckDB), the same cross-engine contract BPE_ISH_PATTERN
# established. Order matters and is FIXED: email first (it contains
# digit runs a later pattern could nibble), then ipv4, ssn, phone.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    # separator-shaped phone (US-style): fixed groups, no ambiguity
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    *,
    kinds: tuple = ("email", "ipv4", "ssn", "phone"),
    token: str = "[PII-{kind}]",
    count: bool = True,
) -> DataFrame:
    """Scrub PII from a text column before training: sequential
    ``regexp_replace`` per kind (JVM-side, whole-stage codegen — a
    narrow projection, no Python, no shuffle), replacing each match
    with ``token`` (``{kind}`` interpolated). With ``count=True``
    a ``n_pii_<kind>`` column records how many matches each row had
    BEFORE redaction (``regexp_count`` on the original text — audit
    trail + filter predicate: ``where("n_pii_email > 0")``).

    Pattern order is fixed (email → ipv4 → ssn → phone) and counting
    happens against the ORIGINAL text for every kind, so counts are
    order-independent; replacement is sequential, so a byte can only
    be redacted once. Patterns are lookahead-free fixed-shape Java/
    RE2-portable — the contract oracle replays the IDENTICAL strings
    through DuckDB and compares the redacted text by hash."""
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds: {unknown}; "
                         f"available: {sorted(PII_PATTERNS)}")
    out = F.col(text_col)
    for k in kinds:
        out = F.regexp_replace(
            out, PII_PATTERNS[k], token.format(kind=k))
    cols = [c for c in df.columns if c != text_col]
    proj = [*cols, out.alias(text_col)]
    if count:
        proj += [
            F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k]))
            .alias(f"n_pii_{k}")
            for k in kinds
        ]
    return df.select(*proj)


def repetition_features(
    col: str = "text",
    *,
    max_lines: int = 10_000,
) -> list[Column]:
    """Gopher-style repetition signals — the "repetition removal"
    quality family (Rae et al. 2021, public) next to
    :func:`quality_features`: boilerplate-heavy and
    template-generated crawl pages repeat whole lines/paragraphs,
    which length or stopword ratios never see.

    - ``n_lines``: non-empty trimmed lines (capped at ``max_lines``
      — the cap bounds the O(distinct × lines) top-share fold on
      pathological documents; pick it above your P100 line count)
    - ``dup_line_ratio``: 1 − distinct/total over lines (0 when ≤1)
    - ``top_line_share``: the most frequent line's share of lines
    - ``dup_para_ratio``: same dedup ratio over ``\\n{2,}``-split
      paragraphs

    All JVM array expressions (split/trim/filter/array_distinct +
    one aggregate fold) — no Python, no shuffle; the HOF lambdas are
    CodegenFallback (documented tradeoff, same as the reference's
    per-element rules) but stay a narrow projection. The identical
    construction replays in DuckDB list functions for the oracle."""
    lines = (f"slice(filter(transform(split({col}, '\\n'),"
             f" x -> trim(x)), x -> x != ''), 1, {int(max_lines)})")
    paras = (f"filter(transform(split({col}, '\\n{{2,}}'),"
             f" x -> trim(x)), x -> x != '')")
    n_l = f"size({lines})"
    n_p = f"size({paras})"
    dup = ("CASE WHEN {n} > 0 THEN (cast({n} - size(array_distinct("
           "{a})) as double)) / cast({n} as double) ELSE 0.0D END")
    top = (f"CASE WHEN {n_l} > 0 THEN cast(aggregate("
           f"array_distinct({lines}), 0, (a, x) -> greatest(a, "
           f"size(filter({lines}, y -> y = x)))) as double)"
           f" / cast({n_l} as double) ELSE 0.0D END")
    return [
        F.expr(n_l).alias("n_lines"),
        F.expr(dup.format(n=n_l, a=lines)).alias("dup_line_ratio"),
        F.expr(top).alias("top_line_share"),
        F.expr(dup.format(n=n_p, a=paras)).alias("dup_para_ratio"),
    ]


def chunk_documents(
    df: DataFrame,
    *,
    chunk_chars: int = 2048,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split every document into fixed-width character windows — the
    standard pre-tokenization chunking step of a training pipeline
    (long documents become multiple training rows; ``stride`` <
    ``chunk_chars`` gives overlapping windows so no span is ever cut
    without a context copy). Emits ``(id_col, chunk_id, chunk_start,
    chunk_text, chunk_chars_out)`` with 0-based ``chunk_start`` =
    ``chunk_id * stride``; windows start while ``start < length``,
    so the tail chunk may be shorter. NULL/empty texts emit nothing.

    Scale shape: one shuffle-free JVM projection —
    ``posexplode(sequence(...))`` + ``substring`` stay inside
    whole-stage codegen, rows fan out in place with no Exchange (the
    plan pin is in the tests), and downstream repartition decides
    layout. The ``sequence`` upper bound ``floor((len-1)/stride)`` is
    ≥ 0 whenever ``len ≥ 1``, so the descending-``sequence(1, 0)``
    trap cannot fire."""
    if chunk_chars < 1:
        raise ValueError("chunk_chars must be >= 1")
    stride = chunk_chars if stride is None else int(stride)
    if not 1 <= stride <= chunk_chars:
        raise ValueError(
            "stride must be in [1, chunk_chars] — a stride above "
            "chunk_chars would silently drop spans")
    t, size, st = text_col, int(chunk_chars), stride
    return (
        df.where(F.length(F.col(t)) >= 1)
        .select(
            id_col,
            F.expr(
                f"posexplode(sequence(0, cast(floor((length({t}) - 1)"
                f" / {st}) as int)))"
            ).alias("chunk_id", "_k"),
            F.col(t).alias("_txt"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("_k") * st).cast("long").alias("chunk_start"),
            F.expr(f"substring(_txt, _k * {st} + 1, {size})")
            .alias("chunk_text"),
        )
        .withColumn("chunk_chars_out",
                    F.length("chunk_text").cast("long"))
        .drop("_k", "_txt")
    )


def ngram_hashes(
    df: DataFrame,
    *,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, gram)``: one int64 hash per token ``n``-gram of
    every document (lowercased alnum tokens — the module's
    ``tokens()`` regex). One narrow Arrow stage: per-token 8-byte
    blake2b, then a sliding-window uint64 polynomial combine —
    all-numpy, no per-gram string building (a JVM
    ``transform(slice+concat_ws)`` HOF prototype ran 30× slower per
    core, CodegenFallback). NULL texts and docs shorter than ``n``
    tokens emit no grams. Shared by :func:`ngram_contamination` and
    :func:`duplicate_ngram_stats`."""
    if n < 1:
        raise ValueError("n must be >= 1")
    from pyspark.sql import types as SQT

    idc, txt = id_col, text_col
    id_dtype = df.schema[idc].dataType
    schema = SQT.StructType([
        SQT.StructField(idc, id_dtype, True),
        SQT.StructField("gram", SQT.LongType(), True),
    ])
    nn = int(n)
    # per-token hashing is the cost — spread a parallelism-starved
    # raw scan before the Arrow stage (identity for derived frames
    # and at real scale; shared policy in operators/partitioning.py)
    from .partitioning import fanout_gate

    src = fanout_gate(df, idc).select(idc, txt)
    pkg_parent = PKG_PARENT

    def work(batches):
        import hashlib
        import re
        import sys

        import numpy as np
        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        tok_re = re.compile(TOKEN_RE)
        pw = np.uint64(1099511628211) ** np.arange(
            nn, dtype=np.uint64)  # wraps mod 2^64: deterministic

        def tok_hash(t: str) -> int:
            return int.from_bytes(
                hashlib.blake2b(t.encode(), digest_size=8)
                .digest(), "little")

        for pdf in batches:
            ids, out = [], []
            for rid, text in zip(pdf[idc], pdf[txt]):
                if text is None:
                    continue
                toks = tok_re.findall(text.lower())
                if len(toks) < nn:
                    continue
                th = np.fromiter(
                    (tok_hash(t) for t in toks),
                    dtype=np.uint64, count=len(toks))
                win = np.lib.stride_tricks.sliding_window_view(
                    th, nn)
                h = (win * pw).sum(axis=1).view(np.int64)
                ids.append(np.full(len(h), rid))
                out.append(h)
            if not out:
                continue
            yield pd.DataFrame({
                idc: np.concatenate(ids),
                "gram": np.concatenate(out),
            })

    return src.mapInPandas(work, schema=schema)


def duplicate_ngram_stats(
    df: DataFrame,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span score: for each document, how
    many of its DISTINCT token ``n``-grams also occur in at least
    ``min_docs`` documents corpus-wide (itself included), and the
    fraction of its grams that do. The standard corpus-level
    repeated-span signal (C4's three-sentence-span dedup, Dolma's
    paragraph-duplication score — public): near-1 ratios mark
    boilerplate/mirrored documents that per-doc repetition features
    (:func:`repetition_features`, which only see INSIDE one doc)
    cannot catch. Returns ``(id_col, n_grams, n_dup_grams,
    dup_gram_ratio)``; docs with fewer than ``n`` tokens emit no
    grams and are absent.

    Scale shape: this is inherently a corpus-wide gram exchange (the
    semantics need every gram's document frequency), but every
    Exchange ships int64 hashes only (:func:`ngram_hashes` — never
    gram strings) and is preceded by partial aggregation:
    ``dropDuplicates`` partial-dedupes map-side, the frequency
    aggregate partial-counts, and the join back is gram-keyed on the
    SAME partitioning Catalyst just produced, so the frequency side
    is not re-shuffled. The final per-doc fold ships two ints per
    (doc, gram). ~O(corpus tokens) × 8 bytes through the wire once —
    the same cost class as MinHash dedup's shingle pass."""
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    g = ngram_hashes(df, n=n, id_col=id_col, text_col=text_col)
    gd = g.dropDuplicates([id_col, "gram"])
    freq = gd.groupBy("gram").agg(
        F.count(F.lit(1)).alias("_n_docs"))
    return (
        gd.join(freq, on="gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_n_docs") >= int(min_docs), 1)
                .otherwise(0)
            ).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_gram_ratio",
            F.col("n_dup_grams").cast("double") / F.col("n_grams"),
        )
    )


def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    min_hits: int = 1,
    max_eval_grams: int = 5_000_000,
) -> DataFrame:
    """Eval-set DECONTAMINATION: flag training documents containing
    any of the eval set's token ``n``-grams (the standard 13-gram
    overlap check every LLM pipeline runs before training — GPT-3
    appendix C / Gopher §A.4, public). Returns
    ``(id_col, n_contaminated_grams)`` for docs with ≥ ``min_hits``
    distinct hits.

    Shape for scale: the EVAL side is small by definition — its
    n-gram hash set is computed distributed, then hash-joined
    BROADCAST against the corpus side; the corpus side generates
    gram hashes in one narrow Arrow stage (per-token 8-byte blake2b,
    then a sliding-window uint64 polynomial combine — all-numpy, no
    per-gram string building; a JVM ``transform(slice+concat_ws)``
    HOF prototype ran 30× slower per core, CodegenFallback), then
    broadcast-joins and partially aggregates per doc. Only int64
    hashes ever move; nothing driver-side except the eval-set size
    guard (``max_eval_grams``, counted in the same job that builds
    the set — a poisoned "eval set" cannot OOM the broadcast).

    Tokenization matches the module's ``tokens()`` (lowercased alnum
    runs — the identical regex, C-speed in ``re``), so punctuation /
    case differences do not defeat the check. Docs (or eval rows)
    shorter than ``n`` tokens contribute no grams. Hits count
    DISTINCT contaminated grams per doc."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")

    def grams(df: DataFrame, idc: str, txt: str) -> DataFrame:
        return ngram_hashes(df, n=n, id_col=idc, text_col=txt)

    eval_grams = grams(eval_docs, eval_id_col, eval_text_col) \
        .select("gram").distinct()
    # size-guard INSIDE the same plan: limit() bounds the collect and
    # the count reveals overflow without a second scan
    guard = eval_grams.limit(max_eval_grams + 1).count()
    if guard > max_eval_grams:
        raise ValueError(
            f"eval set produced more than {max_eval_grams} distinct "
            f"{n}-grams; that is not an eval set — raise "
            f"max_eval_grams explicitly if intended")
    # distinct-per-doc AFTER the broadcast join: only matched grams
    # (a vanishing fraction of the corpus) ever shuffle — deduping
    # the full gram stream first would shuffle one int64 per corpus
    # token (measured 5.4s -> 0.9s at sf0.1 locally; at 100 TB it is
    # the difference between a map-side job and a corpus-wide
    # exchange)
    hits = (
        grams(docs, id_col, text_col)
        .join(F.broadcast(eval_grams), on="gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
        .where(F.col("n_contaminated_grams") >= int(min_hits))
    )
    return hits


def curate_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_quality: float = 0.45,
    max_dup_line_ratio: float = 0.3,
    max_top_line_share: float = 0.5,
    min_lines_for_top: int = 5,
    langs: tuple = ("en",),
    pii_kinds: tuple = ("email", "ipv4", "ssn", "phone"),
    dedup: bool = True,
    full_rows: bool = False,
) -> DataFrame:
    """The curation verdict pass an LLM corpus actually ships
    through: every text filter this module provides, composed into
    ONE projection emitting ``keep`` + machine-readable ``reasons``
    — the documents analogue of ``pipeline.run_full_validation``.

    Filters, in FIXED reason order (``reasons`` is a comma-joined
    string, empty = keep):

    - ``too_short``: fewer than ``min_tokens`` tokens
    - ``low_quality``: :func:`quality_score` below ``min_quality``
    - ``repetitive``: :func:`repetition_features` dup-line ratio or
      top-line share above threshold — gated on ``min_lines_for_top``
      lines so a one-line document is not "100% repetitive"
    - ``lang``: :func:`lang_guess` outside ``langs`` (empty/None
      tuple disables)
    - ``pii``: any :data:`PII_PATTERNS` match (empty tuple disables)
    - ``duplicate``: exact near-normalized duplicate
      (:func:`fingerprint_md5`) that is NOT the lowest-id survivor

    Everything except ``duplicate`` is a narrow whole-pass
    projection (the repetition folds are CodegenFallback but stay
    in-task); ``dedup=True`` adds the ONE shuffle — a window over
    the md5 fingerprint (salting unnecessary: identical-text groups
    are the hot keys and they are exactly what the window must
    co-locate; pathological mono-value corpora should pre-filter).
    Output: id, keep, reasons, and the underlying signals for audit
    (n_tokens, quality_score, lang_guess, dup_line_ratio,
    top_line_share, n_pii). ``full_rows=True`` carries EVERY source
    column through (same single projection — no join back), so the
    kept and dropped rows split on ``keep`` alone; verdict column
    names must not collide with source columns in that mode."""
    from pyspark.sql.window import Window

    verdict_cols = ("reasons", "keep", "n_tokens", "quality_score",
                    "lang_guess", "n_lines", "dup_line_ratio",
                    "top_line_share", "n_pii", "fingerprint", "__rk")
    if full_rows:
        clash = [c for c in df.columns if c in verdict_cols]
        if clash:
            raise ValueError(
                f"full_rows=True: source columns collide with "
                f"verdict columns: {clash}")
    rep = repetition_features(text_col)
    n_pii = None
    for k in pii_kinds:
        c = F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k]))
        n_pii = c if n_pii is None else (n_pii + c)
    if n_pii is None:
        n_pii = F.lit(0)
    lead = [F.col(c) for c in df.columns] if full_rows \
        else [F.col(id_col)]
    base = df.select(
        *lead,
        F.size(tokens(text_col)).alias("n_tokens"),
        quality_score(text_col),
        lang_guess(text_col),
        rep[0],   # n_lines
        rep[1],   # dup_line_ratio
        rep[2],   # top_line_share
        n_pii.alias("n_pii"),
        fingerprint_md5(text_col),
    )
    if dedup:
        w = Window.partitionBy("fingerprint") \
            .orderBy(F.col(id_col).asc())
        base = base.withColumn("__rk", F.row_number().over(w))
    else:
        base = base.withColumn("__rk", F.lit(1))

    def when(cond, tag):
        return F.when(cond, F.lit(tag))

    reasons = F.concat_ws(
        ",",
        when(F.col("n_tokens") < min_tokens, "too_short"),
        when(F.col("quality_score") < min_quality, "low_quality"),
        when(
            (F.col("n_lines") >= min_lines_for_top)
            & ((F.col("dup_line_ratio") > max_dup_line_ratio)
               | (F.col("top_line_share") > max_top_line_share)),
            "repetitive"),
        when(~F.col("lang_guess").isin(*langs) if langs else F.lit(False),
             "lang"),
        when(F.col("n_pii") > 0, "pii"),
        when(F.col("__rk") > 1, "duplicate"),
    )
    head = list(df.columns) if full_rows else [id_col]
    return base.select(
        *head,
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
        "n_tokens", "quality_score", "lang_guess",
        "dup_line_ratio", "top_line_share", "n_pii",
    )


def token_budget(
    df: DataFrame,
    group_cols: Sequence[str] | str = ("lang",),
    *,
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus budget report: document count, alnum-token
    and BPE-ish token totals, character total, and mean BPE tokens
    per doc — the numbers a data-mixing plan is written against
    (:func:`~cerberus_cpp_spark.operators.split.mixture_sample`
    consumes target shares; THIS is where the achievable shares come
    from). NULL texts count as documents but contribute no tokens or
    chars (SQL ``sum`` skips NULL — replayed identically by the
    oracle).

    Scale shape: one scan, one hash aggregate with map-side partial
    aggregation — the per-group partials are a few ints, so the
    Exchange ships O(groups), not O(rows). Tokenization stays in JVM
    regexp (codegen), the BPE pattern is the module's RE2-portable
    :data:`BPE_ISH_PATTERN`."""
    cols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    if not cols:
        raise ValueError("group_cols must name at least one column")
    n_bpe = F.sum(F.size(bpe_ish_tokens(text_col)))
    return (
        df.groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(text_col))).alias("n_tokens"),
            n_bpe.alias("n_bpe_tokens"),
            F.sum(F.length(F.col(text_col))).alias("n_chars_total"),
        )
        .withColumn(
            "mean_bpe_per_doc",
            F.col("n_bpe_tokens").cast("double") / F.col("n_docs"),
        )
    )


def dedup_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """CORPUS-LEVEL exact line dedup (the C4 recipe): a line that
    occurs ``min_count``+ times anywhere in the corpus is kept only
    at its FIRST occurrence (lowest ``(doc_id, line_index)``) and
    removed everywhere else; unique lines always survive. Returns
    ``(id_col, text, n_lines, n_removed)`` with ``text`` rebuilt
    from the surviving lines in original order (NULL text passes
    through as NULL with n_lines=0).

    Scale shape: three Exchanges, none avoidable for a global
    first-occurrence rule — (1) a hash aggregate on the line's
    ``xxhash64`` computing ``(count, min(struct(doc_id, pos)))``
    with map-side partial aggregation (the partials are 24 bytes per
    distinct line, so the Exchange ships O(distinct lines), not
    O(line occurrences)); (2) an AQE-planned equi-join of the
    exploded lines against that stats frame — skewed boilerplate
    keys (the exact thing this operator exists to find) are split by
    AQE's skew-join handling rather than serialized into one task,
    which is why this is a groupBy+join and NOT a window (a window
    would put every copy of a viral line in one partition with no
    partial aggregation); (3) the per-document rebuild aggregate.
    Lines travel through Exchanges next to an 8-byte key; the
    int64-hash-key / replay-as-strings contract is the same one
    ``duplicate_ngram_stats`` pins. Reference analogue: dataset-
    level uniqueness checks (SURVEY §2.3) promoted to line grain."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    idc = id_col
    src = df.select(idc, text_col)
    lines = (
        src.where(F.col(text_col).isNotNull())
        .select(
            idc,
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "line"),
        )
        .withColumn("lkey", F.xxhash64("line"))
    )
    stats = (
        lines.groupBy("lkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct(F.col(idc).alias("d"),
                           F.col("pos").alias("p"))).alias("first"),
        )
        .where(F.col("cnt") >= min_count)
    )
    kept = (
        lines.join(stats, "lkey", "left")
        .withColumn(
            "keep",
            F.col("cnt").isNull()
            | ((F.col("first.d") == F.col(idc))
               & (F.col("first.p") == F.col("pos"))),
        )
    )
    rebuilt = (
        kept.groupBy(idc)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
        )
    )
    return (
        src.select(idc, F.col(text_col).alias("_orig"))
        .join(rebuilt, idc, "left")
        .select(
            idc,
            F.when(F.col("_orig").isNotNull(), F.col("text"))
            .alias("text"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


#: tag-stripping pipeline shared verbatim (pattern, replacement)
#: by the Spark operator and the DuckDB oracle — RE2-portable
#: (no backrefs, no lookaround; inline (?is) flags only)
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?is)<!--.*?-->", " "),
    (r"(?is)<[a-z!/][^>]*>", " "),
)

#: entity decode table applied AFTER tag stripping (order matters:
#: &amp; last so '&amp;lt;' decodes to the literal '&lt;')
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def strip_html(col: str = "text") -> Column:
    """Column expression reducing crawled HTML to visible text: drop
    script/style/comment blocks, strip tags, decode the six common
    entities, collapse whitespace runs, trim. One chain of JVM
    ``regexp_replace``/``replace`` calls — a single codegen
    projection, zero shuffle, zero Python; NULL stays NULL. Patterns
    are RE2-portable and shared verbatim with the DuckDB oracle
    (:data:`HTML_STRIP_STEPS` / :data:`HTML_ENTITIES`), so both
    engines compute the identical cleaned string. Not an HTML5
    parser — malformed-nesting recovery is out of scope; the
    contract is the deterministic regexp pipeline above, the
    standard first-pass cleaner for crawled corpora."""
    out = F.col(col)
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out.alias("text")


def remove_repeated_spans(
    df: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    sep: str = " ",
) -> DataFrame:
    """CORPUS-LEVEL exact repeated-SPAN removal (the ExactSubstr
    recipe of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", restated at token grain): tokens are
    ``sep``-split fields of the text; every window of ``n``
    consecutive tokens is a span occurrence; a span occurring
    ``min_count``+ times anywhere in the corpus (within-document
    repeats count) keeps ONLY its first occurrence (lowest
    ``(doc_id, token_index)``) and every token position covered by
    any OTHER occurrence of a duplicated span is removed. A token
    covered only by first occurrences (or only by unique spans)
    survives. Returns ``(id_col, text, n_tokens, n_removed)`` with
    ``text`` rebuilt from surviving tokens in original order
    (NULL text passes through as NULL with n_tokens=0).

    This is the span-grain sibling of :func:`dedup_lines` (which
    needs duplicated regions to align on line boundaries) and the
    REMOVAL twin of :func:`duplicate_ngram_stats` (which only
    scores). Span identity is the ``\\x01``-joined token window
    hashed with ``xxhash64`` — tokens containing ``\\x01`` would
    alias across the joiner and are out of contract (crawled text
    never carries control bytes after cleaning).

    Scale shape: four Exchanges, the same cost class as
    :func:`dedup_lines` — (1) span-frequency hash aggregate keyed on
    the int64 hash with map-side partials (24 B per distinct span:
    count + packed first-occurrence struct; gram STRINGS die inside
    the codegen projection and never ship); (2) an AQE-planned
    equi-join of span occurrences against that stats frame (viral
    boilerplate spans are exactly the skewed keys AQE skew-splits —
    this is a groupBy+join, NOT a window, for the same reason as
    dedup_lines); (3) the distinct on removed (doc, token) positions
    (covered offsets explode n rows per non-first occurrence, then
    partial-dedupe map-side); (4) the per-document rebuild
    aggregate. Reference analogue: dataset-level uniqueness checks
    (SURVEY §2.3) promoted to token-span grain."""
    if n < 2:
        raise ValueError("n must be >= 2")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    if not sep:
        raise ValueError("sep must be a non-empty literal string")
    if "\\" in sep or "\x01" in sep:
        # a backslash could smuggle \E through the \Q...\E quoting
        # below (breaking the split pattern at run time on
        # executors); \x01 is the gram joiner byte
        raise ValueError(
            "sep must not contain backslashes or \\x01")
    idc, txt = id_col, text_col
    qsep = "\\Q" + sep + "\\E"  # literal (Java regex quote)
    src = df.select(idc, txt)
    toks = (
        src.where(F.col(txt).isNotNull())
        .select(
            idc,
            F.posexplode(F.split(F.col(txt), qsep))
            .alias("tp", "tok"),
        )
    )
    occ = (
        src.where(F.col(txt).isNotNull())
        .select(idc, F.split(F.col(txt), qsep).alias("_t"))
        .where(F.size("_t") >= n)
        .select(
            idc,
            "_t",
            F.explode(
                F.sequence(F.lit(0), F.size("_t") - n)
            ).alias("p"),
        )
        .select(
            idc,
            "p",
            F.xxhash64(
                F.concat_ws(
                    "\x01", F.slice("_t", F.col("p") + 1, n)
                )
            ).alias("skey"),
        )
    )
    stats = (
        occ.groupBy("skey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(
                F.struct(
                    F.col(idc).alias("d"), F.col("p").alias("q")
                )
            ).alias("first"),
        )
        .where(F.col("cnt") >= int(min_count))
    )
    removed = (
        occ.join(stats, "skey")
        .where(
            (F.col("first.d") != F.col(idc))
            | (F.col("first.q") != F.col("p"))
        )
        .select(
            idc,
            F.explode(
                F.sequence(F.col("p"), F.col("p") + (n - 1))
            ).alias("tp"),
        )
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    rebuilt = (
        toks.join(removed, [idc, "tp"], "left")
        .groupBy(idc)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.col("_rm").isNotNull().cast("long")
            ).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull(),
                                F.struct("tp", "tok"),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                sep,
            ).alias("text"),
        )
    )
    return (
        src.select(idc, F.col(txt).alias("_orig"))
        .join(rebuilt, idc, "left")
        .select(
            idc,
            F.when(F.col("_orig").isNotNull(), F.col("text"))
            .alias("text"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def linear_quality_score(
    df: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    weight_col: str = "weight",
    bias: int = 0,
    threshold: float = 0.0,
    bigrams: bool = True,
    broadcast_weights: bool = False,
) -> DataFrame:
    """Linear bag-of-ngrams quality classifier INFERENCE — the
    fastText-shaped filter CCNet/LLaMA-style pipelines run over
    crawled corpora (public recipe), restated exactly: features are
    the document's lowercased alnum unigrams (the module's
    ``TOKEN_RE``) plus, when ``bigrams``, the space-joined adjacent
    bigrams; the score is ``bias`` + the INTEGER sum of the weights
    of every matching feature occurrence (out-of-vocabulary terms
    contribute 0), and the verdict compares the length-normalized
    mean against ``threshold``. Integer weights keep the sum exact
    and order-independent, so the DuckDB oracle reproduces it
    bit-for-bit; the single final division is one IEEE f64 op, also
    engine-identical. Returns ``(id_col, n_terms, n_matched,
    score_sum, score_mean, label)`` — docs with zero terms (NULL or
    token-free text) get ``score_sum = bias``, NULL mean, and
    ``label = false``.

    ``weights`` is a ``(term, weight:long)`` vocabulary frame; a
    term listed twice would silently double-count, so the join side
    carries an in-plan ``assert_true`` that every term is unique
    (a loud failure, never a silent double count). Scale
    shape: one narrow codegen projection builds the term arrays, the
    explode is O(tokens), the vocabulary join is AQE-planned (a
    real-world vocab is ~10^5 rows — AQE broadcasts it on its own;
    ``broadcast_weights=True`` is the explicit escape hatch, opt-in
    per the round-3 verdict), and the per-document fold is the only
    required Exchange, partially aggregated map-side. Reference
    analogue: the allowed/min/max rule family (rules.hh:79-100,
    303-339) promoted to a learned scoring rule over text."""
    idc, txt = id_col, text_col
    # the tokenize+explode stage is the cost; a parallelism-starved
    # raw scan (one small parquet split) would run it on one core —
    # identity for derived frames and at real scale (shared policy)
    from .partitioning import fanout_gate

    df = fanout_gate(df, id_col)
    src = df.select(idc, txt)
    # materialize the token array BEFORE the bigram lambda: an
    # expression referenced inside a higher-order-function body is
    # re-evaluated per element (no subexpression elimination across
    # the lambda boundary), which turns the full-text regex into
    # O(tokens^2) work — measured 6.5 s vs 0.6 s at sf0.1
    u = F.col("_u")
    terms = u
    if bigrams:
        bi = F.when(
            F.size(u) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(u) - 2),
                lambda i: F.concat_ws(
                    " ", F.get(u, i), F.get(u, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        terms = F.concat(u, bi)
    tf = (
        src.where(F.col(txt).isNotNull())
        .select(
            idc,
            F.expr(
                f"regexp_extract_all(lower({txt}),"
                f" '{TOKEN_RE}', 0)"
            ).alias("_u"),
        )
        .select(idc, F.explode(terms).alias("_term"))
    )
    w = (
        weights.groupBy(F.col(term_col).alias("_term"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(weight_col).alias("_w"),
        )
        .select(
            "_term",
            F.when(
                F.assert_true(
                    F.col("_n") == 1,
                    F.concat(
                        F.lit("duplicate weight term: "),
                        F.col("_term"),
                    ),
                ).isNull(),
                F.col("_w"),
            ).alias("_w"),
        )
    )
    if broadcast_weights:
        w = F.broadcast(w)
    scored = (
        tf.join(w, "_term", "left")
        .groupBy(idc)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(
                F.col("_w").isNotNull().cast("long")
            ).alias("n_matched"),
            F.coalesce(F.sum("_w"), F.lit(0)).alias("_ws"),
        )
    )
    return (
        src.select(idc)
        .join(scored, idc, "left")
        .select(
            idc,
            F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            (F.coalesce("_ws", F.lit(0)) + F.lit(int(bias)))
            .alias("score_sum"),
        )
        .withColumn(
            "score_mean",
            F.when(
                F.col("n_terms") > 0,
                F.col("score_sum").cast("double")
                / F.col("n_terms"),
            ),
        )
        .withColumn(
            "label",
            F.coalesce(
                F.col("score_mean") >= F.lit(float(threshold)),
                F.lit(False),
            ),
        )
    )


def _term_freqs(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """``(term, n_occ, n_docs)``: corpus-wide occurrence and
    document frequency of every lowercased alnum token. One explode
    + one hash aggregate with map-side partials; the distinct
    document count rides the same aggregate."""
    toks = (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_d"),
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({text_col}),"
                    f" '{TOKEN_RE}', 0)"
                )
            ).alias("term"),
        )
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_distinct("_d").alias("n_docs"),
    )


def vocab_topk(
    df: DataFrame,
    *,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` corpus vocabulary: ``(term, n_occ, n_docs, rank)``
    with rank 1-based by ``(n_occ DESC, term ASC)`` — the
    deterministic tie-break makes the row set a pure function of
    the corpus. The Zipf head is what a tokenizer/vocab plan or a
    stopword audit reads first. Scale shape: the term aggregate is
    the only data-proportional Exchange (partials map-side); the
    global order is a ``TakeOrderedAndProject`` (per-partition
    top-k, never a full sort), and the rank window runs over the
    ``k`` surviving rows only. Reference analogue: dataset-level
    column stats / heavy hitters (SURVEY §2.3) at token grain."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    top = (
        _term_freqs(df, id_col=id_col, text_col=text_col)
        .orderBy(F.desc("n_occ"), "term")
        .limit(int(k))
    )
    w = Window.orderBy(F.desc("n_occ"), "term")
    return top.withColumn("rank", F.row_number().over(w))


def vocab_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus vocabulary summary: ``(n_tokens, n_types,
    n_hapax, type_token_ratio, top_share)`` — total token
    occurrences, distinct terms, hapax legomena (terms occurring
    exactly once — the Heaps'-law tail a vocab budget must absorb),
    the type/token ratio, and the share of the single most frequent
    term. Two hash aggregates over the term-frequency frame (itself
    one Exchange); every number is an exact integer until the two
    final IEEE f64 divisions, so the DuckDB oracle matches
    bit-for-bit."""
    freqs = _term_freqs(df, id_col=id_col, text_col=text_col)
    return freqs.agg(
        F.sum("n_occ").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            (F.col("n_occ") == 1).cast("long")
        ).alias("n_hapax"),
        F.max("n_occ").alias("_max_occ"),
    ).select(
        "n_tokens",
        "n_types",
        "n_hapax",
        (F.col("n_types").cast("double") / F.col("n_tokens"))
        .alias("type_token_ratio"),
        (F.col("_max_occ").cast("double") / F.col("n_tokens"))
        .alias("top_share"),
    )


#: Gopher stopword set (Rae et al. 2021 §A1.1, public): a document
#: must contain at least `min_stop_hits` of these as whole words
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def c4_clean(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    badwords: Sequence[str] = (),
) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020 §2.2, public),
    pinned as a deterministic contract: LINE grain — keep only
    trimmed lines that end in a terminal punctuation mark
    (``. ! ? "``), carry at least ``min_words_per_line`` whitespace
    words, and do not mention 'javascript' (case-insensitive);
    PAGE grain — drop the whole document when it contains a curly
    brace, the phrase 'lorem ipsum', any caller-supplied badword
    (all case-insensitive), or fewer than ``min_kept_lines``
    surviving lines (the paper's "fewer than 3 sentences", with
    kept-line as the sentence proxy). Returns ``(id_col, n_lines,
    n_kept, dropped, drop_reason, text)`` where ``text`` is the
    kept lines rejoined for surviving documents and NULL for
    dropped ones; ``drop_reason`` names the FIRST failing page rule
    in the fixed order ``null_text, curly_brace, lorem_ipsum,
    badword, too_few_lines``. NULL input text drops with
    ``null_text``.

    Scale shape: ONE shuffle-free codegen projection — the line
    split, the three keep predicates, the rebuild, and the page
    verdict are all JVM higher-order functions over the split
    array; nothing leaves the task. Reference analogue: the
    regex/allowed/forbidden rule family (rules.hh:229-244, 438-452)
    promoted to the published C4 corpus-cleaning rule set."""
    if min_words_per_line < 1:
        raise ValueError("min_words_per_line must be >= 1")
    if min_kept_lines < 0:
        raise ValueError("min_kept_lines must be >= 0")
    for b in badwords:
        if "'" in b or "\\" in b:
            raise ValueError(f"unsupported badword literal: {b!r}")
    idc, txt = id_col, text_col
    lines = F.split(F.col(txt), "\n")
    kept_arr = F.filter(
        F.transform(lines, lambda x: F.trim(x)),
        lambda x: (
            x.rlike('[.!?"]$')
            & (F.size(F.split(x, "[ \\t\\n\\f\\r]+"))
               >= min_words_per_line)
            & ~F.lower(x).contains("javascript")
        ),
    )
    low = F.lower(F.col(txt))
    badword_hit = F.lit(False)
    for b in badwords:
        badword_hit = badword_hit | low.contains(b.lower())
    reason = (
        F.when(F.col(txt).isNull(), F.lit("null_text"))
        .when(F.col(txt).contains("{") | F.col(txt).contains("}"),
              F.lit("curly_brace"))
        .when(low.contains("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(badword_hit, F.lit("badword"))
        .when(F.size(kept_arr) < min_kept_lines,
              F.lit("too_few_lines"))
    )
    return df.select(idc, txt).select(
        idc,
        F.when(F.col(txt).isNotNull(), F.size(lines))
        .otherwise(F.lit(0)).alias("n_lines"),
        F.when(F.col(txt).isNotNull(), F.size(kept_arr))
        .otherwise(F.lit(0)).alias("n_kept"),
        reason.isNotNull().alias("dropped"),
        reason.alias("drop_reason"),
        F.when(reason.isNull(), F.array_join(kept_arr, "\n"))
        .alias("text"),
    )


def gopher_quality_filter(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021 §A1.1, public),
    pinned as a deterministic contract over whitespace words
    (runs of non-whitespace, with whitespace pinned to the PORTABLE
    explicit class ``[ \\t\\n\\f\\r]`` — Java's ``\\s`` includes
    vertical tab \\x0B while RE2's does not, so ``\\s`` would desync
    the oracle on such bytes) and newline lines: word count within
    ``[min_words, max_words]``; mean word length within
    ``[min_mean_word_len, max_mean_word_len]`` (inclusive); hash or
    ellipsis symbol-to-word ratio at most ``max_symbol_word_ratio``
    (``#`` characters plus ``...``/``…`` occurrences, ellipsis
    counted left-to-right non-overlapping); at most
    ``max_bullet_frac`` of non-empty trimmed lines starting with a
    bullet (``•``, ``-``, ``*``); at most ``max_ellipsis_frac`` of
    non-empty trimmed lines ending with an ellipsis; at least
    ``min_alpha_word_frac`` of words containing an ASCII letter;
    and at least ``min_stop_hits`` DISTINCT Gopher stopwords
    present as regex-word-boundary matches. Returns one verdict row
    per document — the exact counters, every derived ratio, the
    ``passed`` flag, and ``fail_reasons`` (the failing rule names
    comma-joined in the fixed order above; empty string when
    passing). NULL or word-free text fails with ``no_words`` alone.

    Ratios are single IEEE f64 divisions of exact integers, so the
    DuckDB oracle reproduces every value bit-for-bit. Scale shape:
    ONE shuffle-free codegen projection — counting, fractions, and
    the verdict all happen inside the task; at 10^12 rows this is a
    pure scan. Reference analogue: min/max rules (rules.hh:303-339)
    promoted to the published Gopher document-quality rule set."""
    idc, txt = id_col, text_col
    words = F.expr(
        f"regexp_extract_all({txt}, '[^ \\\\t\\\\n\\\\f\\\\r]+', 0)"
    )
    n_words = F.size(words)
    word_chars = F.length(
        F.regexp_replace(F.col(txt), "[ \\t\\n\\f\\r]+", "")
    )
    n_hash = F.size(
        F.expr(f"regexp_extract_all({txt}, '#', 0)")
    )
    n_ellipsis = F.size(
        F.expr(
            f"regexp_extract_all({txt}, '(\\\\.\\\\.\\\\.|…)', 0)"
        )
    )
    lines = F.filter(
        F.transform(F.split(F.col(txt), "\n"),
                    lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda x: x.rlike("^[•\\-*]"))
    )
    n_ell_end = F.size(
        F.filter(lines, lambda x: x.rlike("(\\.\\.\\.|…)$"))
    )
    # one regex scan instead of a per-word HOF rlike: a match of
    # token*LETTER*token always covers a whole non-whitespace run
    # (greedy tails end at the run boundary; letterless runs match
    # nowhere inside), so the match count equals the count of words
    # containing an ASCII letter — identical to filtering `words`
    n_alpha = F.size(F.expr(
        f"regexp_extract_all({txt}, '[^ \\\\t\\\\n\\\\f\\\\r]*"
        f"[A-Za-z][^ \\\\t\\\\n\\\\f\\\\r]*', 0)"
    ))
    # one alternation scan instead of |stopwords| lower()+rlike full
    # scans: \b-bounded alternatives can never overlap (a boundary
    # cannot fall inside a word) and the engine backtracks to the
    # alternative whose trailing \b holds, so the DISTINCT matched
    # strings are exactly the stopwords present — the same count the
    # per-stopword loop summed
    stop_alt = "|".join(GOPHER_STOPWORDS)
    stop_hits = F.size(F.array_distinct(F.expr(
        f"regexp_extract_all(lower({txt}),"
        f" '\\\\b({stop_alt})\\\\b', 0)"
    )))
    base = df.select(idc, txt).select(
        idc,
        F.coalesce(n_words, F.lit(0)).alias("n_words"),
        F.coalesce(word_chars, F.lit(0)).alias("word_chars"),
        F.coalesce(n_hash + n_ellipsis, F.lit(0))
        .alias("n_symbols"),
        F.coalesce(n_lines, F.lit(0)).alias("n_lines"),
        F.coalesce(n_bullet, F.lit(0)).alias("n_bullet_lines"),
        F.coalesce(n_ell_end, F.lit(0)).alias("n_ellipsis_lines"),
        F.coalesce(n_alpha, F.lit(0)).alias("n_alpha_words"),
        F.coalesce(stop_hits, F.lit(0)).alias("n_stop_hits"),
    )
    nw = F.col("n_words")
    has_words = nw > 0
    mean_wl = F.when(
        has_words, F.col("word_chars").cast("double") / nw
    )
    sym_ratio = F.when(
        has_words, F.col("n_symbols").cast("double") / nw
    )
    bullet_frac = F.when(
        F.col("n_lines") > 0,
        F.col("n_bullet_lines").cast("double") / F.col("n_lines"),
    )
    ell_frac = F.when(
        F.col("n_lines") > 0,
        F.col("n_ellipsis_lines").cast("double")
        / F.col("n_lines"),
    )
    alpha_frac = F.when(
        has_words,
        F.col("n_alpha_words").cast("double") / nw,
    )
    checks = [
        ("no_words", ~has_words),
        ("word_count",
         has_words
         & ((nw < min_words) | (nw > max_words))),
        ("mean_word_len",
         has_words
         & ((mean_wl < float(min_mean_word_len))
            | (mean_wl > float(max_mean_word_len)))),
        ("symbol_ratio",
         has_words
         & (sym_ratio > float(max_symbol_word_ratio))),
        ("bullet_lines",
         has_words & (F.col("n_lines") > 0)
         & (bullet_frac > float(max_bullet_frac))),
        ("ellipsis_lines",
         has_words & (F.col("n_lines") > 0)
         & (ell_frac > float(max_ellipsis_frac))),
        ("alpha_words",
         has_words
         & (alpha_frac < float(min_alpha_word_frac))),
        ("stopwords",
         has_words
         & (F.col("n_stop_hits") < int(min_stop_hits))),
    ]
    fail = F.concat_ws(
        ",",
        F.filter(
            F.array(*[
                F.when(cond, F.lit(name)) for name, cond in checks
            ]),
            lambda x: x.isNotNull(),
        ),
    )
    return base.select(
        idc,
        "n_words",
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        F.col("n_stop_hits"),
        (fail == "").alias("passed"),
        fail.alias("fail_reasons"),
    )


#: BPE symbol wrapper byte — every symbol in the string-encoded
#: state is stored as ``\x02sym\x02``, so applying merge (l, r) is
#: one plain ``replace`` of ``\x02l\x02\x02r\x02`` with
#: ``\x02lr\x02``: string replace scans left-to-right and resumes
#: AFTER each replacement, which IS greedy non-overlapping BPE merge
#: application ('a a a' under (a,a) -> [aa, a]), and the per-symbol
#: wrapping keeps adjacent matches independent ('a b a b' under
#: (a,b) -> [ab, ab]). Both Spark's replace and DuckDB's replace
#: share these semantics, so the oracle replays training exactly.
BPE_WRAP = "\x02"


def _bpe_state(word_col: Column) -> Column:
    """String-encoded symbol sequence: each character wrapped in
    :data:`BPE_WRAP` markers."""
    return F.concat_ws(
        "",
        F.transform(
            F.split(word_col, ""),
            lambda c: F.concat(F.lit(BPE_WRAP), c, F.lit(BPE_WRAP)),
        ),
    )


def _bpe_syms(state_col: Column) -> Column:
    """Symbol array back out of the string encoding: strip the
    outer wrap bytes, split on the double marker."""
    inner = F.regexp_replace(state_col, "^\x02|\x02$", "")
    return F.split(inner, BPE_WRAP + BPE_WRAP)


def _bpe_train_local(
    rows, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """In-process finish of the BPE training loop over the collected
    (cnt, state) vocabulary — the EXACT distributed arithmetic:
    integer pair counts, (count DESC, left ASC, right ASC) tie-break
    over the same ASCII symbol strings, and ``str.replace`` merge
    application (same non-overlapping left-to-right semantics as the
    JVM ``replace`` expression on the wrapped encoding)."""
    vocab = [(int(r["cnt"]), r["state"]) for r in rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for cnt, state in vocab:
            # _bpe_syms: strip ONE outer wrap byte each side, split
            # on the double marker
            syms = state[1:-1].split(BPE_WRAP + BPE_WRAP)
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, c))
        old = BPE_WRAP + l + BPE_WRAP + BPE_WRAP + r + BPE_WRAP
        new = BPE_WRAP + l + r + BPE_WRAP
        vocab = [(cnt, state.replace(old, new))
                 for cnt, state in vocab]
    return merges


def bpe_train(
    df: DataFrame,
    *,
    n_merges: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    local_finish_vocab: int = 1_000_000,
) -> list[tuple[int, str, str, str, int]]:
    """DISTRIBUTED byte-pair-encoding training (Sennrich et al.
    2016, public): learn ``n_merges`` merge rules from the corpus —
    the missing piece between the module's BPE-ish token counting
    and an actual learned subword vocabulary. Classic word-level
    BPE: symbols start as the characters of each lowercased alnum
    token; each round counts every adjacent symbol pair weighted by
    corpus word frequency, picks the most frequent pair with the
    deterministic tie-break ``(count DESC, left ASC, right ASC)``,
    and merges every greedy left-to-right occurrence. Returns the
    merge table ``[(step, left, right, merged, pair_count)]``
    (shorter than ``n_merges`` if the corpus runs out of pairs).

    Scale shape: the corpus is scanned ONCE (the word-frequency
    aggregate — the only Exchange proportional to data); training
    then iterates on the persisted VOCABULARY-sized frame
    (10^5-10^7 rows regardless of corpus size — Heaps' law), each
    round one vocab-sized pair aggregate + a global top-1
    (TakeOrderedAndProject) + one driver row. Merge application is
    a single JVM ``replace`` on the string-encoded state (see
    :data:`BPE_WRAP`), so the per-round lineage grows by one
    projection; rounds re-materialize from the persisted base, not
    from recursion. For a 100 TB corpus this is exactly the shape
    you want: one pass over the data, then all iteration on the
    tiny aggregate. Reference analogue: none (the reference has no
    tokenizer); the determinism contract follows the module's
    oracle-portability rules.

    ``local_finish_vocab`` (the k_core / CC in-process-finish
    discipline, OPTIMIZATION_r06.md): the training loop is genuinely
    sequential and every round costs one driver-job round trip over
    the VOCABULARY-sized frame — when that frame is at most this many
    rows (1M rows ≈ tens of MB of wrapped words, the same bounded
    ferry class as the ADC LUT blocks) the whole loop runs in-process
    on the collected vocabulary with the IDENTICAL arithmetic:
    adjacent-pair counts are integer sums, the tie-break compares the
    same ASCII strings, and Python's ``str.replace`` has the same
    non-overlapping left-to-right semantics as the JVM ``replace``
    the distributed rounds use (pinned equal in tests). Set 0 to
    force every round distributed; the one corpus-proportional scan
    (the word-frequency aggregate) is unchanged either way."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    from pyspark.sql import DataFrame as _DF

    words = (
        df.select(text_col)
        .where(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({text_col}),"
                    f" '{TOKEN_RE}', 0)"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("cnt", _bpe_state(F.col("word")).alias("state"))
    )
    words = words.persist()
    try:
        if local_finish_vocab > 0:
            # guard and collect in ONE bounded job (the
            # _exact_near_duplicates_blas limit(n+1) pattern): at most
            # guard+1 rows ever reach the driver; an over-guard
            # vocabulary falls through to the distributed loop, whose
            # round 1 materializes the persist as before
            rows = words.limit(int(local_finish_vocab) + 1).collect()
            if len(rows) <= int(local_finish_vocab):
                return _bpe_train_local(rows, int(n_merges))
        merges: list[tuple[int, str, str, str, int]] = []
        state = words
        for step in range(1, int(n_merges) + 1):
            syms = _bpe_syms(F.col("state"))
            pairs = (
                state.where(F.size(syms) >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.transform(
                            F.sequence(
                                F.lit(0), F.size(syms) - 2
                            ),
                            lambda i: F.struct(
                                F.get(syms, i).alias("l"),
                                F.get(syms, i + 1).alias("r"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("cnt").alias("c"))
            )
            best = pairs.orderBy(
                F.desc("c"), "l", "r"
            ).limit(1).collect()
            if not best:
                break
            l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
            merges.append((step, l, r, l + r, int(c)))
            state = state.select(
                "cnt",
                F.replace(
                    F.col("state"),
                    F.lit(BPE_WRAP + l + BPE_WRAP
                          + BPE_WRAP + r + BPE_WRAP),
                    F.lit(BPE_WRAP + l + r + BPE_WRAP),
                ).alias("state"),
            )
        return merges
    finally:
        words.unpersist()


def bpe_segment(
    col: str,
    merges: Sequence[tuple[str, str]],
) -> Column:
    """Column expression applying a learned merge table: lowercased
    alnum tokens are split to characters and every merge rule is
    replayed in training order (greedy left-to-right, the same
    ``replace`` mechanics as :func:`bpe_train`); returns the
    document's flat subword array. ONE shuffle-free codegen
    projection — the replace chain lives inside a ``transform``
    over the token array, no Python, no Exchange."""
    def seg(word: Column) -> Column:
        st = _bpe_state(word)
        for l, r in merges:
            st = F.replace(
                st,
                F.lit(BPE_WRAP + l + BPE_WRAP
                      + BPE_WRAP + r + BPE_WRAP),
                F.lit(BPE_WRAP + l + r + BPE_WRAP),
            )
        return _bpe_syms(st)

    toks = F.expr(
        f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)"
    )
    return F.flatten(F.transform(toks, seg)).alias("subwords")


def lm_coverage(
    df: DataFrame,
    ref: DataFrame,
    *,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Reference-corpus n-gram COVERAGE — the integer-exact core of
    the CCNet-style language-model quality gate (public recipe:
    score crawled text against a trusted corpus; documents whose
    n-grams the reference has never seen are boilerplate, lorem
    soup, or the wrong language). A true LM perplexity needs log(),
    which is not bit-portable across engines, so this operator
    reports the exact integer signals a perplexity proxy is built
    from: per document, the total token ``n``-grams, how many occur
    at least ``min_count`` times in ``ref``, their coverage ratio,
    and the mean reference frequency of the document's grams
    (unknown grams count 0) — every number exact until the two
    final f64 divisions. Returns ``(id_col, n_grams, n_known,
    coverage, mean_ref_count)``; documents with fewer than ``n``
    tokens get 0 grams and NULL ratios.

    Scale shape: the reference gram-frequency table aggregates once
    (map-side partials, int64 ``xxhash64`` gram keys — strings die
    in the projection); the document grams join it gram-keyed
    (AQE-planned — a trusted reference vocabulary is usually
    broadcast-sized) and fold per document. The int64-key /
    replay-as-strings oracle contract is the same one
    ``duplicate_ngram_stats`` pins. Reference analogue: allowed-
    values rules (rules.hh:79-100) promoted to a learned gram
    vocabulary."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    idc, txt = id_col, text_col

    def grams(frame: DataFrame, cols: list) -> DataFrame:
        u = F.col("_u")
        g = F.when(
            F.size(u) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(u) - n),
                lambda i: F.concat_ws(
                    " ",
                    *[F.get(u, i + j) for j in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            frame.where(F.col(txt).isNotNull())
            .select(
                *cols,
                F.expr(
                    f"regexp_extract_all(lower({txt}),"
                    f" '{TOKEN_RE}', 0)"
                ).alias("_u"),
            )
            .select(*cols, F.explode(g).alias("_gram"))
            .select(*cols, F.xxhash64("_gram").alias("_gkey"))
        )

    freq = (
        grams(ref.select(txt), [])
        .groupBy("_gkey")
        .agg(F.count(F.lit(1)).alias("_rc"))
        .where(F.col("_rc") >= int(min_count))
    )
    scored = (
        grams(df.select(idc, txt), [idc])
        .join(freq, "_gkey", "left")
        .groupBy(idc)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.col("_rc").isNotNull().cast("long")
            ).alias("n_known"),
            F.coalesce(F.sum("_rc"), F.lit(0)).alias("_rcsum"),
        )
    )
    return (
        df.select(idc).join(scored, idc, "left")
        .select(
            idc,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_known", F.lit(0)).alias("n_known"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_known").cast("double")
                / F.col("n_grams"),
            ).alias("coverage"),
            F.when(
                F.col("n_grams") > 0,
                F.col("_rcsum").cast("double") / F.col("n_grams"),
            ).alias("mean_ref_count"),
        )
    )
