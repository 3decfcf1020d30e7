"""Encoding census for raw text payloads: the charset gate a crawl
pipeline runs BEFORE any text operator — strict UTF-8 validation,
BOM detection/stripping, non-ASCII byte ratio, and the
replacement-character count that flags text already mangled by an
earlier bad decode (mojibake that strict validation alone cannot
see, because U+FFFD is perfectly valid UTF-8). Invalid streams
report the first offending byte offset so triage can distinguish a
truncated multibyte tail (offset near the end) from a binary blob
mislabeled as text (offset near 0).

One narrow Arrow stage over the byte column; verdicts are pure
functions of the bytes (Python's strict UTF-8 decoder is the
conformance reference here — RFC 3629's table is what it
implements), so the contract query's oracle replays every field by
plant arithmetic.

Reference parity: per-payload verdict model (validator.hh:239-258).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shipping import PKG_PARENT

ENCODING_SCHEMA = (
    "clip_id string, ok boolean, message string, utf8_valid "
    "boolean, has_bom boolean, n_bytes bigint, n_nonascii_bytes "
    "bigint, n_chars bigint, n_replacement_chars bigint, "
    "invalid_at bigint"
)


def encoding_census(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """ONE ROW PER PAYLOAD: strict-UTF-8 verdict, BOM presence
    (EF BB BF prefix; ``n_chars`` counts WITHOUT it — the value a
    downstream tokenizer sees after sane stripping), byte and
    non-ASCII byte counts, decoded char count, U+FFFD count (prior
    mojibake), and the first invalid byte offset for invalid
    streams. NULL payloads route to ok=false; an EMPTY payload is
    valid UTF-8 of zero chars."""
    src = df.select(F.col(id_col).alias("clip_id"), F.col(bytes_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        cols = ("ok", "message", "utf8_valid", "has_bom",
                "n_bytes", "n_nonascii_bytes", "n_chars",
                "n_replacement_chars", "invalid_at")
        int_cols = {"n_bytes": "Int64", "n_nonascii_bytes": "Int64",
                    "n_chars": "Int64",
                    "n_replacement_chars": "Int64",
                    "invalid_at": "Int64"}

        for pdf in batches:
            out: dict = {"clip_id": [], **{c: [] for c in cols}}

            def put(cid, **kw):
                out["clip_id"].append(cid)
                for c in cols:
                    out[c].append(kw.get(c))

            for cid, blob in zip(pdf["clip_id"], pdf[bytes_col]):
                if blob is None:
                    put(cid, ok=False, message="no payload")
                    continue
                b = bytes(blob)
                bom = b.startswith(b"\xef\xbb\xbf")
                body = b[3:] if bom else b
                nonascii = sum(1 for x in b if x >= 0x80)
                try:
                    text = body.decode("utf-8", "strict")
                except UnicodeDecodeError as e:
                    put(cid, ok=True, utf8_valid=False,
                        has_bom=bom, n_bytes=len(b),
                        n_nonascii_bytes=nonascii,
                        invalid_at=e.start + (3 if bom else 0))
                    continue
                put(cid, ok=True, utf8_valid=True, has_bom=bom,
                    n_bytes=len(b), n_nonascii_bytes=nonascii,
                    n_chars=len(text),
                    n_replacement_chars=text.count("�"))
            res = pd.DataFrame(out)
            for c, t in int_cols.items():
                res[c] = pd.array(res[c], dtype=t)
            for c in ("ok", "utf8_valid", "has_bom"):
                res[c] = pd.array(res[c], dtype="boolean")
            yield res

    return src.mapInPandas(work, schema=ENCODING_SCHEMA)


NFC_SCHEMA = (
    "doc_id long, status string, is_nfc int, n_chars bigint, "
    "n_chars_nfc bigint, nfc_md5 string"
)


def nfc_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unicode-normalization census: is each document already NFC
    (UAX #15 canonical composition — the form dedup hashes, BPE
    vocabularies, and eval-set n-gram matching all silently assume;
    two byte-different spellings of 'é' must count as one document,
    and THIS census tells you whether that assumption already holds
    or a normalization pass must run first). Per row: ``status``
    ('ok' | 'no_text'), ``is_nfc`` (1/0 int — deliberately not a
    nullable boolean, see the HANDOFF pandas round-trip trap),
    codepoint counts before/after NFC, and the md5 of the UTF-8
    NFC text (join key for the normalized corpus).

    One narrow Arrow stage; Python's ``unicodedata.normalize`` is
    the engine, and the contract oracle replays it with DuckDB's
    OWN independent ``nfc_normalize`` (utf8proc) — two unrelated
    UAX #15 implementations agreeing per row, the strongest oracle
    class in the repo (the ``parquet_layout`` pattern)."""
    import hashlib
    import unicodedata

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    pkg_parent = PKG_PARENT

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "status", "is_nfc",
                                   "n_chars", "n_chars_nfc",
                                   "nfc_md5")}
            for did, txt in zip(pdf["doc_id"], pdf[text_col]):
                out["doc_id"].append(did)
                if txt is None:
                    out["status"].append("no_text")
                    out["is_nfc"].append(None)
                    out["n_chars"].append(None)
                    out["n_chars_nfc"].append(None)
                    out["nfc_md5"].append(None)
                    continue
                txt = str(txt)
                nfc = unicodedata.normalize("NFC", txt)
                out["status"].append("ok")
                out["is_nfc"].append(int(nfc == txt))
                out["n_chars"].append(len(txt))
                out["n_chars_nfc"].append(len(nfc))
                out["nfc_md5"].append(
                    hashlib.md5(nfc.encode("utf-8")).hexdigest())
            pdf_out = pd.DataFrame(out)
            for c in ("is_nfc",):
                pdf_out[c] = pdf_out[c].astype("Int64")
            for c in ("n_chars", "n_chars_nfc"):
                pdf_out[c] = pdf_out[c].astype("Int64")
            yield pdf_out

    return src.mapInPandas(work, schema=NFC_SCHEMA)
