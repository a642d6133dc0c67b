"""Text-analysis operators for a web-scale training-data pipeline.

Design rule: everything that CAN be a JVM-side Catalyst expression IS one
(tokenize, shingles, stopword counts, quality flags — whole-stage-codegen
friendly, pushdown-safe); only genuinely numeric/bit-twiddling work
(fingerprints, simhash, language scoring) drops to vectorized numpy over
Arrow batches via mapInPandas.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from .hashing import to_byte_matrix

__all__ = [
    "tokens_col", "shingles_col", "token_stats", "quality_stats",
    "STOPWORDS", "stopword_count_col", "fingerprint_docs",
    "simhash_docs_md5", "langid_docs", "LANG_PROFILES", "widen",
]


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input arrives underpartitioned.

    Small-file parquet scans often yield a single split; any python-heavy
    mapInPandas over them would then run as ONE task no matter how many
    cores the cluster has (measured: MinHash over one-split documents =
    7.8 s single-task vs sub-second at 32).  At real scale inputs arrive
    in hundreds of splits and this is a no-op.

    Use ONLY ahead of python/CPU-heavy map stages (shingle set
    construction, MinHash, html extraction, per-group applyInPandas).
    For vectorized sketch-kernel builds the shuffle costs MORE than the
    parallelism buys (A/B on 600k-row lineitem HLL: 0.33 s raw 3-split vs
    2.0 s widened — the kernel updates millions of rows/sec/core, so
    fan-out only pays once per-core work dwarfs a full row shuffle)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df

# A small, fixed English stopword list (public knowledge) — used by quality
# scoring and the language-ID heuristic.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "be", "this", "that")


def tokens_col(col="text") -> Column:
    """Whitespace tokenization as a JVM expression (no Python)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as a JVM expression:
    transform(sequence(...), i -> concat_ws(' ', slice(tokens, i, n)))."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def stopword_count_col(tokens: Column) -> Column:
    """Occurrences (with multiplicity) of stopwords — a JVM filter+size."""
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_types) — pure Catalyst expressions."""
    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )


def quality_stats(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Length / stopword / type-ratio quality signals, integer-valued so the
    result is oracle-comparable across engines."""
    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        stopword_count_col(toks).alias("n_stopwords"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        (
            (F.length(F.col(text_col)) >= 20)
            & (F.size(toks) >= 5)
            & (F.size(F.array_distinct(toks)) * 100 >= F.size(toks) * 20)
        ).cast("int").alias("quality_ok"),
    )


# ---------------------------------------------------------------------------
# fingerprints (vectorized numpy; not SQL-expressible)
# ---------------------------------------------------------------------------

_FP_R = np.uint64(0x100000001B3)  # FNV-prime-style odd multiplier


def _fingerprint_batch(texts: pd.Series) -> np.ndarray:
    """Polynomial rolling hash over utf-8 bytes, mod 2^64 (natural uint64
    wraparound): fp = sum_j (byte_j + 1) * R^j.  Whole-batch vectorized:
    one padded byte matrix, one power vector, one masked matmul-style
    reduction."""
    mat, lengths = to_byte_matrix(texts.fillna(""))
    n, lpad = mat.shape
    if n == 0:
        return np.zeros(0, np.uint64)
    with np.errstate(over="ignore"):
        powers = np.ones(lpad, np.uint64)
        if lpad > 1:
            np.multiply.accumulate(np.full(lpad - 1, _FP_R, np.uint64),
                                   out=powers[1:])
        valid = (np.arange(lpad)[None, :] < lengths[:, None])
        terms = (mat.astype(np.uint64) + np.uint64(1)) * valid * powers[None, :]
        return terms.sum(axis=1, dtype=np.uint64)


def fingerprint_docs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, fingerprint bigint) — deterministic 64-bit document fingerprint."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fp = _fingerprint_batch(pdf[text_col]).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "fingerprint": fp})

    id_type = dict(df.dtypes)[id_col]
    return widen(df.select(id_col, text_col)).mapInPandas(
        run, f"{id_col} {id_type}, fingerprint long")


# ---------------------------------------------------------------------------
# simhash (md5 token hashes from the JVM, per-doc bit votes in numpy)
# ---------------------------------------------------------------------------

def simhash_docs_md5(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, simhash bigint) — simhash whose per-token 64-bit hash is the
    first 16 hex chars of md5(token), a hash BOTH Spark and DuckDB can
    compute — which makes the whole simhash+blocking pipeline value-
    checkable by a SQL oracle.

    md5 and the two 32-bit hex chunks are computed JVM-side (Catalyst md5 +
    conv) INSIDE the token array — no explode, no shuffle, the doc's tokens
    never leave its row; the Python side flattens each Arrow batch and
    takes per-doc bit-vote sums with one np.add.reduceat over the
    contiguous per-doc segments.  Whitespace-only docs are excluded (no
    tokens to vote)."""
    chunk = lambda part: lambda m: F.conv(  # noqa: E731
        F.substring(m, part, 8), 16, 10).cast("long")
    sel = (df.where(F.trim(F.col(text_col)) != "")
           .select(F.col(id_col),
                   F.transform(tokens_col(text_col),
                               lambda t: F.md5(t)).alias("__m"))
           .select(id_col,
                   F.transform("__m", chunk(1)).alias("__hi"),
                   F.transform("__m", chunk(9)).alias("__lo")))

    shifts = np.arange(64, dtype=np.uint64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["__hi"].str.len().to_numpy(np.int64)
            hi = np.concatenate(list(pdf["__hi"])).astype(np.uint64)
            lo = np.concatenate(list(pdf["__lo"])).astype(np.uint64)
            hv = (hi << np.uint64(32)) | lo
            bits = ((hv[:, None] >> shifts[None, :]) & np.uint64(1)) \
                .astype(np.int64)
            starts = np.zeros(len(pdf), np.int64)
            starts[1:] = np.cumsum(counts)[:-1]
            ones = np.add.reduceat(bits, starts, axis=0)  # [D, 64]
            sim_bits = (2 * ones > counts[:, None]).astype(np.uint64)
            sim = np.zeros(len(pdf), np.uint64)
            for b in range(64):
                sim |= sim_bits[:, b] << np.uint64(b)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "simhash": sim.astype(np.int64)})

    id_type = dict(df.dtypes)[id_col]
    return widen(sel).mapInPandas(run, f"{id_col} {id_type}, simhash long")


# ---------------------------------------------------------------------------
# language ID (n-gram/stopword heuristic; vectorized scoring)
# ---------------------------------------------------------------------------

LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "that", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"),
    "tr": ("bir", "ve", "bu", "da", "de", "ile", "için", "çok", "ama", "gibi"),
}


def _langid_batch(texts: pd.Series) -> list[str]:
    split = texts.fillna("").str.lower().str.split()
    counts = split.str.len().to_numpy(np.int64)
    flat = [t for toks in split for t in toks]
    ndocs = len(texts)
    langs = list(LANG_PROFILES)
    scores = np.zeros((ndocs, len(langs)), np.int64)
    if flat:
        doc_idx = np.repeat(np.arange(ndocs), counts)
        flat_arr = pd.Series(flat)
        for li, lang in enumerate(langs):
            hit = flat_arr.isin(LANG_PROFILES[lang]).to_numpy()
            np.add.at(scores[:, li], doc_idx[hit], 1)
    best = np.argmax(scores, axis=1)
    none = scores.max(axis=1) == 0
    return ["und" if none[i] else langs[best[i]] for i in range(ndocs)]


def langid_docs(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, lang_pred string) — stopword-profile language ID heuristic."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "lang_pred": _langid_batch(pdf[text_col])})

    id_type = dict(df.dtypes)[id_col]
    return widen(df.select(id_col, text_col)).mapInPandas(
        run, f"{id_col} {id_type}, lang_pred string")
