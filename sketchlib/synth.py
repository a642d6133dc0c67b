"""Deterministic Common-Crawl-style page generator at arbitrary scale.

``webtext.webpages`` derives the input_hint table from the driver's
``documents`` parquet (fixed row counts per SF).  For throughput/scaling
benchmarks we need the SAME shape at ANY row count — this module generates
it from ``spark.range(n)`` with pure Catalyst expressions (whole-stage
codegen, zero Python, zero I/O), so generation never bottlenecks the
pipeline being measured and every run at every parallelism level sees the
identical logical table (seeded, integer-only derivations).

Skew matches webtext.py's crawl model: host 0 owns 40% of pages, the rest
spread over 199 hosts — the Zipf head the grouped build must fold without
sending it to one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .webtext import html_col

__all__ = ["synth_webpages", "WORDS"]

# 64 fixed words; text is a deterministic function of the page id.
WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "north",
    "south", "east", "west", "river", "mountain", "forest", "harbor",
    "bridge", "market", "castle", "garden", "signal", "vector", "matrix",
    "kernel", "buffer", "packet", "socket", "thread", "shard", "merge",
    "sketch", "filter", "quantile", "digest", "crawl", "index", "token",
    "corpus", "anchor", "header", "footer", "article", "section", "quote",
    "table", "figure", "caption", "summary",
]

_LANGS = ["en", "de", "fr", "es"]


def _word(ix: Column) -> Column:
    return F.element_at(F.array(*[F.lit(w) for w in WORDS]),
                        (ix + 1).cast("int"))


def _text_expr(id_col: Column, n_words: int) -> Column:
    """n_words-token sentence: word_j = WORDS[(id*(2j+3) + j*j) % 64] —
    cheap integer mixing, varies across docs and positions, and repeats
    tokens often enough that shingle/dedup stats stay web-plausible."""
    parts = [_word((id_col * (2 * j + 3) + j * j) % 64)
             for j in range(n_words)]
    return F.concat_ws(" ", *parts)


def synth_webpages(spark: SparkSession, n_pages: int, *,
                   n_words: int = 40, partitions: int | None = None,
                   with_html: bool = True) -> DataFrame:
    """(doc_id, host_id, url, warc_ts, text, lang[, html]) with the same
    derivations as webtext.py, at any scale."""
    rng = spark.range(0, n_pages, 1, partitions) \
        if partitions else spark.range(n_pages)
    df = (rng.withColumnRenamed("id", "doc_id")
          .withColumn("host_id",
                      F.when(F.col("doc_id") % 5 < 2, F.lit(0))
                      .otherwise(1 + ((F.col("doc_id") % 89)
                                      * (F.col("doc_id") % 97)) % 199))
          .withColumn("url", F.concat(F.lit("https://host"), F.col("host_id"),
                                      F.lit(".example.com/doc/"),
                                      F.col("doc_id")))
          .withColumn("warc_ts",
                      F.expr("timestamp'2024-01-01 00:00:00' + "
                             "make_interval(0,0,0,0,0,0, doc_id % 86400)"))
          .withColumn("text", _text_expr(F.col("doc_id"), n_words))
          .withColumn("lang", F.element_at(
              F.array(*[F.lit(l) for l in _LANGS]),
              (F.col("doc_id") % 4 + 1).cast("int"))))
    if with_html:
        df = df.withColumn("html", html_col(F.col("text"), F.col("lang"),
                                            F.col("doc_id")))
    return df
