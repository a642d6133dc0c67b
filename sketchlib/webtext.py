"""The Common-Crawl-style web-page table (input_hint, BASELINE.json:15):

    (url string, warc_ts timestamp, html binary, text string, lang string)

Synthesized DETERMINISTICALLY from the driver's ``documents`` table — no
external data, integer-only derivations, so the identical table is
reproducible in both Spark and DuckDB (``WEBPAGES_SQL`` is the oracle-side
CTE).  This is the table every webtext_* query and the BENCH pipeline run
over; at a real 10^12-document scale it would be an Iceberg table with the
same schema (io_iceberg.py), the derivation standing in for the crawl.

Host-domain skew is built in on purpose: host 0 receives 40% of all
pages (doc_id % 5 < 2), the rest spread over ~199 hosts via a
multiplicative mix — a Zipf-head analogue that makes a naive raw-row
groupBy(host) melt one task, and that the map-side grouped build
(``agg.sketch_grouped``) folds where the rows already sit.

The html payload is a fixed template with the text HTML-escaped into
<article><p>...</p>, so ``extract.extract_text(html) == text``
byte-for-byte — the per-row invariant the driver verifies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

__all__ = ["webpages", "WEBPAGES_SQL", "html_col", "CANON_COLS"]

CANON_COLS = ["url", "warc_ts", "html", "text", "lang"]

# --- host skew: 40% of docs on host 0, remainder over 199 hosts -----------
_HOST_EXPR = ("CASE WHEN doc_id % 5 < 2 THEN 0 "
              "ELSE 1 + ((doc_id % 89) * (doc_id % 97)) % 199 END")
_URL_EXPR = "'https://host' || host_id || '.example.com/doc/' || doc_id"

# DuckDB-side CTE reproducing the exact same table (minus html, which only
# the Spark side needs — oracles compare url/host/text-level facts).
WEBPAGES_SQL = f"""
webpages AS (
  SELECT doc_id, host_id,
         {_URL_EXPR} AS url,
         TIMESTAMP '2024-01-01 00:00:00'
           + (doc_id % 86400) * INTERVAL 1 SECOND AS warc_ts,
         text, lang
  FROM (SELECT *, {_HOST_EXPR} AS host_id FROM documents)
)
""".strip()


def _escaped(text: Column) -> Column:
    """Minimal deterministic HTML escape (&, <, > — in that order)."""
    return F.replace(F.replace(F.replace(text,
                                         F.lit("&"), F.lit("&amp;")),
                               F.lit("<"), F.lit("&lt;")),
                     F.lit(">"), F.lit("&gt;"))


def html_col(text: Column, lang: Column, doc_id: Column) -> Column:
    """BinaryType html page: fixed template, text escaped into the body.
    Pure Catalyst expressions (whole-stage codegen) — no Python."""
    page = F.concat(
        F.lit('<!DOCTYPE html><html lang="'), lang,
        F.lit('"><head><meta charset="utf-8"><title>Doc '),
        doc_id.cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body><article><p>"),
        _escaped(text),
        F.lit("</p></article>"
              "<script>/* tracking stub, must not leak into text */</script>"
              "</body></html>"),
    )
    return F.encode(page, "UTF-8")


def webpages(spark: SparkSession, sf_dir: str, *,
             canon_only: bool = False) -> DataFrame:
    """The web-page table for one scale factor.  Keeps helper columns
    (doc_id, host_id) unless canon_only — probes and oracles join on them."""
    from .textops import widen

    # widen at the source: a single-split parquet read would otherwise run
    # every downstream map stage (extract, hash, sketch partials) as ONE
    # task; at real crawl scale the read arrives in many splits and this
    # is a no-op
    docs = widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    df = (docs
          .withColumn("host_id", F.expr(_HOST_EXPR))
          .withColumn("url", F.expr(_URL_EXPR))
          .withColumn("warc_ts",
                      F.expr("timestamp'2024-01-01 00:00:00' + "
                             "make_interval(0,0,0,0,0,0, doc_id % 86400)"))
          .withColumn("html", html_col(F.col("text"), F.col("lang"),
                                       F.col("doc_id")))
          .select("doc_id", "host_id", *CANON_COLS))
    return df.select(*CANON_COLS) if canon_only else df
