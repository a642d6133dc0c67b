"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, ...extras}

Extras (informational, not part of the driver contract): sketch-build
throughput in rows/sec for the five-sketch build over lineitem, which is the
BASELINE.json headline metric ("sketch-build throughput (docs/sec) + merge
latency"), and the merge latency of the tree-merge stage.

Reusable core: ``run_bench(sf_dir, cores)`` returns the result dict; the
N→4N scaling script (BENCH/scaling.py) calls it at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Headline subset of the query surface: the five sketch algebras, the
# training-data pipeline ops, similarity search, and one Catalyst showcase.
HEADLINE = [
    "bloom_semijoin",
    "bloom_fpp_fn",
    "bloom_blocked_fpp",
    "bloom_pattern_fpp",
    "hll_partkey",
    "hll_users_by_type",
    "hll_user_overlap",
    "stream_hll_users",
    "cms_heavy_tokens",
    "mg_heavy_tokens",
    "mg_heavy_hosts",
    "kll_doclen_by_lang",
    "cms_heavy_suppliers_by_qty",
    "kll_price_quantiles",
    "tdigest_value_quantiles",
    "dedup_exact",
    "dedup_keep_first",
    "weighted_sample_docs",
    "neardup_pairs",
    "jaccard_exact_pairs",
    "kmv_sample_urls",
    "kmv_sample_by_host",
    "kmv_set_ops",
    "simhash_pairs",
    "ann_topk",
    "embedding_neardup",
    "multimodal_pipeline",
    "kll_rollup_day",
    "webtext_extract_ok",
    "warc_ingest",
    "webtext_url_bloom",
    "webtext_host_hll",
    "webtext_shingle_bloom",
    "webtext_heavy_hosts",
    "kll_price_by_flag",
    "asof_click_purchase",
    "range_join_errors",
    "event_sessions",
    "events_json_stats",
    "tpch_q1",
    "tpch_q6",
    "revenue_by_nation",
    "bloom_join_prune",
]


def _force(df) -> int:
    """Materialize a result DataFrame fully — rows AND values.

    df.count() lets Catalyst prune deterministic projected columns (a
    projection-only query would be timed without running its expressions);
    hashing every column forces each value to be computed."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.hash(*df.columns))).collect()[0][0]


def sketch_build_throughput(spark, sf_dir: str) -> dict:
    """The BASELINE.json headline: build all five sketches over lineitem
    (the largest table) and report rows/sec + tree-merge latency.  Uses the
    single-pass multi-build (one scan feeds all five) with shards = 2x cores
    — the sf0.1 parquet arrives as only ~3 splits, which would cap
    parallelism at 3 tasks."""
    from sketchlib.agg import (auto_shards, bloom_spec, build_partials,
                               build_sketches, cms_spec, hll_spec, kll_spec,
                               tdigest_spec, tree_merge)
    from sketchlib.session import default_parallelism

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_rows = li.count()
    li = li.cache()
    li.count()  # warm cache so we measure sketch build, not parquet decode

    cols_specs = [("l_orderkey", bloom_spec(n_rows, 0.01)),
                  ("l_partkey", hll_spec(p=14)),
                  ("l_suppkey", cms_spec(d=5, w=8192)),
                  ("l_extendedprice", kll_spec(k=200)),
                  ("l_extendedprice", tdigest_spec(delta=200))]

    t0 = time.perf_counter()
    # shard count sized by the largest state (the bloom dominates traffic)
    results = build_sketches(li, cols_specs,
                             num_shards=auto_shards(cols_specs[0][1]))
    total_rows = sum(r.n_rows for r in results)
    build_secs = time.perf_counter() - t0
    spec = cols_specs[1][1]

    # merge latency in isolation: materialize partials, time the tree merge
    partials = build_partials(li, "l_partkey", spec).cache()
    num_partials = partials.count()
    t0 = time.perf_counter()
    tree_merge(partials, spec, num_partials, fanout=16).collect()
    merge_secs = time.perf_counter() - t0
    partials.unpersist()
    li.unpersist()

    return {
        # BASELINE.json metric: documents (input rows) per second through
        # the single-pass five-sketch build — each row is counted ONCE
        "sketch_build_docs": n_rows,
        "sketch_build_secs": round(build_secs, 3),
        "sketch_build_docs_per_sec": round(n_rows / build_secs, 1),
        # separate, clearly-labeled figure: sketch-row UPDATES/sec (each
        # input row feeds all five sketches, so this is 5x docs/sec)
        "sketch_row_updates": total_rows,
        "sketch_row_updates_per_sec": round(total_rows / build_secs, 1),
        "tree_merge_secs": round(merge_secs, 3),
        "num_partials": num_partials,
    }


def grouped_state_bytes(spark, sf_dir: str) -> dict:
    """Shuffle-bytes footprint of a high-cardinality grouped sketch table
    (720 hourly HLL states over events) — the metric the sparse HLL wire
    format shrinks (dense p=13 would be 8 KB/group flat)."""
    from pyspark.sql import functions as F

    from sketchlib.agg import hll_spec, sketch_grouped

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = sketch_grouped(
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts"))),
        ["hour"], "user_id", hll_spec(p=13))
    row = hours.select(F.sum(F.octet_length("state")).alias("b"),
                       F.count("*").alias("g")).collect()[0]
    return {"hourly_hll_groups": int(row["g"]),
            "hourly_hll_state_bytes": int(row["b"]),
            "hourly_hll_dense_bytes": int(row["g"]) * (1 << 13)}


def run_bench(sf_dir: str | None = None, cores: int | None = None,
              include_queries: bool = True, spark=None) -> dict:
    from sketchlib.packaging import ensure_shipped
    from sketchlib.session import default_parallelism, get_spark

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR",
                                      "/root/testdata/sf0.1")
    cores = cores or default_parallelism()
    # phase probe at BOTH ends: suite runs span minutes and the sandbox's
    # hypervisor phases shift within that (measured: an 82 s and a 188 s
    # same-code rep whose end-probes read alike — the swing happened
    # mid-run, so a single sample can miss it)
    from sketchlib.envprobe import env_probe
    probe_start = env_probe()
    own_session = spark is None
    if own_session:
        spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    ensure_shipped(spark)

    from sketchlib.dedup import release
    from sketchlib.queries import QUERIES

    # Warm python workers (imports) so the first query isn't charged for
    # cluster startup — on a long-lived cluster the workers are hot.
    import pandas as _pd

    def _warm(it):
        for b in it:
            yield _pd.DataFrame({"id": b["id"]})

    spark.range(0, 4 * cores, 1, 4 * cores).mapInPandas(_warm, "id long").count()

    timings: dict[str, float] = {}
    total = 0.0
    if include_queries:
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            res = fn(spark, sf_dir)
            try:
                _force(res)
            finally:
                release(res)  # free attached operator caches even on error
            dt = time.perf_counter() - t0
            timings[name] = round(dt, 3)
            total += dt

    extras = sketch_build_throughput(spark, sf_dir)
    extras.update(grouped_state_bytes(spark, sf_dir))
    total += extras["sketch_build_secs"] + extras["tree_merge_secs"]
    timings["sketch_build_5x"] = extras["sketch_build_secs"]
    timings["tree_merge"] = extras["tree_merge_secs"]

    sf = 0.1
    for tok in sf_dir.rstrip("/").split("/"):
        if tok.startswith("sf"):
            try:
                sf = float(tok[2:])
            except ValueError:
                pass

    # fixed-workload machine probe: makes this run's VM phase visible in
    # the JSON itself (this sandbox swings up to 3.6x between sessions —
    # BENCH/BASELINE.md); not part of `value`.
    result = {
        "metric": "sketch_suite_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "env_probe_start": probe_start,
        "env_probe": env_probe(),
        **extras,
    }
    if own_session:
        spark.stop()
    return result


if __name__ == "__main__":
    print(json.dumps(run_bench()))
