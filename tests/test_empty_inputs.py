"""Degenerate inputs: empty tables, all-null columns, single rows.
Every path must produce the identity sketch / empty result, not crash —
at 10^12 scale some partition or group is ALWAYS empty."""

import pytest

from pyspark.sql import functions as F

from sketchlib.agg import (bloom_contains_col, bloom_spec, build_sketch,
                           build_sketches, cms_spec, hll_spec, kll_spec,
                           sketch_grouped, tdigest_spec)
from sketchlib.checkpoint import checkpointed_build
from sketchlib.dedup import verified_near_dup_pairs
from sketchlib.sketch import HLL, KLL


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], "k long, v double, s string").cache()


@pytest.mark.parametrize("spec_fn,col", [
    (lambda: bloom_spec(100, 0.01), "k"),
    (lambda: hll_spec(p=10), "k"),
    (lambda: cms_spec(d=3, w=256), "s"),
    (lambda: kll_spec(k=50), "v"),
    (lambda: tdigest_spec(delta=100), "v"),
])
def test_build_over_empty(empty, spec_fn, col):
    res = build_sketch(empty, col, spec_fn())
    assert res.n_rows == 0
    # identity state round-trips
    assert res.state_bytes == res.spec.ops.serialize(res.spec.create())


def test_multi_build_over_empty(empty):
    rs = build_sketches(empty, [("k", hll_spec(p=10)), ("v", kll_spec(k=50))])
    assert all(r.n_rows == 0 for r in rs)


def test_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,), (None,)], "k string")
    res = build_sketch(df, "k", hll_spec(p=10))
    assert res.n_rows == 0
    assert HLL.cardinality(res.state) == 0.0


def test_single_row(spark):
    df = spark.createDataFrame([(42,)], "k long")
    res = build_sketch(df, "k", bloom_spec(10, 0.01))
    assert res.n_rows == 1
    probe = spark.createDataFrame([(42,), (43,)], "k long").withColumn(
        "m", bloom_contains_col(df.sparkSession, res.state_bytes, F.col("k")))
    got = {r["k"]: r["m"] for r in probe.collect()}
    assert got[42] is True


def test_grouped_over_empty(empty):
    out = sketch_grouped(empty, ["s"], "k", hll_spec(p=10))
    assert out.count() == 0


def test_checkpoint_over_empty(empty, tmp_path):
    res = checkpointed_build(empty, "k", bloom_spec(100, 0.01),
                             route_cols=["k"], num_shards=6,
                             ckpt_dir=str(tmp_path / "e"))
    assert res is not None and res.n_rows == 0
    assert all(l.get("empty") for l in res.shard_lineage)


def test_neardup_over_empty(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert verified_near_dup_pairs(docs).count() == 0


def test_kll_quantile_of_empty():
    import numpy as np

    st = KLL.create(50)
    assert np.isnan(KLL.quantile(st, [0.5])).all()


def test_write_warc_over_empty(spark, tmp_path):
    """An empty crawl writes no shards and reports zero records; reading
    the (empty) sink directory yields an empty frame, not a crash."""
    import os

    from sketchlib.io_warc import write_warc

    empty_wp = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "w")
    assert write_warc(empty_wp, out, shards=4) == 0
    assert not [f for f in os.listdir(out) if f.endswith(".warc")]


def test_ivf_build_empty_buckets_probe_ok(spark, tmp_path):
    """Probing buckets with no materialized partition (nothing was
    assigned there) must return results from the populated buckets only —
    partition pruning over a sparse index never errors."""
    import numpy as np

    from sketchlib.similarity import ivf_build, ivf_read, ivf_topk

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]  # one cluster
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = np.eye(4)  # 3 of 4 centroids get no vectors
    path = str(tmp_path / "ivf")
    index = ivf_read(spark, ivf_build(df, cent, path))
    q = df.where(F.col("vec_id") < 2)
    got = ivf_topk(index, q, cent, k=3, nprobe=4).collect()
    assert {r["q_id"] for r in got} == {0, 1}
    assert all(r["sim"] > 0.99 for r in got)


def test_hashed_shingle_sets_empty_and_blank_docs(spark):
    """Zero-row input and whitespace-only documents both flow through the
    one-pass shingle pipeline (blank doc -> one empty-string shingle set,
    matching the oracle's CASE fallback)."""
    from sketchlib.dedup import hashed_shingle_sets, minhash_signatures_from_hashes

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert hashed_shingle_sets(empty_docs).count() == 0
    assert minhash_signatures_from_hashes(
        hashed_shingle_sets(empty_docs)).count() == 0
    blank = spark.createDataFrame([(1, "   "), (2, "one two")],
                                  "doc_id long, text string")
    got = {r["doc_id"]: len(r["__shash"])
           for r in hashed_shingle_sets(blank).collect()}
    assert got == {1: 1, 2: 1}  # <3 tokens -> single whole-text shingle
