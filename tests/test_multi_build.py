"""Single-pass multi-sketch build and grouped-aggregation strategies:
the scan-sharing and shuffle-avoidance paths must produce states
equivalent to the reference single-sketch pipeline."""

from pyspark.sql import functions as F

from sketchlib.agg import (bloom_spec, build_sketch, build_sketches,
                           cms_spec, hll_spec, kll_spec, sketch_grouped,
                           tdigest_spec)
from sketchlib.sketch import HLL, KLL, TDIGEST


def test_multi_build_matches_single_builds(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    n = li.count()
    cols_specs = [("l_orderkey", bloom_spec(n, 0.01)),
                  ("l_partkey", hll_spec(p=13)),
                  ("l_suppkey", cms_spec(d=5, w=2048))]
    multi = build_sketches(li, cols_specs)
    # commutative algebras (OR / max / +): byte-identical to the
    # one-sketch-per-scan pipeline
    for (col, spec), got in zip(cols_specs, multi):
        single = build_sketch(li, col, spec)
        assert got.state_bytes == single.state_bytes
        assert got.n_rows == single.n_rows


def test_multi_build_order_sensitive_equivalent(spark, sf_smoke):
    """KLL/t-digest merge order may differ between the two pipelines, so
    equivalence is estimate-within-bound, not byte equality."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    total = li.count()
    (kll_res, td_res) = build_sketches(
        li, [("l_extendedprice", kll_spec(k=200)),
             ("l_extendedprice", tdigest_spec(delta=200))])
    for med in (float(KLL.quantile(kll_res.state, [0.5])[0]),
                float(TDIGEST.quantile(td_res.state, [0.5])[0])):
        rank = li.where(F.col("l_extendedprice") <= med).count() / total
        assert abs(rank - 0.5) <= 0.03


def test_multi_build_forced_shards(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    n = li.count()
    (res,) = build_sketches(li, [("l_orderkey", bloom_spec(n, 0.01))],
                            num_shards=17)
    baseline = build_sketch(li, "l_orderkey", bloom_spec(n, 0.01))
    assert res.state_bytes == baseline.state_bytes  # OR is placement-free
    assert res.num_partials == 17


def test_weighted_cms_never_undercounts(spark, sf_smoke):
    from sketchlib.sketch import CMS
    import numpy as np

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    res = build_sketch(li, ("l_suppkey", "l_quantity"), cms_spec(d=5, w=2048))
    exact = {r["l_suppkey"]: r["q"] for r in
             li.groupBy("l_suppkey").agg(
                 F.sum("l_quantity").alias("q")).collect()}
    keys = np.array(sorted(exact), np.int64)
    est = CMS.estimate(res.state, keys)
    truth = np.array([exact[k] for k in keys])
    eps_n = np.e / 2048 * res.state.n_total
    assert (est >= np.floor(truth)).all()
    assert (est <= truth + eps_n).all()


def test_salting_splits_hot_group(spark, sf_test):
    """The skew mechanism itself: under the salted two-phase strategy, the
    hot group's rows (host 0 = 40% of all pages) are built by MULTIPLE
    phase-1 tasks — no single task owns the head of the Zipf curve."""
    from sketchlib.webtext import webpages

    # coalesce(1): even when the crawl arrives as ONE split, value-hash
    # salting still fans the hot host out (partition-id salting would not)
    wp = webpages(spark, sf_test).coalesce(1)
    sel = wp.select("host_id", F.col("url").alias("__v")) \
        .withColumn("__salt", F.pmod(F.xxhash64("__v", F.lit(29)), F.lit(8)))
    phase1_groups = (sel.groupBy("host_id", "__salt").count()
                     .where(F.col("host_id") == 0).count())
    assert phase1_groups >= 4  # hot host spread over >= 4 salt buckets


def test_grouped_strategies_agree(spark, sf_smoke):
    """local_combine (map-side combine, shuffle states) and shuffle
    (salted two-phase) must produce identical per-group HLL registers —
    max-merge is order- and placement-independent."""
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    a = {r["event_type"]: bytes(r["state"]) for r in
         sketch_grouped(ev, ["event_type"], "user_id", hll_spec(p=12),
                        strategy="shuffle").collect()}
    b = {r["event_type"]: bytes(r["state"]) for r in
         sketch_grouped(ev, ["event_type"], "user_id", hll_spec(p=12),
                        strategy="local_combine").collect()}
    assert a == b
    # and the estimates stay within the HLL bound
    exact = {r["event_type"]: r["c"] for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("c")).collect()}
    for et, blob in a.items():
        est = HLL.cardinality(HLL.deserialize(blob))
        assert abs(est - exact[et]) <= max(5 * 1.04 / (2**12) ** 0.5 * exact[et], 3)


def test_grouped_engine_generalizes_to_new_kinds(spark, sf_smoke):
    """sketch_grouped is spec-generic: per-group KMV (distinct estimate +
    sample) and per-group MG (exact-bound heavy hitters) work through the
    same salted path the mandated kinds use."""
    from sketchlib.agg import kmv_spec, mg_spec, sketch_grouped
    from sketchlib.sketch import KMV, MG

    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    exact = {r["event_type"]: r["c"] for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("c")).collect()}

    kmv_states = {r["event_type"]: KMV.deserialize(bytes(r["state"])) for r in
                  sketch_grouped(ev, ["event_type"], "user_id",
                                 kmv_spec(k=256)).collect()}
    assert set(kmv_states) == set(exact)
    for t, st in kmv_states.items():
        est = KMV.distinct_count(st)
        assert abs(est - exact[t]) <= 5 * KMV.rel_error(st) * exact[t] + 3

    mg_states = {r["event_type"]: MG.deserialize(bytes(r["state"])) for r in
                 sketch_grouped(ev, ["event_type"], "user_id",
                                mg_spec(cap=64)).collect()}
    totals = {r["event_type"]: r["c"] for r in
              ev.groupBy("event_type").count()
              .withColumnRenamed("count", "c").collect()}
    for t, st in mg_states.items():
        assert st.n_total == totals[t]
        assert st.decr_total <= st.n_total / (st.cap + 1)
