"""Single-pass multi-sketch build and the grouped build: the
scan-sharing and shuffle-avoidance paths must produce states equivalent
to the reference single-sketch pipeline and to the driver's update."""

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


def _group_values(table, group_col: str, value_col: str) -> dict:
    """{group: its non-null values} of an Arrow table, in row order."""
    out = {}
    for g, v in zip(table.column(group_col).to_pylist(),
                    table.column(value_col).to_pylist()):
        vals = out.setdefault(g, [])
        if v is not None:
            vals.append(v)
    return out


def test_grouped_states_match_driver_update(spark, sf_smoke):
    """The grouped build hashes keys in the JVM and folds each group of a
    partition at once; every group's HLL state must equal, byte for byte,
    the driver's HLL.update over that group's values (register max is
    placement-independent), and its n must count them."""
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    spec = hll_spec(p=12)
    got = {r["event_type"]: (bytes(r["state"]), r["n"]) for r in
           sketch_grouped(ev, ["event_type"], "user_id", spec).collect()}
    want = {g: (HLL.serialize(HLL.update(spec.create(), vals)), len(vals))
            for g, vals in _group_values(
                ev.select("event_type", "user_id").toArrow(),
                "event_type", "user_id").items()}
    assert got == want


def test_grouped_builds_fold_multi_batch_partitions(spark, tmp_path):
    """Regression: a task whose partition arrives as several Arrow batches
    (a later batch bringing no new group) must fold, not crash, in every
    grouped entry point — sketch_grouped, sketch_grouped_rollup and
    StreamingGroupedSketch — and each group's state must equal the
    driver's HLL.update over that group's values."""
    import json

    from sketchlib.agg import sketch_grouped_rollup
    from sketchlib.streaming import StreamingGroupedSketch

    spec = hll_spec(12)
    df = spark.range(0, 200_000, 1, 1).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") % 6).alias("g6"))
    want = {g: HLL.serialize(HLL.update(spec.create(), vals)) for g, vals in
            _group_values(df.toArrow(), "g", "id").items()}
    assert len(want) == 3

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    # several batches per task whatever the core count (widen splits the
    # one input split into defaultParallelism partitions)
    spark.conf.set(conf, "16384")
    try:
        grouped = {r["g"]: bytes(r["state"]) for r in
                   sketch_grouped(df, ["g"], "id", spec).collect()}
        rolled = {r["g"]: (bytes(r["state"]), r["fine_groups"]) for r in
                  sketch_grouped_rollup(df, ["g6"], ["g"], "id",
                                        spec).collect()}
        ss = StreamingGroupedSketch(spec, str(tmp_path / "gstate"), ["g"],
                                    "id")
        ss.process_batch(df, 0)
    finally:
        spark.conf.set(conf, old)
    assert grouped == want
    assert rolled == {g: (st, 2) for g, st in want.items()}
    assert {json.loads(k)[0]: v["state"] for k, v in ss.groups.items()} \
        == {str(g): st for g, st in want.items()}


def test_grouped_engine_generalizes_to_new_kinds(spark, sf_smoke):
    """sketch_grouped is spec-generic: per-group KMV (distinct estimate +
    sample) and per-group MG (exact-bound heavy hitters) work through the
    same grouped fold the hashed kinds use."""
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
