"""Spark end-to-end tests for the aggregation engine (SURVEY §5.6):
distributed builds over the driver's parquet tables, cross-checked against
exact answers and Spark's own built-ins."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.agg import (
    bloom_contains_col,
    bloom_spec,
    build_partials,
    build_partials_keyed,
    build_sketch,
    cms_estimate_col,
    cms_spec,
    hll_spec,
    kll_spec,
    sketch_grouped,
    tdigest_spec,
)
from sketchlib.sketch import BLOOM, CMS, HLL, KLL, TDIGEST


@pytest.fixture(scope="module")
def customer(spark, sf_test):
    return spark.read.parquet(f"{sf_test}/customer.parquet")


@pytest.fixture(scope="module")
def orders(spark, sf_test):
    return spark.read.parquet(f"{sf_test}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark, sf_test):
    return spark.read.parquet(f"{sf_test}/lineitem.parquet")


@pytest.fixture(scope="module")
def events(spark, sf_test):
    return spark.read.parquet(f"{sf_test}/events.parquet")


class TestBloomEndToEnd:
    def test_membership_no_false_negatives(self, spark, customer, orders):
        n = customer.count()
        res = build_sketch(customer, "c_custkey", bloom_spec(n, 0.01))
        assert res.n_rows == n
        probes = orders.select("o_custkey").distinct()
        hit = probes.withColumn(
            "hit", bloom_contains_col(spark, res.state_bytes, F.col("o_custkey")))
        # FK-clean: every o_custkey is a real customer => all present
        assert hit.where(~F.col("hit")).count() == 0

    @pytest.mark.parametrize("base, step", [(1, 1), (2**53 + 1, 4)],
                             ids=["small", "above_2p53"])
    def test_nullable_long_key_no_false_negatives(self, spark, tmp_path,
                                                  base, step):
        """Regression: a pandas batch promotes a nullable LongType column
        to float64 (null -> NaN), which rounds keys above 2^53 — so a
        probe batch holding a null false-negatived large members, and a
        keyed checkpoint build hashed a different key set than the Arrow
        build.  Every build and probe path now reads the column through
        Arrow's validity bitmap, keeping int64 keys exact.

        False negatives are counted with an aggregate: a `k IS NOT NULL`
        filter would be pushed below the UDF and no probe batch would
        ever hold a null."""
        from sketchlib.checkpoint import checkpointed_build, sharded_contains

        rows = [(base + step * i if i % 5 else None,) for i in range(1, 2_001)]
        df = spark.createDataFrame(rows, "k long").repartition(4)
        n_real = sum(1 for (v,) in rows if v is not None)
        spec = bloom_spec(n_real, 0.01)
        res = build_sketch(df, "k", spec)
        assert res.n_rows == n_real  # nulls contribute nothing

        def misses(hit):
            # (real keys probed not-member, null keys probed member)
            k = F.col("k")
            return tuple(df.withColumn("hit", hit).agg(
                F.sum((k.isNotNull() & ~F.col("hit")).cast("long")),
                F.sum((k.isNull() & F.col("hit")).cast("long"))).first())

        assert misses(bloom_contains_col(spark, res.state_bytes,
                                         F.col("k"))) == (0, 0)
        # the same state built from a null-free frame is byte-identical
        clean = build_sketch(df.where(F.col("k").isNotNull()), "k", spec)
        assert clean.state_bytes == res.state_bytes
        # the keyed checkpoint build hashes the same keys as the Arrow build
        ckpt = checkpointed_build(df, "k", spec, route_cols=["k"],
                                  num_shards=4, shard_sized=False,
                                  ckpt_dir=str(tmp_path / "merged"))
        assert ckpt.state_bytes == res.state_bytes
        # and the routed bank probe finds every member
        bank_dir = str(tmp_path / "bank")
        checkpointed_build(df, "k", spec, route_cols=["k"], num_shards=4,
                           shard_sized=True, ckpt_dir=bank_dir)
        fn = sharded_contains(df, "k", bank_dir).agg(F.sum(
            (F.col("k").isNotNull() & ~F.col("member")).cast("long"))).first()[0]
        assert fn == 0

    def test_double_key_probe_matches_build_domain(self, spark):
        """Regression: bloom_contains_col coerced every numeric probe to
        int64, so a Bloom built over a DoubleType column answered False
        for every inserted key — silently emptying bloom_prune_join.
        Also pins the canonical cross-type rule: an integral double probes
        equal to the same integer (SQL 100 = 100.0 semantics)."""
        vals = [float(i) + (0.5 if i % 3 == 0 else 0.0) for i in range(1, 2_001)]
        df = spark.createDataFrame([(v,) for v in vals], "k double")
        res = build_sketch(df, "k", bloom_spec(len(vals), 0.01))
        probed = df.withColumn(
            "hit", bloom_contains_col(spark, res.state_bytes, F.col("k")))
        assert probed.where(~F.col("hit")).count() == 0
        # integer-typed probes of the integral doubles are members too
        ints = spark.createDataFrame(
            [(int(v),) for v in vals if v == int(v)], "k long")
        int_probed = ints.withColumn(
            "hit", bloom_contains_col(spark, res.state_bytes, F.col("k")))
        assert int_probed.where(~F.col("hit")).count() == 0

    def test_cms_estimate_null_keys_zero(self, spark):
        df = spark.createDataFrame(
            [(i % 5 if i % 11 else None,) for i in range(1, 1_101)], "k long")
        res = build_sketch(df, "k", cms_spec())
        est = df.withColumn(
            "est", cms_estimate_col(spark, res.state_bytes, F.col("k")))
        # null keys estimate 0; real keys >= their true count (CMS one-sided)
        assert est.where(F.col("k").isNull() & (F.col("est") != 0)).count() == 0
        true_counts = {r["k"]: r["c"] for r in
                       df.where("k IS NOT NULL").groupBy("k")
                       .agg(F.count("*").alias("c")).collect()}
        for r in est.where("k IS NOT NULL").distinct().collect():
            assert r["est"] >= true_counts[r["k"]]

    def test_binary_column_non_utf8_build_and_probe(self, spark):
        """Regression: BinaryType columns once went through a utf8-validating
        string cast, which crashed the task on any non-UTF8 payload — so
        grouped sketches and probes over raw-bytes columns (WARC payloads,
        hashes) died.  Also pins domain agreement between the build, the
        broadcast probe and the grouped build over the same column."""
        rows = [(i % 3, bytes([0xFF, 0xFE, i % 251]) + f"k{i}".encode())
                for i in range(600)]
        df = spark.createDataFrame(rows, "g int, payload binary")
        # Arrow build path over binary keys
        res = build_sketch(df, "payload", bloom_spec(600, 0.01))
        assert res.n_rows == 600
        # broadcast probe over the same binary column: zero FN
        probed = df.withColumn(
            "hit", bloom_contains_col(spark, res.state_bytes, F.col("payload")))
        assert probed.where(~F.col("hit")).count() == 0
        # grouped build over binary values
        from sketchlib.agg import sketch_grouped
        from sketchlib.sketch import HLL
        grouped = sketch_grouped(df, ["g"], "payload", hll_spec(p=12))
        out = {r["g"]: HLL.cardinality(HLL.deserialize(r["state"]))
               for r in grouped.collect()}
        assert set(out) == {0, 1, 2}
        for g, est in out.items():
            assert abs(est - 200) / 200 < 0.1

    def test_fp_rate_bounded(self, spark, customer):
        n = customer.count()
        res = build_sketch(customer, "c_custkey", bloom_spec(n, 0.01))
        fresh = spark.range(10_000_000, 10_050_000).select(
            F.col("id").alias("key"))
        hits = fresh.withColumn(
            "hit", bloom_contains_col(spark, res.state_bytes, F.col("key")))
        fp_rate = hits.where("hit").count() / 50_000
        bound = res.state.m_bits and res.ops.stats(res.state)["fpp_bound"]
        assert fp_rate <= max(2 * bound, bound + 4 * np.sqrt(bound / 50_000))

    def test_distributed_equals_local(self, spark, customer):
        """Build-split invariance on a real cluster path: the distributed
        state is byte-identical to a single-process build."""
        n = customer.count()
        spec = bloom_spec(n, 0.01)
        dist = build_sketch(customer.repartition(16), "c_custkey", spec)
        keys = np.array([r["c_custkey"] for r in customer.collect()], np.int64)
        local = spec.create()
        BLOOM.update(local, keys)
        assert np.array_equal(dist.state.words, local.words)
        assert dist.state.n_inserted == local.n_inserted

    def test_keyed_build_deterministic_shards(self, spark, customer):
        n = customer.count()
        spec = bloom_spec(n, 0.01)
        p1 = build_partials_keyed(customer, "c_custkey", spec,
                                  ["c_custkey"], 8).collect()
        p2 = build_partials_keyed(customer.repartition(3), "c_custkey", spec,
                                  ["c_custkey"], 8).collect()
        by_shard1 = {r["shard"]: (bytes(r["state"]), r["n"]) for r in p1}
        by_shard2 = {r["shard"]: (bytes(r["state"]), r["n"]) for r in p2}
        # shard contents are a function of the data, not the physical split
        assert by_shard1 == by_shard2


class TestHllEndToEnd:
    def test_distinct_partkeys(self, spark, lineitem):
        res = build_sketch(lineitem, "l_partkey", hll_spec(p=14))
        exact = lineitem.select("l_partkey").distinct().count()
        est = HLL.cardinality(res.state)
        assert abs(est - exact) <= max(5 * 1.04 / np.sqrt(2**14) * exact, 3)

    def test_grouped_distinct_users(self, spark, events):
        grouped = sketch_grouped(events, ["event_type"], "user_id",
                                 hll_spec(p=12))
        rows = grouped.collect()
        exact = {r["event_type"]: r["cnt"] for r in events.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("cnt")).collect()}
        assert set(r["event_type"] for r in rows) == set(exact)
        for r in rows:
            est = HLL.cardinality(HLL.deserialize(bytes(r["state"])))
            true = exact[r["event_type"]]
            assert abs(est - true) <= max(0.08 * true, 3), (r["event_type"], est, true)

    def test_matches_spark_builtin_direction(self, spark, lineitem):
        """Sanity: our estimate and Spark's HLL++ approx_count_distinct
        should both be near the exact count."""
        res = build_sketch(lineitem, "l_orderkey", hll_spec(p=14))
        builtin = lineitem.agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("a")).collect()[0]["a"]
        est = HLL.cardinality(res.state)
        exact = lineitem.select("l_orderkey").distinct().count()
        assert abs(est - exact) / exact < 0.05
        assert abs(builtin - exact) / exact < 0.05


class TestCmsEndToEnd:
    def test_point_frequencies(self, spark, orders):
        res = build_sketch(orders, "o_orderpriority", cms_spec(d=5, w=2048))
        exact = {r["o_orderpriority"]: r["cnt"] for r in
                 orders.groupBy("o_orderpriority").count()
                 .withColumnRenamed("count", "cnt").collect()}
        state = res.state
        keys = list(exact)
        import pyarrow as pa
        ests = CMS.estimate(state, pa.array(keys, type=pa.large_string()))
        eps = np.e / state.w
        for k, est in zip(keys, ests):
            assert est >= exact[k]
            assert est <= exact[k] + eps * state.n_total


class TestQuantilesEndToEnd:
    def test_kll_prices(self, spark, lineitem):
        res = build_sketch(lineitem, "l_extendedprice", kll_spec(k=200))
        qs = [0.01, 0.25, 0.5, 0.75, 0.99]
        est = KLL.quantile(res.state, qs)
        total = lineitem.count()
        for q, v in zip(qs, est):
            rank = lineitem.where(F.col("l_extendedprice") <= float(v)).count() / total
            assert abs(rank - q) <= 0.015, (q, rank)

    def test_tdigest_event_values(self, spark, events):
        res = build_sketch(events, "value", tdigest_spec(delta=200))
        total = events.where(F.col("value").isNotNull()).count()
        for q in [0.05, 0.5, 0.95]:
            v = float(TDIGEST.quantile(res.state, [q])[0])
            rank = events.where(F.col("value") <= v).count() / total
            assert abs(rank - q) <= 0.02, (q, rank)

    def test_kll_matches_percentile_approx_direction(self, spark, lineitem):
        res = build_sketch(lineitem, "l_extendedprice", kll_spec(k=200))
        ours = float(KLL.quantile(res.state, [0.5])[0])
        builtin = lineitem.agg(
            F.percentile_approx("l_extendedprice", 0.5).alias("m")).collect()[0]["m"]
        exact_med = lineitem.approxQuantile("l_extendedprice", [0.5], 0.0)[0]
        assert abs(ours - exact_med) / exact_med < 0.05
        assert abs(builtin - exact_med) / exact_med < 0.05


class TestTreeMergeTopology:
    def test_many_partitions_tree_merge(self, spark, lineitem):
        """64 partials, fanout 4 -> 3 merge rounds; result identical to
        single-round merge."""
        spec = hll_spec(p=12)
        res_tree = build_sketch(lineitem.repartition(64), "l_partkey", spec,
                                num_shards=64, fanout=4)
        res_flat = build_sketch(lineitem, "l_partkey", spec)
        assert np.array_equal(res_tree.state.registers, res_flat.state.registers)

    def test_empty_input(self, spark, lineitem):
        empty = lineitem.where("l_orderkey < 0")
        res = build_sketch(empty, "l_partkey", hll_spec(p=10))
        assert res.n_rows == 0
        assert HLL.cardinality(res.state) == 0.0

    def test_sharded_partials_and_metrics(self, spark, customer):
        n = customer.count()
        spec = bloom_spec(n, 0.01)
        parts = build_partials(customer, "c_custkey", spec,
                               num_shards=8).collect()
        assert len(parts) == 8
        assert sum(r["n"] for r in parts) == n
        res = build_sketch(customer, "c_custkey", spec, num_shards=8)
        assert res.num_partials == 8 and res.n_rows == n
        m = res.metrics()
        assert m["n_rows"] == n and m["kind"] == "bloom"


class TestRollupStates:
    def test_rollup_matches_direct_coarse_build(self, spark):
        """10k fine-grained HLL states rolled up to 50 coarse groups must be
        byte-identical to sketching the coarse grouping directly (register
        max is associative/commutative — the grouping path cannot matter).
        All merging happens executor-side: no driver collect of states."""
        from sketchlib.agg import rollup_states, sketch_grouped

        spec = hll_spec(p=8)
        df = (spark.range(0, 200_000, 1, 16)
              .withColumn("fine", F.col("id") % 10_000)
              .withColumn("coarse", F.col("fine") % 50)
              .withColumn("v", F.col("id") % 7_000))
        fine = sketch_grouped(df, ["fine", "coarse"], "v", spec)
        assert fine.count() == 10_000
        rolled = {r["coarse"]: (bytes(r["state"]), r["n"])
                  for r in rollup_states(fine, ["coarse"], spec).collect()}
        direct = {r["coarse"]: (bytes(r["state"]), r["n"])
                  for r in sketch_grouped(df, ["coarse"], "v", spec).collect()}
        assert rolled == direct

    def test_fused_rollup_matches_two_call_form(self, spark):
        """sketch_grouped_rollup (one grouped pass) must agree with
        sketch_grouped -> rollup_states on states, counts, and fan-in: the
        fusion is a physical-plan change only."""
        from sketchlib.agg import (rollup_states, sketch_grouped,
                                   sketch_grouped_rollup)

        spec = hll_spec(p=8)
        df = (spark.range(0, 100_000, 1, 16)
              .withColumn("fine", F.col("id") % 400)
              .withColumn("coarse", F.col("fine") % 20)
              .withColumn("v", F.col("id") % 7_000))
        fused = {r["coarse"]: (bytes(r["state"]), r["n"], r["fine_groups"])
                 for r in sketch_grouped_rollup(
                     df, ["fine"], ["coarse"], "v", spec).collect()}
        fine = sketch_grouped(df, ["fine", "coarse"], "v", spec)
        two_call = {r["coarse"]: (bytes(r["state"]), r["n"])
                    for r in rollup_states(fine, ["coarse"], spec).collect()}
        assert set(fused) == set(two_call) and len(fused) == 20
        for k, (state, n, fine_groups) in fused.items():
            assert (state, n) == two_call[k]
            assert fine_groups == 20  # 400 fine groups over 20 coarse

    def test_fused_rollup_rejects_bad_args(self, spark):
        """Overlapping fine/coarse columns used to crash deep inside the
        python worker (duplicate pandas groupby label); now they raise up
        front on the driver."""
        from sketchlib.agg import sketch_grouped_rollup

        spec = hll_spec(p=8)
        df = (spark.range(0, 100, 1, 2)
              .withColumn("region", F.col("id") % 5)
              .withColumn("city", F.col("id") % 25)
              .withColumn("v", F.col("id")))
        with pytest.raises(ValueError, match="overlap.*region"):
            sketch_grouped_rollup(df, ["region", "city"], ["region"],
                                  "v", spec)


def test_probe_state_memo_one_deserialize_per_state():
    """Probe UDFs memoize the deserialized broadcast state per worker
    process (round-3 verdict finding #2): repeated Arrow batches against
    the same blob must deserialize once, a different blob once more, and
    the LRU stays bounded."""
    import numpy as np

    from sketchlib import agg as aggmod
    from sketchlib.sketch import BLOOM

    st1 = BLOOM.update(BLOOM.create(100, 0.01), np.arange(50, dtype=np.int64))
    st2 = BLOOM.update(BLOOM.create(100, 0.01), np.arange(99, dtype=np.int64))
    b1, b2 = BLOOM.serialize(st1), BLOOM.serialize(st2)

    aggmod._PROBE_MEMO.clear()
    base = aggmod._probe_memo_deserializes
    s_a = aggmod._memo_deserialize(BLOOM, b1)
    s_b = aggmod._memo_deserialize(BLOOM, b1)  # same blob: cache hit
    assert aggmod._probe_memo_deserializes == base + 1
    assert s_a is s_b
    aggmod._memo_deserialize(BLOOM, b2)  # different blob: one more
    assert aggmod._probe_memo_deserializes == base + 2
    # memoized state answers identically to a fresh deserialize
    probes = np.arange(120, dtype=np.int64)
    assert (BLOOM.contains(s_a, probes)
            == BLOOM.contains(BLOOM.deserialize(b1), probes)).all()

    # Bytes-bounded LRU: a full bank's worth of distinct shard blobs
    # (S = 4 x cores on a 32-core box) stays resident — each deserializes
    # exactly once across repeated probe rounds (a count bound of 8 here
    # would thrash and re-deserialize every blob per round)
    blobs = []
    for i in range(128):
        st = BLOOM.update(BLOOM.create(64, 0.01),
                          np.arange(i + 1, dtype=np.int64))
        blobs.append(BLOOM.serialize(st))
    aggmod._PROBE_MEMO.clear()
    base = aggmod._probe_memo_deserializes
    for b in blobs * 3:
        aggmod._memo_deserialize(BLOOM, b)
    assert aggmod._probe_memo_deserializes == base + len(blobs)

    # past the byte budget, oldest entries evict and the charged total
    # stays within budget
    old_budget = aggmod._PROBE_MEMO_MAX_BYTES
    try:
        aggmod._PROBE_MEMO_MAX_BYTES = sum(len(b) for b in blobs[:16])
        aggmod._PROBE_MEMO.clear()
        for b in blobs:
            aggmod._memo_deserialize(BLOOM, b)
        assert sum(k[1] for k in aggmod._PROBE_MEMO) \
            <= aggmod._PROBE_MEMO_MAX_BYTES
        assert len(aggmod._PROBE_MEMO) < len(blobs)
    finally:
        aggmod._PROBE_MEMO_MAX_BYTES = old_budget


def test_kll_rollup_day_gate_accepts_sparse_gapped_day(spark, tmp_path):
    """The day-median gate must accept rank-valid KLL answers on sparse
    days with a value gap at the median: a 2-event day {0, 1e6} has NO
    value inside the interpolated [q45, q55] band (450k..550k), yet both
    retained samples are within the discrete order-statistic band
    [x_ceil(0.45n), x_ceil(0.55n)] = [0, 1e6] that KLL's rank guarantee
    actually implies.  Guards the percentile_disc band in kll_rollup_day
    against regressing to interpolation."""
    import datetime as dt

    from sketchlib.queries import QUERIES

    rows = [(dt.datetime(2024, 1, 1, 0, 5), 0.0),
            (dt.datetime(2024, 1, 1, 1, 5), 1_000_000.0)]
    # plus a dense day so the gate also sees the normal regime
    rows += [(dt.datetime(2024, 1, 2, h % 24, h % 60), float(h % 97))
             for h in range(500)]
    spark.createDataFrame(rows, "ts timestamp, value double") \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = {str(r["day"]): (r["n_values"], r["ok"])
           for r in QUERIES["kll_rollup_day"](spark, str(tmp_path)).collect()}
    assert out["2024-01-01 00:00:00"] == (2, True)
    assert out["2024-01-02 00:00:00"] == (500, True)
