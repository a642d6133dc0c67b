"""Error-bound tests for HLL / CMS / KLL / t-digest (SURVEY §5.5) against
exact answers on seeded data — each algorithm's published bound with a
test-tolerance factor."""

import numpy as np
import pytest

from sketchlib.sketch import CMS, HLL, KLL, TDIGEST


class TestHll:
    @pytest.mark.parametrize("true_card", [100, 1_000, 10_000, 200_000])
    def test_cardinality_within_bound(self, true_card):
        state = HLL.create(p=14)
        keys = np.arange(true_card, dtype=np.int64)
        for i in range(0, true_card, 50_000):
            HLL.update(state, keys[i : i + 50_000])
        est = HLL.cardinality(state)
        rel = 1.04 / np.sqrt(2**14)
        assert abs(est - true_card) <= max(5 * rel * true_card, 3), (est, true_card)

    def test_duplicates_dont_inflate(self):
        state = HLL.create(p=12)
        for _ in range(5):
            HLL.update(state, np.arange(1000, dtype=np.int64))
        est = HLL.cardinality(state)
        assert abs(est - 1000) <= 0.1 * 1000

    def test_empty(self):
        assert HLL.cardinality(HLL.create(p=12)) == 0.0

    def test_merge_equals_union(self):
        a, b = HLL.create(p=12), HLL.create(p=12)
        HLL.update(a, np.arange(0, 5000, dtype=np.int64))
        HLL.update(b, np.arange(2500, 7500, dtype=np.int64))
        merged = HLL.merge(a, b)
        whole = HLL.create(p=12)
        HLL.update(whole, np.arange(7500, dtype=np.int64))
        assert np.array_equal(merged.registers, whole.registers)  # byte-equal

    def test_string_keys(self):
        state = HLL.create(p=12)
        HLL.update(state, [f"user-{i}" for i in range(3000)])
        assert abs(HLL.cardinality(state) - 3000) <= 0.1 * 3000

    def test_serialization_roundtrip(self):
        state = HLL.create(p=10)
        HLL.update(state, np.arange(500, dtype=np.int64))
        back = HLL.deserialize(HLL.serialize(state))
        assert np.array_equal(back.registers, state.registers)
        assert HLL.cardinality(back) == HLL.cardinality(state)


class TestCms:
    def test_point_estimates_eps_delta(self):
        rng = np.random.default_rng(42)
        # zipf-ish frequencies over 2000 distinct keys
        keys = rng.zipf(1.3, size=200_000) % 2000
        state = CMS.create(d=5, w=4096)
        CMS.update(state, keys.astype(np.int64))
        uniq, exact = np.unique(keys, return_counts=True)
        est = CMS.estimate(state, uniq.astype(np.int64))
        eps, delta = CMS.error_bound(state)
        assert np.all(est >= exact)  # never undercounts
        over = est - exact
        frac_over_bound = np.mean(over > eps * state.n_total)
        assert frac_over_bound <= delta * 2 + 0.01, frac_over_bound

    def test_weighted_updates(self):
        state = CMS.create(d=5, w=1024)
        CMS.update(state, np.array([1, 2], np.int64), weights=np.array([10.0, 3.0]))
        est = CMS.estimate(state, np.array([1, 2], np.int64))
        assert est[0] >= 10 and est[1] >= 3
        assert state.n_total == 13

    def test_fractional_weights_never_undercount(self):
        """Regression: the uint64 table truncated per-batch fractional
        weight sums (10 updates of 0.5 estimated 0, n_total 10 -> 5),
        violating the est >= true guarantee build_cms_weighted documents
        for revenue/bytes measures."""
        state = CMS.create(d=5, w=1024)
        keys = np.arange(10, dtype=np.int64)
        CMS.update(state, keys, weights=np.full(10, 0.5))
        est = CMS.estimate(state, keys)
        assert np.all(est >= 1)  # ceil(0.5): one-sided, never 0
        assert state.n_total == 5.0
        # split-vs-whole merge stays one-sided with fractional mass
        a = CMS.update(CMS.create(d=5, w=1024), keys[:5], weights=np.full(5, 0.25))
        b = CMS.update(CMS.create(d=5, w=1024), keys[5:], weights=np.full(5, 0.25))
        merged = CMS.merge(a, b)
        assert np.all(CMS.estimate(merged, keys) >= 1)
        assert merged.n_total == 2.5

    def test_negative_or_nonfinite_weights_rejected(self):
        """Regression: a negative weight used to wrap through uint64 to
        ~1.8e19 in every touched cell; NaN/inf corrupted n_total."""
        state = CMS.create(d=5, w=1024)
        for bad in ([-1.0], [float("nan")], [float("inf")]):
            with pytest.raises(ValueError, match="finite and >= 0"):
                CMS.update(state, np.array([1], np.int64),
                           weights=np.array(bad))
        with pytest.raises(ValueError, match="length"):
            CMS.update(state, np.array([1, 2], np.int64),
                       weights=np.array([1.0]))

    def test_uint64_wire_blob_still_deserializes(self):
        """A uint64 table (the pre-float64 layout) in a frame stamped with
        the current hash domain: the dtype travels in the wire frame and
        the cast to float64 is value-preserving.  Without the stamp the
        blob is from the murmur3 domain and is refused."""
        from sketchlib.hashing import HASH_DOMAIN
        from sketchlib.sketch.protocol import pack_state
        st = CMS.create(d=3, w=64)
        CMS.update(st, np.arange(100, dtype=np.int64))
        header = {"d": st.d, "w": st.w, "n": int(st.n_total)}
        unstamped = pack_state(CMS.name, header,
                               [st.table.astype(np.uint64).ravel()])
        with pytest.raises(ValueError, match="rebuild"):
            CMS.deserialize(unstamped)
        old_blob = pack_state(
            CMS.name, {**header, "hd": HASH_DOMAIN},
            [st.table.astype(np.uint64).ravel()])
        back = CMS.deserialize(old_blob)
        assert back.table.dtype == np.float64
        assert np.array_equal(back.table, st.table)
        assert np.array_equal(
            CMS.estimate(back, np.arange(100, dtype=np.int64)),
            CMS.estimate(st, np.arange(100, dtype=np.int64)))

    def test_merge_equals_union(self):
        a, b = CMS.create(d=4, w=512), CMS.create(d=4, w=512)
        CMS.update(a, np.arange(100, dtype=np.int64))
        CMS.update(b, np.arange(50, 150, dtype=np.int64))
        merged = CMS.merge(a, b)
        whole = CMS.create(d=4, w=512)
        CMS.update(whole, np.concatenate([np.arange(100), np.arange(50, 150)]).astype(np.int64))
        assert np.array_equal(merged.table, whole.table)  # byte-equal
        assert merged.n_total == whole.n_total == 200

    def test_eps_config(self):
        st = CMS.create(eps=0.001, delta=0.01)
        assert st.w >= np.e / 0.001 - 1
        assert st.d >= np.log(100) - 1

    def test_serialization_roundtrip(self):
        state = CMS.create(d=3, w=256)
        CMS.update(state, [f"tok{i % 17}" for i in range(100)])
        back = CMS.deserialize(CMS.serialize(state))
        assert np.array_equal(back.table, state.table)


class TestKll:
    def test_rank_error_uniform(self):
        rng = np.random.default_rng(1)
        data = rng.uniform(0, 1000, 500_000)
        state = KLL.create(k=200)
        for i in range(0, data.size, 50_000):
            KLL.update(state, data[i : i + 50_000])
        assert state.n == data.size
        qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
        est = KLL.quantile(state, qs)
        exact_rank = np.searchsorted(np.sort(data), est) / data.size
        assert np.max(np.abs(exact_rank - qs)) < 0.015, exact_rank - qs

    def test_skewed_distribution(self):
        rng = np.random.default_rng(2)
        data = rng.lognormal(0, 2, 200_000)
        state = KLL.create(k=200)
        KLL.update(state, data)
        est = KLL.quantile(state, [0.5])
        exact_rank = np.searchsorted(np.sort(data), est[0]) / data.size
        assert abs(exact_rank - 0.5) < 0.02

    def test_rank_query(self):
        state = KLL.create(k=200)
        KLL.update(state, np.arange(10_000, dtype=np.float64))
        r = KLL.rank(state, [2500.0, 7500.0])
        assert abs(r[0] - 0.25) < 0.02 and abs(r[1] - 0.75) < 0.02

    def test_small_exact(self):
        state = KLL.create(k=200)
        KLL.update(state, np.array([1.0, 2.0, 3.0, 4.0, 5.0]))
        assert KLL.quantile(state, [0.5])[0] == 3.0

    def test_merge_rank_equivalence(self):
        rng = np.random.default_rng(3)
        a_data, b_data = rng.normal(0, 1, 100_000), rng.normal(0, 1, 100_000)
        a, b = KLL.create(200), KLL.create(200)
        KLL.update(a, a_data)
        KLL.update(b, b_data)
        merged = KLL.merge(a, b)
        assert merged.n == 200_000
        alldata = np.sort(np.concatenate([a_data, b_data]))
        qs = np.array([0.1, 0.5, 0.9])
        est = KLL.quantile(merged, qs)
        rank = np.searchsorted(alldata, est) / alldata.size
        assert np.max(np.abs(rank - qs)) < 0.02

    def test_nan_ignored(self):
        state = KLL.create(k=200)
        KLL.update(state, np.array([1.0, np.nan, 3.0]))
        assert state.n == 2

    def test_serialization_roundtrip(self):
        state = KLL.create(k=100)
        KLL.update(state, np.random.default_rng(4).uniform(size=10_000))
        back = KLL.deserialize(KLL.serialize(state))
        assert back.n == state.n
        qs = [0.1, 0.5, 0.9]
        assert np.array_equal(KLL.quantile(back, qs), KLL.quantile(state, qs))


class TestTDigest:
    def test_rank_error_tails_tight(self):
        rng = np.random.default_rng(5)
        data = rng.normal(0, 1, 500_000)
        state = TDIGEST.create(delta=200)
        for i in range(0, data.size, 50_000):
            TDIGEST.update(state, data[i : i + 50_000])
        sorted_data = np.sort(data)
        for q, tol in [(0.001, 0.002), (0.01, 0.005), (0.5, 0.02), (0.99, 0.005), (0.999, 0.002)]:
            est = TDIGEST.quantile(state, [q])[0]
            rank = np.searchsorted(sorted_data, est) / data.size
            assert abs(rank - q) < tol, (q, rank)

    def test_extremes_exact(self):
        state = TDIGEST.create(delta=100)
        data = np.arange(10_000, dtype=np.float64)
        TDIGEST.update(state, data)
        assert TDIGEST.quantile(state, [0.0])[0] == 0.0
        assert TDIGEST.quantile(state, [1.0])[0] == 9999.0

    def test_merge_rank_equivalence(self):
        rng = np.random.default_rng(6)
        parts = [rng.uniform(0, 100, 50_000) for _ in range(4)]
        states = []
        for part in parts:
            st = TDIGEST.create(delta=200)
            TDIGEST.update(st, part)
            states.append(st)
        merged = states[0]
        for st in states[1:]:
            merged = TDIGEST.merge(merged, st)
        assert merged.n == 200_000
        alldata = np.sort(np.concatenate(parts))
        for q in [0.05, 0.5, 0.95]:
            est = TDIGEST.quantile(merged, [q])[0]
            rank = np.searchsorted(alldata, est) / alldata.size
            assert abs(rank - q) < 0.02

    def test_centroid_count_bounded(self):
        state = TDIGEST.create(delta=100)
        TDIGEST.update(state, np.random.default_rng(7).uniform(size=100_000))
        TDIGEST._compress(state)
        assert state.means.size <= 2 * 100 + 10

    def test_serialization_roundtrip(self):
        state = TDIGEST.create(delta=100)
        TDIGEST.update(state, np.random.default_rng(8).normal(size=5_000))
        back = TDIGEST.deserialize(TDIGEST.serialize(state))
        assert back.n == state.n
        assert np.allclose(TDIGEST.quantile(back, [0.5]), TDIGEST.quantile(state, [0.5]))
