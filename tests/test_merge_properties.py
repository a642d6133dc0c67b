"""Property-based merge-algebra tests (SURVEY §5.4, mandated by
BASELINE.json:6 "associative, commutative merge semantics proven by
property tests").

For Bloom / HLL / CMS the combiner is exact (OR / max / +) so we assert
BYTE equality: commutativity, associativity, zero-identity, and
build-split invariance  sketch(A ++ B) == merge(sketch(A), sketch(B)) —
which is precisely shuffle-order independence for Spark partial
aggregation.  For KLL / t-digest (compacting sketches) the algebra holds
up to rank-error equivalence, asserted with bounds.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from sketchlib.sketch import BLOOM, CMS, HLL, KLL, TDIGEST

keys = st.lists(
    st.one_of(
        st.text(min_size=0, max_size=40),
        st.binary(min_size=0, max_size=40),
        st.integers(-(2**31), 2**31).map(lambda i: f"n{i}"),
    ),
    min_size=0, max_size=200,
)

floats = st.lists(
    st.floats(min_value=-1e12, max_value=1e12,
              allow_nan=False, allow_infinity=False),
    min_size=0, max_size=300,
)


def _norm(ks):
    return [k.encode() if isinstance(k, str) else k for k in ks]


def _bloom(ks, n=512):
    s = BLOOM.create(n, 0.01)
    if ks:
        BLOOM.update(s, _norm(ks))
    return s


def _hll(ks):
    s = HLL.create(p=8)
    if ks:
        HLL.update(s, _norm(ks))
    return s


def _cms(ks):
    s = CMS.create(d=3, w=128)
    if ks:
        CMS.update(s, _norm(ks))
    return s


class TestBloomAlgebra:
    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_commutative(self, a, b):
        ab = BLOOM.merge(_bloom(a), _bloom(b))
        ba = BLOOM.merge(_bloom(b), _bloom(a))
        assert np.array_equal(ab.words, ba.words)
        assert ab.n_inserted == ba.n_inserted

    @settings(max_examples=50, deadline=None)
    @given(keys, keys, keys)
    def test_associative(self, a, b, c):
        left = BLOOM.merge(BLOOM.merge(_bloom(a), _bloom(b)), _bloom(c))
        right = BLOOM.merge(_bloom(a), BLOOM.merge(_bloom(b), _bloom(c)))
        assert np.array_equal(left.words, right.words)

    @settings(max_examples=50, deadline=None)
    @given(keys)
    def test_zero_identity(self, a):
        z = BLOOM.create(512, 0.01)
        m = BLOOM.merge(_bloom(a), z)
        assert np.array_equal(m.words, _bloom(a).words)

    @settings(max_examples=50, deadline=None)
    @given(keys)
    def test_idempotent_bits(self, a):
        s = _bloom(a)
        m = BLOOM.merge(s, s)
        assert np.array_equal(m.words, s.words)  # OR idempotent on bits

    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_build_split_invariance(self, a, b):
        whole = _bloom(list(a) + list(b))
        split = BLOOM.merge(_bloom(a), _bloom(b))
        assert np.array_equal(whole.words, split.words)
        assert whole.n_inserted == split.n_inserted


class TestHllAlgebra:
    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_commutative(self, a, b):
        ab = HLL.merge(_hll(a), _hll(b))
        ba = HLL.merge(_hll(b), _hll(a))
        assert np.array_equal(ab.registers, ba.registers)

    @settings(max_examples=50, deadline=None)
    @given(keys, keys, keys)
    def test_associative(self, a, b, c):
        left = HLL.merge(HLL.merge(_hll(a), _hll(b)), _hll(c))
        right = HLL.merge(_hll(a), HLL.merge(_hll(b), _hll(c)))
        assert np.array_equal(left.registers, right.registers)

    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_build_split_invariance(self, a, b):
        whole = _hll(list(a) + list(b))
        split = HLL.merge(_hll(a), _hll(b))
        assert np.array_equal(whole.registers, split.registers)

    @settings(max_examples=50, deadline=None)
    @given(keys)
    def test_idempotent(self, a):
        s = _hll(a)
        assert np.array_equal(HLL.merge(s, s).registers, s.registers)


class TestCmsAlgebra:
    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_commutative(self, a, b):
        ab = CMS.merge(_cms(a), _cms(b))
        ba = CMS.merge(_cms(b), _cms(a))
        assert np.array_equal(ab.table, ba.table)

    @settings(max_examples=50, deadline=None)
    @given(keys, keys, keys)
    def test_associative(self, a, b, c):
        left = CMS.merge(CMS.merge(_cms(a), _cms(b)), _cms(c))
        right = CMS.merge(_cms(a), CMS.merge(_cms(b), _cms(c)))
        assert np.array_equal(left.table, right.table)

    @settings(max_examples=50, deadline=None)
    @given(keys, keys)
    def test_build_split_invariance(self, a, b):
        whole = _cms(list(a) + list(b))
        split = CMS.merge(_cms(a), _cms(b))
        assert np.array_equal(whole.table, split.table)
        assert whole.n_total == split.n_total


class TestQuantileSketchAlgebra:
    """Compacting sketches: estimate-equivalence, not byte equality."""

    @settings(max_examples=25, deadline=None)
    @given(floats, floats)
    def test_kll_split_estimate_equivalence(self, a, b):
        whole = KLL.create(100)
        KLL.update(whole, np.array(a + b))
        left, right = KLL.create(100), KLL.create(100)
        KLL.update(left, np.array(a))
        KLL.update(right, np.array(b))
        merged = KLL.merge(left, right)
        assert merged.n == whole.n
        if whole.n:
            data = np.sort(np.array(a + b))
            for q in (0.25, 0.5, 0.75):
                for est in (KLL.quantile(whole, [q])[0], KLL.quantile(merged, [q])[0]):
                    rank = np.searchsorted(data, est, side="right") / data.size
                    lo = np.searchsorted(data, est, side="left") / data.size
                    assert lo - 0.12 <= q <= rank + 0.12

    @settings(max_examples=25, deadline=None)
    @given(floats, floats)
    def test_tdigest_split_estimate_equivalence(self, a, b):
        whole = TDIGEST.create(100)
        TDIGEST.update(whole, np.array(a + b))
        left, right = TDIGEST.create(100), TDIGEST.create(100)
        TDIGEST.update(left, np.array(a))
        TDIGEST.update(right, np.array(b))
        merged = TDIGEST.merge(left, right)
        assert merged.n == whole.n
        if whole.n:
            data = np.sort(np.array(a + b))
            for q in (0.1, 0.5, 0.9):
                est = TDIGEST.quantile(merged, [q])[0]
                rank_hi = np.searchsorted(data, est, side="right") / data.size
                rank_lo = np.searchsorted(data, est, side="left") / data.size
                assert rank_lo - 0.15 <= q <= rank_hi + 0.15

    @settings(max_examples=25, deadline=None)
    @given(floats, floats)
    def test_kll_merge_commutative_counts(self, a, b):
        l1, r1 = KLL.create(100), KLL.create(100)
        KLL.update(l1, np.array(a))
        KLL.update(r1, np.array(b))
        m1 = KLL.merge(l1, r1)
        m2 = KLL.merge(r1, l1)
        assert m1.n == m2.n


class TestHllSparseEncoding:
    """The sparse HLL wire format: byte-compatible with dense (both decode
    to the same registers), chosen automatically by occupancy."""

    def test_roundtrip_sparse_and_dense(self):
        import numpy as np

        from sketchlib.sketch import HLL

        sparse_st = HLL.update(HLL.create(p=12), np.arange(50))
        blob = HLL.serialize(sparse_st)
        assert len(blob) < 1024  # far below the 4 KB dense size
        back = HLL.deserialize(blob)
        assert np.array_equal(back.registers, sparse_st.registers)
        assert back.n_updates == sparse_st.n_updates

        dense_st = HLL.update(HLL.create(p=8), np.arange(5000))
        blob_d = HLL.serialize(dense_st)
        assert np.array_equal(HLL.deserialize(blob_d).registers,
                              dense_st.registers)

    def test_sparse_dense_merge_equivalence(self):
        import numpy as np

        from sketchlib.sketch import HLL

        small = HLL.update(HLL.create(p=10), np.arange(30))        # sparse
        big = HLL.update(HLL.create(p=10), np.arange(100, 20000))  # dense
        merged = HLL.merge(HLL.deserialize(HLL.serialize(small)),
                           HLL.deserialize(HLL.serialize(big)))
        direct = HLL.update(HLL.update(HLL.create(p=10), np.arange(30)),
                            np.arange(100, 20000))
        assert np.array_equal(merged.registers, direct.registers)

    def test_grouped_states_shrink(self, spark):
        """Per-group states over a high-cardinality grouping serialize
        mostly sparse — the shuffle-bytes win this encoding exists for."""
        from pyspark.sql import functions as F

        from sketchlib.agg import hll_spec, sketch_grouped

        df = (spark.range(0, 100_000, 1, 8)
              .withColumn("g", F.col("id") % 1000)
              .withColumn("v", F.col("id")))
        states = sketch_grouped(df, ["g"], "v", hll_spec(p=13)).collect()
        total = sum(len(bytes(r["state"])) for r in states)
        dense_total = len(states) * (1 << 13)
        assert total < dense_total / 4  # ~100 elems/group => deeply sparse


class TestWireTransparency:
    """serialize -> deserialize must be INVISIBLE to the algebra: a state
    that travelled the wire merges into exactly the state an in-memory
    merge produces.  This is the law Spark relies on every time a partial
    crosses a shuffle, and the one the round-5 pass-3 KMV/MG bytes-key
    serialize crash violated — so it runs under the full key strategy
    (str, bytes, ints-as-text) for every exact-algebra kernel, and as a
    quantile-equivalence bound for the compacting ones."""

    @given(keys, keys)
    @settings(max_examples=40, deadline=None)
    def test_exact_kernels_wire_then_merge_is_byte_exact(self, a, b):
        from sketchlib.sketch import KMV, MG

        def _kmv(ks):
            s = KMV.create(k=16)
            if ks:
                KMV.update(s, _norm(ks))
            return s

        cases = [(BLOOM, _bloom), (HLL, _hll), (CMS, _cms), (KMV, _kmv)]
        for ops, make in cases:
            s1, s2 = make(a), make(b)
            direct = ops.serialize(ops.merge(s1, s2))
            wired = ops.serialize(ops.merge(
                ops.deserialize(ops.serialize(s1)),
                ops.deserialize(ops.serialize(s2))))
            assert wired == direct, ops.name
        # MG: merge prunes by cap deterministically, but dict ordering of
        # equal-count survivors is an implementation detail — compare the
        # (key -> count) maps and error mass instead of bytes
        m1, m2 = MG.create(cap=8), MG.create(cap=8)
        if a:
            MG.update(m1, _norm(a))
        if b:
            MG.update(m2, _norm(b))
        direct = MG.merge(m1, m2)
        wired = MG.merge(MG.deserialize(MG.serialize(m1)),
                         MG.deserialize(MG.serialize(m2)))
        assert dict(zip(wired.keys, wired.counts.tolist())) == \
            dict(zip(direct.keys, direct.counts.tolist()))
        assert (wired.n_total, wired.decr_total) == \
            (direct.n_total, direct.decr_total)

    @given(floats, floats)
    @settings(max_examples=30, deadline=None)
    def test_quantile_kernels_wire_then_merge_equivalent(self, a, b):
        # serialize() may compact the state it ships (t-digest compresses
        # on the way out), so wired-vs-direct is equivalence UP TO the
        # sketch's rank error, not byte equality: every wired quantile
        # must sit within a generous rank band of the direct merge.
        qs = np.array([0.1, 0.5, 0.9])
        for ops, make in ((KLL, lambda: KLL.create(100)),
                          (TDIGEST, lambda: TDIGEST.create(100.0))):
            s1, s2 = make(), make()
            if a:
                ops.update(s1, np.array(a))
            if b:
                ops.update(s2, np.array(b))
            direct = ops.merge(s1, s2)
            wired = ops.merge(ops.deserialize(ops.serialize(s1)),
                              ops.deserialize(ops.serialize(s2)))
            if not a and not b:
                continue
            # value-space band (rank bands are degenerate at tiny n: the
            # single element of {x} has rank 1.0 at every q): each wired
            # quantile must sit between direct's q∓0.1 quantiles
            wq = ops.quantile(wired, qs)
            lo = ops.quantile(direct, np.maximum(qs - 0.1, 0.0))
            hi = ops.quantile(direct, np.minimum(qs + 0.1, 1.0))
            assert np.all((lo <= wq) & (wq <= hi)), (ops.name, lo, wq, hi)
