"""Bloom kernel tests (SURVEY §5.2-5.3): sizing math, and the reference's
insert/contains/false-positive-rate benchmark protocol replicated as pytest
oracles (/root/reference/simple_benchmark.cpp:542-567,766-776 semantics:
insert N seeded keys; probe inserted => all true (fn_rate == 0); probe fresh
=> measured FPP <= published bound with margin)."""

import math

import numpy as np
import pytest

from sketchlib.params import BloomParams, fpp_bound
from sketchlib.sketch import BLOOM


def _random_keys(n, seed, length=16):
    """Seeded printable-ASCII keys, like simple_benchmark.cpp:79-97 but
    deterministic (the reference's std::random_device is a quirk we fix)."""
    rng = np.random.default_rng(seed)
    chars = rng.integers(33, 127, size=(n, length), dtype=np.uint8)
    return [bytes(row) for row in chars]


class TestSizing:
    def test_standard_formula(self):
        p = BloomParams.from_np(1_000_000, 0.01)
        # m = -n ln p / ln^2 2 ~ 9.585 bits/item
        assert abs(p.m_bits / 1_000_000 - 9.585) < 0.01
        assert p.k == 7  # round(9.585 * ln2) = 7
        assert p.m_bits % 64 == 0

    def test_alignment_and_floor(self):
        p = BloomParams.from_np(1, 0.5)
        assert p.m_bits >= 64 and p.m_bits % 64 == 0

    @pytest.mark.parametrize("n,p", [(0, 0.01), (100, 0.0), (100, 1.0), (-5, 0.01)])
    def test_degenerate_fallback(self, n, p):
        params = BloomParams.from_np(n, p)
        assert params.m_bits == 8192  # reference's 1024-byte fallback

    def test_k_at_least_one(self):
        assert BloomParams.from_np(10**9, 0.9).k >= 1

    def test_fpp_bound_formula(self):
        # (1 - e^{-kn/m})^k
        assert fpp_bound(9586, 7, 1000) == pytest.approx(
            (1 - np.exp(-7 * 1000 / 9586)) ** 7)
        assert fpp_bound(1000, 3, 0) == 0.0


class TestReferenceProtocol:
    """The reference benchmark's accuracy protocol as a pytest oracle."""

    N = 50_000
    P_TARGET = 0.01

    @pytest.fixture(scope="class")
    def built(self):
        keys = _random_keys(self.N + self.N // 2, seed=42)
        inserted, fresh = keys[: self.N], keys[self.N :]
        state = BLOOM.create(self.N, self.P_TARGET)
        # batched insert (vectorized bulk, O11)
        for i in range(0, self.N, 10_000):
            BLOOM.update(state, inserted[i : i + 10_000])
        return state, inserted, fresh

    def test_no_false_negatives(self, built):
        state, inserted, _ = built
        assert bool(np.all(BLOOM.contains(state, inserted)))

    def test_fpp_within_published_bound(self, built):
        state, _, fresh = built
        hits = BLOOM.contains(state, fresh)
        fp_rate = float(np.mean(hits))
        bound = fpp_bound(state.m_bits, state.k, state.n_inserted)
        # bound + 4 sigma binomial sampling slack
        slack = 4 * np.sqrt(bound * (1 - bound) / len(fresh))
        assert fp_rate <= bound + slack, (fp_rate, bound)
        # and the configured target is respected (standard sizing)
        assert fp_rate <= self.P_TARGET * 1.3

    def test_counter_tracks_inserts(self, built):
        state, _, _ = built
        assert state.n_inserted == self.N

    def test_stats(self, built):
        state, _, _ = built
        s = BLOOM.stats(state)
        assert s["m_bits"] == state.m_bits and s["k"] == state.k
        assert 0 < s["bits_set"] < state.m_bits
        assert s["fpp_bound"] <= 0.011

    def test_clear(self, built):
        state, inserted, _ = built
        fresh_state = BLOOM.clear(state)
        assert fresh_state.n_inserted == 0
        assert not np.any(BLOOM.contains(fresh_state, inserted[:100]))


class TestBlockedMode:
    """Register-blocked variant (O15): one word per key, same protocol."""

    def test_no_false_negatives_and_bounded_fp(self):
        n = 20_000
        keys = _random_keys(2 * n, seed=7)
        inserted, fresh = keys[:n], keys[n:]
        # blocked filters trade accuracy for speed: oversize by 2x
        params = BloomParams.from_np(n, 0.01)
        state = BLOOM.create(n, 0.01, blocked=True, m_bits=2 * params.m_bits,
                             k=min(params.k, 8))
        BLOOM.update(state, inserted)
        assert bool(np.all(BLOOM.contains(state, inserted)))
        fp = float(np.mean(BLOOM.contains(state, fresh)))
        assert fp < 0.05  # looser bound: blocked mode clusters bits

    @pytest.mark.parametrize("nblocks", [4096, 64 * 101, 4097])
    def test_fp_uncorrelated_with_block_alignment(self, nblocks):
        """Regression (block layout v2): in-block addressing must be
        independent of block selection.  v1 derived the base bit offset
        from c1 — the block-selecting hash — so at 64 | nblocks every key
        in a block shared one base offset, collapsing each block to <=32
        distinct masks and blowing measured FP ~30x past expectation
        (0.144 measured vs 0.0046 expected at nblocks=4096).  v2 must
        match the EXACT model — a fresh key probes a uniform block with a
        uniform (base, odd-stride) progression mask, so the expectation is
        the mean subset-rate of all 64x32 enumerable masks against the
        built words — at every gcd(nblocks, 64), within sampling slack."""
        n, k = 20_000, 7
        keys = _random_keys(2 * n, seed=11)
        inserted, fresh = keys[:n], keys[n:]
        st = BLOOM.create(n, 0.01, blocked=True, m_bits=nblocks * 64, k=k)
        BLOOM.update(st, inserted)
        assert bool(np.all(BLOOM.contains(st, inserted)))  # no FN, ever
        fp = float(np.mean(BLOOM.contains(st, fresh)))
        bases = np.arange(64, dtype=np.uint64)
        strides = np.arange(1, 64, 2, dtype=np.uint64)
        i = np.arange(k, dtype=np.uint64)
        pos = (bases[:, None, None]
               + i[None, None, :] * strides[None, :, None]) % np.uint64(64)
        masks = np.bitwise_or.reduce(np.uint64(1) << pos, axis=2).ravel()
        expected = float(
            ((st.words[:, None] & masks[None, :]) == masks[None, :]).mean())
        slack = 4 * math.sqrt(max(expected * (1 - expected), 1e-12) / n)
        # measured/exact sits at 0.91-1.05 across fills and alignments post
        # fix; the v1 aligned-nblocks collapse was ~9x the exact model
        assert fp <= 1.2 * expected + slack, (fp, expected)

    def test_block_layout_version_guard(self, monkeypatch):
        """Blocked states carry the in-block addressing version in the wire
        header; a blob built under a different layout is rejected at
        deserialize (silent false negatives otherwise)."""
        import sketchlib.sketch.bloom as bloommod

        st = BLOOM.update(BLOOM.create(1_000, 0.01, blocked=True), [b"key"])
        blob = BLOOM.serialize(st)
        rt = BLOOM.deserialize(blob)  # same version: fine
        assert rt.blocked and rt.n_inserted == 1
        monkeypatch.setattr(bloommod, "_BLOCK_LAYOUT_VERSION", 3)
        with pytest.raises(ValueError, match="block layout v2"):
            BLOOM.deserialize(blob)
        # a pre-versioning blocked blob (no "bkv" field) reads as v1 and
        # is rejected by a v2+ build
        blob_v1 = bloommod.pack_state(
            BLOOM.name,
            {"m": st.m_bits, "k": st.k, "n": st.n_inserted, "blocked": 1,
             "bb": st.block_bits, "pat": 0}, [st.words])
        monkeypatch.undo()
        with pytest.raises(ValueError, match="block layout v1"):
            BLOOM.deserialize(blob_v1)

    @pytest.mark.parametrize("bb", [256, 512])
    def test_cache_line_blob_refused(self, bb):
        """The 256/512-bit cache-line modes are gone; a blob built under
        one is refused at deserialize with a rebuild message.  Reading its
        words as 64-bit blocks would probe the wrong bits (silent false
        negatives)."""
        import sketchlib.sketch.bloom as bloommod

        words = np.zeros(4 * bb // 64, np.uint64)
        words[0] = np.uint64(0x81)
        blob = bloommod.pack_state(
            BLOOM.name,
            {"m": 4 * bb, "k": 7, "n": 1, "blocked": 1, "bb": bb, "pat": 0,
             "hd": bloommod.HASH_DOMAIN,
             "bkv": bloommod._BLOCK_LAYOUT_VERSION}, [words])
        with pytest.raises(ValueError, match=f"{bb}-bit cache-line.*rebuild"):
            BLOOM.deserialize(blob)


class TestSerialization:
    def test_roundtrip(self):
        state = BLOOM.create(1000, 0.01)
        BLOOM.update(state, [f"key{i}" for i in range(500)])
        blob = BLOOM.serialize(state)
        back = BLOOM.deserialize(blob)
        assert back.m_bits == state.m_bits and back.k == state.k
        assert back.n_inserted == state.n_inserted
        assert np.array_equal(back.words, state.words)

    def test_int64_keys(self):
        state = BLOOM.create(1000, 0.01)
        BLOOM.update(state, np.arange(500, dtype=np.int64))
        assert bool(np.all(BLOOM.contains(state, np.arange(500, dtype=np.int64))))
        miss = BLOOM.contains(state, np.arange(10**6, 10**6 + 1000, dtype=np.int64))
        assert float(np.mean(miss)) < 0.05


class TestPatternedMode:
    """Patterned mode (O18, external/bloom_filters.h:354-536): key selects a
    precomputed k-bit mask + rotation, ORed into one 64-bit block.  Same
    no-false-negative guarantee; FPP at or above register-blocked (masks
    come from 2^10 x 64 variants, not all 64-choose-k subsets)."""

    def test_no_fn_and_fpp_sane(self):
        n = 20_000
        keys = _random_keys(2 * n, seed=19)
        inserted, fresh = keys[:n], keys[n:]
        st = BLOOM.create(n, 0.01, pattern=True)
        BLOOM.update(st, inserted)
        assert bool(np.all(BLOOM.contains(st, inserted)))
        fp = float(np.mean(BLOOM.contains(st, fresh)))
        # register-blocked comparison point on identical data
        rb = BLOOM.create(n, 0.01, blocked=True)
        BLOOM.update(rb, inserted)
        fp_rb = float(np.mean(BLOOM.contains(rb, fresh)))
        assert fp < 3 * max(fp_rb, 0.02)  # same regime, bounded degradation

    def test_mask_table_deterministic_and_k_bits(self):
        from sketchlib.sketch.bloom import _pattern_table
        t1 = _pattern_table(7)
        t2 = _pattern_table(7)
        assert t1 is t2 or bool(np.array_equal(t1, t2))
        assert t1.shape == (1024,)
        pc = np.unpackbits(t1.view(np.uint8)).reshape(1024, -1).sum(axis=1)
        assert bool(np.all(pc == 7))
        # golden values pin the splitmix64 derivation: the table must be
        # byte-identical across numpy/python builds, or a serialized
        # pattern state probed elsewhere gets silent false negatives
        assert int(t1[0]) == 0x4080040004200081
        assert int(t1[1]) == 0x0800000001822101
        assert int(t1[1023]) == 0x2801000200060010
        t3 = _pattern_table(3)
        assert int(t3[0]) == 0x00000C0400000000
        pc3 = np.unpackbits(t3.view(np.uint8)).reshape(1024, -1).sum(axis=1)
        assert bool(np.all(pc3 == 3))

    def test_single_word_confinement(self):
        one = BLOOM.update(BLOOM.create(4_000, 0.01, pattern=True), [b"key"])
        assert np.count_nonzero(one.words) == 1  # one OR, one word (the point)

    def test_merge_split_equals_whole_and_roundtrip(self):
        keys = _random_keys(4_000, seed=23)
        whole = BLOOM.update(BLOOM.create(4_000, 0.01, pattern=True), keys)
        a = BLOOM.update(BLOOM.create(4_000, 0.01, pattern=True), keys[:2_000])
        b = BLOOM.update(BLOOM.create(4_000, 0.01, pattern=True), keys[2_000:])
        merged = BLOOM.deserialize(BLOOM.serialize(BLOOM.merge(a, b)))
        assert merged.pattern and merged.block_bits == 64
        assert bool(np.array_equal(merged.words, whole.words))
        with pytest.raises(ValueError, match="geometry"):
            BLOOM.merge(a, BLOOM.create(4_000, 0.01, blocked=True))

    def test_pattern_table_version_guard(self, monkeypatch):
        """Pattern states carry the mask-table version in the wire header;
        a blob built under a different table derivation is rejected at
        deserialize (silent false negatives otherwise).  Non-pattern blobs
        carry no version and stay compatible."""
        import sketchlib.sketch.bloom as bloommod

        st = BLOOM.update(BLOOM.create(1_000, 0.01, pattern=True), [b"key"])
        blob = BLOOM.serialize(st)
        rt = BLOOM.deserialize(blob)  # same version: fine
        assert rt.pattern and rt.n_inserted == 1
        monkeypatch.setattr(bloommod, "_PATTERN_TABLE_VERSION", 3)
        with pytest.raises(ValueError, match="mask-table v2"):
            BLOOM.deserialize(blob)
        # a pre-versioning pattern blob (no "pv" field) reads as v1 and is
        # rejected by a v2+ build
        blob_v1 = bloommod.pack_state(
            BLOOM.name,
            {"m": st.m_bits, "k": st.k, "n": st.n_inserted, "blocked": 1,
             "bb": st.block_bits, "pat": 1}, [st.words])
        monkeypatch.undo()
        with pytest.raises(ValueError, match="mask-table v1"):
            BLOOM.deserialize(blob_v1)
        # plain states are versionless and roundtrip as before (blocked
        # states carry their own layout version — see
        # TestBlockedMode.test_block_layout_version_guard)
        plain = BLOOM.update(BLOOM.create(1_000, 0.01), [b"key"])
        assert BLOOM.deserialize(BLOOM.serialize(plain)).n_inserted == 1
