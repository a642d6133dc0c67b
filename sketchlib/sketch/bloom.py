"""Bloom filter as a mergeable, vectorized sketch.

Semantics derive from the reference's k-hash bit array with double hashing
(/root/reference/fbloom/bloom.h:253-261 Kirsch-Mitzenmacher indexing,
:327-399 branchless contains, :346-381 insert) re-expressed as whole-column
numpy over Arrow batches:

* bit i of key = (h1 + i*h2) mod m   — O3; computed for a whole column as a
  broadcasted [N, k] index matrix, no per-key loop.
* insert = scatter-OR into a uint64 word array — O4/O11 (bulk is the only
  mode; Spark hands us whole record batches).
* merge = bitwise OR of equal-shaped word arrays + summed counters — O12,
  the commutative/associative combiner Spark's tree aggregation needs
  (implicit in the reference at every ``|=`` site, e.g. bloom.h:268).
* contains = AND over k probed bits, vectorized — O6 (branchless like
  bloom.h:337-343).

Also provides the BLOCKED variants via one unified ``block_bits`` knob:
all k bits of a key confined to one aligned block of the bit array —
block_bits=64 is the register-blocked mode (O15, gloom.h:285-330 /
external/bloom_filters.h:183-211: one gather + one scatter per key) and
block_bits=256/512 is the cache-line-blocked mode (O16,
external/bloom_filters.h:94-159 uses 256-bit AVX2 blocks; 512 = a full
64-byte x86 line): one memory transaction per key at DRAM-bound scale,
with FPP between register-blocked and standard because collisions are
line-local, not word-local.

``pattern=True`` is the patterned mode (O18,
external/bloom_filters.h:354-536 PatternedSimdBloomFilter): instead of
deriving k bits per key by double hashing, the key selects one of 2^10
PRECOMPUTED k-bit masks and a rotation — the reference does one table
load + one rotate + one OR per key, replacing the k-iteration mask
construction entirely.  Our numpy lane reproduces the semantics (mask
table lookup, 64-bit rotation, single-word OR) with a deterministic
seeded table regenerated from geometry, so states are merge-compatible
without shipping the table.  FPP is slightly above register-blocked
(masks are drawn from 2^10 x 64 variants, not 64-choose-k), which the
gate accounts for by deriving the expectation from the built state.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..hashing import HASH_DOMAIN, check_domain, hash_pair, splitmix64
from ..params import BloomParams, fpp_bound
from .protocol import pack_state, unpack_state

__all__ = ["BloomState", "Bloom", "BLOOM"]

# Keys are processed in chunks so the [chunk, k] index/mask intermediates
# stay cache-resident (~230 KB at k=7) instead of streaming multi-MB
# matrices through DRAM per Arrow batch.  Measured on 32 cores: 2.6x
# aggregate insert throughput and 8->32-core scaling efficiency 0.59->0.80
# — scatter into the bitset is memory-bound, and at 10^12 keys per
# executor-core memory bandwidth is the wall, not ALU.
_CHUNK = 4096

# Patterned mode (O18): 2^10 masks like the reference's MaskTable
# (external/bloom_filters.h:361 log_num_masks=10).  The table is a pure
# function of (k, seed), so executors regenerate it instead of carrying
# it in the state blob.
_PATTERN_LOG_MASKS = 10
_PATTERN_SEED = 0x18C0FFEE
#: Wire version of the mask-table derivation.  v1 was the numpy-Generator
#: table (pre round-3); v2 is the splitmix64 derivation below.  Pattern
#: states carry this in their serialized header so a state built under a
#: different table is REJECTED at deserialize instead of silently probing
#: with wrong masks (false negatives).  Bump whenever the derivation or
#: _PATTERN_SEED changes.
_PATTERN_TABLE_VERSION = 2
#: Wire version of the BLOCKED-mode in-block addressing.  v1 derived the
#: in-block base offset from c1 — the same hash that selects the block —
#: so whenever gcd(nblocks, 64) was large the block pinned the base offset
#: and each 64-bit block collapsed to <=32 distinct masks (measured FP
#: ~30x past the fill^k expectation at 64 | nblocks).  v2 remixes both
#: hashes through splitmix64 so in-block addressing is independent of
#: block selection.  Blocked states carry this in their header; a blob
#: built under a different layout is REJECTED at deserialize instead of
#: silently probing wrong bits (false negatives).
_BLOCK_LAYOUT_VERSION = 2
_pattern_tables: dict[int, np.ndarray] = {}


def _pattern_table(k: int) -> np.ndarray:
    """uint64[2^10] masks, each with exactly k set bits, deterministic.

    Masks are derived from the repo's own splitmix64 primitive (select k
    distinct bit positions by rejection over a counter stream), NOT from
    numpy's Generator: a serialized pattern state probed under a different
    numpy build must derive the byte-identical table, or membership gets
    silent false negatives.  splitmix64 is a fixed public algorithm, so the
    table is stable across numpy/python versions by construction
    (test_bloom_kernel pins golden values)."""
    table = _pattern_tables.get(k)
    if table is None:
        from ..hashing import splitmix64

        n_masks = 1 << _PATTERN_LOG_MASKS
        base = np.uint64(_PATTERN_SEED) ^ (np.uint64(k) << np.uint64(48))
        # one vectorized draw of `attempts` candidate positions per mask;
        # rejection keeps the first k distinct — spare attempts make a
        # per-row shortfall (needs more than `attempts` draws) vanishingly
        # rare, and the fallback stream below covers it exactly.
        attempts = max(4 * k, 32)
        with np.errstate(over="ignore"):
            ctrs = base + np.arange(n_masks * attempts, dtype=np.uint64)
            pos = (splitmix64(ctrs) & np.uint64(63)).reshape(n_masks, attempts)
        masks = np.zeros(n_masks, np.uint64)
        for i in range(n_masks):
            mask, bits = np.uint64(0), 0
            for p in pos[i]:
                bit = np.uint64(1) << p
                if not mask & bit:
                    mask |= bit
                    bits += 1
                    if bits == k:
                        break
            extra = np.uint64(0)
            while bits < k:  # fallback rejection stream, same primitive
                with np.errstate(over="ignore"):
                    p = splitmix64(np.array(
                        [base ^ np.uint64(0xA5A5_0000_0000_0000)
                         ^ (np.uint64(i) << np.uint64(20)) ^ extra],
                        np.uint64))[0] & np.uint64(63)
                extra += np.uint64(1)
                bit = np.uint64(1) << p
                if not mask & bit:
                    mask |= bit
                    bits += 1
            masks[i] = mask
        table = masks
        _pattern_tables[k] = table
    return table


@dataclass
class BloomState:
    m_bits: int
    k: int
    words: np.ndarray  # uint64[m_bits // 64]
    n_inserted: int
    block_bits: int = 0  # 0 = standard; 64 = register- (O15), 512 = cache-line-blocked (O16)
    pattern: bool = False  # O18: precomputed-mask mode (implies block_bits=64)

    @property
    def blocked(self) -> bool:
        return self.block_bits > 0

    @property
    def total_bits(self) -> int:
        return self.m_bits

    @property
    def bits_set(self) -> int:
        return int(np.unpackbits(self.words.view(np.uint8)).sum())


class Bloom:
    """Stateless operator namespace: all methods are whole-column."""

    name = "bloom"

    def create(self, n: int, p: float = 0.01, *, blocked: bool = False,
               block_bits: int | None = None, pattern: bool = False,
               m_bits: int | None = None, k: int | None = None) -> BloomState:
        if pattern:
            block_bits = 64  # masks are 64-bit words, one OR per key
        if block_bits is None:
            block_bits = 64 if blocked else 0
        if block_bits not in (0, 64, 256, 512):
            raise ValueError("block_bits must be 0 (standard), 64 (register) "
                             "or 256/512 (cache-line block)")
        if m_bits is None or k is None:
            params = BloomParams.from_np(n, p)
            m_bits, k = params.m_bits, params.k
        if pattern:
            k = min(k, 57)  # reference mask windows carry <=57-bit patterns
            _pattern_table(k)  # build eagerly so create-time cost is visible
        if block_bits:  # whole blocks only
            m_bits = max(m_bits, block_bits)
            m_bits += (-m_bits) % block_bits
        return BloomState(m_bits, k, np.zeros(m_bits // 64, np.uint64), 0,
                          block_bits, pattern)

    # -- index math ---------------------------------------------------------

    def _indices(self, state: BloomState, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """[N, k] flat bit indices via double hashing (O3)."""
        m = np.uint64(state.m_bits)
        i = np.arange(state.k, dtype=np.uint64)[None, :]
        return (h1.astype(np.uint64)[:, None] + i * h2.astype(np.uint64)[:, None]) % m

    def _block_words(self, state: BloomState, c1: np.ndarray,
                     c2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Blocked-mode addressing, any block size: all k bits of a key land
        in ONE aligned block of ``block_bits`` bits.  Returns ([N, wpb] word
        indices, [N, wpb] OR-combined masks) where wpb = words per block —
        for block_bits=64 that is the single gather/scatter word of O15;
        for 512 it is the 8 words of one cache line (O16), still one memory
        transaction on real hardware."""
        bb = np.uint64(state.block_bits)
        wpb = state.block_bits // 64
        nblocks = np.uint64(state.words.shape[0] // wpb)
        u1 = c1.astype(np.uint64)
        block = u1 % nblocks
        # In-block addressing must be INDEPENDENT of block selection
        # (_BLOCK_LAYOUT_VERSION 2): deriving the base offset from c1 —
        # which also picks the block — pinned every key in a block to one
        # base whenever gcd(nblocks, bb) was large, collapsing mask
        # diversity and blowing FP ~30x past the fill^k model.  The
        # splitmix64 remix of both hashes leaves no trace of c1's low bits.
        with np.errstate(over="ignore"):
            v = splitmix64(c2.astype(np.uint64) ^ (u1 << np.uint64(32)))
        i = np.arange(state.k, dtype=np.uint64)[None, :]
        # stride forced odd (gloom.h:110): an even stride mod a power-of-two
        # block cycles over a subgroup of bit positions, revisiting bits
        # and inflating FPP; odd strides visit k distinct bits
        stride = ((v >> np.uint64(32)) | np.uint64(1))[:, None]
        with np.errstate(over="ignore"):
            # bb is a power of two, so the uint64 wrap commutes with % bb
            bit = (v[:, None] + i * stride) % bb  # [N, k]
        onebit = np.uint64(1) << (bit & np.uint64(63))           # [N, k]
        if wpb == 1:  # register-blocked: one word, one OR-reduce
            return (block[:, None],
                    np.bitwise_or.reduce(onebit, axis=1, keepdims=True))
        # cache-line mode: route each of the k bits to its word of the line
        word_in_block = bit >> np.uint64(6)                      # [N, k]
        word = (block[:, None] * np.uint64(wpb)
                + np.arange(wpb, dtype=np.uint64)[None, :])      # [N, wpb]
        mask = np.stack([
            np.bitwise_or.reduce(
                np.where(word_in_block == np.uint64(j), onebit, np.uint64(0)),
                axis=1)
            for j in range(wpb)], axis=1)                        # [N, wpb]
        return word, mask

    def _pattern_words(self, state: BloomState, c1: np.ndarray,
                       c2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Patterned-mode addressing (O18): h1 picks the block, h2 picks a
        precomputed k-bit mask and a rotation.  One table gather + one
        64-bit rotate per key — the reference's one-load-one-rotate-one-OR
        structure (external/bloom_filters.h:416-536), whole-column."""
        nblocks = np.uint64(state.words.shape[0])
        block = c1.astype(np.uint64) % nblocks
        table = _pattern_table(state.k)
        mask_idx = c2.astype(np.uint64) & np.uint64((1 << _PATTERN_LOG_MASKS) - 1)
        rot = (c2.astype(np.uint64) >> np.uint64(_PATTERN_LOG_MASKS)) & np.uint64(63)
        base = table[mask_idx]
        mask = (base << rot) | (base >> (np.uint64(64) - rot) % np.uint64(64))
        return block[:, None], mask[:, None]

    def update_hashes(self, state: BloomState, h1: np.ndarray, h2: np.ndarray) -> BloomState:
        """Insert from precomputed hash pairs (O5 — lets the caller reuse the
        hash columns it computed for routing, simple_benchmark.cpp:246-251
        pattern)."""
        if h1.shape[0] == 0:
            return state
        for s in range(0, h1.shape[0], _CHUNK):
            c1, c2 = h1[s:s + _CHUNK], h2[s:s + _CHUNK]
            if state.pattern:
                word, mask = self._pattern_words(state, c1, c2)
                np.bitwise_or.at(state.words, word, mask)
            elif state.blocked:
                word, mask = self._block_words(state, c1, c2)
                np.bitwise_or.at(state.words, word, mask)
            else:
                idx = self._indices(state, c1, c2)
                word = (idx >> np.uint64(6)).ravel()
                mask = (np.uint64(1) << (idx & np.uint64(63))).ravel()
                np.bitwise_or.at(state.words, word, mask)
        state.n_inserted += int(h1.shape[0])
        return state

    def update(self, state: BloomState, values) -> BloomState:
        h1, h2 = hash_pair(values)
        return self.update_hashes(state, h1, h2)

    def contains_hashes(self, state: BloomState, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if h1.shape[0] == 0:
            return np.zeros(0, bool)
        out = np.empty(h1.shape[0], bool)
        for s in range(0, h1.shape[0], _CHUNK):
            c1, c2 = h1[s:s + _CHUNK], h2[s:s + _CHUNK]
            if state.pattern:
                word, mask = self._pattern_words(state, c1, c2)
                out[s:s + _CHUNK] = np.all(
                    (state.words[word] & mask) == mask, axis=1)
            elif state.blocked:
                word, mask = self._block_words(state, c1, c2)
                out[s:s + _CHUNK] = np.all(
                    (state.words[word] & mask) == mask, axis=1)
            else:
                idx = self._indices(state, c1, c2)
                word = idx >> np.uint64(6)
                bit = idx & np.uint64(63)
                probed = (state.words[word] >> bit) & np.uint64(1)
                out[s:s + _CHUNK] = np.all(probed.astype(bool), axis=1)
        return out

    def contains(self, state: BloomState, values) -> np.ndarray:
        h1, h2 = hash_pair(values)
        return self.contains_hashes(state, h1, h2)

    # -- algebra ------------------------------------------------------------

    def merge(self, a: BloomState, b: BloomState) -> BloomState:
        if (a.m_bits, a.k, a.block_bits, a.pattern) != \
                (b.m_bits, b.k, b.block_bits, b.pattern):
            raise ValueError("cannot merge bloom filters with different geometry")
        return BloomState(a.m_bits, a.k, np.bitwise_or(a.words, b.words),
                          a.n_inserted + b.n_inserted, a.block_bits, a.pattern)

    def clear(self, state: BloomState) -> BloomState:
        """O8 — sketches are values in this engine; 'clear' is a fresh state."""
        return BloomState(state.m_bits, state.k,
                          np.zeros_like(state.words), 0, state.block_bits,
                          state.pattern)

    # -- stats (O13) --------------------------------------------------------

    def stats(self, state: BloomState) -> dict:
        return {
            "m_bits": state.m_bits,
            "k": state.k,
            "n_inserted": state.n_inserted,
            "bits_set": state.bits_set,
            "fpp_bound": fpp_bound(state.m_bits, state.k, state.n_inserted),
            "bits_per_item": state.m_bits / max(1, state.n_inserted),
            "blocked": state.blocked,
            "block_bits": state.block_bits,
            "pattern": state.pattern,
        }

    # -- wire ---------------------------------------------------------------

    def serialize(self, state: BloomState) -> bytes:
        header = {"m": state.m_bits, "k": state.k,
                  "n": state.n_inserted, "blocked": int(state.blocked),
                  "bb": state.block_bits, "pat": int(state.pattern),
                  "hd": HASH_DOMAIN}
        if state.pattern:
            header["pv"] = _PATTERN_TABLE_VERSION
        elif state.blocked:
            header["bkv"] = _BLOCK_LAYOUT_VERSION
        return pack_state(self.name, header, [state.words])

    def deserialize(self, data: bytes) -> BloomState:
        kind, header, bufs = unpack_state(data)
        if kind != self.name:
            raise ValueError(f"expected bloom blob, got {kind}")
        if header.get("pat"):
            pv = header.get("pv", 1)  # pre-versioning blobs = v1 table
            if pv != _PATTERN_TABLE_VERSION:
                raise ValueError(
                    f"pattern Bloom state built with mask-table v{pv}; "
                    f"this build probes with v{_PATTERN_TABLE_VERSION} — "
                    "probing would silently false-negative, rebuild the "
                    "state")
        elif header.get("blocked"):
            bkv = header.get("bkv", 1)  # pre-versioning blobs = v1 layout
            if bkv != _BLOCK_LAYOUT_VERSION:
                raise ValueError(
                    f"blocked Bloom state built with block layout v{bkv}; "
                    f"this build probes with v{_BLOCK_LAYOUT_VERSION} — "
                    "probing would silently false-negative, rebuild the "
                    "state")
        check_domain(kind, header)
        return BloomState(header["m"], header["k"],
                          bufs[0].astype(np.uint64, copy=False),
                          header["n"],
                          header.get("bb", 64 if header["blocked"] else 0),
                          bool(header.get("pat", 0)))


BLOOM = Bloom()
