"""Vectorized hashing kernel (numpy, whole-column — never per-row Python).

One hash domain serves Bloom, HLL, CMS and KMV: **XXH64 with seed 42 over
canonical key bytes**.  That is exactly Spark's built-in
``xxhash64(col)``, so a Spark build hashes its keys once in the JVM and
ships one bigint column to the kernels (``agg._select``), while a key
hashed here — on the driver, in a test, in a probe of a numeric column —
lands in the same domain.  The reference's sharded filter hashes with
XXH64 too (fbloom/gloom.h:54-59); this module is
re-derived from the public XXH64 spec (Yann Collet, BSD), no reference
code is copied.

Canonical key bytes (the one rule build, probe and driver share):

* string -> its UTF-8 bytes; binary -> its bytes;
* integers, and doubles/floats/decimals holding an integral value in
  int64 range -> the value as int64, 8 little-endian bytes (Spark
  ``xxhash64(cast(c AS bigint))``), so ``7``, ``7.0`` and ``7.00`` are
  one key;
* any other double (fractional, ±inf) -> its IEEE-754 bits, 8 bytes
  (Spark ``xxhash64(cast(c AS double))``); NaN, like null, is no key;
* boolean, date -> Spark's own 4-byte int (0/1, days since epoch);
  timestamp -> Spark's own 8-byte microseconds since epoch.

Bloom's double hashing (O2, bloom.h:245-261) takes h1/h2 as the low and
high 32-bit halves of the one 64-bit hash (``hash_pair``); HLL and CMS
use all 64 bits (``hash64``).  ``HASH_DOMAIN`` is stamped into every
state built in this domain, and a state without it is refused.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = [
    "SEED",
    "HASH_DOMAIN",
    "check_domain",
    "xxh64_bytes",
    "xxh64_int64",
    "xxh64_int32",
    "hash_pair",
    "hash64",
    "split64",
    "canonical_int64",
    "splitmix64",
    "derive_hashes",
    "to_byte_matrix",
]

#: Spark's ``xxhash64`` seed (the seed argument is not exposed in SQL:
#: ``xxhash64(c, 17)`` hashes 17 as a second column)
SEED = 42
#: stamped into Bloom/HLL/CMS/KMV state headers (``"hd"``)
HASH_DOMAIN = "xxh64/42"

_U64 = 0xFFFFFFFFFFFFFFFF
#: the XXH64 primes
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
P1, P2, P3, P4, P5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5))


def check_domain(kind: str, header: dict, where: str = "") -> None:
    """Refuse a state header (or a manifest) built in another hash domain:
    its keys were hashed by a different function, so probing it answers
    false negatives and merging it double-counts, silently.  ``where``
    prefixes the message (e.g. the checkpoint path)."""
    hd = header.get("hd")
    if hd != HASH_DOMAIN:
        built = f"hash domain {hd!r}" if hd else "the murmur3 hash domain " \
            "(no hash-domain stamp)"
        raise ValueError(
            f"{where}{kind} state was built in {built}; this build hashes keys "
            f"with XXH64 seed {SEED} ({HASH_DOMAIN!r}), so probing or "
            "merging it would silently give wrong answers — rebuild the "
            "state from its source rows")


# ---------------------------------------------------------------------------
# vectorized kernels (uint64 arrays wrap mod 2^64, as the spec requires)
# ---------------------------------------------------------------------------

def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _avalanche(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h


def _seeded(n: int, value: int) -> np.ndarray:
    return np.full(n, np.uint64(value & _U64), np.uint64)


def xxh64_int64(values: np.ndarray, seed: int = SEED) -> np.ndarray:
    """XXH64 of each int64's 8 little-endian bytes (Spark ``hashLong``)."""
    lane = np.ascontiguousarray(values).view(np.uint64)
    h = _seeded(lane.shape[0], seed + _P5 + 8)
    h ^= _round(np.zeros_like(h), lane)
    return _avalanche(_rotl(h, 27) * P1 + P4)


def xxh64_int32(values: np.ndarray, seed: int = SEED) -> np.ndarray:
    """XXH64 of each int32's 4 little-endian bytes (Spark ``hashInt``)."""
    lane = np.ascontiguousarray(values, np.int32).view(np.uint32) \
        .astype(np.uint64)
    h = _seeded(lane.shape[0], seed + _P5 + 4)
    h ^= lane * P1
    return _avalanche(_rotl(h, 23) * P2 + P3)


def _unaligned(data: np.ndarray, width: int) -> np.ndarray:
    """View of ``data`` where element i is the little-endian uint of
    ``width`` bytes starting at byte i (one gather reads a word anywhere)."""
    dt = np.dtype(f"<u{width}")
    return np.ndarray((data.shape[0] - width + 1,), dt, data, 0, (1,))


def xxh64_bytes(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray,
                seed: int = SEED) -> np.ndarray:
    """XXH64 of the byte spans ``data[starts[i] : starts[i] + lengths[i]]``
    (an Arrow binary column's data buffer and offsets, or the rows of a
    byte matrix).  The spec's loops run over word position with every row
    in flight; each read lies inside its own span, so rows never see their
    neighbours' bytes."""
    n = starts.shape[0]
    if n == 0:
        return np.zeros(0, np.uint64)
    data = np.ascontiguousarray(data, np.uint8)
    if data.shape[0] < 8:  # the word views need 8 bytes; reads stay in-span
        data = np.concatenate([data, np.zeros(8, np.uint8)])
    w64, w32 = _unaligned(data, 8), _unaligned(data, 4)
    starts = starts.astype(np.int64, copy=False)
    lengths = lengths.astype(np.int64, copy=False)

    h = _seeded(n, seed + _P5)
    stripes = lengths >> 5
    big = np.nonzero(stripes)[0]
    if big.size:  # >= 32 bytes: four accumulator lanes over 32-byte stripes
        s0, ns = starts[big], stripes[big]
        v = [_seeded(big.size, seed + _P1 + _P2), _seeded(big.size, seed + _P2),
             _seeded(big.size, seed), _seeded(big.size, seed - _P1)]
        for j in range(int(ns.max())):
            live = ns > j
            rows = slice(None) if live.all() else live
            base = s0[rows] + 32 * j
            for i in range(4):
                v[i][rows] = _round(v[i][rows], w64[base + 8 * i])
        acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in v:
            acc ^= _round(np.zeros_like(lane), lane)
            acc = acc * P1 + P4
        h[big] = acc
    h += lengths.astype(np.uint64)

    pos = starts + (stripes << 5)
    words = (lengths & 31) >> 3
    for i in range(int(words.max())):  # remaining 8-byte words
        live = np.nonzero(words > i)[0]
        p = pos[live] + 8 * i
        k = h[live] ^ _round(np.zeros(live.size, np.uint64), w64[p])
        h[live] = _rotl(k, 27) * P1 + P4
    pos = pos + (words << 3)
    tail = lengths & 7
    four = np.nonzero(tail >= 4)[0]
    if four.size:
        k = h[four] ^ (w32[pos[four]].astype(np.uint64) * P1)
        h[four] = _rotl(k, 23) * P2 + P3
        pos[four] += 4
        tail[four] -= 4
    for i in range(int(tail.max())):  # remaining single bytes
        live = np.nonzero(tail > i)[0]
        k = h[live] ^ (data[pos[live] + i].astype(np.uint64) * P5)
        h[live] = _rotl(k, 11) * P1
    return _avalanche(h)


# ---------------------------------------------------------------------------
# canonical keys -> hashes
# ---------------------------------------------------------------------------

def canonical_int64(values: np.ndarray) -> np.ndarray:
    """Float column -> int64 under the per-VALUE canonical rule: an
    integral, in-int64-range value becomes that int64 — the same key as
    through an integer column — and any other value (fractional, ±inf)
    its float64 IEEE bit pattern.  Build and probe then agree whatever
    type carries the key.  (A double whose bit pattern equals some
    integral key collides with it: a ~2^-64 curiosity, acceptable in
    approximate sketches.)  NaN must be dropped by the caller (SQL null
    semantics)."""
    vals = np.ascontiguousarray(values, dtype=np.float64)
    out = vals.view(np.int64).copy()  # default: IEEE bit pattern
    with np.errstate(invalid="ignore"):
        integral = (np.isfinite(vals) & (vals == np.floor(vals))
                    & (vals >= -9_223_372_036_854_775_808.0)
                    & (vals < 9_223_372_036_854_775_808.0))
    out[integral] = vals[integral].astype(np.int64)
    return out


def _arrow(values) -> pa.Array:
    if isinstance(values, pa.ChunkedArray):
        return values.combine_chunks()
    if isinstance(values, pa.Array):
        return values
    return pa.array(values)


def _binary_hash(arr: pa.Array) -> np.ndarray:
    arr = arr.cast(pa.large_binary())
    if arr.null_count:
        arr = arr.fill_null(b"")
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], np.int64)[arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None \
        else np.zeros(0, np.uint8)
    return xxh64_bytes(data, offsets[:-1], np.diff(offsets))


def hash64(values) -> np.ndarray:
    """The one 64-bit key hash (uint64 per key): XXH64 seed 42 over the
    canonical key bytes — Spark's ``xxhash64`` of the canonical column.
    Accepts numpy arrays, Arrow arrays and Python sequences; null rows get
    a hash of nothing in particular, callers drop them first."""
    if isinstance(values, np.ndarray) and values.dtype.kind in "iu":
        return xxh64_int64(values.astype(np.int64, copy=False))
    if isinstance(values, np.ndarray) and values.dtype.kind == "f":
        return xxh64_int64(canonical_int64(values))
    if isinstance(values, np.ndarray) and values.dtype.kind == "b":
        return xxh64_int32(values.astype(np.int32))
    arr = _arrow(values)
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return _binary_hash(arr)
    if pa.types.is_integer(t):
        return xxh64_int64(arr.cast(pa.int64(), safe=False).fill_null(0)
                           .to_numpy())
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        if pa.types.is_decimal(t):
            # via its decimal string: correctly rounded, like the JVM's
            # BigDecimal.doubleValue (Arrow's direct cast may not be)
            arr = arr.cast(pa.string()).cast(pa.float64())
        vals = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
        return xxh64_int64(canonical_int64(vals))
    if pa.types.is_boolean(t) or pa.types.is_date(t):
        ints = arr.cast(pa.int32()) if pa.types.is_boolean(t) \
            else arr.cast(pa.date32()).cast(pa.int32())
        return xxh64_int32(ints.fill_null(0).to_numpy())
    if pa.types.is_timestamp(t):
        micros = arr.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
        return xxh64_int64(micros.fill_null(0).to_numpy())
    if pa.types.is_null(t):
        return np.zeros(len(arr), np.uint64)
    # any other type hashes its string form (no Spark build path feeds one)
    return _binary_hash(arr.cast(pa.large_string()))


def split64(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(low, high) uint32 halves of 64-bit hashes: Bloom's h1/h2."""
    h = np.asarray(h).view(np.uint64)
    return ((h & np.uint64(0xFFFFFFFF)).astype(np.uint32),
            (h >> np.uint64(32)).astype(np.uint32))


def hash_pair(values) -> tuple[np.ndarray, np.ndarray]:
    """Two 32-bit hashes per key for Bloom's double hashing (O2, as the
    reference's gloom.h pair): the halves of :func:`hash64`."""
    return split64(hash64(values))


def to_byte_matrix(values) -> tuple[np.ndarray, np.ndarray]:
    """Column of strings/bytes -> (padded uint8 matrix [N, Lpad], lengths [N]).

    Uses Arrow buffers directly (offsets + contiguous data) so there is no
    per-row Python in the conversion.  Lpad is a multiple of 4.  Nulls
    become empty rows.  (The hash kernel reads Arrow buffers directly; the
    matrix serves whole-row vector math such as text fingerprints.)
    """
    values = _arrow(values)
    if not (pa.types.is_binary(values.type) or pa.types.is_large_binary(values.type)
            or pa.types.is_string(values.type)
            or pa.types.is_large_string(values.type)):
        values = values.cast(pa.large_string())
    values = values.cast(pa.large_binary())
    if values.null_count:
        values = values.fill_null(b"")

    n = len(values)
    if n == 0:
        return np.zeros((0, 4), np.uint8), np.zeros(0, np.int64)

    buffers = values.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64)[
        values.offset : values.offset + n + 1
    ]
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.zeros(0, np.uint8)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)

    max_len = int(lengths.max()) if n else 0
    lpad = max(4, ((max_len + 3) // 4) * 4)
    mat = np.zeros((n, lpad), np.uint8)
    if data.size:
        # gather in row chunks: the [chunk, lpad] int64 index/mask
        # intermediates stay cache-resident — one whole-column pass built
        # 3x N*lpad*8-byte temporaries and ran ~9x slower at 1M urls
        col = np.arange(lpad, dtype=np.int64)[None, :]
        chunk = max(1, (1 << 21) // (lpad * 8))  # ~2 MB of index per chunk
        for s in range(0, n, chunk):
            e = min(s + chunk, n)  # offsets has n+1 entries; stay in [s, e)
            off = offsets[s:e, None]
            ln = lengths[s:e, None]
            valid = col < ln
            gathered = data[np.where(valid, off + col, 0)]
            mat[s:e] = np.where(valid, gathered, np.uint8(0))
    return mat, lengths


_GOLDEN64 = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public domain, Steele et al.) —
    a full-avalanche uint64 mixer used to derive independent hash families
    from a single base hash."""
    z = x + _GOLDEN64
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def derive_hashes(h64: np.ndarray, n_hashes: int, seed: int = 0x5EED) -> np.ndarray:
    """Derive ``n_hashes`` independent 64-bit hashes per key by remixing one
    base hash with per-function tweaks (the single-hash + derived-family
    construction used by production sketch libraries; avoids re-hashing the
    raw bytes k times, same idea as the reference's double-hashing trick,
    bloom.h:253-261). Returns uint64[n_hashes, N]."""
    base = np.asarray(h64, dtype=np.uint64)
    out = np.empty((n_hashes, base.shape[0]), np.uint64)
    with np.errstate(over="ignore"):
        for i in range(n_hashes):
            tweak = np.uint64((seed + i) & 0xFFFFFFFFFFFFFFFF) * _GOLDEN64
            out[i] = splitmix64(base ^ tweak)
    return out
