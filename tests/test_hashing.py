"""Hash kernel tests (SURVEY §5.1): the vectorized XXH64 kernels against
published XXH64 test vectors, against the scalar spec port on random byte
strings, and against Spark's own ``xxhash64`` (the JVM hashes the keys of
a Spark build, so the two must agree bit for bit)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, strategies as st

from sketchlib.hashing import (
    SEED,
    derive_hashes,
    hash64,
    hash_pair,
    split64,
    to_byte_matrix,
    xxh64_bytes,
    xxh64_int32,
    xxh64_int64,
)

_U64 = 0xFFFFFFFFFFFFFFFF
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _U64, 31) * _P1) & _U64


def xxh64_scalar(data: bytes, seed: int = SEED) -> int:
    """XXH64 of ``data``, a scalar pure-Python port of the public spec:
    the reference the vectorized kernels are checked against."""
    n, pos = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _U64, (seed + _P2) & _U64, seed & _U64,
             (seed - _P1) & _U64]
        while pos + 32 <= n:
            for i in range(4):
                lane = int.from_bytes(data[pos + 8 * i:pos + 8 * i + 8],
                                      "little")
                v[i] = _round(v[i], lane)
            pos += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _U64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _U64
    else:
        h = (seed + _P5) & _U64
    h = (h + n) & _U64
    while pos + 8 <= n:
        h ^= _round(0, int.from_bytes(data[pos:pos + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _U64
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos:pos + 4], "little") * _P1) & _U64
        h = (_rotl(h, 23) * _P2 + _P3) & _U64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _U64
        h = (_rotl(h, 11) * _P1) & _U64
        pos += 1
    h = ((h ^ (h >> 33)) * _P2) & _U64
    h = ((h ^ (h >> 29)) * _P3) & _U64
    return h ^ (h >> 32)


# Published XXH64 test vectors (xxHash's sanity checks and the
# python-xxhash documentation).
KNOWN_VECTORS = [
    (b"", 0, 0xEF46DB3751D8E999),
    (b"a", 0, 0xD24EC4F1A98C6E5B),
    (b"abc", 0, 0x44BC2CF5AD770999),
    (b"xxhash", 0, 0x32DD38952C4BC720),
    (b"xxhash", 20141025, 0xB559B98D844E0635),
    (b"Nobody inspects the spammish repetition", 0, 0xFBCEA83C8A378BF1),
    (b"The quick brown fox jumps over the lazy dog", 0, 0x0B242D361FDA71BC),
]


def _vectorized(blobs, seed=SEED) -> np.ndarray:
    """xxh64_bytes over the rows of a byte matrix (the kernel's second
    input shape; hash64 feeds it Arrow buffers)."""
    mat, lengths = to_byte_matrix(blobs)
    starts = np.arange(mat.shape[0], dtype=np.int64) * mat.shape[1]
    return xxh64_bytes(mat.ravel(), starts, lengths, seed)


def test_public_empty_vector():
    assert xxh64_scalar(b"", 0) == 0xEF46DB3751D8E999
    assert int(_vectorized([b""], 0)[0]) == 0xEF46DB3751D8E999


def test_scalar_known_vectors():
    for data, seed, expected in KNOWN_VECTORS:
        assert xxh64_scalar(data, seed) == expected, (data, seed)


def test_vectorized_known_vectors():
    for data, seed, expected in KNOWN_VECTORS:
        assert int(_vectorized([data], seed)[0]) == expected, (data, seed)
    datas = [d for d, s, _ in KNOWN_VECTORS if s == 0]
    want = [e for _, s, e in KNOWN_VECTORS if s == 0]
    assert xxh64_bytes(*_arrow_spans(datas), seed=0).tolist() == want


def _arrow_spans(blobs):
    arr = pa.array(blobs, pa.large_binary())
    offsets = np.frombuffer(arr.buffers()[1], np.int64)
    return np.frombuffer(arr.buffers()[2], np.uint8), offsets[:-1], \
        np.diff(offsets)


def test_vectorized_matches_scalar_random():
    rng = np.random.default_rng(42)
    blobs = []
    for _ in range(500):
        n = int(rng.integers(0, 140))
        blobs.append(rng.integers(0, 256, n).astype(np.uint8).tobytes())
    for seed in (0, SEED, 0xDEADBEEFCAFEF00D):
        expected = [xxh64_scalar(b, seed) for b in blobs]
        assert _vectorized(blobs, seed).tolist() == expected
        assert xxh64_bytes(*_arrow_spans(blobs), seed=seed).tolist() == expected
    assert hash64(pa.array(blobs, pa.binary())).tolist() == \
        [xxh64_scalar(b) for b in blobs]


def test_vectorized_batch_equals_single():
    keys = [f"key-{i}".encode() * (i % 9) for i in range(100)]
    batch = hash64(keys)
    for i, k in enumerate(keys):
        assert int(hash64([k])[0]) == int(batch[i])
    # a sliced Arrow array (non-zero offset) hashes its own rows
    assert hash64(pa.array(keys).slice(7, 50)).tolist() == \
        batch[7:57].tolist()


def test_unicode_strings():
    keys = ["héllo", "世界", "naïve", "", "𝄞 clef" * 9]
    expected = [xxh64_scalar(k.encode("utf-8")) for k in keys]
    assert hash64(keys).tolist() == expected
    assert hash64(pa.array(keys, pa.large_string())).tolist() == expected


def test_int64_hashing_matches_le_bytes():
    vals = np.array([0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63)], np.int64)
    expected = [xxh64_scalar(int(v).to_bytes(8, "little", signed=True))
                for v in vals]
    assert xxh64_int64(vals).tolist() == expected
    assert hash64(vals).tolist() == expected
    ints = np.array([0, 1, -1, 2**31 - 1, -(2**31)], np.int32)
    assert xxh64_int32(ints).tolist() == [
        xxh64_scalar(int(v).to_bytes(4, "little", signed=True)) for v in ints]


def test_hash_pair_independent_seeds():
    """Bloom's h1/h2 are the low/high halves of one XXH64 hash: two
    independent 32-bit values per key, not two seeded passes."""
    h1, h2 = hash_pair(["alpha", "beta", "gamma"])
    assert h1.dtype == np.uint32 and h2.dtype == np.uint32
    assert not np.array_equal(h1, h2)
    h = hash64(["alpha", "beta", "gamma"])
    assert np.array_equal(h1, (h & np.uint64(0xFFFFFFFF)).astype(np.uint32))
    assert np.array_equal(h2, (h >> np.uint64(32)).astype(np.uint32))
    lo, hi = split64(h.view(np.int64))  # Spark's signed bigint column
    assert np.array_equal(lo, h1) and np.array_equal(hi, h2)


def test_hash64_distribution_smoke():
    keys = [f"k{i}" for i in range(10000)]
    h = hash64(keys)
    assert h.dtype == np.uint64
    assert len(np.unique(h)) == len(keys)  # no collisions at this scale
    # top bit should be ~50/50
    frac = np.mean((h >> np.uint64(63)).astype(float))
    assert 0.45 < frac < 0.55


def test_derive_hashes_independent():
    base = hash64([f"k{i}" for i in range(1000)])
    fam = derive_hashes(base, 4)
    assert fam.shape == (4, 1000)
    for i in range(4):
        for j in range(i + 1, 4):
            assert not np.array_equal(fam[i], fam[j])
    # deterministic
    fam2 = derive_hashes(base, 4)
    assert np.array_equal(fam, fam2)


def test_nulls_hash_as_empty():
    arr = pa.array(["a", None, "b"])
    mat, lengths = to_byte_matrix(arr)
    assert lengths.tolist()[1] == 0
    assert int(hash64(arr)[1]) == xxh64_scalar(b"")


@pytest.mark.parametrize("n", [0, 1, 3, 4, 5, 63, 64, 65])
def test_edge_lengths(n):
    blob = bytes(range(256))[:n] if n <= 256 else b"x" * n
    assert int(_vectorized([blob], 123)[0]) == xxh64_scalar(blob, 123)
    assert int(hash64([blob])[0]) == xxh64_scalar(blob)


def test_matches_spark_xxhash64(spark):
    """The numpy kernel is Spark's ``xxhash64`` (seed 42): strings of 0-80
    bytes (ASCII and multibyte UTF-8), binary, and bigint keys."""
    from pyspark.sql import functions as F

    strs = ["x" * n for n in range(81)]
    strs += [("é" * n)[:n] for n in range(41)] + ["世界𝄞" * k for k in range(8)]
    rng = np.random.default_rng(7)
    blobs = [rng.integers(0, 256, n).astype(np.uint8).tobytes()
             for n in range(81)]
    ints = [0, 1, -1, 2**53 + 1, 2**63 - 1, -(2**63)] + list(range(-50, 50))
    rows = [(s, blobs[i % len(blobs)], ints[i % len(ints)])
            for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "s string, b binary, i bigint")
    got = df.select(F.xxhash64("s"), F.xxhash64("b"), F.xxhash64("i"),
                    "s", "b", "i").collect()
    signed = lambda h: h.view(np.int64).tolist()  # noqa: E731
    assert [r[0] for r in got] == signed(hash64([r["s"] for r in got]))
    assert [r[1] for r in got] == signed(hash64([bytes(r["b"]) for r in got]))
    assert [r[2] for r in got] == signed(hash64(np.array([r["i"] for r in got],
                                                         np.int64)))


class TestCanonicalNumericDomain:
    """The per-value canonical rule (canonical_int64): a logical key
    must hash identically no matter which physical route delivers it —
    int64 ndarray, float64 ndarray (pandas' nullable-batch promotion),
    python list, or Arrow array.  A domain split between any two routes
    breaks Bloom's no-false-negative guarantee between build and probe."""

    @given(st.lists(st.integers(min_value=-(2**53), max_value=2**53),
                    min_size=1, max_size=200))
    def test_every_route_agrees_for_integral_keys(self, vals):
        base = hash64(np.asarray(vals, np.int64))
        assert np.array_equal(base, hash64(np.asarray(vals, np.float64)))
        assert np.array_equal(base, hash64(vals))
        assert np.array_equal(base, hash64(pa.array(vals, type=pa.int64())))
        assert np.array_equal(base, hash64(pa.array(
            [float(v) for v in vals], type=pa.float64())))

    @given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                              width=64),
                    min_size=1, max_size=200))
    def test_float_routes_agree_and_distinct_values_differ(self, vals):
        a = hash64(np.asarray(vals, np.float64))
        assert np.array_equal(a, hash64(vals))
        assert np.array_equal(a, hash64(pa.array(vals, type=pa.float64())))
        # determinism + injectivity up to hash collisions: equal values
        # hash equal (canonicalization is a pure function of the value)
        again = hash64(np.asarray(vals, np.float64))
        assert np.array_equal(a, again)

    def test_integral_double_matches_int_but_fractional_does_not(self):
        h_int = hash64(np.array([7], np.int64))
        assert np.array_equal(h_int, hash64(np.array([7.0], np.float64)))
        assert not np.array_equal(h_int, hash64(np.array([7.5], np.float64)))

    def test_out_of_int64_range_floats_hash_as_ieee(self):
        big = np.array([1e300, -1e300, float(2**63)], np.float64)
        h = hash64(big)  # must not overflow/crash; IEEE-bit domain
        assert len(set(h.tolist())) == 3
        assert np.array_equal(h, hash64(big.copy()))
        assert int(h[0]) == xxh64_scalar(big[:1].tobytes())
