"""The hash-domain contract: a Spark build hashes keys once in the JVM
(``agg.key_hash``) and the driver hashes Python values with
``hashing.hash64`` — for every key type the two must land on the same
bits, or a probe answers false negatives.  States from the murmur3 domain
(before XXH64) must be refused with a rebuild message, never probed or
merged."""

import datetime
import decimal
import math
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sketchlib.agg import (bloom_contains_col, bloom_spec, build_sketches,
                           cms_estimate_col, cms_spec, hll_spec)
from sketchlib.checkpoint import checkpointed_build, sharded_contains
from sketchlib.sketch import BLOOM, CMS, HLL, KINDS
from sketchlib.streaming import StreamingSketch

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "murmur_domain")

N = 240
_BASE_TS = datetime.datetime(1969, 12, 25, 1, 2, 3, 456789)


def _nullable(vals, every=5):
    return [None if i % every == 3 else v for i, v in enumerate(vals)]


def _hard_decimals(n=40):
    """decimal(38,18) values that pyarrow's direct decimal->double cast
    rounds differently from a correctly rounded conversion (the JVM's
    BigDecimal.doubleValue, Python's float(Decimal))."""
    rng, out = random.Random(1), []
    while len(out) < n:
        batch = [decimal.Decimal(rng.randrange(-10**37, 10**37)).scaleb(-18)
                 for _ in range(2000)]
        direct = pa.array(batch, pa.decimal128(38, 18)).cast(pa.float64())
        out += [v for v, d in zip(batch, direct.to_pylist()) if d != float(v)]
    return out[:n]


HARD_DECIMALS = _hard_decimals()


#: type -> key values (None = null); every list repeats some keys so CMS
#: counts exceed one
CASES = {
    "string": _nullable([("é世" * (i % 4)) + f"k{i % 150}" for i in range(N)]
                        + ["", ""]),
    "binary": _nullable([bytes([255 - i % 7, i % 256, 0]) * (i % 3)
                         for i in range(N)]),
    "int": _nullable([(i % 170) - 60 for i in range(N)]),
    "bigint": _nullable([2**53 + 1 + 4 * (i % 160) for i in range(N)]
                        + [-(2**63), 2**63 - 1, -1]),
    "float": _nullable([(i % 90) / 4.0 - 7.0 for i in range(N)]
                       + [0.1, -0.0, float("nan"), float("inf")]),
    "double": _nullable([(i % 130) * 0.37 - 11.0 for i in range(N)]
                        + [3.0, 0.0, -0.0, float("nan"), float("inf"),
                           -float("inf"), 2.0**60, 1e300, -(2.0**63)]),
    "date": _nullable([datetime.date(1969, 11, 1)
                       + datetime.timedelta(days=i % 140) for i in range(N)]),
    "timestamp": _nullable([_BASE_TS + datetime.timedelta(seconds=977 * (i % 150),
                                                           microseconds=i)
                            for i in range(N)]),
    "boolean": _nullable([i % 3 == 0 for i in range(N)]),
    "decimal(12,2)": _nullable([decimal.Decimal(i % 120 - 30) / 4
                                for i in range(N)]),
    # more digits than a double holds: both sides must round the same way
    "decimal(38,10)": _nullable([decimal.Decimal("1234567890123456.0123456789")
                                 * (i % 110 - 40) for i in range(N)]
                                + [decimal.Decimal(2**62) * 3]),
    "decimal(38,18)": _nullable(HARD_DECIMALS * 3),
}


def _is_key(v) -> bool:
    return v is not None and not (isinstance(v, float) and math.isnan(v))


def _frame(spark, typ):
    rows = [(i, v) for i, v in enumerate(CASES[typ])]
    return spark.createDataFrame(rows, f"id long, k {typ}").repartition(3)


def _keys(df):
    """The frame's keys as Python values, through Arrow (time-zone exact)."""
    return [v for v in df.toArrow().column("k").to_pylist() if _is_key(v)]


@pytest.mark.parametrize("typ", sorted(CASES))
def test_spark_build_matches_driver_update(spark, typ, tmp_path):
    df = _frame(spark, typ)
    keys = _keys(df)
    specs = [bloom_spec(1000, 0.01), hll_spec(12), cms_spec(4, 256)]
    res = build_sketches(df, [("k", s) for s in specs])
    for spec, r in zip(specs, res):
        local = spec.ops.update(spec.create(), keys)
        assert r.n_rows == len(keys), spec.kind
        assert r.state_bytes == spec.ops.serialize(local), spec.kind
    bloom_bytes, _, cms_bytes = (r.state_bytes for r in res)
    bloom = BLOOM.deserialize(bloom_bytes)
    assert BLOOM.contains(bloom, keys).all()

    # broadcast probe: zero false negatives, nulls and NaN are no members
    probed = df.select("k", bloom_contains_col(spark, bloom_bytes,
                                               F.col("k")).alias("hit"),
                       cms_estimate_col(spark, cms_bytes,
                                        F.col("k")).alias("est")).toArrow()
    vals = probed.column("k").to_pylist()
    hits = probed.column("hit").to_pylist()
    ests = probed.column("est").to_pylist()
    assert all(h for v, h in zip(vals, hits) if _is_key(v))
    assert not any(h for v, h in zip(vals, hits) if not _is_key(v))
    cms = CMS.deserialize(cms_bytes)
    local_est = CMS.estimate(cms, [v for v in vals if _is_key(v)]).tolist()
    assert [e for v, e in zip(vals, ests) if _is_key(v)] == local_est

    # routed probe of a shard-sized bank built by the keyed path
    ckpt = str(tmp_path / "bank")
    checkpointed_build(df, "k", bloom_spec(1000, 0.01), route_cols=["k"],
                       num_shards=4, ckpt_dir=ckpt, shard_sized=True)
    member = sharded_contains(df, "k", ckpt).toArrow()
    assert all(m for v, m in zip(member.column("k").to_pylist(),
                                 member.column("member").to_pylist())
               if _is_key(v))


def test_decimals_round_to_double_like_the_jvm():
    """A decimal key is its correctly rounded double, as the JVM's cast
    computes it, even where Arrow's own decimal cast rounds otherwise."""
    from sketchlib.hashing import hash64

    arr = pa.array(HARD_DECIMALS, pa.decimal128(38, 18))
    want = hash64(np.array([float(v) for v in HARD_DECIMALS]))
    assert np.array_equal(hash64(arr), want)
    assert np.array_equal(hash64(HARD_DECIMALS), want)


def test_bigint_bloom_probed_with_double_column(spark):
    keys = [i * 7 - 300 for i in range(400)] + [2**60, -(2**62)]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    res = build_sketches(df, [("k", bloom_spec(1000, 0.01))])[0]
    as_double = df.select(F.col("k").cast("double").alias("d"))
    missed = as_double.where(~bloom_contains_col(
        spark, res.state_bytes, F.col("d"))).count()
    assert missed == 0
    assert BLOOM.contains(res.state, np.array(keys, np.float64)).all()
    assert BLOOM.contains(res.state, [decimal.Decimal(k) for k in keys]).all()


# ---------------------------------------------------------------------------
# murmur3-domain states (written by the code before XXH64) are refused
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kind", ["bloom", "hll", "cms", "kmv"])
def test_murmur_domain_blob_refused(kind):
    with open(os.path.join(GOLDEN, f"{kind}.bin"), "rb") as f:
        blob = f.read()
    ops = KINDS[kind]
    with pytest.raises(ValueError, match="murmur3 hash domain.*rebuild"):
        ops.deserialize(blob)
    fresh = ops.serialize(ops.create(**({"n": 1000} if kind == "bloom"
                                        else {})))
    assert ops.deserialize(fresh) is not None


def test_murmur_domain_checkpoint_resume_refused(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(os.path.join(GOLDEN, "ckpt_bloom"), ckpt)
    keys = [f"https://host{i % 7}.example.com/page/{i:06d}.html"
            for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    with pytest.raises(ValueError, match="checkpoint at .*murmur3.*rebuild"):
        checkpointed_build(df, "url", bloom_spec(1000, 0.01),
                           route_cols=["url"], num_shards=4, ckpt_dir=ckpt,
                           shard_sized=False)


def test_murmur_domain_stream_resume_refused(tmp_path):
    state_dir = str(tmp_path / "stream")
    shutil.copytree(os.path.join(GOLDEN, "stream_bloom"), state_dir)
    with pytest.raises(ValueError, match="sketch_state.json.*murmur3.*rebuild"):
        StreamingSketch(bloom_spec(1000, 0.01), state_dir, col="url")


def test_stamped_states_roundtrip_and_foreign_domain_refused():
    from sketchlib.hashing import HASH_DOMAIN, check_domain

    st = HLL.update(HLL.create(10), ["a", "b"])
    assert HLL.deserialize(HLL.serialize(st)).n_updates == 2
    check_domain("hll", {"hd": HASH_DOMAIN})
    with pytest.raises(ValueError, match="hash domain 'other'.*rebuild"):
        check_domain("hll", {"hd": "other"})
