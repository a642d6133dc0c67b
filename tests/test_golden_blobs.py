"""XXH64-domain golden states (``tests/data/xxh64_domain/``): the wire
format is pinned.  Every committed kernel blob deserializes, answers
value-correctly, re-serializes to the same bytes and is rebuilt byte for
byte by the same driver ``update``; the committed streaming state and
checkpoint directories resume."""

import os
import shutil

import numpy as np
import pytest

from sketchlib.agg import bloom_spec, cms_spec
from sketchlib.checkpoint import checkpointed_build, load_manifest
from sketchlib.sketch import BLOOM, CMS, HLL, KLL, KMV, MG, TDIGEST
from sketchlib.sketch.protocol import unpack_state
from sketchlib.streaming import StreamingSketch

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "xxh64_domain")

KEYS = [f"https://host{i % 7}.example.com/page/{i:06d}.html"
        for i in range(200)]
HOSTS = [k.split("/")[2].encode() for k in KEYS]
NUMS = [float((i * 37) % 200) for i in range(200)]

#: file -> (kernel, create kwargs, update values): the call that wrote it
BLOBS = {
    "bloom_standard.bin": (BLOOM, {"n": 1000, "p": 0.01}, KEYS),
    "bloom_blocked64.bin": (BLOOM, {"n": 1000, "p": 0.01, "blocked": True},
                            KEYS),
    "bloom_patterned.bin": (BLOOM, {"n": 1000, "p": 0.01, "pattern": True},
                            KEYS),
    "hll_sparse.bin": (HLL, {"p": 12}, KEYS),
    "hll_dense.bin": (HLL, {"p": 8}, KEYS),
    "cms.bin": (CMS, {"d": 3, "w": 64}, KEYS),
    "kmv.bin": (KMV, {"k": 16}, KEYS),
    "mg.bin": (MG, {"cap": 4}, HOSTS),
    "kll.bin": (KLL, {"k": 16}, NUMS),
    "tdigest.bin": (TDIGEST, {"delta": 20.0}, NUMS),
}


def _read(name: str) -> bytes:
    with open(os.path.join(GOLDEN, name), "rb") as f:
        return f.read()


def _check_values(name: str, st) -> None:
    others = [f"https://other{i}.example.org/x{i}" for i in range(2000)]
    if name.startswith("bloom"):
        assert BLOOM.contains(st, KEYS).all()
        assert BLOOM.contains(st, others).mean() <= 0.03
        assert (st.block_bits, st.pattern) == {
            "bloom_standard.bin": (0, False),
            "bloom_blocked64.bin": (64, False),
            "bloom_patterned.bin": (64, True)}[name]
    elif name.startswith("hll"):
        assert abs(HLL.cardinality(st) - 200) <= 5 * HLL.rel_error(st) * 200
    elif name == "cms.bin":
        est = CMS.estimate(st, KEYS)
        assert st.n_total == 200 and est.min() >= 1
        assert est.mean() <= 1 + CMS.error_bound(st)[0] * st.n_total
    elif name == "kmv.bin":
        assert st.n_total == 200 and set(KMV.sample(st)) <= set(KEYS)
        assert abs(KMV.distinct_count(st) - 200) \
            <= 5 * KMV.rel_error(st) * 200
    elif name == "mg.bin":
        assert st.n_total == 200 and st.decr_total > 0
        for h, est in zip(sorted(set(HOSTS)), MG.estimate(st, sorted(set(HOSTS)))):
            assert est <= HOSTS.count(h) <= est + st.decr_total
    elif name == "kll.bin":
        assert st.n == 200 and len(st.compactors) > 1  # compacted
        q = np.array([0.1, 0.5, 0.9])
        assert np.abs(KLL.quantile(st, q) - 200 * q).max() <= 10
    else:
        assert st.n == 200 and st.means.size < 200  # compressed
        q = np.array([0.1, 0.5, 0.9])
        assert np.abs(TDIGEST.quantile(st, q) - 200 * q).max() <= 2


@pytest.mark.parametrize("name", sorted(BLOBS))
def test_golden_blob_reads_and_rebuilds(name):
    ops, cfg, values = BLOBS[name]
    blob = _read(name)
    if name.startswith("hll"):  # each file pins one of the two encodings
        assert (unpack_state(blob)[1].get("enc") == "s") \
            == (name == "hll_sparse.bin")
    st = ops.deserialize(blob)
    _check_values(name, st)
    assert ops.serialize(st) == blob
    assert ops.serialize(ops.update(ops.create(**cfg), values)) == blob


def _keys_df(spark):
    return spark.createDataFrame([(k,) for k in KEYS], "url string")


def test_golden_stream_state_resumes(spark, tmp_path):
    """A StreamingSketch state directory committed after batch 0 resumes:
    batch 0 replayed is skipped, batch 1 folds once, and the new commit
    reads back."""
    state_dir = str(tmp_path / "stream")
    shutil.copytree(os.path.join(GOLDEN, "stream_cms"), state_dir)
    spec = cms_spec(3, 64)
    once = CMS.serialize(CMS.update(CMS.create(3, 64), KEYS))
    ss = StreamingSketch(spec, state_dir, col="url")
    assert (ss.last_batch_id, ss.n_rows, ss.state_bytes) == (0, 200, once)
    df = _keys_df(spark)
    ss.process_batch(df, 0)
    assert (ss.n_rows, ss.state_bytes) == (200, once)
    ss.process_batch(df, 1)
    twice = CMS.serialize(CMS.update(CMS.update(CMS.create(3, 64), KEYS),
                                     KEYS))
    again = StreamingSketch(spec, state_dir, col="url")
    assert (again.last_batch_id, again.n_rows, again.batches_total,
            again.state_bytes) == (1, 400, 2, twice)


def test_golden_checkpoint_resumes(spark, tmp_path):
    """A time-boxed checkpointed_build (2 of 4 shards committed) resumes to
    the full build: the merged filter is the driver's update over every
    key, and the rewritten manifest reads back."""
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(os.path.join(GOLDEN, "ckpt_bloom"), ckpt)
    assert load_manifest(ckpt).done == {0, 1}
    res = checkpointed_build(_keys_df(spark), "url", bloom_spec(1000, 0.01),
                             route_cols=["url"], num_shards=4, ckpt_dir=ckpt,
                             shard_sized=False)
    assert res.n_rows == 200
    assert res.state_bytes == BLOOM.serialize(
        BLOOM.update(BLOOM.create(1000, 0.01), KEYS))
    m = load_manifest(ckpt)
    assert m.done == {0, 1, 2, 3} and len(m.rounds) == 2
