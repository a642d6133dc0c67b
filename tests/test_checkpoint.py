"""Checkpoint/resume: per-shard lineage, byte-identical resumed builds
(SURVEY §5.8): kill after K of P shards -> resume completes with the
identical final sketch bytes and a correct manifest."""

import hashlib
import json
import os

import pytest

from sketchlib.agg import PARTIAL_SCHEMA, bloom_spec, kll_spec
from sketchlib.checkpoint import (_partials_dir, _read_partials,
                                  checkpointed_build, load_manifest)
from sketchlib.sketch import HLL, KLL

SHARDS = 12
ROUTE = ["l_orderkey"]


def _li(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/lineitem.parquet")


def _run_incremental(df, col, spec, ckpt_dir, step):
    """Simulated crash-loop: each call is a fresh 'cluster' that builds at
    most ``step`` shards then dies; resume until finished."""
    rounds = 0
    while True:
        res = checkpointed_build(df, col, spec, route_cols=ROUTE,
                                 num_shards=SHARDS, ckpt_dir=ckpt_dir,
                                 max_shards_per_run=step)
        rounds += 1
        if res is not None:
            return res, rounds


@pytest.mark.parametrize("col,spec_fn", [
    ("l_orderkey", lambda n: bloom_spec(n, 0.01)),
    ("l_extendedprice", lambda n: kll_spec(k=160)),
])
def test_resume_matches_one_shot_byte_identical(spark, sf_smoke, tmp_path,
                                                col, spec_fn):
    df = _li(spark, sf_smoke)
    spec = spec_fn(df.count())

    one_shot = checkpointed_build(df, col, spec, route_cols=ROUTE,
                                  num_shards=SHARDS,
                                  ckpt_dir=str(tmp_path / "a"))
    resumed, rounds = _run_incremental(df, col, spec, str(tmp_path / "b"),
                                       step=5)
    assert rounds == 3  # 5 + 5 + 2 shards
    assert resumed.state_bytes == one_shot.state_bytes
    assert resumed.n_rows == one_shot.n_rows == df.where(
        f"{col} is not null").count()


def test_manifest_lineage_and_metrics(spark, sf_smoke, tmp_path):
    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "c")
    res = checkpointed_build(df, "l_partkey", bloom_spec(df.count(), 0.01),
                             route_cols=ROUTE, num_shards=SHARDS,
                             ckpt_dir=ckpt)
    m = load_manifest(ckpt)
    assert m is not None and m.done == set(range(SHARDS))
    assert sum(v["n"] for v in m.shards.values()) == res.n_rows
    assert all(v["sha"] for v in m.shards.values() if not v.get("empty"))
    assert m.rounds and m.rounds[0]["rows_per_sec"] > 0
    # manifest is valid json on disk (atomic replace target)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        json.load(f)
    # lineage surfaces on the result too
    assert len(res.shard_lineage) == SHARDS
    # the JVM-side read-back records hashlib's digest and length of each
    # blob exactly as the parquet holds it
    blobs = {str(r["shard"]): (hashlib.sha256(r["state"]).hexdigest()[:16],
                               len(r["state"]), r["n"])
             for r in _read_partials(spark, _partials_dir(ckpt)).collect()}
    assert blobs == {s: (v["sha"], v["bytes"], v["n"])
                     for s, v in m.shards.items() if not v.get("empty")}


def test_incompatible_spec_refused(spark, sf_smoke, tmp_path):
    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "d")
    checkpointed_build(df, "l_orderkey", bloom_spec(1000, 0.01),
                       route_cols=ROUTE, num_shards=SHARDS, ckpt_dir=ckpt,
                       max_shards_per_run=2)
    with pytest.raises(ValueError, match="different spec"):
        checkpointed_build(df, "l_orderkey", bloom_spec(2000, 0.01),
                           route_cols=ROUTE, num_shards=SHARDS, ckpt_dir=ckpt)


def test_stale_duplicate_rows_ignored(spark, sf_smoke, tmp_path):
    """Crash between parquet append and manifest commit leaves orphan rows;
    the manifest sha must win over any stale/garbage duplicate."""
    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "e")
    spec = bloom_spec(df.count(), 0.01)
    clean = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                               num_shards=SHARDS, ckpt_dir=ckpt)
    # inject a garbage duplicate blob for shard 0
    junk = spec.ops.serialize(spec.create())
    spark.createDataFrame([(0, junk, 999)], "shard long, state binary, n long") \
        .write.mode("append").parquet(os.path.join(ckpt, "partials"))
    again = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                               num_shards=SHARDS, ckpt_dir=ckpt)
    assert again.state_bytes == clean.state_bytes
    _assert_no_false_negatives(df, ckpt)


@pytest.mark.parametrize("orphan_dir", ["partials", "partials/round=crashed"])
def test_orphan_row_of_crashed_round_ignored(spark, sf_smoke, tmp_path,
                                             orphan_dir):
    """A crash after a round's parquet write but before its manifest commit
    leaves an orphan row for a shard the manifest still lists as missing.
    The resume must record and serve its own rebuild of that shard, never
    the orphan: flat under ``partials/`` (the layout of older checkpoints)
    or in a round directory of its own."""
    df = _li(spark, sf_smoke)
    spec = bloom_spec(df.count(), 0.01)
    kw = dict(route_cols=ROUTE, num_shards=SHARDS)
    one_shot = checkpointed_build(df, "l_orderkey", spec,
                                  ckpt_dir=str(tmp_path / "a"), **kw)
    ckpt = str(tmp_path / "b")
    assert checkpointed_build(df, "l_orderkey", spec, ckpt_dir=ckpt,
                              max_shards_per_run=5, **kw) is None
    orphan = max(load_manifest(ckpt).missing)
    spark.createDataFrame([(orphan, spec.ops.serialize(spec.create()), 5)],
                          PARTIAL_SCHEMA) \
        .write.mode("append").parquet(os.path.join(ckpt, orphan_dir))
    resumed = checkpointed_build(df, "l_orderkey", spec, ckpt_dir=ckpt, **kw)
    assert resumed.state_bytes == one_shot.state_bytes
    assert load_manifest(ckpt).shards[str(orphan)] == \
        load_manifest(str(tmp_path / "a")).shards[str(orphan)]
    _assert_no_false_negatives(df, ckpt)


def _assert_no_false_negatives(df, ckpt):
    """The routed probe of every inserted key answers True."""
    from pyspark.sql import functions as F

    from sketchlib.checkpoint import sharded_contains

    out = sharded_contains(df.select("l_orderkey").distinct(), "l_orderkey",
                           ckpt)
    assert out.where(~F.col("member")).count() == 0


@pytest.mark.parametrize("n_shards", [3, 12, 32])
def test_sharded_contains_matches_broadcast_probe(spark, sf_smoke, tmp_path,
                                                  n_shards):
    """Routed per-shard probing (the TB-scale path: no merged filter ever
    exists) must agree with the broadcast-whole-state probe at any shard
    count: no false negatives on inserted keys, False for a key from an
    empty id space."""
    from pyspark.sql import functions as F

    from sketchlib.agg import bloom_contains_col
    from sketchlib.checkpoint import sharded_contains

    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "g")
    spec = bloom_spec(df.count(), 0.01)
    res = checkpointed_build(df, "l_orderkey", spec, route_cols=["l_orderkey"],
                             num_shards=n_shards, ckpt_dir=ckpt)

    keys = df.select("l_orderkey").distinct()
    fresh = spark.range(50_000_000, 50_002_000) \
        .select(F.col("id").alias("l_orderkey"))
    probes = keys.unionAll(fresh)

    routed = {r["l_orderkey"]: r["member"] for r in
              sharded_contains(probes, "l_orderkey", ckpt).collect()}
    broadcast = {r["l_orderkey"]: r["m"] for r in probes.withColumn(
        "m", bloom_contains_col(spark, res.state_bytes,
                                F.col("l_orderkey"))).collect()}
    # every inserted key is a member under BOTH probes (no false negatives)
    for r in keys.collect():
        assert routed[r["l_orderkey"]] is True
        assert broadcast[r["l_orderkey"]] is True
    # routed probing can only be MORE precise than the merged filter
    # (k bits in one shard vs OR of all shards): no routed-positive may be
    # a broadcast-negative
    assert all(broadcast[k] for k, v in routed.items() if v)


def test_sharded_contains_refuses_wrong_route(spark, sf_smoke, tmp_path):
    from sketchlib.checkpoint import sharded_contains

    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "h")
    checkpointed_build(df, "l_extendedprice", bloom_spec(1000, 0.01),
                       route_cols=["l_orderkey"], num_shards=SHARDS,
                       ckpt_dir=ckpt)
    with pytest.raises(ValueError, match="wrong shard"):
        sharded_contains(df.select("l_extendedprice"), "l_extendedprice", ckpt)


def test_resume_is_noop_when_complete(spark, sf_smoke, tmp_path):
    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "f")
    spec = bloom_spec(df.count(), 0.01)
    first = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                               num_shards=SHARDS, ckpt_dir=ckpt)
    m1 = load_manifest(ckpt)
    second = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                                num_shards=SHARDS, ckpt_dir=ckpt)
    m2 = load_manifest(ckpt)
    assert second.state_bytes == first.state_bytes
    assert m1.rounds == m2.rounds  # no new build round ran


def test_identical_duplicate_blob_probes_once(spark, sf_smoke, tmp_path):
    """Crash AFTER the parquet append but BEFORE the manifest commit, then
    a deterministic rebuild: the partials dir holds TWO byte-identical rows
    for the shard, both carrying the manifest sha.  Probing must not fan
    each routed probe out twice (round-2 advice: duplicate probe rows)."""
    from pyspark.sql import functions as F

    from sketchlib.checkpoint import sharded_contains

    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "i")
    spec = bloom_spec(df.count(), 0.01)
    checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                       num_shards=SHARDS, ckpt_dir=ckpt)
    # duplicate EVERY shard row byte-identically (worst case)
    part_dir = os.path.join(ckpt, "partials")
    spark.read.parquet(part_dir).write.mode("append").parquet(part_dir)

    probes = df.select("l_orderkey").distinct()
    n_expected = probes.count()
    out = sharded_contains(probes, "l_orderkey", ckpt)
    assert out.count() == n_expected          # no fan-out duplication
    assert out.where(~F.col("member")).count() == 0


def test_sharded_contains_states_not_broadcast(spark, sf_smoke, tmp_path):
    """The states side must reach probe tasks through the shard shuffle,
    never a broadcast: broadcasting all blobs ships the whole (at scale,
    ~TB) filter to every executor (round-1 verdict finding #2)."""
    import contextlib
    import io

    from sketchlib.checkpoint import sharded_contains

    df = _li(spark, sf_smoke)
    ckpt = str(tmp_path / "j")
    checkpointed_build(df, "l_orderkey", bloom_spec(df.count(), 0.01),
                       route_cols=ROUTE, num_shards=SHARDS, ckpt_dir=ckpt)
    out = sharded_contains(df.select("l_orderkey"), "l_orderkey", ckpt)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    assert "BroadcastExchange" not in buf.getvalue()


def test_finalize_tree_merges_many_shards(spark, sf_smoke, tmp_path):
    """Above tree_merge's fanout (16) the finalize path reduces
    executor-side; the result must match a 4-shard build of the same data,
    which the driver folds directly (bloom merge is an OR —
    byte-identical regardless of shard plan)."""
    df = _li(spark, sf_smoke)
    spec = bloom_spec(df.count(), 0.01)
    few = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                             num_shards=4, ckpt_dir=str(tmp_path / "k4"))
    many = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                              num_shards=256, ckpt_dir=str(tmp_path / "k256"))
    assert many.state_bytes == few.state_bytes
    assert many.n_rows == few.n_rows
    assert len(many.shard_lineage) == 256


class TestShardSizedBank:
    """shard_sized=True: per-shard m for ~n/S keys, probed routed, never
    merged — total bank bytes ≈ one m(n), the only shape whose state can
    exist at 10^12 keys (S full-n shards = S × TBs)."""

    def _bank(self, spark, sf_smoke, tmp_path, name, **kw):
        df = _li(spark, sf_smoke)
        spec = bloom_spec(df.count(), 0.01)
        bank = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                                  num_shards=SHARDS,
                                  ckpt_dir=str(tmp_path / name),
                                  shard_sized=True, **kw)
        return df, spec, bank

    def test_state_bytes_near_one_filter_not_s_filters(
            self, spark, sf_smoke, tmp_path):
        from sketchlib.agg import build_sketch
        from sketchlib.checkpoint import ShardedBloomBank

        df, spec, bank = self._bank(spark, sf_smoke, tmp_path, "bank")
        assert isinstance(bank, ShardedBloomBank)
        merged = build_sketch(df, "l_orderkey", spec)
        one_filter = len(merged.state_bytes)
        # pad 1.2x + per-shard ceil + per-blob headers: well under 2x ONE
        # full filter, versus the default mode's S x one_filter
        assert bank.total_state_bytes < 2.0 * one_filter
        assert bank.total_state_bytes > 0.5 * one_filter  # not undersized
        per_shard = [s["bytes"] for s in bank.shard_lineage
                     if not s.get("empty")]
        assert max(per_shard) < 2.0 * one_filter / SHARDS
        assert bank.metrics()["kind"] == "bloom_bank"

    def test_probe_no_fn_and_bounded_fp(self, spark, sf_smoke, tmp_path):
        from pyspark.sql import functions as F

        df, spec, bank = self._bank(spark, sf_smoke, tmp_path, "bankp")
        n = df.where("l_orderkey is not null").count()
        assert bank.n_rows == n
        # every inserted key must be a member (Blooms have no FN; routing
        # is deterministic so each key probes the shard that holds it)
        hits = (bank.contains(df.select("l_orderkey"), "l_orderkey")
                .where(F.col("member")).count())
        assert hits == df.count()
        # fresh keys: per-shard FPP = p because each shard holds ~n/S keys
        # in an m(n/S)-bit array; allow generous slack at small counts
        spark_fresh = spark.range(10_000_000, 10_003_000) \
            .select(F.col("id").alias("l_orderkey"))
        fp = (bank.contains(spark_fresh, "l_orderkey")
              .where(F.col("member")).count()) / 3_000
        assert fp <= 5 * 0.01

    def test_resume_and_plan_guards(self, spark, sf_smoke, tmp_path):
        df = _li(spark, sf_smoke)
        spec = bloom_spec(df.count(), 0.01)
        ckpt = str(tmp_path / "bankr")
        partial = checkpointed_build(df, "l_orderkey", spec,
                                     route_cols=ROUTE, num_shards=SHARDS,
                                     ckpt_dir=ckpt, shard_sized=True,
                                     max_shards_per_run=5)
        assert partial is None  # time-boxed mid-build
        done = checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                                  num_shards=SHARDS, ckpt_dir=ckpt,
                                  shard_sized=True)
        assert done is not None and done.n_rows == df.count()
        # an EXPLICIT full-n (non-bank) resume against a bank dir must
        # refuse; the auto default instead follows the manifest and
        # reopens the completed bank
        with pytest.raises(ValueError, match="different spec/shard plan"):
            checkpointed_build(df, "l_orderkey", spec, route_cols=ROUTE,
                               num_shards=SHARDS, ckpt_dir=ckpt,
                               shard_sized=False)
        reopened = checkpointed_build(df, "l_orderkey", spec,
                                      route_cols=ROUTE, num_shards=SHARDS,
                                      ckpt_dir=ckpt)  # auto default
        assert reopened is not None and reopened.n_rows == done.n_rows
        # non-bloom banks are meaningless (fixed-size states)
        with pytest.raises(ValueError, match="bloom-only"):
            checkpointed_build(df, "l_extendedprice", kll_spec(k=160),
                               route_cols=ROUTE, num_shards=SHARDS,
                               ckpt_dir=str(tmp_path / "bankk"),
                               shard_sized=True)

    def test_route_type_guard_probe_and_resume(self, spark, sf_smoke,
                                               tmp_path):
        """Shard routing is JVM xxhash64(col) — TYPE-sensitive (1 as
        bigint and 1.0 as double hash differently), so probing or resuming
        with a retyped column silently routes keys to the wrong shard
        (false negatives).  The manifest records the build's route types;
        mismatches are refused; legacy manifests without the field keep
        probing (check skipped)."""
        import pyspark.sql.functions as F

        from sketchlib.checkpoint import (load_manifest, sharded_contains,
                                          _MANIFEST)

        df, spec, bank = self._bank(spark, sf_smoke, tmp_path, "banktype")
        assert load_manifest(bank.ckpt_dir).route_types == ["bigint"]
        retyped = df.withColumn("l_orderkey",
                                F.col("l_orderkey").cast("double"))
        with pytest.raises(ValueError, match="wrong shard"):
            sharded_contains(retyped.limit(10), "l_orderkey", bank.ckpt_dir)
        with pytest.raises(ValueError, match="mis-route"):
            checkpointed_build(retyped, "l_orderkey",
                               bloom_spec(df.count(), 0.01),
                               route_cols=ROUTE, num_shards=SHARDS,
                               ckpt_dir=bank.ckpt_dir, shard_sized=True)
        # a matching-type probe still answers every member
        hits = bank.contains(df.select("l_orderkey").limit(50), "l_orderkey")
        assert hits.where(~F.col("member")).count() == 0
        # legacy manifest (field absent): probe proceeds unchecked
        mpath = os.path.join(bank.ckpt_dir, _MANIFEST)
        raw = json.load(open(mpath))
        del raw["route_types"]
        json.dump(raw, open(mpath, "w"))
        legacy_hits = sharded_contains(
            df.select("l_orderkey").limit(20), "l_orderkey", bank.ckpt_dir)
        assert legacy_hits.where(~F.col("member")).count() == 0

    def test_query_job_autodetects_bank(self, spark, sf_smoke, tmp_path):
        """jobs/query_sketches.py on a bank checkpoint WITHOUT --sharded
        must auto-route from the manifest's shard_sized flag instead of
        dying in _finalize (auto-mode builds banks by default since round
        5, so a caller cannot be expected to know the recorded mode)."""
        import subprocess
        import sys

        df, spec, bank = self._bank(spark, sf_smoke, tmp_path, "bankq")
        probes = str(tmp_path / "probes.parquet")
        df.select("l_orderkey").distinct().limit(50).write.parquet(probes)
        job = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "jobs", "query_sketches.py")

        r = subprocess.run(
            [sys.executable, job, "--checkpoint-dir", bank.ckpt_dir,
             "--stats-only"], capture_output=True, text=True, timeout=120)
        assert r.returncode == 0, r.stderr[-2000:]
        assert json.loads(r.stdout)["shard_sized"] is True

        out = str(tmp_path / "hits")
        r = subprocess.run(
            [sys.executable, job, "--checkpoint-dir", bank.ckpt_dir,
             "--probe-parquet", probes, "--probe-col", "l_orderkey",
             "--out", out], capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        assert "probing routed" in r.stderr
        res = json.loads(r.stdout.strip().splitlines()[-1])
        assert res["probes"] == 50
        assert res["members"] == 50  # zero FN through the routed path

        # inline --probe-keys arrive as strings; against this
        # bigint-routed bank the CLI must cast them to the manifest's
        # route type (a string-typed probe would otherwise be refused by
        # the route-type guard, or on a monolith hash in the wrong domain
        # and answer all-False)
        two = [str(r["l_orderkey"]) for r in
               df.select("l_orderkey").distinct().limit(2).collect()]
        r = subprocess.run(
            [sys.executable, job, "--checkpoint-dir", bank.ckpt_dir,
             "--probe-keys", *two, "--probe-col", "l_orderkey",
             "--out", str(tmp_path / "hits2")],
            capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        res = json.loads(r.stdout.strip().splitlines()[-1])
        assert res["probes"] == 2 and res["members"] == 2

    def test_probe_state_memo_one_deserialize_per_shard_blob(
            self, spark, sf_smoke, tmp_path):
        """sharded_contains routes per-shard blob deserialization through
        agg._memo_deserialize (round-4 verdict residual #3), so routed
        probes get the broadcast path's one-deserialize-per-worker-per-
        state guarantee.  The worker-side counter isn't observable from
        the driver, so (a) exercise the memo driver-side on the bank's
        real committed blobs — repeat lookups must not re-deserialize —
        and (b) prove through Spark that a repeated routed probe is
        byte-identical (memoized state answers like a fresh one)."""
        from pyspark.sql import functions as F

        from sketchlib import agg as aggmod
        from sketchlib.checkpoint import _partials_dir

        df, spec, bank = self._bank(spark, sf_smoke, tmp_path, "bankm")
        blobs = [bytes(r["state"]) for r in
                 spark.read.parquet(_partials_dir(bank.ckpt_dir)).collect()]
        assert blobs
        ops = bank.spec.ops
        aggmod._PROBE_MEMO.clear()
        base = aggmod._probe_memo_deserializes
        # the memo is bytes-bounded (not count-bounded), so EVERY shard
        # blob of the bank stays resident: one deserialize each, ever,
        # across repeated probe rounds
        for b in blobs * 3:  # 3 probe rounds over the same bank
            aggmod._memo_deserialize(ops, b)
        assert aggmod._probe_memo_deserializes == base + len(blobs)

        probes = df.select("l_orderkey").limit(500)
        first = sorted((r["l_orderkey"], r["member"]) for r in
                       bank.contains(probes, "l_orderkey").collect())
        second = sorted((r["l_orderkey"], r["member"]) for r in
                        bank.contains(probes, "l_orderkey").collect())
        assert first == second and all(m for _, m in first)


class TestAutoShardSized:
    """shard_sized="auto" (the default): fresh builds pick the bank once
    the monolithic bitset outgrows the per-core cache budget; resumes
    always follow the manifest's recorded mode (round-4 verdict next #1 —
    a caller who forgot the flag silently got the DRAM-bound monolith)."""

    def test_threshold_picks_bank_above_monolith_below(self):
        from sketchlib.checkpoint import _BANK_AUTO_M_BYTES, prefer_shard_sized

        # 50M keys at p=0.01 -> ~60 MB bitset: DRAM-bound, bank territory
        big = bloom_spec(50_000_000, 0.01)
        assert big.cfg["m_bits"] // 8 > _BANK_AUTO_M_BYTES
        assert prefer_shard_sized(big)
        # 100k keys -> ~120 KB: cache-resident, keep the mergeable blob
        small = bloom_spec(100_000, 0.01)
        assert not prefer_shard_sized(small)
        # non-bloom states have fixed size; sharding shrinks nothing
        assert not prefer_shard_sized(kll_spec(k=200))

    def test_auto_default_small_spec_builds_monolith(self, spark, sf_smoke,
                                                     tmp_path):
        from sketchlib.agg import BuildResult

        df = _li(spark, sf_smoke)
        res = checkpointed_build(df, "l_orderkey",
                                 bloom_spec(df.count(), 0.01),
                                 route_cols=ROUTE, num_shards=SHARDS,
                                 ckpt_dir=str(tmp_path / "auto_small"))
        assert isinstance(res, BuildResult)
        assert not load_manifest(str(tmp_path / "auto_small")).shard_sized

    def test_auto_over_threshold_builds_bank(self, spark, sf_smoke,
                                             tmp_path, monkeypatch):
        import sketchlib.checkpoint as ck
        from sketchlib.checkpoint import ShardedBloomBank

        monkeypatch.setattr(ck, "_BANK_AUTO_M_BYTES", 64)
        df = _li(spark, sf_smoke)
        res = checkpointed_build(df, "l_orderkey",
                                 bloom_spec(df.count(), 0.01),
                                 route_cols=ROUTE, num_shards=SHARDS,
                                 ckpt_dir=str(tmp_path / "auto_bank"))
        assert isinstance(res, ShardedBloomBank)
        assert load_manifest(str(tmp_path / "auto_bank")).shard_sized

    def test_auto_resume_follows_manifest_not_threshold(self, spark,
                                                        sf_smoke, tmp_path,
                                                        monkeypatch):
        """A monolith checkpoint resumed under auto must STAY a monolith
        even when the threshold would now prefer a bank — auto never
        mixes geometries mid-build."""
        import sketchlib.checkpoint as ck
        from sketchlib.agg import BuildResult

        df = _li(spark, sf_smoke)
        spec = bloom_spec(df.count(), 0.01)
        ckpt = str(tmp_path / "auto_resume")
        partial = checkpointed_build(df, "l_orderkey", spec,
                                     route_cols=ROUTE, num_shards=SHARDS,
                                     ckpt_dir=ckpt, shard_sized=False,
                                     max_shards_per_run=5)
        assert partial is None  # mid-build monolith checkpoint on disk
        monkeypatch.setattr(ck, "_BANK_AUTO_M_BYTES", 64)  # bank-everything
        done = checkpointed_build(df, "l_orderkey", spec,
                                  route_cols=ROUTE, num_shards=SHARDS,
                                  ckpt_dir=ckpt)  # auto default
        assert isinstance(done, BuildResult)
        one_shot = checkpointed_build(df, "l_orderkey", spec,
                                      route_cols=ROUTE, num_shards=SHARDS,
                                      ckpt_dir=str(tmp_path / "auto_ref"),
                                      shard_sized=False)
        assert done.state_bytes == one_shot.state_bytes
