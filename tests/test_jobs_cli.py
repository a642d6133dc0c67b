"""Argument-contract tests for jobs/build_sketches.py — every rejection
happens in argparse before a SparkSession exists, so these are
subprocess-cheap.  The accepted paths are exercised end-to-end by the
committed capacity artifacts (BENCH/capacity_*_r5.json) and by the
checkpoint-reuse run below."""

import os
import subprocess
import sys

JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "jobs", "build_sketches.py")


def _run(*argv):
    return subprocess.run([sys.executable, JOB, *argv],
                          capture_output=True, text=True, timeout=60)


def test_reps_below_one_rejected():
    """--reps 0 used to run the full warmup, then silently behave like 1 —
    it is rejected up front."""
    r = _run("--pages", "100", "--reps", "0")
    assert r.returncode == 2
    assert "--reps must be >= 1" in r.stderr
    r = _run("--pages", "100", "--reps", "-1")
    assert r.returncode == 2


def test_reusing_completed_checkpoint_is_marked(tmp_path):
    """Re-invoking the job against an already-complete --checkpoint-dir
    resumes (= skips) the Bloom build — that is the resume feature — but
    the artifact must SAY so: an unmarked Bloom-free 'sketches' time is
    indistinguishable from a real one in benchmark comparisons (the
    rep{k}/ subdirs only isolate reps within one invocation)."""
    import json

    ck = str(tmp_path / "ck")

    def run_once(out):
        r = subprocess.run(
            [sys.executable, JOB, "--pages", "2000", "--reps", "1",
             "--checkpoint-dir", ck, "--out", out],
            capture_output=True, text=True, timeout=240)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.load(open(out)), r.stderr

    first, _ = run_once(str(tmp_path / "r1.json"))
    assert "bloom_resumed" not in first
    assert first["bloom_mode"] == "monolith"
    second, err = run_once(str(tmp_path / "r2.json"))
    assert second["bloom_resumed"] is True
    assert second["rep_resumed"] == [True]
    assert "already complete" in err


def test_inline_probe_keys_cast_to_value_type(spark, tmp_path):
    """Inline --probe-keys arrive as strings.  On the merged (broadcast)
    path they must hash in the BUILD value column's type, recorded in the
    manifest as value_type — even when the checkpoint was routed by a
    different column, whose type says nothing about the value domain."""
    import json

    from sketchlib.agg import bloom_spec
    from sketchlib.checkpoint import checkpointed_build, load_manifest

    keys = [10_000_019 * i for i in range(1, 41)]
    df = spark.createDataFrame([(k, f"r{k % 7}") for k in keys],
                               "k bigint, route string")
    ck = str(tmp_path / "ck")
    checkpointed_build(df, "k", bloom_spec(len(keys), 0.01),
                       route_cols=["route"], num_shards=4, ckpt_dir=ck,
                       shard_sized=False)
    assert load_manifest(ck).value_type == "bigint"

    query = os.path.join(os.path.dirname(JOB), "query_sketches.py")
    out = str(tmp_path / "hits.parquet")
    r = subprocess.run(
        [sys.executable, query, "--checkpoint-dir", ck, "--probe-col", "k",
         "--probe-keys", *map(str, keys), "--out", out],
        capture_output=True, text=True, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["probes"] == report["members"] == len(keys)
