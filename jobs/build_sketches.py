"""The full sketch-build-and-merge pipeline as a spark-submit job.

    spark-submit --master local[8] --py-files /tmp/sketchlib_pyfiles.zip \\
        jobs/build_sketches.py --pages 1500000 --out /tmp/metrics8.json

Pipeline over the Common-Crawl-style page table (synth at --pages rows, or
the sf-dir-derived table with --sf-dir):

  1. extract    html -> text for every page; count byte-identity violations
                (must be 0 — the input_hint per-row invariant at scale)
  2. sketches   Bloom(url) + HLL(url) + CMS(host_id) + KLL(n_chars)
                + t-digest(n_chars): partial build per partition, log-depth
                tree merge (the north_rule pipeline)
  3. grouped    per-host distinct-url HLL through the map-side grouped
                build (host 0 holds 40% of pages: each partition folds its
                share of the hot host, no raw-row shuffle)

Emits ONE JSON line: per-stage seconds, rows, and pipeline rows/sec
(session startup and worker warmup excluded — the scaling criterion
measures the pipeline, not cluster boot).  BENCH/scaling.py runs this at
two parallelism levels (default local[2] vs local[8]) to evidence the
N->4N >=0.8 scaling-efficiency rule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--n-words", type=int, default=30)
    ap.add_argument("--sf-dir", default=None,
                    help="use the sf-dir documents-derived table instead of synth")
    ap.add_argument("--flat-parquet", default=None,
                    help="pre-materialized (url, host_id, n_chars) parquet: "
                         "run ONLY the sketch-build-and-merge pipeline "
                         "(the BASELINE scaling metric) — extraction is "
                         "upstream input prep")
    ap.add_argument("--shards", type=int, default=None,
                    help="fixed shard count for the multi-sketch build "
                         "(keep identical across cluster sizes for a fair "
                         "N vs 4N comparison)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="input partitions (default 3x parallelism)")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="make the Bloom build resumable at this path. "
                         "With --reps > 1 each rep gets a fresh rep{k}/ "
                         "subdir — a completed checkpoint would be "
                         "resumed (= skipped) by the next rep, silently "
                         "dropping the Bloom cost from its timing")
    ap.add_argument("--sharded-bloom", type=int, nargs="?", const=-1,
                    default=None, metavar="S",
                    help="force the Bloom to a shard-sized bank of S "
                         "filters (default S = 4x cores), each sized for "
                         "its own ~n/S keys: the cache-resident, "
                         "never-merged shape a 10^12-key run uses. "
                         "Without this flag the mode is AUTO: the bank "
                         "engages whenever the monolithic bitset "
                         "outgrows the per-core cache budget "
                         "(sketchlib.checkpoint.prefer_shard_sized)")
    ap.add_argument("--monolith-bloom", action="store_true",
                    help="force the monolithic (mergeable) Bloom even "
                         "when auto would pick the bank — for A/B "
                         "capacity comparisons")
    ap.add_argument("--ab-bloom", action="store_true",
                    help="interleave monolith and bank pipelines in ONE "
                         "session (reps ABBA-ordered pairs: mono,bank / "
                         "bank,mono / ...), with a machine probe after "
                         "every arm — each pair shares its VM phase, so "
                         "the per-pair sketch-stage ratio is a matched "
                         "comparison, and alternating which arm runs "
                         "first cancels monotonic in-session drift "
                         "across pairs")
    ap.add_argument("--reps", type=int, default=2,
                help="timed pipeline repetitions; best-of is reported")
    ap.add_argument("--out", default=None, help="also write the JSON here")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1 (0 would run the full warmup, then "
                 "crash summarizing an empty rep list)")
    if args.sharded_bloom is not None and args.sharded_bloom != -1 \
            and args.sharded_bloom < 1:
        ap.error("--sharded-bloom needs S >= 1 (0 would silently fall "
                 "through to the monolithic path)")
    if args.sharded_bloom is not None and args.monolith_bloom:
        ap.error("--sharded-bloom and --monolith-bloom are mutually "
                 "exclusive")
    if args.ab_bloom and (args.sharded_bloom is not None
                          or args.monolith_bloom or args.checkpoint_dir):
        ap.error("--ab-bloom runs both modes itself; it is incompatible "
                 "with --sharded-bloom/--monolith-bloom/--checkpoint-dir")
    if args.ab_bloom and args.reps % 2:
        ap.error("--ab-bloom needs an even --reps: pairs alternate "
                 "mono-first / bank-first (ABBA) so monotonic in-session "
                 "drift cancels; an odd count leaves one arm running "
                 "first more often and biases the pooled ratio")

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("build_sketches")
             # the same Arrow/exec configs sketchlib.session.get_spark uses:
             # the default 10k-record Arrow batches cost 6.5x more python
             # round-trips on every mapInPandas stage
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.python.worker.reuse", "true")
             .config("spark.sql.adaptive.enabled", "true")
             # local mode: driver JVM is the executor; the 1g default heap
             # caps netty direct memory and OOMs Arrow transfers beyond a
             # few million pages (spark-submit runs get this from --conf)
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .getOrCreate())
    try:
        from sketchlib.envprobe import env_probe
        probe_start = env_probe()
        from sketchlib.packaging import ensure_shipped
        ensure_shipped(spark)
        from sketchlib.agg import (bloom_spec, build_sketches, cms_spec,
                                   hll_spec, kll_spec, sketch_grouped,
                                   tdigest_spec)
        from sketchlib.extract import extract_project
        from sketchlib.sketch import HLL

        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
        parts = args.partitions or 3 * cores

        def make_pages(n_pages_arg):
            if args.sf_dir:
                from sketchlib.webtext import webpages
                return webpages(spark, args.sf_dir)
            from sketchlib.synth import synth_webpages
            return synth_webpages(spark, n_pages_arg, n_words=args.n_words,
                                  partitions=parts)

        def bloom_mode(spec) -> tuple[str, str]:
            """(mode, reason) for this run's Bloom.  Auto (no flag) defers
            to checkpoint.prefer_shard_sized: the bank engages once the
            monolithic m(n) bitset outgrows the per-core cache budget —
            measured here: insert drops 4.2->2.2 Mkeys/s/core from a 6MB
            to a 60MB bitset — and is the only shape that exists at
            10^12 keys.  Below the threshold the monolith keeps the
            simpler mergeable blob."""
            from sketchlib.checkpoint import prefer_shard_sized
            if args.monolith_bloom:
                return "monolith", "forced by --monolith-bloom"
            if args.sharded_bloom is not None:
                return "bank", "forced by --sharded-bloom"
            m_bytes = spec.cfg["m_bits"] // 8
            if prefer_shard_sized(spec):
                return "bank", f"auto: m_bytes={m_bytes} > cache budget"
            return "monolith", f"auto: m_bytes={m_bytes} fits cache"

        def run_pipeline(pages, flat_input=None, ckpt=None, force_mode=None):
            """One full pass; returns (stages, metrics, n_pages).
            ``ckpt``: durable checkpoint dir for this rep (None = use a
            throwaway temp dir if the bank engages, cleaned up here)."""
            stages: dict[str, float] = {}
            metrics: dict[str, object] = {}

            if flat_input is not None:
                # sketch-build-and-merge mode: input prep happened upstream
                t0 = time.perf_counter()
                flat = flat_input.cache()
                n_pages = flat.count()
                stages["input_read"] = round(time.perf_counter() - t0, 3)
            else:
                # -- stage 1: fused extract+verify+project (html crosses the
                # JVM->python boundary exactly once; narrow columns return)
                t0 = time.perf_counter()
                flat = extract_project(pages).cache()
                n_pages = flat.count()
                mismatches = flat.where(~F.col("ok")).count()
                stages["extract"] = round(time.perf_counter() - t0, 3)
                metrics["extract_mismatches"] = mismatches
                assert mismatches == 0, "extraction byte-identity violated"

            # -- stage 2: five-sketch single-pass build + tree merge -------
            t0 = time.perf_counter()
            bspec = bloom_spec(n_pages, 0.01)
            cols_specs = [("url", bspec),
                          ("url", hll_spec(p=14)),
                          ("host_id", cms_spec(d=5, w=8192)),
                          ("n_chars", kll_spec(k=200)),
                          ("n_chars", tdigest_spec(delta=200))]
            mode, why = (force_mode, "warmup mirrors real mode") \
                if force_mode else bloom_mode(bspec)
            metrics["bloom_mode"], metrics["bloom_mode_reason"] = mode, why
            if ckpt is not None:
                # a pre-existing manifest (e.g. the same --checkpoint-dir
                # reused across INVOCATIONS — the per-rep rep{k}/ subdirs
                # only isolate reps within one run) means this rep resumes
                # instead of building, so its "sketches" time omits some
                # or all of the Bloom cost: mark it in the artifact
                from sketchlib.checkpoint import load_manifest
                prior = load_manifest(ckpt)
                if prior is not None:
                    metrics["bloom_resumed"] = True
                    metrics["bloom_unbuilt_shards"] = len(prior.missing)
                    if not prior.missing:
                        print(f"WARNING: checkpoint at {ckpt} is already "
                              "complete; the Bloom build is skipped and "
                              "this rep's 'sketches' time omits it",
                              file=sys.stderr)
            tmp_ck = None
            try:
                if mode == "bank":
                    import tempfile
                    from sketchlib.checkpoint import checkpointed_build
                    s_shards = (args.sharded_bloom
                                if args.sharded_bloom
                                and args.sharded_bloom > 0 else 4 * cores)
                    ck = ckpt
                    if ck is None:
                        ck = tmp_ck = tempfile.mkdtemp(prefix="bloombank_")
                    bloom = checkpointed_build(
                        flat, "url", bspec, route_cols=["url"],
                        num_shards=s_shards, ckpt_dir=ck, shard_sized=True)
                    hll, cms, kll, td = build_sketches(
                        flat, cols_specs[1:], num_shards=args.shards)
                elif ckpt is not None:
                    # resumable monolith; the other four share one scan
                    from sketchlib.checkpoint import checkpointed_build
                    bloom = checkpointed_build(
                        flat, "url", bspec, route_cols=["url"],
                        num_shards=4 * cores, ckpt_dir=ckpt,
                        shard_sized=False)
                    hll, cms, kll, td = build_sketches(
                        flat, cols_specs[1:], num_shards=args.shards)
                else:
                    bloom, hll, cms, kll, td = build_sketches(
                        flat, cols_specs, num_shards=args.shards)
                stages["sketches"] = round(time.perf_counter() - t0, 3)
                est = HLL.cardinality(hll.state)
                metrics["hll_distinct_urls"] = int(est)
                metrics["hll_rel_err"] = round(abs(est - n_pages) / n_pages,
                                               5)
                metrics["sketch_metrics"] = [s.metrics() for s in
                                             (bloom, hll, cms, kll, td)]
            finally:
                if tmp_ck is not None:  # throwaway bank state: metrics
                    import shutil       # are extracted, reclaim the disk
                    shutil.rmtree(tmp_ck, ignore_errors=True)

            # -- stage 3: per-host HLL via the map-side grouped build ------
            t0 = time.perf_counter()
            grouped = sketch_grouped(flat, ["host_id"], "url", hll_spec(p=12))
            n_hosts = grouped.count()
            stages["grouped_hll"] = round(time.perf_counter() - t0, 3)
            metrics["n_hosts"] = n_hosts
            flat.unpersist()
            return stages, metrics, n_pages

        if args.flat_parquet:
            flat_in = spark.read.parquet(args.flat_parquet)
            warm_in = flat_in.limit(20_000)
        else:
            flat_in = warm_in = None

        # Warm the python workers WITH the actual pipeline on a tiny page
        # count: on a long-lived cluster workers/JIT are already hot, and
        # the scaling criterion excludes cluster startup (like JVM boot).
        # Warmup runs in the mode the real reps will use — a tiny spec
        # never crosses the auto-bank threshold, so predict the real
        # run's mode and force it (against a throwaway temp dir, never
        # the real checkpoint: tiny-spec state would conflict with the
        # real shard plan).
        if args.ab_bloom:
            predicted = "both"
        elif args.monolith_bloom:
            predicted = "monolith"
        elif args.sharded_bloom is not None:
            predicted = "bank"
        else:
            # auto mode: predict from the REAL input's row count (not the
            # 20k-row warmup sample) so the warmup exercises the same code
            # path the timed reps will take — a --flat-parquet input big
            # enough for auto to pick the bank must warm the bank's
            # checkpoint write/read-back path, not the monolith's
            if flat_in is not None:
                real_n = flat_in.count()
            elif args.sf_dir:
                real_n = make_pages(None).count()
            else:
                real_n = args.pages
            predicted = bloom_mode(bloom_spec(real_n, 0.01))[0]
        warm_ck = None
        if args.checkpoint_dir and predicted != "bank":
            import shutil
            import tempfile
            warm_ck = tempfile.mkdtemp(prefix="warmck_")
        try:
            warm_pages = (None if flat_in is not None
                          else make_pages(min(20_000, args.pages)))
            if predicted == "both":  # A/B: warm both arms' code paths
                run_pipeline(warm_pages, flat_input=warm_in,
                             force_mode="monolith", ckpt=warm_ck)
                run_pipeline(warm_pages, flat_input=warm_in,
                             force_mode="bank", ckpt=warm_ck)
            else:
                run_pipeline(warm_pages, flat_input=warm_in,
                             force_mode=predicted, ckpt=warm_ck)
        finally:
            if warm_ck is not None:
                shutil.rmtree(warm_ck, ignore_errors=True)

        def ckpt_for(rep: int) -> str | None:
            """Durable dir per rep.  reps > 1 get fresh rep{k}/ subdirs:
            rep 2 resuming rep 1's completed checkpoint would skip the
            Bloom build and silently drop its cost from the timing."""
            if not args.checkpoint_dir:
                return None
            if args.reps > 1:
                return os.path.join(args.checkpoint_dir, f"rep{rep}")
            return args.checkpoint_dir

        pages = None if flat_in is not None else make_pages(args.pages)

        if args.ab_bloom:
            # Interleaved A/B: each (monolith, bank) pair runs back-to-back
            # in the same session with a probe after every arm, so the
            # per-pair sketch-stage ratio is phase-matched by construction.
            ab_pairs = []
            metrics: dict[str, object] = {}
            n_pages = 0
            for k in range(args.reps):
                pair = {}
                # ABBA: alternate which arm runs first so monotonic
                # in-session drift (measured: the 8 GiB monolith slowed
                # 42->74->186 s across reps while the bank held) cancels
                # across pairs instead of biasing every ratio one way
                order = (("monolith", "bank") if k % 2 == 0
                         else ("bank", "monolith"))
                pair["order"] = "->".join(order)
                for mode in order:
                    st, m, n_pages = run_pipeline(pages, flat_input=flat_in,
                                                  force_mode=mode)
                    pair[mode] = {"stages": st,
                                  "pipeline_secs": round(sum(st.values()), 3),
                                  "probe_after": env_probe()}
                    if mode == "bank" and not metrics:
                        metrics = m  # bank-arm metrics (bits/item, modes)
                pair["sketch_win"] = round(
                    pair["monolith"]["stages"]["sketches"]
                    / pair["bank"]["stages"]["sketches"], 3)
                pair["pipeline_win"] = round(
                    pair["monolith"]["pipeline_secs"]
                    / pair["bank"]["pipeline_secs"], 3)
                ab_pairs.append(pair)
            wins = [p["sketch_win"] for p in ab_pairs]
            best_bank = min((p["bank"] for p in ab_pairs),
                            key=lambda a: a["pipeline_secs"])
            out = {
                "pages": n_pages,
                "cores": cores,
                "env_probe_start": probe_start,
                "env_probe": env_probe(),
                "partitions": parts,
                "reps": args.reps,
                # headline fields = best bank arm, so capacity views keep
                # rendering; the matched evidence is ab_pairs
                "stages": best_bank["stages"],
                "pipeline_secs": best_bank["pipeline_secs"],
                "pages_per_sec": round(
                    n_pages / best_bank["pipeline_secs"], 1),
                "sketch_rows_per_sec": round(
                    5 * n_pages / best_bank["stages"]["sketches"], 1),
                "ab_pairs": ab_pairs,
                "sketch_win_range": [min(wins), max(wins)],
                **metrics,
            }
            out["bloom_mode"] = "ab"
            out["bloom_mode_reason"] = ("interleaved monolith/bank pairs; "
                                        "headline stages = best bank arm")
            line = json.dumps(out)
            print(line)
            if args.out:
                with open(args.out, "w") as f:
                    f.write(line + "\n")
            return

        best_stages, metrics, n_pages = run_pipeline(pages,
                                                     flat_input=flat_in,
                                                     ckpt=ckpt_for(0))
        best_total = sum(best_stages.values())
        all_reps = [best_stages]
        resumed = [bool(metrics.get("bloom_resumed", False))]
        for k in range(1, args.reps):
            st, _m, _n = run_pipeline(pages, flat_input=flat_in,
                                      ckpt=ckpt_for(k))
            all_reps.append(st)
            resumed.append(bool(_m.get("bloom_resumed", False)))
            if sum(st.values()) < best_total:
                best_stages, best_total = st, sum(st.values())
        # every rep's stage times, so the headline best-of is auditable
        # (and rep-to-rep drift under memory pressure is visible)
        metrics["rep_stages"] = all_reps
        if any(resumed):  # which reps' sketch times omit (part of) the
            metrics["rep_resumed"] = resumed  # Bloom build via resume

        out = {
            "pages": n_pages,
            "cores": cores,
            "env_probe_start": probe_start,
            "env_probe": env_probe(),
            "partitions": parts,
            "reps": args.reps,
            "stages": best_stages,
            "pipeline_secs": round(best_total, 3),
            "pages_per_sec": round(n_pages / best_total, 1),
            "sketch_rows_per_sec": round(5 * n_pages / best_stages["sketches"], 1),
            **metrics,
        }
        line = json.dumps(out)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
