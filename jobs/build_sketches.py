"""The full sketch-build-and-merge pipeline as a spark-submit job.

    spark-submit --master local[8] --py-files /tmp/sketchlib_pyfiles.zip \\
        jobs/build_sketches.py --pages 1500000 --out /tmp/metrics8.json

Pipeline over the Common-Crawl-style page table (synth at --pages rows, or
the sf-dir-derived table with --sf-dir):

  1. extract    html -> text for every page; count byte-identity violations
                (must be 0 — the input_hint per-row invariant at scale)
  2. sketches   Bloom(url) + HLL(url) + CMS(host_id) + KLL(n_chars)
                + t-digest(n_chars): partial build per partition, log-depth
                tree merge (the north_rule pipeline).  The Bloom is a
                shard-sized bank once checkpoint.prefer_shard_sized says
                the monolith outgrows the cache budget, else one filter
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
import shutil
import sys
import tempfile
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
    ap.add_argument("--reps", type=int, default=2,
                help="timed pipeline repetitions; best-of is reported")
    ap.add_argument("--out", default=None, help="also write the JSON here")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1 (best-of needs one timed rep)")

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
        from sketchlib.checkpoint import (ShardedBloomBank, checkpointed_build,
                                          load_manifest, prefer_shard_sized)
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

        if args.flat_parquet:
            flat_in = spark.read.parquet(args.flat_parquet)
            warm_in = flat_in.limit(20_000)
            real_n = flat_in.count()
        else:
            flat_in = warm_in = None
            real_n = (make_pages(None).count() if args.sf_dir
                      else args.pages)
        # The Bloom shape is the library's call, made once from the REAL
        # input's row count: a shard-sized bank once the monolithic bitset
        # outgrows the per-core cache budget.  The warm-up's tiny spec never
        # crosses that threshold, so it takes the same shape explicitly.
        bank = prefer_shard_sized(bloom_spec(real_n, 0.01))

        def run_pipeline(pages, flat_input=None, ckpt=None):
            """One full pass; returns (stages, metrics, n_pages).
            ``ckpt``: durable checkpoint dir for this rep (None = a
            throwaway temp dir when the Bloom is checkpointed at all)."""
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
            if ckpt is not None:
                # a pre-existing manifest (e.g. the same --checkpoint-dir
                # reused across INVOCATIONS — the per-rep rep{k}/ subdirs
                # only isolate reps within one run) means this rep resumes
                # instead of building, so its "sketches" time omits some
                # or all of the Bloom cost: mark it in the artifact
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
                if args.checkpoint_dir or bank:
                    # resumable Bloom; the other four share one scan
                    if ckpt is None:
                        ckpt = tmp_ck = tempfile.mkdtemp(prefix="bloomck_")
                    bloom = checkpointed_build(
                        flat, "url", bspec, route_cols=["url"],
                        num_shards=4 * cores, ckpt_dir=ckpt, shard_sized=bank)
                    hll, cms, kll, td = build_sketches(
                        flat, cols_specs[1:], num_shards=args.shards)
                else:
                    bloom, hll, cms, kll, td = build_sketches(
                        flat, cols_specs, num_shards=args.shards)
                stages["sketches"] = round(time.perf_counter() - t0, 3)
                metrics["bloom_mode"] = ("bank" if isinstance(
                    bloom, ShardedBloomBank) else "monolith")
                est = HLL.cardinality(hll.state)
                metrics["hll_distinct_urls"] = int(est)
                metrics["hll_rel_err"] = round(abs(est - n_pages) / n_pages,
                                               5)
                metrics["sketch_metrics"] = [s.metrics() for s in
                                             (bloom, hll, cms, kll, td)]
            finally:  # throwaway Bloom state: metrics are extracted
                if tmp_ck is not None:
                    shutil.rmtree(tmp_ck, ignore_errors=True)

            # -- stage 3: per-host HLL via the map-side grouped build ------
            t0 = time.perf_counter()
            grouped = sketch_grouped(flat, ["host_id"], "url", hll_spec(p=12))
            n_hosts = grouped.count()
            stages["grouped_hll"] = round(time.perf_counter() - t0, 3)
            metrics["n_hosts"] = n_hosts
            flat.unpersist()
            return stages, metrics, n_pages

        # Warm the python workers WITH the actual pipeline on a tiny page
        # count: on a long-lived cluster workers/JIT are already hot, and
        # the scaling criterion excludes cluster startup (like JVM boot).
        # It checkpoints into a throwaway temp dir, never the real one:
        # tiny-spec state would conflict with the real shard plan.
        run_pipeline(None if flat_in is not None
                     else make_pages(min(20_000, args.pages)),
                     flat_input=warm_in)

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
