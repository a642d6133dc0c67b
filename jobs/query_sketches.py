"""Probe-side CLI: answer queries from a checkpointed sketch build.

The reference's query surface is insert/contains/stats
(/root/reference/fbloom/bloom.h:327-344,485-495); this job is the
distributed probe half once jobs/build_sketches.py has persisted state:

    # membership ("is url X in the crawl?") for a parquet/text list of urls
    spark-submit --py-files sketchlib.zip jobs/query_sketches.py \\
        --checkpoint-dir /tmp/ckpt --probe-parquet probes.parquet \\
        --probe-col url --out hits.parquet

    # just the stats/lineage of the checkpointed state
    python jobs/query_sketches.py --checkpoint-dir /tmp/ckpt --stats-only

The final state is assembled from the manifest (resume-safe), broadcast
once, and probed whole-column in Arrow batches — O6 at cluster scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--probe-parquet", default=None,
                    help="parquet of probe keys (else --probe-keys)")
    ap.add_argument("--probe-col", default="url")
    ap.add_argument("--probe-keys", nargs="*", default=None,
                    help="inline probe keys for quick checks")
    ap.add_argument("--out", default=None,
                    help="write (key, member) parquet here instead of showing")
    ap.add_argument("--sharded", action="store_true",
                    help="route each probe to its owning shard's blob "
                         "instead of assembling the merged filter — the "
                         "only probe shape when the merged state is TBs")
    ap.add_argument("--stats-only", action="store_true")
    args = ap.parse_args()

    from sketchlib.checkpoint import load_manifest

    manifest = load_manifest(args.checkpoint_dir)
    if manifest is None:
        raise SystemExit(f"no manifest at {args.checkpoint_dir}")
    if manifest.missing:
        raise SystemExit(f"checkpoint incomplete: shards {sorted(manifest.missing)} "
                         f"missing — rerun jobs/build_sketches.py to resume")

    if args.stats_only:
        print(json.dumps({
            "spec": {"kind": manifest.spec_kind, **manifest.spec_cfg},
            "num_shards": manifest.num_shards,
            "shard_sized": manifest.shard_sized,
            "rows": sum(v["n"] for v in manifest.shards.values()),
            "rounds": manifest.rounds,
        }, indent=1))
        return

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("query_sketches").getOrCreate()
    try:
        from sketchlib.packaging import ensure_shipped
        ensure_shipped(spark)
        from sketchlib.agg import SketchSpec, bloom_contains_col
        from sketchlib.checkpoint import (_finalize, checkpointed_build,
                                          sharded_contains)

        spec = SketchSpec(manifest.spec_kind, manifest.spec_cfg)

        if args.probe_parquet:
            probes = spark.read.parquet(args.probe_parquet)
        elif args.probe_keys:
            probes = spark.createDataFrame(
                [(k,) for k in args.probe_keys], f"{args.probe_col} string")
            # inline keys arrive as strings; cast them to the type their
            # hash domain was built in, or integer keys would hash in the
            # string domain (broadcast path: all-False) or be refused by
            # the bank's route-type guard.  The merged filter holds the
            # VALUE column's hashes; a bank routes by the route column.
            # A manifest from before value_type still knows the value type
            # when it was routed by the value column; else it skips the cast.
            sharded = args.sharded or manifest.shard_sized
            route_col = args.probe_col if sharded else manifest.value_col
            cast = None if sharded else manifest.value_type
            if not cast and manifest.route_types \
                    and manifest.route_cols == [route_col]:
                cast = manifest.route_types[0]
            if cast:
                probes = probes.withColumn(
                    args.probe_col, F.col(args.probe_col).cast(cast))
        else:
            raise SystemExit("need --probe-parquet or --probe-keys")

        if spec.kind != "bloom":
            raise SystemExit("membership probe needs a bloom checkpoint; "
                             f"found {spec.kind}")
        if args.sharded or manifest.shard_sized:
            # a shard-sized bank has no merged form (each shard is sized
            # for its own keys; merging would break the FPP math), so the
            # routed probe is the only valid shape — auto-detect it from
            # the manifest instead of dying in _finalize when the caller
            # forgets --sharded on a checkpoint that auto-mode built as a
            # bank (jobs/build_sketches.py default since round 5)
            if manifest.shard_sized and not args.sharded:
                print("note: checkpoint is a shard-sized bank; "
                      "probing routed", file=sys.stderr)
            hits = sharded_contains(probes, args.probe_col,
                                    args.checkpoint_dir)
        else:
            res = _finalize(spark, spec, manifest, args.checkpoint_dir)
            hits = probes.withColumn(
                "member", bloom_contains_col(spark, res.state_bytes,
                                             F.col(args.probe_col)))
        if args.out:
            hits.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"probes": probes.count(),
                              "members": hits.where("member").count(),
                              "out": args.out}))
        else:
            hits.show(50, truncate=False)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
