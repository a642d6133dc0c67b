"""Structured-Streaming sketch builds: incremental, exactly-once, mergeable.

The reference is batch-only (build, flush, then query — SURVEY §3.2); a
crawl is a stream.  Because every sketch here is a commutative monoid
(create/update/merge), streaming ingestion is just ``foreachBatch``:

    micro-batch rows -> per-partition partials (same kernels as batch)
                     -> merged into the running state
                     -> state + lineage committed atomically per batch

Exactly-once: the committed state file records the last applied batch id;
a replayed micro-batch (failure/retry semantics of foreachBatch are
at-least-once) is detected and skipped, so the running sketch never
double-counts — for Bloom/HLL double-update is harmless (idempotent OR /
max), but CMS counts and KLL ranks would drift.  The file is committed by
``io_iceberg.commit_json``, the same atomic swap as checkpoint.py's
manifest: both persist (state, lineage) snapshots a fresh process can
continue from.

One sketch PER GROUP over a stream (e.g. distinct users per event-time
window) is :func:`stateful_grouped_sketch`: each group's state lives in
Spark's state store and a micro-batch rewrites only the groups it touched.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from .agg import SketchSpec, build_sketch
from .io_iceberg import commit_json

__all__ = ["StreamingSketch", "stateful_grouped_sketch"]


def stateful_grouped_sketch(stream_df: DataFrame, group_cols: list[str],
                            value_col: str, spec: SketchSpec,
                            output_mode: str = "update") -> DataFrame:
    """Per-group sketch over a stream with state in SPARK'S STATE STORE
    (applyInPandasWithState): each group's serialized sketch lives in the
    executor-side, checkpointed state store, keyed by the group's typed
    values (a null key and the string "None" are two groups), so nothing
    per group is held on the driver; replay/exactly-once is Spark's
    contract, not ours.  Emits one (group..., state, n) row per updated
    group per micro-batch; downstream either keeps the latest row per
    group (max n) or treats rows as a changelog.

    Late/out-of-order rows are a non-event: update folds them into the
    group's running state whenever they arrive (the monoid property —
    no watermark needed for correctness; add one to bound retention).

    Each micro-batch's rows are folded first by ``agg._map_side_combine``,
    the batch builds' one grouped fold (JVM ``key_hash``, Arrow, nulls
    dropped): one partial (state, n) per group per partition.  The state
    op then merges those blobs into the stored one and adds up ``n``.  It
    is the one pandas stage left in the engine (pyspark has no Arrow
    variant of applyInPandasWithState), but only blobs and counts cross
    it: values, nullable bigints above 2^53 included, never pass through
    pandas."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .agg import _ddl, _map_side_combine, _merge_blobs

    ops = spec.ops
    gcols = list(group_cols)
    out_schema = ", ".join(_ddl(stream_df, gcols) + ["state binary", "n bigint"])
    state_schema = "state binary, n bigint"

    def fold(key, pdfs, state):
        blobs, n = [], 0
        if state.exists:
            blob, n = state.get
            blobs.append(bytes(blob))
        for pdf in pdfs:
            blobs.extend(map(bytes, pdf["state"]))
            n += int(pdf["n"].sum())
        blob = ops.serialize(_merge_blobs(ops, blobs))
        state.update((blob, n))
        row = {c: [key[i]] for i, c in enumerate(gcols)}
        row["state"] = [blob]
        row["n"] = [n]
        yield pd.DataFrame(row)

    return (_map_side_combine(stream_df, gcols, value_col, spec)
            .groupBy(*gcols)
            .applyInPandasWithState(fold, out_schema, state_schema,
                                    output_mode,
                                    GroupStateTimeout.NoTimeout))


class StreamingSketch:
    """Accumulates one sketch over a streaming DataFrame via foreachBatch.

    Usage::

        ss = StreamingSketch(spec, "/ckpt/stream_hll", col="user_id")
        q = (events_stream.writeStream.outputMode("append")
             .foreachBatch(ss.process_batch)
             .option("checkpointLocation", "/ckpt/stream_hll/spark")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        state = ss.state          # merged sketch, durable across restarts
    """

    #: Lineage retention: per-batch records kept in the durable state.  The
    #: state file is rewritten whole every commit, so an unbounded batch
    #: list makes a long-running stream's commit cost grow linearly with
    #: its age (O(batches^2) cumulative IO) — the exact regime this class
    #: exists for.  Cumulative totals (n_rows, batches_total) are exact
    #: forever; only the per-batch detail rolls.
    LINEAGE_KEEP = 512

    def __init__(self, spec: SketchSpec, state_dir: str, col: str):
        self.spec = spec
        self.col = col
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._path = os.path.join(state_dir, "sketch_state.json")
        self._load()

    # -- durable state -------------------------------------------------------
    def _load(self) -> None:
        if os.path.exists(self._path):
            with open(self._path) as f:
                raw = json.load(f)
            if raw["kind"] != self.spec.kind or raw["cfg"] != dict(self.spec.cfg):
                raise ValueError(f"state at {self._path} was written for a "
                                 f"different sketch spec")
            self._state_bytes = bytes.fromhex(raw["state_hex"])
            # resume only from a state the kernel accepts: one from an
            # older layout or hash domain is refused before a batch folds
            try:
                self.spec.ops.deserialize(self._state_bytes)
            except ValueError as e:
                raise ValueError(f"state at {self._path}: {e}") from None
            self.n_rows = raw["n_rows"]
            self.last_batch_id = raw["last_batch_id"]
            self.batches = raw["batches"]
            self.batches_total = raw.get("batches_total", len(self.batches))
        else:
            self._state_bytes = self.spec.ops.serialize(self.spec.create())
            self.n_rows = 0
            self.last_batch_id = -1
            self.batches = []
            self.batches_total = 0

    def _commit(self) -> None:
        commit_json(self._path, {
            "kind": self.spec.kind, "cfg": dict(self.spec.cfg),
            "state_hex": self._state_bytes.hex(),
            "n_rows": self.n_rows,
            "last_batch_id": self.last_batch_id,
            "batches": self.batches,
            "batches_total": self.batches_total,
        })

    # -- the foreachBatch hook -------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # replayed micro-batch: already folded in, skip
        t0 = time.perf_counter()
        ops = self.spec.ops
        # the shared build: partials tree-merge executor-side, so the
        # driver folds <= fanout states, not one per partition
        res = build_sketch(batch_df, self.col, self.spec)
        merged = ops.merge(ops.deserialize(self._state_bytes), res.state)
        self._state_bytes = ops.serialize(merged)
        self.n_rows += res.n_rows
        self.last_batch_id = batch_id
        self.batches.append({
            "batch_id": batch_id,
            "rows": res.n_rows,
            "partials": res.num_partials,
            "secs": round(time.perf_counter() - t0, 3),
        })
        self.batches_total += 1
        if len(self.batches) > self.LINEAGE_KEEP:
            del self.batches[: len(self.batches) - self.LINEAGE_KEEP]
        self._commit()

    # -- results ---------------------------------------------------------------
    @property
    def state(self):
        return self.spec.ops.deserialize(self._state_bytes)

    @property
    def state_bytes(self) -> bytes:
        return self._state_bytes
