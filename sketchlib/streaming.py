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
max), but CMS counts and KLL ranks would drift.

This is the streaming face of checkpoint.py's batch resume: both persist
(state, lineage) snapshots a fresh process can continue from.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from .agg import SketchSpec, build_sketch

__all__ = ["StreamingSketch", "StreamingGroupedSketch",
           "stateful_grouped_sketch"]


def _check_state(spec: SketchSpec, blob: bytes, path: str) -> None:
    """Resume only from a state the kernel accepts: one from an older
    layout or hash domain is refused now, before a batch is folded."""
    try:
        spec.ops.deserialize(blob)
    except ValueError as e:
        raise ValueError(f"state at {path}: {e}") from None


def stateful_grouped_sketch(stream_df: DataFrame, group_cols: list[str],
                            value_col: str, spec: SketchSpec,
                            output_mode: str = "update") -> DataFrame:
    """Per-group sketch over a stream with state in SPARK'S STATE STORE
    (applyInPandasWithState) — the scale path for high-cardinality group
    keys, where StreamingGroupedSketch's driver-side state table would not
    fit: each group's serialized sketch lives in the executor-side,
    checkpointed state store; replay/exactly-once is Spark's contract, not
    ours.  Emits one (group..., state, n) row per updated group per
    micro-batch; downstream either keeps the latest row per group or
    treats rows as a changelog.

    Late/out-of-order rows are a non-event: update folds them into the
    group's running state whenever they arrive (the monoid property —
    no watermark needed for correctness; add one to bound retention).

    The one pandas stage left in the engine: pyspark has no Arrow variant
    of applyInPandasWithState, so each group's rows arrive as pandas and
    re-enter Arrow before the shared value conversion.  Caveat: pandas has
    already promoted a nullable bigint column that holds a null to
    float64, so in such a batch keys above 2^53 are rounded before they
    are hashed — cast such keys to string upstream when that matters."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .agg import _arrow_values, _ddl

    ops = spec.ops
    gcols = list(group_cols)
    out_schema = ", ".join(_ddl(stream_df, gcols) + ["state binary", "n bigint"])
    state_schema = "state binary, n bigint"

    def fold(key, pdfs, state):
        if state.exists:
            blob, n = state.get
            st = ops.deserialize(bytes(blob))
        else:
            st, n = spec.create(), 0
        for pdf in pdfs:
            vals = _arrow_values(pa.Array.from_pandas(pdf[value_col]))
            st = ops.update(st, vals)
            n += len(vals)
        state.update((ops.serialize(st), n))
        row = {c: [key[i]] for i, c in enumerate(gcols)}
        row["state"] = [ops.serialize(st)]
        row["n"] = [n]
        yield pd.DataFrame(row)

    return (stream_df.select(*gcols, value_col)
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
            _check_state(self.spec, self._state_bytes, self._path)
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
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({
                "kind": self.spec.kind, "cfg": dict(self.spec.cfg),
                "state_hex": self._state_bytes.hex(),
                "n_rows": self.n_rows,
                "last_batch_id": self.last_batch_id,
                "batches": self.batches,
                "batches_total": self.batches_total,
            }, f)
        os.replace(tmp, self._path)

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


class StreamingGroupedSketch:
    """One sketch PER GROUP over a stream (e.g. distinct users per
    event-time window): each micro-batch runs the distributed grouped
    build (map-side combine — the only shape that survives high-volume
    batches), then merges batch states into the running per-group table.

    Group keys can be event-time windows (pass a window/bucket expression
    as a group column): late rows merge into their window's sketch
    whenever they arrive — the sketch algebra makes out-of-order arrival a
    non-event, which is why no watermark is needed for correctness (a
    watermark would only bound state retention; at 10^12 scale add a
    retention policy that drops windows older than the watermark).

    Exactly-once via the same last-batch-id protocol as StreamingSketch.
    """

    def __init__(self, spec: SketchSpec, state_dir: str,
                 group_cols: list[str], value_col: str):
        self.spec = spec
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._path = os.path.join(state_dir, "grouped_state.json")
        self._load()

    def _load(self) -> None:
        if os.path.exists(self._path):
            with open(self._path) as f:
                raw = json.load(f)
            if raw["kind"] != self.spec.kind or raw["cfg"] != dict(self.spec.cfg):
                raise ValueError("state written for a different sketch spec")
            self.groups = {k: {"state": bytes.fromhex(v["state_hex"]),
                               "n": v["n"]}
                           for k, v in raw["groups"].items()}
            for v in self.groups.values():
                _check_state(self.spec, v["state"], self._path)
            self.last_batch_id = raw["last_batch_id"]
        else:
            self.groups = {}
            self.last_batch_id = -1

    def _commit(self) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({
                "kind": self.spec.kind, "cfg": dict(self.spec.cfg),
                "last_batch_id": self.last_batch_id,
                "groups": {k: {"state_hex": v["state"].hex(), "n": v["n"]}
                           for k, v in self.groups.items()},
            }, f)
        os.replace(tmp, self._path)

    @staticmethod
    def _key(row, group_cols) -> str:
        return json.dumps([str(row[c]) for c in group_cols])

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from .agg import sketch_grouped

        if batch_id <= self.last_batch_id:
            return
        ops = self.spec.ops
        rows = sketch_grouped(batch_df, self.group_cols, self.value_col,
                              self.spec, strategy="local_combine").collect()
        for r in rows:
            k = self._key(r, self.group_cols)
            blob = bytes(r["state"])
            ent = self.groups.get(k)
            if ent is None:
                self.groups[k] = {"state": blob, "n": int(r["n"])}
            else:
                merged = ops.merge(ops.deserialize(ent["state"]),
                                   ops.deserialize(blob))
                ent["state"] = ops.serialize(merged)
                ent["n"] += int(r["n"])
        self.last_batch_id = batch_id
        self._commit()

    def states(self) -> dict:
        """{group-key-json: deserialized sketch state}"""
        ops = self.spec.ops
        return {k: ops.deserialize(v["state"]) for k, v in self.groups.items()}
