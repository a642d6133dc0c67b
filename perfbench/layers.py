"""Per-layer measurement for the traced run.

Three sources, none of them inside sketchlib:

* :class:`Tracer` keeps spans (name, start, end, parent, op id) around the
  benchmark's own calls into each layer, in memory, and writes them out
  once at the end.
* :func:`spark_op_metrics` reads Spark's status store over py4j for the
  jobs one op ran (found by job group).  It works with the UI off.
* :func:`replay` times the hashing and sketch-kernel layers in-process,
  without Spark, on a fixed sample of the workload's own keys and values.
"""

from __future__ import annotations

import json
import statistics
import time

import numpy as np
import pyarrow as pa

from sketchlib import hashing
from sketchlib.sketch import BLOOM, CMS, HLL, KLL, TDIGEST


class Tracer:
    """In-memory spans; a span's parent is the span open when it began."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = len(tracer.spans)
                tracer.spans.append({
                    "name": name, "op": tracer.op_id,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "start": time.perf_counter(), "end": None})
                tracer._stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                tracer.spans[self.idx]["end"] = time.perf_counter()
                return False

        return _Span()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out

    def op_seconds(self, names) -> list[float]:
        """Seconds each traced op spent in spans named in ``names``."""
        per_op = {s["op"]: 0.0 for s in self.spans if s["name"] == "op"}
        for s in self.spans:
            if s["name"] in names:
                per_op[s["op"]] += s["end"] - s["start"]
        return list(per_op.values())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


#: per-layer metric -> the spans (calls into sketchlib) whose seconds per
#: op it sums; ``checkpoint.round_s`` is then divided by the rounds per op
CALL_SPANS = {
    "agg.build_s": ("agg.build_sketches",),
    "agg.probe_s": ("agg.bloom_contains_col",
                    "agg.bloom_contains_col.collect"),
    "streaming.process_batch_s": ("streaming.process_batch",),
    "checkpoint.round_s": ("checkpoint.checkpointed_build",),
    "checkpoint.probe_s": ("checkpoint.sharded_contains",
                           "checkpoint.sharded_contains.collect"),
}


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_KEYS = ("jobs", "stages", "tasks", "job_s", "driver_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "task_skew",
              "executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes")


def jvm_gc_s(spark) -> float:
    """Total collection seconds of every garbage collector in the JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def spark_op_metrics(spark, group: str, op_wall_s: float,
                     gc_s: float) -> dict[str, float]:
    """Stage metrics summed over the jobs of one job group.

    ``job_s`` is the wall time covered by the union of the jobs' run
    intervals; ``driver_s`` is the op's wall time outside any job;
    ``task_skew`` is max over median task duration in the op's longest
    stage; ``gc_s`` is passed in (JVM-wide collection seconds during the
    op, from :func:`jvm_gc_s`)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    out["gc_s"] = gc_s
    spans = []
    longest = (-1.0, None)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            spans.append((job.submissionTime().get().getTime(),
                          job.completionTime().get().getTime()))
        ids = job.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(ids.apply(k), False, None, False, None)
            if attempts.size() == 0:
                continue  # skipped: its output was reused
            st = attempts.apply(0)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            run_s = st.executorRunTime() / 1e3
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run_s > longest[0]:
                longest = (run_s, st)
    if longest[1] is not None:
        st = longest[1]
        tasks = store.taskList(st.stageId(), st.attemptId(), 100000)
        durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()]
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    covered, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            covered += (b - max(a, end)) / 1e3
            end = b
    out["job_s"] = covered
    out["driver_s"] = max(0.0, op_wall_s - covered)
    return out


# ---------------------------------------------------------------------------
# in-process replay of the hashing and sketch layers
# ---------------------------------------------------------------------------

REPLAY_REPS = 3


def _median_time(fn, reps: int = REPLAY_REPS) -> tuple[float, object]:
    """Median seconds over ``reps`` calls, and the last call's result."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def replay(keys, values, bloom_n: int) -> dict[str, float]:
    """Per-million-key seconds of each hashing entry point and kernel
    update, plus serialize/deserialize/merge seconds and state bytes per
    sketch kind, on the given sample of string keys."""
    out: dict[str, float] = {}
    keys = pa.array(list(keys), pa.large_string())
    per_m = 1e6 / len(keys)
    values = np.asarray(values, np.float64)

    s, _ = _median_time(lambda: hashing.to_byte_matrix(keys))
    out["hashing.byte_matrix_s"] = s * per_m
    s, (h1, h2) = _median_time(lambda: hashing.hash_pair(keys))
    out["hashing.hash_pair_s"] = s * per_m
    s, h64 = _median_time(lambda: hashing.hash64(keys))
    out["hashing.hash64_s"] = s * per_m

    bloom_cfg = dict(n=bloom_n, p=0.01)
    s, bloom = _median_time(lambda: BLOOM.update_hashes(
        BLOOM.create(**bloom_cfg), h1, h2))
    out["sketch.bloom.update_hashes_s"] = s * per_m
    s, _ = _median_time(lambda: BLOOM.contains_hashes(bloom, h1, h2))
    out["sketch.bloom.contains_hashes_s"] = s * per_m
    out["sketch.bloom.fill"] = bloom.bits_set / bloom.m_bits
    s, hll = _median_time(lambda: HLL.update_hashes(HLL.create(14), h64))
    out["sketch.hll.update_hashes_s"] = s * per_m
    s, cms = _median_time(lambda: CMS.update(CMS.create(5, 8192), keys))
    out["sketch.cms.update_s"] = s * per_m
    per_m_values = 1e6 / len(values)
    s, kll = _median_time(lambda: KLL.update(KLL.create(200), values))
    out["sketch.kll.update_s"] = s * per_m_values
    s, td = _median_time(lambda: TDIGEST.update(TDIGEST.create(200.0), values))
    out["sketch.tdigest.update_s"] = s * per_m_values

    for kind, ops, state in (("bloom", BLOOM, bloom), ("hll", HLL, hll),
                             ("cms", CMS, cms), ("kll", KLL, kll),
                             ("tdigest", TDIGEST, td)):
        s, blob = _median_time(lambda: ops.serialize(state))
        out[f"sketch.{kind}.serialize_s"] = s
        out[f"sketch.{kind}.state_bytes"] = len(blob)
        s, other = _median_time(lambda: ops.deserialize(blob))
        out[f"sketch.{kind}.deserialize_s"] = s
        s, _ = _median_time(lambda: ops.merge(state, other))
        out[f"sketch.{kind}.merge_s"] = s
    return out
