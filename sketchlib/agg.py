"""The Spark aggregation engine: distributed sketch builds.

This is the Spark-first re-expression of the reference's sharded parallel
build (SURVEY §3.2, /root/reference/simple_benchmark.cpp:438-539):

  reference                      ->  this engine
  -------------------------------------------------------------------
  pre-partition by key hash      ->  optional repartition (only for
  (simple_benchmark.cpp:450-458)     shard-count control; sketches are
                                     set-union algebras, so ANY row
                                     placement is correct — the shuffle
                                     is a balance choice, not a
                                     correctness requirement)
  per-thread sub-filter build    ->  mapInArrow partial build: one
  (gloom.h:113-140)                  serialized sketch per input partition,
                                     whole-column numpy per Arrow batch
  MPMC queues + flush()          ->  NOT NEEDED: Spark's exchange is the
  (gloom.h:196-215)                  barrier; no cross-partition state
  implicit OR of shard bits      ->  explicit log-depth tree merge via
  (bloom.h:268 etc.)                 repeated groupBy(shard // fanout)

Like the reference's one algebra (insert, contains, OR-union,
bloom.h:279-408) there is one path of each kind: values reach a kernel
only through ``_arrow_values`` (Arrow validity bitmap, exact int64 — a
pandas batch would round nullable bigint keys above 2^53); partials come
only from ``_partial_builder``, per-group partials only from
``_map_side_combine`` (each partition grouped once, each group folded by
one ``_update``; a hot group is absorbed where its rows sit, no salted
raw-row shuffle); states merge only through ``merge_states`` (executor)
and ``_fold`` (driver, ≤ fanout rows); probes are one ``F.arrow_udf``
factory, ``_probe_col``.

Keys are hashed once, in the JVM: Bloom, HLL and CMS (``HASHED_KINDS``)
receive one ``key_hash`` bigint column per distinct key column — Spark's
``xxhash64`` of the canonical key, the domain of ``hashing.hash64`` —
instead of the key (the reference hashes once and reuses the hash for
routing and insert, simple_benchmark.cpp:246-251), in whole-column and
grouped builds alike.  MG, KMV, KLL and t-digest keep receiving values.
"""

from __future__ import annotations

import hashlib
import math
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (BooleanType, ByteType, DataType, DecimalType,
                               DoubleType, FloatType, IntegerType, LongType,
                               ShortType)

from .hashing import hash64, split64
from .params import BloomParams
from .sketch import KINDS, deserialize_any, peek_kind

__all__ = [
    "SketchSpec", "bloom_spec", "hll_spec", "cms_spec", "kll_spec",
    "mg_spec", "kmv_spec", "tdigest_spec", "build_partials",
    "build_partials_keyed", "shard_expr", "merge_states", "tree_merge",
    "build_sketch", "build_sketches", "auto_shards", "kmv_bottomk",
    "bloom_prune_join", "weighted_sample", "grouped_bottomk",
    "sketch_grouped", "rollup_states", "sketch_grouped_rollup",
    "bloom_contains_col", "cms_estimate_col", "BuildResult",
    "HASHED_KINDS", "key_hash",
]


def auto_shards(spec: "SketchSpec", cores: int | None = None) -> int:
    """Shard count balancing update parallelism against partial-state
    movement (measured on 2.5M string keys at m=24 Mbit: 96 shards = 580k
    inserts/s, 16 shards = 1.75M/s).  Rule: one task per core, but cap
    total partial-state bytes at ~2 MB/core."""
    import os as _os

    cores = cores or int(_os.environ.get("SPARK_GRAFT_CPUS",
                                         _os.cpu_count() or 4))
    state_bytes = len(spec.ops.serialize(spec.create()))
    cap = max(4, int(cores * 1.5e6 / max(state_bytes, 1)))
    return max(4, min(cores, cap))


PARTIAL_SCHEMA = "shard long, state binary, n long"
#: the partial builder's output: ``idx`` names the input a state belongs to
_IDX_SCHEMA = "idx int, " + PARTIAL_SCHEMA


@dataclass(frozen=True)
class SketchSpec:
    """Pickle-able sketch config shipped inside UDF closures."""

    kind: str
    cfg: dict = field(default_factory=dict)

    def create(self):
        return KINDS[self.kind].create(**self.cfg)

    @property
    def ops(self):
        return KINDS[self.kind]


def bloom_spec(expected_n: int, p: float = 0.01, *, blocked: bool = False,
               block_bits: int | None = None,
               pattern: bool = False) -> SketchSpec:
    """Resolve geometry up front so every partition builds merge-compatible
    states (same m, k regardless of the rows it happens to see).
    ``block_bits``: 0/None standard, 64 register-blocked (O15), 512
    cache-line-blocked (O16); ``blocked=True`` is shorthand for 64;
    ``pattern=True`` is the precomputed-mask patterned mode (O18)."""
    params = BloomParams.from_np(expected_n, p)
    cfg = {"n": expected_n, "p": p, "blocked": blocked,
           "m_bits": params.m_bits, "k": params.k}
    if block_bits is not None:
        cfg["block_bits"] = block_bits
    if pattern:
        cfg["pattern"] = True
    return SketchSpec("bloom", cfg)


def hll_spec(p: int = 14) -> SketchSpec:
    return SketchSpec("hll", {"p": p})


def cms_spec(d: int = 5, w: int = 4096) -> SketchSpec:
    return SketchSpec("cms", {"d": d, "w": w})


def kll_spec(k: int = 200) -> SketchSpec:
    return SketchSpec("kll", {"k": k})


def mg_spec(cap: int = 256) -> SketchSpec:
    return SketchSpec("mg", {"cap": cap})


def kmv_spec(k: int = 256) -> SketchSpec:
    return SketchSpec("kmv", {"k": k})


def tdigest_spec(delta: float = 200.0) -> SketchSpec:
    return SketchSpec("tdigest", {"delta": delta})


def _arrow_values(arr):
    """The one value path: Arrow column -> kernel-updatable values, nulls
    dropped (SQL aggregate semantics).  Integers land as exact int64 numpy
    (the validity bitmap carries the nulls: no float promotion), floats as
    float64 without NaN; strings/binary stay Arrow for the hash kernels."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_floating(arr.type):  # to_numpy turns nulls into NaN
        vals = arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        return vals[~np.isnan(vals)]
    if arr.null_count:
        arr = arr.drop_null()
    if pa.types.is_integer(arr.type):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return arr


def _kept(arr) -> np.ndarray:
    """Bool mask of the rows ``_arrow_values`` keeps (probes answer the
    other rows with the SQL default; aux inputs drop them)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_floating(arr.type):
        return ~np.isnan(arr.to_numpy(zero_copy_only=False))
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _utc(table: pa.Table) -> pa.Table:
    """Relabel zoned timestamp columns of an Arrow stage's output to UTC:
    Spark feeds them in under the session zone's name but checks returned
    ones against 'UTC' (the instants are the same)."""
    return table.cast(pa.schema([
        f.with_type(pa.timestamp(f.type.unit, "UTC"))
        if pa.types.is_timestamp(f.type) and f.type.tz else f
        for f in table.schema]))


def _ddl(df: DataFrame, cols: list[str]) -> list[str]:
    """DDL fields of ``cols`` with their Spark types (Arrow stage schemas)."""
    return [f"`{f_.name}` {f_.dataType.simpleString()}"
            for f_ in df.select(*cols).schema.fields]


#: kinds taking an auxiliary column, and its type: CMS a weight, KMV a priority
_AUX_TYPES = {"cms": "double", "kmv": "long"}

#: kinds whose kernels take key hashes, not keys: they get ``key_hash``
HASHED_KINDS = frozenset({"bloom", "hll", "cms"})

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL = (FloatType, DoubleType, DecimalType)


def key_hash(col: Column, dtype: DataType) -> Column:
    """The canonical key hash of a column of type ``dtype`` as a Catalyst
    expression: bigint ``xxhash64`` (seed 42) of the key's canonical
    form, null for a null or NaN key — bit-equal to ``hashing.hash64``
    of the same values.  Integers and integral in-range doubles (and
    floats, decimals) hash as bigint, other doubles as their IEEE bits;
    strings, binary, booleans, dates and timestamps as Spark hashes
    them."""
    if isinstance(dtype, _INTEGRAL):
        h = F.xxhash64(col.cast("bigint"))
    elif isinstance(dtype, _FRACTIONAL):
        d = col.cast("double")
        integral = ((F.rint(d) == d) & (d >= F.lit(-2.0 ** 63))
                    & (d < F.lit(2.0 ** 63)))
        h = F.when(~F.isnan(d), F.when(integral, F.xxhash64(d.cast("bigint")))
                   .otherwise(F.xxhash64(d)))
    else:
        h = F.xxhash64(col)
    return F.when(col.isNotNull(), h)


def _hashes(arr) -> np.ndarray:
    """A null-free int64 Arrow hash column -> uint64 numpy."""
    return arr.to_numpy(zero_copy_only=False).view(np.uint64)


def _insert_hashes(spec: SketchSpec, state, h: np.ndarray, aux=None):
    """A hashed kind's insert of uint64 key hashes: Bloom's h1/h2 are
    their low/high halves, HLL and CMS take all 64 bits."""
    if spec.kind == "bloom":
        return spec.ops.update_hashes(state, *split64(h))
    if spec.kind == "cms":
        return spec.ops.update_hashes(state, h, aux)
    return spec.ops.update_hashes(state, h)


def _update(spec: SketchSpec, state, key, aux=None, hashed: bool = False):
    """Fold one Arrow column (and its aux column) into ``state``; returns
    (state, rows folded).  ``key`` holds values, or with ``hashed`` their
    ``key_hash``.  A null in either column drops the row."""
    if aux is None and not hashed:
        vals = _arrow_values(key)
        return spec.ops.update(state, vals), len(vals)
    if aux is None:
        key = key.drop_null() if key.null_count else key
    else:
        keep = pa.array(_kept(key) & _kept(aux))
        key = key.filter(keep)
        aux = aux.filter(keep).to_numpy(zero_copy_only=False)
    if hashed:
        return _insert_hashes(spec, state, _hashes(key), aux), len(key)
    # KMV orders priorities as uint64: a negative one would silently sort
    # opposite to the documented 'ORDER BY prio LIMIT k' contract
    if (aux < 0).any():
        raise ValueError("kmv_bottomk priorities must be non-negative "
                         "(uint64 ordering contract)")
    return (spec.ops.update_with_prios(state, aux.astype(np.uint64),
                                       key.to_pylist()), len(key))


def _layout(inputs: list) -> list[tuple]:
    """Per input: (key column, builder column, aux column, builder aux
    column).  Each distinct key column crosses to Python once: as one
    ``__h{j}`` key_hash for the hashed kinds, as one ``__k{j}`` of values
    for the others; aux columns are ``__a{i}``."""
    out, names = [], {}
    for i, (col, spec) in enumerate(inputs):
        key, aux = col if isinstance(col, tuple) else (col, None)
        if aux is not None and spec.kind not in _AUX_TYPES:
            raise ValueError(f"{spec.kind} takes no auxiliary column; "
                             f"only {sorted(_AUX_TYPES)} do")
        prefix = "__h" if spec.kind in HASHED_KINDS else "__k"
        name = names.setdefault((prefix, key), f"{prefix}{len(names)}")
        out.append((key, name, aux, None if aux is None else f"__a{i}"))
    return out


def _select(df: DataFrame, inputs: list, *extra) -> DataFrame:
    """The builder's input columns (see ``_layout``): one ``key_hash``
    per distinct key column of the hashed kinds, values for the others,
    aux columns cast to the kind's aux type."""
    cols = {}
    for (key, name, aux, aux_name), (_, spec) in zip(_layout(inputs), inputs):
        if name not in cols:
            cols[name] = (key_hash(F.col(key), df.select(key).schema[0].dataType)
                          if name.startswith("__h") else F.col(key)).alias(name)
        if aux is not None:
            cols[aux_name] = F.col(aux).cast(_AUX_TYPES[spec.kind]) \
                .alias(aux_name)
    return df.select(*cols.values(), *extra)


def _partial_builder(inputs: list):
    """The one partial-build closure: Arrow batches -> an (idx, shard,
    state, n) batch, one serialized state per input.  Run by mapInArrow
    (shard = partition id) and by the keyed applyInArrow (shard = group)."""
    specs = [spec for _, spec in inputs]
    layout = _layout(inputs)

    def build(batches, shard: int) -> pa.RecordBatch:
        states = [s.create() for s in specs]
        ns = [0] * len(specs)
        for rb in batches:
            for i, (spec, (_, name, _, aux)) in enumerate(zip(specs, layout)):
                states[i], n = _update(
                    spec, states[i], rb.column(name),
                    rb.column(aux) if aux else None,
                    hashed=spec.kind in HASHED_KINDS)
                ns[i] += n
        return pa.RecordBatch.from_pydict({
            "idx": pa.array(range(len(specs)), pa.int32()),
            "shard": pa.array([shard] * len(specs), pa.int64()),
            "state": pa.array([s.ops.serialize(st)
                               for s, st in zip(specs, states)], pa.binary()),
            "n": pa.array(ns, pa.int64()),
        })

    return build


def _partials(df: DataFrame, inputs: list,
              num_shards: int | None = None) -> tuple[DataFrame, int]:
    """Stage 1: one (idx, shard, state, n) row per input per partition, and
    their count.  Zero-shuffle: the algebra is placement-independent, so
    unlike the reference's hash-owned shards (gloom.h:127-128) the scan
    partitions are the shards, coalesced (narrow) to the session's
    parallelism since partial cost is partials × state_bytes (Bloom
    m=192Mbit, 96 splits / 32 cores: 35.4 s -> 8.9 s,
    BENCH/capacity_20m.json).  ``num_shards`` forces a round-robin
    repartition instead."""
    sel = _select(df, inputs)
    if num_shards is not None:
        sel, parts = sel.repartition(num_shards), num_shards
    else:
        target = sel.sparkSession.sparkContext.defaultParallelism
        parts = max(1, sel.rdd.getNumPartitions())
        if parts > target:
            sel, parts = sel.coalesce(target), target
    build = _partial_builder(inputs)

    def by_partition(batches: Iterator[pa.RecordBatch]):
        from pyspark import TaskContext
        yield build(batches, TaskContext.get().partitionId())

    return sel.mapInArrow(by_partition, _IDX_SCHEMA), parts


def build_partials(df: DataFrame, col, spec: SketchSpec,
                   num_shards: int | None = None) -> DataFrame:
    """(shard, state, n) partial sketches, one per partition (``col`` may
    be a ``(key_col, aux_col)`` pair, see :func:`build_sketch`)."""
    return _partials(df, [(col, spec)], num_shards)[0].drop("idx")


def shard_expr(route_cols: list[str], num_shards: int, seed: int = 17):
    """Deterministic shard id as a *data* function (O9's
    ``(h >> 16) & (S-1)`` analogue): pmod(xxhash64(cols..., seed), S).
    Route by a high-cardinality column (e.g. url): that is the salting.
    ``seed`` is not an XXH64 seed — Spark's ``xxhash64`` always seeds
    with 42 — but one more hashed column, a literal that makes the route
    hash differ from the sketches' ``key_hash`` of the same column (so a
    shard's keys are not correlated with their Bloom bits)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in route_cols], F.lit(seed)),
                  F.lit(num_shards)).cast("long")


def build_partials_keyed(df: DataFrame, col: str, spec: SketchSpec,
                         route_cols: list[str], num_shards: int,
                         shards_to_build: list[int] | None = None) -> DataFrame:
    """Stage 1 (checkpoint path): shard membership is a function of the
    row, not of Spark's physical split, so a failed run can rebuild exactly
    the missing shards (``shards_to_build``) and merge them with
    checkpointed ones.  Rows are sorted by value inside each shard, so even
    order-sensitive states (KLL/t-digest) are a pure function of the
    shard's row SET — byte-identical across retries."""
    inputs = [(col, spec)]
    sel = _select(df, inputs, shard_expr(route_cols, num_shards).alias("shard"))
    if shards_to_build is not None:
        sel = sel.where(F.col("shard").isin([int(s) for s in shards_to_build]))
    build = _partial_builder(inputs)
    name = _layout(inputs)[0][1]

    def by_shard(key, table):
        rows = table.select([name]).sort_by(name)
        return pa.Table.from_batches([build(rows.to_batches(),
                                            key[0].as_py())])

    return sel.groupBy("shard").applyInArrow(by_shard, _IDX_SCHEMA).drop("idx")


def _merge_blobs(ops, blobs):
    return reduce(ops.merge, (ops.deserialize(b) for b in blobs))


def _one_row(table: pa.Table, keys: list[str], state: bytes, n: int,
             fine_groups: int | None = None) -> pa.Table:
    """A group's output row: its key columns (exact Arrow types), the
    merged state, its row count and, for rollups, its fine-group count."""
    out = _utc(table.select(keys).slice(0, 1))
    out = out.append_column("state", pa.array([state], pa.binary()))
    out = out.append_column("n", pa.array([n], pa.int64()))
    if fine_groups is not None:
        out = out.append_column("fine_groups", pa.array([fine_groups], pa.int32()))
    return out


def merge_states(df: DataFrame, key_cols: list[str], spec) -> DataFrame:
    """The one executor-side merge stage: one (key_cols..., state, n) row
    per distinct key, merging its ``state`` blobs and summing ``n`` (and
    ``fine_groups`` when the frame carries it).  ``spec`` is the states'
    SketchSpec, or for a multi-sketch build the list of specs indexed by
    the frame's ``idx`` column, then the first key column."""
    keys = list(key_cols)
    counts = ["fine_groups"] if "fine_groups" in df.columns else []
    schema = ", ".join(_ddl(df, keys) + ["state binary", "n long"]
                       + [f"{c} int" for c in counts])

    def merge(key, table):
        ops = (spec[key[0].as_py()] if isinstance(spec, list) else spec).ops
        acc = _merge_blobs(ops, table.column("state").to_pylist())
        fine = sum(table.column("fine_groups").to_pylist()) if counts else None
        return _one_row(table, keys, ops.serialize(acc),
                        sum(table.column("n").to_pylist()), fine)

    return (df.select(*keys, "state", "n", *counts).groupBy(*keys)
            .applyInArrow(merge, schema))


def tree_merge(partials: DataFrame, spec, num_partials: int,
               fanout: int = 16) -> DataFrame:
    """Log-depth reduction (O12 as Spark stages): each round groups ``fanout``
    partials and merges them executor-side; only the last ≤fanout blobs ever
    reach the driver.  rounds = ceil(log_fanout(P)) — statically derived, no
    counting jobs.  Partials of a multi-sketch build carry ``idx`` and
    reduce per sketch inside the same stages (``spec`` is then the list)."""
    keys = ["idx", "shard"] if "idx" in partials.columns else ["shard"]
    current = partials
    remaining = max(1, num_partials)
    while remaining > fanout:
        current = merge_states(
            current.withColumn("shard", (F.col("shard") / fanout).cast("long")),
            keys, spec)
        remaining = math.ceil(remaining / fanout)
    return current


def _fold(spec: SketchSpec, rows) -> tuple:
    """The driver-side fold of ≤ fanout merged (shard, state, n) rows, in
    shard order: returns (state, n).  No rows -> the identity sketch."""
    ops = spec.ops
    rows = sorted(rows, key=lambda r: r["shard"])
    if not rows:
        return spec.create(), 0
    return (_merge_blobs(ops, (bytes(r["state"]) for r in rows)),
            sum(int(r["n"]) for r in rows))


@dataclass
class BuildResult:
    spec: SketchSpec
    state_bytes: bytes
    n_rows: int
    num_partials: int
    build_secs: float
    shard_lineage: list[dict] = field(default_factory=list)

    @property
    def state(self):
        return deserialize_any(self.state_bytes)

    @property
    def ops(self):
        return KINDS[peek_kind(self.state_bytes)]

    def metrics(self) -> dict:
        out = {
            "kind": self.spec.kind,
            "n_rows": self.n_rows,
            "num_partials": self.num_partials,
            "build_secs": round(self.build_secs, 4),
            "state_size_bytes": len(self.state_bytes),
            "rows_per_sec": round(self.n_rows / self.build_secs, 1)
            if self.build_secs > 0 else None,
        }
        out.update(self.ops.stats(self.state))
        return out


def _build(df: DataFrame, inputs: list, num_shards: int | None = None,
           fanout: int = 16, collect_lineage: bool = False) -> list[BuildResult]:
    """Partials -> tree merge -> driver fold, one BuildResult per input."""
    t0 = time.perf_counter()
    partials, num_partials = _partials(df, inputs, num_shards)
    specs = [spec for _, spec in inputs]
    lineage: list[dict] = []
    if collect_lineage:  # every partial reaches the driver: fold them there
        rows = partials.collect()
        lineage = [{"shard": r["shard"], "n": r["n"],
                    "state_sha": hashlib.sha256(bytes(r["state"])).hexdigest()[:16]}
                   for r in rows]
    else:
        rows = tree_merge(partials, specs, num_partials, fanout).collect()
    secs = time.perf_counter() - t0
    results = []
    for i, spec in enumerate(specs):
        state, n_rows = _fold(spec, [r for r in rows if r["idx"] == i])
        results.append(BuildResult(spec, spec.ops.serialize(state), n_rows,
                                   num_partials, secs, lineage))
    return results


def build_sketch(df: DataFrame, col, spec: SketchSpec, *,
                 num_shards: int | None = None,
                 fanout: int = 16, collect_lineage: bool = False) -> BuildResult:
    """Full pipeline: partials -> tree merge -> final state on the driver.
    ``col`` is a column name, or a ``(key_col, aux_col)`` pair for the
    kinds that take an auxiliary column: a CMS weight (each key counts its
    weight, e.g. revenue or bytes, instead of 1) or a KMV priority.  Rows
    with a null in either column contribute nothing."""
    return _build(df, [(col, spec)], num_shards, fanout, collect_lineage)[0]


def build_sketches(df: DataFrame, cols_specs: list[tuple],
                   num_shards: int | None = None,
                   fanout: int = 16) -> list[BuildResult]:
    """Build MANY sketches in ONE scan (at 100 TB the scan dominates): each
    partition emits k partial states per pass, and the tree merge runs per
    sketch index inside the same stages (idx rides along as a key)."""
    return _build(df, cols_specs, num_shards, fanout)


def kmv_bottomk(df: DataFrame, key_col: str, prio_col: str, k: int):
    """Deterministic distributed bottom-k sample (the final KmvState) with
    a caller-supplied NON-NEGATIVE priority column — any fixed hash of the
    key, e.g. an md5-derived integer an SQL engine can re-derive, making
    the sample itself value-checkable.  Partials are ≤ k entries and ride
    the tree merge."""
    return build_sketch(df, (key_col, prio_col), kmv_spec(k)).state


def bloom_prune_join(fact: DataFrame, fact_key: str,
                     dim: DataFrame, dim_key: str,
                     p: float = 0.01,
                     expected_n: int | None = None) -> DataFrame:
    """Sketch-accelerated join: build a Bloom over the dim side's join keys
    and filter the FACT side BEFORE its join shuffle, so with a selective
    dim the fact rows the join would drop never enter the exchange.
    Exact by the no-false-negative guarantee: false positives (<= p) are
    removed by the join itself.  Spark's runtime filter, but as an
    explicit, sizable, reusable state."""
    n = expected_n if expected_n is not None else dim.count()
    res = build_sketch(dim, dim_key, bloom_spec(max(n, 1), p))
    pruned = fact.where(
        bloom_contains_col(fact.sparkSession, res.state_bytes,
                           F.col(fact_key)))
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])


def weighted_sample(df: DataFrame, key_col: str, weight_col: str, k: int,
                    u_col: str | None = None) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement (Efraimidis-
    Spirakis): each key draws u in (0,1) and the top-k by u^(1/w) win.
    u defaults to a pure hash of the key (deterministic, coordinated
    across tables); ``u_col`` supplies an externally reproducible one.
    Plans as TakeOrderedAndProject — per-partition top-k, no global sort."""
    if u_col is None:
        u = (F.xxhash64(F.col(key_col), F.lit(43)).cast("double")
             / F.lit(float(2**64)) + F.lit(0.5))
    else:
        u = F.col(u_col)
    es = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (df.where(F.col(weight_col) > 0)
            .orderBy(es.desc(), F.col(key_col))
            .limit(k)
            .select(key_col, weight_col))


def grouped_bottomk(df: DataFrame, group_cols: list[str], key_col: str,
                    prio_col: str, k: int) -> DataFrame:
    """Stratified deterministic sample: the k smallest-priority keys PER
    GROUP (e.g. 3 urls per host), coordinated like kmv_bottomk.  Two-phase
    against group skew: phase 1 ranks within (group, hash(key) % B) and
    keeps k per bucket, so a hot group's sort spreads over B tasks; phase
    2 ranks the <= B*k survivors per group."""
    from pyspark.sql import Window

    salt_buckets = 8
    sel = df.select(*group_cols, key_col, prio_col).withColumn(
        "__salt", F.pmod(F.xxhash64(key_col, F.lit(31)),
                         F.lit(salt_buckets)).cast("int"))
    w1 = Window.partitionBy(*group_cols, "__salt") \
        .orderBy(F.col(prio_col), F.col(key_col))
    pruned = (sel.withColumn("__rn", F.row_number().over(w1))
              .where(F.col("__rn") <= k).drop("__rn", "__salt"))
    w2 = Window.partitionBy(*group_cols).orderBy(F.col(prio_col), F.col(key_col))
    return (pruned.withColumn("__rn", F.row_number().over(w2))
            .where(F.col("__rn") <= k)
            .drop("__rn"))


# ---------------------------------------------------------------------------
# grouped sketches (one sketch per key): one map-side combine per partition
# ---------------------------------------------------------------------------

def _group_slices(table: pa.Table, cols: list[str], col: str):
    """Arrow hash grouping of ``table`` on ``cols``: returns (the grouped
    key table in first-seen order, per group its rows of column ``col`` in
    row order).  One ``take`` orders ``col`` by group, then each group is
    a zero-copy slice.  Arrow keeps nullable bigint keys exact, where
    pandas would promote them to float64 and fold keys above 2^53."""
    t = table.select(cols).append_column(
        "__i", pa.array(np.arange(table.num_rows)))
    g = t.group_by(cols, use_threads=False).aggregate([("__i", "list")])
    lists = g.column("__i_list").combine_chunks()
    vals = table.column(col).combine_chunks().take(lists.flatten())
    offs = lists.offsets.to_numpy()
    offs = (offs - offs[0]).tolist()
    return g.select(cols), [vals.slice(a, b - a)
                            for a, b in zip(offs, offs[1:])]


def _map_side_combine(df: DataFrame, key_cols: list[str], value_col: str,
                      spec: SketchSpec) -> DataFrame:
    """The one grouped fold (mapInArrow, no shuffle of raw rows): each
    task concatenates its partition, groups it once on ``key_cols`` and
    folds each group with one ``_update`` -> (key_cols..., state, n), one
    partial per group the partition holds.  The value column crosses as
    ``_select`` lays it out: the JVM ``key_hash`` for the hashed kinds,
    values for the others."""
    inputs = [(value_col, spec)]
    sel = _select(df, inputs, *key_cols)
    name = _layout(inputs)[0][1]
    hashed = spec.kind in HASHED_KINDS
    schema = ", ".join(_ddl(sel, key_cols) + ["state binary", "n long"])
    ops = spec.ops

    def combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        if not sum(rb.num_rows for rb in batches):
            return
        table = pa.Table.from_batches(batches)
        keys, groups = _group_slices(table, key_cols, name)
        states, ns = [], []
        for vals in groups:
            state, n = _update(spec, spec.create(), vals, hashed=hashed)
            states.append(ops.serialize(state))
            ns.append(n)
        out = _utc(keys).append_column("state", pa.array(states, pa.binary()))
        yield from out.append_column("n", pa.array(ns, pa.int64())).to_batches()

    return sel.mapInArrow(combine, schema)


def sketch_grouped(df: DataFrame, group_cols: list[str], value_col: str,
                   spec: SketchSpec) -> DataFrame:
    """Per-group sketch states -> DataFrame(group_cols..., state binary,
    n long).  Each input partition builds one state per group it holds
    (``_map_side_combine``: no shuffle of raw rows), then ``merge_states``
    merges the ≤P states per group.  Skew needs no salting: a hot group is
    folded where its rows already sit, over every partition that holds
    them.  A one-split input is widened first (the partitioning IS the
    parallelism).  Fixed-size states (Bloom, CMS) over many groups ship
    up to P×G full states into the merge."""
    from .textops import widen

    gcols = list(group_cols)
    return merge_states(_map_side_combine(widen(df), gcols, value_col, spec),
                        gcols, spec)


def rollup_states(states: DataFrame, coarse_cols: list[str],
                  spec: SketchSpec) -> DataFrame:
    """Merge fine-grained per-group states up to a coarser grouping,
    executor-side: hour-states answer day/week questions without a rescan.
    ``states`` must carry (coarse_cols..., state binary, n long) — derive
    the coarse key first (e.g. withColumn("day", date_trunc("day", hour)))."""
    return merge_states(states, coarse_cols, spec)


def sketch_grouped_rollup(df: DataFrame, fine_cols: list[str],
                          coarse_cols: list[str], value_col: str,
                          spec: SketchSpec, fan_out: int = 1) -> DataFrame:
    """``sketch_grouped(fine) -> rollup_states(coarse)`` fused into ONE
    grouped pass: partials keyed on the FINE grouping shuffle once to
    their coarse group's task, which merges partials -> fine states ->
    the coarse state (the rollup merge order is preserved).  Skips the
    two-call form's extra shuffle + grouped stage (~2x on the sketch phase
    for 720-hour -> 30-day KLL); keep the two calls when the fine states
    are a deliverable themselves.

    Returns DataFrame(coarse_cols..., state binary, n long, fine_groups
    int), ``fine_groups`` = distinct fine groups merged per coarse state.
    Each coarse task holds all P x fan_in partial blobs of its group;
    ``fan_out=R`` salts the merge on the fine key into R sub-tasks (fine
    groups still complete inside one), for a second R x G_coarse blob
    shuffle.
    """
    ops = spec.ops
    fcols, ccols = list(fine_cols), list(coarse_cols)
    overlap = set(fcols) & set(ccols)
    if overlap:
        raise ValueError(
            f"fine_cols and coarse_cols overlap on {sorted(overlap)}: a "
            "coarse level that IS a fine column needs no rollup — call "
            "sketch_grouped on it, or sketch_grouped + rollup_states")
    if fan_out < 1:
        raise ValueError(f"fan_out must be >= 1, got {fan_out}")
    out_schema = ", ".join(_ddl(df, ccols) + ["state binary", "n long",
                                               "fine_groups int"])

    from .textops import widen

    partials = _map_side_combine(widen(df), [*fcols, *ccols], value_col, spec)

    def merge_coarse(table):
        _, blobs = _group_slices(table, fcols, "state")
        fine = [_merge_blobs(ops, b.to_pylist()) for b in blobs]
        return _one_row(table, ccols, ops.serialize(reduce(ops.merge, fine)),
                        sum(table.column("n").to_pylist()),
                        fine_groups=len(fine))

    if fan_out == 1:
        return partials.groupBy(*ccols).applyInArrow(merge_coarse, out_schema)

    # salted two-level merge: sub-tasks keyed on (coarse, hash(fine) % R)
    # hold complete fine groups, so merge_coarse runs unchanged per salt
    # bucket; a tiny second stage merges the R sub-coarse states.
    salted = partials.withColumn(
        "__salt", F.pmod(F.xxhash64(*fcols), F.lit(fan_out)))
    subs = salted.groupBy(*ccols, "__salt").applyInArrow(merge_coarse,
                                                         out_schema)
    return merge_states(subs, ccols, spec)


# ---------------------------------------------------------------------------
# probe-side vectorized UDFs (O6 at scale: broadcast state, column probe)
# ---------------------------------------------------------------------------

#: executor-local deserialized-state memo for the probes: a broadcast is
#: the SAME bytes object across a worker's tasks and CPython caches its
#: hash, so each state deserializes ONCE per worker instead of once per
#: Arrow batch (probes never write, so sharing is safe).  An LRU charged
#: by blob size, not entry count: a shard-sized bank's S blobs total
#: about one m(n), so the whole bank stays resident.
_PROBE_MEMO: dict = {}  # key -> state; insertion order = LRU order
_PROBE_MEMO_MAX_BYTES = 256 << 20
_PROBE_MEMO_MAX_ENTRIES = 1024  # floods of tiny states stay count-bounded
_probe_memo_deserializes = 0  # test hook: counts actual deserialize calls


def _memo_deserialize(ops, buf: bytes):
    global _probe_memo_deserializes
    key = (ops.name, len(buf), hash(buf))  # key[1] charges the budget
    state = _PROBE_MEMO.get(key)
    if state is not None:
        _PROBE_MEMO[key] = _PROBE_MEMO.pop(key)  # refresh LRU position
        return state
    state = ops.deserialize(buf)
    _probe_memo_deserializes += 1
    _PROBE_MEMO[key] = state
    while len(_PROBE_MEMO) > 1 and (
            len(_PROBE_MEMO) > _PROBE_MEMO_MAX_ENTRIES
            or sum(k[1] for k in _PROBE_MEMO) > _PROBE_MEMO_MAX_BYTES):
        del _PROBE_MEMO[next(iter(_PROBE_MEMO))]  # oldest-first
    return state


#: kind -> (Spark return type, numpy answer dtype); rows without a key
#: (null, NaN double) get the zero answer
_PROBES = {"bloom": (BooleanType(), np.bool_),
           "cms": (LongType(), np.int64)}

#: ``typeof`` of the column types whose key_hash is not their plain
#: xxhash64 (integers and fractionals canonicalize through bigint/double)
_NUMERIC_TYPEOF = r"^(tinyint|smallint|int|bigint|float|double|decimal\(.*)$"


def _query_hashes(kind: str, ops, state, h: np.ndarray) -> np.ndarray:
    """A probe kind's answers for uint64 key hashes (see _insert_hashes)."""
    if kind == "bloom":
        return ops.contains_hashes(state, *split64(h))
    return ops.estimate_hashes(state, h)


def _probe_col(spark, state_bytes: bytes, col, kind: str):
    """The one probe factory: an Arrow UDF answering ``kind``'s query for
    each row of ``col`` against a broadcast state (shipped once per
    executor, deserialized once per worker), in the build's hash domain.

    The column's type is not known here, and a cast that does not apply
    to it (binary or date to bigint) fails analysis even in a dead CASE
    branch.  So the UDF gets two arguments whose ``typeof`` tests fold at
    plan time: the JVM ``xxhash64`` of a non-numeric key (its key_hash),
    and the raw value of a numeric one, which ``hash64`` canonicalizes
    (8-byte keys: cheap).  For a string column the second argument is a
    null constant, so only the hash crosses to Python."""
    bc = spark.sparkContext.broadcast(state_bytes)
    return_type, dtype = _PROBES[kind]
    numeric = F.typeof(col).rlike(_NUMERIC_TYPEOF)

    @F.arrow_udf(return_type)
    def probe(h: pa.Array, v: pa.Array) -> pa.Array:
        from .sketch import KINDS
        ops = KINDS[kind]
        state = _memo_deserialize(ops, bc.value)
        out = np.zeros(len(h), dtype)
        if pa.types.is_integer(v.type) or pa.types.is_floating(v.type) \
                or pa.types.is_decimal(v.type):
            keep = _kept(v)
            hashes = hash64(v.filter(pa.array(keep)))
        else:
            keep = _kept(h)
            hashes = _hashes(h.drop_null())
        out[keep] = _query_hashes(kind, ops, state, hashes)
        return pa.array(out)

    return probe(F.when(~numeric & col.isNotNull(), F.xxhash64(col)),
                 F.when(numeric, col))


def bloom_contains_col(spark, state_bytes: bytes, col):
    """BooleanType column: membership probe against a broadcast Bloom
    state.  Null keys probe as not-member."""
    return _probe_col(spark, state_bytes, col, "bloom")


def cms_estimate_col(spark, state_bytes: bytes, col):
    """LongType column: CMS point-frequency estimates for a key column.
    Null keys estimate as 0."""
    return _probe_col(spark, state_bytes, col, "cms")
