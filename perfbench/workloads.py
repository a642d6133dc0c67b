"""Seeded inputs, exact oracles and the three benchmark workloads.

Every workload drives sketchlib only through its public API and sees only
DataFrames generated here from ``spark.range`` with Catalyst expressions,
in the shape of ``sketchlib/synth.py``: ~56-byte URLs, 200 hosts with
host 0 owning 40% of rows, a double ``n_chars`` column and an hourly
timestamp.  The same seed gives the same rows.

A workload has ``setup`` (generate and cache its input), ``oracle``
(exact answers, computed once and not timed), ``op`` (one timed unit of
user work, returning its raw outputs) and ``check`` (untimed: an
:class:`OpResult` whose ``failures`` lists every check the op's output
failed against the oracle).
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib import agg, checkpoint, streaming
from sketchlib.sketch import BLOOM, CMS, HLL, KLL, TDIGEST

HOSTS = 200
SPAN_HOURS = 72
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
QS = np.array([0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99])
#: normalized rank-error bound for KLL k=200 and t-digest delta=200: about
#: 1.5x the KLL paper's 99%-confidence epsilon at k=200 (~1.33%)
RANK_ERR_BOUND = 0.02
#: standard deviations allowed above the model FP rate
FP_Z = 4.0
#: HLL relative-error bound in units of 1.04/sqrt(m)
HLL_Z = 3.0


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

def pages(spark: SparkSession, start: int, n: int, seed: int,
          partitions: int | None = None) -> DataFrame:
    """Rows ``start .. start+n-1`` of the seeded crawl table:
    (id, host_id, url, n_chars, hour, day).

    ``url`` embeds ``(id * odd + offset) mod 2^40``, a bijection on ids
    below 2^40, so distinct ids always give distinct URLs; that makes
    every exact distinct count a row count."""
    mult = 2 * ((seed * 2654435761) % (1 << 36)) + 1
    offset = (seed * 40503 + 12345) % (1 << 40)
    rng = spark.range(start, start + n, 1, partitions)
    h = F.xxhash64(F.col("id"), F.lit(seed))
    doc = F.pmod(F.col("id") * F.lit(mult) + F.lit(offset), F.lit(1 << 40))
    host = F.when(F.pmod(h, F.lit(5)) < 2, F.lit(0)) \
        .otherwise(1 + F.pmod(F.shiftright(h, 8), F.lit(HOSTS - 1)))
    u = F.pmod(F.shiftright(h, 16), F.lit(1 << 24)) / float(1 << 24)
    secs = F.pmod(F.shiftright(h, 40), F.lit(SPAN_HOURS * 3600))
    hour = F.date_trunc("hour", F.timestamp_seconds(F.lit(BASE_EPOCH) + secs))
    return (rng.withColumn("host_id", host.cast("long"))
            .withColumn("url", F.concat(
                F.lit("https://host"), F.col("host_id"),
                F.lit(".example.com/crawl/page/"),
                F.lpad(doc.cast("string"), 13, "0"), F.lit(".html")))
            .withColumn("n_chars", 200.0 + F.pow(u, 3) * 60000.0)
            .withColumn("hour", hour)
            .withColumn("day", F.date_trunc("day", F.col("hour"))))


def binomial_fp_bound(model_fp: float, probes: int) -> float:
    """Largest FP rate consistent with a Bloom model rate over ``probes``
    independent non-member probes."""
    sd = math.sqrt(max(model_fp * (1 - model_fp), 0.0) / max(probes, 1))
    return model_fp + FP_Z * sd + 3.0 / max(probes, 1)


def bloom_model_fp(k: int, n: int, m_bits: int) -> float:
    return (1.0 - math.exp(-k * n / m_bits)) ** k


def max_rank_error(ops, state, sorted_vals: np.ndarray) -> float:
    """Max over QS of |true normalized rank of the sketch's q-quantile - q|."""
    est = np.asarray(ops.quantile(state, QS), np.float64)
    lo = np.searchsorted(sorted_vals, est, side="left")
    hi = np.searchsorted(sorted_vals, est, side="right")
    n = len(sorted_vals)
    # a value occupies ranks lo..hi; the error is the distance to that span
    err = np.maximum(0.0, np.maximum(lo / n - QS, QS - hi / n))
    return float(err.max())


@dataclass
class OpResult:
    """What the checks made of one op's output."""

    rows: int                       # rows folded into sketches
    state_bytes: int = 0            # bytes of the states a user keeps
    failures: list = field(default_factory=list)
    accuracy: dict = field(default_factory=dict)  # fp_rate/rel_err/rank_err
    sizes: dict = field(default_factory=dict)     # per-layer counts/bytes


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """``op`` is the timed user work and returns its raw outputs;
    ``check`` is untimed."""

    name = ""
    #: rows of the generated input at scale 1
    rows = 0
    #: untimed warm-up ops (at least one) run for this many seconds before
    #: any timing: the first ops of a fresh JVM run up to 1.5x slower
    warm_seconds = 4.0
    #: timed ops per run at least (half of them traced with --trace 1)
    min_ops = 3
    #: a layers.Tracer during the traced phase, else None
    tracer = None

    def __init__(self, spark: SparkSession, seed: int, scale: float,
                 workdir: str):
        self.spark = spark
        self.seed = seed
        self.n = max(2000, int(self.rows * scale))
        self.workdir = workdir
        self.parts = spark.sparkContext.defaultParallelism

    def _call(self, span: str, fn, *args, **kwargs):
        """Call into sketchlib; in a traced run, inside a span named after
        the call."""
        if self.tracer is None:
            return fn(*args, **kwargs)
        with self.tracer.span(span):
            return fn(*args, **kwargs)

    def setup(self) -> None:
        """Generate and cache the input (timed as part of ``setup_s``)."""

    def release(self) -> None:
        """Drop what ``setup`` cached, so setup can be timed again."""

    def oracle(self) -> None:
        """Exact answers for the checks (not timed)."""

    def prepare(self, i: int) -> None:
        """Untimed work an input source would do before op ``i``."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, i: int, out: dict) -> OpResult:
        raise NotImplementedError

    def replay_sample(self):
        """(keys, values, Bloom capacity) from this workload's input for
        the in-process layer replay."""
        raise NotImplementedError

    def close(self) -> None:
        self.release()


class _CachedInput(Workload):
    def setup(self) -> None:
        self.df = pages(self.spark, 0, self.n, self.seed, self.parts).cache()
        self.df.count()

    def release(self) -> None:
        if getattr(self, "df", None) is not None:
            self.df.unpersist(blocking=True)
            self.df = None


# ---------------------------------------------------------------------------
# url_build: five sketches in one pass over string keys (hashing-bound)
# ---------------------------------------------------------------------------

class UrlBuild(_CachedInput):
    name = "url_build"
    rows = 500_000
    n_probe = 20_000

    def specs(self):
        return [("url", agg.bloom_spec(self.n, 0.01)),
                ("url", agg.hll_spec(14)),
                ("host_id", agg.cms_spec(5, 8192)),
                ("n_chars", agg.kll_spec(200)),
                ("n_chars", agg.tdigest_spec(200.0))]

    def oracle(self) -> None:
        pdf = self.df.select("host_id", "n_chars").toPandas()
        self.host_counts = pdf["host_id"].value_counts()
        self.chars = pdf["n_chars"].to_numpy()
        self.sorted_chars = np.sort(self.chars)
        step = max(1, self.n // self.n_probe)
        self.members = np.array(
            self.df.where(F.col("id") % step == 0).select("url")
            .toPandas()["url"].to_numpy(), dtype=object)
        # ids past the input map to URLs no member has (bijective doc ids)
        self.non_members = np.array(
            pages(self.spark, self.n, self.n_probe, self.seed)
            .select("url").toPandas()["url"].to_numpy(), dtype=object)

    def op(self, i: int) -> dict:
        out: dict = {}
        out["res"] = self._call("agg.build_sketches", agg.build_sketches,
                                self.df, self.specs())
        return out

    def check(self, i: int, out: dict) -> OpResult:
        res = out["res"]
        r = OpResult(rows=self.n,
                     state_bytes=sum(len(b.state_bytes) for b in res))
        r.sizes["agg.partials"] = sum(b.num_partials for b in res)
        r.sizes["agg.partial_bytes"] = sum(b.num_partials * len(b.state_bytes)
                                           for b in res)
        fail = r.failures
        for b in res:
            if b.n_rows != self.n:
                fail.append(f"{b.spec.kind}: n {b.n_rows} != {self.n}")
        bloom, hll, cms, kll, td = (b.state for b in res)
        if not BLOOM.contains(bloom, self.members).all():
            fail.append("bloom: false negative")
        fp = float(BLOOM.contains(bloom, self.non_members).mean())
        model = bloom_model_fp(bloom.k, self.n, bloom.m_bits)
        if fp > binomial_fp_bound(model, len(self.non_members)):
            fail.append(f"bloom: fp {fp:.4f} over model {model:.4f}")
        rel = abs(HLL.cardinality(hll) - self.n) / self.n
        if rel > HLL_Z * HLL.rel_error(hll):
            fail.append(f"hll: rel_err {rel:.4f}")
        est = CMS.estimate(cms, self.host_counts.index.to_numpy(np.int64))
        if (np.asarray(est) < self.host_counts.to_numpy()).any():
            fail.append("cms: undercount")
        rank = max(max_rank_error(KLL, kll, self.sorted_chars),
                   max_rank_error(TDIGEST, td, self.sorted_chars))
        if rank > RANK_ERR_BOUND:
            fail.append(f"quantiles: rank_err {rank:.4f}")
        r.accuracy = {"fp_rate": fp, "rel_err": rel, "rank_err": rank}
        return r

    def replay_sample(self):
        return self.members, self.chars[:len(self.members)], self.n


# ---------------------------------------------------------------------------
# crawl_stream: closed-loop micro-batches, probe then fold (one client)
# ---------------------------------------------------------------------------

class CrawlStream(Workload):
    name = "crawl_stream"
    rows = 100_000        # rows per micro-batch
    max_batches = 40      # the Bloom is sized for this many batches
    min_ops = 5
    warm_seconds = 8.0

    def setup(self) -> None:
        self.half = self.n // 2
        state_dir = os.path.join(self.workdir, "stream")
        shutil.rmtree(state_dir, ignore_errors=True)
        capacity = (self.max_batches + 1) * self.half
        self.sketch = streaming.StreamingSketch(
            agg.bloom_spec(capacity, 0.01), state_dir, col="url")
        self.batch(0).count()

    def batch(self, i: int) -> DataFrame:
        """Batch i covers ids [i*h, i*h + 2h): its first half is batch
        i-1's second half, so about half its URLs were seen before."""
        return pages(self.spark, i * self.half, self.n, self.seed,
                     self.parts)

    def prepare(self, i: int) -> None:
        """The stream source hands over batch ``i`` as a DataFrame."""
        if i >= self.max_batches:
            raise RuntimeError("stream longer than the Bloom was sized for")
        self.next_batch = self.batch(i)

    def op(self, i: int) -> dict:
        out: dict = {}
        ss, df = self.sketch, self.next_batch
        hit = self._call("agg.bloom_contains_col", agg.bloom_contains_col,
                         self.spark, ss.state_bytes, F.col("url"))
        old = F.col("id") < i * self.half + self.half if i else F.lit(False)
        out["counts"] = self._call(
            "agg.bloom_contains_col.collect",
            lambda: df.select(hit.alias("hit"), old.alias("old")).agg(
                F.sum((F.col("old") & ~F.col("hit")).cast("long")).alias("fn"),
                F.sum((~F.col("old") & F.col("hit")).cast("long")).alias("fp"),
            ).collect()[0])
        self._call("streaming.process_batch", ss.process_batch, df, i)
        return out

    def check(self, i: int, out: dict) -> OpResult:
        ss = self.sketch
        size = os.stat(os.path.join(ss.state_dir, "sketch_state.json")).st_size
        r = OpResult(rows=self.n, state_bytes=size)
        last = ss.batches[-1]
        r.sizes["agg.partials"] = last["partials"]
        r.sizes["agg.partial_bytes"] = last["partials"] * len(ss.state_bytes)
        r.sizes["streaming.state_file_bytes"] = size
        counts, fail = out["counts"], r.failures
        if counts["fn"]:
            fail.append(f"batch {i}: {counts['fn']} false negatives")
        new = self.n - (self.half if i else 0)
        fp = counts["fp"] / new
        bloom = BLOOM.deserialize(ss.state_bytes)
        seen = (i + 1) * self.half if i else 0
        model = bloom_model_fp(bloom.k, seen, bloom.m_bits)
        if fp > binomial_fp_bound(model, new):
            fail.append(f"batch {i}: fp {fp:.4f} over model {model:.4f}")
        if ss.n_rows != self.n * (i + 1):
            fail.append(f"batch {i}: n_rows {ss.n_rows}")
        r.accuracy = {"fp_rate": fp}
        return r

    def replay_sample(self):
        pdf = self.batch(0).select("url", "n_chars").toPandas()
        return (np.array(pdf["url"], dtype=object), pdf["n_chars"].to_numpy(),
                self.sketch.spec.cfg["n"])

    def close(self) -> None:
        shutil.rmtree(os.path.join(self.workdir, "stream"), ignore_errors=True)


# ---------------------------------------------------------------------------
# bank_resume: shard-sized Bloom bank, time-boxed round, resume, routed probe
# ---------------------------------------------------------------------------

class BankResume(_CachedInput):
    name = "bank_resume"
    rows = 20_000
    n_probe = 10_000
    warm_seconds = 8.0    # two ops: the cold first one takes 5-7 s

    def setup(self) -> None:
        super().setup()
        self.shards = 4 * self.parts
        step = max(1, self.n // self.n_probe)
        members = pages(self.spark, 0, self.n, self.seed) \
            .where(F.col("id") % step == 0) \
            .select("url", F.lit(True).alias("truth"))
        self.n_members = -(-self.n // step)
        others = pages(self.spark, self.n, self.n_members, self.seed) \
            .select("url", F.lit(False).alias("truth"))
        self.probes = members.unionByName(others) \
            .repartition(self.parts).cache()
        self.n_probes = self.probes.count()

    def release(self) -> None:
        super().release()
        if getattr(self, "probes", None) is not None:
            self.probes.unpersist(blocking=True)
            self.probes = None

    def op(self, i: int) -> dict:
        out: dict = {"ckpt": os.path.join(self.workdir, f"bank{i}")}
        spec = agg.bloom_spec(self.n, 0.01)
        kw = dict(route_cols=["url"], num_shards=self.shards,
                  ckpt_dir=out["ckpt"], shard_sized=True)
        out["first"] = self._call(
            "checkpoint.checkpointed_build", checkpoint.checkpointed_build,
            self.df, "url", spec, max_shards_per_run=self.shards // 2, **kw)
        out["bank"] = self._call(
            "checkpoint.checkpointed_build", checkpoint.checkpointed_build,
            self.df, "url", spec, **kw)
        member = self._call("checkpoint.sharded_contains",
                            checkpoint.sharded_contains, self.probes, "url",
                            out["ckpt"])
        out["counts"] = self._call(
            "checkpoint.sharded_contains.collect",
            lambda: member.agg(
                F.sum((F.col("truth") & ~F.col("member")).cast("long"))
                .alias("fn"),
                F.sum((~F.col("truth") & F.col("member")).cast("long"))
                .alias("fp")).collect()[0])
        return out

    def check(self, i: int, out: dict) -> OpResult:
        ckpt, bank = out["ckpt"], out["bank"]
        r = OpResult(rows=self.n, state_bytes=_dir_bytes(ckpt))
        r.sizes["checkpoint.rounds"] = 2
        r.sizes["checkpoint.partials_bytes"] = _dir_bytes(
            os.path.join(ckpt, "partials"))
        r.sizes["checkpoint.shards"] = self.shards
        shutil.rmtree(ckpt, ignore_errors=True)
        fail = r.failures
        if out["first"] is not None:
            fail.append("round 1 was not time-boxed")
        if not isinstance(bank, checkpoint.ShardedBloomBank) \
                or bank.n_rows != self.n or bank.num_shards != self.shards:
            fail.append("round 2 did not return the complete bank")
            return r
        if out["counts"]["fn"]:
            fail.append(f"{out['counts']['fn']} false negatives")
        cfg = bank.spec.cfg
        model = float(np.mean([
            bloom_model_fp(cfg["k"], s.get("n", 0), cfg["m_bits"])
            for s in bank.shard_lineage]))
        non_members = self.n_probes - self.n_members
        fp = out["counts"]["fp"] / non_members
        if fp > binomial_fp_bound(model, non_members):
            fail.append(f"fp {fp:.4f} over model {model:.4f}")
        r.accuracy = {"fp_rate": fp}
        return r

    def replay_sample(self):
        pdf = self.df.select("url", "n_chars").toPandas()
        return (np.array(pdf["url"], dtype=object), pdf["n_chars"].to_numpy(),
                self.n)


WORKLOADS = {w.name: w for w in (UrlBuild, CrawlStream, BankResume)}
