"""KMV (k-minimum-values / bottom-k) sketch: a deterministic mergeable
uniform sample over the DISTINCT values of a column, doubling as a
distinct-count estimator.

No reference counterpart — added for the training-data-pipeline surface
(Bar-Yossef et al. 2002 for the estimator; bottom-k sampling is the
standard mergeable "coordinated sample").  Each distinct value gets a
fixed 64-bit hash priority; the sketch keeps the k smallest (priority,
value) pairs.  Because the priority is a pure function of the value:

  * the sample is DETERMINISTIC — identical across partitionings, retries
    and cluster sizes (no RNG state to coordinate);
  * merge = set-union + truncate-to-k, which is exactly associative,
    commutative and idempotent (byte-equal algebra, like Bloom/HLL);
  * distinct-count estimate = (k-1) * 2^64 / kth_smallest_priority, with
    relative standard error ~= 1/sqrt(k-2).

``update`` hashes values itself (vectorized hash64 — the production
path); ``update_with_prios`` takes a precomputed priority column so the
Spark layer can supply a SQL-reproducible priority (e.g. an md5-derived
integer) and an oracle can re-derive the exact same sample with
``ORDER BY prio LIMIT k``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..hashing import HASH_DOMAIN, check_domain, hash64
from .protocol import decode_keys, encode_keys, pack_state, unpack_state

__all__ = ["KmvState", "Kmv", "KMV"]


@dataclass
class KmvState:
    k: int
    prios: np.ndarray = None  # uint64[<=k], sorted ascending
    keys: list = field(default_factory=list)  # aligned with prios
    n_total: int = 0

    def __post_init__(self):
        if self.prios is None:
            self.prios = np.zeros(0, np.uint64)


def _keys_list(values) -> list:
    if hasattr(values, "to_pylist"):  # pyarrow
        return values.to_pylist()
    return np.asarray(values).tolist()


class Kmv:
    name = "kmv"

    def create(self, k: int = 256) -> KmvState:
        return KmvState(int(k))

    def _absorb(self, state: KmvState, prios: np.ndarray, keys: list,
                n_rows: int) -> KmvState:
        allp = np.concatenate([state.prios, prios.astype(np.uint64)])
        allk = state.keys + keys
        # distinct-value semantics: same value => same priority, so unique
        # on priority dedupes (64-bit cross-value collisions are absorbed
        # the same way — standard KMV treatment)
        uniq, idx = np.unique(allp, return_index=True)
        take = min(state.k, len(uniq))
        state.prios = uniq[:take]
        state.keys = [allk[i] for i in idx[:take].tolist()]
        state.n_total += n_rows
        return state

    def update(self, state: KmvState, values) -> KmvState:
        keys = _keys_list(values)
        if not keys:
            return state
        return self._absorb(state, hash64(values), keys, len(keys))

    def update_with_prios(self, state: KmvState, prios: np.ndarray,
                          keys: list) -> KmvState:
        """Insert with caller-supplied priorities (any fixed hash of the
        value, e.g. a SQL-reproducible md5-derived integer)."""
        if len(keys) == 0:
            return state
        return self._absorb(state, np.asarray(prios, np.uint64), list(keys),
                            len(keys))

    def merge(self, a: KmvState, b: KmvState) -> KmvState:
        if a.k != b.k:
            raise ValueError("cannot merge KMV sketches with different k")
        out = KmvState(a.k, a.prios.copy(), list(a.keys), a.n_total)
        out = self._absorb(out, b.prios, list(b.keys), 0)
        out.n_total = a.n_total + b.n_total
        return out

    # -- queries ------------------------------------------------------------

    def sample(self, state: KmvState) -> list:
        """The bottom-k sample (priority order, smallest first)."""
        return list(state.keys)

    def distinct_count(self, state: KmvState) -> float:
        """(k-1)/kth-smallest-normalized-priority; exact below capacity."""
        if len(state.prios) < state.k:
            return float(len(state.prios))
        kth = float(state.prios[state.k - 1]) / 2.0**64
        return (state.k - 1) / kth if kth > 0 else float(len(state.prios))

    def rel_error(self, state: KmvState) -> float:
        """Published relative standard error of the estimator."""
        return 1.0 / np.sqrt(max(state.k - 2, 1))

    # -- theta-style set algebra -------------------------------------------
    #
    # A KMV state IS a theta sketch with theta = kth-min normalized
    # priority: the kept hashes are a uniform sample of the distinct set
    # at rate theta, so ANY set expression can be estimated by evaluating
    # it on the kept-hash sets below the common theta and dividing by
    # theta (Dasgupta et al., the DataSketches theta model).  This gives
    # direct intersection/difference estimates — unlike HLL, which only
    # unions and must reach intersections via inclusion-exclusion with
    # compounded error.

    def _theta(self, state: KmvState) -> float:
        if len(state.prios) < state.k:
            return 1.0
        return float(state.prios[state.k - 1]) / 2.0**64

    def intersection_count(self, a: KmvState, b: KmvState) -> tuple[float, int]:
        """(estimated |A ∩ B|, retained sample size).  RSE ≈ 1/√retained."""
        theta = min(self._theta(a), self._theta(b))
        cut = np.uint64(int(theta * 2.0**64)) if theta < 1.0 \
            else np.uint64(0xFFFFFFFFFFFFFFFF)
        common = np.intersect1d(a.prios[a.prios < cut] if theta < 1.0 else a.prios,
                                b.prios[b.prios < cut] if theta < 1.0 else b.prios)
        return len(common) / theta, int(len(common))

    def difference_count(self, a: KmvState, b: KmvState) -> tuple[float, int]:
        """(estimated |A \\ B|, retained sample size)."""
        theta = min(self._theta(a), self._theta(b))
        cut = np.uint64(int(theta * 2.0**64)) if theta < 1.0 \
            else np.uint64(0xFFFFFFFFFFFFFFFF)
        sa = a.prios[a.prios < cut] if theta < 1.0 else a.prios
        sb = b.prios[b.prios < cut] if theta < 1.0 else b.prios
        only = np.setdiff1d(sa, sb)
        return len(only) / theta, int(len(only))

    def stats(self, state: KmvState) -> dict:
        return {"k": state.k, "n_kept": len(state.prios),
                "n_total": state.n_total,
                "distinct_est": self.distinct_count(state)}

    # -- wire ---------------------------------------------------------------

    def serialize(self, state: KmvState) -> bytes:
        header = {"k": state.k, "n": state.n_total,
                  "keys": encode_keys(state.keys), "hd": HASH_DOMAIN}
        return pack_state(self.name, header, [state.prios])

    def deserialize(self, data: bytes) -> KmvState:
        kind, header, bufs = unpack_state(data)
        if kind != self.name:
            raise ValueError(f"expected kmv blob, got {kind}")
        check_domain(kind, header)
        return KmvState(header["k"], bufs[0].astype(np.uint64, copy=False),
                        decode_keys(header["keys"]), header["n"])


KMV = Kmv()
