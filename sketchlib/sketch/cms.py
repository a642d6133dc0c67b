"""Count-min sketch as a mergeable, vectorized sketch.

No reference counterpart — mandated by BASELINE.json:6,14. Cormode &
Muthukrishnan 2005: table uint64[d, w]; update adds the item weight at one
hashed cell per row; point query = min over rows; merge = elementwise sum.

Guarantee: est >= true, and est <= true + eps*N with prob >= 1-delta where
eps = e/w, delta = e^-d (asserted in tests).

Cells are float64 (exact integer arithmetic up to 2^53 — a single cell
would need >9e15 mass to lose a unit, ~1000x the 10^12-row design point):
the uint64 table silently TRUNCATED fractional weighted updates per batch
cell (10 updates of weight 0.5 could estimate 0, violating est >= true)
and wrapped negative weights to ~1.8e19.  Weights must be >= 0 and finite
— rejected otherwise; estimates are ceiled back to int64, which preserves
one-sidedness for fractional mass and is exact for integral mass.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..hashing import HASH_DOMAIN, check_domain, derive_hashes, hash64
from .protocol import pack_state, unpack_state

__all__ = ["CmsState", "Cms", "CMS"]

_CMS_SEED = 0xC0FFEE


@dataclass
class CmsState:
    d: int
    w: int
    table: np.ndarray  # float64[d, w] — exact integer math to 2^53
    n_total: float  # total added weight (int-valued unless weighted)


class Cms:
    name = "cms"

    def create(self, d: int = 5, w: int = 4096, *,
               eps: float | None = None, delta: float | None = None) -> CmsState:
        if eps is not None:
            w = int(math.ceil(math.e / eps))
        if delta is not None:
            d = int(math.ceil(math.log(1.0 / delta)))
        return CmsState(d, w, np.zeros((d, w), np.float64), 0)

    def _cells(self, state: CmsState, h: np.ndarray) -> np.ndarray:
        """uint64[d, N] column indices, one per depth row."""
        return derive_hashes(h, state.d, _CMS_SEED) % np.uint64(state.w)

    def update_hashes(self, state: CmsState, h: np.ndarray,
                      weights: np.ndarray | None = None) -> CmsState:
        if h.shape[0] == 0:
            return state
        cells = self._cells(state, h)
        if weights is None:
            # bincount per row: collapses duplicate cells before the add —
            # one dense vector add instead of N scattered increments.
            for i in range(state.d):
                counts = np.bincount(cells[i].astype(np.int64), minlength=state.w)
                state.table[i] += counts
            state.n_total += int(h.shape[0])
        else:
            wts = np.asarray(weights, np.float64)
            if wts.shape[0] != h.shape[0]:
                raise ValueError("weights length must match values length")
            if not np.all(np.isfinite(wts)) or np.any(wts < 0):
                raise ValueError(
                    "CMS weights must be finite and >= 0: the est >= true "
                    "guarantee assumes non-negative mass (negative weights "
                    "previously wrapped through uint64 to ~1.8e19)")
            for i in range(state.d):
                counts = np.bincount(cells[i].astype(np.int64), weights=wts,
                                     minlength=state.w)
                state.table[i] += counts
            state.n_total += float(wts.sum())
        return state

    def update(self, state: CmsState, values, weights=None) -> CmsState:
        return self.update_hashes(state, hash64(values), weights)

    def merge(self, a: CmsState, b: CmsState) -> CmsState:
        if (a.d, a.w) != (b.d, b.w):
            raise ValueError("cannot merge CMS with different geometry")
        return CmsState(a.d, a.w, a.table + b.table, a.n_total + b.n_total)

    def estimate_hashes(self, state: CmsState, h: np.ndarray) -> np.ndarray:
        """Point-frequency estimates for a column of keys: min over rows."""
        if h.shape[0] == 0:
            return np.zeros(0, np.int64)
        cells = self._cells(state, h)
        ests = np.empty((state.d, h.shape[0]), np.float64)
        for i in range(state.d):
            ests[i] = state.table[i][cells[i]]
        # ceil: exact for integral mass, preserves est >= true for
        # fractional mass (truncation would undercount, e.g. 0.5 -> 0)
        return np.ceil(ests.min(axis=0)).astype(np.int64)

    def estimate(self, state: CmsState, values) -> np.ndarray:
        return self.estimate_hashes(state, hash64(values))

    @property
    def _e(self) -> float:
        return math.e

    def error_bound(self, state: CmsState) -> tuple[float, float]:
        """(eps, delta): overcount <= eps*N with prob >= 1-delta."""
        return math.e / state.w, math.exp(-state.d)

    def stats(self, state: CmsState) -> dict:
        eps, delta = self.error_bound(state)
        return {"d": state.d, "w": state.w, "n_total": state.n_total,
                "eps": eps, "delta": delta}

    def serialize(self, state: CmsState) -> bytes:
        return pack_state(self.name,
                          {"d": state.d, "w": state.w, "n": state.n_total,
                           "hd": HASH_DOMAIN},
                          [state.table.ravel()])

    def deserialize(self, data: bytes) -> CmsState:
        kind, header, bufs = unpack_state(data)
        if kind != self.name:
            raise ValueError(f"expected cms blob, got {kind}")
        check_domain(kind, header)
        # the table's dtype travels in the frame: cells are float64, and an
        # integer table reads value-preserving (cell mass < 2^53)
        table = bufs[0].astype(np.float64, copy=False).reshape(header["d"], header["w"])
        return CmsState(header["d"], header["w"], table, header["n"])


CMS = Cms()
