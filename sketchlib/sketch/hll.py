"""HyperLogLog as a mergeable, vectorized sketch.

No reference counterpart — mandated by BASELINE.json:6,14 ("[driver]" in
SURVEY §2). Classic Flajolet et al. 2007 estimator over a 64-bit hash
(so no large-range correction is needed), with linear-counting for the
small range. Registers are uint8[2^p]; merge = elementwise max — the
commutative/associative/idempotent combiner.

Error: relative std err ≈ 1.04/sqrt(2^p) (asserted in tests).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..hashing import HASH_DOMAIN, check_domain, hash64
from .protocol import pack_state, unpack_state

__all__ = ["HllState", "Hll", "HLL"]


@dataclass
class HllState:
    p: int
    registers: np.ndarray  # uint8[2^p]
    n_updates: int


def _hibit64(x: np.ndarray) -> np.ndarray:
    """Position (0-based) of highest set bit for x>0; branchless binary
    search, 6 vector ops."""
    r = np.zeros(x.shape, np.int64)
    x = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = (x >> np.uint64(s)) > 0
        r[m] += s
        x[m] >>= np.uint64(s)
    return r


class Hll:
    name = "hll"

    def create(self, p: int = 14) -> HllState:
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        return HllState(p, np.zeros(1 << p, np.uint8), 0)

    def update_hashes(self, state: HllState, h: np.ndarray) -> HllState:
        if h.shape[0] == 0:
            return state
        p = state.p
        j = (h >> np.uint64(64 - p)).astype(np.int64)  # top p bits -> register
        w = h << np.uint64(p)  # remaining 64-p bits, left-aligned
        # rho = leading zeros of w within 64-p bits, +1; w==0 -> 64-p+1
        rho = np.where(w > 0, np.int64(64) - 1 - _hibit64(w) + 1, np.int64(64 - p + 1))
        rho = np.minimum(rho, 64 - p + 1).astype(np.uint8)
        np.maximum.at(state.registers, j, rho)
        state.n_updates += int(h.shape[0])
        return state

    def update(self, state: HllState, values) -> HllState:
        return self.update_hashes(state, hash64(values))

    def merge(self, a: HllState, b: HllState) -> HllState:
        if a.p != b.p:
            raise ValueError("cannot merge HLLs with different precision")
        return HllState(a.p, np.maximum(a.registers, b.registers),
                        a.n_updates + b.n_updates)

    def cardinality(self, state: HllState) -> float:
        m = float(1 << state.p)
        regs = state.registers.astype(np.float64)
        if m >= 128:
            alpha = 0.7213 / (1.0 + 1.079 / m)
        elif m == 16:
            alpha = 0.673
        elif m == 32:
            alpha = 0.697
        else:
            alpha = 0.709
        est = alpha * m * m / np.sum(np.exp2(-regs))
        zeros = int(np.count_nonzero(state.registers == 0))
        if est <= 2.5 * m and zeros > 0:
            return m * np.log(m / zeros)  # linear counting, small range
        return float(est)

    def rel_error(self, state: HllState) -> float:
        return 1.04 / np.sqrt(float(1 << state.p))

    def stats(self, state: HllState) -> dict:
        return {"p": state.p, "m": 1 << state.p,
                "n_updates": state.n_updates,
                "estimate": self.cardinality(state),
                "rel_std_err": self.rel_error(state)}

    def serialize(self, state: HllState) -> bytes:
        """Dense (uint8[m]) or sparse ((int32 idx, uint8 rho) pairs) wire
        format, chosen by occupancy: sparse costs 5 bytes per nonzero
        register, so it wins below m/5 occupancy.  High-cardinality grouped
        sketch tables (thousands of groups, few elements each) shuffle
        ~10x fewer bytes sparse; a saturated global sketch stays dense.
        Both decode to the same in-memory dense state, so merge is
        encoding-agnostic (sparse<->dense merges just work)."""
        nnz = int(np.count_nonzero(state.registers))
        if nnz * 5 < (1 << state.p):
            idx = np.nonzero(state.registers)[0].astype(np.int32)
            return pack_state(self.name,
                              {"p": state.p, "n": state.n_updates, "enc": "s",
                               "hd": HASH_DOMAIN},
                              [idx, state.registers[idx]])
        return pack_state(self.name, {"p": state.p, "n": state.n_updates,
                                      "hd": HASH_DOMAIN}, [state.registers])

    def deserialize(self, data: bytes) -> HllState:
        kind, header, bufs = unpack_state(data)
        if kind != self.name:
            raise ValueError(f"expected hll blob, got {kind}")
        check_domain(kind, header)
        if header.get("enc") == "s":
            regs = np.zeros(1 << header["p"], np.uint8)
            regs[bufs[0]] = bufs[1].astype(np.uint8, copy=False)
            return HllState(header["p"], regs, header["n"])
        return HllState(header["p"], bufs[0].astype(np.uint8, copy=False), header["n"])


HLL = Hll()
