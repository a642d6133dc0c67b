"""Machine-phase probe: a fixed, deterministic workload timed alongside
every benchmark so each result JSON carries evidence of the VM phase it
ran in.

This sandbox's hypervisor phases swing identical-code wall clock by up
to 3.6x (measured: the 5M-page capacity pipeline at 284.6k vs 78.6k
pages/s on the same commit — BENCH/BASELINE.md). The degradation is
invisible when idle (/proc/stat steal reads 0) and hits DRAM-bound
stages hardest, so a benchmark number without a same-run probe cannot
be compared across sessions. The probe runs the two memory access
patterns our kernels are made of:

* ``stream_gbps`` — sequential reduction over a 64 MB array (DRAM read
  bandwidth; the Arrow/scan-side pattern).
* ``scatter_mops`` — data-dependent uint64 XOR scatter into a 64 MB
  table (the monolithic-Bloom insert pattern; latency-bound).
* ``stream_gbps_mt`` — the same reduction on every core at once
  (numpy releases the GIL in reduce), because neighbor contention may
  only surface when the socket's bandwidth is saturated — which is
  exactly how the 32-core pipeline runs.
* ``py_mops`` — a fixed pure-python loop (interpreter-bound; the
  extract-stage analog). Needed because a 388 s pytest run was observed
  while the memory legs read mid-healthy: CPU steal / downclocking can
  degrade interpreter-bound work without moving the bandwidth legs.

All legs are numpy with fixed sizes and a fixed seed-free index pattern
(an LCG ramp), so the work is identical every run and machine-phase is
the only variable. Total budget ~1 s per call in a healthy phase.

Interpretation caveat (measured round 5): six back-to-back probes on
an otherwise-idle machine read mt-stream 48.0, 40.3, 4.6, 10.7, 30.7,
34.1 GB/s — the contended phase oscillates ~10x at sub-minute
timescale, faster than a multi-minute benchmark run. A single probe
is therefore a sample, not a state; bracketing (start+end) detects a
swing only if it persists across the bracket, and comparisons should
pool multiple interleaved samples (see perfbench's interleaved
parent/change pairs) rather than trust any one bracketed run.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_TABLE_WORDS = 8 * 1024 * 1024      # 64 MB of uint64
_STREAM_PASSES = 4
_SCATTER_OPS = 4 * 1024 * 1024


def _lcg_indices(n: int, mod: int) -> np.ndarray:
    # fixed full-period-ish LCG ramp: deterministic, cache-hostile
    i = np.arange(n, dtype=np.uint64)
    return ((i * np.uint64(6364136223846793005)
             + np.uint64(1442695040888963407)) % np.uint64(mod))


def probe() -> dict[str, float]:
    """Time the fixed workloads; returns throughputs (higher = healthier).

    Reference values from a healthy phase are recorded in
    BENCH/BASELINE.md next to the first committed run that carried them.
    """
    table = np.zeros(_TABLE_WORDS, dtype=np.uint64)
    table[::512] = 1    # touch every page so timing excludes first-fault

    t0 = time.perf_counter()
    acc = np.uint64(0)
    for _ in range(_STREAM_PASSES):
        acc ^= np.bitwise_xor.reduce(table)
    stream_s = time.perf_counter() - t0
    stream_bytes = _STREAM_PASSES * table.nbytes

    idx = _lcg_indices(_SCATTER_OPS, _TABLE_WORDS)
    t0 = time.perf_counter()
    np.bitwise_xor.at(table, idx, np.uint64(0x9E3779B97F4A7C15))
    scatter_s = time.perf_counter() - t0

    # contended leg: every core streams its own 16 MB slice at once
    n_thr = min(os.cpu_count() or 1, 32)
    slices = [np.ones(2 * 1024 * 1024, dtype=np.uint64) for _ in
              range(n_thr)]
    sink = [np.uint64(0)] * n_thr

    def _stream(i: int) -> None:
        s = np.uint64(0)
        for _ in range(_STREAM_PASSES):
            s ^= np.bitwise_xor.reduce(slices[i])
        sink[i] = s

    threads = [threading.Thread(target=_stream, args=(i,))
               for i in range(n_thr)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    mt_s = time.perf_counter() - t0
    mt_bytes = n_thr * _STREAM_PASSES * slices[0].nbytes

    py_iters = 2_000_000
    acc_py = 0
    t0 = time.perf_counter()
    for i in range(py_iters):
        acc_py = (acc_py * 31 + i) & 0xFFFFFFFF
    py_s = time.perf_counter() - t0

    return {
        "py_mops": round(py_iters / py_s / 1e6, 2),
        "_acc_py": acc_py,
        "stream_gbps": round(stream_bytes / stream_s / 1e9, 2),
        "scatter_mops": round(_SCATTER_OPS / scatter_s / 1e6, 2),
        "stream_gbps_mt": round(mt_bytes / mt_s / 1e9, 2),
        "probe_threads": n_thr,
        "probe_secs": round(stream_s + scatter_s + mt_s + py_s, 3),
        "_acc": int(acc ^ sink[0]),  # defeat dead-code elimination
    }


def env_probe(reps: int = 3) -> dict[str, float]:
    """Public entry: best-of-``reps`` per leg (a rep's own scheduling
    jitter is noise; a hypervisor phase degrades ALL reps, so the max
    still reflects it), anti-DCE field dropped."""
    runs = [probe() for _ in range(reps)]
    out: dict[str, float] = {}
    for k in ("stream_gbps", "scatter_mops", "stream_gbps_mt", "py_mops"):
        out[k] = max(r[k] for r in runs)
    out["probe_threads"] = runs[0]["probe_threads"]
    out["probe_secs"] = round(sum(r["probe_secs"] for r in runs), 3)
    return out
