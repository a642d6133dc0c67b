"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload url_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` prints the per-layer
metrics, from a run whose ops alternate untraced and traced (the
difference is the tracing overhead).  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
when any check failed and 2 when sketchlib cannot be imported.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2       # input set-ups per run; setup_s takes their median


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the smoke test uses a "
                         "small one)")
    return ap.parse_args(argv)


def keep_files_local(workdir: str) -> None:
    """Point every scratch path of the driver, the JVM and the Python
    workers into ``workdir``; must run before the JVM starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, for the
    # launcher JVM and the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} --driver-java-options "
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    # Python workers import sketchlib from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def process_tree() -> dict[int, int]:
    """Depth of this process (0) and of each descendant: the JVM (1), the
    Python worker daemon and its workers (2 and below)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    depth = {os.getpid(): 0}
    frontier = [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p:
                depth[c] = depth[p] + 1
                frontier.append(c)
    return depth


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of the
    process tree: driver, JVM and Python workers."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


class RssSampler(threading.Thread):
    """Peak of the summed high-water RSS (VmHWM) of this process and all
    its descendants: the JVM, the Python worker daemon and its workers."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.parts_kb: dict[str, int] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_hwm_kb() -> dict[str, int]:
        """VmHWM summed per depth: driver, its children (the JVM), and
        everything below (the Python worker daemon and workers)."""
        out = {"driver": 0, "jvm": 0, "workers": 0}
        for pid, dep in process_tree().items():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            key = ("driver", "jvm", "workers")[min(dep, 2)]
                            out[key] += int(line.split()[1])
                            break
            except OSError:
                continue
        return out

    def sample(self) -> None:
        parts = self._tree_hwm_kb()
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.parts_kb = total, parts

    def peak_parts_mb(self) -> dict[str, float]:
        return {k: v / 1024.0 for k, v in self.parts_kb.items()}

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def _warm_worker(batches):
    import sketchlib.agg  # noqa: F401  (the import is the warm-up)
    yield from batches


def task_slots() -> int:
    """Half the cores: a task keeps two of them busy, a JVM thread feeding
    Arrow batches and the Python worker consuming them, so more slots only
    oversubscribe the cores (same op time, more scheduler noise)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(workload: str):
    """Session start and Python-worker warm-up: a job on every task slot
    whose workers import sketchlib."""
    from sketchlib.session import get_spark

    spark = get_spark(f"perfbench-{workload}", cores=task_slots())
    parts = spark.sparkContext.defaultParallelism
    spark.range(0, parts, 1, parts).mapInPandas(_warm_worker,
                                                "id long").count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(spark, w, first: int, seconds: float, tracer=None):
    """Run ops from index ``first`` until ``seconds`` have passed and at
    least ``w.min_ops`` ran.  With a tracer, every other op is traced, so
    traced and untraced ops share the machine phase and the JVM's warm-up.
    Returns (untraced records, traced records, next op index)."""
    from layers import jvm_gc_s, spark_op_metrics

    need = -(-w.min_ops // 2) if tracer is not None else w.min_ops
    sc = spark.sparkContext
    plain, traced = [], []
    i = first
    deadline = time.perf_counter() + seconds
    while (time.perf_counter() < deadline or len(plain) < need
           or (tracer is not None and len(traced) < need)):
        w.prepare(i)
        if tracer is None or (i - first) % 2 == 0:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            out = w.op(i)
            rec = {"s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0}
            plain.append(rec)
        else:
            group = f"op{i}"
            sc.setJobGroup(group, group)
            tracer.op_id = i
            w.tracer = tracer
            gc0 = jvm_gc_s(spark)
            with tracer.span("op"):
                t0 = time.perf_counter()
                out = w.op(i)
                rec = {"s": time.perf_counter() - t0}
            w.tracer = None
            t1 = time.perf_counter()
            with tracer.span("trace.spark_store"):
                rec["spark"] = spark_op_metrics(spark, group, rec["s"],
                                                jvm_gc_s(spark) - gc0)
            rec["store_s"] = time.perf_counter() - t1
            traced.append(rec)
        rec["res"] = w.check(i, out)
        i += 1
    return plain, traced, i


def end_to_end(records, setup_s) -> dict:
    secs = [r["s"] for r in records]
    # the median op's throughput: one slow op moves it no more than it
    # moves op_s_p50
    rate = statistics.median(r["res"].rows / r["s"] for r in records)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_s": {"value": rate, "unit": "rows/s"},
        "op_s_p50": {"value": statistics.median(secs), "unit": "s"},
        "state_bytes": {"value": float(records[-1]["res"].state_bytes),
                        "unit": "bytes"},
    }


def per_layer(plain, traced, tracer, all_results, replay_out, env,
              rss_mb) -> dict:
    from layers import CALL_SPANS, SPARK_KEYS

    def med(values):
        return float(statistics.median(values)) if values else 0.0

    out = {"cpu.op_s": (med([r["cpu_s"] for r in plain]), "s")}
    for k in SPARK_KEYS:
        unit = ("s" if k.endswith("_s") else "bytes" if k.endswith("_bytes")
                else "ratio" if k == "task_skew" else "count")
        out[f"spark.{k}"] = (med([r["spark"][k] for r in traced]), unit)
    # gc is JVM-wide (driver and executors share the JVM in local mode):
    # mean over ops, as most single ops collect nothing
    out["spark.gc_s"] = (statistics.fmean(r["spark"]["gc_s"] for r in traced),
                         "s")
    for k, names in CALL_SPANS.items():
        out[k] = (med(tracer.op_seconds(names)), "s")
    for k in ("agg.partials", "agg.partial_bytes",
              "streaming.state_file_bytes", "checkpoint.rounds",
              "checkpoint.partials_bytes", "checkpoint.shards"):
        out[k] = (med([r["res"].sizes.get(k, 0) for r in traced]),
                  "bytes" if k.endswith("_bytes") else "count")
    rounds = out["checkpoint.rounds"][0]
    if rounds:
        out["checkpoint.round_s"] = (out["checkpoint.round_s"][0] / rounds,
                                     "s")
    for k, v in replay_out.items():
        unit = ("s" if k.endswith("_s") else "bytes"
                if k.endswith("_bytes") else "ratio")
        out[k] = (v, unit)
    for k in ("fp_rate", "rel_err", "rank_err"):
        out[f"accuracy.{k}"] = (
            max((r.accuracy.get(k, 0.0) for r in all_results), default=0.0),
            "ratio")
    for phase in ("start", "end"):
        out[f"env.{phase}.stream_gbps_mt"] = (env[phase]["stream_gbps_mt"],
                                             "GB/s")
        out[f"env.{phase}.scatter_mops"] = (env[phase]["scatter_mops"],
                                           "Mop/s")
        out[f"env.{phase}.py_mops"] = (env[phase]["py_mops"], "Mop/s")
    base = med([r["s"] for r in plain])
    for k, v in rss_mb.items():
        out[f"mem.{k}"] = (v, "MB")
    out["trace.overhead_pct"] = (
        100.0 * (med([r["s"] for r in traced]) - base) / base, "%")
    out["trace.store_read_s"] = (med([r["store_s"] for r in traced]), "s")
    out["trace.ops"] = (float(len(traced)), "count")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sketchlib  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import sketchlib from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from layers import Tracer, replay
    from sketchlib.envprobe import env_probe
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload_cls = WORKLOADS[args.workload]
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{os.getpid()}")
    keep_files_local(workdir)

    phase_s: dict[str, float] = {}
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phase_s[name] = now - last[0]
        last[0] = now

    rss = RssSampler()
    rss.start()
    env = {"start": env_probe(reps=1)}
    lap("env_start")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload)
        session_s = time.perf_counter() - t0
        w = workload_cls(spark, args.seed, args.scale, workdir)
        input_s = []
        for rep in range(SETUP_REPS):
            if rep:
                w.release()
            t0 = time.perf_counter()
            w.setup()
            input_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(input_s)
        lap("setup")
        w.oracle()
        lap("oracle")
        results, warm_s, i = [], [], 0
        warm_until = time.perf_counter() + w.warm_seconds
        while i < 1 or time.perf_counter() < warm_until:
            w.prepare(i)
            t0 = time.perf_counter()
            out = w.op(i)
            warm_s.append(time.perf_counter() - t0)
            results.append(w.check(i, out))
            i += 1
        lap("warm")
        tracer = Tracer() if args.trace else None
        plain, traced, i = measure(spark, w, i, args.seconds, tracer)
        lap("measure")
        if tracer is not None:
            with tracer.span("trace.replay"):
                replay_out = replay(*w.replay_sample())
        results += [r["res"] for r in plain + traced]
        w.close()
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    lap("stop")
    peak_rss_mb = rss.stop()
    env["end"] = env_probe(reps=1)
    lap("env_end")

    failed = [r for r in results if r.failures]
    for r in failed:
        print(f"perfbench: check failed: {r.failures}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "env": env, "session_s": session_s,
                      "input_s": input_s, "phase_s": phase_s,
                      "rss_peak_mb": rss.peak_parts_mb(),
                      "warm_ops_s": warm_s,
                      "ops_s": [r["s"] for r in plain],
                      "ops_cpu_s": [r["cpu_s"] for r in plain],
                      "span_self_s": tracer.self_times() if tracer else {}}))
    if args.trace:
        metrics = per_layer(plain, traced, tracer, results, replay_out, env,
                            {"peak_rss_mb": peak_rss_mb,
                             **{f"{k}_mb": v
                                for k, v in rss.peak_parts_mb().items()}})
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(plain, setup_s)
    print(json.dumps({"correct": not failed, "attempted": len(results),
                      "failed": len(failed), "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
