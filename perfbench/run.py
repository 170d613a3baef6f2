"""Seeded validation benchmark of record.

    python3 perfbench/run.py --workload clips_payload --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

One run is one process, one client, one SparkSession on local[<cpus>]: it
sets up once from cold (JVM launch and session start, a warm-up query,
seeded input generation), runs untimed warm-up jobs, then runs validation
jobs back to back (a closed loop) for ``--seconds``. Every job's
output is checked against values derived from the seed alone.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates traced and untraced jobs and prints the per-layer metrics
(perfbench/layers.json says which layer each belongs to and which
end-to-end metric it should move). The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is the full run record (every job time, the Spark conf, the
host probe). Exits non-zero on any wrong or failed job.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import session
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run must end well inside three minutes even on a slow host
MAX_LOOP_S = 60.0
MIN_TRACED_JOBS = 2


def alu_probe() -> float:
    """Fixed pure-Python work: host speed at measurement time."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def tail_percentile(samples: list[float]):
    """The highest of a few percentiles with at least ten samples beyond
    it, as (percentile, value), or None when there are too few samples."""
    xs = sorted(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100) >= 10:
            return p, xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of every CPU since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def drift(samples: list[float]) -> float:
    """Median of the last quarter of a run's jobs over that of its first."""
    q = max(1, len(samples) // 4)
    return statistics.median(samples[-q:]) / statistics.median(samples[:q])


class Run:
    def __init__(self, spark, workload, path, expected):
        self.spark, self.workload, self.path = spark, workload, path
        self.expected = expected
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def job(self, traced: bool = False):
        """One checked job: (seconds, per-layer values or None), or
        (None, None) when it raised."""
        self.attempted += 1
        tr = Tracer(self.spark) if traced else None
        t = time.perf_counter()
        try:
            if tr:
                tr.begin(f"perfbench-{self.attempted}")
                out = self.workload.traced_job(self.spark, self.path, tr)
            else:
                out = self.workload.job(self.spark, self.path)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3)[-800:])
            print(self.errors[-1], file=sys.stderr)
            return None, None
        dt = time.perf_counter() - t
        if tr:
            tr.end()
        if out != self.expected:
            self.failed += 1
            self.errors.append(f"wrong result: {out} != expected {self.expected}")
            print(self.errors[-1], file=sys.stderr)
        return dt, (tr.values() if tr else None)


def run_one(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".data", f"run-{os.getpid()}")
    session.prepare_env(ROOT, os.path.join(run_dir, "tmp"))
    wl = workloads.WORKLOADS[args.workload](args.seed)
    key = wl.key()
    path = os.path.join(run_dir, key)
    expected = wl.expected()
    conf = session.build_conf(os.path.join(run_dir, "tmp"))
    spark = None
    try:
        alu_before = alu_probe()
        with session.RssSampler() as rss:
            # one cold set-up: the JVM launch is part of what a user waits for
            t0 = time.perf_counter()
            spark = session.start_session(conf)
            spark.range(1000).selectExpr("sum(id)").collect()
            t1 = time.perf_counter()
            wl.generate(spark, path)
            t2 = time.perf_counter()
            setup_s, gen_s = t2 - t0, t2 - t1
            run = Run(spark, wl, path, expected)
            warmup_s = [run.job()[0] for _ in range(wl.warmup_jobs)]

            rss.reset()
            session.reset_heap_peak(spark)
            ticks_before = cpu_ticks()
            plain, traced, layer_samples = [], [], []
            t_loop = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_loop
                short = args.trace and min(len(plain), len(traced)) < MIN_TRACED_JOBS
                if elapsed >= MAX_LOOP_S or (elapsed >= args.seconds and not short):
                    break
                use_trace = bool(args.trace) and len(traced) < len(plain)
                dt, values = run.job(traced=use_trace)
                if dt is not None:
                    (traced if use_trace else plain).append(dt)
                if values is not None:
                    layer_samples.append(values)
            loop_s = time.perf_counter() - t_loop
            peak_rss = rss.peak()
            heap = session.heap_peaks(spark)
            steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))

            extras = {}
            if args.trace and hasattr(wl, "extras"):
                run.attempted += 1
                try:
                    extras, extras_ok = wl.extras(spark, path)
                except Exception:
                    extras, extras_ok = {}, False
                    traceback.print_exc()
                if not extras_ok:
                    run.failed += 1
                    run.errors.append("ladder or kernel run failed or disagreed")
            alu_after = alu_probe()
            spark_conf = dict(sorted(spark.sparkContext.getConf().getAll()))
    finally:
        if spark is not None:
            session.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not plain:
        print("perfbench: no untraced job completed", file=sys.stderr)
        return 1
    job_s = statistics.median(plain)
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": wl.rows * len(plain) / sum(plain),
        "peak_rss_mb": peak_rss / 2**20,
    }
    error_rate = run.failed / run.attempted
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "input_key": key, "rows_per_job": wl.rows, "expected": expected,
        "setup_s": setup_s, "gen_s": gen_s, "warmup_job_s": warmup_s,
        "job_s_each": plain, "job_s_samples": len(plain),
        "job_s_tail": tail_percentile(plain), "loop_s": loop_s,
        "run.drift": drift(plain), "error_rate": error_rate,
        "errors": run.errors,
        "jvm_heap_peak_mb": {k: v / 2**20 for k, v in heap.items()},
        "host": {
            "cpus": session.host_cpus(), "mem_bytes": session.host_mem_bytes(),
            "alu_probe_s_before": alu_before, "alu_probe_s_after": alu_after,
            "cpu_steal_share_in_loop": steal / total if total else 0.0},
        "spark_conf": spark_conf,
    }
    if args.trace:
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        per_layer = {}
        for name in layers:
            xs = [s[name] for s in layer_samples if name in s]
            per_layer[name] = statistics.median(xs) if xs else 0.0
        rows_out = wl.violation_rows(expected)
        per_layer.update(extras)
        per_layer.update({
            "sources.gen_s": gen_s,
            # the live data the JVM kept, and payload buffers too big for
            # a young region; young pools fill to whatever G1 sizes them
            "jvm.old_gen_peak_mb": sum(
                v for k, v in heap.items() if "Old" in k or "Tenured" in k) / 2**20,
            "violations.rows": rows_out,
            "violations.per_row": rows_out / wl.rows,
            "run.drift": drift(plain),
            "host.alu_probe_s": (alu_before + alu_after) / 2,
            "trace.overhead_s": (statistics.median(traced) - job_s) if traced else 0.0,
        })
        record["traced_job_s_each"] = traced
        if extras:
            # the kernel alone on every CPU, to set beside spark.exec_s
            record["kernel_only_s_per_job"] = wl.rows / (
                extras["functions.kernel_rows_per_s"] * session.host_cpus())
        record["layers"] = {n: {**layers[n], "value": per_layer[n]} for n in layers}
        specs = bench["per_layer"]
        values = per_layer
    else:
        specs = bench["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in specs}

    for name, m in metrics.items():
        print(f"{wl.name:18s} {name:28s} {m['value']:>16.6g} {m['unit']}")
    print(f"{wl.name:18s} {'error_rate':28s} {error_rate:>16.6g} ratio")
    print(f"{wl.name:18s} {'job_s.samples':28s} {len(plain):>16d} count")
    print(json.dumps({"record": record}, default=str))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload for one seed, each in its own process, one table."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
        if proc.returncode or not result or not result["correct"]:
            status = 1
        for line in lines[:-2]:
            print(line)
        if result:
            print(f"{name:18s} {'correct':28s} {str(result['correct']):>16s} "
                  f"({result['failed']}/{result['attempted']} failed)")
        else:
            print(f"{name:18s} no result (exit {proc.returncode})")
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jsonschema_spark")):
        print(f"perfbench: no jsonschema_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
