"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mc_acceptance --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a JSON detail record (host, sample
counts, checks). See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

from stats import END_TO_END, PER_LAYER, OpLedger, result_line, summarize
from tracer import tree_cpu_s, vm_hwm_mb
from workloads import WORKLOADS, Bench


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure(work: Path) -> dict:
    """Size the launch to the host and keep every file Spark, the JVM
    and the Python workers write inside `work`. Must run before
    pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = mem_total_mb()
    driver_mb = max(1024, min(2048, ram_mb // 4))
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # a fixed-size heap: G1 otherwise grows the heap faster when GC
    # pauses stretch on a busy host, which moved peak RSS by ~20%
    java_opts = f"-Xms{driver_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        # no reference checkout: the registry's reference-backed queries stay unregistered
        SPARK_GRAFT_REF_DIR=str(work / "no-reference"),
        # Python workers import the engine (applyInPandas, polygon UDF)
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--driver-java-options {shlex.quote(java_opts)}",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    return {"nproc": cpus, "ram_mb": ram_mb, "driver_mem_mb": driver_mb}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class SortClock:
    """Wall time of a fixed piece of JVM work that no repository code
    touches: ``Arrays.parallelSort`` of a copy of 4M pseudo-random longs
    (one thread per core, ~0.2 s). On a shared host it slows down and
    speeds up with the neighbours' load much as a pass's CPU time does,
    so the ratio of the two varies less from run to run than either."""

    N = 4_000_000

    def __init__(self, jvm) -> None:
        self._jvm = jvm
        self._src = jvm.java.util.Random(42).longs(self.N).toArray()

    def __call__(self) -> float:
        arrays = self._jvm.java.util.Arrays
        a = arrays.copyOf(self._src, self.N)
        t0 = time.perf_counter()
        arrays.parallelSort(a)
        return time.perf_counter() - t0


def measure(b: Bench, wl, seconds: float, trace: bool, cpu_s, clock) -> dict:
    """Closed loop: passes back to back until `seconds` have elapsed.
    Records each successful pass's wall time and the CPU seconds
    `cpu_s()` advanced during it, and times `clock()` twice before each
    pass and twice after the last. A traced run alternates traced and
    untraced passes (traced first) and makes at least one of each."""
    out = {"wall": [], "cpu": [], "traced_wall": [], "clock": []}
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        b.tracer.active = trace and i % 2 == 0
        # a full GC outside the timed region: otherwise whether an old-
        # generation cycle landed inside a pass varied by run and moved
        # that pass's CPU time by ~25%
        b.spark._jvm.java.lang.System.gc()
        out["clock"] += [clock(), clock()]
        c0 = cpu_s()
        dt, ok = b.run_pass(wl)
        if ok and b.tracer.active:
            out["traced_wall"].append(dt)
        elif ok:
            out["wall"].append(dt)
            out["cpu"].append(cpu_s() - c0)
        i += 1
        if time.perf_counter() >= deadline and (not trace or i >= 2):
            break
    b.tracer.active = False
    out["clock"] += [clock(), clock()]
    return out


def run(args) -> int:
    wl = WORKLOADS[args.workload]()
    work = ROOT / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    spark = None
    try:
        host = configure(work)
        t = time.perf_counter()
        wl.prepare(str(work), args.seed)
        inputs_s = time.perf_counter() - t

        # set-up: imports, JVM + session, then untimed warm passes
        t0 = time.perf_counter()
        from etl_sh_design_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        ledger = OpLedger()
        b = Bench(spark, ledger, random.Random(args.seed))
        t1 = time.perf_counter()
        for _ in range(wl.warm_passes):
            b.run_pass(wl)
        warmup_s = time.perf_counter() - t1
        setup_s = start_s + warmup_s

        jvm = spark._jvm
        jvm_pid = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
        clock = SortClock(jvm)
        for _ in range(3):  # JIT-compile the sort before it is timed
            clock()
        m = measure(b, wl, args.seconds, bool(args.trace), lambda: tree_cpu_s(jvm_pid), clock)
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb()

        if args.trace:
            # engine counts of the measured operations, taken before the
            # layer probes below add jobs of their own
            layers = {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "spark.jobs_per_op": b.counters.mean("jobs"),
                "spark.tasks_per_op": b.counters.mean("tasks"),
                "spark.shuffle_write_mb_per_op": b.counters.mean("shuffle_write_mb"),
                "spark.gc_s_per_op": b.counters.mean("gc_s"),
            }
            if m["traced_wall"] and m["wall"]:
                layers["trace.overhead_s"] = statistics.median(m["traced_wall"]) - statistics.median(
                    m["wall"]
                )
            layers.update(wl.layers(b))
        wl.checks(b)

        if not m["wall"]:
            print("no untraced pass succeeded", file=sys.stderr)
            return 1
        wall = summarize(m["wall"])
        # CPU seconds add up, so a pass's CPU cost is the run's total over
        # its passes; over the 3-4 passes of a run this mean also varied
        # less between runs than the median did
        cpu_mean = statistics.fmean(m["cpu"])
        clock_mean = statistics.fmean(m["clock"])
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "seed_effect": wl.seed_effect,
            "closed_loop_clients": 1,
            "host": {
                **host,
                "spark": spark.version,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
            },
            "inputs_s": inputs_s,
            "pass_wall_s": wall,
            "pass_cpu_mean_s": cpu_mean,
            "sort_clock_mean_s": clock_mean,
            "passes_wall_s": m["wall"],
            "passes_cpu_s": m["cpu"],
            "sort_clock_s": m["clock"],
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "failed_op_share": ledger.failed_share,
            "checks": ledger.checks,
        }
        if wl.name == "mc_acceptance":
            detail["mc_rays_per_s"] = wl.n_rays / wall["p50"]
        if args.trace:
            # a layer this workload never calls did no work on it: 0
            values = {name: layers.get(name, 0.0) for name, _, _ in PER_LAYER}
            specs = PER_LAYER
            b.tracer.write(str(ROOT / ".perfbench_out" / f"spans_{wl.name}_{args.seed}.jsonl"))
            detail["spark_per_op"] = b.counters.per_op
        else:
            values = {
                "setup_s": setup_s,
                "pass_cpu_norm": cpu_mean / clock_mean,
                "ok_op_share": 1.0 - ledger.failed_share,
                "peak_rss_mb": peak_rss_mb,
            }
            specs = END_TO_END
        line = result_line(ledger, values, specs)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps(detail))
    print(line, flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "etl_sh_design_spark" / "__init__.py").is_file():
        print(f"engine package etl_sh_design_spark not found under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
