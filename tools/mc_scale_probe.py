#!/usr/bin/env python
"""Scale-probe the flagship MC acceptance pipeline (VERDICT r8 item 6):
run `acceptance_profile`'s plan at 5e5, 1e6 and 4e6 rays, then at every
power of ten up to 10**max_exponent (per-ray EXISTS lookup), and report
per rung the median over REPS runs of wall clock, CPU seconds (the
JVM plus the driver's Python, read from /proc), Spark jobs per run,
shuffle bytes written and rays/s. The 5e5 and 4e6 rungs then split the
cost into a fixed part and a per-ray part (a line through the two
medians), for wall and for CPU. 1e6 is the committed SCALE.md
reference point (the reference's own study is 1e5 rays x 4 variants,
29.7 s single-threaded).

The rays side is generated (spark.range + hash uniforms), so the probe
measures the PLAN — per-layer projection, four broadcast EXISTS
lookups in the ray stage, bins-sized final agg — not parquet scan speed.

Usage: python tools/mc_scale_probe.py [max_exponent]   (default 8)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracer import tree_cpu_s  # noqa: E402
from tools.scale_probe import shuffle_write_bytes  # noqa: E402

LO, HI = 500_000, 4_000_000  # the rungs the fixed / per-ray split is drawn through
REPS = 5


def main() -> None:
    from etl_sh_design_spark.plans.acceptance import acceptance_profile
    from etl_sh_design_spark.session import get_spark

    max_exp = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(app_name="mc_scale_probe", ui=True)  # UI: shuffle metrics
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()

    def run(n: int, group: str) -> tuple[float, float, int, int]:
        sw0, c0 = shuffle_write_bytes(spark), tree_cpu_s(jvm_pid)
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            acceptance_profile(spark, n).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(jvm_pid) - c0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return wall, cpu, jobs, shuffle_write_bytes(spark) - sw0

    # warm: JIT/codegen for the plan family, tiny ray count
    for i in range(2):
        run(10_000, f"mc_scale::warm{i}")

    rungs = sorted({LO, HI} | {10**e for e in range(6, max_exp + 1)})
    print(f"| rays | wall s | CPU s | jobs/run | shuffle KiB | Mrays/s |  (median of {REPS})")
    print("|---|---|---|---|---|---|")
    medians = {}
    for n in rungs:
        runs = [run(n, f"mc_scale::{n}::{i}") for i in range(REPS)]
        wall, cpu, jobs, sw = (statistics.median(col) for col in zip(*runs))
        medians[n] = (wall, cpu)
        mrays = n / wall / 1e6
        print(
            f"| {n:.0e} | {wall:.2f} | {cpu:.2f} | {jobs:g} | {sw / 2**10:.1f} | {mrays:.2f} |",
            flush=True,
        )
    for k, name in enumerate(("wall", "CPU")):
        per_ray = (medians[HI][k] - medians[LO][k]) / (HI - LO)
        fixed = medians[LO][k] - LO * per_ray
        print(f"{name}: fixed {fixed:.2f} s + {per_ray * 1e6:.3f} us/ray ({LO:.0e} to {HI:.0e})")
    spark.stop()


if __name__ == "__main__":
    main()
