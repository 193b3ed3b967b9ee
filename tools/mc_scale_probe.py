#!/usr/bin/env python
"""Scale-probe the flagship MC acceptance pipeline (VERDICT r8 item 6):
run `acceptance_profile`'s plan at 1e6 / 1e7 / 1e8 rays (per-ray
EXISTS lookup), and report wall clock, shuffle
bytes written, and rays/s per rung. 1e6 is the committed SCALE.md
reference point (the reference's own study is 1e5 rays x 4 variants,
29.7 s single-threaded).

The rays side is generated (spark.range + hash uniforms), so the probe
measures the PLAN — per-layer projection, four broadcast EXISTS
lookups in the ray stage, bins-sized final agg — not parquet scan speed.

Usage: python tools/mc_scale_probe.py [max_exponent]   (default 8)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import shuffle_write_bytes  # noqa: E402


def main() -> None:
    from etl_sh_design_spark.plans.acceptance import acceptance_profile
    from etl_sh_design_spark.session import get_spark

    max_exp = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(app_name="mc_scale_probe", ui=True)  # UI: shuffle metrics
    spark.sparkContext.setLogLevel("ERROR")

    # warm: JIT/codegen for the plan family, tiny ray count
    acceptance_profile(spark, 10_000).write.format("noop").mode("overwrite").save()

    print("| rays | wall s | shuffle MiB | Mrays/s |")
    print("|---|---|---|---|")
    for exp in range(6, max_exp + 1):
        n = 10 ** exp
        sw0 = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        acceptance_profile(spark, n).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        mib = (shuffle_write_bytes(spark) - sw0) / 2**20
        print(
            f"| 1e{exp} | {dt:.1f} | {mib:.0f} | {n / dt / 1e6:.2f} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
