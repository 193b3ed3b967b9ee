"""Summary arithmetic of the benchmark: metric names and units, medians,
tail percentiles with their sample counts, failure shares, output
comparison and the result line.

Pure Python (no Spark), so ``test_stats.py`` covers it in milliseconds.
"""

from __future__ import annotations

import json
import math
import statistics
import sys
import traceback

# (name, unit, better). BENCHMARK.json lists the same names and units;
# test_stats.py keeps the two in step.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_cpu_norm", "ratio", "lower"),
    ("ok_op_share", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

RELATIONAL_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "histogram2d_qty_disc",
    "profile_disc_by_qty",
    "efficiency_returns",
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("datagen.rays_s", "s", "lower"),
    ("containment.join_s", "s", "lower"),
    ("containment.candidates_per_hit", "ratio", "lower"),
    ("histogram.agg_s", "s", "lower"),
    ("acceptance.plan_s", "s", "lower"),
    ("acceptance.exec_s", "s", "lower"),
    ("tiling.flavor_counts_s", "s", "lower"),
    ("tiling.supermodules_s", "s", "lower"),
    ("dee_faces.face_boards_s", "s", "lower"),
    ("dee_faces.face_flavor_counts_s", "s", "lower"),
    ("bv_grouping.greedy_s", "s", "lower"),
    ("bv_grouping.config_search_s", "s", "lower"),
    ("studies.bias_voltage_s", "s", "lower"),
    ("studies.occupancy_s", "s", "lower"),
    ("physics.sensor_physics_s", "s", "lower"),
    ("partition.lookup_s", "s", "lower"),
    ("layout.plan_s", "s", "lower"),
    ("layout.exec_s", "s", "lower"),
    ("sources.parquet_scan_s", "s", "lower"),
    *[(f"registry.{q}_s", "s", "lower") for q in RELATIONAL_QUERIES],
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.shuffle_write_mb_per_op", "MB", "lower"),
    ("spark.gc_s_per_op", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

# percentiles tried from the highest down; nearest-rank definition
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(samples: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank p-th percentile of `samples` and the number of
    samples ranked beyond it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


def summarize(samples: list[float], min_beyond: int = 10) -> dict:
    """Median plus the highest ladder percentile with at least
    `min_beyond` samples beyond it; ``tail`` is None when none
    qualifies (then only the median is meaningful)."""
    if not samples:
        raise ValueError("no samples to summarize")
    out = {"n": len(samples), "p50": statistics.median(samples), "tail": None}
    for p in TAIL_LADDER:
        value, beyond = percentile(samples, p)
        if beyond >= min_beyond:
            out["tail"] = {"p": p, "value": value, "beyond": beyond}
            break
    return out


class OpLedger:
    """Attempted / failed operation counts. A failed output check is a
    failed operation, exactly like an operation that raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.op(ok)

    @property
    def failed_share(self) -> float:
        if self.attempted < 1:
            raise ValueError("no operation attempted")
        return self.failed / self.attempted

    @property
    def correct(self) -> bool:
        return self.failed == 0


def run_check(ledger: OpLedger, name: str, fn) -> bool:
    """Run one output check and record it. A check that raises or
    returns a falsy value is a failed operation."""
    try:
        ok = bool(fn())
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"check failed: {name}", file=sys.stderr)
    ledger.check(name, ok)
    return ok


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, 0 if v is None else v) for v in row)


def rows_match(got, want, rel_tol: float = 1e-6, abs_tol: float = 1e-5) -> bool:
    """Order-insensitive row-set equality; floats compare within a
    tolerance that absorbs sum-order drift between engines (a rounding
    flip of one unit in the 6th decimal) but not a wrong result."""
    a = sorted((tuple(r) for r in got), key=_sort_key)
    b = sorted((tuple(r) for r in want), key=_sort_key)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=rel_tol, abs_tol=abs_tol):
                    return False
            elif x != y:
                return False
    return True


def result_line(ledger: OpLedger, values: dict, specs: list[tuple]) -> str:
    """The benchmark's last stdout line: every metric of `specs`, each
    with its unit. A missing metric is a bug in the benchmark."""
    missing = [name for name, _, _ in specs if name not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {
        name: {"value": float(values[name]), "unit": unit} for name, unit, _ in specs
    }
    return json.dumps(
        {
            "correct": ledger.correct,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": metrics,
        }
    )
