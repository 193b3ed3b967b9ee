#!/usr/bin/env python
"""Driver-window rotation audit: make the zero-rotation-debt policy
executable instead of prose.

The external driver verifies only the first 50 entries of `queries()`
per round, so the window in registry._DRIVER_WINDOW_PRIORITY carries
two obligations (see the comment block there):

1. every query that has NEVER been driver-green must be in-window
   (new queries get first signal the round they land);
2. the refresh tail should drain the OLDEST last-green cohort, so
   union(CORRECTNESS_r01..rN) keeps every query's driver signal
   reasonably fresh.

This tool recomputes last-green per query from the committed
CORRECTNESS_r*.json files and reports:
- hard violations of (1) — these should fail CI (test_window_audit);
- the last-green histogram inside vs outside the window — the
  informational view a round review needs to plan the next rotation
  (the "rewritten this round" front of the window is a per-round
  judgement call on the git diff and is NOT checkable here).

Usage: python tools/window_audit.py
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_green_by_query() -> dict[str, int]:
    """Query -> latest round in which the driver saw it green
    (hash PASS, or a rows-only check that returned rows)."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as fh:
            data = json.load(fh)
        for name, v in data.items():
            ok = bool(v.get("hash_match")) or (
                v.get("err") == "no_oracle" and v.get("spark_rows") is not None
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last


def audit() -> tuple[list[str], dict]:
    """Returns (violations, report). Violations are hard failures:
    registered-but-never-green queries missing from the window, or
    window entries that are neither registered queries nor withheld by
    the reference-data gate on this host."""
    from etl_sh_design_spark import registry

    window = list(registry._DRIVER_WINDOW_PRIORITY)
    names = set(registry.queries())
    withheld = set(registry.withheld())
    last = last_green_by_query()

    violations = []
    for w in window:
        if w not in names and w not in withheld:
            violations.append(f"window entry {w!r} is not a registered query")
    never = sorted(n for n in names if n not in last)
    for n in never:
        if n not in window:
            violations.append(
                f"{n!r} has never been driver-green and is NOT in the window"
            )
    if len(window) != 50:
        violations.append(f"window has {len(window)} entries, driver checks 50")

    in_w = defaultdict(list)
    out_w = defaultdict(list)
    for n in sorted(names):
        bucket = in_w if n in window else out_w
        bucket[last.get(n, 0)].append(n)  # 0 = never green
    report = {
        "n_registered": len(names),
        "n_withheld": len(withheld),
        "n_never_green": len(never),
        "in_window_by_last_green": {k: len(v) for k, v in sorted(in_w.items())},
        "out_window_by_last_green": {k: len(v) for k, v in sorted(out_w.items())},
        "oldest_out_of_window": {
            k: sorted(v) for k, v in sorted(out_w.items())[:1]
        },
    }
    return violations, report


def main() -> None:
    violations, report = audit()
    print(json.dumps(report, indent=1))
    if violations:
        for v in violations:
            print("VIOLATION:", v)
        sys.exit(1)
    print("window audit: OK")


if __name__ == "__main__":
    main()
