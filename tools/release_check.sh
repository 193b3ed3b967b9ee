#!/usr/bin/env bash
# One-command release gate: everything the external driver will check,
# locally, in order of increasing cost. Exit on first failure.
#
#   bash tools/release_check.sh           # full gate (~20 min)
#   bash tools/release_check.sh --fast    # skip pytest (~8 min)
#   bash tools/release_check.sh --deep    # + full oracle replay at
#                                           sf0.1 (10x the driver's
#                                           gate; ~10 min extra —
#                                           round 9 ran it clean:
#                                           209/209)
#
# 1. plan lint      — every registered query's executed plan is free
#                     of non-whitelisted scale anti-patterns
# 2. oracle replay  — every query vs its DuckDB oracle at sf0.01
#                     under a VANILLA SparkSession (the driver's
#                     environment + the driver's dtype-aware compare)
# 3. bench          — all queries at sf0.1, one JSON line; fails on
#                     any query error (-1 entries)
# 4. pytest         — the full local suite (goldens, plans, fuzz,
#                     reachability, driver-contract replay at sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== [1/4] plan lint =="
python tools/plan_lint.py

echo "== [2/4] oracle replay (vanilla session, sf0.01) =="
python tools/verify_all.py /root/testdata/sf0.01

if [[ "${1:-}" == "--deep" ]]; then
  echo "== [2b] deep oracle replay (sf0.1, 10x the gate) =="
  python tools/verify_all.py /root/testdata/sf0.1
fi

echo "== [3/4] bench (sf0.1) =="
python bench.py
python - <<'EOF'
import json
b = json.load(open("BENCH_FULL.json"))
bad = {k: v for k, v in b["queries"].items() if v < 0}
assert not bad, f"bench failures: {bad}"
print(f"bench ok: {len(b['queries'])} entries, {b['value']} s total")
EOF

if [[ "${1:-}" != "--fast" ]]; then
  echo "== [4/4] pytest =="
  python -m pytest tests/ -q
fi
echo "release gate: ALL GREEN"
