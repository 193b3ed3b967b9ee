"""Tests of the benchmark's summary code; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    OpLedger,
    percentile,
    result_line,
    rows_match,
    run_check,
    summarize,
)

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == PER_LAYER
    assert any(name == "setup_s" and unit == "s" for name, unit, _ in END_TO_END)


def test_workloads_in_benchmark_json_exist():
    from workloads import WORKLOADS

    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)


def test_percentile_nearest_rank_and_beyond_count():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == (50.0, 50)
    assert percentile(xs, 90) == (90.0, 10)
    assert percentile(xs, 99) == (99.0, 1)


def test_summarize_median_only_when_no_percentile_has_ten_beyond():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": None}
    assert summarize([float(i) for i in range(20)])["tail"] is None


def test_summarize_picks_highest_qualifying_percentile():
    s = summarize([float(i) for i in range(50)])
    assert s["tail"] == {"p": 75.0, "value": 37.0, "beyond": 12}
    s = summarize([float(i) for i in range(1000)])
    assert s["tail"]["p"] == 99.0 and s["tail"]["beyond"] == 10


def test_summarize_rejects_empty():
    with pytest.raises(ValueError):
        summarize([])


def test_failed_op_share_arithmetic():
    ledger = OpLedger()
    for ok in (True, True, True, False):
        ledger.op(ok)
    assert (ledger.attempted, ledger.failed, ledger.failed_share) == (4, 1, 0.25)
    assert not ledger.correct
    with pytest.raises(ValueError):
        OpLedger().failed_share


def test_failing_check_counts_as_failed_operation():
    ledger = OpLedger()
    ledger.op(True)
    assert run_check(ledger, "wrong result", lambda: False) is False
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.checks == {"wrong result": False}
    assert not ledger.correct


def test_raising_check_counts_as_failed_operation():
    ledger = OpLedger()
    assert run_check(ledger, "raises", lambda: 1 / 0) is False
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_passing_checks_keep_run_correct():
    ledger = OpLedger()
    run_check(ledger, "ok", lambda: True)
    assert ledger.correct and ledger.failed_share == 0.0


def test_rows_match_order_insensitive_with_float_tolerance():
    got = [("b", 2, 0.1 + 0.2), ("a", 1, 1e10 + 0.01)]
    want = [("a", 1, 1e10), ("b", 2, 0.3)]
    assert rows_match(got, want)
    assert not rows_match(got, want[:1])
    assert not rows_match([("a", 1, 1.0)], [("a", 1, 1.1)])
    assert not rows_match([("a", 1)], [("a", 2)])
    assert rows_match([(None, 1.0)], [(None, 1.0)])
    assert not rows_match([(1, None)], [(1, 0.0)])


def test_result_line_shape():
    ledger = OpLedger()
    ledger.op(True)
    values = {name: 1.5 for name, _, _ in END_TO_END}
    out = json.loads(result_line(ledger, values, END_TO_END))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 1 and out["failed"] == 0
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert set(out["metrics"]) == {name for name, _, _ in END_TO_END}


def test_result_line_refuses_missing_metric():
    with pytest.raises(KeyError):
        result_line(OpLedger(), {"setup_s": 1.0}, END_TO_END)
