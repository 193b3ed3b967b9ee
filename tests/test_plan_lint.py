"""Fleet-wide plan lint as a test: every registered query's executed
plan must be free of the banned scale anti-patterns (cartesian
products, row-at-a-time Python UDFs, global windows, unbounded global
sorts, non-whitelisted nested-loop joins). The whitelist in
tools/plan_lint.py is the single documented list of accepted
exceptions — a new flag here means either a plan regression or a new
operator that needs an explicit, justified entry there."""

from __future__ import annotations

import importlib.util
import os

from tests.conftest import SF_SMOKE

_SPEC = importlib.util.spec_from_file_location(
    "plan_lint",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "plan_lint.py"),
)
plan_lint = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(plan_lint)


def test_all_registered_plans_lint_clean(spark):
    from etl_sh_design_spark import registry

    qs = registry.queries()
    bad: dict[str, list] = {}
    for name, fn in sorted(qs.items()):
        findings = plan_lint.lint_plan(fn(spark, SF_SMOKE))
        wl = plan_lint.WHITELIST.get(name, {})
        hard = [(r, ev) for r, ev in findings if r not in wl]
        if hard:
            bad[name] = hard
    assert not bad, f"plan anti-patterns: {bad}"


def test_whitelist_has_no_stale_entries():
    """Every whitelisted query must still exist — stale entries hide
    future regressions under a dead name. A query the reference-data
    gate withheld on this host still exists."""
    from etl_sh_design_spark import registry

    names = set(registry.queries()) | set(registry.withheld())
    stale = [n for n in plan_lint.WHITELIST if n not in names]
    assert not stale, f"whitelist entries for unregistered queries: {stale}"


def test_window_audit_no_violations():
    """The executable half of the rotation policy
    (tools/window_audit.py): every registered-but-never-driver-green
    query is in the 50-entry window, every window entry is a real
    query, and the window is exactly driver-sized. (Which entries
    deserve the 'rewritten this round' front remains a per-round
    judgement on the git diff — prose-checked by the judge.)"""
    from tools.window_audit import audit

    violations, report = audit()
    assert violations == [], violations
    assert report["n_registered"] >= 180
