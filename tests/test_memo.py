"""The session-scoped memo (etl_sh_design_spark/memo.py): hit/miss
accounting, failed builds, per-application eviction, release on
clear, and a static guard against module-level memo dicts growing
back elsewhere."""

from __future__ import annotations

import ast
import pathlib
import sys
from types import SimpleNamespace

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_sh_design_spark import memo
from etl_sh_design_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parents[1]


def _counts(family):
    return memo.stats().get(family, {"hits": 0, "misses": 0, "entries": 0})


def test_stats_count_hits_and_misses(spark):
    memo.clear("t_stats")
    before = _counts("t_stats")
    a = memo.get(spark, "t_stats", "k", lambda: object())
    b = memo.get(spark, "t_stats", "k", lambda: object())
    memo.get(spark, "t_stats", "other", lambda: object())
    after = _counts("t_stats")
    assert a is b
    assert after["misses"] - before["misses"] == 2
    assert after["hits"] - before["hits"] == 1
    assert after["entries"] == 2
    memo.clear("t_stats")
    assert _counts("t_stats")["entries"] == 0


def test_failing_build_stores_nothing(spark):
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo.get(spark, "t_fail", "k", boom)
    assert _counts("t_fail")["entries"] == 0
    # the next access builds again instead of returning a stale value
    assert memo.get(spark, "t_fail", "k", lambda: 7) == 7
    memo.clear("t_fail")


def test_concurrent_gets_build_once():
    """Threads racing on one key share a single build."""
    import threading
    import time

    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-threads"))
    builds, results = [], []

    def build():
        builds.append(1)
        time.sleep(0.01)
        return object()

    def worker():
        results.append(memo.get(app, "t_threads", "k", build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(results) == 16 and all(r is results[0] for r in results)
    memo.clear("t_threads")


def test_other_application_evicts_entries(spark):
    memo.get(spark, "t_evict", "k", lambda: "mine")
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-other"))
    assert memo.get(other, "t_evict", "k", lambda: "theirs") == "theirs"
    # back in this application: the other one's entry is gone too
    assert memo.get(spark, "t_evict", "k", lambda: "rebuilt") == "rebuilt"
    assert _counts("t_evict")["entries"] == 1
    memo.clear("t_evict")


def test_clear_unpersists_and_destroys(spark):
    df = spark.range(10).persist()
    bc = spark.sparkContext.broadcast([1, 2, 3])
    memo.get(spark, "t_clear", "k", lambda: (df, {"bc": bc}))
    assert df.storageLevel != StorageLevel.NONE
    memo.clear("t_clear")
    assert df.storageLevel == StorageLevel.NONE
    assert not bc._jbroadcast.isValid()
    assert _counts("t_clear")["entries"] == 0


def test_plan_key_ignores_expression_ids(spark):
    def plan():
        return spark.range(5).select((F.col("id") * 2).alias("x"))

    assert memo.plan_key(plan()) == memo.plan_key(plan())
    assert memo.plan_key(plan()) != memo.plan_key(spark.range(6))


def test_failing_panel_build_leaves_no_entry_and_no_broadcast(spark, monkeypatch):
    calls = []
    sc_type = type(spark.sparkContext)
    real_broadcast = sc_type.broadcast

    def spy(self, value):
        calls.append(value)
        return real_broadcast(self, value)

    monkeypatch.setattr(sc_type, "broadcast", spy)
    panel = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(F.col("vec_id") < 3)
    before = _counts("panels")

    def bad_build(pdf):
        raise ValueError("bad panel")

    with pytest.raises(ValueError, match="bad panel"):
        sim.session_broadcast_panel(panel, "t_bad_panel", bad_build)
    assert calls == []
    assert _counts("panels")["entries"] == before["entries"]


def test_mutated_id_offset_collision_fails_loudly(spark, tmp_path):
    """A documents table whose doc_ids reach MUTATED_ID_OFFSET would
    make the shifted copies collide with originals; every fixture that
    shifts doc_ids raises inside the job instead of returning silently
    wrong pairs."""
    from etl_sh_design_spark import registry, registry_dedup, registry_selection

    n = registry.MUTATED_ID_OFFSET + 1
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c").alias("text"),
        F.lit("web").alias("source"),
    ).write.parquet(str(tmp_path / "documents.parquet"))
    for corpus in (
        registry._corpus_exact,
        registry._corpus_mutated,
        registry._v2_corpus,
        registry_dedup._norm_plant_corpus,
        registry_dedup._incoming_batch,
        registry_dedup._incoming_near_batch,
    ):
        with pytest.raises(Exception, match="MUTATED_ID_OFFSET"):
            corpus(spark, str(tmp_path)).agg(F.max("doc_id")).collect()
    # queries that plant their own shifted copies inline
    for q in (
        registry_dedup.q_nfc_dedup_audit,
        registry_selection.q_curation_pipeline_e2e,
        registry_selection.q_cross_source_leakage,
    ):
        with pytest.raises(Exception, match="MUTATED_ID_OFFSET"):
            q(spark, str(tmp_path)).collect()


def _memo_like(name: str) -> bool:
    return name.upper().endswith(("_MEMO", "_CACHE", "_LAST"))


def test_no_module_level_memo_dicts():
    """Every session memo goes through etl_sh_design_spark.memo: no
    module keeps its own *_MEMO / *_CACHE / *_LAST dict, and bench.py reaches
    no module's private memo."""
    offenders = []
    for path in sorted((REPO / "etl_sh_design_spark").rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and _memo_like(t.id):
                    offenders.append(f"{path.relative_to(REPO)}:{node.lineno} {t.id}")
    for node in ast.walk(ast.parse((REPO / "bench.py").read_text())):
        if isinstance(node, ast.Attribute) and node.attr.startswith("_"):
            on_memo = isinstance(node.value, ast.Name) and node.value.id == "memo"
            if on_memo or _memo_like(node.attr):
                offenders.append(f"bench.py:{node.lineno} .{node.attr}")
    assert offenders == []
