"""The benchmark's workloads, driven through the engine's public API.

Each workload is a closed loop of one client: a *pass* is an ordered
list of operations, and an operation is one public call (which builds
the plan) followed by the action that executes it. ``Bench`` runs the
operations, records spans and Spark counts when tracing is on, and
keeps the last result of each operation for the output checks.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

from stats import RELATIONAL_QUERIES, OpLedger, rows_match, run_check
from tracer import SparkCounters, Tracer


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(df) -> list:
    return df.collect()


def each(sink):
    """Sink for a call that returns a dict of DataFrames (the studies)."""
    return lambda outputs: {k: sink(df) for k, df in outputs.items()}


class Bench:
    """One benchmark process: the session, the span recorder, the Spark
    counters, the operation ledger and the last result per operation."""

    def __init__(self, spark, ledger: OpLedger, rng: random.Random) -> None:
        self.spark = spark
        self.ledger = ledger
        self.rng = rng
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        self.results: dict[str, object] = {}
        self._n = 0

    def op(self, name: str, call, sink):
        self._n += 1
        op_id = f"{name}#{self._n}"
        traced = self.tracer.active
        with self.tracer.span(name, op_id):
            if traced:
                self.counters.begin(op_id)
            try:
                with self.tracer.span(name + ".plan"):
                    out = call()
                with self.tracer.span(name + ".exec"):
                    res = sink(out)
            finally:
                if traced:
                    self.counters.end(op_id)
        return res

    def run_pass(self, wl) -> tuple[float, bool]:
        """Run each of the workload's operations once, in its order for
        this pass. Returns the pass latency and whether every operation
        succeeded; a failed operation is logged and counted, and the
        pass goes on."""
        ok = True
        t0 = time.perf_counter()
        with self.tracer.span(f"pass:{wl.name}"):
            for name, call, sink in wl.ops(self):
                try:
                    self.results[name] = self.op(name, call, sink)
                    self.ledger.op(True)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.ledger.op(False)
                    ok = False
        return time.perf_counter() - t0, ok

    def check(self, name: str, fn) -> None:
        """One output check, outside any timed region."""
        run_check(self.ledger, name, fn)

    def probe(self, fn, reps: int = 1) -> float:
        """Median wall time of `fn` over `reps` calls (traced runs only)."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def median_span(self, name: str) -> float:
        d = self.tracer.durations(name)
        return statistics.median(d) if d else 0.0


def _duck():
    import duckdb

    return duckdb.connect()


class McAcceptance:
    """The flagship Monte-Carlo geometric-acceptance study."""

    name = "mc_acceptance"
    seed_effect = "none: datagen.rays is deterministic by the engine's cross-engine contract"
    n_rays = 500_000
    # the first pass fills the session memos and compiles the plans; the
    # second still ran ~40% slower than later ones (JIT)
    warm_passes = 2

    def prepare(self, work_dir: str, seed: int) -> None:
        pass

    def ops(self, b: Bench) -> list:
        from etl_sh_design_spark.plans import acceptance

        return [("acceptance", lambda: acceptance.acceptance_profile(b.spark, self.n_rays), collect)]

    def checks(self, b: Bench) -> None:
        from etl_sh_design_spark import registry
        from etl_sh_design_spark.plans import acceptance

        b.check(
            "acceptance.n_rays_sum",
            lambda: sum(r["n_rays"] for r in b.results["acceptance"]) == self.n_rays,
        )
        n = registry.N_RAYS
        b.check(
            "acceptance.oracle",
            lambda: rows_match(
                acceptance.acceptance_profile(b.spark, n).collect(),
                _duck().execute(acceptance.acceptance_profile_sql(n)).fetchall(),
            ),
        )

    def layers(self, b: Bench) -> dict:
        """Per-layer numbers: the plan/exec spans of the study, then each
        layer's public function alone on pre-materialized inputs of the
        study's size."""
        from pyspark.sql import functions as F

        from etl_sh_design_spark import datagen
        from etl_sh_design_spark.operators import containment
        from etl_sh_design_spark.operators.histogram import histogram1d
        from etl_sh_design_spark.plans import acceptance

        spark, n = b.spark, self.n_rays
        out = {
            "acceptance.plan_s": b.median_span("acceptance.plan"),
            "acceptance.exec_s": b.median_span("acceptance.exec"),
            "datagen.rays_s": b.probe(lambda: noop(datagen.rays(spark, n))),
        }
        rays = datagen.rays(spark, n).cache()
        sensors = datagen.sensors(spark).cache()
        # the study's P14 projection (plans.acceptance.ray_hits)
        proj = (
            rays.crossJoin(F.broadcast(datagen.layers(spark)))
            .select(
                "event_id",
                "layer",
                (F.col("z_mm") * F.col("tanth") * F.col("cphi")).alias("px"),
                (F.col("z_mm") * F.col("tanth") * F.col("sphi")).alias("py"),
            )
            .cache()
        )
        try:
            for df in (rays, sensors, proj):
                df.count()

            def join():
                return containment.binned_containment_join(
                    proj, sensors, cell=50.0, extra_keys=["layer"]
                )

            hits = []
            out["containment.join_s"] = b.probe(lambda: hits.append(join().count()))
            # equi-join candidates: the same operator with its exact
            # predicate swapped for TRUE, so the binning is the engine's own
            exact = containment.containment_predicate
            containment.containment_predicate = lambda px, py: F.lit(True)
            try:
                candidates = join().count()
            finally:
                containment.containment_predicate = exact
            out["containment.candidates_per_hit"] = candidates / hits[0]
            out["histogram.agg_s"] = b.probe(
                lambda: histogram1d(rays, "eta", acceptance.ETA_BINS).collect()
            )
        finally:
            for df in (proj, sensors, rays):
                df.unpersist()
        return out


class LayoutStudies:
    """The interactive loop of small layout studies."""

    name = "layout_studies"
    seed_effect = "orders the calls within each pass"
    warm_passes = 1

    def prepare(self, work_dir: str, seed: int) -> None:
        pass

    def ops(self, b: Bench) -> list:
        from etl_sh_design_spark.operators import partition
        from etl_sh_design_spark.plans import dee_faces, studies, tiling

        s = b.spark
        ops = [
            ("tiling.flavor_counts", lambda: tiling.flavor_counts(s), noop),
            ("tiling.supermodules", lambda: tiling.supermodules(s), noop),
            ("dee_faces.face_boards", lambda: dee_faces.face_boards(s), noop),
            ("dee_faces.face_flavor_counts", lambda: dee_faces.face_flavor_counts(s), noop),
            ("studies.bias_voltage", lambda: studies.bias_voltage_study(s), each(noop)),
            ("studies.occupancy", lambda: studies.occupancy_study(s), each(noop)),
            ("partition.lookup", lambda: partition.partition_lookup(s), noop),
        ]
        b.rng.shuffle(ops)
        return ops

    def checks(self, b: Bench) -> None:
        from etl_sh_design_spark.plans import studies, tiling

        b.check(
            "tiling.flavor_counts.oracle",
            lambda: rows_match(
                tiling.flavor_counts(b.spark).collect(),
                _duck().execute(tiling.FLAVOR_COUNTS_SQL).fetchall(),
            ),
        )

        def bv_within_budget():
            groups = studies.bias_voltage_study(b.spark)["bv_groups"].collect()
            return groups and all(g["sum_current"] <= 20.0 for g in groups)

        b.check("studies.bv_groups.sum_current_le_20", bv_within_budget)

    def layers(self, b: Bench) -> dict:
        from etl_sh_design_spark import datagen
        from etl_sh_design_spark.functions import physics
        from etl_sh_design_spark.operators import bv_grouping

        out = {
            f"{name}_s": b.median_span(name)
            for name in (
                "tiling.flavor_counts",
                "tiling.supermodules",
                "dee_faces.face_boards",
                "dee_faces.face_flavor_counts",
                "studies.bias_voltage",
                "studies.occupancy",
                "partition.lookup",
            )
        }
        out["layout.plan_s"] = statistics.median(b.tracer.pass_totals(f"pass:{self.name}", ".plan"))
        out["layout.exec_s"] = statistics.median(b.tracer.pass_totals(f"pass:{self.name}", ".exec"))
        sensors = datagen.sensors(b.spark).cache()
        modules = bv_grouping.modules_from_sensors(sensors).cache()
        try:
            sensors.count()
            modules.count()
            out["bv_grouping.greedy_s"] = b.probe(
                lambda: noop(bv_grouping.greedy_bv_groups(modules))
            )
            out["bv_grouping.config_search_s"] = b.probe(
                lambda: noop(bv_grouping.find_bv_config(modules))
            )
            with_r = sensors.selectExpr("*", "sqrt(x * x + y * y) AS r")
            out["physics.sensor_physics_s"] = b.probe(
                lambda: noop(
                    with_r.select(
                        physics.irradiation("r").alias("fluence"),
                        physics.sensor_current(physics.irradiation("r")).alias("current"),
                        physics.occupancy("r").alias("occupancy"),
                    )
                ),
                reps=3,
            )
        finally:
            modules.unpersist()
            sensors.unpersist()
        return out


class RelationalPass:
    """The registry's relational queries over seeded TPC-H-shaped tables."""

    name = "relational_pass"
    seed_effect = "generates the tables and orders the calls within each pass"
    # as for mc_acceptance: the second pass still paid for JIT compilation
    warm_passes = 2

    def prepare(self, work_dir: str, seed: int) -> None:
        import tpch

        self.data_dir = os.path.join(work_dir, "tables")
        tpch.write_tables(self.data_dir, seed)

    def ops(self, b: Bench) -> list:
        from etl_sh_design_spark import registry

        qs = registry.queries()
        ops = [
            (f"registry.{q}", (lambda fn=qs[q]: fn(b.spark, self.data_dir)), collect)
            for q in RELATIONAL_QUERIES
        ]
        b.rng.shuffle(ops)
        return ops

    def checks(self, b: Bench) -> None:
        from etl_sh_design_spark import registry

        con = _duck()
        for t in ("region", "nation", "customer", "orders", "lineitem"):
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        oracle = registry.oracle_sql()
        for q in RELATIONAL_QUERIES:
            b.check(
                f"registry.{q}.oracle",
                lambda q=q: rows_match(
                    b.results[f"registry.{q}"], con.execute(oracle[q]).fetchall()
                ),
            )

    def layers(self, b: Bench) -> dict:
        from etl_sh_design_spark import session
        from etl_sh_design_spark.operators.histogram import BinSpec, histogram2d

        out = {f"registry.{q}_s": b.median_span(f"registry.{q}") for q in RELATIONAL_QUERIES}
        # layout_studies is too costly to run as a benchmark workload of
        # its own (see README.md), so its layers are measured here: one
        # cold pass to fill the session memos, then one traced pass
        layout = LayoutStudies()
        b.tracer.active = False
        b.run_pass(layout)
        b.tracer.active = True
        b.run_pass(layout)
        b.tracer.active = False
        out.update(layout.layers(b))
        out["sources.parquet_scan_s"] = b.probe(
            lambda: noop(session.load_tables(b.spark, self.data_dir)["lineitem"]), reps=3
        )
        lineitem = b.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet")).cache()
        try:
            lineitem.count()
            qty, disc = BinSpec(10, 0.0, 50.0), BinSpec(10, 0.0, 0.1)
            out["histogram.agg_s"] = b.probe(
                lambda: histogram2d(lineitem, "l_quantity", qty, "l_discount", disc).collect(),
                reps=3,
            )
        finally:
            lineitem.unpersist()
        return out


WORKLOADS = {w.name: w for w in (McAcceptance, LayoutStudies, RelationalPass)}
