"""Real-layout and multi-variant acceptance vs their DuckDB twins on a
synthetic YAML layout database.

The registry runs these plans only against the shipped reference
layouts; this test writes a small layout database of the same nested
shape (layouts `new` / `TDR`, disks `disk1` / `disk2`, faces `front` /
`back`) and checks each Spark function against its `*_sql` oracle at
the driver's 10-digit compare."""

from __future__ import annotations

import duckdb
import pytest

from etl_sh_design_spark import datagen
from etl_sh_design_spark.plans import acceptance
from etl_sh_design_spark.registry_detector import variant_corner_sql
from etl_sh_design_spark.sources.io import write_yaml_layout
from tests.test_driver_contract import _normalize

N_RAYS = 4000


def _centers():
    """Sensor centers on a 60 x 30 mm grid over the ray footprint
    (x >= 0, 300 < r < 1250 mm), shifted per face and per layout so
    the faces overlap partially and rays see every n from 0 to 4."""
    rows = []
    for li, layout in enumerate(["new", "TDR"]):
        for fi, (disk, face) in enumerate(
            [(d, f) for d in ("disk1", "disk2") for f in ("front", "back")]
        ):
            x0, y0 = 3.0 + 11.0 * fi + 17.0 * li, -1260.0 + 7.0 * fi + 5.0 * li
            for i in range(22):
                for j in range(85):
                    x, y = x0 + 60.0 * i, y0 + 30.0 * j
                    if 300.0 < (x * x + y * y) ** 0.5 < 1250.0:
                        rows.append((layout, disk, face, x, y))
    return rows


@pytest.fixture(scope="module")
def yaml_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layouts") / "database_synth.yaml")
    write_yaml_layout(
        spark.createDataFrame(
            _centers(), "layout STRING, disk STRING, face STRING, x DOUBLE, y DOUBLE"
        ),
        path,
    )
    return path


def _assert_matches(df, sql):
    con = duckdb.connect()
    cur = con.execute(sql)
    want = _normalize(cur.fetchall(), [d[0] for d in cur.description])
    got = _normalize(df.collect(), df.columns)
    assert got == want


@pytest.mark.parametrize("layout", ["new", "TDR"])
def test_real_acceptance_profile_matches_oracle(spark, yaml_path, layout):
    _assert_matches(
        acceptance.real_acceptance_profile(spark, N_RAYS, yaml_path, layout),
        acceptance.real_acceptance_profile_sql(N_RAYS, yaml_path, layout),
    )


@pytest.mark.parametrize("layout", ["new", "TDR"])
def test_real_hit_count_histogram_matches_oracle(spark, yaml_path, layout):
    df = acceptance.real_hit_count_histogram(spark, N_RAYS, yaml_path, layout)
    _assert_matches(
        df, acceptance.real_hit_count_histogram_sql(N_RAYS, yaml_path, layout)
    )
    # the layout is not degenerate: every multiplicity occurs
    assert {r.n for r in df.collect() if r.cnt > 0} == {0, 1, 2, 3, 4}


def _variants(spark, yaml_path):
    return {
        "new": acceptance.real_layout_sensors(spark, yaml_path, "new"),
        "TDR": acceptance.real_layout_sensors(spark, yaml_path, "TDR"),
        "synthetic": datagen.sensors(spark).select("layer", "ax1", "ax2", "ay1", "ay2"),
    }


def _variant_hits(spark, variants):
    return acceptance.variant_per_ray(spark, N_RAYS, variants)


def _variant_sql(yaml_path):
    return {
        "new": variant_corner_sql(yaml_path, "new"),
        "TDR": variant_corner_sql(yaml_path, "TDR"),
        "synthetic": f"SELECT layer, ax1, ax2, ay1, ay2 FROM ({datagen.SENSORS_SQL})",
    }


def test_multi_variant_acceptance_matches_oracle(spark, yaml_path):
    variants = _variants(spark, yaml_path)
    _assert_matches(
        acceptance.multi_variant_acceptance(_variant_hits(spark, variants)),
        acceptance.multi_variant_acceptance_sql(N_RAYS, _variant_sql(yaml_path)),
    )


def test_multi_variant_hit_histogram_matches_oracle(spark, yaml_path):
    variants = _variants(spark, yaml_path)
    _assert_matches(
        acceptance.multi_variant_hit_histogram(_variant_hits(spark, variants)),
        acceptance.multi_variant_hit_histogram_sql(N_RAYS, _variant_sql(yaml_path)),
    )


def test_real_acceptance_profile_pins_broadcast(spark, yaml_path):
    """The real corner table comes from createDataFrame, which has no
    Catalyst stats: unpinned, each layer's lookup would plan a
    sort-merge join that shuffles the rays. Pinned broadcast, the
    eta-bin aggregation is the only exchange."""
    df = acceptance.real_acceptance_profile(spark, N_RAYS, yaml_path, "new")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
