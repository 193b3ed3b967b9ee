"""Source-scanner parity against the reference repo's OWN shipped
artifacts (read-only): the four `data/Face N.txt` TSVs and the two
`layouts/database_*.yaml` databases. Synthetic fixtures can't prove
S1/S3 parity — the real files carry the quirks (trailing pad columns,
!!python/tuple YAML tags, an actual `#REF!` spreadsheet-error row)
that the scanners must absorb the way the reference's loaders do."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_sh_design_spark.sources.io import (
    read_face_tsv,
    read_yaml_layout,
    reference_dir,
    split_corrupt,
    write_yaml_layout,
)

_REF = reference_dir()

pytestmark = pytest.mark.skipif(
    not os.path.isdir(f"{_REF}/data"), reason="reference repo not mounted"
)

# (file, clean rows, corrupt rows) — Faces 2/4 each ship ONE row whose
# x/y are the literal spreadsheet error '#REF!' (module 754/same slot);
# PERMISSIVE capture must quarantine exactly that row, not drop it.
_FACES = [
    ("Face 1.txt", 902, 0),
    ("Face 2.txt", 893, 1),
    ("Face 3.txt", 902, 0),
    ("Face 4.txt", 893, 1),
]


@pytest.mark.parametrize("fname,n_clean,n_bad", _FACES)
def test_reference_face_tsv_scan(spark, fname, n_clean, n_bad):
    clean, bad = split_corrupt(read_face_tsv(spark, f"{_REF}/data/{fname}"))
    assert clean.count() == n_clean
    assert bad.count() == n_bad
    if n_bad:
        assert "#REF!" in bad.collect()[0][0]
    stats = clean.agg(
        F.countDistinct("z").alias("nz"),
        F.min("module").alias("lo"),
        F.max("module").alias("hi"),
        F.max(F.abs("x")).alias("maxx"),
        F.max(F.abs("y")).alias("maxy"),
    ).collect()[0]
    # one face = one plane; modules number 1..N contiguously except the
    # quarantined row; coordinates stay inside the half-disk envelope
    assert stats["nz"] == 1
    assert stats["lo"] == 1
    assert stats["hi"] == n_clean + n_bad
    assert stats["maxx"] < 1300 and stats["maxy"] < 1300


@pytest.mark.parametrize(
    "fname,n_rows",
    [("database_TDR.yaml", 8088), ("database_new.yaml", 7180)],
)
def test_reference_yaml_layout_scan(spark, fname, n_rows):
    df = read_yaml_layout(spark, f"{_REF}/layouts/{fname}")
    assert df.count() == n_rows
    assert set(df.columns) == {"layout", "disk", "face", "x", "y"}
    faces = {r[0] for r in df.select("face").distinct().collect()}
    assert {"front", "back"} <= faces


def test_reference_yaml_roundtrip(spark, tmp_path):
    """Read the real TDR database, write it through the S4 sink, read
    it back: identical (layout, disk, face, x, y) multiset."""
    src = read_yaml_layout(spark, f"{_REF}/layouts/database_TDR.yaml")
    out = f"{tmp_path}/tdr_roundtrip.yaml"
    write_yaml_layout(src, out)
    back = read_yaml_layout(spark, out)
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_export_pipeline_reproduces_shipped_database_exactly(spark, tmp_path):
    """Full export-pipeline parity (realistic_layout_export.ipynb
    cells 2-13): Face 1-4 TSVs -> S1 scan (quarantining the #REF!
    row) -> two sensor centers per module -> nested layout dict. The
    result must equal the shipped `database_new.yaml` EXACTLY,
    including the per-face center ORDER (file row order, upper sensor
    first) — the engine can regenerate the reference's own exported
    artifact bit-for-bit in content. Also roundtrips through the S4
    YAML sink."""
    from etl_sh_design_spark.sources.io import (
        export_layout_database,
        load_yaml_layout_rows,
    )

    face_paths = {
        ("disk1", "front"): f"{_REF}/data/Face 1.txt",
        ("disk1", "back"): f"{_REF}/data/Face 2.txt",
        ("disk2", "front"): f"{_REF}/data/Face 3.txt",
        ("disk2", "back"): f"{_REF}/data/Face 4.txt",
    }
    nested = export_layout_database(spark, face_paths, layout="new")
    shipped: dict = {}
    for lo, disk, face, x, y in load_yaml_layout_rows(
        f"{_REF}/layouts/database_new.yaml"
    ):
        shipped.setdefault(lo, {}).setdefault(disk, {}).setdefault(face, []).append(
            (x, y)
        )
    assert set(nested) == set(shipped) == {"new"}
    for disk in shipped["new"]:
        for face in shipped["new"][disk]:
            got = nested["new"][disk][face]
            want = shipped["new"][disk][face]
            assert got == want, (disk, face, len(got), len(want))
    # S4 sink roundtrip of the regenerated database
    import yaml

    out = tmp_path / "database_regenerated.yaml"
    flat = [
        ("new", d, f, x, y)
        for d, faces in nested["new"].items()
        for f, centers in faces.items()
        for x, y in centers
    ]
    df = spark.createDataFrame(
        flat, "layout STRING, disk STRING, face STRING, x DOUBLE, y DOUBLE"
    )
    from etl_sh_design_spark.sources.io import write_yaml_layout

    write_yaml_layout(df, str(out))
    back = yaml.safe_load(open(out))
    total = sum(len(v) for d in back["new"].values() for v in d.values())
    assert total == 7180
