"""Mimic the driver's verify: for every registered query with an
oracle, run the Spark pipeline AND the DuckDB SQL on the same tables
(sf0.001 — small, fast) and compare row count, sorted column names, and
order-insensitive values. This is the local gate for the real t2 check
at sf0.01."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def _normalize(rows, colnames):
    """Sort columns by name, then rows; stringify floats at full repr
    (values are expected to be bit-identical or pre-rounded)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                # deliberately NOT normalizing -0.0: a sign-of-zero
                # difference between engines is a real hash hazard
                # (order-dependent cancellation) and must fail here
                vals.append(f"{v:.10g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


QUERY_NAMES = sorted(entrymod.queries().keys())


# ------------------------------------------------------------------
# Driver-faithful dtype gate. The round-4 driver reds (bv_totals,
# sequence_packing) were NOT value bugs: DuckDB widens an uncast
# integer sum() to HUGEINT, which the driver's pandas-path hasher
# renders as `7040.0` while Spark's bigint renders `7040`. fetchall()
# (used below for values) converts HUGEINT to a Python int, so the
# value comparison alone can never see this class. So we additionally
# compare the *type class* of every output column: DuckDB DESCRIBE
# (no execution) vs the Spark schema. Any class mismatch — or any
# DuckDB type outside the classes both engines render identically —
# is exactly the set of dtype differences the driver's hasher turns
# into a red row.
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}


def _duck_class(t: str) -> str:
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
        return "WIDE"  # pandas-renders as float/Decimal: always a hash hazard
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BOOLEAN":
        return "bool"
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST")):
        return "nested"
    return "str"


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "WIDE"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        return "nested"
    return "str"


def _assert_dtype_parity(name, sdf, duck, sql):
    desc = duck.execute("DESCRIBE " + sql).fetchall()
    duck_types = {r[0]: r[1] for r in desc}
    spark_types = {f.name: f.dataType for f in sdf.schema.fields}
    for col in sorted(duck_types):
        dc = _duck_class(duck_types[col])
        assert dc != "WIDE", (
            f"{name}.{col}: oracle type {duck_types[col]} widens past BIGINT "
            "(DuckDB HUGEINT/DECIMAL hashes as float on the driver) — add an "
            "explicit CAST in the oracle SQL"
        )
        if col in spark_types:
            sc = _spark_class(spark_types[col])
            assert sc == dc, (
                f"{name}.{col}: dtype class mismatch — spark "
                f"{spark_types[col].simpleString()} ({sc}) vs oracle "
                f"{duck_types[col]} ({dc}); the driver hasher renders these "
                "differently even when values are equal"
            )


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_SMOKE)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        # rows-only check, like the driver's weaker path
        assert len(spark_rows) >= 0
        return

    _assert_dtype_parity(name, sdf, duck, sql)

    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    ndiff = sum(1 for x, y in zip(a, b) if x != y)
    assert ndiff == 0, f"{name}: {ndiff}/{len(a)} rows differ; first: " + str(
        next(((x, y) for x, y in zip(a, b) if x != y), None)
    )


def test_dtype_gate_catches_uncast_integer_sum(duck):
    """Regression for the round-4 driver reds (bv_totals,
    sequence_packing): an uncast integer sum() widens to HUGEINT in
    DuckDB and must register as a hash hazard here, even though
    fetchall() erases it from the value comparison."""
    desc = duck.execute(
        "DESCRIBE SELECT sum(x) AS s FROM (SELECT 1 AS x) t"
    ).fetchall()
    assert _duck_class(desc[0][1]) == "WIDE"
    desc = duck.execute(
        "DESCRIBE SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT 1 AS x) t"
    ).fetchall()
    assert _duck_class(desc[0][1]) == "int"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert not math.isnan(rows[0]["eff"])


def test_driver_window_is_priority_list():
    """Regression guard: the external driver verifies the FIRST 50
    entries of queries() — that prefix must stay exactly the curated
    rotation list (a silent reorder would quietly un-verify queries).
    Names the reference-data gate withheld on this host drop out; the
    rest keep their order."""
    from etl_sh_design_spark.registry import _DRIVER_WINDOW_PRIORITY, withheld

    names = list(entrymod.queries())
    gone = set(withheld())
    expected = [n for n in _DRIVER_WINDOW_PRIORITY if n not in gone]
    assert names[: len(expected)] == expected
    assert len(_DRIVER_WINDOW_PRIORITY) == 50
