"""Integer-partition operator (SURVEY.md §2.10 U2; reference
partition.py:3-67 semantics).

Decompose a row length n into readout-board flavors (default {7,6,3}):
maximize covered sum <= n, then minimize piece count, deterministic
largest-first ordering. The reference memoizes a DP; at engine level
n is tiny (<= MAX_N), so the plans read a LITERAL of every partition —
no join, no broadcast job, and no UDF serializing the same computation
per row (SURVEY.md §7.3).

`partition_of(n, flavors=...)` is that lookup as one Column;
`partition_lookup(spark, flavors=...)` is the exploded (n, ordinal,
flavor, n_boards, covered) table; `PARTITION_LOOKUP_SQL` is the
identical literal (default flavors) for the DuckDB oracle.
"""

from __future__ import annotations

import json
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_N = 60
DEFAULT_FLAVORS = (7, 6, 3)


@lru_cache(maxsize=None)
def best_partition(n: int, flavors: tuple[int, ...] = DEFAULT_FLAVORS) -> tuple[int, ...]:
    """Best flavor multiset for n: max sum <= n, then fewest pieces,
    then lexicographically largest (largest-first greedy tie-break)."""
    if n <= 0:
        return ()
    best: tuple[int, ...] | None = None

    def key(p: tuple[int, ...]):
        return (sum(p), -len(p), p)

    for f in sorted(flavors, reverse=True):
        if f <= n:
            cand = (f,) + best_partition(n - f, flavors)
            if best is None or key(cand) > key(best):
                best = cand
    return best or ()


def partition_rows(max_n: int = MAX_N, flavors: tuple[int, ...] = DEFAULT_FLAVORS):
    """Exploded lookup rows: (n, ordinal, flavor, n_boards, covered)."""
    rows = []
    for n in range(1, max_n + 1):
        p = best_partition(n, flavors)
        for i, f in enumerate(p):
            rows.append((n, i + 1, f, len(p), sum(p)))
    return rows


def partition_of(n: str | Column, flavors: tuple[int, ...] = DEFAULT_FLAVORS) -> Column:
    """best_partition(n, flavors) for the integer column `n`, as
    struct(covered, n_boards, boards: array<struct(ordinal, flavor,
    offset)>), `offset` being the slots of the boards before it; NULL
    for n outside 0..MAX_N. Read a board with `get(boards, i)`, never
    `boards[i]`: n = 1 or 2 has none, and ANSI mode raises on the index."""
    return F.get(F.expr(_partitions_sql(tuple(flavors))), n)


_PARTITIONS_T = (
    "array<struct<covered:int,n_boards:int,boards:array<struct<ordinal:int,flavor:int,offset:int>>>>"
)


@lru_cache(maxsize=None)
def _partitions_sql(flavors: tuple[int, ...]) -> str:
    """Every partition 0..MAX_N as ONE `from_json` literal: it folds to
    the same constant as an array(named_struct…) tree, but the analyzer
    reads one node, not hundreds (~13 vs ~80 ms per plan built on it)."""
    parts = []
    for p in (best_partition(n, flavors) for n in range(MAX_N + 1)):
        boards = [{"ordinal": i + 1, "flavor": f, "offset": sum(p[:i])} for i, f in enumerate(p)]
        parts.append({"covered": sum(p), "n_boards": len(p), "boards": boards})
    return f"from_json('{json.dumps(parts)}', '{_PARTITIONS_T}')"


def partition_lookup(
    spark: SparkSession, flavors: tuple[int, ...] = DEFAULT_FLAVORS
) -> DataFrame:
    return spark.createDataFrame(
        partition_rows(MAX_N, flavors),
        "n INT, ordinal INT, flavor INT, n_boards INT, covered INT",
    )


def partition_lookup_sql(max_n: int = MAX_N) -> str:
    vals = ",".join(f"({n},{o},{f},{b},{c})" for n, o, f, b, c in partition_rows(max_n))
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS partition_lookup(n, ordinal, flavor, n_boards, covered)"
    )


PARTITION_LOOKUP_SQL = partition_lookup_sql()
