"""Integer-partition operator (SURVEY.md §2.10 U2; reference
partition.py:3-67 semantics).

Decompose a row length n into readout-board flavors (default {7,6,3}):
maximize covered sum <= n, then minimize piece count, deterministic
largest-first ordering. The reference memoizes a DP; at engine level
the right shape is a LOOKUP DIMENSION TABLE (n is tiny, <= ~60) joined
broadcast — a UDF would serialize the same computation per row for no
reason (SURVEY.md §7.3).

`partition_lookup(spark, flavors=...)` builds the exploded (n,
ordinal, flavor, n_boards, covered) table; `PARTITION_LOOKUP_SQL` is
the identical literal (default flavors) for the DuckDB oracle.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

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
