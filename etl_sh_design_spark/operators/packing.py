"""Sequence packing — greedy token-budget chunking for training-data
pipelines.

LLM pretraining consumes fixed-length sequences; the packing step
groups consecutive documents into chunks whose token total stays under
a budget, opening a new chunk when the next document would overflow.
The greedy reset makes it a stateful scan (same operator class as the
W4 BV grouping, `operators/bv_grouping.py`): a SQL window cannot
express a running sum that resets on a data-dependent threshold. The
W4 scan folds each small (layer, vendor) group as one array; a packing
shard is unbounded, so it streams through pandas instead.

Execution contract for 100 TB:
- Packing is embarrassingly parallel across SHARDS: global order is
  not a requirement of the semantics (any deterministic shard->order
  works), so docs are hashed into `n_shards` independent streams and
  each shard packs sequentially inside `applyInPandas`. Shard count
  scales with the cluster (one task per shard); per-task state is one
  running counter, memory O(batch).
- Everything heavy (tokenization) happens BEFORE the pandas island,
  in whole-stage-codegen land; the island only sees (shard, doc_id,
  n_tokens) — three numeric columns, Arrow-batched.
- The DuckDB oracle walks the same per-shard scan with a recursive
  CTE (one frontier row per shard per step).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "shard int, chunk_id bigint, n_docs bigint, sum_tokens bigint"


def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
    """One shard's greedy scan in `doc_id` order, under the frame's
    `budget` column. Module-level and type-hinted, so it pickles by
    reference (workers import this module, which is why the session
    puts the package root on their path) and Spark reads its eval type
    from the hints."""
    shard = int(pdf["shard"].iloc[0])
    budget = int(pdf["budget"].iloc[0])
    pdf = pdf.sort_values("doc_id")
    rows = []
    chunk, run, n = -1, 0, 0
    for tok in pdf["n_tokens"]:
        tok = int(tok)
        if chunk < 0 or run + tok > budget:
            if n > 0:
                rows.append((shard, chunk, n, run))
            chunk += 1
            run, n = 0, 0
        run += tok
        n += 1
    if n > 0:
        rows.append((shard, chunk, n, run))
    return pd.DataFrame(rows, columns=["shard", "chunk_id", "n_docs", "sum_tokens"])


def greedy_pack(
    docs_with_tokens: DataFrame,
    budget: int = 512,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Pack documents into token-budget chunks, greedy in `id_col`
    order within `id_col % n_shards` shards. A document larger than
    the budget gets a chunk of its own (never split, never dropped).

    Returns one row per chunk: (shard, chunk_id, n_docs, sum_tokens).
    """
    sharded = docs_with_tokens.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).alias("n_tokens"),
        F.lit(budget).alias("budget"),
    )
    return sharded.groupBy("shard").applyInPandas(_pack, PACK_SCHEMA)


def pack_oracle_sql(
    docs_cte: str,
    budget: int = 512,
    n_shards: int = 32,
) -> str:
    """Recursive-CTE DuckDB twin of `greedy_pack`: `docs_cte` must
    yield (doc_id, n_tokens). The scan advances one rn at a time with
    one frontier row per shard."""
    return f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT CAST(doc_id % {n_shards} AS INT) AS shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY doc_id % {n_shards} ORDER BY doc_id) AS rn
  FROM ({docs_cte})
),
scan AS (
  SELECT shard, rn, n_tokens, CAST(0 AS BIGINT) AS chunk_id,
         n_tokens AS run_tokens
  FROM d WHERE rn = 1
  UNION ALL
  SELECT n.shard, n.rn, n.n_tokens,
         CASE WHEN s.run_tokens + n.n_tokens > {budget}
              THEN s.chunk_id + 1 ELSE s.chunk_id END,
         CASE WHEN s.run_tokens + n.n_tokens > {budget}
              THEN n.n_tokens ELSE s.run_tokens + n.n_tokens END
  FROM scan s JOIN d n ON n.shard = s.shard AND n.rn = s.rn + 1
),
chunks AS (
  SELECT shard, chunk_id, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
  FROM scan GROUP BY 1, 2
)
"""
