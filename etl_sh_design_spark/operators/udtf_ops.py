"""Python UDTF surface (§2.10 extension — U5).

One real `@udtf` (table-valued function, rows-out > rows-in, usable in
SQL `LATERAL`) so the engine exercises the modern PySpark UDTF API.
The function itself — fixed-size token chunking — is deterministic, so
the query built on it is DuckDB-oracle-checkable like everything else.

Scale note: UDTFs evaluate row-at-a-time in a Python worker — this is
the SLOW path, kept for API parity and for logic that genuinely needs
per-row generators. The engine's production equivalents are
expression-level chunking (registry_dedup passages: pure codegen) and
Arrow-batched `mapInPandas` (multimodal.frame_sample). The plan shape
(scan -> Generate-like lateral -> downstream) is identical either way,
so swapping implementations doesn't change the pipeline.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_pos int, chunk string, n_tokens int")
class ChunkTokens:
    """Split whitespace tokens into consecutive `n`-token chunks."""

    def eval(self, text: str, n: int):
        if text is None:
            return
        toks = [t for t in text.split() if t]
        for i in range(0, len(toks), n):
            piece = toks[i : i + n]
            yield i // n, " ".join(piece), len(piece)


def register(spark) -> None:
    spark.udtf.register("chunk_tokens", ChunkTokens)
