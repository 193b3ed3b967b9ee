"""Session-scoped memo of shared intermediates.

Several registry families rebuild the same small intermediates over and
over within one session: the dee slot tables and face plans, the
synthetic tiling chain, the multi-variant ray hits, the PQ/IVF-PQ
codebooks and ADC tables, the GEMM probe panels, the dedup signatures
and the preference comparison stream. The driver tables' parquet
schemas (``table_schema``, keyed on each table's files, so a rewrite
re-infers) spare every read its footer-probe job, and the live k-means
centroid broadcast (``gemm_centroids``) is swapped, not accumulated.
This module is their one owner.

Policy (the same for every family):

- An entry is keyed on ``(family, key)`` and lives for one Spark
  application. The application is read from
  ``spark.sparkContext.applicationId``, NOT ``id(spark)``: a stopped
  session's CPython address can be reused by a new SparkSession, which
  would hand out DataFrames bound to a dead context. On every access by
  a different application all entries are dropped without release —
  their context, and with it their storage, is gone.
- Builds are lazy: ``build`` returns plans (lazily checkpointed or
  persisted), broadcasts or driver-side tables; a build that raises
  stores nothing.
- Memoizing is a pure plan cache. Every build is deterministic, so a
  hit returns what a rebuild would compute; only how often the shared
  prefix is computed per session changes. Reusing the built plan also
  reuses its expression IDs, so the generated code text stays stable
  and the Janino compile cache hits — for dimension-sized pipelines
  compilation, not data, is the cost. The one exception is
  ``gemm_centroids``: a slot its owner overwrites, holding only which
  broadcast to unpersist next.
- ``clear(family)`` drops a family and releases what it held: persisted
  DataFrames are unpersisted and broadcasts destroyed. Lazy
  ``localCheckpoint`` results are only dropped: PySpark has no handle
  to a checkpoint's blocks, and force-unpersisting every persistent
  RDD would also destroy other families' still-live checkpoints, whose
  truncated lineage cannot recompute them.
"""

from __future__ import annotations

import threading
from collections import Counter

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

# re-entrant: one family's build may read another family's entry
_lock = threading.RLock()
_app: str | None = None
_entries: dict[tuple, object] = {}
_hits: Counter = Counter()
_misses: Counter = Counter()


def get(spark, family: str, key, build):
    """The memoized ``build()`` for ``(family, key)`` in ``spark``'s
    application; builds and stores it on a miss."""
    global _app
    app = spark.sparkContext.applicationId
    with _lock:
        if app != _app:
            _entries.clear()
            _app = app
        full = (family, key)
        if full in _entries:
            _hits[family] += 1
            return _entries[full]
        _misses[family] += 1
        value = build()
        _entries[full] = value
        return value


def plan_key(df: DataFrame) -> int:
    """The analyzed plan's semantic hash: equal for re-constructions of
    the same query, whatever their expression IDs."""
    return df._jdf.queryExecution().analyzed().semanticHash()


def clear(family: str) -> None:
    """Drop every entry of ``family``, releasing what it held."""
    with _lock:
        dropped = [_entries.pop(k) for k in [k for k in _entries if k[0] == family]]
    for value in dropped:
        _release(value)


def _release(value) -> None:
    if isinstance(value, DataFrame):
        if value.storageLevel != StorageLevel.NONE:
            value.unpersist()
    elif isinstance(value, Broadcast):
        value.destroy()
    elif isinstance(value, (list, tuple)):
        for v in value:
            _release(v)
    elif isinstance(value, dict):
        for v in value.values():
            _release(v)


def stats() -> dict[str, dict[str, int]]:
    """Per family: hits and misses since import, and live entries."""
    with _lock:
        live = Counter(family for family, _ in _entries)
    return {
        f: {"hits": _hits[f], "misses": _misses[f], "entries": live[f]}
        for f in sorted(set(_hits) | set(_misses) | set(live))
    }
