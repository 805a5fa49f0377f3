"""Right-sized persistence for reused intermediates.

``persist()`` freezes whatever partitioning the materializing plan
happened to produce — and AQE's runtime coalescing does NOT apply to
reads of an InMemoryRelation. A small intermediate (a derived panel, a
cell table, an influence-function table) materialized from a
32-partition shuffle is then re-read as 32 near-empty partitions by
EVERY downstream aggregation pass, so each pass pays full task-launch
overhead for no parallelism benefit. The estimator runs a fixed dozen
such passes; on a loaded host that fixed overhead dominates its wall
time.

``persist_rightsized`` measures the materialized row count (the count
doubles as the materializing action, which callers need anyway) and,
only when the data is small, re-caches it coalesced to
``ceil(rows / target_rows)`` partitions. At scale the condition never
fires — a 10⁹-row table keeps every partition and the helper is a
plain persist+count — so this is purely an adaptive floor on task
granularity, not a parallelism cap. ``coalesce`` on a cached frame
reads the existing cache (no shuffle), and the oversized parent cache
is dropped after the compact copy materializes.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Floor on task granularity, NOT a parallelism target: a cached
# partition below ~64k narrow numeric rows (a few MB) costs more in
# task launch than it buys in parallelism. The helper caps the result
# at the existing partition count, so a table big enough to fill every
# partition past this floor keeps ALL its parallelism — e.g. a 4M-row
# panel stays at 32 partitions on local[32], while a 9k-row derived
# panel compacts to 1.
TARGET_ROWS_PER_PARTITION = 65_536


def _shuffle_partitions(spark, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, degrading to the
    stock default on non-numeric values (managed platforms set 'auto')
    — this sits on the hot estimator cache path, where a config-format
    surprise must tune conservatively, never crash."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


def persist_rightsized(
    df: DataFrame,
    target_rows: int = TARGET_ROWS_PER_PARTITION,
    known_rows: int | None = None,
    measure: bool = False,
) -> tuple[DataFrame, int | None]:
    """Persist ``df``, compacting the cache when its size doesn't
    justify its partition count. Three regimes:

    - ``known_rows`` given (an exact count or a driver-side upper
      bound the caller already holds): the partition count is decided
      BEFORE persisting and applied as a plain ``coalesce`` on the
      plan — ZERO extra passes over the data at any scale, lazy
      materialization. An overestimated bound merely compacts less
      (safe). This is the path every hot estimator site uses; at
      100 TB an extra materializing pass per cache would erase the
      design's fixed-pass-count property.
    - ``measure=True``: materialize via ``count()`` and compact from
      the already-cached parent. Costs one cache-read pass — only for
      sites where nothing is known driver-side and the consumer runs
      MANY subsequent passes over an expensive lineage (e.g. label
      propagation over a pair graph).
    - neither: plain lazy ``persist()`` — identical to stock Spark.

    Returns ``(cached_df, row_count_or_bound_or_None)``.
    """
    if known_rows is not None:
        want = max(1, math.ceil(known_rows / max(1, target_rows)))
        shuffle_parts = _shuffle_partitions(df.sparkSession)
        if want < shuffle_parts:
            df = df.coalesce(want)
        # lazy: the caller's first action materializes the cache with
        # the compact partitioning — no dedicated pass here
        return df.persist(), known_rows
    if not measure:
        return df.persist(), None
    df = df.persist()
    n = df.count()
    parts = df.rdd.getNumPartitions()
    want = max(1, min(parts, math.ceil(n / max(1, target_rows))))
    if want < parts:
        compact = df.coalesce(want).persist()
        compact.count()  # materialize from the parent cache, then drop it
        df.unpersist()
        return compact, n
    return df, n




# ---------------------------------------------------------------------------
# Operator cache lifecycle (shared by packing / dedup two-phase operators)
# ---------------------------------------------------------------------------


def attach_cache(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Record the persisted intermediates ``result`` depends on, so the
    caller can release them after its final action via
    :func:`release_cache` (or :func:`cache_scope`). Appends — an
    operator composing another attaching operator (e.g. a query
    deriving its result from a dedup operator's output, via
    :func:`carry_cache`) accumulates every persist in the chain on the
    outermost result. Every operator attaches through this function, so
    the attachment is always a list. One-shot query runs may skip
    release and let session teardown reclaim; long-lived service loops
    must release or each call leaks executor storage memory."""
    existing = list(getattr(result, "_two_phase_cache", None) or [])
    existing.extend(cached)
    result._two_phase_cache = existing  # type: ignore[attr-defined]
    return result


def carry_cache(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Move the persisted-intermediate attachments from ``sources`` onto
    ``result``. Any DataFrame transformation (``select``, ``join``,
    ``groupBy``…) returns a NEW Python object, so an attachment made on
    an intermediate frame is unreachable from the frame the caller
    ultimately holds — the persist then outlives the query in a shared
    long-lived session. Queries that derive their result from an
    attaching operator's output must carry the attachment forward so
    ``release_cache(result)`` after the final action reclaims it."""
    for s in sources:
        attach_cache(result, *(getattr(s, "_two_phase_cache", None) or []))
        s._two_phase_cache = []  # type: ignore[attr-defined]
    return result


def release_cache(df: DataFrame) -> None:
    """Unpersist every intermediate an attaching operator materialized
    for ``df``. Call only after the final action on ``df``: two-phase
    operators sample range boundaries per execution, so recomputing a
    released partitioning would no longer match its broadcast bases."""
    cached = getattr(df, "_two_phase_cache", None)
    if not cached:
        return
    for c in cached:
        c.unpersist()
    df._two_phase_cache = []  # type: ignore[attr-defined]


@contextmanager
def cache_scope(df: DataFrame):
    """``with cache_scope(op(...)) as out: out.write...`` — guarantees
    the operator's persisted intermediates are released on exit, for
    loops that invoke attaching operators repeatedly on one session."""
    try:
        yield df
    finally:
        release_cache(df)
