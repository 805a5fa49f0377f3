"""Distributed exact heavy hitters: Misra-Gries candidates + recount.

The scale problem: "which tokens appear more than n/k times" over a
100 TB corpus. A plain ``groupBy(token).count()`` shuffles EVERY
distinct token (billions of shuffle keys for web-scale text) to
answer a question whose output is at most k-1 rows. The classic fix
is the Misra-Gries (frequent-items) summary, which is *mergeable*
(Agarwal et al., "Mergeable Summaries", PODS'12): a capacity-k
summary of any multiset under-counts any item by at most n/(k+1),
and merging summaries preserves that bound.

Two passes, both Spark-shaped:

1. **Candidate pass — zero shuffle of tokens.** ``mapInPandas``
   folds each partition's Arrow batches into one capacity-k MG
   summary (vectorized: per-batch exact ``value_counts`` merged with
   the running summary by the subtract-(k+1)-th-largest rule). Each
   partition emits at most k candidate rows plus one total-count row
   — so the only data leaving the executors is O(partitions × k),
   independent of corpus size or vocabulary.
2. **Recount pass — shuffle only the survivors.** Any item with
   global frequency > n/(k+1) must survive in at least one
   partition's summary (if f > Σ nᵢ/(k+1) then some partition has
   fᵢ > nᵢ/(k+1), where its MG estimate ≥ fᵢ - nᵢ/(k+1) > 0). The
   distinct candidate set (≤ partitions·k rows) broadcasts; a
   left-semi join prunes the token stream BEFORE its only shuffle,
   and the final filter ``count·k > n`` (integer arithmetic, no
   float threshold) makes the result EXACTLY equal to the naive
   ``GROUP BY ... HAVING COUNT(*)·k > n`` — which is the DuckDB
   oracle. The sketch only bounds the candidate set; it never
   touches the reported counts.

Deterministic end to end: the candidate set may vary with
partitioning, but the exact recount + threshold is partition-
invariant, so the emitted rows never change.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.cache import attach_cache

_SUMMARY_SCHEMA = "item bigint, est bigint"


def _mg_merge(summary: "pd.Series", batch_counts: "pd.Series", k: int) -> "pd.Series":
    """Merge two frequent-items summaries at capacity k: add counts,
    then subtract the (k+1)-th largest combined count from everything
    and keep the strictly-positive survivors (the mergeable-summaries
    rule; exact per-batch value_counts are themselves error-0
    summaries, so the folded error stays ≤ n_partition/(k+1))."""
    combined = summary.add(batch_counts, fill_value=0)
    if len(combined) > k:
        cut = combined.nlargest(k + 1).iloc[k]
        combined = combined - cut
        combined = combined[combined > 0]
    return combined


def mg_partition_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries over ``xxhash64(col)``:
    ≤ k ``(item_hash, est)`` rows per partition plus one
    ``(NULL, partition_row_count)`` total row. Pure map-side — no
    shuffle, driver never sees a token.

    Sketching the 8-byte hash instead of the raw string cuts the
    Arrow transfer to the Python worker ~5× for text tokens and makes
    the per-batch ``value_counts`` an int64 hash count. A hash
    collision only MERGES two items' counts — estimates can only
    grow, so the candidate set stays a superset of the true heavy
    hitters and the exact recount (which filters on the REAL column)
    is unaffected."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            vals = pdf["_hh"].dropna()
            total += len(vals)
            summary = _mg_merge(summary, vals.value_counts(), k)
        out = pd.DataFrame(
            {
                "item": summary.index.to_numpy("int64"),
                "est": summary.to_numpy("int64"),
            }
        )
        out = pd.concat(
            [out, pd.DataFrame({"item": [pd.NA], "est": [total]})], ignore_index=True
        )
        yield out

    hashed = df.filter(F.col(col).isNotNull()).select(
        F.xxhash64(F.col(col).cast("string")).alias("_hh")
    )
    return hashed.mapInPandas(fold, schema=_SUMMARY_SCHEMA)


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """Exact items with frequency strictly greater than n/k, where n =
    number of non-null rows of ``df[col]`` — computed with one
    map-only sketch pass and one candidate-pruned recount, never a
    full-vocabulary shuffle. Returns ``(col, freq)``."""
    summaries = mg_partition_summaries(df, col, k).persist()
    candidates = summaries.filter(F.col("item").isNotNull()).select(
        F.col("item").alias("_hh_cand")
    ).distinct()
    n_df = summaries.filter(F.col("item").isNull()).agg(
        F.sum("est").alias("n_total")
    )
    out = (
        df.filter(F.col(col).isNotNull())
        .join(
            F.broadcast(candidates),
            F.xxhash64(F.col(col).cast("string")) == F.col("_hh_cand"),
            "left_semi",
        )
        .groupBy(col)
        .agg(F.count("*").cast("bigint").alias("freq"))
        .crossJoin(F.broadcast(n_df))
        .filter(F.col("freq") * F.lit(k) > F.col("n_total"))
        .select(col, "freq")
    )
    # same lifecycle contract as operators/packing.py: the sketch pass is
    # persisted (it feeds both the candidate broadcast and the total);
    # release with release_cache(out) after the final action.
    return attach_cache(out, summaries)
