"""Deduplication operators for large text corpora.

Four tiers, all shuffle-planned for 100 TB corpora:

* exact        — hash-groupBy on a normalized fingerprint. One shuffle
                 on a short fixed-width key (md5), map-side partial agg.
* shingle/Jaccard — postings-list self-join on word n-gram shingles
                 (Jaccard, containment; delta ⋈ corpus for incremental
                 dedup): shuffle keyed by shingle, then by pair. Exact,
                 SQL-checkable.
* MinHash+LSH  — signature → band-bucket join; candidate generation is
                 linear in corpus size, verification only on bucket
                 collisions. Built-ins only (xxhash64 hash family).
* SimHash      — 64-bit fingerprint via per-token hashes; near-dup =
                 identical fingerprint (or banded prefix).

Each shared step is written once: ``_shingles`` is the one shingle
expression (``shingle_table`` explodes it, ``_shingle_arrays`` keeps it
as a per-doc array); ``_drop_hot`` is the ``max_df`` cap; ``_verify`` is
the one exact-Jaccard verifier of LSH candidates, here and in
``mllib_lsh``; ``_score_pairs`` is the tail every pair operator ends in
(pairs ⋈ both sides' sizes → score → threshold → round → attach_cache).

Near-dup groups (``components``) are labelled local-then-global: one
``mapInArrow`` solves each run of at most ``TARGET_ROWS_PER_PARTITION``
cached edges in NumPy (root hooking + pointer jumping), and only labels
that meet at a node shared by two runs go through min-label
propagation, so a pair list that fits one run costs one pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.cache import attach_cache

from csdid_pyspark_spark.functions.text import normalized_fingerprint


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: survivor id (min id) and
    duplicate count. Single hash shuffle on the md5 fingerprint —
    partial aggregation happens map-side, so the shuffle carries one
    row per distinct fingerprint per task, not per document."""
    return (
        df.select(F.col(id_col), normalized_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").cast("bigint").alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated corpus (survivor rows only)."""
    survivors = exact_dedup_groups(df, text_col, id_col).select(
        F.col("survivor_id").alias(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    carry_cols: list[str] | None = None,
    check_unique_ids: bool = False,
    widen: bool = True,
) -> DataFrame:
    """Distinct (id, shingle) postings: word n-gram shingles of the
    whitespace-tokenized text. 0-based Spark array subscripts; docs
    shorter than n tokens produce no shingles. ``carry_cols`` ride
    along unchanged (e.g. a blocking key).

    CONTRACT: ``df`` must have EXACTLY ONE ROW per ``id_col``. Dedup
    happens MAP-SIDE via ``array_distinct`` before the explode —
    duplicate (id, shingle) rows can only come from repeats WITHIN one
    document when that holds, so a per-doc array dedup is exact and
    the global ``.distinct()`` shuffle every downstream operator used
    to pay (one full postings exchange per dedup call) is gone. A
    duplicate-id input does NOT error: it yields duplicate postings and
    silently inflated Jaccard set sizes. Every in-repo caller feeds one
    row per id; external callers who can't guarantee it should pass
    ``check_unique_ids=True`` (one cheap aggregate that raises on the
    first duplicate — debug tool, not a production default) or
    pre-dedup with ``exact_dedup``."""
    if check_unique_ids:
        dup = (
            df.groupBy(id_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"shingle_table requires one row per {id_col!r}; id "
                f"{dup[0][0]!r} appears {dup[0][1]} times. Deduplicate ids "
                f"first (e.g. exact_dedup) — duplicate ids would silently "
                f"inflate shingle-set sizes and every similarity built on them."
            )
    carry = list(carry_cols or [])
    # the shingle explode fans out ~tokens-per-doc rows per input row
    # and pipelines into this stage: widen a physically small input to
    # core count first (no-op at real scale — fanout.py). Callers that
    # join TWO shingle tables pass widen=False on the smaller side:
    # the downstream shingle-keyed shuffle re-spreads both sides
    # anyway, so paying the repartition twice buys nothing
    # (dedup_incremental's +39% round-6 regression).
    toks, shingles = _shingles(df, text_col, id_col, n, carry, widen)
    return toks.select(id_col, *carry, F.explode(shingles).alias("shingle"))


def _shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    widen: bool = True,
) -> DataFrame:
    """(id, sh_arr): the per-doc DISTINCT shingle ARRAY — the map-side
    half of ``shingle_table``, exposed so signature computations and
    the verifier can run as NARROW array expressions over it (array_min
    over a transform, array_intersect) instead of paying the postings
    explode + a grouped aggregation back to one row per doc. Same
    shingle set, same contract (one row per id; docs shorter than n
    tokens get an empty array rather than disappearing)."""
    toks, shingles = _shingles(df, text_col, id_col, n, [], widen)
    return toks.select(id_col, shingles.alias("sh_arr"))


def _shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, carry: list[str], widen: bool
) -> tuple[DataFrame, Column]:
    """The one shingle expression: ``df`` tokenized to (id, *carry,
    tokens), widened when asked, and the Column of each doc's distinct
    word n-grams over it (0-based subscripts; empty below n tokens).
    ``shingle_table`` explodes the Column and ``_shingle_arrays``
    aliases it. They share the Column, not a frame: an explode of a
    shared ``_shingle_arrays`` frame lets Spark infer a
    ``size(sh_arr) > 0`` filter and push it below the widening
    exchange, which computes every array twice."""
    from csdid_pyspark_spark.operators.fanout import widen_fanout

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df.select(F.col(id_col), *[F.col(c) for c in carry], toks.alias("tokens"))
    if widen:
        out = widen_fanout(out)
    parts = " || ' ' || ".join(f"tokens[i + {j}]" for j in range(n))
    return out, F.expr(
        f"CASE WHEN size(tokens) >= {n} "
        f"THEN array_distinct(transform(sequence(0, size(tokens) - {n}), i -> {parts})) "
        f"ELSE array() END"
    )


# Above this corpus size an UNCAPPED postings self-join (max_df=None,
# no blocking) is a known quadratic foot-gun: one boilerplate shingle
# shared by k docs contributes k² join rows. The exact variant exists
# as the verification baseline for the capped/blocked/LSH paths, so it
# refuses to run past this size instead of melting the cluster.
EXACT_PAIRS_LIMIT = 100_000


def _guard_exact_allpairs(df: DataFrame, limit: int | None, what: str, alternative: str) -> None:
    """Raise when an exact all-pairs baseline is pointed at a corpus too
    large for its quadratic candidate space. ``limit=None`` disables
    (caller explicitly accepts the cost). The count is one cheap
    metadata-backed action at guard time — nothing at 100 TB ever
    reaches it, because the guard fires first."""
    if limit is None:
        return
    n = df.count()
    if n > limit:
        raise ValueError(
            f"{what} is an exact all-pairs baseline (quadratic candidate space) "
            f"and refuses corpora above exact_limit={limit} rows (got {n}). "
            f"Use {alternative} for production-scale runs, or pass "
            f"exact_limit=None to accept the cost."
        )


def _hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Shingles whose document frequency in the postings ``sh`` exceeds
    ``max_df``: the boilerplate that would fan a postings join out
    quadratically."""
    counts = sh.groupBy("shingle").agg(F.count("*").alias("df_sh"))
    return counts.filter(F.col("df_sh") > max_df).select("shingle")


def _drop_hot(sh: DataFrame, max_df: int | None, df_of: DataFrame | None = None) -> DataFrame:
    """The df cap: ``sh`` minus the hot shingles of ``df_of`` (default
    ``sh`` itself), as a broadcast anti-join. ``max_df=None`` = no cap."""
    if max_df is None:
        return sh
    hot = _hot_shingles(sh if df_of is None else df_of, max_df)
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _jaccard(n_inter: Column, n_a: Column, n_b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| from the set sizes."""
    return n_inter / (n_a + n_b - n_inter)


def _score_pairs(
    pairs: DataFrame, keys: tuple[str, str], side_a: DataFrame, side_b: DataFrame, name: str,
    score: Column, threshold: float, cached: list[DataFrame], extra: tuple[Column, ...] = (),
) -> DataFrame:
    """The scoring tail every pair operator shares: ``pairs`` ⋈
    ``side_a`` on ``keys[0]`` ⋈ ``side_b`` on ``keys[1]`` (each side
    carries that doc's set size or shingle array), ``score`` kept when
    ≥ ``threshold`` and rounded to 6 places, then ``extra`` columns.
    ``cached`` are the persists the result depends on (attach_cache)."""
    ka, kb = keys
    return attach_cache(
        pairs.join(side_a, ka)
        .join(side_b, kb)
        .withColumn(name, score)
        .filter(F.col(name) >= threshold)
        .select(ka, kb, F.round(name, 6).alias(name), *extra),
        *cached,
    )


def _self_join(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int | None,
    block_col: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The postings self-join under :func:`jaccard_pairs` and
    :func:`containment_pairs`: (id_a, id_b, n_inter) for id_a < id_b
    sharing ≥1 shingle (and ``block_col``), each side's set size as
    (id_a, n_a) and (id_b, n_b), and the persisted postings."""
    # r11 note: a variant that carried n_sh = size(array_distinct(...))
    # through the posting rows (removing the sizes groupBy and both
    # pair-scale size joins; 17 -> 7 exchanges) measured 2-2.5x SLOWER
    # at sf0.1 in interleaved same-window A/B (5.4-6.2 s vs 2.3-3.1 s
    # solo medians, control query flat): the extra per-row ints ride
    # the candidate-pair hash aggregation — the one structure that is
    # quadratic in bucket df — and widening its rows/buffers costs far
    # more than the removed doc-scale pass and two broadcast-sized
    # joins ever saved. Reverted on that measurement.
    carry = [block_col] if block_col else None
    sh = _drop_hot(shingle_table(df, text_col, id_col, n, carry_cols=carry), max_df)
    # the postings feed sizes AND both sides of the self-join: persist
    # once so the explode runs once, not three times. n_sh is the
    # POST-cap per-doc posting count (the oracle counts it after the
    # hot anti-join too).
    sh = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter, sa, sb, sh


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    block_col: str | None = None,
    exact_limit: int | None = EXACT_PAIRS_LIMIT,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs that share ≥1
    shingle. Postings self-join: shuffle keyed by shingle (skew-safe
    under AQE), then aggregate by pair. Only pairs above `threshold`
    survive. Columns: id_a < id_b, jaccard.

    ``max_df`` caps shingle document frequency for CANDIDATE GENERATION
    only: a shingle occurring in k docs contributes k² join rows, so one
    boilerplate phrase shared by 1M docs would alone produce 10¹² pairs.
    Dropping shingles with df > max_df bounds the self-join at
    O(Σ min(df, max_df)²) — the trade is that pairs whose only shared
    shingles are that common may be missed (such pairs are far below any
    useful threshold anyway). Intersections are still computed over the
    capped postings, so set max_df well above threshold-relevant overlap
    (e.g. 1000) at corpus scale; None = exact.

    ``block_col`` restricts pairs to documents sharing a blocking key
    (e.g. same source/domain/language) by folding the key into the
    self-join condition — the classic blocked-dedup trick: candidate
    volume drops from O(df²) per shingle to O(Σ df_block²), and the
    shuffle key (shingle, block) splits hot shingles across blocks.

    With NEITHER cap nor blocking this is the exact quadratic baseline:
    ``exact_limit`` (default ``EXACT_PAIRS_LIMIT``) refuses corpora
    above that size — use ``max_df``/``block_col`` or
    :func:`minhash_lsh_pairs` at scale."""
    if max_df is None and block_col is None:
        _guard_exact_allpairs(
            df, exact_limit, "jaccard_pairs(max_df=None, block_col=None)",
            "max_df/block_col or minhash_lsh_pairs",
        )
    inter, sa, sb, sh = _self_join(df, text_col, id_col, n, max_df, block_col)
    jac = _jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b"))
    return _score_pairs(inter, ("id_a", "id_b"), sa, sb, "jaccard", jac, threshold, [sh])


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    exact_limit: int | None = EXACT_PAIRS_LIMIT,
    with_sizes: bool = False,
) -> DataFrame:
    """Shingle-set CONTAINMENT over candidate pairs sharing ≥1 shingle:
    C(A,B) = |A∩B| / min(|A|,|B|) — the doc-inside-doc detector
    (quote inclusion, boilerplate wrapping, partial crawls) that plain
    Jaccard misses because the union denominator dilutes a small doc
    fully contained in a big one. Same capped postings self-join shape
    as :func:`jaccard_pairs` (identical ``max_df`` candidate-generation
    cap and quadratic-baseline guard), different denominator.
    Columns: id_a < id_b, containment — plus n_a, n_b (each side's
    shingle-set size) when ``with_sizes``, which a consumer needs to
    decide WHICH side is the contained one (the smaller set)."""
    if max_df is None:
        _guard_exact_allpairs(
            df, exact_limit, "containment_pairs(max_df=None)",
            "max_df or minhash_lsh_pairs",
        )
    inter, sa, sb, sh = _self_join(df, text_col, id_col, n, max_df)
    extra = tuple(F.col(c).cast("bigint").alias(c) for c in ("n_a", "n_b")) if with_sizes else ()
    score = F.col("n_inter") / F.least("n_a", "n_b")
    return _score_pairs(
        inter, ("id_a", "id_b"), sa, sb, "containment", score, threshold, [sh], extra
    )


def _delta_pairs(
    sh_d: DataFrame, sh_c: DataFrame, sizes_c: DataFrame, id_col: str, threshold: float,
    cached: list[DataFrame],
) -> DataFrame:
    """delta ⋈ corpus scoring shared by :func:`jaccard_pairs_between`
    and :func:`jaccard_pairs_against_index`: ``sh_d`` the persisted,
    df-capped delta postings, ``sh_c`` the corpus postings, ``sizes_c``
    the corpus (id, n_c) denominators. Only corpus postings sharing a
    shingle with the delta can reach an intersection, so the corpus
    side is semi-pruned first; no explicit broadcast — a big delta must
    shuffle, AQE picks broadcast when the delta's shingle set is small."""
    sizes_d = sh_d.groupBy(id_col).agg(F.count("*").alias("n_d"))
    sh_c = sh_c.join(sh_d.select("shingle").distinct(), "shingle", "left_semi")
    d, c = sh_d.alias("d"), sh_c.alias("c")
    inter = (
        d.join(c, F.col("d.shingle") == F.col("c.shingle"))
        .groupBy(
            F.col(f"d.{id_col}").alias("delta_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sd = sizes_d.select(F.col(id_col).alias("delta_id"), "n_d")
    sc = sizes_c.select(F.col(id_col).alias("corpus_id"), "n_c")
    jac = _jaccard(F.col("n_inter"), F.col("n_d"), F.col("n_c"))
    return _score_pairs(inter, ("delta_id", "corpus_id"), sd, sc, "jaccard", jac, threshold, cached)


def jaccard_pairs_between(
    delta: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Incremental dedup: exact shingle Jaccard between a DELTA batch
    and an existing CORPUS — the ingestion-time shape (reference runs
    whole-corpus dedup only; a 100 TB pipeline re-pairs each day's crawl
    against the index, never the index against itself).

    The postings join is delta ⋈ corpus keyed by shingle, so candidate
    cost is O(Σ_sh df_delta·df_corpus) — linear in the corpus for a
    bounded delta, vs the self-join's quadratic df². The corpus side is
    first SEMI-JOIN-PRUNED to shingles that occur in the delta at all:
    at scale almost all corpus postings drop before the wide join (and
    parquet bloom/dictionary filters make that prune a scan-side win).
    Corpus-doc sizes are computed from the UNPRUNED postings, so the
    Jaccard denominator is exact.

    ``max_df`` caps document frequency measured on the CORPUS side (the
    scale risk — a boilerplate shingle in 1M corpus docs would fan every
    delta occurrence out 1M ways); capped shingles leave both sides
    before sizes, mirroring :func:`jaccard_pairs` semantics.

    Columns: delta_id, corpus_id, jaccard (≥ ``threshold``)."""
    # only the CORPUS side gets the fan-out widen: it carries ~all the
    # explode work (the delta is the bounded daily batch), and both
    # sides get re-spread by the shingle-keyed join shuffle regardless —
    # widening the delta too was pure overhead at small scale (r6 bench)
    # and a no-op at large
    sh_d = shingle_table(delta, text_col, id_col, n, widen=False)
    # corpus postings feed the hot-df measurement, corpus-doc sizes AND
    # the intersection join — persist once instead of re-running the
    # corpus-wide explode+distinct (the dominant cost) three times
    sh_c_cached = shingle_table(corpus, text_col, id_col, n).persist()
    # postings feed sizes AND the intersection join on each side
    sh_d = _drop_hot(sh_d, max_df, sh_c_cached).persist()
    sh_c = _drop_hot(sh_c_cached, max_df)
    sizes_c = sh_c.groupBy(id_col).agg(F.count("*").alias("n_c"))
    return _delta_pairs(sh_d, sh_c, sizes_c, id_col, threshold, [sh_d, sh_c_cached])


def build_postings_index(
    corpus: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
    buckets: int = 16,
) -> None:
    """Materialize the CORPUS-side state of incremental dedup as an
    on-disk index — the architecture a 100 TB ingestion pipeline
    actually runs (the CCNet/Gopher-scale dedup services all maintain
    a postings index; nobody re-shingles the corpus per daily crawl):

    * ``<table>`` — the (id, shingle) postings, hot-shingle-filtered,
      written as a parquet table BUCKETED BY shingle: the per-delta
      intersection join is keyed on shingle, so the bucketed corpus
      side joins with ZERO exchange — the shuffle that would move the
      100 TB side is paid ONCE here, at index-build/maintenance time,
      and every probe afterwards shuffles only the bounded delta.
    * ``path/hot`` — shingles with corpus df > ``max_df`` (the
      boilerplate fan-out cap), stored so probes broadcast it instead
      of recomputing a full corpus aggregation.
    * ``path/sizes`` — per-doc shingle-set sizes AFTER the hot filter
      (the exact Jaccard denominators), again corpus-side state.

    Maintenance contract: ingesting an accepted delta appends its
    postings/sizes and refreshes hot counts — the same incremental
    append every inverted index does."""
    from csdid_pyspark_spark.sources.sinks import write_bucketed

    sh_c = shingle_table(corpus, text_col, id_col, n)
    spark = corpus.sparkSession
    hot = sh_c.select("shingle").limit(0) if max_df is None else _hot_shingles(sh_c, max_df)
    hot.coalesce(1).write.mode("overwrite").parquet(f"{path}/hot")
    hot_r = F.broadcast(spark.read.parquet(f"{path}/hot"))
    sh_c = sh_c.join(hot_r, "shingle", "left_anti")
    write_bucketed(
        sh_c, table, f"{path}/postings", buckets, ["shingle"]
    )
    (
        spark.table(table)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_c"))
        .write.mode("overwrite")
        .parquet(f"{path}/sizes")
    )


def jaccard_pairs_against_index(
    delta: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe the :func:`build_postings_index` state with a DELTA batch:
    same output contract as :func:`jaccard_pairs_between` (delta_id,
    corpus_id, jaccard ≥ threshold), but the per-call cost is
    delta-side only — shingle the delta, drop stored hot shingles
    (broadcast), semi-prune the bucketed corpus postings by the
    delta's shingle set (bucketed scan: no corpus-side exchange), one
    intersection join, and the stored size table supplies the exact
    denominators. The corpus explode+distinct — the dominant cost of
    the unindexed path — never reruns."""
    spark = delta.sparkSession
    sh_d = shingle_table(delta, text_col, id_col, n, widen=False)
    hot = F.broadcast(spark.read.parquet(f"{path}/hot"))
    sh_d = sh_d.join(hot, "shingle", "left_anti").persist()
    sizes_c = spark.read.parquet(f"{path}/sizes")
    return _delta_pairs(sh_d, spark.table(table), sizes_c, id_col, threshold, [sh_d])


def _hash64(col, seed: int):
    """Deterministic seeded 64-bit hash. xxhash64 is JVM-native and
    ~20× cheaper than an md5+conv chain — it dominates MinHash cost
    (num_hashes × shingles evaluations)."""
    return F.xxhash64(F.lit(seed), col)


def _minhash_sig_from_arrays(
    arr: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """num_hashes min-hash columns as narrow expressions over the
    (id, sh_arr) frame; docs with no shingles are dropped (matching
    the postings form, where they never produced a group)."""
    return arr.filter(F.size("sh_arr") > 0).select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(sh_arr, x -> xxhash64({s}, x)))"
            ).alias(f"mh_{s}")
            for s in range(num_hashes)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash LSH near-dup candidates, verified with exact Jaccard.
    ``max_bucket``: optional cap on (band, bucket) group size — buckets
    past it are dropped before pair generation (see the inline guard
    note); None processes every bucket.

    Banding: num_hashes/bands rows per band; docs agreeing on all rows
    of any band become candidates (one grouped pass keyed by
    (band, bucket) — in-bucket pairs are generated from the sorted
    per-bucket id array, so the candidate stage pays ONE shuffle, not
    a two-sided self-join plus a distinct). Candidates are then
    re-scored with exact shingle Jaccard by :func:`_verify` (map-side,
    over the cached shingle arrays), so the output is exact on
    candidates while every stage stays linear-ish in corpus size — LSH
    prunes the pair space AND the verification join, which is what
    makes this run at 100 TB where the all-pairs join cannot."""
    rows = num_hashes // bands
    # the per-doc shingle ARRAY feeds BOTH the signature computation
    # and the exact-Jaccard verification; uncached,
    # the tokenize + shingle construction (the single most expensive
    # stage of this pipeline) would run once per consumer. Signatures
    # are MAP-SIDE array_min expressions over the cached arrays — the
    # postings explode + groupBy(id) aggregation the old form paid
    # (one full postings shuffle, 0.9 s of the 3.0 s sf0.1 median) is
    # gone; values are bit-identical (same distinct shingle set, same
    # xxhash64(seed, shingle)).
    arr = _shingle_arrays(df, text_col, id_col, n).persist()
    sig = _minhash_sig_from_arrays(arr, id_col, num_hashes)
    # one (band, bucket) struct per band, exploded from a SINGLE pass
    # over the signature table — a per-band union would embed the whole
    # corpus->signature subtree once per band per join side (observed:
    # 8+ duplicated scans in the physical plan)
    band_structs = []
    for band in range(bands):
        cols = [F.col(f"mh_{band * rows + r}") for r in range(rows)]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                # bucket id stays the md5 value but as 16-byte BINARY
                # (bijective unhex of the hex form): identical groups,
                # half the bytes through the (band, bucket) exchange —
                # the one corpus-scale shuffle of this pipeline. The
                # bucket never reaches any output.
                F.unhex(
                    F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
                ).alias("bucket"),
            )
        )
    bucketed = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # in-bucket pairs from the sorted per-bucket id array: ONE grouped
    # shuffle keyed by (band, bucket) replaces the two-sided self-join.
    # A bucket of k docs emits k(k-1)/2 pairs — exactly the candidate
    # fan-in the banding math budgets for — but the pairs are generated
    # INCREMENTALLY: posexplode the ids first, then each row carries
    # only one source element's tail slice (<= k elements), so a hot
    # bucket (near-identical boilerplate sharing a full band signature)
    # streams its quadratic fan-out through the generate operators
    # instead of materializing all k^2/2 pair structs inside ONE row's
    # array (the previous shape, an OOM on a single task for large k).
    grouped = (
        bucketed.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        # explicit mega-bucket guard: a bucket past this size is a
        # collision-threshold problem upstream (band rows too short /
        # boilerplate not pre-deduped) — drop it rather than pay its
        # quadratic candidate fan-in. None (default) keeps every
        # bucket, preserving exact parity with the unguarded form.
        grouped = grouped.filter(F.size("ids") <= int(max_bucket))
    pairs = (
        grouped.select(F.col("ids"), F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.expr("slice(ids, i + 2, size(ids) - i - 1)")
            ).alias("id_b"),
        )
    )
    return _verify(arr, pairs.distinct(), id_col, threshold)


def _verify(arr: DataFrame, cand: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The one exact-Jaccard verifier of the LSH paths: each candidate
    (id_a, id_b) pulls its two shingle arrays from the persisted
    (id, sh_arr) frame ``arr`` (:func:`_shingle_arrays`); |A ∩ B| is
    the size of their array_intersect (the arrays are distinct) and the
    score is the postings form's n_inter / (n_a + n_b - n_inter), so the
    values are bit-identical to it. Map-side: cost O(|candidates| ×
    shingles-per-doc) with no postings explode or self-join. Attaches
    ``arr`` to the result."""
    pa = arr.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("arr_a"))
    pb = arr.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("arr_b"))
    n_inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = _jaccard(n_inter, F.size("arr_a"), F.size("arr_b"))
    return _score_pairs(cand, ("id_a", "id_b"), pa, pb, "jaccard", jac, threshold, [arr])


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint: sign-sum of per-token hash bits. Tokens are
    hashed once (md5→bigint); bit b of the fingerprint is 1 iff more
    tokens have bit b set than unset. Exploded-token aggregation —
    one shuffle keyed by doc id."""
    toks = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    tok_df = df.select(F.col(id_col), toks)
    h = _hash64(F.col("tok"), 0)
    bit_sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok_df.groupBy(id_col).agg(*bit_sums)
    fp = F.lit(0).cast("bigint")
    for b in range(bits):
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return agg.select(F.col(id_col), fp.alias("simhash"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_len: int = 12,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): rolling char k-gram hashes, then the minimum hash of
    each sliding window of `window` consecutive k-grams, deduplicated.
    Guarantees any shared substring of length >= window + k - 1 between
    two documents yields at least one shared fingerprint — the local
    dedup/provenance primitive exact-hash fingerprints can't provide.

    The k-gram hash is a base-131 polynomial over character codes
    (codes < 131^k fits bigint for k=5, no modular reduction) rather
    than an engine hash, so the operator is bit-identical across
    engines and therefore SQL-oracle-checkable. All array-native
    (sequence/transform/slice/array_min): one narrow scan, no shuffle,
    no UDF; the explode output shuffles only if the caller aggregates.
    """
    if k != 5:
        raise ValueError("portable polynomial hash is specialized to k=5")
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(F.col(id_col), t.alias("t")).filter(F.length("t") >= min_len)
    # Spark's substring(t, i, 1) walks the UTF8 buffer from the start
    # to find codepoint i — O(i) per call, O(5·L²) per document for the
    # naive k-gram expression (measured 9.2 s for the sf0.01 corpus on
    # one core). Materialize the char-code array ONCE and index it with
    # O(1) element_at instead. The codes array must be bound as a
    # higher-order-function lambda variable (array(...)[0] wrapper):
    # a plain projection alias gets inlined by CollapseProject into
    # every element_at, silently restoring the O(L²) shape (measured
    # 4.5× WORSE). Values are bit-identical to the substring form —
    # ascii(char) per position either way (oracle re-proved).
    hs = (
        "transform(array(transform(split(t, ''), c -> cast(ascii(c) as bigint))), "
        "cs -> transform(sequence(1, size(cs) - 4), i -> "
        "element_at(cs, i) * 294499921 "
        "+ element_at(cs, i+1) * 2248091 "
        "+ element_at(cs, i+2) * 17161 "
        "+ element_at(cs, i+3) * 131 "
        "+ element_at(cs, i+4)))[0]"
    )
    fps = (
        f"array_sort(array_distinct(transform(sequence(1, size(hs) - {window - 1}), j -> "
        f"array_min(slice(hs, j, {window})))))"
    )
    return (
        base.select(id_col, F.expr(hs).alias("hs"))
        .filter(F.size("hs") >= window)
        .select(id_col, F.explode(F.expr(fps)).alias("fp"))
    )


class ComponentsNotConverged(RuntimeError):
    """The global phase of ``components`` ran out of rounds before a
    fixpoint."""


def _local_labels(s: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the edges (s[i], d[i]) in NumPy: returns
    the distinct nodes, sorted, and each one's label, the smallest node
    of its component. Root hooking plus pointer jumping: every round
    hooks the larger root onto the smaller across each edge whose ends
    still differ, then compresses every node to its root. Parents only
    move down, so the smallest node of a component stays its root, and
    each round merges at least one pair of roots; on chains and random
    graphs it takes O(log n) rounds (a 65,536-edge chain in random id
    order: 11), where neighbour-min propagation takes one round per hop
    of the diameter."""
    nodes, idx = np.unique(np.concatenate([s, d]), return_inverse=True)
    a, b = idx[: len(s)], idx[len(s) :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            return nodes, nodes[parent]
        # an edge whose ends share a root keeps sharing it: drop it
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _label_chunks(cap: int):
    """``mapInArrow`` body over (s, d) edge batches: labels each run of
    at most ``cap`` edges of a partition with ``_local_labels`` and
    emits one (node, comp) row per node of the run, so a task holds at
    most ``cap`` edges however large its partition."""

    def label(batches):
        import pyarrow as pa

        def solve(s, d):
            nodes, comp = _local_labels(s, d)
            return pa.RecordBatch.from_arrays([pa.array(nodes), pa.array(comp)], ["node", "comp"])

        s = d = np.empty(0, dtype=np.int64)
        for b in batches:
            s = np.concatenate([s, b.column(0).to_numpy()])
            d = np.concatenate([d, b.column(1).to_numpy()])
            while len(s) >= cap:
                yield solve(s[:cap], d[:cap])
                s, d = s[cap:], d[cap:]
        if len(s):
            yield solve(s, d)

    return label


def _drop_checkpoint(df: DataFrame) -> None:
    """Release the blocks behind a ``localCheckpoint``: the checkpointed
    RDD is not in the cache manager, so ``DataFrame.unpersist`` leaves
    it to the context cleaner."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair list, in two
    phases (local, then global, as in REPOSE, ICDE 2021).

    - Local: the pair list is cached right-sized (at most
      ``cache.TARGET_ROWS_PER_PARTITION`` edges a partition) and one
      ``mapInArrow`` labels each run of at most that many edges in
      NumPy (``_local_labels``) with the smallest node of its local
      component. A pair list that fits one run is solved here whole.
    - Global: otherwise the (node, local label) rows are grouped by
      node; a node carrying several labels links them. Only that
      contracted label graph goes through min-label propagation, one
      join + min-aggregation per round with each round's labels
      checkpointed; the round's groupBy also carries each label's old
      value, so the checkpointed rows say whether anything changed.

    Returns (node, comp), both bigint, with comp = the smallest node id
    of the component, materialised before return: releasing ``pairs``
    afterwards is safe, and every intermediate the call cached is
    released. Only nodes that appear in ``pairs`` are emitted
    (singletons are their own trivial component); a pair with a null
    end links nothing. Raises ``ComponentsNotConverged`` when
    ``max_iter`` global rounds end without a fixpoint, rather than
    returning unconverged labels.
    """
    from csdid_pyspark_spark import cache

    cap = cache.TARGET_ROWS_PER_PARTITION
    edges, n_edges = cache.persist_rightsized(
        pairs.select(F.col(id_a).cast("long").alias("s"), F.col(id_b).cast("long").alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull()),
        target_rows=cap,
        measure=True,
    )
    local = edges.mapInArrow(_label_chunks(cap), "node long, comp long")
    cached, checkpoints = [edges], []
    try:
        if n_edges <= cap:
            # one partition, one run: the local labels are the answer
            labels = local
        else:
            # per node: the smallest label it carries, and all of them
            by_node = (
                local.groupBy("node")
                .agg(F.min("comp").alias("root"), F.collect_set("comp").alias("held"))
                .persist()
            )
            cached.append(by_node)
            held = by_node.where(F.size("held") > 1).select(
                F.explode(F.array_remove("held", F.col("root"))).alias("s"), "root"
            )
            links, n_links = cache.persist_rightsized(
                held.select(
                    F.explode(
                        F.array(
                            F.struct(F.col("s"), F.col("root").alias("d")),
                            F.struct(F.col("root").alias("s"), F.col("s").alias("d")),
                        )
                    ).alias("e")
                )
                .select("e.s", "e.d")
                .distinct(),
                target_rows=cap,
                measure=True,
            )
            cached.append(links)
            glob = _propagate(links, n_links, cap, max_iter, checkpoints)
            labels = by_node.join(glob, "root", "left").select(
                "node", F.coalesce("comp", "root").alias("comp")
            )
        # the labels must outlive every cache above: truncate the lineage
        out = labels.localCheckpoint(eager=True)
    finally:
        for df in cached:
            df.unpersist()
        for df in checkpoints:
            _drop_checkpoint(df)
    return out


def _propagate(links: DataFrame, n_links: int, cap: int, max_iter: int, checkpoints: list) -> DataFrame:
    """Min-label propagation over the contracted label graph ``links``
    (s, d; both directions): returns (root, comp) for every label on a
    link. Each round is one eager ``localCheckpoint``, appended to
    ``checkpoints`` for the caller to release; a superseded round's is
    released here. Raises ``ComponentsNotConverged`` after ``max_iter``
    rounds that each still changed a label."""
    import math

    from csdid_pyspark_spark.cache import _shuffle_partitions

    # start from each label's smallest neighbour: what a first round
    # from the identity labels would give, without its join
    labels = links.groupBy(F.col("s").alias("node")).agg(
        F.least(F.first("s"), F.min("d")).alias("comp")
    )
    if not n_links:
        return labels.select(F.col("node").alias("root"), "comp")
    parts = min(_shuffle_partitions(links.sparkSession), max(1, math.ceil(n_links / cap)))
    for _ in range(max_iter):
        nbr = links.join(labels, links["d"] == labels["node"]).select(
            F.col("s").alias("node"), "comp", F.lit(None).cast("long").alias("was")
        )
        # each label's own row carries its old value; the min over
        # them is that value, so the checkpoint holds the change flag
        new = (
            labels.select("node", "comp", F.col("comp").alias("was"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("was").alias("was"))
            .select("node", "comp", (F.col("comp") < F.col("was")).alias("changed"))
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        if checkpoints:
            _drop_checkpoint(checkpoints.pop())
        checkpoints.append(new)
        labels = new
        if new.where("changed").isEmpty():
            return labels.select(F.col("node").alias("root"), "comp")
    raise ComponentsNotConverged(
        f"label propagation did not reach a fixpoint in max_iter={max_iter} rounds"
    )
