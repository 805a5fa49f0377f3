"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
event sessionization. Oracle-checked where ANSI-SQL can express the
same semantics; LSH candidate generation is Spark-only (rows check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csdid_pyspark_spark.functions.text import (
    LANG_STOPWORDS,
    punct_count,
    quality_score,
    stopword_count,
    token_count,
)
from csdid_pyspark_spark.functions.text import lang_id as lang_id_col
from csdid_pyspark_spark.operators import dedup, packing, sessionize, similarity
from csdid_pyspark_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d)


DEDUP_EXACT_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard — definitionally uncapped so it matches
    the exact oracle; pipeline consumers go through the df-capped
    :func:`_neardup_pairs` (or the LSH path) instead."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, n=3, threshold=0.5)


# Document-frequency cap for every PIPELINE consumer of the Jaccard
# pair graph (components, keep-list). A shingle in k docs contributes
# k² postings-join rows; capping df bounds the join at
# O(Σ min(df, max_df)²) so one boilerplate phrase shared by 1M docs
# can't go quadratic. 1000 is far above any threshold-relevant overlap,
# and above the whole corpus at the oracle-checked scale factors, so
# checked results are identical to the exact graph.
NEARDUP_MAX_DF = 1000


def _neardup_pairs(d: DataFrame) -> DataFrame:
    """The near-dup pair graph every dedup pipeline stage consumes:
    exact Jaccard over df-capped postings (operators/dedup.py:62)."""
    return dedup.jaccard_pairs(d, n=3, threshold=0.5, max_df=NEARDUP_MAX_DF)


# SQL rendering of the same capped pair graph (shared CTE prefix of the
# components / keep-list oracles). Shingles with df > NEARDUP_MAX_DF are
# anti-joined out BEFORE sizes and intersections, mirroring
# jaccard_pairs' candidate-generation cap exactly.
_NEARDUP_PAIRS_CTES = r"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(tokens) - 1, 1)),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM toks WHERE len(tokens) >= 3
),
hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > %d),
sh AS (SELECT sh_all.doc_id, sh_all.shingle FROM sh_all ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
)""" % NEARDUP_MAX_DF


DEDUP_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(tokens) - 1, 1)),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM toks WHERE len(tokens) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned near-dup pairs, exact-Jaccard verified. No SQL oracle
    (banded LSH candidate generation is not ANSI-SQL-expressible);
    tests assert it reproduces `dedup_jaccard` pairs with high recall."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, n=3, num_hashes=16, bands=4, threshold=0.5)


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash) fingerprints per document —
    portable polynomial hash, so Spark and DuckDB compute identical
    fingerprint values."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(d, k=5, window=4, min_len=12)


TEXT_WINNOW_SQL = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
base AS (SELECT doc_id, t FROM norm WHERE length(t) >= 12),
kg AS (
  SELECT doc_id,
    list_transform(range(1, length(t) - 3), i ->
      CAST(ascii(substring(t, i, 1)) AS BIGINT) * 294499921
      + ascii(substring(t, i+1, 1)) * 2248091
      + ascii(substring(t, i+2, 1)) * 17161
      + ascii(substring(t, i+3, 1)) * 131
      + ascii(substring(t, i+4, 1))) AS hs
  FROM base
),
win AS (
  SELECT doc_id,
    list_sort(list_distinct(list_transform(range(1, len(hs) - 2), j ->
      list_min(list_slice(hs, j, j + 3))))) AS fps
  FROM kg WHERE len(hs) >= 4
)
SELECT doc_id, unnest(fps) AS fp FROM win
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (oracle-checked baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_cosine(e, threshold=0.4).select(
        "id_a", "id_b", F.round("cosine", 5).alias("cosine")
    )


DEDUP_EMBEDDING_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 5) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the 100 TB path (bucket
    equi-join, no cross join). Rows-only driver check; the test suite
    measures recall against `dedup_embedding_cosine`."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_lsh(e, threshold=0.4, n_planes=4, n_tables=8, dim=64).select(
        "id_a", "id_b", F.round("cosine", 5).alias("cosine")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (Spark-only rows check)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash(d, bits=32)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    e = load_table(spark, sf_dir, "embeddings")
    return list(e.filter(F.col("vec_id") == 0).select("embedding").first()[0])


def sim_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine of every vector against vec_id=0, thresholded."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return (
        similarity.cosine_scores(e, q)
        .filter((F.col("vec_id") != 0) & (F.col("cosine") >= 0.1))
        .select("vec_id", F.round("cosine", 5).alias("cosine"))
    )


SIM_COSINE_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 5) AS cosine
FROM embeddings, q
WHERE vec_id <> 0 AND list_cosine_similarity(embedding::DOUBLE[], qv) >= 0.1
"""


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return similarity.cosine_topk(e.filter(F.col("vec_id") != 0), q, k=10).select(
        "vec_id", F.round("cosine", 5).alias("cosine")
    )


SIM_TOPK_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 5) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
LIMIT 10
"""


def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 against vec_id=0 (λ=0.7 over a top-50
    relevance pool): the re-ranking layer every retrieval stack runs
    after ANN, trading pure relevance for coverage
    (operators/similarity.py::mmr_rerank — distributed pool carve +
    bounded driver-side greedy selection). Seeded-deterministic →
    pinned VALUES golden oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    rows = similarity.mmr_rerank(
        e.filter(F.col("vec_id") != 0), q, k=10, pool=50, lam=0.7
    )
    return spark.createDataFrame(
        [(r[0], r[1], round(r[2], 5), round(r[3], 5)) for r in rows],
        "rank int, vec_id bigint, relevance double, mmr_score double",
    )


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (Spark-only rows check; tests
    measure recall against the brute-force baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return similarity.ann_topk_lsh(e.filter(F.col("vec_id") != 0), q, k=10, n_planes=6).select(
        "vec_id", F.round("cosine", 5).alias("cosine")
    )


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) approximate top-k — the
    partition-prunable scale path (Spark-only rows check)."""
    from csdid_pyspark_spark.operators.mllib_lsh import ann_topk_ivf

    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return ann_topk_ivf(e.filter(F.col("vec_id") != 0), q, k=10, n_centroids=16, n_probe=3).select(
        "vec_id", F.round("cosine", 5).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_actual"),
        punct_count("text").alias("n_punct"),
        stopword_count("text").alias("n_stopwords"),
        F.round(quality_score("text"), 6).alias("quality"),
    )


_EN_STOP = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"] + ("it", "for", "on", "with", "as", "this", "that"))

TEXT_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(tokens) AS INT) AS n_tokens,
    CAST(length(text) AS INT) AS n_chars_actual,
    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
    CAST(len(list_filter(tokens, x -> lower(x) IN ({_EN_STOP}))) AS INT) AS n_stopwords,
    length(text) AS len_text
  FROM t
)
SELECT doc_id, n_tokens, n_chars_actual, n_punct, n_stopwords,
  ROUND((1.0 - CAST(n_punct AS DOUBLE) / GREATEST(len_text, 1))
        * (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END)
        * (CASE WHEN CAST(n_stopwords AS DOUBLE) / GREATEST(n_tokens, 1) > 0.05 THEN 1.0 ELSE 0.8 END), 6) AS quality
FROM s
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lang_id_col("text").alias("lang_pred"),
        (lang_id_col("text") == F.col("lang")).cast("int").alias("matches_label"),
    )


def _lang_sql_scores() -> str:
    parts = []
    for lang, words in LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        parts.append(f"CAST(len(list_filter(tokens, x -> lower(x) IN ({inlist}))) AS INT) AS s_{lang}")
    return ",\n    ".join(parts)


TEXT_LANG_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
s AS (
  SELECT doc_id, lang,
    {_lang_sql_scores()}
  FROM t
),
p AS (
  SELECT doc_id, lang,
    CASE WHEN GREATEST(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
         WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
         WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
         WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
         WHEN s_de = GREATEST(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
         ELSE 'zh' END AS lang_pred
  FROM s
)
SELECT doc_id, lang_pred, CAST(lang_pred = lang AS INT) AS matches_label FROM p
"""


# ---------------------------------------------------------------------------
# Event sessionization + window rollups
# ---------------------------------------------------------------------------

def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize.session_stats(e, gap_minutes=30.0)


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
           OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events FROM sessions GROUP BY 1, 2
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(n_events), 6) AS avg_events_per_session
FROM per_session GROUP BY user_id
"""


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize.tumbling_window_agg(e, duration="1 hour")


HOURLY_SQL = """
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


QUERIES = {
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_jaccard": dedup_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "sim_cosine_scores": sim_cosine_scores,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_mmr_diversify": sim_mmr_diversify,
    "text_stats": text_stats,
    "text_lang_id": text_lang_id,
    "events_sessionize": events_sessionize,
    "events_hourly_rollup": events_hourly_rollup,
}

ORACLES = {
    "dedup_exact_groups": DEDUP_EXACT_SQL,
    "dedup_jaccard": DEDUP_JACCARD_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
    "text_winnow_fingerprint": TEXT_WINNOW_SQL,
    "sim_cosine_scores": SIM_COSINE_SQL,
    "sim_topk_bruteforce": SIM_TOPK_SQL,
    "text_stats": TEXT_STATS_SQL,
    "text_lang_id": TEXT_LANG_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "events_hourly_rollup": HOURLY_SQL,
    # dedup_minhash_lsh, dedup_simhash, sim_ann_lsh: rows-only checks
}


# ---------------------------------------------------------------------------
# Semi-structured (JSON) extraction over events.props
# ---------------------------------------------------------------------------

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type,
  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (letter runs / digit runs / symbol runs)
# ---------------------------------------------------------------------------

_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).cast("int").alias("n_bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("int").alias("n_ws"),
    )


TEXT_BPE_SQL = rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INT) AS n_bpe,
  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws
FROM documents
"""


# ---------------------------------------------------------------------------
# Second-moment statistical aggregates
# ---------------------------------------------------------------------------

def stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_pop("l_quantity"), 6).alias("varp_qty"),
    )


STATS_SQL = """
SELECT l_linestatus,
  ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
  ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_qty_disc,
  ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
  ROUND(VAR_POP(l_quantity), 6) AS varp_qty
FROM lineitem GROUP BY l_linestatus
"""


QUERIES.update(
    {
        "events_json_extract": events_json_extract,
        "text_bpe_tokens": text_bpe_tokens,
        "stats_aggs": stats_aggs,
    }
)
ORACLES.update(
    {
        "events_json_extract": EVENTS_JSON_SQL,
        "text_bpe_tokens": TEXT_BPE_SQL,
        "stats_aggs": STATS_SQL,
    }
)


# ---------------------------------------------------------------------------
# As-of join: each click matched to the user's most recent prior view
# ---------------------------------------------------------------------------

def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csdid_pyspark_spark.operators import asof

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # ONE scan for both join sides (guide §6; the old two-branch form
    # planned a separate events scan per event-type filter). A single
    # grouped pass produces both: views collapse to one row per
    # (user, ts) with max(value) — the deterministic-tie
    # pre-aggregation the asof operator requires — while clicks stay
    # row-level because event_id (the events table's primary key,
    # unique at every SF) joins the group key, making each click a
    # singleton group whose max(value) IS its value. The conditional
    # projection then tags sides for asof_join_tagged — same window,
    # same tie semantics, bit-identical output to the two-scan form.
    is_click = F.col("event_type") == "click"
    g = e.groupBy(
        "user_id",
        "ts",
        "event_type",
        F.when(is_click, F.col("event_id")).alias("event_id"),
    ).agg(F.max("value").alias("v"))
    both = g.select(
        "event_id",
        "user_id",
        "ts",
        F.when(is_click, F.col("v")).alias("click_value"),
        F.when(~is_click, F.col("ts")).alias(asof.RTS_COL),
        F.when(~is_click, F.col("v")).alias("view_value"),
        F.when(is_click, F.lit(1)).otherwise(F.lit(0)).alias(asof.SIDE_COL),
    )
    j = asof.asof_join_tagged(
        both,
        on="user_id",
        ts_col="ts",
        value_cols=["view_value"],
        left_cols=["event_id", "user_id", "ts", "click_value"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.round("click_value", 4).alias("click_value"),
        F.round("view_value", 4).alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("us_since_view"),
    )


ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, ROUND(c.value, 4) AS click_value,
       ROUND(v.view_value, 4) AS view_value,
       EPOCH_US(c.ts) - EPOCH_US(v.ts) AS us_since_view
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


QUERIES["events_asof_join"] = events_asof_join
ORACLES["events_asof_join"] = ASOF_SQL


# ---------------------------------------------------------------------------
# Near-dup groups: connected components over the Jaccard pair graph
# ---------------------------------------------------------------------------

def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation (operators/dedup.py::components) over the
    df-capped Jaccard near-dup pairs (:func:`_neardup_pairs`); the
    oracle replays reachability with a recursive CTE. comp = smallest
    doc_id in the duplicate cluster (the canonical survivor a dedup
    pipeline keeps)."""
    from csdid_pyspark_spark.cache import release_cache

    d = load_table(spark, sf_dir, "documents")
    # components() eagerly checkpoints, so the postings persist riding
    # on the pair frame is consumed by return time — release it here
    # rather than orphaning it in a shared session (the pair frame
    # itself is discarded).
    pairs = _neardup_pairs(d)
    comp = dedup.components(pairs)
    release_cache(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("comp_id")
    )


DEDUP_COMPONENTS_SQL = r"""
WITH RECURSIVE """ + _NEARDUP_PAIRS_CTES + r""",
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.r
)
SELECT node AS doc_id, MIN(r) AS comp_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# TF-IDF document weighting (exact, smooth-idf)
# ---------------------------------------------------------------------------

def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF over whitespace tokens: tf = in-doc term count,
    idf = ln((N+1)/(df+1)) + 1 (smooth — scikit-learn convention).

    Document frequency is a window count over the tf table partitioned
    by term — one shuffle keyed by term, NO vocabulary broadcast and no
    duplicated scan of the tokenization subtree. (A broadcast of the raw
    whitespace vocab is unbounded at corpus scale: billions of distinct
    terms would OOM the driver; the window keeps df computation fully
    distributed.) The only broadcast left is the 1-row corpus count.

    r11 note: a persisted-tf + groupBy(term) + join-back variant (which
    would let AQE skew-split a hot stopword the window cannot) measured
    ~25% SLOWER at sf0.1 in interleaved same-window A/B (solo minima
    1.19-1.38 s vs 1.01 s): the tf cache materialization plus the join
    exchange cost more than the window's sort here. Reverted per guide
    §1; the hot-term-straggler trade-off is documented rather than
    paid. A corpus with a genuinely hot vocabulary should prefer the
    grouped form — it is a two-line change."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = F.count("*").over(Window.partitionBy("term"))
    nd = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (dfc + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.crossJoin(F.broadcast(nd))
        .select("doc_id", "term", "tf", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )


TEXT_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE len(term) > 0 GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf,
       ROUND(tf.tf * (LN((nd.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing as a query: Arrow-batched mapInPandas feature
# extraction over binary payloads, oracle-checked against DuckDB
# re-deriving the deterministic fake-decode arithmetic independently
# ---------------------------------------------------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csdid_pyspark_spark.operators import multimodal

    feats = multimodal.extract_features(multimodal.synthetic_assets(spark, 256))
    return feats.groupBy("modality").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
    )


MULTIMODAL_SQL = """
WITH assets AS (
  SELECT i,
         (['image', 'audio', 'video'])[CAST(i % 3 AS INT) + 1] AS modality,
         128 + (i % 5) * 64 AS n_bytes,
         16 + ((i * 31) % 256) % 64 AS width,
         16 + ((i * 31 + (128 + (i % 5) * 64 - 1) * 7) % 256) % 64 AS height
  FROM generate_series(0, 255) t(i)
)
SELECT modality, COUNT(*) AS n_assets, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(width), 6) AS avg_width, ROUND(AVG(height), 6) AS avg_height
FROM assets GROUP BY modality
"""


QUERIES.update(
    {
        "dedup_components": dedup_components,
        "text_tfidf": text_tfidf,
        "multimodal_features": multimodal_features,
    }
)
ORACLES.update(
    {
        "dedup_components": DEDUP_COMPONENTS_SQL,
        "text_tfidf": TEXT_TFIDF_SQL,
        "multimodal_features": MULTIMODAL_SQL,
    }
)


# ---------------------------------------------------------------------------
# Deterministic hash sampling (reproducible corpus splits / holdouts)
# ---------------------------------------------------------------------------

def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 10% sample: md5(doc_id) bucket < 10 of 100.
    Unlike rand()-based sampling this is reproducible across engines,
    partitionings, and reruns — the property a training pipeline needs
    so a holdout never leaks between runs. md5 is identical in Spark
    and DuckDB, so the oracle selects the exact same rows."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    ) % 100
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 10)
        .select("doc_id", F.col("bucket").cast("int").alias("bucket"), "lang", "n_chars")
    )


SAMPLE_HASH_SQL = """
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS INT) AS bucket
  FROM documents
)
SELECT doc_id, bucket, lang, n_chars FROM b WHERE bucket < 10
"""


QUERIES["sample_hash"] = sample_hash
ORACLES["sample_hash"] = SAMPLE_HASH_SQL


# ---------------------------------------------------------------------------
# Round-2 pipeline widening: chunking, repetition scoring, stratified
# sampling, embedding statistics, n-gram counting, exact quantiles.
# All built-in column expressions (no Python UDFs), each with a DuckDB
# oracle. At 100 TB each is a narrow scan plus at most one shuffle.
# ---------------------------------------------------------------------------

def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunks with overlap (size 32, stride 24) — the
    standard training-data windowing op. Emits one row per chunk with a
    content hash instead of the text, so the result stays narrow. Pure
    array expressions: one scan, no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim("text"), r"\s+")
    d = d.select("doc_id", tk.alias("tk"))
    starts = F.expr("sequence(0, greatest(0, cast(ceil((size(tk) - 1) / 24.0) as int) - 1))")
    chunks = d.select(
        "doc_id",
        F.explode(starts).alias("chunk_id"),
        F.col("tk"),
    ).filter(F.col("chunk_id") * 24 < F.size("tk"))
    chunk = F.expr("slice(tk, chunk_id * 24 + 1, 32)")
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


TEXT_CHUNKING_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
),
ids AS (
  SELECT doc_id, tk,
         UNNEST(range(0, greatest(1, CAST(ceil((len(tk) - 1) / 24.0) AS BIGINT)))) AS chunk_id
  FROM toks
),
chunks AS (
  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         tk[chunk_id*24+1 : chunk_id*24+32] AS chunk
  FROM ids WHERE chunk_id*24 < len(tk)
)
SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/repetition score per document: total vs distinct
    word trigrams and the dominant trigram's share. Docs shorter than
    3 tokens are excluded. One explode + two aggregations (the second
    is map-side partial over the first's output)."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim("text"), r"\s+")
    tri = F.expr(
        "transform(sequence(1, size(tk) - 2), i -> tk[i-1] || ' ' || tk[i] || ' ' || tk[i+1])"
    )
    per_tri = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", F.explode(tri).alias("tri"))
        .groupBy("doc_id", "tri")
        .agg(F.count("*").alias("c"))
    )
    return per_tri.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tri"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count("*") / F.sum("c"), 6).alias("rep_ratio"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_share"),
    )


TEXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
),
tri AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(1, len(tk) - 1)),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tri
  FROM toks WHERE len(tk) >= 3
),
per_tri AS (
  SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri, COUNT(*) AS n_distinct,
       ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS rep_ratio,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share
FROM per_tri GROUP BY doc_id
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: top-5 docs per language by md5
    of the id — reproducible train/eval splits with per-stratum quotas.
    One shuffle (the per-stratum window)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


SAMPLE_STRATIFIED_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance over the embedding corpus — the
    whitening/normalization statistics a vector pipeline computes
    before indexing. posexplode + one aggregation; at scale this is the
    outer-product-free way to get diagonal covariance."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("mean"),
            F.round(F.var_pop(F.col("v").cast("double")), 6).alias("var"),
        )
    )


EMBEDDING_DIM_STATS_SQL = """
SELECT CAST(i AS INT) AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS mean,
       ROUND(VAR_POP(CAST(embedding[i] AS DOUBLE)), 6) AS var
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY i
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (centroid) in long form (label, dim,
    mean) — class prototypes / mean-pooling. Long form keeps the
    oracle exact and the shuffle key (label, dim) well-distributed."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean"))
    )


EMBEDDING_CENTROIDS_SQL = """
SELECT label, CAST(i AS INT) AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS mean
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY label, i
"""


def text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams by document frequency-weighted
    count — the n-gram table that feeds LM-style filtering. Explode +
    one aggregation + TakeOrdered (no global sort at scale)."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim("text"), r"\s+")
    bi = F.expr("transform(sequence(1, size(tk) - 1), i -> tk[i-1] || ' ' || tk[i])")
    return (
        d.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(F.explode(bi).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


TEXT_NGRAM_TOP_SQL = r"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents
),
bi AS (
  SELECT UNNEST(list_transform(range(1, greatest(1, len(tk))),
                               i -> tk[i] || ' ' || tk[i+1])) AS bigram
  FROM toks WHERE len(tk) >= 2
)
SELECT bigram, COUNT(*) AS cnt FROM bi GROUP BY bigram
ORDER BY cnt DESC, bigram ASC LIMIT 20
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of event value per type (p50/p90/
    p99) — Spark's exact `percentile` vs DuckDB `quantile_cont`, both
    linear interpolation. The scale path swaps in approx_percentile
    with a documented error bound; the exact form is the oracle."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


EVENTS_VALUE_QUANTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


QUERIES.update(
    {
        "text_chunking": text_chunking,
        "text_repetition": text_repetition,
        "sample_stratified": sample_stratified,
        "embedding_dim_stats": embedding_dim_stats,
        "embedding_centroids": embedding_centroids,
        "text_ngram_top": text_ngram_top,
        "events_value_quantiles": events_value_quantiles,
    }
)
ORACLES.update(
    {
        "text_chunking": TEXT_CHUNKING_SQL,
        "text_repetition": TEXT_REPETITION_SQL,
        "sample_stratified": SAMPLE_STRATIFIED_SQL,
        "embedding_dim_stats": EMBEDDING_DIM_STATS_SQL,
        "embedding_centroids": EMBEDDING_CENTROIDS_SQL,
        "text_ngram_top": TEXT_NGRAM_TOP_SQL,
        "events_value_quantiles": EVENTS_VALUE_QUANTILES_SQL,
    }
)


# ---------------------------------------------------------------------------
# Decontamination and composite quality filtering — the two curation ops
# every pretraining pipeline runs before anything else ships to training.
# ---------------------------------------------------------------------------

def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: word 5-gram overlap of every
    train document against the eval split (deterministic md5 split,
    first hex digit 0-3 ≈ 25% here; in production the eval set is a
    fixed benchmark corpus). Emits per-train-doc gram counts, hit
    counts, and the contamination rate.

    Scale shape: the eval n-gram set is DISTINCT-reduced and tiny
    relative to the corpus (benchmarks are thousands of docs, the
    corpus is billions), so the left join is broadcast-able — AQE makes
    that call from the measured size rather than a forced hint. The
    train side is one explode + one aggregation keyed by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim("text"), r"\s+")
    grams = F.expr(
        "transform(sequence(1, size(tk) - 4), "
        "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1], tk[i+2], tk[i+3]))"
    )
    g = (
        d.select("doc_id", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("h"), tk.alias("tk"))
        .filter(F.size("tk") >= 5)
        .select("doc_id", "h", F.explode(grams).alias("ng"))
    )
    is_eval = F.col("h").isin("0", "1", "2", "3")
    ev = g.filter(is_eval).select("ng").distinct().withColumn("hit", F.lit(1))
    tr = g.filter(~is_eval)
    return (
        tr.join(ev, "ng", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 6).alias("contam_rate"),
        )
    )


TEXT_DECONTAMINATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
         string_split_regex(trim(text), '\s+') AS tk
  FROM documents
),
g AS (
  SELECT doc_id, h,
         UNNEST(list_transform(range(1, greatest(1, len(tk) - 3)),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS ng
  FROM toks WHERE len(tk) >= 5
),
ev AS (SELECT DISTINCT ng, 1 AS hit FROM g WHERE h IN ('0','1','2','3')),
tr AS (SELECT doc_id, ng FROM g WHERE h NOT IN ('0','1','2','3'))
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       ROUND(SUM(COALESCE(hit, 0)) / CAST(COUNT(*) AS DOUBLE), 6) AS contam_rate
FROM tr LEFT JOIN ev USING (ng)
GROUP BY doc_id
"""


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation decision per document: too-short, too-
    repetitive (trigram duplication), and stopword-saturated checks
    combined into a keep flag plus a stable comma-joined reason string.
    This is the gate stage of a data pipeline — everything is built-in
    column expressions over one scan plus the trigram aggregation, so
    at 100 TB it is two narrow shuffles keyed by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim("text"), r"\s+")
    base = d.select("doc_id", tk.alias("tk")).select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(F.filter("tk", lambda t: t.isin("a", "the"))).alias("n_stop"),
    )
    tri = F.expr(
        "transform(sequence(1, size(tk) - 2), i -> tk[i-1] || ' ' || tk[i] || ' ' || tk[i+1])"
    )
    rep = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", F.explode(tri).alias("tri"))
        .groupBy("doc_id", "tri")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg((F.lit(1.0) - F.count("*") / F.sum("c")).alias("rep_ratio"))
    )
    j = base.join(rep, "doc_id", "left").withColumn(
        "rep_ratio", F.coalesce(F.col("rep_ratio"), F.lit(0.0))
    )
    short = F.col("n_tokens") < 20
    repet = F.col("rep_ratio") > 0.2
    stop = F.col("n_stop") / F.col("n_tokens") > 0.3
    reasons = F.concat_ws(
        ",",
        F.when(short, F.lit("too_short")),
        F.when(repet, F.lit("repetitive")),
        F.when(stop, F.lit("stopword_heavy")),
    )
    return j.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("rep_ratio", 6).alias("rep_ratio"),
        (~(short | repet | stop)).alias("keep"),
        reasons.alias("reasons"),
    )


QUALITY_FILTER_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
),
base AS (
  SELECT doc_id, len(tk) AS n_tokens,
         len(list_filter(tk, t -> t IN ('a', 'the'))) AS n_stop
  FROM toks
),
tri AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(1, len(tk) - 1)),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tri
  FROM toks WHERE len(tk) >= 3
),
per_tri AS (SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2),
rep AS (
  SELECT doc_id, 1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
  FROM per_tri GROUP BY doc_id
),
j AS (
  SELECT b.doc_id, b.n_tokens, b.n_stop, COALESCE(r.rep_ratio, 0.0) AS rep_ratio
  FROM base b LEFT JOIN rep r USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, ROUND(rep_ratio, 6) AS rep_ratio,
       NOT (n_tokens < 20 OR rep_ratio > 0.2 OR n_stop / CAST(n_tokens AS DOUBLE) > 0.3) AS keep,
       concat_ws(',',
         CASE WHEN n_tokens < 20 THEN 'too_short' END,
         CASE WHEN rep_ratio > 0.2 THEN 'repetitive' END,
         CASE WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.3 THEN 'stopword_heavy' END) AS reasons
FROM j
"""


QUERIES.update(
    {
        "text_decontaminate": text_decontaminate,
        "quality_filter": quality_filter,
    }
)
ORACLES.update(
    {
        "text_decontaminate": TEXT_DECONTAMINATE_SQL,
        "quality_filter": QUALITY_FILTER_SQL,
    }
)


# ---------------------------------------------------------------------------
# Data mixing and end-to-end dedup decisions
# ---------------------------------------------------------------------------

def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget for mixture reweighting: doc/token counts,
    the source's share of corpus tokens, and the up/down-sampling weight
    that moves the mixture to uniform-over-sources (capped at 10x — the
    usual guard against minting thousands of epochs of a tiny source).

    One aggregation keyed by source; the corpus totals land as a
    broadcast 1-row cross join rather than an unpartitioned window —
    'source' can be a per-domain key with millions of values at crawl
    scale, and a single-partition window over the per-source frame
    would funnel every one of them through one task
    (tools/lint_plans.py flags exactly that shape)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.count("*").alias("n_sources")
    )
    share = F.col("n_tokens") / F.col("tot_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(F.least(target / share, F.lit(10.0)), 6).alias("sample_weight"),
    )


SOURCE_MIXTURE_SQL = r"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / SUM(n_tokens) OVER (), 6) AS token_share,
       ROUND(LEAST((1.0 / COUNT(*) OVER ()) / (n_tokens / SUM(n_tokens) OVER ()), 10.0), 6)
         AS sample_weight
FROM per
"""


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final emission: every document with its
    near-dup cluster id and the keep/drop decision (survivor = smallest
    doc_id in the cluster; singletons keep themselves). Left join of the
    corpus against the component labels — at scale the component table
    is a small fraction of the corpus (only docs that appeared in a
    near-dup pair), so AQE broadcasts it. Pairs come from the df-capped
    graph (:func:`_neardup_pairs`) — the uncapped postings self-join
    goes quadratic on one hot shingle at corpus scale."""
    from csdid_pyspark_spark.cache import release_cache

    d = load_table(spark, sf_dir, "documents")
    # as in dedup_components: components() is eager, so release the
    # pair frame's postings persist before discarding the frame
    pairs = _neardup_pairs(d)
    labels = dedup.components(pairs)
    release_cache(pairs)
    comp = labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("comp")
    )
    return (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("comp_id"),
            (F.coalesce("comp", "doc_id") == F.col("doc_id")).alias("keep"),
        )
    )


DEDUP_KEEP_LIST_SQL = r"""
WITH RECURSIVE """ + _NEARDUP_PAIRS_CTES + r""",
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.r
),
comp AS (SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp_id,
       COALESCE(c.comp, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


QUERIES.update(
    {
        "source_mixture": source_mixture,
        "dedup_keep_list": dedup_keep_list,
    }
)
ORACLES.update(
    {
        "source_mixture": SOURCE_MIXTURE_SQL,
        "dedup_keep_list": DEDUP_KEEP_LIST_SQL,
    }
)


# ---------------------------------------------------------------------------
# Sequence packing (fixed token-budget context windows)
# ---------------------------------------------------------------------------

def pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-allowed sequence packing: per-source token-stream offsets
    and bin spans at a 2048-token budget, via the two-phase distributed
    prefix scan in ``operators/packing.py`` (no per-stream reducer —
    the shape that survives a dominant source at 100 TB). The oracle
    expresses the same semantics as a SQL window cumsum."""
    d = load_table(spark, sf_dir, "documents").withColumn("tok_len", token_count("text"))
    return packing.packed_offsets(d, "tok_len", stream_col="source", id_col="doc_id", budget=2048)


PACK_OFFSETS_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok_len
  FROM documents
),
c AS (
  SELECT doc_id, source, tok_len,
         CAST(SUM(tok_len) OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - tok_len AS BIGINT) AS start_offset
  FROM toks
)
SELECT doc_id, source, CAST(tok_len AS INT) AS tok_len, start_offset,
       CAST(FLOOR(start_offset / 2048) AS BIGINT) AS first_bin,
       CAST(FLOOR((start_offset + tok_len - 1) / 2048)
            - FLOOR(start_offset / 2048) + 1 AS INT) AS n_bins
FROM c
"""


def pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing (documents never split; close the bin
    when the next doc would overflow a 256-token budget). The running
    fill-with-reset is not window-expressible, so the engine runs an
    Arrow-batched ``applyInPandas`` per source; the oracle replays the
    same recurrence as a recursive CTE."""
    d = load_table(spark, sf_dir, "documents").withColumn("tok_len", token_count("text"))
    return packing.pack_greedy(d, "tok_len", stream_col="source", id_col="doc_id", budget=256)


PACK_GREEDY_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok_len
  FROM documents
),
ordered AS (
  SELECT doc_id, source, tok_len,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM toks
),
rec AS (
  SELECT doc_id, source, tok_len, rn,
         CAST(0 AS BIGINT) AS bin, tok_len AS bin_fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.source, o.tok_len, o.rn,
         CASE WHEN r.bin_fill + o.tok_len > 256 THEN r.bin + 1 ELSE r.bin END,
         CASE WHEN r.bin_fill + o.tok_len > 256 THEN o.tok_len
              ELSE r.bin_fill + o.tok_len END
  FROM rec r JOIN ordered o ON o.source = r.source AND o.rn = r.rn + 1
)
SELECT doc_id, source, CAST(tok_len AS INT) AS tok_len, bin, bin_fill FROM rec
"""


QUERIES.update(
    {
        "pack_offsets": pack_offsets,
        "pack_greedy": pack_greedy,
    }
)
ORACLES.update(
    {
        "pack_offsets": PACK_OFFSETS_SQL,
        "pack_greedy": PACK_GREEDY_SQL,
    }
)


# ---------------------------------------------------------------------------
# PII redaction, paragraph-level dedup, n-gram LM quality scoring
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrubbing (emails, phone-like digit runs, IPv4) with
    per-class hit counts — the standard pre-training redaction pass.
    Pure `regexp_replace`/`regexp_count` column expressions: one scan,
    no shuffle, no UDF; the patterns are dialect-portable so DuckDB
    reproduces byte-identical redacted text."""
    d = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("int").alias("n_email"),
        F.regexp_count("text", F.lit(_PII_IP)).cast("int").alias("n_ip"),
        F.md5(red).alias("redacted_hash"),
        F.length(red).cast("int").alias("redacted_len"),
    )


PII_REDACT_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS INT) AS redacted_len
FROM documents
"""


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb/C4 line-dedup shape):
    explode sentence-ish units, fingerprint each, and report per-unit
    frequency with the survivor (minimum doc_id). At 100 TB this is one
    explode + one hash-shuffle aggregation on the fingerprint — the
    explode multiplies rows but each row is a short hash, not the text."""
    d = load_table(spark, sf_dir, "documents")
    para = (
        d.select("doc_id", F.explode(F.split("text", r"\.\s+")).alias("p"))
        .select("doc_id", F.trim("p").alias("p"))
        .filter(F.length("p") >= 20)
    )
    return (
        para.groupBy(F.md5(F.lower("p")).alias("p_hash"))
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("survivor_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


DEDUP_PARAGRAPHS_SQL = r"""
WITH para AS (
  SELECT doc_id, trim(p) AS p
  FROM (SELECT doc_id, UNNEST(string_split_regex(text, '\.\s+')) AS p FROM documents)
  WHERE length(trim(p)) >= 20
)
SELECT md5(lower(p)) AS p_hash,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS survivor_doc
FROM para
GROUP BY 1
HAVING COUNT(*) > 1
"""


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics language-model proxy score (the KenLM-style
    quality signal without an external model): per-document mean log10
    corpus frequency of its bigrams. Rare/garbled text scores low,
    formulaic boilerplate scores high. Two aggregations: corpus bigram
    counts (one shuffle), then a join back to per-doc bigrams and a
    per-doc mean. The bigram table is corpus-wide state that AQE can
    broadcast when small and shuffle-join when not — no forced hint."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim("text")), r"\s+")
    grams = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - 2),
                    lambda i: F.concat_ws(" ", F.element_at(tk, i + 1), F.element_at(tk, i + 2)),
                ),
                lambda s: s != "",
            )
        ).alias("bigram"),
    ).filter(F.size(tk) >= 2)
    counts = grams.groupBy("bigram").agg(F.count("*").alias("cnt"))
    return (
        grams.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log10("cnt")), 6).alias("lm_score"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )


LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tokens FROM documents
),
grams AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(tokens)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
  FROM toks WHERE len(tokens) >= 2
),
counts AS (SELECT bigram, COUNT(*) AS cnt FROM grams GROUP BY 1)
SELECT doc_id, ROUND(AVG(log10(cnt)), 6) AS lm_score, COUNT(*) AS n_bigrams
FROM grams JOIN counts USING (bigram)
GROUP BY doc_id
"""


QUERIES.update(
    {
        "pii_redact": pii_redact,
        "dedup_paragraphs": dedup_paragraphs,
        "lm_score": lm_score,
    }
)
ORACLES.update(
    {
        "pii_redact": PII_REDACT_SQL,
        "dedup_paragraphs": DEDUP_PARAGRAPHS_SQL,
        "lm_score": LM_SCORE_SQL,
    }
)


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity filter (train on a reference slice,
# score everything, gate)
# ---------------------------------------------------------------------------

# interpolation / smoothing constants and the keep gate — exact halves
# and short decimals so both engines parse identical doubles
_LM_LAMBDA = 0.9
_LM_ALPHA = 0.5
_LM_PPL_KEEP = 32.0


def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM perplexity filter (Wenzek et al. 2020,
    "CCNet: Extracting high quality monolingual datasets from web
    crawl data" — the standard LLM-curation quality op): train an
    interpolated bigram LM on a REFERENCE slice of the corpus (the
    deterministic md5-fingerprint half, same family as docs_split_*),
    score EVERY document by perplexity under it, and gate. Unlike
    lm_score (corpus-frequency proxy over the whole corpus), this is a
    held-out probability model:

        p(w2|w1) = λ·c₂(w1,w2)/c₁(w1)                (ML bigram)
                 + (1-λ)·(c₁(w2)+α)/(N+α·(V+1))      (add-α unigram,
                                                      +1 OOV bucket)
        ppl(doc) = exp(−avg over bigram positions of ln p)

    with λ=0.9, α=0.5 trained ONLY on reference-slice counts; unseen
    bigrams back off to the smoothed unigram, unseen words to the α
    floor, so garbled/out-of-domain text gets high perplexity. `keep`
    gates at ppl ≤ 32 — calibrated to this corpus's perplexity range
    (26-43) so both branches are exercised and oracle-checked; a
    production deployment calibrates the cut per corpus/language the
    way CCNet does (head/middle/tail perplexity terciles). Docs
    shorter than 2 tokens never enter — no bigram positions.

    All probabilities are built from integer counts through mirrored
    double arithmetic (exact halves, shared decimal literals), so ln
    sees bit-identical inputs in both engines — the long-green TF-IDF
    libm pattern; output rounds at 6dp.

    Scale shape: two map-side-combinable count aggregations over the
    reference slice (unigram, bigram — state bounded by observed
    vocab, not corpus size), then the doc-side bigram explode joins
    the count tables (AQE broadcasts them when small, shuffle-joins
    when not) and ONE per-doc aggregation. No UDFs, no driver-side
    model object — the "LM" is two count tables, which is what makes
    this runnable at 100 TB where a KenLM binary per executor would
    not be."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim("text")), r"\s+")
    toks = d.filter(F.size(tk) >= 2).select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8",
            1,
        ).otherwise(0).alias("is_ref"),
        tk.alias("tokens"),
    )
    uni = (
        toks.filter(F.col("is_ref") == 1)
        .select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    tot = uni.agg(
        F.sum("c1").cast("bigint").alias("n_tok"),
        F.count("*").cast("bigint").alias("v"),
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("tokens") - 2),
        lambda i: F.struct(
            F.element_at("tokens", i + 1).alias("w1"),
            F.element_at("tokens", i + 2).alias("w2"),
        ),
    )
    grams = toks.select(
        "doc_id", "is_ref", F.explode(pairs).alias("p")
    ).select("doc_id", "is_ref", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = (
        grams.filter(F.col("is_ref") == 1)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    scored = (
        grams.join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1")), "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2")), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    p_big = F.when(
        F.col("c2").isNotNull() & F.col("c1_w1").isNotNull(),
        F.col("c2") / F.col("c1_w1"),
    ).otherwise(F.lit(0.0))
    p_uni = (F.coalesce(F.col("c1_w2"), F.lit(0)) + F.lit(_LM_ALPHA)) / (
        F.col("n_tok") + F.lit(_LM_ALPHA) * (F.col("v") + 1)
    )
    # NOT 1.0 - _LM_LAMBDA: that computes 0.09999999999999998, a
    # different double from the SQL oracle's literal 0.1
    lp = F.log(F.lit(_LM_LAMBDA) * p_big + F.lit(0.1) * p_uni)
    return (
        scored.groupBy("doc_id", "is_ref")
        .agg(
            F.round(F.exp(-F.avg(lp)), 6).alias("ppl"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "is_ref",
            "n_bigrams",
            "ppl",
            F.when(F.col("ppl") <= _LM_PPL_KEEP, 1).otherwise(0).alias("keep"),
        )
    )


QUALITY_LM_PPL_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS is_ref,
         string_split_regex(lower(trim(text)), '\s+') AS tokens
  FROM documents
  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2
),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT UNNEST(tokens) AS w FROM toks WHERE is_ref = 1)
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n_tok, CAST(COUNT(*) AS BIGINT) AS v
  FROM uni
),
grams AS (
  SELECT doc_id, is_ref,
         UNNEST(list_transform(range(1, len(tokens)), i -> tokens[i])) AS w1,
         UNNEST(list_transform(range(1, len(tokens)), i -> tokens[i+1])) AS w2
  FROM toks
),
big AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM grams WHERE is_ref = 1 GROUP BY 1, 2
),
scored AS (
  SELECT g.doc_id, g.is_ref,
         LN(CAST(0.9 AS DOUBLE) *
            (CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
                  THEN b.c2 / u1.c1 ELSE CAST(0 AS DOUBLE) END)
          + CAST(0.1 AS DOUBLE) *
            ((COALESCE(u2.c1, 0) + CAST(0.5 AS DOUBLE))
             / (t.n_tok + CAST(0.5 AS DOUBLE) * (t.v + 1)))) AS lp
  FROM grams g
  LEFT JOIN big b ON b.w1 = g.w1 AND b.w2 = g.w2
  LEFT JOIN uni u1 ON u1.w = g.w1
  LEFT JOIN uni u2 ON u2.w = g.w2
  CROSS JOIN tot t
)
SELECT doc_id, is_ref, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(EXP(-AVG(lp)), 6) AS ppl,
       CASE WHEN ROUND(EXP(-AVG(lp)), 6) <= CAST(32.0 AS DOUBLE)
            THEN 1 ELSE 0 END AS keep
FROM scored GROUP BY 1, 2
"""

QUERIES["quality_lm_perplexity"] = quality_lm_perplexity
ORACLES["quality_lm_perplexity"] = QUALITY_LM_PPL_SQL


# ---------------------------------------------------------------------------
# Embedding int8 quantization (vector compression for ANN serving)
# ---------------------------------------------------------------------------

def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale) — the standard compression step before
    shipping vectors to an ANN index (4× smaller than float32). Pure
    array expressions over the embedding column; all arithmetic is
    promoted to double on BOTH engines so the rounded codes agree
    bit-for-bit. One scan, no shuffle.

    The code vector itself is emitted as an md5 digest of its
    space-joined decimal rendering (`q_md5`) rather than a raw array
    column: array-typed outputs crash pandas-side canonicalization in
    external comparators, and the digest is an equally strong
    bit-for-bit equality witness for the full int8 vector."""
    e = load_table(spark, sf_dir, "embeddings")
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    amax = F.array_max(absd)
    scale = F.greatest(amax / F.lit(127.0), F.lit(1e-30))
    q = F.transform("embedding", lambda x: F.round(x.cast("double") / scale).cast("int"))
    return e.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        F.md5(F.concat_ws(" ", q.cast("array<string>"))).alias("q_md5"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v).alias("q_sq_norm"),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         GREATEST(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale
  FROM embeddings
)
SELECT vec_id, ROUND(scale, 9) AS scale,
       md5(array_to_string(list_transform(embedding,
           x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) / scale) AS INT) AS VARCHAR)), ' ')) AS q_md5,
       CAST(list_sum(list_transform(embedding,
                x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) / scale) AS INT)
                     * CAST(ROUND(CAST(x AS DOUBLE) / scale) AS INT) AS BIGINT))) AS BIGINT) AS q_sq_norm
FROM s
"""


QUERIES["embedding_quantize"] = embedding_quantize
ORACLES["embedding_quantize"] = EMBEDDING_QUANTIZE_SQL


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (the "switch your pipeline here" query)
# ---------------------------------------------------------------------------

def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data curation decision per document, composing the
    individually-oracled stages: eval-split carve-out → exact-dedup
    survivorship → near-dup CONTAINMENT drop (a doc ≥80% inside a
    larger doc is boilerplate-wrapping/partial-crawl noise exact dedup
    misses) → quality gate → n-gram decontamination → deterministic
    train/holdout split. One status per doc with precedence
    eval_split > duplicate > contained > low_quality > contaminated >
    kept. The contained side of each pair is the SMALLER shingle set
    (ties: larger doc_id), so the superset document survives.

    Scale shape: every stage is a narrow per-doc signal joined back on
    doc_id — the composition adds joins, not new wide shuffles; the
    containment leg rides the same df-capped postings join as every
    pipeline dedup path (NEARDUP_MAX_DF)."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    base = d.select(
        "doc_id",
        fp.alias("fp"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("h"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("bigint")
            % 100
        ).alias("bucket"),
    )
    survivor = base.groupBy("fp").agg(F.min("doc_id").alias("survivor_id"))
    q = quality_filter(spark, sf_dir).select("doc_id", F.col("keep").alias("q_keep"), "n_tokens")
    contam = text_decontaminate(spark, sf_dir).select("doc_id", "contam_rate")
    cpairs = dedup.containment_pairs(
        d, n=3, threshold=0.8, max_df=NEARDUP_MAX_DF, with_sizes=True
    )
    contained = (
        cpairs.select(
            F.when(F.col("n_a") < F.col("n_b"), F.col("id_a"))
            .when(F.col("n_b") < F.col("n_a"), F.col("id_b"))
            .otherwise(F.greatest("id_a", "id_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("is_contained", F.lit(True))
    )
    j = (
        base.join(survivor, "fp")
        .join(q, "doc_id")
        .join(contam, "doc_id", "left")
        .join(contained, "doc_id", "left")
        .withColumn("contam_rate", F.coalesce("contam_rate", F.lit(0.0)))
        .withColumn("is_contained", F.coalesce("is_contained", F.lit(False)))
    )
    is_eval = F.col("h").isin("0", "1", "2", "3")
    status = (
        F.when(is_eval, "eval_split")
        .when(F.col("doc_id") != F.col("survivor_id"), "duplicate")
        .when(F.col("is_contained"), "contained")
        .when(~F.col("q_keep"), "low_quality")
        .when(F.col("contam_rate") > 0.1, "contaminated")
        .otherwise("kept")
    )
    from csdid_pyspark_spark.cache import carry_cache

    out = j.select(
        "doc_id",
        status.alias("status"),
        F.when(status == "kept", F.when(F.col("bucket") < 10, "holdout").otherwise("train"))
        .otherwise(F.lit(None).cast("string"))
        .alias("split"),
        "n_tokens",
    )
    # lazy over the containment postings persist: ride it to the result
    return carry_cache(out, cpairs)


CURATION_PIPELINE_SQL = r"""
WITH base AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS BIGINT) AS bucket,
         string_split_regex(trim(text), '\s+') AS tk
  FROM documents
),
survivor AS (SELECT fp, MIN(doc_id) AS survivor_id FROM base GROUP BY fp),
tri AS (
  SELECT doc_id, UNNEST(list_transform(range(1, GREATEST(len(tk) - 1, 1)),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS t
  FROM base WHERE len(tk) >= 3
),
rep AS (
  SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT t) AS DOUBLE) / COUNT(*) AS rep_ratio
  FROM tri GROUP BY doc_id
),
qual AS (
  SELECT b.doc_id,
         CAST(len(b.tk) AS INT) AS n_tokens,
         COALESCE(r.rep_ratio, 0.0) AS rep_ratio,
         CAST(len(list_filter(b.tk, x -> x IN ('a', 'the'))) AS DOUBLE) AS n_stop
  FROM base b LEFT JOIN rep r ON b.doc_id = r.doc_id
),
qkeep AS (
  SELECT doc_id, n_tokens,
         NOT (n_tokens < 20 OR rep_ratio > 0.2 OR n_stop / n_tokens > 0.3) AS q_keep
  FROM qual
),
grams AS (
  SELECT doc_id, h, UNNEST(list_transform(range(1, GREATEST(len(tk) - 3, 1)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS ng
  FROM base WHERE len(tk) >= 5
),
ev AS (SELECT DISTINCT ng FROM grams WHERE h IN ('0','1','2','3')),
contam AS (
  SELECT g.doc_id,
         CAST(SUM(CASE WHEN ev.ng IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS contam_rate
  FROM grams g LEFT JOIN ev ON g.ng = ev.ng
  WHERE g.h NOT IN ('0','1','2','3')
  GROUP BY g.doc_id
),
csh_all AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(tk) - 1, 1)),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM base WHERE len(tk) >= 3
),
chot AS (SELECT shingle FROM csh_all GROUP BY shingle HAVING COUNT(*) > {max_df}),
csh AS (SELECT csh_all.doc_id, csh_all.shingle FROM csh_all ANTI JOIN chot USING (shingle)),
csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
cinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
contained AS (
  SELECT DISTINCT CASE WHEN sa.n_sh < sb.n_sh THEN id_a
                       WHEN sb.n_sh < sa.n_sh THEN id_b
                       ELSE GREATEST(id_a, id_b) END AS doc_id
  FROM cinter
  JOIN csizes sa ON sa.doc_id = id_a
  JOIN csizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.8
),
final AS (
  SELECT b.doc_id, q.n_tokens,
         CASE
           WHEN b.h IN ('0','1','2','3') THEN 'eval_split'
           WHEN b.doc_id <> s.survivor_id THEN 'duplicate'
           WHEN ct.doc_id IS NOT NULL THEN 'contained'
           WHEN NOT q.q_keep THEN 'low_quality'
           WHEN COALESCE(c.contam_rate, 0.0) > 0.1 THEN 'contaminated'
           ELSE 'kept'
         END AS status,
         b.bucket
  FROM base b
  JOIN survivor s USING (fp)
  JOIN qkeep q ON b.doc_id = q.doc_id
  LEFT JOIN contam c ON b.doc_id = c.doc_id
  LEFT JOIN contained ct ON b.doc_id = ct.doc_id
)
SELECT doc_id, status,
       CASE WHEN status = 'kept'
            THEN CASE WHEN bucket < 10 THEN 'holdout' ELSE 'train' END
       END AS split,
       n_tokens
FROM final
""".format(max_df=NEARDUP_MAX_DF)


QUERIES["curation_pipeline"] = curation_pipeline
ORACLES["curation_pipeline"] = CURATION_PIPELINE_SQL


# ---------------------------------------------------------------------------
# Cohort retention and ordered funnel (event analytics shapes)
# ---------------------------------------------------------------------------

def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted per day-offset of return activity. Two aggregations and a
    broadcast-able cohort join keyed by user — the standard product-
    analytics rollup, linear in events at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


EVENTS_RETENTION_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
cohort AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY 1)
SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(d - cohort_day AS INT) AS day_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM e JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage's
    timestamp must follow the previous stage's first occurrence for the
    same user. Three per-user conditional-min aggregations chained by
    join — no window over the full event stream, so the plan stays a
    cascade of user-keyed shuffles that AQE co-partitions."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("vts"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("cts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    return (
        v.agg(F.count("*").alias("n"))
        .select(F.lit("1_view").alias("stage"), F.col("n").cast("bigint").alias("n_users"))
        .union(
            c.agg(F.count("*").alias("n")).select(
                F.lit("2_click").alias("stage"), F.col("n").cast("bigint").alias("n_users")
            )
        )
        .union(
            p.agg(F.count("*").alias("n")).select(
                F.lit("3_purchase").alias("stage"), F.col("n").cast("bigint").alias("n_users")
            )
        )
    )


EVENTS_FUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(e.ts) AS cts
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= v.vts GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ts) AS pts
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.cts GROUP BY 1)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT '2_click' AS stage, COUNT(*) AS n_users FROM c
UNION ALL
SELECT '3_purchase' AS stage, COUNT(*) AS n_users FROM p
"""


QUERIES.update(
    {
        "events_retention": events_retention,
        "events_funnel": events_funnel,
    }
)
ORACLES.update(
    {
        "events_retention": EVENTS_RETENTION_SQL,
        "events_funnel": EVENTS_FUNNEL_SQL,
    }
)


# ---------------------------------------------------------------------------
# Embedding L2 normalization (retrieval-prep unit vectors)
# ---------------------------------------------------------------------------

def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize every embedding (the standard prep before cosine
    retrieval / ANN indexing): per-vector L2 norm plus an md5 digest of
    the normalized vector rendered as ppm-scaled integers — integer
    rendering is bit-identical across engines, where raw float-to-string
    is not. Pure array expressions, one scan, no shuffle; the fold runs
    left-to-right on both engines so the norm is bit-equal too."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(sq)
    unit_ppm = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / norm * 1000000.0).cast("bigint"),
    )
    return e.filter(norm > 0).select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.md5(F.concat_ws(" ", unit_ppm.cast("array<string>"))).alias("unit_md5"),
    )


EMBEDDING_L2_SQL = r"""
WITH s AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
)
SELECT vec_id, ROUND(nrm, 6) AS l2_norm,
       md5(array_to_string(list_transform(embedding,
           x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) / nrm * 1000000.0) AS BIGINT) AS VARCHAR)), ' ')) AS unit_md5
FROM s WHERE nrm > 0
"""


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage (BPE-prep corpus statistic)
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 1000


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage of a top-K corpus vocabulary: what
    fraction of a doc's token INSTANCES a K-entry tokenizer vocabulary
    would cover — the first statistic computed before training a
    BPE/unigram tokenizer. Two aggregations: a global token count
    (shuffle on token) reduced to a TakeOrdered top-K (never a global
    sort), then the K-row vocab broadcast back against the exploded
    corpus. Ties at the frequency boundary break on the token string so
    both engines pick the same vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(VOCAB_TOP_K)
        .select("tok")
        .withColumn("in_vocab", F.lit(1))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("bigint").alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_in_vocab",
            F.round(F.col("n_in_vocab") / F.col("n_tok"), 6).alias("coverage"),
        )
    )


VOCAB_COVERAGE_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM toks GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 1000
)
SELECT t.doc_id, COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
       ROUND(CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS coverage
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Blocked near-dup pairs (same-source blocking key)
# ---------------------------------------------------------------------------

def dedup_blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs restricted to documents from the SAME source —
    the standard blocking strategy when near-dups are known to stay
    within a site/domain/shard: the blocking key rides in the postings
    self-join condition, cutting candidate volume from O(df²) per
    shingle to O(Σ df_block²) and splitting hot shingles across blocks
    (operators/dedup.py::jaccard_pairs block_col)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        d, n=3, threshold=0.5, max_df=NEARDUP_MAX_DF, block_col="source"
    )


DEDUP_BLOCKED_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, source,
         UNNEST(list_transform(range(1, GREATEST(len(tokens) - 1, 1)),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM toks WHERE len(tokens) >= 3
),
hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > %d),
sh AS (SELECT sh_all.doc_id, sh_all.source, sh_all.shingle FROM sh_all ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
""" % NEARDUP_MAX_DF


QUERIES.update(
    {
        "embedding_l2_normalize": embedding_l2_normalize,
        "vocab_coverage": vocab_coverage,
        "dedup_blocked_jaccard": dedup_blocked_jaccard,
    }
)
ORACLES.update(
    {
        "embedding_l2_normalize": EMBEDDING_L2_SQL,
        "vocab_coverage": VOCAB_COVERAGE_SQL,
        "dedup_blocked_jaccard": DEDUP_BLOCKED_SQL,
    }
)


# ---------------------------------------------------------------------------
# Token-length histogram (packing-budget tuning)
# ---------------------------------------------------------------------------

def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token-wide histogram of document lengths — the first thing a
    pipeline engineer looks at before choosing a packing budget or a
    truncation threshold. One scan, one tiny aggregation; the bucket
    arithmetic is a column expression so the scan stays whole-stage
    codegen."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    bucket = (F.floor(n_tok / 64) * 64).cast("bigint")
    return (
        d.select(bucket.alias("bucket_start"), n_tok.alias("n_tok"))
        .groupBy("bucket_start")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


TOKEN_LENGTH_HIST_SQL = r"""
SELECT CAST(FLOOR(len(string_split_regex(trim(text), '\s+')) / 64) * 64 AS BIGINT) AS bucket_start,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Near-dup rate by source (dedup diagnostics)
# ---------------------------------------------------------------------------

def neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do the near-dups live? Per source: document count, pairs
    with BOTH endpoints in the source, pairs crossing into another
    source — the diagnostic that decides whether blocking dedup by
    source (dedup_blocked_jaccard) is safe. Built on the df-capped pair
    graph; the doc→source map joins broadcast-small onto the pair
    list."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _neardup_pairs(d)
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "src_a"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "src_b"), "id_b")
    )
    # ONE pass over the labeled pair graph: the old unionAll of two
    # projections re-ran the pair-generation join + both source joins
    # once per branch (guide §2.4); explode(array(...)) emits the same
    # (endpoint source, same-source flag) multiset from one execution.
    per_side = lab.select(
        F.explode(F.array("src_a", "src_b")).alias("source"),
        (F.col("src_a") == F.col("src_b")).alias("same"),
    )
    counts = per_side.groupBy("source").agg(
        (F.sum(F.when(F.col("same"), 1).otherwise(0)) / 2).cast("bigint").alias("n_pairs_within"),
        F.sum(F.when(F.col("same"), 0).otherwise(1)).cast("bigint").alias("n_pairs_cross"),
    )
    docs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    from csdid_pyspark_spark.cache import carry_cache

    out = (
        docs.join(counts, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_pairs_within", F.lit(0)).alias("n_pairs_within"),
            F.coalesce("n_pairs_cross", F.lit(0)).alias("n_pairs_cross"),
        )
    )
    # the result is lazy over the pair graph, so the postings persist
    # must ride to the frame the caller releases after its action
    return carry_cache(out, pairs)


NEARDUP_RATE_SQL = r"""
WITH """ + _NEARDUP_PAIRS_CTES + r""",
lab AS (
  SELECT p.id_a, p.id_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
),
per_side AS (
  SELECT src_a AS source, (src_a = src_b) AS same FROM lab
  UNION ALL
  SELECT src_b AS source, (src_a = src_b) AS same FROM lab
),
counts AS (
  SELECT source,
         CAST(SUM(CASE WHEN same THEN 1 ELSE 0 END) / 2 AS BIGINT) AS n_pairs_within,
         CAST(SUM(CASE WHEN same THEN 0 ELSE 1 END) AS BIGINT) AS n_pairs_cross
  FROM per_side GROUP BY source
)
SELECT d.source, COUNT(*) AS n_docs,
       COALESCE(ANY_VALUE(c.n_pairs_within), 0) AS n_pairs_within,
       COALESCE(ANY_VALUE(c.n_pairs_cross), 0) AS n_pairs_cross
FROM documents d LEFT JOIN counts c ON c.source = d.source
GROUP BY d.source
"""


QUERIES.update(
    {
        "token_length_histogram": token_length_histogram,
        "neardup_rate_by_source": neardup_rate_by_source,
    }
)
ORACLES.update(
    {
        "token_length_histogram": TOKEN_LENGTH_HIST_SQL,
        "neardup_rate_by_source": NEARDUP_RATE_SQL,
    }
)


# ---------------------------------------------------------------------------
# Per-group linear trend (regression-by-aggregation)
# ---------------------------------------------------------------------------

def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time: slope/intercept
    from the closed-form least-squares identities (cov/var), computed
    entirely with JVM-side aggregates in ONE shuffle — the grouped-
    regression shape that needs no per-group model loop and no UDF.
    x = hours since epoch (exact integer micros → double division, so
    both engines see bit-identical regressors)."""
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(3_600_000_000.0)).alias("x")
    d = e.select(F.col("event_type"), x, F.col("value").alias("y"))
    # Zero-variance guard: on a degenerate group Spark's non-ANSI
    # division yields NULL while DuckDB's IEEE division yields inf/nan;
    # guarding BOTH sides (NULLIF in the oracle) keeps them aligned.
    slope = F.when(
        F.var_pop("x") != 0, F.covar_pop("x", "y") / F.var_pop("x")
    )
    return d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(slope, 8).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 6).alias("intercept"),
        F.round(F.corr("x", "y"), 6).alias("r"),
    )


EVENTS_TREND_SQL = """
WITH d AS (
  SELECT event_type, EPOCH_US(ts) / 3600000000.0 AS x, value AS y FROM events
)
SELECT event_type, COUNT(*) AS n,
       ROUND(COVAR_POP(x, y) / NULLIF(VAR_POP(x), 0), 8) AS slope,
       ROUND(AVG(y) - (COVAR_POP(x, y) / NULLIF(VAR_POP(x), 0)) * AVG(x), 6) AS intercept,
       ROUND(CORR(x, y), 6) AS r
FROM d GROUP BY event_type
"""


QUERIES["events_value_trend"] = events_value_trend
ORACLES["events_value_trend"] = EVENTS_TREND_SQL


# ---------------------------------------------------------------------------
# Forward + tolerance-bounded as-of joins (the operator's other modes)
# ---------------------------------------------------------------------------

def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each view matched to the user's NEXT purchase at
    or after it — time-to-conversion attribution. Same single-shuffle
    union-window plan as the backward direction (operators/asof.py);
    DuckDB's native ASOF can only look backward, so the oracle flips
    the time axis (negated epoch) to express the forward match."""
    from csdid_pyspark_spark.operators import asof

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.col("value").alias("view_value")
    )
    buys = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    j = asof.asof_join(
        views, buys, on="user_id", ts_col="ts",
        value_cols=["purchase_value"], direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.round("view_value", 4).alias("view_value"),
        F.round("purchase_value", 4).alias("purchase_value"),
        (F.unix_micros("ts_right") - F.unix_micros("ts")).alias("us_to_purchase"),
    )


ASOF_FORWARD_SQL = """
WITH views AS (
  SELECT event_id, user_id, -EPOCH_US(ts) AS nts, value FROM events WHERE event_type = 'view'
),
buys AS (
  SELECT user_id, -EPOCH_US(ts) AS nts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT v.event_id, v.user_id, ROUND(v.value, 4) AS view_value,
       ROUND(b.purchase_value, 4) AS purchase_value,
       v.nts - b.nts AS us_to_purchase
FROM views v ASOF LEFT JOIN buys b
  ON v.user_id = b.user_id AND v.nts >= b.nts
"""


def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 30-minute tolerance: a click only matches
    a view within the attribution window; older matches null out. The
    tolerance is a post-window filter on the matched timestamp — the
    plan is identical to the unbounded as-of (one shuffle per side)."""
    from csdid_pyspark_spark.operators import asof

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    j = asof.asof_join(
        clicks, views, on="user_id", ts_col="ts",
        value_cols=["view_value"], tolerance_us=30 * 60 * 1_000_000,
    )
    return j.select(
        "event_id",
        "user_id",
        F.round("click_value", 4).alias("click_value"),
        F.round("view_value", 4).alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("us_since_view"),
    )


ASOF_TOLERANCE_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
m AS (
  SELECT c.event_id, c.user_id, c.value AS click_value, v.view_value,
         EPOCH_US(c.ts) - EPOCH_US(v.ts) AS us_since_view
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT event_id, user_id, ROUND(click_value, 4) AS click_value,
       CASE WHEN us_since_view <= 1800000000 THEN ROUND(view_value, 4) END AS view_value,
       CASE WHEN us_since_view <= 1800000000 THEN us_since_view END AS us_since_view
FROM m
"""


QUERIES.update(
    {
        "events_asof_forward": events_asof_forward,
        "events_asof_tolerance": events_asof_tolerance,
    }
)
ORACLES.update(
    {
        "events_asof_forward": ASOF_FORWARD_SQL,
        "events_asof_tolerance": ASOF_TOLERANCE_SQL,
    }
)


# ---------------------------------------------------------------------------
# Incremental dedup: a new snapshot (delta) against the existing corpus
# ---------------------------------------------------------------------------

# per-session corpus postings indexes, keyed by (applicationId,
# absolute sf_dir) — the same build-once lifecycle as the IVF-PQ index
_POSTINGS_IDX: dict[tuple[str, str], tuple[str, str]] = {}
_POSTINGS_CLEANUP_REGISTERED = False


def _corpus_postings_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per session) the bucketed corpus postings index for
    the sf_dir's documents corpus; returns (table, path)."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    global _POSTINGS_CLEANUP_REGISTERED
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _POSTINGS_IDX.get(key)
    if cached is not None:
        return cached
    src_key = hashlib.md5(key[1].encode()).hexdigest()[:10]
    table = f"dedup_postings_{src_key}"
    path = tempfile.mkdtemp(prefix="spark_graft_postings_")
    if not _POSTINGS_CLEANUP_REGISTERED:

        def _cleanup() -> None:
            for _, p in _POSTINGS_IDX.values():
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
        _POSTINGS_CLEANUP_REGISTERED = True
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    dedup.build_postings_index(
        corpus, table, path, n=3, max_df=NEARDUP_MAX_DF
    )
    _POSTINGS_IDX[key] = (table, path)
    return table, path


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: every tenth document plays the DELTA batch
    (the day's crawl) and the rest the existing CORPUS; a delta doc is a
    near-dup if its shingle Jaccard against ANY corpus doc clears 0.5.

    The corpus side is a MAINTAINED INDEX, not a per-call computation
    (operators/dedup.py::build_postings_index — built once per session
    here, standing state in a deployment): hot-filtered postings
    bucketed by shingle on disk, plus stored hot-shingle and exact
    size tables. A probe (jaccard_pairs_against_index) pays delta-side
    work only — the intersection join reads the bucketed corpus scan
    with ZERO corpus-side exchange, which is the whole economics of
    ingestion-time dedup at 100 TB: the index shuffle is paid once at
    build/maintenance, each day's crawl shuffles only itself. Pairs
    only delta × corpus — never corpus × corpus."""
    d = load_table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 10 == 0)
    table, path = _corpus_postings_index(spark, sf_dir)
    return dedup.jaccard_pairs_against_index(
        delta, table, path, n=3, threshold=0.5
    )


DEDUP_INCREMENTAL_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(tokens) - 1, 1)),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM toks WHERE len(tokens) >= 3
),
sh_c_all AS (SELECT doc_id, shingle FROM sh_all WHERE mod(doc_id, 10) <> 0),
hot AS (SELECT shingle FROM sh_c_all GROUP BY shingle HAVING COUNT(*) > %d),
sh_d AS (
  SELECT s.doc_id, s.shingle FROM sh_all s ANTI JOIN hot USING (shingle)
  WHERE mod(s.doc_id, 10) = 0
),
sh_c AS (SELECT s.doc_id, s.shingle FROM sh_c_all s ANTI JOIN hot USING (shingle)),
sizes_d AS (SELECT doc_id, COUNT(*) AS n_d FROM sh_d GROUP BY doc_id),
sizes_c AS (SELECT doc_id, COUNT(*) AS n_c FROM sh_c GROUP BY doc_id),
inter AS (
  SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id, COUNT(*) AS n_inter
  FROM sh_d d JOIN sh_c c ON d.shingle = c.shingle
  GROUP BY 1, 2
)
SELECT delta_id, corpus_id,
       ROUND(CAST(n_inter AS DOUBLE) / (sd.n_d + sc.n_c - n_inter), 6) AS jaccard
FROM inter
JOIN sizes_d sd ON sd.doc_id = delta_id
JOIN sizes_c sc ON sc.doc_id = corpus_id
WHERE CAST(n_inter AS DOUBLE) / (sd.n_d + sc.n_c - n_inter) >= 0.5
""" % NEARDUP_MAX_DF


QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# ---------------------------------------------------------------------------
# Cross-document repeated spans (exact-substring dedup primitive)
# ---------------------------------------------------------------------------

REPEATED_SPAN_W = 10


def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token spans of width W that recur across documents — the
    primitive behind exact-substring dedup (cut memorized spans out of
    training text, not whole documents). Every W-token window is hashed
    (md5 of the space-joined span — portable to the oracle), one
    explode + one groupBy(span) shuffle; spans seen in ≥2 distinct docs
    survive. Linear in corpus token count at any scale, and the hot
    spans the shuffle concentrates are exactly the boilerplate being
    hunted. Unlike text_winnow_fingerprint (sampled fingerprints for
    doc-level matching), this is the full-fidelity span table."""
    w = REPEATED_SPAN_W
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tokens"))
    spans = F.expr(
        f"CASE WHEN size(tokens) >= {w} "
        f"THEN transform(sequence(0, size(tokens) - {w}), "
        f"i -> md5(concat_ws(' ', slice(tokens, i + 1, {w})))) "
        f"ELSE array() END"
    )
    return (
        d.select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


TEXT_REPEATED_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
spans AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(tokens) - %d + 2),
                               i -> md5(array_to_string(tokens[i:i + %d - 1], ' ')))) AS span
  FROM toks WHERE len(tokens) >= %d
)
SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ, MIN(doc_id) AS first_doc
FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
""" % (REPEATED_SPAN_W, REPEATED_SPAN_W, REPEATED_SPAN_W)


QUERIES["text_repeated_spans"] = text_repeated_spans
ORACLES["text_repeated_spans"] = TEXT_REPEATED_SPANS_SQL


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic dedup over embeddings
# ---------------------------------------------------------------------------

def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-stats per cluster: within each ``label`` cluster,
    a vector with a lower-id neighbor at cosine >= 0.4 is dropped; the
    rest survive. The pair search is an equi-join on the cluster key
    (operators/similarity.py::semantic_dedup_pairs) — O(sum c_i^2),
    bounded by cluster granularity, never a global n^2 — which is
    exactly how SemDeDup scales semantic dedup to web corpora: k-means
    first, pairwise cosine only inside each cluster."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.semantic_dedup_pairs(e, cluster_col="label", threshold=0.4)
    dupes = pairs.groupBy("label").agg(
        F.countDistinct("id_b").alias("_nd")
    )
    base = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    nd = F.coalesce(F.col("_nd"), F.lit(0)).cast("bigint")
    return (
        base.join(dupes, "label", "left")
        .select(
            "label",
            "n_vecs",
            nd.alias("n_dupes"),
            (F.col("n_vecs") - nd).cast("bigint").alias("n_kept"),
        )
    )


DEDUP_SEMANTIC_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.label, b.vec_id AS dup
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
),
d AS (SELECT label, COUNT(DISTINCT dup) AS n_dupes FROM p GROUP BY 1),
base AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1)
SELECT base.label, base.n_vecs,
       CAST(COALESCE(d.n_dupes, 0) AS BIGINT) AS n_dupes,
       CAST(base.n_vecs - COALESCE(d.n_dupes, 0) AS BIGINT) AS n_kept
FROM base LEFT JOIN d ON base.label = d.label
"""


QUERIES["dedup_semantic"] = dedup_semantic
ORACLES["dedup_semantic"] = DEDUP_SEMANTIC_SQL


# ---------------------------------------------------------------------------
# Per-document token entropy / lexical diversity (quality filtering)
# ---------------------------------------------------------------------------

def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy (nats) + type-token ratio per document —
    the lexical-diversity signals a quality filter thresholds on
    (low-entropy text is boilerplate/spam; TTR near 0 is repetition).
    One explode + two partial-aggregated shuffles ((doc,token) then
    doc), each with map-side combine: entropy = ln(N) - sum(c*ln c)/N
    needs only per-(doc,token) counts, never a vocabulary broadcast,
    and the second shuffle moves one row per (doc,token), not per
    token occurrence."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n, 6
        ).alias("entropy"),
        F.round(F.count("*") / n, 6).alias("ttr"),
    )


TEXT_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       ROUND(LN(CAST(SUM(c) AS DOUBLE))
             - SUM(c * LN(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 6) AS entropy,
       ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr
FROM tf GROUP BY doc_id
"""


QUERIES["text_token_entropy"] = text_token_entropy
ORACLES["text_token_entropy"] = TEXT_TOKEN_ENTROPY_SQL


# ---------------------------------------------------------------------------
# Multimodal frame sampling (1→k fan-out plumbing over binary payloads)
# ---------------------------------------------------------------------------

def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame samples from every video asset via the
    Arrow mapInPandas fan-out operator; the oracle re-derives the
    deterministic fake-decode arithmetic (payload byte (i*31+j*7)%256,
    size-derived frame count) the same way multimodal_features does."""
    from csdid_pyspark_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, 256).filter(
        F.col("modality") == "video"
    )
    return multimodal.sample_frames(assets, max_frames=8, bytes_per_frame=64)


MULTIMODAL_FRAMES_SQL = """
WITH a AS (
  SELECT i, 128 + (i % 5) * 64 AS n_bytes
  FROM generate_series(0, 255) t(i) WHERE i % 3 = 2
),
f AS (SELECT i, n_bytes, LEAST(8, n_bytes // 64) AS k FROM a),
fr AS (SELECT i AS asset_id, n_bytes, k, UNNEST(range(0, k)) AS j FROM f)
SELECT asset_id,
       CAST(j AS INT) AS frame_idx,
       CAST(j * n_bytes // k AS INT) AS byte_offset,
       CAST((asset_id * 31 + (j * n_bytes // k) * 7) % 256 AS INT) AS frame_byte
FROM fr
"""


QUERIES["multimodal_frame_sample"] = multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = MULTIMODAL_FRAMES_SQL


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 100ms/80ms chunk windows over every audio asset via
    the Arrow fan-out operator (operators/multimodal.py::chunk_audio);
    the oracle re-derives the deterministic fake-decode arithmetic
    (duration = n_bytes*2 ms, payload byte (i*31+j*7)%256) exactly as
    the frame-sample oracle does."""
    from csdid_pyspark_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, 256).filter(
        F.col("modality") == "audio"
    )
    return multimodal.chunk_audio(assets, chunk_ms=100, stride_ms=80)


MULTIMODAL_CHUNKS_SQL = """
WITH a AS (
  SELECT i, 128 + (i % 5) * 64 AS n_bytes
  FROM generate_series(0, 255) t(i) WHERE i % 3 = 1
),
d AS (SELECT i, n_bytes, n_bytes * 2 AS dur,
             CASE WHEN n_bytes * 2 <= 100 THEN 1
                  ELSE 1 + (n_bytes * 2 - 100) // 80 END AS k
      FROM a),
ch AS (SELECT i AS asset_id, dur, UNNEST(range(0, k)) AS j FROM d)
SELECT asset_id,
       CAST(j AS INT) AS chunk_idx,
       CAST(j * 80 AS INT) AS start_ms,
       CAST(LEAST(j * 80 + 100, dur) AS INT) AS end_ms,
       CAST((asset_id * 31 + (j * 80 // 2) * 7) % 256 AS INT) AS chunk_byte
FROM ch
"""


QUERIES["multimodal_audio_chunks"] = multimodal_audio_chunks
ORACLES["multimodal_audio_chunks"] = MULTIMODAL_CHUNKS_SQL


# ---------------------------------------------------------------------------
# PageRank centrality over the near-dup pair graph (rank canonical
# representatives among duplicates by connectivity)
# ---------------------------------------------------------------------------

def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round power-iteration PageRank (d=0.85) over the df-capped
    near-dup pair graph (operators/graph.py::pagerank_undirected — one
    edge-join + dst-aggregation shuffle per round, constant lineage
    depth). The oracle unrolls the same five iterations as chained
    CTEs; ranks round to 8 decimals, far above the ~1e-14
    aggregation-order noise floor."""
    from csdid_pyspark_spark.cache import attach_cache, release_cache
    from csdid_pyspark_spark.operators.graph import pagerank_undirected

    d = load_table(spark, sf_dir, "documents")
    # pagerank materializes every round eagerly, so the postings
    # persist on the pair frame is consumed by return time; the final
    # rank vector comes back PERSISTED — attach it to the result so
    # the caller's release_cache reclaims it after the final action.
    pairs = _neardup_pairs(d)
    r = pagerank_undirected(pairs, iters=5, damping=0.85)
    release_cache(pairs)
    out = r.select(
        F.col("node").alias("doc_id"), F.round("rank", 8).alias("rank")
    )
    return attach_cache(out, r)


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    prev = "r0"
    body = """, nodes AS (SELECT id_a AS n FROM pairs UNION SELECT id_b AS n FROM pairs),
nn AS (SELECT COUNT(*) AS cnt FROM nodes),
ed AS (SELECT id_a AS s, id_b AS d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
deg AS (SELECT s, COUNT(*) AS deg FROM ed GROUP BY s),
r0 AS (SELECT n, 1.0 / (SELECT cnt FROM nn) AS r FROM nodes)"""
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT nodes.n,
         (1 - {damping}) / (SELECT cnt FROM nn)
         + {damping} * COALESCE(SUM({prev}.r / deg.deg), 0) AS r
  FROM nodes
  LEFT JOIN ed ON ed.d = nodes.n
  LEFT JOIN deg ON deg.s = ed.s
  LEFT JOIN {prev} ON {prev}.n = ed.s
  GROUP BY nodes.n
)"""
        prev = f"r{k}"
    return (
        "WITH "
        + _NEARDUP_PAIRS_CTES
        + body
        + f"\nSELECT n AS doc_id, ROUND(r, 8) AS rank FROM {prev}"
    )


DEDUP_PAGERANK_SQL = _pagerank_sql()


QUERIES["dedup_graph_pagerank"] = dedup_graph_pagerank
ORACLES["dedup_graph_pagerank"] = DEDUP_PAGERANK_SQL


# ---------------------------------------------------------------------------
# Built-in session_window sessionizer (the Structured-Streaming-native
# operator, vs the window-lag sessionizer in operators/sessionize.py)
# ---------------------------------------------------------------------------

def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session count and longest within-session activity span
    via Spark's native ``session_window`` (30-minute gap) — the same
    grouping a readStream pipeline gets with watermarked state, here
    exercised in batch. Oracle reproduces the gap semantics exactly: an
    event at >= gap after its predecessor opens a NEW session (Spark's
    window end is last_ts + gap, exclusive). Span is integral
    microseconds, so the comparison is engine-exact."""
    e = load_table(spark, sf_dir, "events")
    per_session = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.max("span_us").cast("bigint").alias("max_session_span_us"),
    )


EVENTS_SESSION_WINDOW_SQL = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
per_session AS (
  SELECT user_id, session_id,
         MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us
  FROM sess GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(MAX(span_us) AS BIGINT) AS max_session_span_us
FROM per_session GROUP BY user_id
"""


QUERIES["events_session_window_builtin"] = events_session_window_builtin
ORACLES["events_session_window_builtin"] = EVENTS_SESSION_WINDOW_SQL


# ---------------------------------------------------------------------------
# Per-document keyword extraction (top-k TF-IDF terms)
# ---------------------------------------------------------------------------

def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword/tag extraction
    step of a document-indexing pipeline. Reuses the no-vocabulary-
    broadcast TF-IDF shape (window df over the term key) and ranks
    INSIDE each document partition with row_number over the ROUNDED
    score (+ term tiebreak), so the cut is engine-deterministic and the
    per-doc state is bounded by the doc's own term count."""
    from pyspark.sql import Window

    scored = QUERIES["text_tfidf"](spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "tfidf")
    )


TEXT_KEYWORDS_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE len(term) > 0 GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (LN((nd.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf FROM ranked WHERE rk <= 3
"""


QUERIES["text_keywords"] = text_keywords
ORACLES["text_keywords"] = TEXT_KEYWORDS_SQL


# ---------------------------------------------------------------------------
# Declarative k-means over the embedding corpus
# ---------------------------------------------------------------------------

def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes after 5 declarative Lloyd iterations
    (operators/kmeans.py — assignment and centroid update as
    DataFrame passes, O(k·p) driver traffic per iteration).
    Deterministic on fixed data (lowest-id init, struct-tiebreak
    argmin); pinned VALUES golden."""
    from csdid_pyspark_spark.operators.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_lloyd(emb, "embedding", "vec_id", k=8, iters=5)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .select(F.col("cluster").cast("int").alias("cluster"), "n_members")
        .orderBy("cluster")
    )


QUERIES["embedding_kmeans"] = embedding_kmeans


# ---------------------------------------------------------------------------
# Robust per-source length outliers (median/MAD quality gate)
# ---------------------------------------------------------------------------

def quality_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier stats on document length: median and
    MAD (median absolute deviation), plus how many documents sit more
    than 3 MAD from the median — the robust alternative to mean/stddev
    gates, which a handful of giant documents would drag. Two grouped
    percentile passes with a broadcast join of the tiny per-source
    stats between them (source cardinality is bounded — a mixture
    config, not data-sized)."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    med = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("_med")
    )
    dev = d.join(F.broadcast(med), "source").withColumn(
        "_adev", F.abs(F.col("n_chars") - F.col("_med"))
    )
    # the 3-MAD count needs the finished MAD, so it is a second pass
    # over the deviation table, not an agg-of-agg in one pass
    return (
        dev.join(
            F.broadcast(
                dev.groupBy("source").agg(
                    F.expr("percentile(_adev, 0.5)").alias("_mad")
                )
            ),
            "source",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.first("_med"), 4).alias("med_chars"),
            F.round(F.first("_mad"), 4).alias("mad_chars"),
            F.sum(
                F.when(F.col("_adev") > 3 * F.col("_mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


QUALITY_OUTLIERS_SQL = """
WITH med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS m FROM documents GROUP BY 1
),
dev AS (
  SELECT d.source, d.n_chars, med.m, ABS(d.n_chars - med.m) AS adev
  FROM documents d JOIN med ON d.source = med.source
),
mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT dev.source,
       COUNT(*) AS n_docs,
       ROUND(MIN(dev.m), 4) AS med_chars,
       ROUND(MIN(mad.mad), 4) AS mad_chars,
       CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad ON dev.source = mad.source
GROUP BY dev.source
"""


QUERIES["quality_length_outliers"] = quality_length_outliers
ORACLES["quality_length_outliers"] = QUALITY_OUTLIERS_SQL


# ---------------------------------------------------------------------------
# Deterministic per-group reservoir sample (k docs per source)
# ---------------------------------------------------------------------------

def sample_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-source sample, content-addressed: rank docs inside
    each source by md5(doc_id) and keep the first 5. Unlike rand()
    sampling this is reproducible across engines/partitionings/reruns,
    and unlike a global hash-bucket filter it guarantees per-group
    quota — the shape eval-set carving needs. One window shuffle keyed
    by source; at scale the same plan holds because group count grows
    with the corpus while k stays fixed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", F.col("rk").cast("int").alias("rk"))
    )


SAMPLE_GROUP_RESERVOIR_SQL = """
SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 5
"""


QUERIES["sample_group_reservoir"] = sample_group_reservoir
ORACLES["sample_group_reservoir"] = SAMPLE_GROUP_RESERVOIR_SQL


# ---------------------------------------------------------------------------
# Per-document span novelty (boilerplate / memorization-risk score)
# ---------------------------------------------------------------------------

def text_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's W-token spans that appear in no
    other document — the per-doc counterpart of text_repeated_spans: a
    low novelty score means the document is mostly boilerplate shared
    with the rest of the corpus (dedup/memorization risk); 1.0 means
    fully unique text. Span df is aggregated (one row per span) and
    joined back to the occurrence table on the span key — both sides
    shuffle-partition on span with bounded per-key state, unlike a
    collect_set window, which would buffer every doc id of a hot
    boilerplate span in one task. No span-table broadcast anywhere —
    the same discipline as TF-IDF, so it holds at corpus scale."""
    w = REPEATED_SPAN_W
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tokens"))
    spans = F.expr(
        f"CASE WHEN size(tokens) >= {w} "
        f"THEN transform(sequence(0, size(tokens) - {w}), "
        f"i -> md5(concat_ws(' ', slice(tokens, i + 1, {w})))) "
        f"ELSE array() END"
    )
    sp = d.select("doc_id", F.explode(spans).alias("span"))
    sdf = sp.groupBy("span").agg(F.countDistinct("doc_id").alias("ddf"))
    scored = sp.join(sdf, "span").withColumn(
        "_novel", F.when(F.col("ddf") == 1, 1).otherwise(0)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("_novel").cast("bigint").alias("n_novel"),
        F.round(F.sum("_novel") / F.count("*").cast("double"), 6).alias("novelty"),
    )


TEXT_SPAN_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens FROM documents
),
spans AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(tokens) - %d + 2),
                               i -> md5(array_to_string(tokens[i:i + %d - 1], ' ')))) AS span
  FROM toks WHERE len(tokens) >= %d
),
sdf AS (SELECT span, COUNT(DISTINCT doc_id) AS ddf FROM spans GROUP BY 1)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN sdf.ddf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN sdf.ddf = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM spans s JOIN sdf ON s.span = sdf.span
GROUP BY s.doc_id
""" % (REPEATED_SPAN_W, REPEATED_SPAN_W, REPEATED_SPAN_W)


QUERIES["text_span_novelty"] = text_span_novelty
ORACLES["text_span_novelty"] = TEXT_SPAN_NOVELTY_SQL


# ---------------------------------------------------------------------------
# int8-quantized top-k similarity (the 4x-smaller-scan ANN path)
# ---------------------------------------------------------------------------

def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by int8-quantized dot product against vec_id=0: codes use
    the same symmetric per-vector quantization as embedding_quantize
    (scale = max|x|/127), the scan reads ONE byte per dimension instead
    of four — the memory-bandwidth trade that makes brute-force rescan
    viable at 100 TB — and the score de-quantizes as dot(q_a, q_b) ·
    scale_a · scale_b. Integer-valued dots are exact in doubles, so
    Spark and DuckDB order identically; tests measure recall against
    the float top-k (operator docs: operators/similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    scale = F.greatest(F.array_max(absd) / F.lit(127.0), F.lit(1e-30))
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") / scale).cast("double")
    )
    qv = e.select("vec_id", scale.alias("s"), q.alias("q"))
    probe = qv.filter(F.col("vec_id") == 0).select(
        F.col("s").alias("s0"), F.col("q").alias("q0")
    )
    dot = F.aggregate(
        F.zip_with("q", "q0", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        qv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            dot.cast("bigint").alias("dot_q"),
            F.round(dot * F.col("s") * F.col("s0"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


SIM_TOPK_INT8_SQL = """
WITH qv AS (
  SELECT vec_id,
         GREATEST(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS s,
         list_transform(embedding,
                  x -> round(CAST(x AS DOUBLE) /
                       GREATEST(list_max(list_transform(embedding,
                                y -> abs(CAST(y AS DOUBLE)))) / 127.0, 1e-30))) AS q
  FROM embeddings
),
probe AS (SELECT s AS s0, q AS q0 FROM qv WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_dot_product(qv.q, probe.q0) AS BIGINT) AS dot_q,
       ROUND(list_dot_product(qv.q, probe.q0) * qv.s * probe.s0, 6) AS score
FROM qv, probe
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
"""


QUERIES["sim_topk_int8"] = sim_topk_int8
ORACLES["sim_topk_int8"] = SIM_TOPK_INT8_SQL


# ---------------------------------------------------------------------------
# Marketing-style attribution and recency decay over the event stream
# ---------------------------------------------------------------------------

def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the most
    recent preceding view/click by the same user ('none' when the
    purchase has no prior touch). One window pass per user — the touch
    type propagates forward with last(ignorenulls) over (ts, event_id)
    order, so the stream is scanned once, partitioned by user, with no
    self-join; purchase value accumulates in DECIMAL so the per-channel
    totals are engine-exact."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touched = e.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


EVENTS_ATTRIBUTION_SQL = """
WITH touched AS (
  SELECT user_id, event_type, value,
         LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
  FROM events
)
SELECT COALESCE(touch, 'none') AS touch_type,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score per user: each event's value is
    discounted by exp(-0.05 · age_in_days) relative to the corpus's
    newest event — the freshness weighting a ranking/curation pipeline
    applies before mixing engagement into a quality score. The corpus
    max timestamp is a 1-row broadcast scalar; the score is a single
    user-keyed aggregation over integral microsecond arithmetic, so
    both engines compute identical exponents."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    mx = e.agg(F.unix_micros(F.max("ts")).alias("mx_us"))
    age_days = (F.col("mx_us") - F.unix_micros(F.col("ts"))) / F.lit(86400e6)
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * F.exp(-0.05 * age_days)), 6).alias(
                "decayed_value"
            ),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )


EVENTS_DECAYED_SQL = """
WITH mx AS (SELECT MAX(epoch_us(ts)) AS mx_us FROM events)
SELECT user_id,
       ROUND(SUM(value * EXP(-0.05 * ((mx.mx_us - epoch_us(ts)) / 86400e6))), 6)
         AS decayed_value,
       COUNT(*) AS n_events
FROM events, mx
GROUP BY user_id
"""


QUERIES.update(
    {
        "events_attribution_last_touch": events_attribution_last_touch,
        "events_decayed_value": events_decayed_value,
    }
)
ORACLES.update(
    {
        "events_attribution_last_touch": EVENTS_ATTRIBUTION_SQL,
        "events_decayed_value": EVENTS_DECAYED_SQL,
    }
)


# ---------------------------------------------------------------------------
# Distributed PCA over the embedding corpus (whitening / intrinsic-dim
# diagnostics before indexing)
# ---------------------------------------------------------------------------

def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal variances (covariance eigenvalues) of the
    embedding corpus with explained-variance ratios. The corpus is
    reduced to O(batches · p²) Gram partials executor-side
    (operators/gram.py — one Arrow batch → one partial row, the same
    fixed-driver-traffic shape as the estimator kernels); the 64×64
    eigendecomposition is driver numpy. Eigenvalues round to 4
    decimals so partition-layout float drift (~1e-12 relative) cannot
    surface; pinned VALUES golden."""
    from csdid_pyspark_spark.operators.gram import (
        covariance_from_partials,
        partial_gram,
    )

    rows = partial_gram(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    ).collect()
    n, cov = covariance_from_partials(rows)
    import numpy as np

    w = np.linalg.eigvalsh(cov)[::-1]
    trace = float(w.sum())
    out = [
        (i + 1, round(float(w[i]), 4), round(float(w[i] / trace), 4))
        for i in range(8)
    ]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, explained double"
    )


QUERIES["embedding_pca_variance"] = embedding_pca_variance


# ---------------------------------------------------------------------------
# Time-series grid: hourly gap-fill with linear interpolation
# ---------------------------------------------------------------------------

def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type grid over each type's observed range with
    gap hours linearly interpolated (operators/timeseries.py). The
    hypertable-style continuous-rollup shape: the only event-scale pass
    is the map-side-combine hourly groupBy; the grid and both window
    passes operate on the bounded (series × hours) table."""
    from csdid_pyspark_spark.cache import carry_cache
    from csdid_pyspark_spark.operators.timeseries import hourly_grid_fill

    e = load_table(spark, sf_dir, "events")
    filled = hourly_grid_fill(e)
    return carry_cache(filled.withColumnRenamed("series", "event_type"), filled)


# The interpolation fraction divides exact integer time deltas (micros in
# Spark, seconds here) — the same rational number, so the correctly-rounded
# double quotients are bit-identical. Hourly means divide an exact DECIMAL
# sum by the count on both engines.
EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type AS series, date_trunc('hour', ts) AS h,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_value
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT series, UNNEST(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY series
),
g AS (
  SELECT s.series, s.h, hourly.n_events, hourly.avg_value,
         CAST(epoch(s.h) AS BIGINT) AS eh
  FROM spine s LEFT JOIN hourly ON s.series = hourly.series AND s.h = hourly.h
),
filled AS (
  SELECT series, h, n_events, avg_value, eh,
    LAST_VALUE(avg_value IGNORE NULLS) OVER
      (PARTITION BY series ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
    LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN eh END IGNORE NULLS) OVER
      (PARTITION BY series ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e_prev,
    FIRST_VALUE(avg_value IGNORE NULLS) OVER
      (PARTITION BY series ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
    FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN eh END IGNORE NULLS) OVER
      (PARTITION BY series ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS e_next
  FROM g
)
SELECT series AS event_type,
       STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       ROUND(CASE WHEN avg_value IS NOT NULL THEN avg_value
                  ELSE v_prev + (v_next - v_prev)
                       * (CAST(eh - e_prev AS DOUBLE) / CAST(e_next - e_prev AS DOUBLE))
             END, 6) AS value_filled,
       (avg_value IS NULL) AS is_gap
FROM filled
"""


QUERIES["events_gapfill"] = events_gapfill
ORACLES["events_gapfill"] = EVENTS_GAPFILL_SQL


# ---------------------------------------------------------------------------
# Event anomaly detection: per-type z-score outliers + per-user CUSUM
# changepoint peaks
# ---------------------------------------------------------------------------

def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is ≥ 2.5 population-σ from their type's mean.
    One map-side-combine groupBy builds the per-type stats (exact
    DECIMAL sums of v and v² so mean/variance are bit-deterministic
    under any partial-agg order), broadcast back onto the stream —
    at 100 TB the stats table stays O(#types) and the scan is a single
    filter pass."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("s"),
        F.sum((F.col("value").cast("decimal(27,6)") * F.col("value").cast("decimal(27,6)"))).cast("double").alias("ssq"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ssq") / F.col("n") - mean * mean
    stats = stats.select("event_type", mean.alias("mu"), F.sqrt(var).alias("sigma"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "event_type", "value", "z")
    )


EVENTS_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS mu_num,
         CAST(SUM(CAST(value AS DECIMAL(27,6)) * CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS ssq,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s,
         COUNT(*) AS n
  FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_id, e.event_type, e.value,
         ROUND((e.value - (s.s / s.n))
               / SQRT(s.ssq / s.n - (s.s / s.n) * (s.s / s.n)), 4) AS z
  FROM events e JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value, z FROM z WHERE ABS(z) >= 2.5
"""


def events_cusum_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM changepoint diagnostic: running sum of deviations
    from the user's mean (ordered by ts), reporting the peak |CUSUM|
    and when it occurs. The running sum is an exact DECIMAL prefix
    S_k, so cusum_k = S_k − k·(S_n/n) is computed from exact sums with
    identical double scalar ops on both engines — no float
    accumulation-order sensitivity. One shuffle keyed by user (the
    same per-entity ordered-scan shape as sessionize); the peak filter
    reuses the same partitioning."""
    e = load_table(spark, sf_dir, "events")
    w_ord = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("user_id")
    vd = F.col("value").cast("decimal(27,6)")
    base = e.select("user_id", "ts", "event_id", "value").withColumns(
        {
            "s_k": F.sum(vd).over(w_ord).cast("double"),
            "k": F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
            "s_n": F.sum(vd).over(w_all).cast("double"),
            "n": F.count("*").over(w_all),
        }
    )
    rabs = F.round(
        F.abs(F.col("s_k") - F.col("k") * (F.col("s_n") / F.col("n"))), 6
    )
    base = base.withColumn("rabs", rabs).withColumn(
        "peak", F.max("rabs").over(w_all)
    )
    return (
        base.filter(F.col("rabs") == F.col("peak"))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("peak").alias("peak_cusum"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("peak_ts"),
        )
    )


EVENTS_CUSUM_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id, value,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS s_k,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (PARTITION BY user_id) AS DOUBLE) AS s_n,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
scored AS (
  SELECT user_id, ts, n,
         ROUND(ABS(s_k - k * (s_n / n)), 6) AS rabs,
         MAX(ROUND(ABS(s_k - k * (s_n / n)), 6)) OVER (PARTITION BY user_id) AS peak
  FROM base
)
SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events, MAX(peak) AS peak_cusum,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS peak_ts
FROM scored WHERE rabs = peak GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Weighted systematic sampling (deterministic, exact integer arithmetic)
# ---------------------------------------------------------------------------

_SAMPLE_WEIGHTED_K = 50


def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-∝-weight systematic sample: lay every doc's
    integer weight (n_chars) on a cumulative line in doc_id order and
    take the doc covering each of k evenly-spaced thresholds — docs are
    selected with probability proportional to weight, reproducibly,
    with PURE INTEGER arithmetic (cum·k div total), so Spark and the
    SQL oracle agree bit-for-bit. The prefix sum runs through the
    two-phase partition-parallel scan
    (operators/packing.py::global_rank_cumsum — range shuffle +
    broadcast per-partition bases), NOT a bare unpartitioned
    ``SUM() OVER (ORDER BY doc_id)`` that would funnel the whole
    corpus through one reducer; the grand total comes from the scan's
    own light pass, so no second scan of the corpus either."""
    from csdid_pyspark_spark.cache import carry_cache
    from csdid_pyspark_spark.operators.packing import global_rank_cumsum

    k = _SAMPLE_WEIGHTED_K
    d = load_table(spark, sf_dir, "documents")
    scan = global_rank_cumsum(
        d.select("doc_id", "source", "n_chars"), ["doc_id"], "n_chars"
    )
    # n_chars is integral, so the decimal running total casts back to
    # bigint exactly; cum is inclusive = cum_after
    base = scan.df.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("cum").cast("bigint").alias("cum_after"),
    ).withColumn("cum_before", F.col("cum_after") - F.col("n_chars"))
    t = int(scan.total_sum)
    out = (
        base.filter(F.expr(f"cum_before * {k} div {t}") < F.expr(f"cum_after * {k} div {t}"))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(f"cast(cum_after * {k} div {t} as bigint)").alias("bucket"),
        )
    )
    return carry_cache(out, scan.df)


SAMPLE_WEIGHTED_SQL = f"""
WITH base AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
  FROM documents
),
t AS (SELECT MAX(cum_after) AS total FROM base)
SELECT doc_id, source, n_chars,
       CAST((cum_after * {_SAMPLE_WEIGHTED_K}) // total AS BIGINT) AS bucket
FROM base, t
WHERE ((cum_after - n_chars) * {_SAMPLE_WEIGHTED_K}) // total
      < (cum_after * {_SAMPLE_WEIGHTED_K}) // total
"""


QUERIES.update(
    {
        "events_anomaly_zscore": events_anomaly_zscore,
        "events_cusum_peak": events_cusum_peak,
        "sample_weighted_systematic": sample_weighted_systematic,
    }
)
ORACLES.update(
    {
        "events_anomaly_zscore": EVENTS_ANOMALY_SQL,
        "events_cusum_peak": EVENTS_CUSUM_SQL,
        "sample_weighted_systematic": SAMPLE_WEIGHTED_SQL,
    }
)


# ---------------------------------------------------------------------------
# Trained quality classifier: distributed logistic regression (IRLS over
# declarative Gram aggregations — operators/logreg.py). The training
# target distills the hand-written quality gate (functions/text.py::
# quality_score's stopword-bonus branch) into a smooth calibrated
# score — the standard "heuristic labels -> trained filter" corpus
# pattern (fastText-style quality filters are trained exactly so).
# ---------------------------------------------------------------------------

def _doc_clf_features(d: DataFrame) -> dict[str, object]:
    """Classifier features, all JVM codegen expressions: intercept,
    log length, punctuation density, digit density, stopword ratio."""
    from csdid_pyspark_spark.functions.text import (
        punct_count,
        stopword_count,
        token_count,
    )

    t = F.col("text")
    nc = F.col("n_chars").cast("double")
    return {
        "intercept": F.lit(1.0),
        "log_len": F.log(nc + F.lit(1.0)),
        "punct_ratio": punct_count(t).cast("double") / (nc + F.lit(1.0)),
        "digit_ratio": (
            F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
        ).cast("double")
        / (nc + F.lit(1.0)),
        "stop_ratio": stopword_count(t).cast("double")
        / (token_count(t).cast("double") + F.lit(1.0)),
    }


def _doc_clf_label() -> object:
    """Gate being distilled: the stopword-bonus branch of the quality
    heuristic (stop_ratio > 0.05 over max(ntok,1) — deliberately NOT
    the same expression as the stop_ratio feature, which uses a +1
    denominator)."""
    from csdid_pyspark_spark.functions.text import stopword_count, token_count

    t = F.col("text")
    ratio = stopword_count(t).cast("double") / F.greatest(
        token_count(t), F.lit(1)
    ).cast("double")
    return (ratio > 0.05).cast("double")


_CLF_CACHE: dict[str, dict[str, float]] = {}


def _doc_clf_fit(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Train (memoized per sf_dir — the fit is pure: fixed iterations,
    exact decimal Gram sums, deterministic across partition layouts)."""
    if sf_dir not in _CLF_CACHE:
        from csdid_pyspark_spark.operators.logreg import logistic_irls

        d = load_table(spark, sf_dir, "documents")
        _CLF_CACHE[sf_dir] = logistic_irls(
            d, _doc_clf_features(d), _doc_clf_label(), iters=8
        )
    return _CLF_CACHE[sf_dir]


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIT-NORMALIZED coefficients + training accuracy of the
    distilled quality classifier. Each IRLS pass ships O(p²)
    exact-decimal Gram cells to the driver — row count never moves off
    the executors.

    Why the direction, not the raw vector: the distilled gate is
    perfectly separable on this corpus (train_accuracy 1.0), and under
    separation the logistic MLE's coefficient MAGNITUDE diverges — the
    fixed-8-iteration fit lands wherever the IRLS trajectory reached,
    which amplifies last-ulp float differences (a container refresh
    that bumps libm/BLAS) into the 6th decimal of O(1e3) raw
    coefficients, as observed between rounds 7 and 8 on byte-identical
    input. The separating DIRECTION beta/||beta|| is the convergent
    object (relative drift observed ~1e-9), so that is what carries
    the pinned VALUES golden; downstream scoring (quality_classifier_
    score / holdout) keeps the raw fit — the sigmoid threshold at 0.5
    is scale-dependent by design."""
    import math

    from csdid_pyspark_spark.operators.logreg import score_column

    coef = _doc_clf_fit(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    pred = score_column(_doc_clf_features(d), coef) >= F.lit(0.5)
    y = _doc_clf_label() >= F.lit(0.5)
    acc_row = d.agg(
        (F.sum(F.when(pred == y, 1).otherwise(0)) / F.count("*")).alias("acc"),
        F.count("*").alias("n"),
    ).collect()[0]
    norm = math.sqrt(sum(v * v for v in coef.values())) or 1.0
    rows = [(name, round(v / norm, 6)) for name, v in coef.items()]
    rows.append(("train_accuracy", round(acc_row["acc"], 6)))
    rows.append(("n_rows", float(acc_row["n"])))
    return spark.createDataFrame(rows, "feature string, value double")


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration histogram of the trained classifier: score decile ×
    (docs, true-label positives). Scoring broadcasts a p-vector of
    coefficient literals — a pure codegen scan, the shape for applying
    a trained corpus filter at 100 TB (no shuffle, no Python). Pinned
    VALUES golden."""
    from csdid_pyspark_spark.operators.logreg import score_column

    coef = _doc_clf_fit(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    s = score_column(_doc_clf_features(d), coef)
    bucket = F.least(F.floor(s * 10).cast("int"), F.lit(9))
    return (
        d.select(bucket.alias("score_decile"), _doc_clf_label().alias("y"))
        .groupBy("score_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_true_pass"),
        )
        .orderBy("score_decile")
    )


QUERIES.update(
    {
        "quality_classifier_train": quality_classifier_train,
        "quality_classifier_score": quality_classifier_score,
    }
)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key: multi-dimensional data-skipping layout
# ---------------------------------------------------------------------------

def events_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key tiling of the (user, day) plane: the z-key that
    operators/zorder.py::zorder_write clusters files by, aggregated to
    64 tiles. The key is pure integer bit arithmetic generated ONCE
    and rendered into both this plan and the SQL oracle
    (operators/zorder.py::zorder_sql), so the layout computation is
    hash-checked end to end."""
    from csdid_pyspark_spark.operators.zorder import zorder_sql

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        (F.col("user_id") % 256).alias("ux"),
        (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast("bigint").alias("dy"),
    ).select("ux", (F.col("dy") % 256).alias("dy"))
    z = F.expr(zorder_sql(["ux", "dy"], bits=8, dialect="spark")).cast("bigint")
    return (
        base.withColumn("z", z)
        .groupBy((F.col("z") / 1024).cast("bigint").alias("tile"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
    )


def _zorder_oracle() -> str:
    from csdid_pyspark_spark.operators.zorder import zorder_sql

    zexpr = zorder_sql(["ux", "dy"], bits=8, dialect="ansi")
    return f"""
WITH base AS (
  SELECT CAST(user_id % 256 AS BIGINT) AS ux,
         CAST((CAST(epoch(ts) AS BIGINT) // 86400) % 256 AS BIGINT) AS dy
  FROM events
),
keyed AS (SELECT {zexpr} AS z FROM base)
SELECT CAST(z // 1024 AS BIGINT) AS tile, COUNT(*) AS n_events,
       MIN(z) AS min_z, MAX(z) AS max_z
FROM keyed GROUP BY 1
"""


QUERIES["events_zorder_tiles"] = events_zorder_tiles
ORACLES["events_zorder_tiles"] = _zorder_oracle()


def quality_classifier_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample evaluation: train on the content-addressed 80%
    (md5 bucket < 80 — the same deterministic splitter as
    sample_hash, so the split is reproducible at any scale and across
    engines), score the held-out 20%. Output: split sizes, holdout
    accuracy, and mean log-loss. Pinned VALUES golden (fit and split
    are both bit-deterministic)."""
    from csdid_pyspark_spark.operators.logreg import logistic_irls, score_column

    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    ) % 100
    train = d.filter(bucket < 80)
    coef = logistic_irls(train, _doc_clf_features(train), _doc_clf_label(), iters=8)
    s = score_column(_doc_clf_features(d), coef)
    eps = 1e-12
    y = _doc_clf_label()
    ll = -(
        y * F.log(F.greatest(s, F.lit(eps)))
        + (F.lit(1.0) - y) * F.log(F.greatest(F.lit(1.0) - s, F.lit(eps)))
    )
    pred = (s >= 0.5).cast("double")
    # ONE conditional scan replaces the test-metrics aggregate PLUS the
    # separate train.count() action (two full scans, each re-paying the
    # md5 split hash per row). is_test gates every metric expression,
    # so score/log-loss only evaluate on held-out rows; the conditional
    # sums equal the filtered aggregates value-for-value (the log-loss
    # otherwise-leg adds exact DECIMAL zero).
    is_test = bucket >= 80
    n_test_c = F.sum(F.when(is_test, 1).otherwise(0))
    row = d.agg(
        F.sum(F.when(~is_test, 1).otherwise(0)).cast("bigint").alias("n_train"),
        n_test_c.cast("bigint").alias("n_test"),
        F.round(
            F.sum(F.when(is_test & (pred == y), 1).otherwise(0)) / n_test_c, 6
        ).alias("test_accuracy"),
        F.round(
            F.sum(
                F.when(is_test, ll).otherwise(F.lit(0.0)).cast("decimal(38,12)")
            ).cast("double")
            / n_test_c,
            6,
        ).alias("mean_logloss"),
    ).collect()[0]
    return spark.createDataFrame(
        [(int(row["n_train"]), int(row["n_test"]), float(row["test_accuracy"]), float(row["mean_logloss"]))],
        "n_train bigint, n_test bigint, test_accuracy double, mean_logloss double",
    )


QUERIES["quality_classifier_holdout"] = quality_classifier_holdout


# ---------------------------------------------------------------------------
# BM25 relevance scoring + temperature-weighted source mixture
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scores for a fixed query against every document.
    Same distributed shape as text_tfidf: term stats come from a
    groupBy on the exploded token table (never a vocabulary
    broadcast); the only broadcast joins are the O(|query|) df table
    and the 1-row (N, avgdl) scalars. All inputs to the score are
    exact integers / decimal-exact means, so the doubles round
    identically on both engines.

    Scale shape (r11): the query terms are a FIXED tiny set, so the
    per-(doc, term) tf table is a handful of conditional counters on
    the per-doc aggregate — ONE tokenize explode + ONE map-side-
    combinable groupBy(doc_id) produces dl and every tf at once
    (previous shape ran the explode three times — dl, the scalars
    broadcast's recompute of dl, and the filtered tf — and paid a
    second (doc_id, term) shuffle). The per-doc frame is persisted
    (doc-scale, 4 narrow columns); scalars, df and the score all read
    it. Values identical: a conditional sum over tokens equals the
    filtered count, and docs with tf=0 are dropped exactly as the
    groupBy(doc_id, term) never saw them."""
    from csdid_pyspark_spark.cache import attach_cache

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    qterms = list(_BM25_TERMS)
    per = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_tf_{i}")
            for i, t in enumerate(qterms)
        ],
    ).persist()
    scalars = per.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(27,6)")).cast("double") / F.count("*")).alias(
            "avgdl"
        ),
    )
    tf = (
        per.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"), F.col(f"_tf_{i}").alias("tf")
                        )
                        for i, t in enumerate(qterms)
                    ]
                )
            ).alias("x"),
        )
        .select("doc_id", "dl", F.col("x.term").alias("term"), F.col("x.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + F.lit(1.0)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * (k1 + 1)) / denom
    out = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib.cast("decimal(38,12)")).cast("double"), 6).alias(
                "bm25"
            ),
            F.count("*").cast("bigint").alias("n_terms_matched"),
        )
    )
    return attach_cache(out, per)


TEXT_BM25_SQL = rf"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
tok AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
scalars AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id,
       ROUND(CAST(SUM(CAST(
         LN((scalars.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1))
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / scalars.avgdl))
       AS DECIMAL(38,12))) AS DOUBLE), 6) AS bm25,
       COUNT(*) AS n_terms_matched
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN scalars
GROUP BY tf.doc_id
"""


_MIX_ALPHA = 0.7


def source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened sampling mixture (p_s ∝ n_s^α, α=0.7 —
    the multilingual/LLM corpus-balancing rule): per-source raw share,
    tempered share, and the implied up/down-sampling factor. The n^α
    doubles are cast to exact decimal before the normalizing sum so
    partial-agg order can't perturb the totals."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = F.pow(F.col("n_docs").cast("double"), F.lit(_MIX_ALPHA))
    per = per.withColumn("w", w)
    tot = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.col("w").cast("decimal(38,12)")).cast("double").alias("w_total"),
    )
    out = per.crossJoin(F.broadcast(tot))
    p_raw = F.col("n_docs") / F.col("n_total")
    p_temp = F.col("w") / F.col("w_total")
    return out.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 6).alias("resample_factor"),
    )


MIXTURE_TEMP_SQL = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs, POW(COUNT(*), {_MIX_ALPHA}) AS w
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_docs) AS n_total,
         CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS w_total
  FROM per
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(n_docs / n_total, 6) AS p_raw,
       ROUND(w / w_total, 6) AS p_temp,
       ROUND((w / w_total) / (n_docs / n_total), 6) AS resample_factor
FROM per, tot
"""


QUERIES.update(
    {
        "text_bm25": text_bm25,
        "source_mixture_temperature": source_mixture_temperature,
    }
)
ORACLES.update(
    {
        "text_bm25": TEXT_BM25_SQL,
        "source_mixture_temperature": MIXTURE_TEMP_SQL,
    }
)


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merge rules learned from the corpus
    (operators/bpe.py): ONE corpus-scale pass builds word counts, then
    each merge is an explode+groupBy over the vocabulary table only.
    Deterministic (integer counts, count-desc/pair-asc tiebreak) →
    pinned VALUES golden."""
    from csdid_pyspark_spark.operators.bpe import train_bpe

    d = load_table(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=10)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


QUERIES["bpe_train_merges"] = bpe_train_merges


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION pass: train the 10-rule BPE merge table,
    encode the corpus with it, and report per-source token economics —
    word count, BPE piece count, chars, and pieces-per-word / chars-
    per-piece (the compression numbers a tokenizer choice is judged
    by). The merge chain applies to the DISTINCT-word table (O(vocab))
    as one codegen'd expression; the corpus-scale step is one
    explode+join+groupBy. Deterministic because the learned merges are
    (count desc, pair asc)-tiebroken → pinned VALUES golden."""
    from csdid_pyspark_spark.operators.bpe import encode_pieces, train_bpe

    d = load_table(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=10)
    corpus_words = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = corpus_words.select("w").distinct()
    pieces = encode_pieces(vocab, merges)
    return (
        corpus_words.join(pieces, "w")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_bpe_pieces"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_pieces",
            "n_chars",
            F.round(F.col("n_bpe_pieces") / F.col("n_words"), 6).alias(
                "pieces_per_word"
            ),
            F.round(F.col("n_chars") / F.col("n_bpe_pieces"), 6).alias(
                "chars_per_piece"
            ),
        )
        .orderBy("source")
    )


QUERIES["bpe_encode_stats"] = bpe_encode_stats


# ---------------------------------------------------------------------------
# Privacy audit, distribution diagnostics, multi-touch attribution,
# triangle census
# ---------------------------------------------------------------------------

_K_ANON = 5


def pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source) quasi-identifier:
    groups smaller than k are re-identification risks a release
    pipeline must suppress or generalize. One map-side-combine groupBy;
    the violating-group list is bounded by the QI cardinality, never
    rows."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count("*").cast("bigint").alias("n"))
    return g.filter(F.col("n") < _K_ANON).withColumn(
        "k_required", F.lit(_K_ANON).cast("int")
    )


PII_K_ANON_SQL = f"""
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
       CAST({_K_ANON} AS INTEGER) AS k_required
FROM documents GROUP BY lang, source HAVING COUNT(*) < {_K_ANON}
"""


def _equidepth_lazy(spark: SparkSession, sf_dir: str):
    """Lazy tail of the equi-depth histogram (everything after the
    1-scalar n collect) — exposed so plan tests can assert on the REAL
    physical plan, not the post-checkpoint scan."""
    from csdid_pyspark_spark.operators.packing import global_row_number as grn

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = grn(e, ["value", "event_id"])
    n_row = ranked.agg(F.max("rn").alias("n")).collect()[0]
    n, k = int(n_row["n"]), 10
    q, r = divmod(n, k)
    head = r * (q + 1)
    decile = (
        F.when(F.col("rn") <= head, (F.col("rn") - 1) / (q + 1))
        .otherwise(r + (F.col("rn") - head - 1) / q if q else F.lit(0))
        .cast("bigint")
        + 1
    ).cast("int")
    out = (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.round(
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double"), 4
            ).alias("mass"),
        )
    )
    from csdid_pyspark_spark.cache import carry_cache

    return carry_cache(out, ranked)


def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (decile) histogram of event values with NTILE
    semantics but WITHOUT the naive plan's scale trap: a bare
    ``NTILE() OVER (ORDER BY ...)`` funnels every row through ONE
    reducer. Here the global rank comes from the two-phase distributed
    scan (operators/packing.py::global_row_number — range shuffle +
    broadcast per-partition bases) and the decile is NTILE's exact
    integer arithmetic on (rank, n): the first n%k buckets take
    ⌈n/k⌉ rows. Deterministic tie order via (value, event_id)."""
    from csdid_pyspark_spark.operators.packing import release_cache

    out = _equidepth_lazy(spark, sf_dir)
    result = out.localCheckpoint(eager=True)
    release_cache(out)
    return result


EVENTS_EQUIDEPTH_SQL = """
WITH ranked AS (
  SELECT event_id, value,
         NTILE(10) OVER (ORDER BY value, event_id) AS decile
  FROM events
)
SELECT decile, COUNT(*) AS n_events, MIN(value) AS lo, MAX(value) AS hi,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 4) AS mass
FROM ranked GROUP BY decile
"""


def docs_crosstab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence statistic for the lang × source
    contingency table, fully distributed: observed cells from one
    groupBy, expected cells from broadcast margins, the statistic from
    a decimal-exact sum of (o−e)²/e. Output keeps the statistic and
    dof; a p-value is one driver-side call away
    (did/stats.py::chi2_sf — exercised by the pretrend Wald test)."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    row_m = d.groupBy("lang").agg(F.count("*").alias("nr"))
    col_m = d.groupBy("source").agg(F.count("*").alias("nc"))
    n = d.agg(F.count("*").alias("n"))
    full = (
        row_m.crossJoin(col_m)
        .join(obs, ["lang", "source"], "left")
        .na.fill({"o": 0})
        .crossJoin(F.broadcast(n))
    )
    e = F.col("nr") * F.col("nc") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    dims = full.agg(
        F.round(F.sum(term.cast("decimal(38,12)")).cast("double"), 6).alias("chi2"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return dims.select(
        "chi2",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1))
        .cast("bigint")
        .alias("dof"),
        (F.col("n_langs") * F.col("n_sources")).cast("bigint").alias("n_cells"),
    )


DOCS_CHI2_SQL = """
WITH obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
rm AS (SELECT lang, COUNT(*) AS nr FROM documents GROUP BY 1),
cm AS (SELECT source, COUNT(*) AS nc FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM documents),
full_grid AS (
  SELECT rm.lang, cm.source, rm.nr, cm.nc, COALESCE(obs.o, 0) AS o, tot.n
  FROM rm CROSS JOIN cm
  LEFT JOIN obs ON rm.lang = obs.lang AND cm.source = obs.source
  CROSS JOIN tot
)
SELECT ROUND(CAST(SUM(CAST(
         (o - nr * nc / n) * (o - nr * nc / n) / (nr * nc / n)
       AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
       CAST(COUNT(DISTINCT lang) * COUNT(DISTINCT source) AS BIGINT) AS n_cells
FROM full_grid
"""


def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each purchase credits its preceding same-user touches — 40% first,
    40% last, 20% split across the middle (100% when a single touch;
    50/50 for two). One window pass tags each touch with its purchase
    (the next purchase in user order); per-(purchase, position) credit
    is pure arithmetic on the touch index/count. Same single-shuffle
    per-user scan shape as last-touch; credit sums are decimal-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # attach each touch to the NEXT purchase event (if any)
    tagged = e.withColumn(
        "purchase_id",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("event_id")),
            ignorenulls=True,
        ).over(w_fwd),
    ).withColumn(
        "purchase_value",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w_fwd),
    )
    touches = tagged.filter(
        F.col("event_type").isin("view", "click") & F.col("purchase_id").isNotNull()
    )
    w_grp = Window.partitionBy("purchase_id").orderBy("ts", "event_id")
    w_cnt = Window.partitionBy("purchase_id")
    pos = touches.withColumn("idx", F.row_number().over(w_grp)).withColumn(
        "cnt", F.count("*").over(w_cnt)
    )
    credit = (
        F.when(F.col("cnt") == 1, F.lit(1.0))
        .when(F.col("cnt") == 2, F.lit(0.5))
        .otherwise(
            F.when(F.col("idx") == 1, F.lit(0.4))
            .when(F.col("idx") == F.col("cnt"), F.lit(0.4))
            .otherwise(F.lit(0.2) / (F.col("cnt") - 2))
        )
    )
    return (
        pos.groupBy("event_type")
        .agg(
            F.round(
                F.sum((credit * F.col("purchase_value")).cast("decimal(38,12)"))
                .cast("double"),
                4,
            ).alias("credited_value"),
            F.round(
                F.sum(credit.cast("decimal(38,12)")).cast("double"), 4
            ).alias("credited_purchases"),
            F.count("*").cast("bigint").alias("n_touches"),
        )
    )


EVENTS_ATTRIB_POS_SQL = """
WITH tagged AS (
  SELECT user_id, event_type, ts, event_id, value,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS purchase_id,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS purchase_value
  FROM events
),
touches AS (
  SELECT * FROM tagged
  WHERE event_type IN ('view', 'click') AND purchase_id IS NOT NULL
),
pos AS (
  SELECT event_type, purchase_value,
         ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY ts, event_id) AS idx,
         COUNT(*) OVER (PARTITION BY purchase_id) AS cnt
  FROM touches
),
credited AS (
  SELECT event_type, purchase_value,
    CASE WHEN cnt = 1 THEN 1.0
         WHEN cnt = 2 THEN 0.5
         WHEN idx = 1 THEN 0.4
         WHEN idx = cnt THEN 0.4
         ELSE 0.2 / (cnt - 2) END AS credit
  FROM pos
)
SELECT event_type,
  ROUND(CAST(SUM(CAST(credit * purchase_value AS DECIMAL(38,12))) AS DOUBLE), 4)
    AS credited_value,
  ROUND(CAST(SUM(CAST(credit AS DECIMAL(38,12))) AS DOUBLE), 4)
    AS credited_purchases,
  COUNT(*) AS n_touches
FROM credited GROUP BY event_type
"""


QUERIES.update(
    {
        "pii_k_anonymity": pii_k_anonymity,
        "events_equidepth_histogram": events_equidepth_histogram,
        "docs_crosstab_chi2": docs_crosstab_chi2,
        "events_attribution_position": events_attribution_position,
    }
)
ORACLES.update(
    {
        "pii_k_anonymity": PII_K_ANON_SQL,
        "events_equidepth_histogram": EVENTS_EQUIDEPTH_SQL,
        "docs_crosstab_chi2": DOCS_CHI2_SQL,
        "events_attribution_position": EVENTS_ATTRIB_POS_SQL,
    }
)


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the near-dup
    pair graph. Standard distributed triangle counting: edges are
    ordered (a<b), so each triangle is enumerated exactly once by the
    two equi-joins e1(a,b)⋈e2(b,c)⋈e3(a,c) — wedge generation is an
    equi-join on the shared endpoint (shuffle keyed by node, so skew =
    max degree, bounded here by the df-capped candidate generation),
    never an all-pairs product. Open-triad count Σ deg·(deg−1)/2 comes
    from one degree aggregation."""
    d = load_table(spark, sf_dir, "documents")
    _pairs = _neardup_pairs(d)
    # the edge list feeds FIVE consumers (three triangle-join aliases,
    # the degree pass, the edge count) — unpinned, each one re-ran the
    # pair-generation join (only the shingle arrays are persisted
    # inside jaccard_pairs; the postings self-join is the expensive
    # stage). Pin it once (guide §2.4) — released by the caller via
    # the standard attach/release lifecycle below.
    e = _pairs.select("id_a", "id_b").persist()
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e1.id_a") == F.col("e3.id_a"))
            & (F.col("e2.id_b") == F.col("e3.id_b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    # degree endpoints from ONE pass (explode) instead of a unionAll of
    # two projections — one cache read instead of two
    deg = (
        e.select(F.explode(F.array("id_a", "id_b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("bigint").alias("n_wedges"),
    )
    edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    from csdid_pyspark_spark.cache import carry_cache

    out = (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(edges))
        .select(
            "n_triangles",
            "n_edges",
            "n_nodes",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )
    # lazy over the pair graph: carry the postings persist to the
    # frame the caller releases after its final action, plus the
    # pinned edge list itself
    from csdid_pyspark_spark.cache import attach_cache

    return attach_cache(carry_cache(out, _pairs), e)


DEDUP_TRIANGLES_SQL = (
    "WITH "
    + _NEARDUP_PAIRS_CTES
    + """,
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.id_b = e2.id_a
  JOIN pairs e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b AS node FROM pairs
  ) GROUP BY node
),
stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
edges AS (SELECT COUNT(*) AS n_edges FROM pairs)
SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       n_wedges,
       ROUND(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6)
         AS clustering_coeff
FROM tri, stats, edges
"""
)


QUERIES["dedup_graph_triangles"] = dedup_graph_triangles
ORACLES["dedup_graph_triangles"] = DEDUP_TRIANGLES_SQL


def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (2-hour windows every hour): each event
    lands in exactly 2 overlapping windows. Spark's window() generates
    the window set JVM-side (one explode-like projection, one
    map-side-combine groupBy — the same plan as the tumbling rollup,
    2× the rows); the oracle enumerates both containing windows per
    event explicitly. Sums are decimal-exact."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVENTS_SLIDING_SQL = """
WITH expanded AS (
  SELECT UNNEST([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR])
           AS window_start,
         event_type, value
  FROM events
)
SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 4) AS sum_value
FROM expanded GROUP BY 1, 2
"""


QUERIES["events_sliding_rollup"] = events_sliding_rollup
ORACLES["events_sliding_rollup"] = EVENTS_SLIDING_SQL


# ---------------------------------------------------------------------------
# Behavioral analytics: RFM segmentation, session path n-grams,
# time-to-convert quantiles
# ---------------------------------------------------------------------------

def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation: per-user Recency (days since last
    purchase, vs the corpus max ts), Frequency (purchase count), and
    Monetary (decimal-exact purchase value), bucketed into quartile
    scores by fixed thresholds on deterministic integers — one
    groupBy + broadcast of the 1-row max-ts scalar. Counts per RFM
    cell, so output is bounded at 4³ rows at any scale."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    mx = p.agg(F.max(F.unix_micros("ts")).alias("mx_us"))
    per = (
        p.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count("*").alias("freq"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("mon"),
        )
        .crossJoin(F.broadcast(mx))
    )
    rec_days = ((F.col("mx_us") - F.col("last_us")) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    r_score = (
        F.when(rec_days <= 3, 4)
        .when(rec_days <= 7, 3)
        .when(rec_days <= 14, 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("freq") >= 20, 4)
        .when(F.col("freq") >= 10, 3)
        .when(F.col("freq") >= 5, 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("mon") >= 1000, 4)
        .when(F.col("mon") >= 500, 3)
        .when(F.col("mon") >= 200, 2)
        .otherwise(1)
    )
    return (
        per.select(
            r_score.cast("int").alias("r"),
            f_score.cast("int").alias("f"),
            m_score.cast("int").alias("m"),
        )
        .groupBy("r", "f", "m")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


EVENTS_RFM_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
mx AS (SELECT MAX(epoch_us(ts)) AS mx_us FROM p),
per AS (
  SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS freq,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS mon
  FROM p GROUP BY user_id
),
scored AS (
  SELECT CASE WHEN (mx.mx_us - last_us) // 86400000000 <= 3 THEN 4
              WHEN (mx.mx_us - last_us) // 86400000000 <= 7 THEN 3
              WHEN (mx.mx_us - last_us) // 86400000000 <= 14 THEN 2
              ELSE 1 END AS r,
         CASE WHEN freq >= 20 THEN 4 WHEN freq >= 10 THEN 3
              WHEN freq >= 5 THEN 2 ELSE 1 END AS f,
         CASE WHEN mon >= 1000 THEN 4 WHEN mon >= 500 THEN 3
              WHEN mon >= 200 THEN 2 ELSE 1 END AS m
  FROM per, mx
)
SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f, CAST(m AS INTEGER) AS m,
       COUNT(*) AS n_users
FROM scored GROUP BY 1, 2, 3
"""


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigrams inside 30-minute sessions — the "what
    do users do next" path census. Reuses the sessionizer's lag-gap
    shape: the trigram is two lags over the same (user, ts) sort the
    session ids already need, so the whole query is ONE shuffle keyed
    by user; trigram counting is a map-side-combine groupBy bounded by
    |event_type|³."""
    e = load_table(spark, sf_dir, "events")
    s = sessionize.sessionize(e)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = (
        s.withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .filter(F.col("t1").isNotNull())
        .select(
            F.concat_ws(">", "t1", "t2", "event_type").alias("path3")
        )
    )
    return (
        tri.groupBy("path3")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "path3")
        .limit(10)
    )


EVENTS_PATHS_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM ordered
),
tri AS (
  SELECT LAG(event_type, 2) OVER w2 AS t1,
         LAG(event_type, 1) OVER w2 AS t2,
         event_type AS t3
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT t1 || '>' || t2 || '>' || t3 AS path3, COUNT(*) AS n
FROM tri WHERE t1 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path3 LIMIT 10
"""


def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase latency distribution: exact
    min/median/p90 (integer-second latencies, so exact percentiles are
    engine-portable) over converting users. Two single-pass
    conditional aggregates per user — no join, no window."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_buy"),
    )
    lat = per.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(((F.col("first_buy") - F.col("first_view")) / 1_000_000).cast("bigint").alias("sec"))
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converters"),
        F.min("sec").alias("min_sec"),
        F.expr("percentile(sec, 0.5)").cast("bigint").alias("p50_sec"),
        F.expr("percentile(sec, 0.9)").cast("bigint").alias("p90_sec"),
        F.max("sec").alias("max_sec"),
    )


EVENTS_TTC_SQL = """
WITH per AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_buy
  FROM events GROUP BY user_id
),
lat AS (
  SELECT CAST((first_buy - first_view) // 1000000 AS BIGINT) AS sec
  FROM per
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL AND first_buy >= first_view
)
SELECT COUNT(*) AS n_converters, MIN(sec) AS min_sec,
       CAST(QUANTILE_CONT(sec, 0.5) AS BIGINT) AS p50_sec,
       CAST(QUANTILE_CONT(sec, 0.9) AS BIGINT) AS p90_sec,
       MAX(sec) AS max_sec
FROM lat
"""


QUERIES.update(
    {
        "events_rfm_segments": events_rfm_segments,
        "events_session_paths": events_session_paths,
        "events_time_to_convert": events_time_to_convert,
    }
)
ORACLES.update(
    {
        "events_rfm_segments": EVENTS_RFM_SQL,
        "events_session_paths": EVENTS_PATHS_SQL,
        "events_time_to_convert": EVENTS_TTC_SQL,
    }
)


def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 16×32 codebooks
    trained on-engine, vectors stored as 16 codes, then the production
    coarse-then-exact pipeline — broadcast-ADC top-50 candidates from
    the code table (floats never scanned), exact re-rank of ONLY those
    candidates to top-10. The billion-scale memory path. Deterministic
    end to end → pinned VALUES golden; recall vs exact L2 is
    pytest-gated (0.9 at sf0.01)."""
    from csdid_pyspark_spark.operators.pq import (
        encode_pq,
        pq_topk_rerank,
        train_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = train_pq(emb, m=16, k=32, iters=4)
    codes = encode_pq(emb, cb)
    q = _query_vec(spark, sf_dir)
    return pq_topk_rerank(
        emb, codes, cb, [float(x) for x in q], n_candidates=50, k_out=10
    )


QUERIES["sim_ann_pq"] = sim_ann_pq


def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/ivfpq.py — the Faiss
    ``IVFx,PQy`` architecture, Jégou et al. 2011): deterministic
    coarse quantizer restricts the search to the probed cells,
    residual PQ codes (16×32) score candidates via per-cell ADC
    tables without touching a float vector, exact re-rank of the
    top-90 candidates to top-10 (the rerank pool must exceed the ADC
    minimal-code tie groups, which grew when the r8 coarse-quantizer
    fix made stored cell membership consistent with the returned
    centroids). THE 100 TB ANN shape: a probe is a
    partition-pruned scan of codes, the exact pass touches a bounded
    candidate set. n_probe is the data-dependent recall knob: this
    500-vector corpus is near-UNIFORM in 64d (no cluster structure —
    IVF's worst case), so 6 of 8 cells are probed to clear the 0.9
    recall gate; on real embedding corpora, where neighbors share
    cells, the probe ratio is what shrinks. Deterministic end to end
    → pinned VALUES golden; recall vs exact L2 is pytest-gated
    (= 1.0 at sf0.01 with these settings)."""
    from csdid_pyspark_spark.operators.ivfpq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return ivfpq_topk(
        emb.filter(F.col("vec_id") != 0),
        q,
        n_cells=8,
        n_probe=6,
        m=16,
        k_codes=32,
        iters=3,
        n_candidates=90,
        k_out=10,
    )


QUERIES["sim_ann_ivfpq"] = sim_ann_ivfpq


# per-session persisted IVF-PQ index locations, keyed by (applicationId,
# absolute sf_dir) — same lifecycle discipline as the layout cache in
# sources/tables.py: build once per session, atexit-cleaned.
_IVFPQ_INDEX_DIR: dict[tuple[str, str], str] = {}
_IVFPQ_CLEANUP_REGISTERED = False


def _ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session) and return the persisted IVF-PQ index
    for the sf_dir's embeddings corpus."""
    import atexit
    import os
    import shutil
    import tempfile

    from csdid_pyspark_spark.operators.ivfpq import write_ivfpq_index

    global _IVFPQ_CLEANUP_REGISTERED
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    path = _IVFPQ_INDEX_DIR.get(key)
    if path is not None:
        return path
    path = tempfile.mkdtemp(prefix="spark_graft_ivfpq_")
    if not _IVFPQ_CLEANUP_REGISTERED:

        def _cleanup() -> None:
            for d in _IVFPQ_INDEX_DIR.values():
                shutil.rmtree(d, ignore_errors=True)

        atexit.register(_cleanup)
        _IVFPQ_CLEANUP_REGISTERED = True
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    write_ivfpq_index(emb, path, n_cells=8, m=16, k_codes=32, iters=3)
    _IVFPQ_INDEX_DIR[key] = path
    return path


def sim_ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-from-STORAGE for the IVF-PQ index
    (operators/ivfpq.py::write_ivfpq_index / probe_ivfpq_index): the
    index — (id, m, code) PQ codes partitioned by coarse cell, plus
    centroid/codebook side tables — is written to parquet ONCE per
    session, and this query runs only the steady-state search path
    against it: probe selection and ADC tables driver-side, a
    PARTITION-PRUNED scan of the probed cells' codes (the physical
    plan shows PartitionFilters on `cell` — pytest-asserted in
    tests/test_operators.py), exact re-rank of the bounded candidate
    set. Same parameters as `sim_ann_ivfpq`, so the result — and the
    pinned VALUES golden — are identical; what this query adds to the
    inventory is the Faiss-style BUILD-ONCE / PROBE-MANY contract at
    parquet level, which is how the 100 TB deployment actually runs
    (index maintenance scheduled, queries reading n_probe/n_cells of
    M-byte codes)."""
    from csdid_pyspark_spark.operators.ivfpq import probe_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    q = [float(x) for x in _query_vec(spark, sf_dir)]
    return probe_ivfpq_index(
        spark,
        _ivfpq_index_path(spark, sf_dir),
        q,
        emb,
        n_probe=6,
        n_candidates=90,
        k_out=10,
    )


QUERIES["sim_ann_ivfpq_probe"] = sim_ann_ivfpq_probe


def sim_ann_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED probe of the persisted IVF-PQ index
    (operators/ivfpq.py::probe_ivfpq_index_batch) — the production
    retrieval pass where thousands of queries amortize one scan. All
    per-query ADC tables union into ONE broadcast keyed by query id,
    the codes scan reads the UNION of probed cells once (still
    partition-pruned on `cell`), the (cell, m, code) join fans each
    code row to exactly the queries probing its cell, and per-query
    top-k runs through qid-partitioned windows over bounded rows —
    never a single-reducer sort. Per-query results are identical to
    the single-query path (parity pytest in tests/test_operators.py);
    the 100k-vector rehearsal (stress.py ivfpqbatch) measured 0.28
    s/query at Q=200 vs 1.44 s single-probe — 5.1x amortization.
    Queries here: the three lowest-vec_id embeddings (vec 0 is the
    corpus-excluded probe vector the single-probe query uses; 1 and 2
    are in-corpus, so their self-match leading the ranking is itself
    a correctness signal). Deterministic → pinned VALUES golden."""
    from csdid_pyspark_spark.operators.ivfpq import probe_ivfpq_index_batch

    all_emb = load_table(spark, sf_dir, "embeddings")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in all_emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    emb = all_emb.filter(F.col("vec_id") != 0)
    return probe_ivfpq_index_batch(
        spark,
        _ivfpq_index_path(spark, sf_dir),
        queries,
        emb,
        n_probe=6,
        n_candidates=90,
        k_out=5,
    )


QUERIES["sim_ann_ivfpq_batch"] = sim_ann_ivfpq_batch


# ---------------------------------------------------------------------------
# Heavy hitters, interval coverage, epoch shuffling
# ---------------------------------------------------------------------------

_HH_K = 150


def _heavy_hitters_lazy(spark: SparkSession, sf_dir: str):
    from csdid_pyspark_spark.operators.heavyhitters import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    return heavy_hitters(tok, "term", k=_HH_K)


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tokens with frequency > n/k without a full-vocabulary
    shuffle (operators/heavyhitters.py): per-partition mergeable
    Misra-Gries summaries (mapInPandas, ≤ k rows leave each
    partition), then a broadcast-semi-join recount of ONLY the
    candidates with an integer-arithmetic threshold — byte-exact vs
    the naive GROUP BY/HAVING oracle, but the shuffle is O(hitters),
    not O(vocabulary). THE shape for "top terms over 100 TB of
    text" where distinct terms alone exceed driver memory."""
    from csdid_pyspark_spark.operators.packing import release_cache

    out = _heavy_hitters_lazy(spark, sf_dir)
    result = out.localCheckpoint(eager=True)
    release_cache(out)
    return result


TEXT_HH_SQL = r"""
WITH toks AS (
  SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
t AS (SELECT term FROM toks WHERE len(term) > 0),
n AS (SELECT COUNT(*) AS n_total FROM t)
SELECT term, COUNT(*) AS freq
FROM t, n
GROUP BY term, n.n_total
HAVING COUNT(*) * %d > n.n_total
""" % _HH_K


def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user total ACTIVE time: every event opens a 30-minute
    activity interval; overlapping intervals must merge before
    summing (naive per-event sums double-count bursts). The classic
    sweep-line runs as two window passes over ONE (user, ts) sort —
    island start = interval start beyond the running max of prior
    ends, island id = running count of starts — so the whole merge
    is a single shuffle keyed by user, no self-join, no explode to
    minutes. Integer-microsecond arithmetic end to end."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1_800_000_000)).alias("t"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prior_max_end = F.max("t").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(
            prior_max_end.isNull() | (F.col("s") > prior_max_end), 1
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s"), F.max("t").alias("t")
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        (F.sum(F.col("t") - F.col("s")) / 1_000_000).cast("bigint").alias("active_sec"),
    )


EVENTS_INTERVAL_UNION_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS t, event_id
  FROM events
),
marked AS (
  SELECT user_id, s, t,
    CASE WHEN MAX(t) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR s > MAX(t) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island,
    event_id
  FROM iv
),
islands AS (
  SELECT user_id, s, t,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM marked
),
per_island AS (
  SELECT user_id, island, MIN(s) AS s, MAX(t) AS t
  FROM islands GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_islands,
       CAST(SUM(t - s) // 1000000 AS BIGINT) AS active_sec
FROM per_island GROUP BY 1
"""


_EPOCH_SEED = 7
_EPOCH_BATCH = 64


def pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle → batch manifest: training runs
    need a reproducible random permutation of the corpus per epoch
    (same seed ⇒ same batches on any cluster, any partitioning).
    The permutation key is md5(seed‖doc_id) — content-addressed like
    sample_hash, portable to the oracle — and the global batch
    number comes from the two-phase distributed row number
    (operators/packing.py), NEVER a single-partition window. Output:
    per-batch doc count and char budget, the manifest a loader
    consumes."""
    from csdid_pyspark_spark.operators.packing import release_cache

    out = _epoch_shuffle_lazy(spark, sf_dir)
    result = out.localCheckpoint(eager=True)
    release_cache(out)
    return result


def _epoch_shuffle_lazy(spark: SparkSession, sf_dir: str):
    from csdid_pyspark_spark.operators.packing import global_row_number as grn

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit(str(_EPOCH_SEED) + ":"), F.col("doc_id").cast("string"))).alias(
            "pk"
        ),
    )
    ranked = grn(d, ["pk", "doc_id"])
    out = (
        ranked.withColumn(
            "batch", ((F.col("rn") - 1) / F.lit(_EPOCH_BATCH)).cast("bigint")
        )
        .groupBy("batch")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.min("rn").cast("bigint").alias("rn_first"),
            F.max("rn").cast("bigint").alias("rn_last"),
        )
    )
    from csdid_pyspark_spark.cache import carry_cache

    return carry_cache(out, ranked)


PACK_EPOCH_SQL = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5('%d:' || CAST(doc_id AS VARCHAR)) AS pk
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY pk, doc_id) AS rn
  FROM keyed
)
SELECT (rn - 1) // %d AS batch, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       MIN(rn) AS rn_first, MAX(rn) AS rn_last
FROM ranked GROUP BY 1
""" % (_EPOCH_SEED, _EPOCH_BATCH)


QUERIES.update(
    {
        "text_heavy_hitters": text_heavy_hitters,
        "events_interval_union": events_interval_union,
        "pack_epoch_shuffle": pack_epoch_shuffle,
    }
)
ORACLES.update(
    {
        "text_heavy_hitters": TEXT_HH_SQL,
        "events_interval_union": EVENTS_INTERVAL_UNION_SQL,
        "pack_epoch_shuffle": PACK_EPOCH_SQL,
    }
)


# ---------------------------------------------------------------------------
# Experimentation & ML-split primitives: CUPED readout, histogram split
# finding
# ---------------------------------------------------------------------------

def events_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et
    al., WSDM'13): users hash-split into control/treatment
    (content-addressed md5, portable to the oracle), the metric is
    each user's second-half purchase value, the covariate their
    first-half value; θ = cov(x,y)/var(x) is estimated once globally
    and the adjusted metric y − θ·(x − x̄) shrinks variance without
    biasing the difference of means. Shapes that matter at 100 TB:
    ONE user-keyed aggregation builds the per-user (x, y) table, the
    four moments (θ, x̄) are a 1-row broadcast, and the readout is a
    2-row aggregate — no second scan of raw events."""
    e = load_table(spark, sf_dir, "events")
    mid = e.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("bigint")
        .alias("mid_us")
    )
    per = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") < F.col("mid_us")),
                    F.col("value"),
                ).otherwise(F.lit(0.0))
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("mid_us")),
                    F.col("value"),
                ).otherwise(F.lit(0.0))
            ).alias("y"),
        )
        .withColumn(
            "variant",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
                ).cast("bigint")
                % 2
                == 0,
                F.lit("control"),
            ).otherwise(F.lit("treatment")),
        )
    )
    # symmetric zero guard (cf. events_value_trend): Spark's non-ANSI
    # x/0 is NULL while DuckDB's is inf — degenerate corpora (no
    # pre-period variance) must agree on both engines
    mom = per.agg(
        F.when(F.var_pop("x") != 0, F.covar_pop("x", "y") / F.var_pop("x"))
        .otherwise(F.lit(0.0))
        .alias("theta"),
        F.avg("x").alias("xbar"),
    )
    adj = per.crossJoin(F.broadcast(mom)).withColumn(
        "y_cuped", F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))
    )
    return adj.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("y"), 6).alias("mean_raw"),
        F.round(F.avg("y_cuped"), 6).alias("mean_cuped"),
        F.round(F.var_pop("y"), 6).alias("var_raw"),
        F.round(F.var_pop("y_cuped"), 6).alias("var_cuped"),
    )


EVENTS_CUPED_SQL = """
WITH mid AS (
  SELECT CAST((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2 AS BIGINT) AS mid_us
  FROM events
),
per AS (
  SELECT user_id,
    SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < mid.mid_us
             THEN value ELSE 0.0 END) AS x,
    SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= mid.mid_us
             THEN value ELSE 0.0 END) AS y
  FROM events, mid GROUP BY user_id, mid.mid_us
),
v AS (
  SELECT user_id, x, y,
    CASE WHEN CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INT)
              AS BIGINT) % 2 = 0
         THEN 'control' ELSE 'treatment' END AS variant
  FROM per
),
mom AS (
  SELECT COALESCE(COVAR_POP(x, y) / NULLIF(VAR_POP(x), 0), 0.0) AS theta,
         AVG(x) AS xbar FROM v
)
SELECT variant, COUNT(*) AS n_users,
  ROUND(AVG(y), 6) AS mean_raw,
  ROUND(AVG(y - mom.theta * (x - mom.xbar)), 6) AS mean_cuped,
  ROUND(VAR_POP(y), 6) AS var_raw,
  ROUND(VAR_POP(y - mom.theta * (x - mom.xbar)), 6) AS var_cuped
FROM v, mom GROUP BY variant, mom.theta, mom.xbar
"""


_SPLIT_BINS = 64


def events_histogram_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBDT-style split finding: which threshold on `value` best
    separates purchases from the rest, by information gain. The
    gradient-boosting histogram trick at engine scale — ONE pass bins
    every event into 64 equi-width bins of (count, positives); the
    gain scan over cumulative bin sums is a 64-row window, so finding
    a split over 100 TB costs one map-side-combine aggregation, never
    a per-candidate-threshold pass. Integer bin ids from the
    broadcast (min, max) scalar keep both engines byte-identical;
    log2 entropies are computed on exact integer counts then rounded."""
    e = load_table(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("pos")
    )
    rng = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = e.crossJoin(F.broadcast(rng)).select(
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(_SPLIT_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _SPLIT_BINS)
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))  # degenerate constant column: one bin
        .alias("bin"),
        "pos",
        "lo",
        "hi",
    )
    hist = b.groupBy("bin", "lo", "hi").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("np"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "lo",
        "hi",
        F.sum("n").over(w).alias("nl"),
        F.sum("np").over(w).alias("npl"),
        F.sum("n").over(Window.partitionBy(F.lit(1))).alias("nt"),
        F.sum("np").over(Window.partitionBy(F.lit(1))).alias("npt"),
    )

    def _ent(p):
        return F.when(
            (p > 0) & (p < 1), -(p * F.log2(p) + (1 - p) * F.log2(1 - p))
        ).otherwise(F.lit(0.0))

    pl = F.col("npl") / F.col("nl")
    pr = (F.col("npt") - F.col("npl")) / (F.col("nt") - F.col("nl"))
    pt = F.col("npt") / F.col("nt")
    gain = _ent(pt) - (
        F.col("nl") / F.col("nt") * _ent(pl)
        + (F.col("nt") - F.col("nl")) / F.col("nt") * _ent(pr)
    )
    scored = cum.filter(F.col("nl") < F.col("nt")).select(
        F.col("bin").cast("int").alias("bin"),
        F.round(
            F.col("lo") + (F.col("bin") + 1) * (F.col("hi") - F.col("lo")) / _SPLIT_BINS,
            6,
        ).alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("npl").cast("bigint").alias("pos_left"),
        F.round(gain, 9).alias("gain"),
    )
    return scored.orderBy(F.desc("gain"), "bin").limit(5)


EVENTS_SPLIT_SQL = """
WITH e AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
),
rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM e),
b AS (
  SELECT CASE WHEN rng.hi > rng.lo
              THEN LEAST(63, CAST(FLOOR((value - rng.lo) / ((rng.hi - rng.lo) / 64)) AS INT))
              ELSE 0 END AS bin,
         pos, rng.lo, rng.hi
  FROM e, rng
),
hist AS (
  SELECT bin, lo, hi, COUNT(*) AS n, SUM(pos) AS np
  FROM b GROUP BY 1, 2, 3
),
cum AS (
  SELECT bin, lo, hi,
    SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
    SUM(np) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS npl,
    SUM(n) OVER () AS nt, SUM(np) OVER () AS npt
  FROM hist
),
scored AS (
  SELECT CAST(bin AS INTEGER) AS bin,
    ROUND(lo + (bin + 1) * (hi - lo) / 64, 6) AS threshold,
    CAST(nl AS BIGINT) AS n_left, CAST(npl AS BIGINT) AS pos_left,
    ROUND(
      (CASE WHEN npt * 1.0 / nt > 0 AND npt * 1.0 / nt < 1 THEN
        -((npt * 1.0 / nt) * LOG2(npt * 1.0 / nt)
          + (1 - npt * 1.0 / nt) * LOG2(1 - npt * 1.0 / nt)) ELSE 0.0 END)
      - ((nl * 1.0 / nt) *
         (CASE WHEN npl * 1.0 / nl > 0 AND npl * 1.0 / nl < 1 THEN
           -((npl * 1.0 / nl) * LOG2(npl * 1.0 / nl)
             + (1 - npl * 1.0 / nl) * LOG2(1 - npl * 1.0 / nl)) ELSE 0.0 END)
         + ((nt - nl) * 1.0 / nt) *
         (CASE WHEN (npt - npl) * 1.0 / (nt - nl) > 0
                AND (npt - npl) * 1.0 / (nt - nl) < 1 THEN
           -(((npt - npl) * 1.0 / (nt - nl)) * LOG2((npt - npl) * 1.0 / (nt - nl))
             + (1 - (npt - npl) * 1.0 / (nt - nl))
               * LOG2(1 - (npt - npl) * 1.0 / (nt - nl))) ELSE 0.0 END)),
      9) AS gain
  FROM cum WHERE nl < nt
)
SELECT bin, threshold, n_left, pos_left, gain
FROM scored ORDER BY gain DESC, bin LIMIT 5
"""


QUERIES.update(
    {
        "events_cuped_readout": events_cuped_readout,
        "events_histogram_split": events_histogram_split,
    }
)
ORACLES.update(
    {
        "events_cuped_readout": EVENTS_CUPED_SQL,
        "events_histogram_split": EVENTS_SPLIT_SQL,
    }
)


# ---------------------------------------------------------------------------
# Near-dup decontamination: eval-split leakage the exact 5-gram check misses
# ---------------------------------------------------------------------------

def decontam_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination of the train split against the
    eval split: a train doc whose shingle Jaccard against ANY eval doc
    clears 0.5 is leaked benchmark material even when no exact 5-gram
    survives (paraphrase-level contamination — the case
    ``text_decontaminate``'s exact n-gram overlap misses). Pairing is
    eval ⋈ train keyed by shingle via the incremental-dedup operator
    (never train × train), so the cost is linear in the train corpus
    for a bounded benchmark set — the production decontamination
    shape. Output: one row per contaminated train doc with its worst
    (max) Jaccard and how many eval docs it matches."""
    from csdid_pyspark_spark.cache import carry_cache

    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_eval = h.isin("0", "1", "2", "3")
    ev = d.filter(is_eval)
    tr = d.filter(~is_eval)
    pairs = dedup.jaccard_pairs_between(
        ev, tr, n=3, threshold=0.5, max_df=NEARDUP_MAX_DF
    )
    out = (
        pairs.groupBy(F.col("corpus_id").alias("train_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_eval_matches"),
            F.round(F.max("jaccard"), 6).alias("worst_jaccard"),
        )
        .orderBy("train_id")
    )
    return carry_cache(out, pairs)


DECONTAM_NEARDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3') AS is_eval
  FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, is_eval,
         UNNEST(list_transform(range(1, GREATEST(len(tokens) - 1, 1)),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM toks WHERE len(tokens) >= 3
),
sh_c_all AS (SELECT doc_id, shingle FROM sh_all WHERE NOT is_eval),
hot AS (SELECT shingle FROM sh_c_all GROUP BY shingle HAVING COUNT(*) > %d),
sh_d AS (
  SELECT s.doc_id, s.shingle FROM sh_all s ANTI JOIN hot USING (shingle)
  WHERE s.is_eval
),
sh_c AS (SELECT s.doc_id, s.shingle FROM sh_c_all s ANTI JOIN hot USING (shingle)),
sizes_d AS (SELECT doc_id, COUNT(*) AS n_d FROM sh_d GROUP BY doc_id),
sizes_c AS (SELECT doc_id, COUNT(*) AS n_c FROM sh_c GROUP BY doc_id),
inter AS (
  SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id, COUNT(*) AS n_inter
  FROM sh_d d JOIN sh_c c ON d.shingle = c.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT delta_id, corpus_id,
         ROUND(CAST(n_inter AS DOUBLE) / (sd.n_d + sc.n_c - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes_d sd ON sd.doc_id = delta_id
  JOIN sizes_c sc ON sc.doc_id = corpus_id
  WHERE CAST(n_inter AS DOUBLE) / (sd.n_d + sc.n_c - n_inter) >= 0.5
)
SELECT corpus_id AS train_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       ROUND(MAX(jaccard), 6) AS worst_jaccard
FROM pairs GROUP BY corpus_id ORDER BY train_id
""" % NEARDUP_MAX_DF


QUERIES["decontam_neardup"] = decontam_neardup
ORACLES["decontam_neardup"] = DECONTAM_NEARDUP_SQL


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------


def _fp_split() -> F.Column:
    """The 80/10/10 content-fingerprint split label (see
    docs_split_leakage_safe): md5 of whitespace-normalized lowercase
    text, bucketed on the first two hex chars."""
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    b = F.substring(fp, 1, 2)
    return F.when(b < "cd", "train").when(b < "e7", "val").otherwise("test")


_FP_SPLIT_SQL = r"""CASE
  WHEN substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2)
       < 'cd' THEN 'train'
  WHEN substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2)
       < 'e7' THEN 'val'
  ELSE 'test' END"""


def docs_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split that can never leak
    a duplicate across splits: the split key is the CONTENT fingerprint
    (md5 of whitespace-normalized lowercase text — the same identity as
    dedup_exact_groups), not the doc_id, so byte-identical documents
    land in the same split by construction. The first two hex chars of
    the fingerprint give 256 deterministic buckets (train < 0xcd =
    205/256 ~ 80.1%, val < 0xe7 ~ 10.2%, test the rest) — no RNG, so
    the split is reproducible across runs, engines, and repartitions.
    ``leaked_fp`` COMPUTES (not assumes) the number of fingerprints
    spanning >1 split — the invariant the report exists to certify.
    Plan: one fingerprint shuffle for the leak audit + one tiny split
    aggregate; both map-side combinable, nothing data-scale reaches
    the driver."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    docs = d.select(fp.alias("fp"), _fp_split().alias("split"), "source")
    leaks = (
        docs.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_fp")
        )
    )
    per_split = docs.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_fp"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    tot = per_split.agg(F.sum("n_docs").alias("tot"))
    return (
        per_split.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_fp",
            "n_sources",
            F.round(F.col("n_docs") / F.col("tot"), 6).alias("share"),
            "leaked_fp",
        )
        .orderBy("split")
    )


SPLIT_LEAKAGE_SQL = r"""
WITH docs AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         source
  FROM documents
),
labeled AS (
  SELECT fp, source,
         CASE WHEN substring(fp, 1, 2) < 'cd' THEN 'train'
              WHEN substring(fp, 1, 2) < 'e7' THEN 'val'
              ELSE 'test' END AS split
  FROM docs
),
leaks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS leaked_fp FROM (
    SELECT fp FROM labeled GROUP BY fp HAVING COUNT(DISTINCT split) > 1
  )
),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
  FROM labeled GROUP BY split
)
SELECT split, n_docs, n_fp, n_sources,
       ROUND(n_docs / (SELECT CAST(SUM(n_docs) AS DOUBLE) FROM per_split), 6)
         AS share,
       (SELECT leaked_fp FROM leaks) AS leaked_fp
FROM per_split ORDER BY split
"""

QUERIES["docs_split_leakage_safe"] = docs_split_leakage_safe
ORACLES["docs_split_leakage_safe"] = SPLIT_LEAKAGE_SQL


# ---------------------------------------------------------------------------
# Cluster-safe split: near-dup clusters assigned to splits atomically
# ---------------------------------------------------------------------------


def docs_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stronger leakage guard over docs_split_leakage_safe: exact
    fingerprint splitting still lets a NEAR-duplicate pair straddle
    train/test (the eval-contamination failure mode), so here the split
    key is the near-dup CLUSTER id (min doc_id of the Jaccard component,
    the dedup_components identity; singletons key on themselves). Every
    cluster lands in one split whole. The bucket is the masked Knuth
    remix of the cluster id onto 0..255 (train < 205 ~ 80.1%, val < 231
    ~ 10.2%) — pure int64 arithmetic, identical in DuckDB, no RNG.
    ``leaked_clusters`` computes the number of clusters spanning >1
    split (the certified invariant). Plan: the df-capped pair join +
    checkpointed min-label propagation (constant lineage per round),
    then the node->comp map joins back to documents keyed on doc_id (a
    doc-scale equi-join, NOT a broadcast — the cluster map grows with
    the corpus); all aggregates are map-side combinable."""
    from csdid_pyspark_spark.cache import release_cache

    d = load_table(spark, sf_dir, "documents")
    pairs = _neardup_pairs(d)
    comp = dedup.components(pairs)
    release_cache(pairs)
    docs = (
        d.select("doc_id")
        .join(
            comp.select(F.col("node").alias("doc_id"), "comp"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    bucket = F.expr(
        "pmod(pmod(cluster_id, 2147483648) * 2654435761, 4294967296)"
        " div 16777216"
    )
    labeled = docs.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 205, "train")
        .when(bucket < 231, "val")
        .otherwise("test")
        .alias("split"),
    )
    leaks = (
        labeled.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_clusters")
        )
    )
    per_split = labeled.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    tot = per_split.agg(F.sum("n_docs").alias("tot"))
    return (
        per_split.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.round(F.col("n_docs") / F.col("tot"), 6).alias("share"),
            "leaked_clusters",
        )
        .orderBy("split")
    )


SPLIT_CLUSTER_SQL = r"""
WITH RECURSIVE """ + _NEARDUP_PAIRS_CTES + r""",
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.r
),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
docs AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
labeled AS (
  SELECT doc_id, cluster_id,
         CASE WHEN ((cluster_id % 2147483648) * 2654435761) % 4294967296
                   // 16777216 < 205 THEN 'train'
              WHEN ((cluster_id % 2147483648) * 2654435761) % 4294967296
                   // 16777216 < 231 THEN 'val'
              ELSE 'test' END AS split
  FROM docs
),
leaks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS leaked_clusters FROM (
    SELECT cluster_id FROM labeled GROUP BY cluster_id
    HAVING COUNT(DISTINCT split) > 1
  )
),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
  FROM labeled GROUP BY split
)
SELECT split, n_docs, n_clusters,
       ROUND(n_docs / (SELECT CAST(SUM(n_docs) AS DOUBLE) FROM per_split), 6)
         AS share,
       (SELECT leaked_clusters FROM leaks) AS leaked_clusters
FROM per_split ORDER BY split
"""

QUERIES["docs_split_cluster_safe"] = docs_split_cluster_safe
ORACLES["docs_split_cluster_safe"] = SPLIT_CLUSTER_SQL


# ---------------------------------------------------------------------------
# Split balance audit (source-mix homogeneity per split)
# ---------------------------------------------------------------------------


def docs_split_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity of each split's source mix against the
    corpus mix — the audit that catches a biased split (a hash split
    should be source-balanced; a skewed chi2 means the fingerprint
    correlates with source, e.g. one source is all boilerplate
    duplicates). Per split: chi2 = sum over ALL corpus sources of
    (obs - n_split * p_src)^2 / (n_split * p_src), with p_src the
    corpus share — built on the splits x sources SPINE so a source a
    split never drew still contributes its full expected mass
    (dropping empty cells understates chi2 exactly when the split is
    worst). One (source, split) count aggregate — integer-exact —
    then scalar double math on the tiny cross table; df =
    n_sources - 1."""
    d = load_table(spark, sf_dir, "documents")
    cell = (
        d.select(_fp_split().alias("split"), "source")
        .groupBy("split", "source")
        .agg(F.count("*").alias("c"))
    )
    src_tot = cell.groupBy("source").agg(F.sum("c").alias("c_src"))
    split_tot = cell.groupBy("split").agg(F.sum("c").alias("n_split"))
    grand = cell.agg(F.sum("c").alias("n"))
    spine = split_tot.crossJoin(F.broadcast(src_tot))
    exp = (
        F.col("n_split").cast("double")
        * F.col("c_src")
        / F.col("n")
    )
    obs = F.coalesce(F.col("c"), F.lit(0))
    return (
        spine.join(F.broadcast(cell), ["split", "source"], "left")
        .crossJoin(F.broadcast(grand))
        .select(
            "split",
            "n_split",
            ((obs - exp) * (obs - exp) / exp).alias("term"),
        )
        .groupBy("split")
        .agg(
            F.max("n_split").cast("bigint").alias("n_docs"),
            F.round(F.sum("term"), 6).alias("chi2"),
            (F.count("*") - 1).cast("bigint").alias("df"),
        )
        .orderBy("split")
    )


SPLIT_BALANCE_SQL = rf"""
WITH cell AS (
  SELECT {_FP_SPLIT_SQL} AS split, source, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
src_tot AS (SELECT source, SUM(c) AS c_src FROM cell GROUP BY 1),
split_tot AS (SELECT split, SUM(c) AS n_split FROM cell GROUP BY 1),
grand AS (SELECT SUM(c) AS n FROM cell),
terms AS (
  SELECT st.split, st.n_split,
         (COALESCE(cell.c, 0) - CAST(st.n_split AS DOUBLE) * s.c_src / (SELECT n FROM grand))
         * (COALESCE(cell.c, 0) - CAST(st.n_split AS DOUBLE) * s.c_src / (SELECT n FROM grand))
         / (CAST(st.n_split AS DOUBLE) * s.c_src / (SELECT n FROM grand)) AS term
  FROM split_tot st
  CROSS JOIN src_tot s
  LEFT JOIN cell ON cell.split = st.split AND cell.source = s.source
)
SELECT split, CAST(MAX(n_split) AS BIGINT) AS n_docs,
       ROUND(SUM(term), 6) AS chi2,
       CAST(COUNT(*) - 1 AS BIGINT) AS df
FROM terms GROUP BY split ORDER BY split
"""

QUERIES["docs_split_source_balance"] = docs_split_source_balance
ORACLES["docs_split_source_balance"] = SPLIT_BALANCE_SQL


def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the HUB
    readout dedup_cluster_histogram can't give: a chain of pairwise
    near-dups and a template cloned into N docs can form same-size
    clusters, but only the template shows a high per-document DEGREE.
    Curation uses the high-degree tail as the boilerplate/template
    review queue. One symmetric count over the df-capped pair list
    (already bounded), then a tiny histogram aggregate."""
    from csdid_pyspark_spark.cache import release_cache

    d = load_table(spark, sf_dir, "documents")
    pairs = _neardup_pairs(d)
    # ONE pass over the pair graph: the old unionAll of two projections
    # embedded the whole pair-generation subtree (postings self-join +
    # jaccard filter — the expensive part; only the shingle arrays are
    # persisted) once PER BRANCH (guide §2.4). explode(array(...)) emits
    # the identical endpoint multiset from a single execution.
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    out = (
        deg.groupBy("degree")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .orderBy("degree")
        .select(F.col("degree").cast("bigint").alias("degree"), "n_docs", "example_doc")
    )
    result = out.localCheckpoint(eager=True)
    release_cache(pairs)
    return result


NEARDUP_DEGREE_SQL = r"""
WITH """ + _NEARDUP_PAIRS_CTES + r""",
deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL SELECT id_b FROM pairs
  ) GROUP BY doc_id
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc
FROM deg GROUP BY degree ORDER BY degree
"""

QUERIES["neardup_degree_histogram"] = neardup_degree_histogram
ORACLES["neardup_degree_histogram"] = NEARDUP_DEGREE_SQL


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Appendix A1.1)
# ---------------------------------------------------------------------------

def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters, the standard pre-training text gate
    alongside the composite quality_filter: per document, the fraction
    of characters covered by (a) the single heaviest word n-gram for
    n = 2, 3, 4 ("top-n-gram character fraction") and (b) all
    DUPLICATED word n-grams for n = 5, 10 ("duplicate-n-gram character
    fraction"), gated at Gopher's published thresholds (0.20 / 0.18 /
    0.16 / 0.15 / 0.10). Two documented adaptations: the corpus has no
    newlines, so Gopher's duplicate-line/paragraph legs are omitted
    rather than emitted as degenerate zeros; and "most frequent
    n-gram" is made deterministic as the n-gram maximizing
    count x char-length (ties in raw count would otherwise make the
    covered-character fraction depend on tie order). Duplicate
    fractions use the standard overlap-ignoring accounting
    (sum of count x char-length over duplicated n-grams), as in the
    public Dolma/RedPajama reimplementations, so they can exceed 1 on
    pathological inputs.

    Scale shape (r9 rewrite): ZERO shuffles — n-gram frequencies are
    doc-local, so each leg is a run-length count over the doc's SORTED
    gram array, computed as narrow higher-order-function expressions
    in ONE map-side projection (sort + adjacent-difference per doc;
    lambda-binding via single-element transform evaluates each sorted
    array exactly once). The previous form exploded (n, gram) pairs
    and paid two count shuffles for what is per-row arithmetic; values
    are identical (same counts, same count x char-length metric)."""
    from csdid_pyspark_spark.operators.fanout import widen_fanout

    # per-doc n-gram sorting is the heaviest per-row expression in the
    # suite: spread the physically small doc scan across the cores
    # before it (no-op at real corpus scale — fanout.py)
    d = widen_fanout(load_table(spark, sf_dir, "documents"))
    tk = F.split(F.trim("text"), r"\s+")
    toks = d.select("doc_id", tk.alias("tk"))

    def leg(n: int, kind: str) -> str:
        """One metric as a self-contained expression: s = the doc's
        sorted n-gram array, b = run-start indices; kind 'top' =
        max(count x len) over all runs, 'dup' = sum(count x len) over
        runs with count > 1. NULL when the doc has no n-grams."""
        gs = (
            f"transform(sequence(1, size(tk) - {n} + 1), "
            f"i -> array_join(slice(tk, i, {n}), ' '))"
        )
        runs = (
            "transform(b, (st, j) -> named_struct("
            "'c', CAST((CASE WHEN j + 1 < size(b) THEN b[j + 1] "
            "ELSE size(s) END) - st AS BIGINT), "
            "'l', CAST(length(s[st]) AS BIGINT)))"
        )
        if kind == "top":
            inner = f"array_max(transform({runs}, r -> r.c * r.l))"
        else:
            inner = (
                f"aggregate({runs}, CAST(0 AS BIGINT), "
                "(acc, r) -> acc + IF(r.c > 1, r.c * r.l, CAST(0 AS BIGINT)))"
            )
        return (
            f"CASE WHEN size(tk) >= {n} THEN "
            f"transform(array(sort_array({gs})), s -> "
            f"transform(array(filter(sequence(0, size(s) - 1), "
            f"i -> i = 0 OR s[i] != s[i - 1])), b -> {inner})[0])[0] "
            f"ELSE CAST(NULL AS BIGINT) END"
        )

    met = toks.selectExpr(
        "doc_id",
        "CAST(length(array_join(tk, ' ')) AS BIGINT) AS total",
        f"({leg(2, 'top')}) AS t2",
        f"({leg(3, 'top')}) AS t3",
        f"({leg(4, 'top')}) AS t4",
        f"({leg(5, 'dup')}) AS d5",
        f"({leg(10, 'dup')}) AS d10",
    )
    # total = 0 (whitespace-only text) would make every fraction
    # NULL/0-divided and `keep` silently NULL in BOTH engines — flag
    # those docs explicitly instead
    tot = F.col("total").cast("double")

    def frac(num):
        return F.when(
            F.col("total") > 0,
            F.round(F.coalesce(num, F.lit(0)).cast("double") / tot, 6),
        ).otherwise(F.lit(0.0))

    fr = met.select(
        "doc_id",
        "total",
        frac(F.col("t2")).alias("top2gram_frac"),
        frac(F.col("t3")).alias("top3gram_frac"),
        frac(F.col("t4")).alias("top4gram_frac"),
        frac(F.col("d5")).alias("dup5gram_frac"),
        frac(F.col("d10")).alias("dup10gram_frac"),
    )
    flags = [
        (F.col("total") == 0, "empty"),
        (F.col("top2gram_frac") > 0.20, "top2gram"),
        (F.col("top3gram_frac") > 0.18, "top3gram"),
        (F.col("top4gram_frac") > 0.16, "top4gram"),
        (F.col("dup5gram_frac") > 0.15, "dup5gram"),
        (F.col("dup10gram_frac") > 0.10, "dup10gram"),
    ]
    bad = flags[0][0]
    for cond, _ in flags[1:]:
        bad = bad | cond
    return fr.select(
        "doc_id",
        "top2gram_frac",
        "top3gram_frac",
        "top4gram_frac",
        "dup5gram_frac",
        "dup10gram_frac",
        (~bad).alias("keep"),
        F.concat_ws(
            ",", *[F.when(cond, F.lit(name)) for cond, name in flags]
        ).alias("reasons"),
    )


QUALITY_GOPHER_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
),
base AS (
  SELECT doc_id, CAST(length(array_to_string(tk, ' ')) AS BIGINT) AS total
  FROM toks
),
grams AS (
  SELECT doc_id, n,
         UNNEST(list_transform(range(1, len(tk) - n + 2),
                i -> array_to_string(tk[i:i+n-1], ' '))) AS g
  FROM toks CROSS JOIN (VALUES (2), (3), (4), (5), (10)) nn(n)
),
counts AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY ALL),
met AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN c * length(g) END) AS t2,
         MAX(CASE WHEN n = 3 THEN c * length(g) END) AS t3,
         MAX(CASE WHEN n = 4 THEN c * length(g) END) AS t4,
         SUM(CASE WHEN n = 5 AND c > 1 THEN c * length(g) END) AS d5,
         SUM(CASE WHEN n = 10 AND c > 1 THEN c * length(g) END) AS d10
  FROM counts GROUP BY doc_id
),
fr AS (
  SELECT b.doc_id, b.total,
         CASE WHEN total > 0 THEN ROUND(CAST(COALESCE(t2, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6) ELSE 0.0 END AS top2gram_frac,
         CASE WHEN total > 0 THEN ROUND(CAST(COALESCE(t3, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6) ELSE 0.0 END AS top3gram_frac,
         CASE WHEN total > 0 THEN ROUND(CAST(COALESCE(t4, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6) ELSE 0.0 END AS top4gram_frac,
         CASE WHEN total > 0 THEN ROUND(CAST(COALESCE(d5, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6) ELSE 0.0 END AS dup5gram_frac,
         CASE WHEN total > 0 THEN ROUND(CAST(COALESCE(d10, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6) ELSE 0.0 END AS dup10gram_frac
  FROM base b LEFT JOIN met m USING (doc_id)
)
SELECT doc_id, top2gram_frac, top3gram_frac, top4gram_frac,
       dup5gram_frac, dup10gram_frac,
       NOT (total = 0 OR top2gram_frac > 0.20 OR top3gram_frac > 0.18
            OR top4gram_frac > 0.16 OR dup5gram_frac > 0.15
            OR dup10gram_frac > 0.10) AS keep,
       concat_ws(',',
         CASE WHEN total = 0 THEN 'empty' END,
         CASE WHEN top2gram_frac > 0.20 THEN 'top2gram' END,
         CASE WHEN top3gram_frac > 0.18 THEN 'top3gram' END,
         CASE WHEN top4gram_frac > 0.16 THEN 'top4gram' END,
         CASE WHEN dup5gram_frac > 0.15 THEN 'dup5gram' END,
         CASE WHEN dup10gram_frac > 0.10 THEN 'dup10gram' END) AS reasons
FROM fr
"""

QUERIES["quality_gopher_repetition"] = quality_gopher_repetition
ORACLES["quality_gopher_repetition"] = QUALITY_GOPHER_SQL


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling")
# ---------------------------------------------------------------------------

def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling — the standard way to tilt a raw
    crawl toward a target domain without training a classifier: model
    target and raw corpora as bags of HASHED word bigrams (B = 256
    buckets), weight every document by its log likelihood ratio

        logw(doc) = sum over doc bigrams of
                    ln p_tgt[bucket] - ln p_raw[bucket]

    (add-0.5 smoothed bucket probabilities), then sample WITHOUT
    replacement via deterministic Gumbel top-k: key = logw + Gumbel
    noise from an md5-uniform, take the k = 200 largest keys. The
    target domain here is sources src1-src4 (a deterministic slice of
    the corpus standing in for "quality domain" text); the raw
    distribution is the whole corpus.

    Probabilities are integer counts through mirrored double
    arithmetic so ln sees bit-identical inputs in both engines (the
    TF-IDF/LM-perplexity libm pattern); the Gumbel uniform is an
    md5-derived 32-bit integer, so selection is deterministic and
    partition-independent.

    Scale shape: one bigram explode with map-side-combinable bucket
    counts (state = 256 buckets x 2, independent of corpus size), the
    256-row likelihood-ratio table broadcasts back onto the exploded
    bigrams, ONE per-doc sum shuffle, and the global top-k is a
    TakeOrdered (no full sort). At 100 TB: two narrow shuffles plus a
    k-row collect. The hashed-bigram frame is persisted: THREE
    independent subtrees consume it (bucket counts, the totals inside
    the broadcast, the per-doc logw sum) and without the pin each
    re-runs the tokenize + md5 explode — the dominant per-row compute
    of the query (guide §2.4/§5: cache exactly the reused expensive
    lineage, narrow columns only)."""
    from csdid_pyspark_spark.cache import attach_cache


    B = 256
    K = 200
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim("text")), r"\s+")
    toks = d.filter(F.size(tk) >= 2).select(
        "doc_id",
        F.col("source").isin("src1", "src2", "src3", "src4").alias("is_tgt"),
        tk.alias("tokens"),
    )
    big = toks.select(
        "doc_id",
        "is_tgt",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> tokens[i-1] || ' ' || tokens[i])"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "is_tgt",
        F.pmod(
            F.conv(F.substring(F.md5("bg"), 1, 4), 16, 10).cast("long"), B
        ).alias("b"),
    ).persist()
    raw_c = big.groupBy("b").agg(
        F.count("*").alias("c_r"),
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("c_t"),
    )
    totals = raw_c.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    lr_tbl = raw_c.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log(
                (F.col("c_t").cast("double") + 0.5)
                / (F.col("n_t").cast("double") + 128.0)
            )
            - F.log(
                (F.col("c_r").cast("double") + 0.5)
                / (F.col("n_r").cast("double") + 128.0)
            )
        ).alias("lr"),
    )
    logw = (
        big.join(F.broadcast(lr_tbl), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("logw"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|dsir"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.col("logw") - F.log(-F.log(u))
    out = (
        logw.select(
            "doc_id",
            F.round("logw", 6).alias("logw"),
            F.round(key, 6).alias("gumbel_key"),
        )
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(K)
    )
    return attach_cache(out, big)


SAMPLE_DSIR_SQL = r"""
WITH toks AS (
  SELECT doc_id, source IN ('src1', 'src2', 'src3', 'src4') AS is_tgt,
         string_split_regex(lower(trim(text)), '\s+') AS tokens
  FROM documents
  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2
),
big AS (
  SELECT doc_id, is_tgt,
         CAST('0x' || substr(md5(bg), 1, 4) AS BIGINT) % 256 AS b
  FROM (
    SELECT doc_id, is_tgt,
           UNNEST(list_transform(range(1, len(tokens)),
                  i -> tokens[i] || ' ' || tokens[i+1])) AS bg
    FROM toks
  )
),
raw_c AS (
  SELECT b, COUNT(*) AS c_r,
         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_t
  FROM big GROUP BY b
),
totals AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM raw_c),
lr_tbl AS (
  SELECT b,
         ln((CAST(c_t AS DOUBLE) + 0.5) / (CAST(n_t AS DOUBLE) + 128.0))
       - ln((CAST(c_r AS DOUBLE) + 0.5) / (CAST(n_r AS DOUBLE) + 128.0)) AS lr
  FROM raw_c CROSS JOIN totals
),
logw AS (
  SELECT doc_id, SUM(lr) AS logw
  FROM big JOIN lr_tbl USING (b) GROUP BY doc_id
)
SELECT doc_id, ROUND(logw, 6) AS logw,
       ROUND(logw - ln(-ln(
         (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
         / 4294967296.0)), 6) AS gumbel_key
FROM logw
ORDER BY gumbel_key DESC, doc_id
LIMIT 200
"""

QUERIES["sample_dsir_importance"] = sample_dsir_importance
ORACLES["sample_dsir_importance"] = SAMPLE_DSIR_SQL


# ---------------------------------------------------------------------------
# Label-propagation communities over the near-dup graph
# ---------------------------------------------------------------------------

def dedup_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round deterministic label propagation
    (operators/graph.py::label_propagation — min-label tie-break, one
    edge-join + vote-count + argmax shuffle per round) over the same
    df-capped near-dup pair graph dedup_components walks. Communities
    answer a different curation question than components: a connected
    component can chain two dense duplicate cliques through one bridge
    pair, while LPA assigns each clique its own label — the unit you'd
    keep one representative per. Output: one row per community with
    its size and smallest member, ordered by community label. The
    oracle unrolls the same four voting rounds as chained CTEs with
    the identical integer argmax score, so the hash check covers every
    round's tie-breaks."""
    from csdid_pyspark_spark.cache import attach_cache, release_cache
    from csdid_pyspark_spark.operators.graph import label_propagation

    d = load_table(spark, sf_dir, "documents")
    pairs = _neardup_pairs(d)
    lab = label_propagation(pairs, iters=4)
    release_cache(pairs)
    out = (
        lab.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("node").cast("bigint").alias("example_doc"),
        )
        .orderBy("community")
        .select(F.col("community").cast("bigint").alias("community"), "n_docs", "example_doc")
    )
    return attach_cache(out, lab)


def _lpa_sql(iters: int = 4) -> str:
    body = """, ed AS (SELECT id_a AS s, id_b AS d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
l0 AS (SELECT DISTINCT d AS node, d AS label FROM ed)"""
    prev = "l0"
    for k in range(1, iters + 1):
        body += f""",
v{k} AS (
  SELECT ed.d AS node, {prev}.label, COUNT(*) AS c
  FROM ed JOIN {prev} ON {prev}.node = ed.s
  GROUP BY 1, 2
),
l{k} AS (
  SELECT node, arg_max(label, CAST(c AS HUGEINT) * 4611686018427387904 - label) AS label FROM v{k}
  GROUP BY node
)"""
        prev = f"l{k}"
    return (
        "WITH "
        + _NEARDUP_PAIRS_CTES
        + body
        + f"""
SELECT CAST(label AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(node) AS BIGINT) AS example_doc
FROM {prev} GROUP BY label ORDER BY community"""
    )


DEDUP_LPA_SQL = _lpa_sql()

QUERIES["dedup_communities_lpa"] = dedup_communities_lpa
ORACLES["dedup_communities_lpa"] = DEDUP_LPA_SQL
