"""MLlib-backed LSH variants (SURVEY.md §7 M6): MinHashLSH
``approxSimilarityJoin`` for near-dup candidate pairs and
BucketedRandomProjectionLSH ``approxNearestNeighbors`` for ANN.

These wrap ``pyspark.ml`` estimators as alternatives to the pure-SQL
implementations in operators/dedup.py and operators/similarity.py —
same inputs/outputs, different candidate engine (JVM LSH models instead
of hash-expression pipelines). The MinHash variant shares everything
else with ``dedup.minhash_lsh_pairs``: the per-doc shingle arrays
(``dedup._shingle_arrays``) and the exact map-side verifier
(``dedup._verify``). Tests cross-check the two backends.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml.feature import BucketedRandomProjectionLSH, HashingTF, MinHashLSH
from pyspark.ml.functions import array_to_vector
from pyspark.ml.linalg import Vectors
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.operators.dedup import _shingle_arrays, _verify


def minhash_lsh_pairs_mllib(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MLlib MinHashLSH approxSimilarityJoin,
    re-verified with exact shingle Jaccard by ``dedup._verify`` (HashingTF
    buckets make the model's own Jaccard approximate). One persisted
    (id, sh_arr) frame feeds both HashingTF (binary, so the distinct
    arrays give the same vectors as the raw shingle lists) and the
    verifier; it is attached to the result for ``release_cache``.
    Columns: id_a < id_b, jaccard."""
    arr = _shingle_arrays(df, text_col, id_col, n).persist()
    tf = HashingTF(inputCol="sh_arr", outputCol="features", numFeatures=num_features, binary=True)
    # MinHashLSH rejects all-zero vectors: leave out docs without shingles
    feats = tf.transform(arr.filter(F.size("sh_arr") > 0)).select(id_col, "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(feats)
    # approxSimilarityJoin threshold is a Jaccard *distance* bound
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold + 0.2, distCol="dist")
    cand = (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return _verify(arr, cand, id_col, threshold)


def ann_topk_mllib(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by euclidean distance via MLlib
    BucketedRandomProjectionLSH approxNearestNeighbors. Returns
    (id, dist) — euclidean, the metric that LSH family supports.

    array→Vector runs JVM-side via ``pyspark.ml.functions.array_to_vector``
    (no BatchEvalPython in the plan), so candidate generation never drops
    to row-at-a-time Python."""
    feats = df.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = brp.fit(feats)
    qv = Vectors.dense([float(x) for x in query])
    out = model.approxNearestNeighbors(feats, qv, k, distCol="dist")
    return out.select(id_col, F.round("dist", 5).alias("dist"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cluster probing —
# the classic alternative to LSH bucketing for embedding search. At
# 100 TB the assignment column becomes the table's partition key, so a
# probe reads n_probe/n_centroids of the corpus (partition pruning),
# then exact cosine reranks within the probed cells.
# ---------------------------------------------------------------------------

def build_ivf_index(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Fit the coarse quantizer and assign every vector to a cell.
    Returns (assignments DataFrame with a `cluster` column, centroid
    list). Persist/write the assignments partitioned by `cluster` for
    repeated queries."""
    from pyspark.ml.clustering import KMeans

    feats = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features", predictionCol="cluster")
    model = km.fit(feats)
    assigned = model.transform(feats).select(id_col, vec_col, "cluster")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ann_topk_ivf(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: probe the n_probe k-means cells
    nearest the query (euclidean, matching the quantizer's metric),
    exact-rerank inside them."""
    import math

    from csdid_pyspark_spark.functions.vectors import as_double_array, cosine, lit_vector

    assigned, centroids = build_ivf_index(df, n_centroids, id_col, vec_col, seed)
    dists = [
        (i, math.sqrt(sum((c - q) ** 2 for c, q in zip(cen, query))))
        for i, cen in enumerate(centroids)
    ]
    probes = [i for i, _ in sorted(dists, key=lambda x: x[1])[:n_probe]]
    q = lit_vector(query).cast("array<double>")
    return (
        assigned.filter(F.col("cluster").isin(probes))
        .select(F.col(id_col), cosine(as_double_array(vec_col), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
