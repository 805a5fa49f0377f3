"""Product quantization (PQ) for billion-scale similarity search.

PQ is THE memory-scale path for ANN at 100 TB: split each p-dim vector
into M subvectors, k-means each subspace into K centroids, and store
each vector as M small codes (M bytes at K=256; here K=16 for the
test corpus). Search scores candidates with an Asymmetric Distance
Computation (ADC) table — M·K precomputed subdistances broadcast as
literals — so the scan never touches the original floats.

Spark-first shapes:
- codebook training runs ALL M subspaces simultaneously: assignment
  is ONE narrow ``mapInArrow`` NumPy kernel over the (id, vec) rows
  (:func:`assign_codes_arrow` — guide §4.2; it replaced an
  explode + broadcast-join(×K) + INTERPRETED zip_with/aggregate
  pipeline with bit-identical codes), update via ONE groupBy of
  M·K·d_sub cells with decimal-exact means — driver traffic is the
  codebook itself (M·K·d_sub floats) per iteration, row count never
  leaves the executors (same contract as operators/kmeans.py and the
  estimator Gram passes);
- encoding is the same assignment pass, emitting (id, m, code);
- ADC scoring is a broadcast equi-join of the code table against the
  M·K distance table + one groupBy(id) sum — no vector math at scan
  time, which is the entire point of PQ.

Deterministic: init = subvectors of the K lowest-id vectors, fixed
iteration count, decimal-exact centroid means, integer codes,
(score, id) tiebreaks — so the index and search results pin VALUES
goldens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _subvectors(df: DataFrame, vec_col: str, id_col: str, m: int, d_sub: int) -> DataFrame:
    subs = F.array(
        *[F.slice(F.col(vec_col), i * d_sub + 1, d_sub) for i in range(m)]
    )
    return df.select(id_col, F.posexplode(subs).alias("m", "sub"))


def assign_codes_arrow(
    df: DataFrame,
    codebook: dict[int, dict[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_sub: bool = False,
) -> DataFrame:
    """Nearest-codebook-entry assignment as ONE ``mapInArrow`` NumPy
    kernel over the (id, vec) rows — replacing the explode-to-(n·M
    rows) + broadcast-join-(×K) + interpreted zip_with/aggregate +
    min_by groupBy pipeline (guide §4.2: hand whole batches to
    vectorized native code instead of per-row interpreted expression
    trees; §2.4: the explode/groupBy shuffle disappears outright — the
    kernel is a narrow map).

    Values are BIT-IDENTICAL to the expression form by construction:

    - the squared distance accumulates per dimension in ascending
      order (``acc += (a - b)²`` one dim at a time), the exact IEEE
      fold ``aggregate(zip_with(...), 0.0, acc + v)`` performs —
      float32 inputs promote to float64 exactly, each elementwise
      NumPy op is one correctly-rounded double op;
    - argmin over entries sorted by cluster id picks the first minimum
      == ``min_by(cluster, struct(d2, cluster))``'s low-id tiebreak;
    - ``with_sub=True`` passes each subvector through in the INPUT
      element dtype (a pure Arrow re-slice of the incoming buffer), so
      downstream decimal casts quantize the same bits the old
      ``slice()`` projection produced.

    Returns (id, m, code[, sub]) — one row per (vector, subspace).
    A vector with a NaN or inf component raises ``ValueError`` naming
    its id.
    """
    import numpy as np

    m = len(codebook)
    d_sub = len(next(iter(codebook[0].values())))
    k_max = max(len(codebook[j]) for j in range(m))
    # pad ragged subspaces (possible when the corpus is smaller than
    # K) with +inf centroids: never selected, matrix stays rectangular
    ids_mat = np.full((m, k_max), np.iinfo(np.int64).max, dtype=np.int64)
    cb_mat = np.full((m, k_max, d_sub), np.inf, dtype=np.float64)
    for j in range(m):
        for pos, c in enumerate(sorted(codebook[j])):
            ids_mat[j, pos] = c
            cb_mat[j, pos, :] = codebook[j][c]
    id_t = df.schema[id_col].dataType.simpleString()
    el_t = df.schema[vec_col].dataType.elementType.simpleString()
    out_schema = f"{id_col} {id_t}, m int, code int" + (
        f", sub array<{el_t}>" if with_sub else ""
    )

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids_np = b.column(0).to_numpy(zero_copy_only=False)
            flat = b.column(1).flatten().to_numpy(zero_copy_only=False)
            x = flat.astype(np.float64, copy=False).reshape(n, m, d_sub)
            acc = np.zeros((n, m, k_max))
            for d in range(d_sub):
                diff = x[:, :, d, None] - cb_mat[None, :, :, d]
                acc += diff * diff
            idx = np.argmin(acc, axis=2)  # ties -> first = lowest id
            best = np.take_along_axis(acc, idx[:, :, None], axis=2)[:, :, 0]
            bad = ~np.isfinite(best).all(axis=1)
            if bad.any():
                # a NaN/inf component leaves no finite distance: argmin
                # would pick an arbitrary entry, or the +inf padding whose
                # int64-max id wraps in the int32 cast below
                first = b.column(0)[int(np.flatnonzero(bad)[0])].as_py()
                raise ValueError(
                    f"{id_col} {first!r} has no finite distance to any "
                    "codebook entry (NaN or inf component)"
                )
            codes = ids_mat[np.arange(m)[None, :], idx]
            arrays = [
                pa.array(np.repeat(ids_np, m)),
                pa.array(np.tile(np.arange(m, dtype=np.int32), n)),
                pa.array(codes.reshape(-1).astype(np.int32)),
            ]
            names = [id_col, "m", "code"]
            if with_sub:
                offs = pa.array(
                    np.arange(0, (n * m + 1) * d_sub, d_sub, dtype=np.int32)
                )
                arrays.append(pa.ListArray.from_arrays(offs, pa.array(flat)))
                names.append("sub")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select(id_col, vec_col).mapInArrow(assign, out_schema)


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iters: int = 4,
) -> dict[int, dict[int, list[float]]]:
    """Learn the M per-subspace codebooks. Returns
    ``{m: {cluster: centroid}}`` — O(M·K·d_sub) driver data."""
    p = len(df.select(vec_col).first()[0])
    assert p % m == 0, f"dim {p} not divisible by m={m}"
    d_sub = p // m

    init = (
        _subvectors(df.orderBy(id_col).limit(k), vec_col, id_col, m, d_sub)
        .orderBy(id_col, "m")
        .collect()
    )
    codebook: dict[int, dict[int, list[float]]] = {j: {} for j in range(m)}
    seen: dict[int, int] = {j: 0 for j in range(m)}
    for r in init:
        j = r["m"]
        if seen[j] < k:
            codebook[j][seen[j]] = [float(x) for x in r["sub"]]
            seen[j] += 1

    for _ in range(iters):
        # assignment via the Arrow NumPy kernel (bit-identical codes,
        # see assign_codes_arrow); with_sub passes the subvectors
        # through so the update aggregates straight off the kernel
        # output — the old explode + (id, m) self-join is gone
        asg = assign_codes_arrow(df, codebook, vec_col, id_col, with_sub=True)
        upd = (
            asg.select("m", F.col("code"), F.posexplode("sub").alias("dim", "x"))
            .groupBy("m", "code", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
                    / F.count("*")
                ).alias("mean")
            )
            .collect()
        )
        new: dict[int, dict[int, dict[int, float]]] = {}
        for r in upd:
            new.setdefault(r["m"], {}).setdefault(r["code"], {})[r["dim"]] = r["mean"]
        for j in range(m):
            for c in range(k):
                if j in new and c in new[j]:
                    codebook[j][c] = [
                        new[j][c][d] for d in range(d_sub)
                    ]
                # empty cluster: keep its previous centroid
    return codebook


def encode_pq(
    df: DataFrame,
    codebook: dict[int, dict[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, m, code) PQ codes — the compressed index a scan reads
    instead of the float vectors. One narrow Arrow-kernel pass
    (:func:`assign_codes_arrow`) — no explode, no shuffle."""
    return assign_codes_arrow(df, codebook, vec_col, id_col, with_sub=False)


def pq_topk(
    codes: DataFrame,
    codebook: dict[int, dict[int, list[float]]],
    query: list[float],
    id_col: str = "vec_id",
    k_out: int = 10,
) -> DataFrame:
    """ADC top-k: broadcast the M·K distance table, join it to the code
    table, sum per id. Approximate squared-L2 (codebook resolution),
    deterministic (score, id) order."""
    m = len(codebook)
    d_sub = len(codebook[0][0])
    spark = codes.sparkSession
    rows = []
    for j in range(m):
        qs = query[j * d_sub : (j + 1) * d_sub]
        for c, cen in codebook[j].items():
            d2 = sum((a - b) * (a - b) for a, b in zip(qs, cen))
            rows.append((j, c, float(d2)))
    dtable = F.broadcast(
        spark.createDataFrame(rows, "m int, code int, d2 double")
    )
    return (
        codes.join(dtable, ["m", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("d2").cast("decimal(38,12)")).cast("double"), 6).alias("adc_d2"))
        .orderBy("adc_d2", id_col)
        .limit(k_out)
    )


def pq_topk_rerank(
    vectors: DataFrame,
    codes: DataFrame,
    codebook: dict[int, dict[int, list[float]]],
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_candidates: int = 50,
    k_out: int = 10,
) -> DataFrame:
    """The production PQ pipeline: ADC generates n_candidates from the
    code table (floats never scanned), then ONLY those candidates are
    re-ranked with exact squared-L2 against the float vectors — the
    standard coarse-then-exact ANN design. The exact pass touches
    n_candidates rows regardless of corpus size (broadcast semi-join
    on the candidate ids)."""
    cand = pq_topk(codes, codebook, query, id_col=id_col, k_out=n_candidates).select(
        id_col
    )
    qarr = F.array(*[F.lit(float(x)) for x in query])
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), qarr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        vectors.join(F.broadcast(cand), id_col, "semi")
        .select(id_col, F.round(d2, 6).alias("d2"))
        .orderBy("d2", id_col)
        .limit(k_out)
    )
