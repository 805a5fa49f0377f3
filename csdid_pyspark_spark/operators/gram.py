"""Distributed second-moment (Gram) accumulation over an embedding
column — the primitive behind PCA/whitening over a vector corpus.

The scale shape mirrors the estimator's per-cell passes (did/linalg.py,
which sum per cell and per partition instead):
each Arrow batch emits ONE partial row (count, Σx, ΣxxT), so data
leaving the executors is O(batches · p²) floats regardless of corpus
rows — at 100 TB the driver receives a few thousand 64×64 partials,
never a row-length anything. The p×p eigendecomposition then runs
driver-side in numpy (p is the embedding width, 64 here; LAPACK on a
4k×4k matrix is milliseconds — the distributed part is only the moment
accumulation, which is the only part that sees the data).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def partial_gram(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One row per Arrow batch: (n, sx = Σx [p], sxx = Σ x·xᵀ [p·p,
    row-major]). float64 accumulation inside each batch (numpy dot —
    vectorized, not per-row Python)."""
    import pandas as pd

    def f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [int(m.shape[0])],
                    "sx": [m.sum(axis=0).tolist()],
                    "sxx": [(m.T @ m).ravel().tolist()],
                }
            )

    return df.select(vec_col).mapInPandas(f, "n long, sx array<double>, sxx array<double>")


def covariance_from_partials(rows) -> tuple[int, np.ndarray]:
    """Merge collected partial rows into the exact (n, covariance)
    pair. Partials are summed in collect order (partition order) —
    stable for a fixed session shape; consumers round their outputs so
    the ~1e-12 relative drift between DIFFERENT partition layouts
    cannot surface."""
    n = sum(r["n"] for r in rows)
    p = len(rows[0]["sx"])
    sx = np.zeros(p)
    sxx = np.zeros((p, p))
    for r in rows:
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(p, p)
    mean = sx / n
    cov = sxx / n - np.outer(mean, mean)
    return n, cov
