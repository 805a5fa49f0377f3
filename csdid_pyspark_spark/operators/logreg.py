"""Distributed logistic regression via IRLS over declarative Gram
aggregations — the training half of a quality-classifier pipeline
(fastText-style doc filters are trained exactly like this at corpus
scale).

Same scale shape as the DiD estimator's IRLS (did/linalg.py, where an
iteration is one NumPy mapInArrow pass): here each
IRLS iteration is ONE map-side-combine aggregation producing the
p×p weighted Gram matrix and the p-vector X'Wz — O(p²) driver traffic
per iteration, independent of row count — and the p×p solve is driver
numpy. No per-row Python, no driver-side data, no MLlib dependency:
the hot path is whole-stage-codegen JVM expressions.

Determinism contract (what lets the trained model carry a pinned
VALUES golden oracle): per-row doubles (exp/log) are deterministic
scalar ops; every SUM accumulates exact DECIMAL(38,12), so partial-agg
order cannot perturb the Gram; iterations are a FIXED count (no
convergence branch); the driver solve is deterministic numpy. The same
data therefore yields bit-identical coefficients on local[3] and a
1000-executor cluster.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPS = 1e-10


def logistic_irls(
    df: DataFrame,
    features: dict[str, Column],
    label: Column,
    iters: int = 8,
    ridge: float = 1e-8,
) -> dict[str, float]:
    """Fit P(y=1|x) = sigmoid(x·beta) by iteratively reweighted least
    squares. ``features`` maps name → Column (include an intercept
    explicitly via ``F.lit(1.0)``); returns name → coefficient.

    Each iteration: eta = x·β, μ = σ(eta) (clipped to keep the working
    weight w = μ(1−μ) strictly positive), working response
    z = eta + (y−μ)/w, then β ← (X'WX + λI)⁻¹ X'Wz from one
    aggregation pass.
    """
    names = list(features)
    p = len(names)
    base = df.select(
        *[features[n].cast("double").alias(f"_f{j}") for j, n in enumerate(names)],
        label.cast("double").alias("_y"),
    )
    base = base.na.drop()
    beta = np.zeros(p)
    for _ in range(iters):
        eta = F.lit(float(beta[0])) * F.col("_f0")
        for j in range(1, p):
            eta = eta + F.lit(float(beta[j])) * F.col(f"_f{j}")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        mu = F.greatest(F.least(mu, F.lit(1.0 - _EPS)), F.lit(_EPS))
        w = mu * (F.lit(1.0) - mu)
        wz = w * eta + (F.col("_y") - mu)  # = w·z without forming z
        aggs = []
        for j in range(p):
            for k in range(j, p):
                aggs.append(
                    F.sum(
                        (F.col(f"_f{j}") * F.col(f"_f{k}") * w).cast("decimal(38,12)")
                    ).alias(f"_g_{j}_{k}")
                )
        for j in range(p):
            aggs.append(
                F.sum((F.col(f"_f{j}") * wz).cast("decimal(38,12)")).alias(f"_b_{j}")
            )
        row = base.agg(*aggs).collect()[0]
        G = np.zeros((p, p))
        for j in range(p):
            for k in range(j, p):
                G[j, k] = G[k, j] = float(row[f"_g_{j}_{k}"])
        # rhs accumulates w·z = w·eta + (y−mu), i.e. X'Wz — the normal
        # equations then give the NEW beta directly
        rhs = np.array([float(row[f"_b_{j}"]) for j in range(p)])
        beta = np.linalg.solve(G + ridge * np.eye(p), rhs)
    return {n: float(beta[j]) for j, n in enumerate(names)}


def score_column(features: dict[str, Column], coef: dict[str, float]) -> Column:
    """sigmoid(x·beta) as a pure JVM column expression (broadcasting a
    p-vector of literals — zero data movement)."""
    eta = None
    for name, col in features.items():
        term = col.cast("double") * F.lit(coef[name])
        eta = term if eta is None else eta + term
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
