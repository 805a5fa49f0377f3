"""Distributed, deterministic multiplier bootstrap.

The reference draws unseeded Rademacher weights on the driver with
joblib (reference mboot.py:17-61; nondeterministic run-to-run — its own
notebooks report different SEs per run, SURVEY.md §4). Here each draw's
weight for a unit is a seeded splitmix64 hash of (unit, draw), so
results are exactly reproducible, and the heavy multiply-accumulate
runs inside ``mapInPandas``: every partition emits only a
(draws × columns) partial matrix, which one shuffle reduces. Driver
memory is O(biters · columns) — never O(n).

Quantile semantics match the reference exactly (inverted-CDF for both
the IQR-based sigma and the sup-t critical value, mboot.py:128-137).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from csdid_pyspark_spark.did.stats import norm_ppf

_PARTIAL_SCHEMA = StructType(
    [
        StructField("b", IntegerType(), False),
        StructField("k", LongType(), False),
        StructField("s", DoubleType(), False),
    ]
)


def _splitmix_sign(uh: np.ndarray, b: int, seed: int) -> np.ndarray:
    """Deterministic ±1 per (unit-hash, draw). uint64 wraparound is the
    point of the mixing arithmetic — suppress the overflow warning."""
    with np.errstate(over="ignore"):
        z = (uh.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15) * np.uint64(b + 1)
             + np.uint64(0xD1B54A32D192ED03) * np.uint64(seed + 1))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)


def bootstrap_draws(
    if_df: DataFrame,
    key_col: str,
    unit_hash_col: str,
    inf_col: str,
    biters: int,
    seed: int,
    block: int = 100,
) -> pd.DataFrame:
    """Compute S[b, k] = Σ_units sign(unit,b) · inf(unit,k) for all
    draws b and IF columns k. Returns a pandas frame (b, k, s) of size
    biters × |keys| — tiny; everything larger stays on executors."""

    df = if_df.select(
        F.col(key_col).cast("long").alias("k"),
        F.col(unit_hash_col).cast("long").alias("uh"),
        F.col(inf_col).cast("double").alias("v"),
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate a (biters × keys-seen) partial per partition,
        # streaming Arrow batches so memory stays O(batch·block)
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            order = np.argsort(pdf["k"].to_numpy(), kind="stable")
            uh = pdf["uh"].to_numpy()[order]
            v = pdf["v"].to_numpy()[order]
            keys = pdf["k"].to_numpy()[order]
            uniq, starts = np.unique(keys, return_index=True)
            for k in uniq:
                if int(k) not in acc:
                    acc[int(k)] = np.zeros(biters)
            for b0 in range(0, biters, block):
                b1 = min(b0 + block, biters)
                signs = np.empty((len(uh), b1 - b0))
                for j, b in enumerate(range(b0, b1)):
                    signs[:, j] = _splitmix_sign(uh, b, seed)
                weighted = signs * v[:, None]  # rows × block
                sums = np.add.reduceat(weighted, starts, axis=0)  # keys × block
                for i, k in enumerate(uniq):
                    acc[int(k)][b0:b1] += sums[i]
        if not acc:
            return
        bs, ks, ss = [], [], []
        for k, col in acc.items():
            bs.extend(range(biters))
            ks.extend([k] * biters)
            ss.extend(col)
        yield pd.DataFrame(
            {"b": np.array(bs, dtype=np.int32), "k": np.array(ks, dtype=np.int64), "s": ss}
        )

    reduced = (
        df.mapInPandas(partials, _PARTIAL_SCHEMA)
        .groupBy("b", "k")
        .agg(F.sum("s").alias("s"))
        .toPandas()
    )
    return reduced


@dataclass
class MbootResult:
    se: dict[int, float]  # per key
    crit_val: float
    bres: np.ndarray  # biters × n_keys (sqrt(n)·mean of v·IF)
    keys: list[int]
    V: np.ndarray | None = None  # bootstrap covariance over non-degenerate keys
    # (reference mboot.py:125 — np.cov(bres); may be defective in degenerate cases)


def sigma_crit(bres: np.ndarray, alp: float) -> tuple[np.ndarray, np.ndarray, float]:
    """Bootstrap statistics of a (draws × columns) matrix: the mask of
    non-degenerate columns (reference mboot.py:118-121), their IQR-based
    sigma, and the sup-t critical value over those columns."""
    ndg = np.logical_and(
        ~np.isnan(bres.sum(axis=0)),
        (bres**2).sum(axis=0) > np.sqrt(np.finfo(float).eps) * 10,
    )
    b_use = bres[:, ndg]
    q75 = np.quantile(b_use, 0.75, axis=0, method="inverted_cdf")
    q25 = np.quantile(b_use, 0.25, axis=0, method="inverted_cdf")
    sig = (q75 - q25) / (norm_ppf(0.75) - norm_ppf(0.25))
    with np.errstate(divide="ignore", invalid="ignore"):
        bT = np.max(np.abs(b_use / sig), axis=1)
    bT = bT[np.isfinite(bT)]
    crit_val = float(np.quantile(bT, 1 - alp, method="inverted_cdf")) if len(bT) else float("nan")
    return ndg, sig, crit_val


def mboot(
    if_df: DataFrame,
    key_col: str,
    unit_hash_col: str,
    inf_col: str,
    n: int,
    biters: int = 999,
    alp: float = 0.05,
    seed: int = 42,
) -> MbootResult:
    """Multiplier bootstrap over an IF table whose influence values are
    already scaled to the full unit universe (zeros implicit).

    bres[b,k] = sqrt(n) · (1/n) Σ_u v_ub · IF_u,k  — reference
    mboot.py:103 — then IQR-based sigma, sup-t crit value, se."""
    draws = bootstrap_draws(if_df, key_col, unit_hash_col, inf_col, biters, seed)
    keys = sorted(draws["k"].unique())
    kpos = {k: i for i, k in enumerate(keys)}
    bres = np.zeros((biters, len(keys)))
    bres[draws["b"].to_numpy(), draws["k"].map(kpos).to_numpy()] = draws["s"].to_numpy()
    bres *= np.sqrt(n) / n

    ndg, sig, crit_val = sigma_crit(bres, alp)
    b_use = bres[:, ndg]
    se_arr = np.full(len(keys), np.nan)
    se_arr[ndg] = sig / np.sqrt(n)
    V = np.cov(b_use, rowvar=False) if b_use.shape[1] else None
    return MbootResult(
        se={k: float(se_arr[i]) for i, k in enumerate(keys)},
        crit_val=crit_val,
        bres=bres,
        keys=[int(k) for k in keys],
        V=V,
    )
