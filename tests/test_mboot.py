"""The moment/bootstrap kernel against a direct NumPy evaluation.

A small (key, uh, inf) table whose units span several keys is run
through ``mboot`` with the kernel's shuffle split into 1 and 4
partitions and Arrow batches far smaller than a partition, so units
straddle batch boundaries. The draws must equal
Σ_rows _splitmix_sign(uh, b, seed)·inf (per cluster: the cluster's
sign, weight 1/cluster size) and the Gram Σ_u z_u z_uᵀ, up to summation
order."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from csdid_pyspark_spark.did.mboot import _splitmix_sign, mboot

BITERS, SEED = 37, 5


def _table(clustered: bool) -> pd.DataFrame:
    rng = np.random.default_rng(8)
    rows = []
    for u in range(60):
        uh = int(rng.integers(-2**62, 2**62))
        cl = u % 7
        for i, k in enumerate(rng.choice([-3, 0, 1, 2, 9], size=1 + u % 5, replace=False)):
            rows.append((int(k), uh, float(rng.normal()), cl, i == 0 or u % 2 == 0))
    df = pd.DataFrame(rows, columns=["key", "uh", "inf", "cl_id", "tagged"])
    if clustered:  # the cluster rides on the first row of odd units, every row of even ones
        size = df.groupby("cl_id")["uh"].nunique()
        df["cl"] = np.where(df.tagged, 1000 + df.cl_id * 7919, None)
        df["cl_w"] = np.where(df.tagged, 1.0 / df.cl_id.map(size), None)
        df["cl"] = df["cl"].astype("Int64")
        df["cl_w"] = df["cl_w"].astype("Float64")
    return df


def _direct(df: pd.DataFrame, clustered: bool) -> tuple:
    keys = np.sort(df.key.unique())
    sign_hash = df.uh.to_numpy()
    w = np.ones(len(df))
    n = df.uh.nunique()
    if clustered:
        cl = 1000 + df.cl_id * 7919
        sign_hash = cl.to_numpy()
        w = 1.0 / df.cl_id.map(df.groupby("cl_id")["uh"].nunique()).to_numpy()
        n = df.cl_id.nunique()
    S = np.zeros((BITERS, len(keys)))
    for b in range(BITERS):
        s = _splitmix_sign(sign_hash, b, SEED) * w * df.inf.to_numpy()
        S[b] = [s[df.key.to_numpy() == k].sum() for k in keys]
    Z = df.pivot_table(index="uh", columns="key", values="inf", aggfunc="sum", fill_value=0.0)
    Z = Z.reindex(columns=keys).to_numpy()
    return keys, S * np.sqrt(n) / n, Z.T @ Z, Z.sum(axis=0)


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("clustered", [False, True], ids=["plain", "clustered"])
def test_mboot_draws_equal_direct_sum(spark, parts, clustered):
    df = _table(clustered)
    keys, bres, C, total = _direct(df, clustered)
    sdf = spark.createDataFrame(df.drop(columns=["cl_id", "tagged"]))
    with _conf(spark, **{"spark.sql.shuffle.partitions": str(parts),
                         "spark.sql.adaptive.coalescePartitions.enabled": "false",
                         "spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        mb = mboot(sdf, "key", "uh", "inf", df.uh.nunique(), biters=BITERS, seed=SEED)
    assert mb.keys == [int(k) for k in keys]
    np.testing.assert_allclose(mb.bres, bres, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(mb.moments.C, C, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(mb.moments.total, total, rtol=1e-12, atol=1e-12)
    assert mb.moments.clusters == (df.cl_id.nunique() if clustered else None)
