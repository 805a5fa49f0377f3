"""The moment/bootstrap kernels against a direct NumPy evaluation.

A small (key, uh, inf) table whose units span several keys is run
through ``mboot`` with the kernel's shuffle split into 1 and 4
partitions and Arrow batches far smaller than a partition, so units
straddle batch boundaries. The draws must equal
Σ_rows _splitmix_sign(uh, b, seed)·inf (per cluster: the cluster's
sign, weight 1/cluster size) and the Gram Σ_u z_u z_uᵀ, up to summation
order. The panel's fused pass (``cell_moments``) is checked the same
way over a unit table: each unit's IF in every cell it enters, formed
unit by unit and cell by cell in plain Python, plus its cohort weight."""

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


def _unit_table(clustered: bool) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """Units over periods 1..5 with cohorts 0, 3, 4 and 5 (5: a cohort
    that is not aggregated), their outcome and covariate arrays."""
    rng = np.random.default_rng(12)
    n, periods = 45, 5
    g = np.array([0.0, 3.0, 4.0, 5.0])[np.arange(n) % 4]
    y = rng.normal(size=(n, periods))
    x1 = rng.normal(size=(n, periods))
    pdf = pd.DataFrame({
        "uid": np.arange(n), "uh": rng.integers(-2**62, 2**62, n), "g": g,
        "w": rng.uniform(0.5, 2.0, n), "_y": list(y), "_x0": list(np.ones((n, periods))),
        "_x1": list(x1),
    })
    if clustered:
        cl = np.arange(n) % 6
        pdf["cl"] = 1000 + cl * 7919
        pdf["cl_w"] = 1.0 / np.bincount(cl)[cl]
    return pdf, y, x1


def _panel_fit():
    from csdid_pyspark_spark.did.cells import CellLayout, build_cell_specs
    from csdid_pyspark_spark.did.kernels import CellIF
    from csdid_pyspark_spark.did.linalg import consts_df

    tlist = [1.0, 2.0, 3.0, 4.0, 5.0]
    specs = build_cell_specs(tlist, [3.0, 4.0])
    layout = CellLayout.of(specs, tlist, "notyettreated", 0)
    rng = np.random.default_rng(4)
    per_cell = {
        int(c): {"eta_t": rng.normal(), "eta_c": rng.normal(), "m_wt": rng.uniform(0.2, 1),
                 "m_wc": rng.uniform(0.2, 1), "beta": rng.normal(size=2),
                 "gma": rng.normal(size=2) * 0.3, "a_ols": rng.normal(size=2),
                 "a_ps": rng.normal(size=2), "n1": float(rng.integers(10, 40))}
        for c in layout.cells if c != 2  # cell 2 was skipped by the fit
    }
    return specs, CellIF(layout, "dr", consts_df(per_cell)), per_cell


def _direct_panel(pdf, y, x1, specs, per_cell, cohort_keys, clustered):
    from csdid_pyspark_spark.did.kernels import _panel_if

    inf_of = _panel_if("dr")
    n = len(pdf)
    keys = sorted({*per_cell, *[cohort_keys.get(g, -1) for g in pdf.g]})
    Z = np.zeros((n, len(keys)))
    at = {k: i for i, k in enumerate(keys)}
    tl = [1.0, 2.0, 3.0, 4.0, 5.0]
    for u in range(n):
        g = pdf.g[u]
        Z[u, at[cohort_keys.get(g, -1)]] = pdf.w[u]
        for s in specs:
            if s.cid not in per_cell:
                continue
            treat = g == s.g
            if not (treat or g == 0 or (g > max(s.t, s.pret) and g != s.g)):
                continue
            it, ip = tl.index(s.t), tl.index(s.pret)
            k = {name: np.asarray(v, float)[None] for name, v in per_cell[s.cid].items()}
            X = np.array([[1.0, x1[u, ip]]])
            c = {"d": np.array([float(treat)]), "w": np.array([pdf.w[u]]),
                 "dy": np.array([y[u, it] - y[u, ip]])}
            Z[u, at[s.cid]] = inf_of(X, c, k)[0] * n / per_cell[s.cid]["n1"]
    sh = (pdf.cl if clustered else pdf.uh).to_numpy()
    a = pdf.cl_w.to_numpy() if clustered else np.ones(n)
    S = np.stack([(_splitmix_sign(sh, b, SEED) * a) @ Z for b in range(BITERS)])
    return np.array(keys), Z.T @ Z, Z.sum(axis=0), S


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("clustered", [False, True], ids=["plain", "clustered"])
def test_panel_moments_equal_direct_sum(spark, parts, clustered):
    from csdid_pyspark_spark.did.kernels import cell_moments

    pdf, y, x1 = _unit_table(clustered)
    specs, fit, per_cell = _panel_fit()
    cohort_keys = {3.0: -2, 4.0: -3}
    keys, C, total, S = _direct_panel(pdf, y, x1, specs, per_cell, cohort_keys, clustered)
    units = spark.createDataFrame(pdf).repartition(parts).persist()
    try:
        assert units.rdd.getNumPartitions() == parts
        with _conf(spark, **{"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
            mom = cell_moments(units, fit, ["_x0", "_x1"], len(pdf), cohort_keys, BITERS, SEED)
    finally:
        units.unpersist()
    np.testing.assert_array_equal(mom.keys, keys)
    np.testing.assert_allclose(mom.C, C, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(mom.total, total, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(mom.S, S, rtol=1e-12, atol=1e-12)
    assert mom.clusters == (6 if clustered else None)
