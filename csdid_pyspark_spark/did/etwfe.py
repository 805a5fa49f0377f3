"""Wooldridge extended TWFE / two-way Mundlak estimator (Wooldridge
2021, "Two-Way Fixed Effects, the Two-Way Mundlak Regression, and
Difference-in-Differences Estimators"; also Wooldridge 2023, The
Econometrics Journal 26(3)).

The pooled-OLS member of the staggered-DiD family: ONE saturated
regression

    y_it =  a_g · 1[G_i = g]            (cohort effects, all cohorts)
          + l_t · 1[period = t]         (period effects, first omitted)
          + tau_gt · 1[G_i = g, t >= g] (one cell per treated (g,t))
          + eps_it

whose interaction coefficients tau_gt are the ATT(g,t) estimates.
Saturation is what makes it robust: unlike the classic single-dummy
TWFE regression (the negative-weights/contamination pathology), every
treated (g,t) cell gets its own coefficient, so no cell's effect
contaminates another's. Wooldridge shows the POLS estimates coincide
with the two-way Mundlak regression and — on balanced panels without
covariates — are numerically close kin of the imputation estimator
(they share the untreated-observations information set).

Reference scope: the reference package (d2cml-ai/csdid-pyspark) has no
pooled-regression path; built from the published method.

Scale design: every design column is an INDICATOR that is constant
within a (cohort, period) cell, so the p x p normal equations collapse
to cell algebra —

    X'X = sum_cells n_c  · d_c d_c' ,    X'y = sum_cells sumy_c · d_c

with d_c the 0/1 incidence vector saying which design columns cover
cell c. The ONLY data-scale work is therefore a single narrow
groupBy(g, period) aggregation (count + sum(y) per cell); the Gram is
assembled and solved DRIVER-side from |cells| x p incidence products.
This matters: the naive formulation (p indicator columns fed to a
wide per-pair sum aggregation) compiles ~p^2/2 sum expressions —
measured 249 s at p ~ 108 on a 4M-row panel, vs ~2 s for the cell
formulation on the same input, identical estimates. Saturated-dummy
regressions should ALWAYS go through their cell structure at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def etwfe_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
) -> DataFrame:
    """ETWFE ATT(g,t) table: (g, t, e, att, n_cell) for every treated
    cell (g > 0, t >= g), att = tau_gt from the saturated pooled OLS,
    rounded 6dp, ordered (g, t). Cohort convention: g = 0 never
    treated.

    Raises when no untreated observations exist (the cohort/period
    effects would be unidentified) or when the design is collinear
    (e.g. a cohort observed ONLY in treated periods)."""
    import numpy as np

    p0 = panel.select(
        F.col(gname).cast("long").alias("g"),
        F.col(tname).cast("int").alias("period"),
        F.col(yname).cast("double").alias("y"),
    )
    # the ONE data-scale pass: per-(g, period) counts and y sums
    cells = (
        p0.groupBy("g", "period")
        .agg(F.count("*").alias("n"), F.sum("y").alias("sy"))
        .collect()
    )
    cohorts = sorted({int(r["g"]) for r in cells})
    periods = sorted({int(r["period"]) for r in cells})
    treated_cells = sorted(
        (int(r["g"]), int(r["period"]))
        for r in cells
        if int(r["g"]) > 0 and int(r["period"]) >= int(r["g"])
    )
    if not any(
        g == 0 or t < g
        for (g, t) in ((int(r["g"]), int(r["period"])) for r in cells)
    ):
        raise ValueError(
            "etwfe_frame: no untreated observations — cohort and period "
            "effects are unidentified."
        )

    # design-column index map: cohort dummies (ALL cohorts — no
    # intercept, they jointly absorb it), period dummies (first period
    # omitted), one interaction per treated cell
    coh_ix = {g: k for k, g in enumerate(cohorts)}
    per_ix = {t: len(cohorts) + k for k, t in enumerate(periods[1:])}
    cell_start = len(cohorts) + len(periods) - 1
    cell_ix = {c: cell_start + k for k, c in enumerate(treated_cells)}
    pdim = cell_start + len(treated_cells)

    # driver-side Gram assembly from the cell incidence structure
    A = np.zeros((pdim, pdim))
    b = np.zeros(pdim)
    n_cell = {}
    for r in cells:
        g, t = int(r["g"]), int(r["period"])
        n, sy = float(r["n"]), float(r["sy"])
        n_cell[(g, t)] = int(r["n"])
        d = [coh_ix[g]]
        if t in per_ix:
            d.append(per_ix[t])
        if (g, t) in cell_ix:
            d.append(cell_ix[(g, t)])
        for i in d:
            b[i] += sy
            for j in d:
                A[i, j] += n
    try:
        beta = np.linalg.solve(A, b)
    except np.linalg.LinAlgError as exc:
        raise ValueError(
            "etwfe_frame: the saturated design is collinear — some "
            "cohort or period is observed only inside treated cells, so "
            "its effect cannot be separated from the cell interactions."
        ) from exc

    out = [
        (
            int(g),
            int(t),
            int(t - g),
            round(float(beta[cell_ix[(g, t)]]), 6),
            n_cell[(g, t)],
        )
        for (g, t) in treated_cells
    ]
    return panel.sparkSession.createDataFrame(
        out, "g int, t int, e int, att double, n_cell bigint"
    ).orderBy("g", "t")
