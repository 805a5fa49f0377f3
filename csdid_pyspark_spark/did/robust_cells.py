"""Cell-algebra robustness estimators over an arbitrary long panel.

Sun-Abraham (2021) interaction-weighted event studies and the
de Chaisemartin-D'Haultfœuille (2020) DID_M both reduce, on a balanced
panel with a never-treated comparison group, to algebra over the
(cohort, period) cell-mean table — ONE data-scale aggregation
(map-side combinable), then broadcast-tiny joins. These helpers take
any long panel DataFrame, so the same code serves the oracle-checked
queries (queries/estimation_ext.py — derived sf panel) and the
multi-million-row planted-truth rehearsals (stress.py panel DGP).

The balanced-panel / never-treated-present preconditions are ENFORCED,
not assumed: every cell the algebra requires (cohort base cells, g=0
control cells, unit base rows) rides a left join guarded by
:func:`_req`, which raises loudly when the cell is absent instead of
letting an inner join silently drop cohorts/periods and emit a
plausible-but-wrong estimate.

Estimator derivations and reference comparisons live on the query
docstrings (did_sunab_event / did_dcdh_effect)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _req(val: Column, *msg: Column | str) -> Column:
    """Guard a join-supplied cell value: raise loudly when the cell the
    estimator's algebra REQUIRES is absent (NULL after a left join)
    instead of letting an inner join silently drop the cohort/period —
    which would yield a plausible-but-wrong estimate on an unbalanced
    panel or one without a never-treated (g=0) group. Declarative
    (raise_error in a when-branch), so healthy inputs pay nothing and
    no hash changes — same convention as bacon.py's balance guard and
    the stats_ext degenerate-arm raises."""
    parts = [F.lit(m) if isinstance(m, str) else m.cast("string") for m in msg]
    return F.when(val.isNull(), F.raise_error(F.concat(*parts))).otherwise(val)


def _cells(
    panel: DataFrame, yname: str, tname: str, gname: str
) -> DataFrame:
    """(g, period) cell means + unit counts — the single data-scale
    pass both estimators share. Column names are normalized so the
    algebra below stays fixed."""
    return (
        panel.select(
            F.col(gname).alias("g"),
            F.col(tname).alias("period"),
            F.col(yname).alias("y"),
        )
        .groupBy("g", "period")
        .agg(F.avg("y").alias("ybar"), F.count("*").alias("n"))
    )


def sunab_event_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
) -> DataFrame:
    """Sun-Abraham IW event-study profile: (e, att_iw, n_treated,
    n_cohorts), att_iw rounded at 6dp. CATT(g, e) against the fixed
    e = -1 baseline with a pooled never-treated (g = 0) control;
    weights are cohort shares among cohorts contributing to each e."""
    cb = _cells(panel, yname, tname, gname)
    tr = cb.filter(F.col("g") > 0).select(
        "g", F.col("period").alias("t"), F.col("ybar").alias("y_gt"), "n"
    )
    tb = cb.filter(F.col("g") > 0).select(
        F.col("g").alias("g_b"), F.col("period").alias("t_b"),
        F.col("ybar").alias("y_gbase"),
    )
    ctrl = cb.filter(F.col("g") == 0).select(
        F.col("period").alias("t_c"), F.col("ybar").alias("y_ct")
    )
    cells = (
        tr.join(
            F.broadcast(tb),
            (F.col("g") == F.col("g_b")) & (F.col("t_b") == F.col("g") - 1),
            "left",
        )
        .join(F.broadcast(ctrl), F.col("t_c") == F.col("t"), "left")
        .join(
            F.broadcast(
                ctrl.select(
                    F.col("t_c").alias("t_c0"), F.col("y_ct").alias("y_cbase")
                )
            ),
            F.col("t_c0") == F.col("g") - 1,
            "left",
        )
        .filter(F.col("t") != F.col("g") - 1)
        .select(
            (F.col("t") - F.col("g")).cast("int").alias("e"),
            (
                (
                    F.col("y_gt")
                    - _req(
                        F.col("y_gbase"),
                        "sunab_event_frame: cohort g=", F.col("g"),
                        " has no base-period (g-1) cell — unbalanced panel",
                    )
                )
                - (
                    _req(
                        F.col("y_ct"),
                        "sunab_event_frame: no never-treated (g=0) cell at "
                        "period ", F.col("t"),
                        " — control group absent or panel unbalanced",
                    )
                    - _req(
                        F.col("y_cbase"),
                        "sunab_event_frame: no never-treated (g=0) cell at "
                        "base period ", F.col("g") - 1,
                        " for cohort g=", F.col("g"),
                    )
                )
            ).alias("catt"),
            F.col("n"),
        )
    )
    return (
        cells.groupBy("e")
        .agg(
            F.round(F.sum(F.col("catt") * F.col("n")) / F.sum("n"), 6).alias(
                "att_iw"
            ),
            F.sum("n").cast("bigint").alias("n_treated"),
            F.count("*").cast("bigint").alias("n_cohorts"),
        )
        .orderBy("e")
    )


def dcdh_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
) -> DataFrame:
    """dCDH DID_M: per switch period t the switcher-vs-not-yet-treated
    instantaneous DiD (did_plus, rounded 6dp) with switcher counts,
    plus the switcher-weighted overall DID_M as the t = -1 row."""
    cb = _cells(panel, yname, tname, gname)
    sw = (
        cb.filter((F.col("g") > 0) & (F.col("period") == F.col("g")))
        .alias("t")
        .join(
            F.broadcast(
                cb.select(
                    F.col("g").alias("g_p"),
                    F.col("period").alias("t_p"),
                    F.col("ybar").alias("y_prev"),
                )
            ),
            (F.col("g") == F.col("g_p")) & (F.col("t_p") == F.col("g") - 1),
            "left",
        )
        .select(
            F.col("g").cast("int").alias("t"),
            (
                F.col("ybar")
                - _req(
                    F.col("y_prev"),
                    "dcdh_frame: switcher cohort g=", F.col("g"),
                    " has no pre-switch (g-1) cell — unbalanced panel",
                )
            ).alias("dy_sw"),
            F.col("n").alias("n_sw"),
        )
    )
    c1 = cb.select(
        F.col("g").alias("g_c"), F.col("period").alias("t_c"),
        F.col("ybar").alias("y_c1"), F.col("n").alias("n_c"),
    )
    c0 = cb.select(
        F.col("g").alias("g_c0"), F.col("period").alias("t_c0"),
        F.col("ybar").alias("y_c0"),
    )
    ctrl = (
        sw.select("t")
        .join(
            F.broadcast(c1),
            (F.col("t_c") == F.col("t"))
            & ((F.col("g_c") == 0) | (F.col("g_c") > F.col("t"))),
        )
        .join(
            F.broadcast(c0),
            (F.col("g_c0") == F.col("g_c")) & (F.col("t_c0") == F.col("t") - 1),
        )
        .groupBy("t")
        .agg(
            (
                F.sum(F.col("n_c") * (F.col("y_c1") - F.col("y_c0")))
                / F.sum("n_c")
            ).alias("dy_ctrl")
        )
    )
    per_t = sw.join(F.broadcast(ctrl), "t", "left").select(
        "t",
        (
            F.col("dy_sw")
            - _req(
                F.col("dy_ctrl"),
                "dcdh_frame: no not-yet-treated control cell pair "
                "(t, t-1) at switch period ", F.col("t"),
                " — control group exhausted or panel unbalanced",
            )
        ).alias("did_plus"),
        "n_sw",
    )
    overall = per_t.agg(
        F.lit(-1).cast("int").alias("t"),
        F.round(
            F.sum(F.col("did_plus") * F.col("n_sw")) / F.sum("n_sw"), 6
        ).alias("did_plus"),
        F.sum("n_sw").cast("bigint").alias("n_switchers"),
    )
    return (
        per_t.select(
            "t", F.round("did_plus", 6).alias("did_plus"),
            F.col("n_sw").cast("bigint").alias("n_switchers"),
        )
        .unionAll(overall)
        .orderBy("t")
    )


def dcdh_placebo_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
) -> DataFrame:
    """dCDH placebo DID_M^pl (de Chaisemartin & D'Haultfœuille 2020
    §3.3 — the estimator's OWN pre-trend diagnostic): for the groups
    that switch at t, compare their (t-2)→(t-1) outcome change — one
    period BEFORE anything happens to them — against the same change
    among the SAME control set DID_+(t) uses (never-treated or g > t):

        DID_pl(t) = [ȳ_{g=t}(t-1) − ȳ_{g=t}(t-2)]
                  − Σ_c n_c [ȳ_c(t-1) − ȳ_c(t-2)] / Σ_c n_c

    A DID_pl(t) far from zero means the switchers were already on a
    different trend than their controls BEFORE switching, so DID_+(t)
    is not identified — the exact analogue of the CS pre-test, but
    computed with dCDH's own weights and control set. Only defined for
    switch periods with two pre-periods inside the panel window
    (cohorts with g-2 < min(period) are EXCLUDED, not errors — the
    restriction every dCDH implementation applies); within the
    restricted set, missing cells raise via :func:`_req` like the
    main estimator.

    Output: (t, did_placebo, n_switchers) per eligible switch period,
    plus the switcher-weighted overall DID_M^pl as the t = -1 row —
    the same shape as :func:`dcdh_frame`.

    Scale shape: identical to dcdh_frame — one data-scale (g, period)
    cell-mean aggregation, then broadcast-tiny cell algebra (the
    period-window min rides the same tiny frame)."""
    cb = _cells(panel, yname, tname, gname)
    pmin = cb.agg(F.min("period").alias("pmin"))
    sw = (
        cb.filter((F.col("g") > 0) & (F.col("period") == F.col("g") - 1))
        .crossJoin(F.broadcast(pmin))
        .filter(F.col("g") - 2 >= F.col("pmin"))
        .join(
            F.broadcast(
                cb.select(
                    F.col("g").alias("g_p"),
                    F.col("period").alias("t_p"),
                    F.col("ybar").alias("y_m2"),
                )
            ),
            (F.col("g") == F.col("g_p")) & (F.col("t_p") == F.col("g") - 2),
            "left",
        )
        .select(
            F.col("g").cast("int").alias("t"),
            (
                F.col("ybar")
                - _req(
                    F.col("y_m2"),
                    "dcdh_placebo_frame: switcher cohort g=", F.col("g"),
                    " has no (g-2) cell inside the window — unbalanced "
                    "panel",
                )
            ).alias("dy_sw_pl"),
            F.col("n").alias("n_sw"),
        )
    )
    c1 = cb.select(
        F.col("g").alias("g_c"), F.col("period").alias("t_c"),
        F.col("ybar").alias("y_c1"), F.col("n").alias("n_c"),
    )
    c0 = cb.select(
        F.col("g").alias("g_c0"), F.col("period").alias("t_c0"),
        F.col("ybar").alias("y_c0"),
    )
    ctrl = (
        sw.select("t")
        .join(
            F.broadcast(c1),
            (F.col("t_c") == F.col("t") - 1)
            & ((F.col("g_c") == 0) | (F.col("g_c") > F.col("t"))),
        )
        .join(
            F.broadcast(c0),
            (F.col("g_c0") == F.col("g_c")) & (F.col("t_c0") == F.col("t") - 2),
        )
        .groupBy("t")
        .agg(
            (
                F.sum(F.col("n_c") * (F.col("y_c1") - F.col("y_c0")))
                / F.sum("n_c")
            ).alias("dy_ctrl_pl")
        )
    )
    per_t = sw.join(F.broadcast(ctrl), "t", "left").select(
        "t",
        (
            F.col("dy_sw_pl")
            - _req(
                F.col("dy_ctrl_pl"),
                "dcdh_placebo_frame: no control cell pair (t-1, t-2) at "
                "switch period ", F.col("t"),
                " — control group exhausted or panel unbalanced",
            )
        ).alias("did_placebo"),
        "n_sw",
    )
    overall = per_t.agg(
        F.lit(-1).cast("int").alias("t"),
        F.round(
            F.sum(F.col("did_placebo") * F.col("n_sw")) / F.sum("n_sw"), 6
        ).alias("did_placebo"),
        F.sum("n_sw").cast("bigint").alias("n_switchers"),
    )
    return (
        per_t.select(
            "t", F.round("did_placebo", 6).alias("did_placebo"),
            F.col("n_sw").cast("bigint").alias("n_switchers"),
        )
        .unionAll(overall)
        .orderBy("t")
    )


def sunab_event_context(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
) -> tuple[DataFrame, DataFrame]:
    """Pin the (cells, per_unit) pair every SA-profile consumer shares.

    Spark shares NO common subexpressions across independent subtrees
    or actions: a query that derives both the event-study profile
    (:func:`sunab_event_se_frame`) and its influence covariance
    (:func:`sunab_event_cov`) from one panel otherwise re-executes the
    full data-scale cell + ψ lineage per consumer (3-7× observed on
    the honest-bounds queries). Persisting here makes each lineage
    execute once; both frames are small relative to the panel (cells:
    |g|×|t| rows; per_unit: units × |E| narrow rows — ~3% of panel
    bytes) and at 100 TB the same pin trades one cache write for 2+
    full recomputes, so it is scale-favorable, not a local tweak.

    Caller owns the lifecycle: unpersist both after the LAST action
    over frames derived from them (all honest-family consumers
    materialize inside the query function, so a try/finally suffices).
    """
    cells, per_unit = _sunab_cells_and_psi(panel, yname, tname, gname, idname)
    return cells.persist(), per_unit.persist()


def sunab_event_se_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
    ctx: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Sun-Abraham IW event-study with PLUG-IN standard errors from the
    unit-level influence representation (fixed cohort-share weights,
    the SA paper's plug-in; weight-estimation noise is O(1/N) lower
    order):

        ψ_i(e) = w_g·(d_i(g,e) − μ_g(e))/n_g              i ∈ cohort g
        ψ_i(e) = −Σ_g w_g·(d_i(g,e) − μ_0g(e))/n_0        i never-treated
        SE(e)  = sqrt(Σ_i ψ_i(e)²),   d_i(g,e) = y_i(g+e) − y_i(g−1)

    The second line is the part naive per-cell SE formulas drop: one
    never-treated unit serves EVERY cohort's CATT at event time e with
    a DIFFERENT baseline per cohort, so its contributions correlate
    across cohorts and must be summed per unit BEFORE squaring.

    Scale shape: the (g, e) cell spec with weights/means is broadcast-
    tiny; unit-level d_i comes from one self-join of the panel keyed by
    (id, period) — the same plan family as the stacked estimator — and
    the ψ aggregation is two map-side-combinable shuffles (per (id, e),
    then per e). Executor→driver traffic: the event-time profile only.

    Output: (e, att_iw, se, n_treated) — att_iw identical to
    :func:`sunab_event_frame`. Pass ``ctx`` from
    :func:`sunab_event_context` to share the pinned cell/ψ pair with
    sibling consumers (identical expressions either way)."""
    cells, per_unit = ctx if ctx is not None else _sunab_cells_and_psi(
        panel, yname, tname, gname, idname
    )
    se = per_unit.groupBy("e").agg(
        F.sqrt(F.sum(F.col("psi") * F.col("psi"))).alias("se_raw")
    )
    att = cells.groupBy("e").agg(
        F.round(F.sum(F.col("w_g") * (F.col("mu_g") - F.col("mu_0g"))), 6).alias(
            "att_iw"
        ),
        F.max("n_e").cast("bigint").alias("n_treated"),
    )
    return (
        att.join(se, "e")
        .select(
            "e", "att_iw", F.round("se_raw", 6).alias("se"), "n_treated"
        )
        .orderBy("e")
    )


def _sunab_cells_and_psi(
    panel: DataFrame, yname: str, tname: str, gname: str, idname: str
) -> tuple[DataFrame, DataFrame]:
    """Shared by the SA plug-in SE and the multiplier-bootstrap bands:
    the broadcast-tiny (g, e) cell spec with weights/means, and the
    per-(e, id) influence contributions ψ_i(e) (summed across cohorts
    per unit BEFORE squaring — the shared-never-treated covariance)."""
    p = panel.select(
        F.col(idname).alias("id"),
        F.col(gname).alias("g"),
        F.col(tname).alias("period"),
        F.col(yname).alias("y"),
    )
    cb = _cells(p, "y", "period", "g")
    tr = cb.filter(F.col("g") > 0).select(
        "g", F.col("period").alias("t"), F.col("ybar").alias("mu_end"), "n"
    )
    tb = cb.filter(F.col("g") > 0).select(
        F.col("g").alias("g_b"), F.col("period").alias("t_b"),
        F.col("ybar").alias("mu_base"),
    )
    ctrl = cb.filter(F.col("g") == 0).select(
        F.col("period").alias("t_c"), F.col("ybar").alias("mu_c"),
        F.col("n").alias("n_0"),
    )
    cells = (
        tr.join(
            F.broadcast(tb),
            (F.col("g") == F.col("g_b")) & (F.col("t_b") == F.col("g") - 1),
            "left",
        )
        .join(F.broadcast(ctrl), F.col("t_c") == F.col("t"), "left")
        .join(
            F.broadcast(
                ctrl.select(
                    F.col("t_c").alias("t_c0"), F.col("mu_c").alias("mu_c0")
                )
            ),
            F.col("t_c0") == F.col("g") - 1,
            "left",
        )
        .filter(F.col("t") != F.col("g") - 1)
        .select(
            F.col("g").alias("cg"),
            (F.col("t") - F.col("g")).cast("int").alias("e"),
            "t",
            (F.col("g") - 1).alias("base"),
            F.col("n").alias("n_g"),
            "n_0",
            (
                F.col("mu_end")
                - _req(
                    F.col("mu_base"),
                    "sunab_event_se_frame: cohort g=", F.col("g"),
                    " has no base-period (g-1) cell — unbalanced panel",
                )
            ).alias("mu_g"),
            (
                _req(
                    F.col("mu_c"),
                    "sunab_event_se_frame: no never-treated (g=0) cell at "
                    "period ", F.col("t"),
                    " — control group absent or panel unbalanced",
                )
                - _req(
                    F.col("mu_c0"),
                    "sunab_event_se_frame: no never-treated (g=0) cell at "
                    "base period ", F.col("g") - 1,
                    " for cohort g=", F.col("g"),
                )
            ).alias("mu_0g"),
        )
    )
    # cohort-share weights among cohorts contributing to each e
    wsum = cells.groupBy("e").agg(F.sum("n_g").alias("n_e"))
    cells = cells.join(F.broadcast(wsum), "e").withColumn(
        "w_g", F.col("n_g") / F.col("n_e")
    )
    # unit-level d_i(g,e): end-period rows joined to their base-period
    # rows (one (id)-keyed shuffle), restricted to the unit's own
    # cohort or the never-treated pool
    p1 = p.select("id", F.col("g").alias("gu"), "period", "y")
    p0 = p.select(
        F.col("id").alias("bid"), F.col("period").alias("bperiod"),
        F.col("y").alias("y0"),
    )
    dy = (
        p1.join(F.broadcast(cells), p1["period"] == cells["t"])
        .filter((F.col("gu") == F.col("cg")) | (F.col("gu") == 0))
        .join(
            p0,
            (F.col("id") == F.col("bid")) & (F.col("base") == F.col("bperiod")),
            "left",
        )
        .select(
            "id", "gu", "cg", "e", "w_g", "n_g", "n_0", "mu_g", "mu_0g",
            "n_e",
            (
                F.col("y")
                - _req(
                    F.col("y0"),
                    "sunab_event_se_frame: unit ", F.col("id"),
                    " is missing its base-period ", F.col("base"),
                    " row — unbalanced panel; filter to complete units "
                    "first",
                )
            ).alias("d"),
        )
    )
    psi_term = F.when(
        F.col("gu") == F.col("cg"),
        F.col("w_g") * (F.col("d") - F.col("mu_g")) / F.col("n_g"),
    ).otherwise(
        -F.col("w_g") * (F.col("d") - F.col("mu_0g")) / F.col("n_0")
    )
    per_unit = dy.groupBy("e", "id").agg(F.sum(psi_term).alias("psi"))
    return cells, per_unit


def sunab_event_band_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
    biters: int = 999,
    alp: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Sun-Abraham event study with UNIFORM (sup-t) confidence bands
    via the seeded multiplier bootstrap (did/mboot.py — the same
    splitmix64 Rademacher machinery the CS estimator uses): the
    per-unit influence contributions ψ_i(e) from
    :func:`_sunab_cells_and_psi` are resampled with unit-level ±1
    weights held FIXED ACROSS event times, so each draw perturbs the
    whole event-time profile coherently and the max-|t| quantile gives
    a critical value whose band covers the ENTIRE profile at 1-α —
    the event-study plot band (Callaway-Sant'Anna §4.2 semantics,
    applied to the SA estimator).

    The IF table handed to mboot is ψ·N (N = contributing units), so
    mboot's sig/√N recovers the plug-in SE scale exactly; see the SE
    derivation on :func:`sunab_event_se_frame`.

    Scale shape: the ψ table is the data-scale object and stays on
    executors — mboot's one moment pass sums per-unit draw products
    (biters × |e|) and the |e|×|e| Gram per partition and adds them on
    an executor; driver memory is O(biters·|e| + |e|²). Deterministic
    (seeded hashes) → pinned golden.

    Output: (e, att_iw, se_boot, crit_val, band_lo, band_hi,
    n_treated), ordered by e."""
    from csdid_pyspark_spark.did.mboot import mboot

    cells, per_unit = _sunab_cells_and_psi(panel, yname, tname, gname, idname)
    # three actions consume the ψ lineage (distinct-unit count, the
    # bootstrap, and cells' broadcast inside it) — pin for their
    # duration so the data-scale ψ aggregation executes once
    per_unit = per_unit.persist()
    try:
        att_rows = (
            cells.groupBy("e")
            .agg(
                F.sum(
                    F.col("w_g") * (F.col("mu_g") - F.col("mu_0g"))
                ).alias("att"),
                F.max("n_e").cast("bigint").alias("n_treated"),
            )
            .collect()
        )
        n_units = per_unit.select("id").distinct().count()
        if_df = per_unit.select(
            F.col("e").cast("long").alias("key"),
            F.xxhash64("id").alias("uh"),
            (F.col("psi") * F.lit(float(n_units))).alias("inf"),
        )
        mb = mboot(
            if_df, "key", "uh", "inf", n_units, biters=biters, alp=alp, seed=seed
        )
    finally:
        per_unit.unpersist()
    crit = mb.crit_val
    rows = []
    for r in sorted(att_rows, key=lambda r: r["e"]):
        e = int(r["e"])
        att = float(r["att"])
        se = mb.se.get(e, float("nan"))
        rows.append(
            (
                e,
                round(att, 6),
                round(se, 6),
                round(crit, 6),
                round(att - crit * se, 6),
                round(att + crit * se, 6),
                int(r["n_treated"]),
            )
        )
    return panel.sparkSession.createDataFrame(
        rows,
        "e int, att_iw double, se_boot double, crit_val double, "
        "band_lo double, band_hi double, n_treated bigint",
    ).orderBy("e")


def twfe_weights_frame(
    panel: DataFrame,
    iname: str = "id",
    tname: str = "period",
    gname: str = "g",
) -> DataFrame:
    """de Chaisemartin-D'Haultfoeuille (2020, AER 110(9) Thm 1) TWFE
    weight decomposition: the weights w(g,t) that the two-way
    fixed-effects regression coefficient attaches to each treated
    (cohort, period) cell's ATT,

        beta_fe = sum_{(g,t): D=1} w(g,t) * ATT(g,t),
        w(g,t)  = n_g * eps(g,t) / sum_{D=1} n_g' * eps(g',t'),
        eps(g,t)= D(g,t) - Dbar_g. - Dbar_.t + Dbar,

    where eps is the two-way-demeaned treatment indicator (the
    residual of D on unit and period fixed effects, which on a
    balanced panel depends only on the (cohort, period) cell). Cells
    with eps < 0 receive NEGATIVE weight — the contamination that
    motivates the whole robust-estimator suite (Sun-Abraham, dCDH,
    BJS, ETWFE); this query quantifies it for the panel at hand, like
    the Stata ``twowayfeweights`` package. The weights sum to 1 by
    construction.

    Balance is ENFORCED, not assumed: the same single data-scale pass
    that counts cohort sizes checks that every cohort has a constant
    per-period unit count across all observed periods (the condition
    under which the residual collapses to the cell formula), raising
    loudly otherwise — same convention as bacon.py's balance guard.

    Scale shape: ONE data-scale aggregation (the (g, period) cell
    counts — map-side combinable); the |G| x |T| grid and every
    moment of D after that is broadcast-tiny algebra. Zero windows,
    zero data-scale joins. The reference repo has no counterpart —
    this diagnostic is part of the robustness suite beyond it."""
    cells = (
        panel.select(
            F.col(gname).alias("g"),
            F.col(tname).alias("period"),
            F.col(iname).alias("id"),
        )
        .groupBy("g", "period")
        # distinct UNITS, as the docstring and the balance-guard
        # message promise — count(*) would silently weight cells by
        # row multiplicity on a panel with duplicate (id, period) rows
        .agg(F.count_distinct("id").alias("n_rows"))
    )
    nt = cells.select(F.countDistinct("period").alias("nt"))
    chk = (
        cells.groupBy("g")
        .agg(
            F.min("n_rows").alias("n_min"),
            F.max("n_rows").alias("n_max"),
            F.count("*").alias("npg"),
        )
        .crossJoin(F.broadcast(nt))
    )
    bad = (F.col("n_min") != F.col("n_max")) | (F.col("npg") != F.col("nt"))
    ng = chk.select(
        "g",
        F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit("twfe_weights_frame: cohort g="),
                    F.col("g").cast("string"),
                    F.lit(" is unbalanced (per-period unit counts "),
                    F.col("n_min").cast("string"),
                    F.lit(".."),
                    F.col("n_max").cast("string"),
                    F.lit(" over "),
                    F.col("npg").cast("string"),
                    F.lit("/"),
                    F.col("nt").cast("string"),
                    F.lit(
                        " periods) — the cell weight formula requires a"
                        " balanced panel"
                    ),
                )
            ),
        )
        .otherwise(F.col("n_min"))
        .alias("n"),
    )
    per = cells.select("period").distinct()
    grid = ng.crossJoin(F.broadcast(per)).select(
        "g",
        "period",
        "n",
        F.when(
            (F.col("g") > 0) & (F.col("period") >= F.col("g")), 1.0
        )
        .otherwise(0.0)
        .alias("d"),
    )
    gbar = grid.groupBy(F.col("g").alias("g_b")).agg(
        F.avg("d").alias("dbar_g")
    )
    tbar = grid.groupBy(F.col("period").alias("t_b")).agg(
        (F.sum(F.col("n") * F.col("d")) / F.sum("n")).alias("dbar_t")
    )
    # over the grid each cohort appears once per period, so
    # sum(n) = N_units * T and sum(n*d)/sum(n) IS the grand mean of D
    gd = grid.agg(
        (F.sum(F.col("n") * F.col("d")) / F.sum("n")).alias("dbar")
    )
    eps = (
        grid.join(F.broadcast(gbar), F.col("g_b") == F.col("g"))
        .join(F.broadcast(tbar), F.col("t_b") == F.col("period"))
        .crossJoin(F.broadcast(gd))
        .select(
            "g",
            "period",
            "n",
            "d",
            (
                F.col("d") - F.col("dbar_g") - F.col("dbar_t") + F.col("dbar")
            ).alias("eps"),
        )
    )
    tw = eps.filter(F.col("d") == 1.0).agg(
        F.sum(F.col("n") * F.col("eps")).alias("s")
    )
    return (
        eps.filter(F.col("d") == 1.0)
        .crossJoin(F.broadcast(tw))
        .select(
            F.col("g").cast("int").alias("g"),
            F.col("period").cast("int").alias("period"),
            F.round("eps", 6).alias("eps"),
            F.round(F.col("n") * F.col("eps") / F.col("s"), 6).alias(
                "weight"
            ),
            (F.col("eps") < 0).alias("is_negative"),
        )
        .orderBy("g", "period")
    )


def sunab_event_cov(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
    ctx: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[list[int], list[list[float]]]:
    """FULL covariance of the Sun-Abraham event-study profile from the
    unit-level influence representation:  C[e, e'] = sum_i
    psi_i(e) * psi_i(e')  — the off-diagonals exist because one
    never-treated unit serves EVERY cohort/event cell, and consumers
    that combine coefficients across event times (the exact FLCI's
    v' Sigma v, linear-combination tests) need them; the diagonal is
    exactly ``sunab_event_se_frame``'s se(e)^2.

    Scale shape: the per-(e, id) psi frame is the established
    two-shuffle plan (_sunab_cells_and_psi); the covariance adds ONE
    pivot to a unit x |E| wide frame and ONE map-side-combinable
    aggregation of the |E|(|E|+1)/2 upper-triangle products; each
    product SUM is decimal(38,18)-cast (partial-sum-order independent
    accumulation), while the psi inputs are the established
    double-precision influence columns — cross-partitioning agreement
    is therefore ~1e-15 relative, absorbed by the 6-dp golden contract
    exactly as for the SA se golden. Driver traffic: |E|^2 floats.

    Returns (events sorted ascending, C as nested lists). Pass ``ctx``
    from :func:`sunab_event_context` to share the pinned ψ frame with
    sibling consumers; standalone calls pin it internally for the two
    actions here (events scan + product aggregation) and release it
    before returning."""
    own_pin = ctx is None
    if own_pin:
        _, per_unit = _sunab_cells_and_psi(panel, yname, tname, gname, idname)
        per_unit = per_unit.persist()
    else:
        _, per_unit = ctx
    try:
        events = sorted(
            int(r["e"]) for r in per_unit.select("e").distinct().collect()
        )
        cols = [f"p{i}" for i in range(len(events))]
        wide = (
            per_unit.groupBy("id")
            .pivot("e", events)
            .agg(F.sum("psi"))
            .select(
                *[
                    F.coalesce(F.col(str(e)), F.lit(0.0)).alias(c)
                    for e, c in zip(events, cols)
                ]
            )
        )
        aggs = [
            F.sum((F.col(cols[i]) * F.col(cols[j])).cast("decimal(38,18)"))
            .cast("double")
            .alias(f"c{i}_{j}")
            for i in range(len(events))
            for j in range(i, len(events))
        ]
        row = wide.agg(*aggs).collect()[0]
    finally:
        if own_pin:
            per_unit.unpersist()
    n = len(events)
    C = [[0.0] * n for _ in range(n)]
    for i in range(n):
        for j in range(i, n):
            v = float(row[f"c{i}_{j}"] or 0.0)
            C[i][j] = C[j][i] = v
    return events, C
