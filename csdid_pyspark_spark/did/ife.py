"""Interactive-fixed-effects counterfactual estimator (gsynth).

Xu (2017, "Generalized Synthetic Control Method", Political Analysis
25(1)) / Bai (2009) factor-model DiD: learn common time factors from
the NEVER-TREATED units, fit each treated unit's factor loading on its
OWN pre-treatment window, and use the factor prediction as the
counterfactual — a per-unit synthetic control that, unlike Abadie
weights (did/synth.py), extrapolates through a low-rank factor
structure instead of a convex donor combination, and unlike the
cell-mean estimators (CS / Sun-Abraham, did/robust_cells.py) is robust
to unit-specific exposure to common shocks (differential trends driven
by loadings), not just to parallel level shifts.

Model:  y_it = a_i + lam_i * f_t + tau_{it} D_it + eps_it   (r = 1)

Distributed shape — the part that matters at 100 TB:

1. Factor extraction: ONE map-side-combinable aggregation over the
   control units' wide rows (per-period sums, T values, plus the upper
   triangle of the period x period second-moment matrix, T(T+1)/2
   values — all decimal-exact so the result is BIT-IDENTICAL across
   partitionings/session shapes). The T x T covariance is
   eigendecomposed on the DRIVER (T is tiny; numpy.linalg.eigh on a
   6 x 6 here), sign-fixed, unit-normed.
2. Loading fit: per treated unit, (a_i, lam_i) solves the 2 x 2
   least-squares system over its pre-periods. The per-cohort inverse
   Gram A_g^{-1} is driver algebra (|G| cohorts, 2 x 2); the per-unit
   moments b_i = (sum y_it, sum f_t y_it) are ONE groupBy(id)
   aggregation after a broadcast join with the T-row factor table —
   decimal-exact again.
3. Counterfactual gaps: the post-period rows join the (id, a, lam)
   frame on id (the panel's natural key — co-partitioned with any
   id-bucketed layout) and the T-row broadcast factor table;
   ATT(e) = decimal-exact mean of y - (a + lam * f) per event time.

No windows, no data-scale collects: the driver sees T + T(T+1)/2
moments, |G| cohort matrices, and the final |e| rows. The rank-1
choice is forced by the shortest pre-window (cohort g=3 has T0 = 2
pre-periods, exactly identifying intercept + one loading); the
preconditions (invertible per-cohort pre-window Gram, balanced pre
rows per unit) raise loudly — same convention as the named skip of a
singular-design cell in did/kernels.py and robust_cells._req.

The reference repo (d2cml-ai/csdid-pyspark) has no factor-model
estimator; this extends the robustness suite beyond it (Bacon, SA,
dCDH, BJS, ETWFE, synthetic control)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,12)"


def _control_factor(panel: DataFrame) -> tuple[list[int], list[float]]:
    """Top eigenvector of the control units' period x period outcome
    covariance: returns (sorted periods, factor values f_t, unit-norm,
    sign-fixed so the entry of largest magnitude is positive).

    One decimal-exact aggregation; the pivot list is the distinct
    period set (collected once — |T| values, result-sized)."""
    import numpy as np

    ctrl = panel.filter(F.col("g") == 0).select("id", "period", "y")
    periods = sorted(
        r["period"] for r in ctrl.select("period").distinct().collect()
    )
    t = len(periods)
    if t < 2:
        raise ValueError(
            f"ife: control group observed in {t} period(s); factor "
            "extraction needs >= 2"
        )
    # max = the single value on a valid panel; a deterministic reducer
    # (F.first is partition-order-dependent under duplicates)
    wide = ctrl.groupBy("id").pivot("period", periods).agg(F.max("y"))
    cols = [F.count("*").alias("n0")]
    for i, p in enumerate(periods):
        cols.append(F.sum(F.col(str(p)).cast(DEC)).alias(f"s{i}"))
        # per-period non-null unit count for the balance guard below
        cols.append(F.count(F.col(str(p))).alias(f"c{i}"))
    for i in range(t):
        for j in range(i, t):
            cols.append(
                F.sum(
                    (F.col(str(periods[i])) * F.col(str(periods[j]))).cast(
                        DEC
                    )
                ).alias(f"p{i}_{j}")
            )
    row = wide.agg(*cols).collect()[0]
    n0 = float(row["n0"])
    if n0 < 2:
        raise ValueError(
            f"ife: {int(n0)} control unit(s); factor extraction needs >= 2"
        )
    # balance guard: the pivot sums SKIP nulls while every moment below
    # divides by the full unit count n0, so a control unit missing a
    # period would silently bias the covariance (and the factor, and
    # every ATT) — raise instead, matching the treated-side n_pre check
    short = [
        periods[i] for i in range(t) if int(row[f"c{i}"]) != int(n0)
    ]
    if short:
        raise ValueError(
            f"ife: control units are missing outcomes in period(s) "
            f"{short} — factor extraction needs a BALANCED control "
            "panel (every control unit observed in every period)"
        )
    m = np.array([float(row[f"s{i}"]) for i in range(t)]) / n0
    cov = np.empty((t, t))
    for i in range(t):
        for j in range(i, t):
            cov[i, j] = cov[j, i] = float(row[f"p{i}_{j}"]) / n0 - m[i] * m[j]
    vals, vecs = np.linalg.eigh(cov)
    f = vecs[:, int(np.argmax(vals))]
    # deterministic sign: largest-|.| entry positive (ties impossible
    # off a measure-zero input set; argmax is the FIRST max index)
    if f[int(np.argmax(np.abs(f)))] < 0:
        f = -f
    f = f / float(np.linalg.norm(f))
    return periods, [float(x) for x in f]


def ife_att(panel: DataFrame, factor: tuple | None = None) -> DataFrame:
    """gsynth ATT-by-event-time over a long panel (id, period, g, y)
    with never-treated g = 0 controls: (e, att_ife, n_units), e >= 0,
    att rounded 6dp. ``factor``: optional precomputed
    ``_control_factor(panel)`` result — ``ife_att_bands`` passes its
    own so the control pivot + factor eigendecomposition run ONCE per
    bands query instead of twice. See module docstring for the
    distributed shape."""
    import numpy as np

    spark = panel.sparkSession
    periods, fvals = factor if factor is not None else _control_factor(panel)
    fmap = dict(zip(periods, fvals))

    cohorts = sorted(
        r["g"]
        for r in panel.filter(F.col("g") > 0).select("g").distinct().collect()
    )
    coef = []  # (g, t0, i00, i01, i11) — A_g^{-1} entries, driver algebra
    for g in cohorts:
        pre = [p for p in periods if p < g]
        t0 = len(pre)
        if t0 < 2:
            raise ValueError(
                f"ife: cohort g={g} has {t0} pre-period(s); the "
                "(intercept, loading) fit needs >= 2"
            )
        sf1 = sum(fmap[p] for p in pre)
        sf2 = sum(fmap[p] ** 2 for p in pre)
        det = t0 * sf2 - sf1 * sf1
        if abs(det) < 1e-12:
            raise ValueError(
                f"ife: pre-window factor Gram is singular for cohort "
                f"g={g} (det={det:.3e}) — the factor is constant over "
                "the pre-periods"
            )
        coef.append(
            (int(g), int(t0), sf2 / det, -sf1 / det, float(t0) / det)
        )
    cdf = F.broadcast(
        spark.createDataFrame(
            coef, "g int, t0 int, i00 double, i01 double, i11 double"
        ).withColumnRenamed("g", "g_c")
    )
    fdf = F.broadcast(
        spark.createDataFrame(
            [(int(p), float(v)) for p, v in fmap.items()],
            "f_period int, fval double",
        )
    )

    tr = panel.filter(F.col("g") > 0)
    lam = (
        tr.filter(F.col("period") < F.col("g"))
        .join(fdf, F.col("f_period") == F.col("period"))
        .groupBy("id", "g")
        .agg(
            F.count("*").alias("n_pre"),
            F.sum(F.col("y").cast(DEC)).cast("double").alias("b0"),
            F.sum((F.col("y") * F.col("fval")).cast(DEC))
            .cast("double")
            .alias("b1"),
        )
        .join(cdf, F.col("g_c") == F.col("g"))
        .select(
            "id",
            F.when(
                F.col("n_pre") != F.col("t0"),
                F.raise_error(
                    F.concat(
                        F.lit("ife: unit "),
                        F.col("id").cast("string"),
                        F.lit(" has "),
                        F.col("n_pre").cast("string"),
                        F.lit(" of "),
                        F.col("t0").cast("string"),
                        F.lit(
                            " pre-period rows — unbalanced panel; the"
                            " loading fit would silently extrapolate"
                        ),
                    )
                ),
            )
            .otherwise(
                F.col("i00") * F.col("b0") + F.col("i01") * F.col("b1")
            )
            .alias("a"),
            (F.col("i01") * F.col("b0") + F.col("i11") * F.col("b1")).alias(
                "lam"
            ),
        )
    )
    return (
        tr.filter(F.col("period") >= F.col("g"))
        # LEFT join + loud raise: an inner join would silently drop a
        # treated unit with ZERO pre-period rows (it never reaches the
        # loading fit, so the n_pre guard can't see it) from every ATT
        .join(lam, "id", "left")
        .join(fdf, F.col("f_period") == F.col("period"))
        .select(
            (F.col("period") - F.col("g")).cast("int").alias("e"),
            F.when(
                F.col("a").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("ife: treated unit "),
                        F.col("id").cast("string"),
                        F.lit(
                            " has no pre-treatment rows — its loading is"
                            " unidentified; drop such units upstream"
                        ),
                    )
                ),
            )
            .otherwise(
                F.col("y") - (F.col("a") + F.col("lam") * F.col("fval"))
            )
            .alias("gap"),
        )
        .groupBy("e")
        .agg(
            F.round(
                (F.sum(F.col("gap").cast(DEC)) / F.count("*")).cast(
                    "double"
                ),
                6,
            ).alias("att_ife"),
            F.count("*").cast("bigint").alias("n_units"),
        )
        .orderBy("e")
    )


def ife_att_bands(
    panel: DataFrame, b_reps: int = 200, seed: int = 9
) -> DataFrame:
    """``ife_att`` plus in-space placebo bands (Xu 2017 §3.3 uses a
    parametric bootstrap; this is the nonparametric placebo variant —
    the same inference pattern as mc_nnm's ``placebo_b`` and SDID's
    ``placebo_se``): B hash-deterministic replicates assign each
    NEVER-TREATED unit a pseudo-adoption cohort in the real cohorts'
    unit-count proportions, refit the unit's (intercept, loading) on
    its pseudo-pre window against the SAME control factor, and read a
    pseudo-ATT path off its pseudo-post gaps; se(e) = sd of the
    replicate means.

    Unlike mc_nnm's no-refit approximation, each placebo unit's
    loading IS refit here (the fit is the closed-form 2x2 solve, a
    row-local expression on the wide control frame) — so the bands
    carry both the loading-estimation noise and the idiosyncratic
    post-period noise. Approximation, documented: placebo units also
    contributed to the factor extraction (in-sample; second-order for
    n_ctrl >> 1), and with fewer controls than treated the pseudo
    design is under-filled (conservative).

    Distributed shape: ONE pivot of the controls (same wide frame
    shape as ``_control_factor``) + ONE aggregation whose replicate
    axis is a sequence-explode and whose (replicate, event) gap rows
    are an inline-explode — map-side combinable to B x E decimal
    sums. The driver sees B x E floats.

    Returns (e, att_ife, se_placebo, lo95, hi95, n_units) — the
    ``att_ife``/``n_units`` columns bit-identical to ``ife_att``."""
    import math

    spark = panel.sparkSession
    factor = _control_factor(panel)
    real = ife_att(panel, factor=factor).collect()
    periods, fvals = factor
    fmap = dict(zip(periods, fvals))
    T = len(periods)

    sizes = (
        panel.filter(F.col("g") > 0)
        .groupBy("g")
        .agg(F.count_distinct("id").alias("n"))
        .collect()
    )
    n_by_g = {int(r["g"]): int(r["n"]) for r in sizes}
    gs = sorted(n_by_g)
    ctrl = panel.filter(F.col("g") == 0).select("id", "period", "y")
    n_ctrl = ctrl.select("id").distinct().count()
    if n_ctrl < 2 or not gs:
        raise ValueError(
            "ife: placebo bands need >= 2 never-treated units and >= 1 "
            "treated cohort"
        )
    # per-cohort 2x2 inverse Grams — same algebra/guards as ife_att
    inv = {}
    for g in gs:
        pre = [p for p in periods if p < g]
        t0 = len(pre)
        if t0 < 2:
            raise ValueError(
                f"ife: cohort g={g} has {t0} pre-period(s); the "
                "(intercept, loading) fit needs >= 2"
            )
        sf1 = sum(fmap[p] for p in pre)
        sf2 = sum(fmap[p] ** 2 for p in pre)
        det = t0 * sf2 - sf1 * sf1
        if abs(det) < 1e-12:
            raise ValueError(
                f"ife: pre-window factor Gram is singular for cohort "
                f"g={g} (det={det:.3e})"
            )
        inv[g] = (sf2 / det, -sf1 / det, float(t0) / det)

    tot_tr = sum(n_by_g.values())
    scale = min(1.0, n_ctrl / tot_tr)
    cuts, acc = [], 0.0
    for g in gs:
        acc += (n_by_g[g] / n_ctrl) * scale
        cuts.append((g, acc))

    def _f(x):
        return f"{float(x):.17e}"

    ycols = [f"y{i}" for i in range(T)]
    wide = (
        ctrl.groupBy("id")
        .pivot("period", periods)
        .agg(F.max("y"))
        .select(
            "id",
            *[F.col(str(p)).alias(c) for p, c in zip(periods, ycols)],
        )
    )
    u = f"(pmod(xxhash64(id, b, {int(seed)}), 1000000) / 1e6)"
    pg = (
        "CASE "
        + " ".join(f"WHEN {u} < {_f(c)} THEN {g}" for g, c in cuts)
        + " ELSE 0 END"
    )

    def branch(parts):
        return (
            "CASE _pg "
            + " ".join(f"WHEN {g} THEN ({parts[g]})" for g in gs)
            + " ELSE NULL END"
        )

    b0 = branch(
        {
            g: " + ".join(
                ycols[i] for i in range(T) if periods[i] < g
            )
            for g in gs
        }
    )
    b1 = branch(
        {
            g: " + ".join(
                f"{ycols[i]} * {_f(fmap[periods[i]])}"
                for i in range(T)
                if periods[i] < g
            )
            for g in gs
        }
    )
    a_e = branch(
        {g: f"{_f(inv[g][0])} * _b0 + {_f(inv[g][1])} * _b1" for g in gs}
    )
    l_e = branch(
        {g: f"{_f(inv[g][1])} * _b0 + {_f(inv[g][2])} * _b1" for g in gs}
    )
    gaps = ", ".join(
        f"named_struct('e', {periods[i]} - _pg, 'gap', "
        f"CASE WHEN _pg > 0 AND {periods[i]} >= _pg THEN {ycols[i]} - _a - "
        f"_lm * {_f(fmap[periods[i]])} END)"
        for i in range(T)
    )
    rows = (
        wide.selectExpr(
            "id", *ycols, f"explode(sequence(0, {b_reps - 1})) AS b"
        )
        .selectExpr("b", f"{pg} AS _pg", *ycols)
        .selectExpr("b", "_pg", f"({b0}) AS _b0", f"({b1}) AS _b1", *ycols)
        .selectExpr("b", "_pg", f"({a_e}) AS _a", f"({l_e}) AS _lm", *ycols)
        .selectExpr("b", f"array({gaps}) AS _g")
        .selectExpr("b", "inline(filter(_g, x -> x.gap IS NOT NULL))")
        .groupBy("b", "e")
        .agg(
            F.expr(f"sum(CAST(gap AS {DEC})) AS s"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    taus: dict = {}
    # sort by (e, b): collect order is partition-dependent and the
    # float accumulation below must be bit-deterministic
    for r in sorted(rows, key=lambda r: (int(r["e"]), int(r["b"]))):
        taus.setdefault(int(r["e"]), []).append(float(r["s"]) / int(r["n"]))
    se = {}
    for e, v in taus.items():
        if len(v) >= 2:
            m = sum(v) / len(v)
            se[e] = math.sqrt(sum((x - m) ** 2 for x in v) / len(v))
    Z = 1.959963984540054
    out = [
        (
            int(r["e"]),
            float(r["att_ife"]),
            round(se.get(int(r["e"]), float("nan")), 6),
            round(float(r["att_ife"]) - Z * se[int(r["e"])], 6)
            if int(r["e"]) in se
            else None,
            round(float(r["att_ife"]) + Z * se[int(r["e"])], 6)
            if int(r["e"]) in se
            else None,
            int(r["n_units"]),
        )
        for r in real
    ]
    return spark.createDataFrame(
        out,
        "e int, att_ife double, se_placebo double, lo95 double,"
        " hi95 double, n_units bigint",
    ).orderBy("e")
