"""Borusyak-Jaravel-Spiess imputation estimator (Borusyak, Jaravel &
Spiess 2024, "Revisiting Event-Study Designs: Robust and Efficient
Estimation", Review of Economic Studies 91(6)).

The third pillar of the modern staggered-DiD triad next to
Callaway-Sant'Anna (did/attgt.py) and Sun-Abraham
(did/robust_cells.py): fit the two-way-fixed-effects model

    y_it = alpha_i + lambda_t + eps_it

on UNTREATED observations only (never-treated units, and not-yet-
treated periods of eventually-treated units), impute the untreated
potential outcome y_it(0) = alpha_hat_i + lambda_hat_t for every
treated observation, and average tau_it = y_it - y_hat_it(0) by event
time. Because the first stage never sees treated outcomes, the
estimator is immune to the negative-weighting/contamination problem of
dynamic TWFE regressions, and it is the efficient linear unbiased
estimator under homoskedasticity (BJS Thm 3).

Reference scope: the reference package (d2cml-ai/csdid-pyspark) has no
imputation path; built from the published method.

Scale design — the panel is the data-scale object, the fitted problem
is not. The naive distributed approach (alternating demeaning until
convergence) costs a shuffle PER ITERATION; this implementation gets
the EXACT least-squares solution in a fixed number of passes by
absorbing the unit effects analytically:

1. ONE groupBy(id) over untreated observations: ybar_i, n_i, and the
   unit's untreated period set U_i (|U_i| <= T, a bounded array).
2. Within-unit demeaning reduces the normal equations for lambda to a
   T x T system whose components are ONE map-side-combinable
   aggregation each:  X'X[s,t] = N_t * 1{s=t} - W_st  with
   W_st = sum_i 1{s,t in U_i} / n_i  (a bounded T^2-pair explode of
   the per-unit period sets), and  X'y[t] = sum_{untreated, t}
   (y_it - ybar_i)  (the cross term vanishes because within-unit
   residuals sum to zero over U_i).
3. The (T-1) x (T-1) solve (baseline = earliest untreated period,
   lambda there = 0) happens driver-side on a numpy matrix of a few
   dozen entries — executor->driver traffic is O(T^2) floats,
   independent of rows, the same contract as the estimator's per-cell
   passes (did/linalg.py).
4. lambda_hat broadcasts back as a literal MAP; alpha_hat_i =
   ybar_i - mean_{s in U_i} lambda_hat_s is a higher-order-function
   fold over the stored period set (no extra shuffle), and the
   imputation join is one shuffle of treated rows keyed by id.

Total: two data-scale shuffles (groupBy id, treated-join id) plus
tiny-key aggregations. No Python row-UDFs; the only driver math is the
T x T solve.

STANDARD ERRORS (:func:`bjs_imputation_se_frame`): the estimator is
LINEAR in y, and because lambda comes from the same aggregated
(T-1) x (T-1) system, the exact weight of every observation on every
att_e is computable from broadcast-sized algebra — no resampling and
no extra data-scale machinery. With M = A^{-1} and
gamma_e[t] = (1/n_e)[#treated obs at (e, t)
                     - sum_{units i treated at e} 1{t in U_i}/n_i],
delta_e = M gamma_e (A symmetric), the weight on an untreated
observation (j, s) is

    w_js(e) = -a_j(e)/(n_e n_j) - delta_e[s] + d_j(e)/n_j ,
    d_j(e)  = sum_{t in U_j, t != base} delta_e[t],

(a_j(e) = 1 when unit j itself is treated at event time e) and the
weight on a treated observation in D_e is 1/n_e. BJS's conservative
clustered variance (their eq. for \\hat{V} with cell-demeaned treated
residuals) is then

    V_e = sum_units ( sum_obs w * eps_hat )^2,

with eps_hat = y - alpha_hat - lambda_hat on untreated observations
and eps_hat = tau_hat - attbar_{g,t} (cell mean removed) on treated
ones — upward-biased under within-cell effect heterogeneity, exact
under homogeneity, per BJS Sec. 4.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.cache import attach_cache


def _bjs_core(
    panel: DataFrame,
    yname: str,
    tname: str,
    gname: str,
    idname: str,
    extra=None,
) -> dict:
    """Shared first stage: guards, the lambda solve, and the persisted
    per-unit frame. Returns the frames + driver-side pieces both the
    point-estimate and SE paths build on.

    ``extra``: optional callable ``(p, treated, um) -> [DataFrame]``
    producing additional tiny aggregates ALREADY SHAPED to the fused
    union schema (kind, s, t, xty, n_t, n_treated, n_unanchored_rows,
    dup_flag, w, cnt). They ride the SAME single collect as the core
    stats — the SE path's gamma_e inputs are independent of the lambda
    solve, so a separate sequential action for them was pure scheduler
    round-trip (guide §2.6). Rows come back under ``extra_rows``."""
    import numpy as np

    from csdid_pyspark_spark.cache import persist_rightsized, release_cache

    p = panel.select(
        F.col(idname).alias("id"),
        F.col(gname).cast("long").alias("g"),
        F.col(tname).cast("int").alias("period"),
        F.col(yname).cast("double").alias("y"),
    )
    untreated = p.filter((F.col("g") == 0) | (F.col("period") < F.col("g")))
    treated = p.filter((F.col("g") > 0) & (F.col("period") >= F.col("g")))

    # -- pass 1: per-unit stats over untreated obs. Persisted: it is
    # re-read by the W-pair explode, the stats pass, and the imputation
    # join — without the persist each of those recomputes the groupBy
    # from the raw panel (observed: 3 extra data-scale passes).
    um, _ = persist_rightsized(
        untreated.groupBy("id").agg(
            F.avg("y").alias("ybar"),
            F.count("*").alias("n_i"),
            F.sort_array(F.collect_set("period")).alias("uperiods"),
        )
    )

    # -- pass 2 (ONE action): per-period stats for the lambda normal
    # equations AND both imputability guards AND the duplicate-(id,
    # period) flag AND the W_st pair weights. The per-period and
    # per-(s,t) aggregations are independent subtrees, so they run as
    # ONE unioned job instead of two (three, with the old standalone
    # dup-guard action) sequential driver round-trips — same
    # aggregation expressions, same values, fewer scheduler
    # round-trips (guide §1.2/§2.6: actions are only sequential
    # because driver code calls them sequentially).
    # X'y[t] = sum_{untreated at t} (y - ybar_i); the within-unit
    # residual cross-term vanishes, see module docstring.
    untr = (F.col("g") == 0) | (F.col("period") < F.col("g"))
    stats_agg = (
        p.join(
            um.select(
                "id", "ybar", F.col("n_i").alias("n_i_u"),
                F.size("uperiods").alias("n_up"),
            ),
            "id",
            "left",
        )
        .groupBy("period")
        .agg(
            F.sum(F.when(untr, F.col("y") - F.col("ybar"))).alias("xty"),
            F.sum(F.when(untr, 1).otherwise(0)).alias("n_t"),
            F.sum(F.when(~untr, 1).otherwise(0)).alias("n_treated"),
            # treated row whose unit never appears untreated: ybar null
            F.sum(
                F.when(~untr & F.col("ybar").isNull(), 1).otherwise(0)
            ).alias("n_unanchored_rows"),
            # duplicate-(id, period) untreated flag: uperiods is a SET
            # while n_i counts rows (see guard below)
            F.max(
                F.when(F.col("n_up") != F.col("n_i_u"), 1).otherwise(0)
            ).alias("dup_flag"),
        )
        .select(
            F.lit("p").alias("kind"),
            F.col("period").alias("s"),
            F.lit(None).cast("int").alias("t"),
            "xty", "n_t", "n_treated", "n_unanchored_rows", "dup_flag",
            F.lit(None).cast("double").alias("w"),
            F.lit(None).cast("bigint").alias("cnt"),
        )
    )
    # W_st = sum_i [s,t in U_i] / n_i via a bounded T^2 explode of the
    # per-unit period sets (scans only the persisted per-unit frame)
    pairs = um.select(
        F.explode(
            F.expr(
                "flatten(transform(uperiods, s -> "
                "transform(uperiods, t -> named_struct('s', s, 't', t))))"
            )
        ).alias("st"),
        (F.lit(1.0) / F.col("n_i")).alias("w"),
    )
    w_agg = pairs.groupBy(F.col("st.s").alias("s"), F.col("st.t").alias("t")).agg(
        F.sum("w").alias("w")
    )
    fused_df = stats_agg.unionByName(
        w_agg.select(
            F.lit("w").alias("kind"), "s", "t",
            F.lit(None).cast("double").alias("xty"),
            F.lit(None).cast("bigint").alias("n_t"),
            F.lit(None).cast("bigint").alias("n_treated"),
            F.lit(None).cast("bigint").alias("n_unanchored_rows"),
            F.lit(None).cast("int").alias("dup_flag"),
            "w",
            F.lit(None).cast("bigint").alias("cnt"),
        )
    )
    for x in (extra(p, treated, um) if extra is not None else []):
        fused_df = fused_df.unionByName(x)
    fused = fused_df.collect()
    stats_rows = [r for r in fused if r["kind"] == "p"]
    w_rows = [r for r in fused if r["kind"] == "w"]
    extra_rows = [r for r in fused if r["kind"] not in ("p", "w")]

    # -- imputability guards (BJS preconditions), decided from the
    # already-collected per-period stats — the precise unit count runs
    # only on the error path
    xty_rows = [r for r in stats_rows if int(r["n_t"]) > 0]
    lam_periods = sorted(int(r["s"]) for r in xty_rows)
    missing_t = [
        int(r["s"]) for r in stats_rows
        if int(r["n_treated"]) > 0 and int(r["n_t"]) == 0
    ]
    if missing_t:
        um.unpersist()
        raise ValueError(
            f"bjs_imputation_frame: treated periods {sorted(missing_t)} "
            "have no untreated observations — lambda_t is unidentified "
            "there (need a never-treated or not-yet-treated unit in "
            "every treated period)."
        )
    if any(int(r["n_unanchored_rows"]) > 0 for r in stats_rows):
        n_unanchored = (
            treated.join(um.select("id"), "id", "left_anti")
            .select("id")
            .distinct()
            .count()
        )
        um.unpersist()
        raise ValueError(
            f"bjs_imputation_frame: {n_unanchored} treated unit(s) have "
            "no untreated (pre-treatment) periods — alpha_i is "
            "unidentified for them; BJS requires every treated unit to "
            "be observed untreated at least once."
        )

    # duplicate-(id, period) guard: uperiods is a SET while n_i counts
    # rows, so a duplicated untreated observation would silently break
    # the W_st / alpha_i algebra (deduped pair weights over a row
    # count) — raise loudly, same convention as mc_nnm's panel guard.
    # The flag rides the fused stats pass; the offending unit id is
    # looked up only on the error path (um reads cache there).
    if any(int(r["dup_flag"] or 0) > 0 for r in stats_rows):
        dup = um.filter(F.size("uperiods") != F.col("n_i")).limit(1).collect()
        um.unpersist()
        raise ValueError(
            f"bjs_imputation_frame: unit {dup[0]['id']!r} has duplicate "
            "(id, period) untreated observations — aggregate the panel "
            "to one row per (unit, period) upstream"
        )

    # -- driver-side (T-1) x (T-1) solve, baseline = earliest period ---
    base = lam_periods[0]
    est = [t for t in lam_periods if t != base]
    idx = {t: k for k, t in enumerate(est)}
    T1 = len(est)
    A = np.zeros((T1, T1))
    b = np.zeros(T1)
    n_t = {int(r["s"]): float(r["n_t"]) for r in xty_rows}
    for r in xty_rows:
        t = int(r["s"])
        if t in idx:
            b[idx[t]] = float(r["xty"])
            A[idx[t], idx[t]] = n_t[t]
    for r in w_rows:
        s, t = int(r["s"]), int(r["t"])
        if s in idx and t in idx:
            A[idx[s], idx[t]] -= float(r["w"])
    lam = {base: 0.0}
    Minv = None
    if T1:
        try:
            Minv = np.linalg.inv(A)
        except np.linalg.LinAlgError as exc:
            um.unpersist()
            raise ValueError(
                "bjs_imputation_frame: the lambda normal equations are "
                "singular — the untreated observations do not connect "
                "every period to the baseline through shared units "
                "(disconnected period blocks), so time effects are not "
                "jointly identified."
            ) from exc
        sol = Minv @ b
        for t, k in idx.items():
            lam[t] = float(sol[k])

    lam_map = F.create_map(
        *[F.lit(x) for t, v in sorted(lam.items()) for x in (t, v)]
    )
    alpha = (
        um.withColumn("lam_m", lam_map)
        .select(
            "id",
            (
                F.col("ybar")
                - F.expr(
                    "aggregate(uperiods, CAST(0.0 AS DOUBLE), "
                    "(acc, s) -> acc + lam_m[s]) / n_i"
                )
            ).alias("alpha"),
        )
    )
    return {
        "p": p,
        "untreated": untreated,
        "treated": treated,
        "um": um,
        "lam": lam,
        "lam_map": lam_map,
        "alpha": alpha,
        "base": base,
        "est": est,
        "idx": idx,
        "Minv": Minv,
        "extra_rows": extra_rows,
    }


def bjs_imputation_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
) -> DataFrame:
    """BJS imputation event study: (e, att, n_obs) for every observed
    post event time e = period - g >= 0, att = mean over treated
    observations at e of y_it - (alpha_hat_i + lambda_hat_t), rounded
    6dp, ordered by e. Cohort convention: g = 0 marks never-treated
    units; g > 0 treats from period g onward.

    Raises when the design is not imputable (BJS's own precondition):
    a treated unit with NO untreated periods (alpha_i unidentified) or
    a treated period with NO untreated observations (lambda_t
    unidentified)."""
    c = _bjs_core(panel, yname, tname, gname, idname)
    tau = (
        c["treated"].withColumn("lam_m", c["lam_map"])
        .join(c["alpha"], "id")
        .select(
            (F.col("period") - F.col("g")).cast("int").alias("e"),
            (
                F.col("y") - F.col("alpha") - F.expr("lam_m[period]")
            ).alias("tau"),
        )
    )
    result = (
        tau.groupBy("e")
        .agg(
            F.round(F.avg("tau"), 6).alias("att"),
            F.count("*").cast("bigint").alias("n_obs"),
        )
        .orderBy("e")
    )
    # caller releases the per-unit cache after the final action
    # (release_cache convention shared by the two-phase operators)
    return attach_cache(result, c["um"])


def bjs_imputation_se_frame(
    panel: DataFrame,
    yname: str = "y",
    tname: str = "period",
    gname: str = "g",
    idname: str = "id",
) -> DataFrame:
    """BJS event study WITH the paper's conservative clustered SEs:
    (e, att, se, n_obs), rounded 6dp, ordered by e. See the module
    docstring for the exact per-observation weight algebra (the terms
    proportional to the unit residual sum E_i vanish identically and
    are not computed — see the inline derivation); everything beyond
    the shared first stage is the gamma_e inputs riding the core's
    fused collect, one persisted treated-residual join, and ONE
    map-side-combinable (unit, e) score shuffle + the tiny final
    sum of squares. Executor->driver traffic stays O(T^2 + |E|*T)
    floats."""
    import numpy as np

    # -- tiny aggregations for gamma_e: the per-(e, period) counts and
    # per-(e, t) weights are independent of the lambda solve, so they
    # ride the CORE's single fused collect (one scheduler round-trip
    # for the whole driver-side algebra; identical per-branch
    # expressions). ``s`` carries e, ``t`` the period, ``cnt``/``w``
    # the measures.
    def _gamma_aggs(p, treated_f, um_f):
        te_f = treated_f.select(
            "id", (F.col("period") - F.col("g")).cast("int").alias("e"), "period"
        )
        tstats = te_f.join(um_f.select("id", "n_i", "uperiods"), "id")
        nulls = [
            F.lit(None).cast("double").alias("xty"),
            F.lit(None).cast("bigint").alias("n_t"),
            F.lit(None).cast("bigint").alias("n_treated"),
            F.lit(None).cast("bigint").alias("n_unanchored_rows"),
            F.lit(None).cast("int").alias("dup_flag"),
        ]
        c1 = tstats.groupBy("e", "period").count().select(
            F.lit("c1").alias("kind"), F.col("e").alias("s"),
            F.col("period").alias("t"), *nulls,
            F.lit(None).cast("double").alias("w"),
            F.col("count").cast("bigint").alias("cnt"),
        )
        c2 = (
            tstats.select("e", (1.0 / F.col("n_i")).alias("w"),
                          F.explode("uperiods").alias("t"))
            .groupBy("e", "t")
            .agg(F.sum("w").alias("w"))
            .select(
                F.lit("c2").alias("kind"), F.col("e").alias("s"), "t",
                *nulls, "w", F.lit(None).cast("bigint").alias("cnt"),
            )
        )
        return [c1, c2]

    c = _bjs_core(panel, yname, tname, gname, idname, extra=_gamma_aggs)
    um = c["um"]
    est, base, idx, Minv = c["est"], c["base"], c["idx"], c["Minv"]
    spark = panel.sparkSession

    c1_rows = [r for r in c["extra_rows"] if r["kind"] == "c1"]
    c2_rows = [r for r in c["extra_rows"] if r["kind"] == "c2"]
    n_e = {}
    for r in c1_rows:
        n_e[int(r["s"])] = n_e.get(int(r["s"]), 0) + int(r["cnt"])
    events = sorted(n_e)
    if not events:
        um.unpersist()
        raise ValueError(
            "bjs_imputation_se_frame: the panel has no treated "
            "observations — nothing to estimate"
        )
    T1 = len(est)
    delta = {}
    for e in events:
        gam = np.zeros(T1)
        for r in c1_rows:
            if int(r["s"]) == e and int(r["t"]) in idx:
                gam[idx[int(r["t"])]] += float(r["cnt"])
        for r in c2_rows:
            if int(r["s"]) == e and int(r["t"]) in idx:
                gam[idx[int(r["t"])]] -= float(r["w"])
        delta[e] = (Minv @ (gam / n_e[e])) if T1 else np.zeros(0)

    # broadcast-tiny (e, s, dlt) table for the untreated-residual legs
    delta_rows = [
        (e, t, float(delta[e][k])) for e in events for t, k in idx.items()
    ]
    # delta_rows is empty iff T1 == 0 (single-period lambda system);
    # events is non-empty past the guard above, so the typed filler row
    # is well-defined and immediately filtered back out
    dtab = spark.createDataFrame(
        delta_rows or [(events[0], base, 0.0)], "e int, s int, dlt double"
    )
    if not delta_rows:
        dtab = dtab.filter(F.lit(False))

    # -- per-unit scores in TWO legs, not three. The weight algebra in
    # the module docstring carries two terms proportional to the unit's
    # residual sum E_i = sum_{s in U_i} eps_is (the d_i(e)/n_i leg and
    # the -a_i(e)/(n_e n_i) term of the treated leg). E_i == 0 EXACTLY
    # by construction: alpha_i = ybar_i - mean_{s in U_i} lambda_s
    # absorbs the unit mean, so sum_s (y_is - alpha_i - lambda_s)
    # = n_i*ybar_i - n_i*alpha_i - sum_s lambda_s = 0 identically (the
    # same identity that makes the X'y cross-term vanish in the core).
    # The old implementation computed those terms numerically anyway —
    # an extra groupBy(id), two joins and a groupBy(id, e) per call to
    # accumulate ~1e-13 float noise that the 6dp rounding discards.
    # Dropping them removes 4 exchanges from the score DAG; parity is
    # pinned by test_bjs_se_matches_weight_bruteforce (SEs to 6dp vs a
    # numerical weight extraction) and the registered query's golden.
    from csdid_pyspark_spark.cache import persist_rightsized

    # ONE residual frame for BOTH legs: tau (treated) and eps
    # (untreated) are the same expression y - alpha_i - lambda_t, so
    # the whole panel joins alpha ONCE — the old shape shuffled the
    # treated rows and the untreated rows through two separate
    # panel-scale id-joins (guide §2.4). Persisted: consumed by the
    # cell means, both score legs and (via the fused score agg) the
    # point estimates.
    pr, _ = persist_rightsized(
        c["p"]
        .join(c["alpha"], "id")
        .withColumn("lam_m", c["lam_map"])
        .select(
            "id", "g", "period",
            (F.col("period") - F.col("g")).cast("int").alias("e"),
            ((F.col("g") == 0) | (F.col("period") < F.col("g"))).alias("untr"),
            (F.col("y") - F.col("alpha") - F.expr("lam_m[period]")).alias("resid"),
        )
    )
    tt = pr.filter(~F.col("untr")).select(
        "id", "g", "period", "e", F.col("resid").alias("tau")
    )
    attbar = tt.groupBy("g", "period").agg(F.avg("tau").alias("attbar"))
    ne_map = F.create_map(*[F.lit(x) for e in events for x in (e, float(n_e[e]))])
    # treated leg: (1/n_e)(tau_hat - attbar_{g,t}) per observation. It
    # ALSO carries tau itself, so the point estimate rides the same
    # aggregation tree as the variance — the old separate
    # tt.groupBy(e) att branch and its att-join-var exchange are gone
    # (guide §2.4: two aggregations keyed the same way share one
    # exchange; here they share the whole two-level tree).
    leg_tr = (
        tt.join(F.broadcast(attbar), ["g", "period"])
        .withColumn("ne_m", ne_map)
        .select(
            "id",
            "e",
            ((F.col("tau") - F.col("attbar")) / F.expr("ne_m[e]")).alias("score"),
            "tau",
        )
    )
    # untreated leg: -sum_s delta_e[s] * eps_is per (id, e); the
    # broadcast fan-out rows feed the SAME union aggregation as the
    # treated leg (map-side partial agg collapses them before the
    # exchange), so the whole score assembly is ONE shuffle
    ur = pr.filter(F.col("untr")).select(
        "id",
        F.col("period").alias("s"),
        F.col("resid").alias("eps"),
    )
    leg_u = ur.join(F.broadcast(dtab), ur["s"] == dtab["s"]).select(
        "id",
        "e",
        (-F.col("dlt") * F.col("eps")).alias("score"),
        F.lit(None).cast("double").alias("tau"),
    )
    scores = (
        leg_u.unionByName(leg_tr)
        .groupBy("id", "e")
        .agg(
            F.sum("score").alias("s"),
            # point-estimate partials: tau is null on untreated-leg
            # rows, so sum/count see exactly the treated observations
            F.sum("tau").alias("tau_i"),
            F.count("tau").alias("n_i_e"),
        )
    )
    result = (
        scores.groupBy("e")
        .agg(
            F.sum(F.col("s") * F.col("s")).alias("v"),
            F.sum("tau_i").alias("tau_sum"),
            F.sum("n_i_e").cast("bigint").alias("n_obs"),
        )
        .select(
            "e",
            F.round(F.col("tau_sum") / F.col("n_obs"), 6).alias("att"),
            F.round(F.sqrt("v"), 6).alias("se"),
            "n_obs",
        )
        .orderBy("e")
    )
    return attach_cache(result, c["um"], pr)
