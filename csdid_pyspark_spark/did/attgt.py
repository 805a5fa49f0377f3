"""ATTgt — Callaway & Sant'Anna (2021) group-time average treatment
effects, Spark-native.

API mirrors the reference (``ATTgt(data, yname, tname, idname, gname,
...).fit(est_method, base_period, bstrap)`` — reference ATTgt.py:22-52,
233) but the execution model is one declarative plan. A fit reads one
persisted unit table (did/cells.py) holding one row per inference unit:
a balanced panel's units, or a repeated cross section's observations.
Every per-cell kernel pass expands it in NumPy (did/linalg.py); the
influence functions are formed and folded into the per-unit moments
(did/mboot.py) in one more pass over it (``cell_moments``), and the
table stays cached so a later bootstrap re-runs only that pass. Custom
(callable) kernels read each cell's expanded rows together, emit
influence functions as rows, and take one moment pass over those rows
and the unit weights. From the moments the SEs, the seeded bootstrap,
every aggregation and the pre-test follow on the driver. No per-cell
Spark actions, no dense n×(G·T) driver matrix (the reference's
scalability cliff, SURVEY.md §4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.cache import persist_rightsized
from csdid_pyspark_spark.did import cells as cells_mod
from csdid_pyspark_spark.did.kernels import (
    CellIF,
    cell_moments,
    estimate_custom,
    estimate_panel,
    estimate_rc,
)
from csdid_pyspark_spark.did.mboot import Moments, boot_result, mboot, sigma_crit, unit_moments
from csdid_pyspark_spark.did.preprocess import DidError, PanelData, preprocess_did
from csdid_pyspark_spark.did.stats import chi2_sf, norm_ppf

# Upper bound on the moment pass's width M = cells + cohorts + 1: a task
# holds the M×M Gram and biters×M draw sums, and one such blob reaches
# the driver. Measured on one task (2,000 units, 999 draws): M=1024 takes
# 0.8 s at 192 MiB peak with a 16 MiB blob; M=2048 2.2 s, 360 MiB, 48 MiB;
# M=4096 6.4 s, 921 MiB, 159 MiB. Real designs sit at M ≤ ~200.
MOMENT_MAX_COLS = 2048

EST_METHODS = ("dr", "ipw", "reg")


def _cohort_keys(glist: list[float]) -> dict[float, int]:
    """The moment key of each cohort's weight column (cells use keys ≥ 0)."""
    return {g: -2 - j for j, g in enumerate(glist)}


@dataclass
class FitResult:
    table: pd.DataFrame  # g, t, post, att, se, lower, upper, sig
    crit_val: float
    if_df: DataFrame | None  # custom kernel: (cid, unit-hash uh, inf_sc) rows
    if_cells: CellIF | None  # built-in kernels: the IF constants per cell
    moments: Moments  # of the fit's IF cells and the cohort weight columns
    cohort_keys: dict[float, int]  # cohort g → its weight column's key
    cell_map: pd.DataFrame  # cid, g, t, post
    n: int
    est_method: str
    bstrap: bool
    cband: bool
    alp: float
    warnings_: list[str] = field(default_factory=list)


class ATTgt:
    def __init__(
        self,
        data: DataFrame,
        yname: str,
        tname: str,
        idname: str,
        gname: str,
        xfmla: str | None = None,
        panel: bool = True,
        allow_unbalanced_panel: bool = True,
        control_group: str = "nevertreated",
        anticipation: int = 0,
        weights_name: str | None = None,
        alp: float = 0.05,
        biters: int = 999,
        clustervars: str | list[str] | None = None,
        seed: int = 42,
        rc_slice: str = "did",
        rows_hint: int | None = None,
    ):
        if rc_slice not in ("did", "reference"):
            raise DidError("rc_slice must be 'did' or 'reference'")
        self.rc_slice = rc_slice
        self.alp = alp
        self.biters = biters
        self.seed = seed
        self.anticipation = anticipation
        self.control_group = control_group
        self.clustervars = clustervars
        self.pdata: PanelData = preprocess_did(
            data,
            yname,
            tname,
            idname,
            gname,
            xfmla=xfmla,
            panel=panel,
            allow_unbalanced_panel=allow_unbalanced_panel,
            control_group=control_group,
            anticipation=anticipation,
            weights_name=weights_name,
            clustervars=clustervars,
            rows_hint=rows_hint,
        )
        self.fit_result: FitResult | None = None
        self.summary_aggte: dict = {}
        self._units: DataFrame | None = None

    def _unit_table(self) -> DataFrame:
        """The persisted unit table (one row per inference unit), built
        on first use and kept until ``unpersist``: every fit and
        re-bootstrap reads it."""
        pdata = self.pdata
        if self._units is None:
            self._units, _ = persist_rightsized(
                cells_mod.build_unit_table(pdata),
                known_rows=pdata.n * (len(pdata.tlist) if pdata.panel else 1),
            )
        return self._units

    def _fit_moments(self, fit: CellIF, biters: int) -> Moments:
        """The moment pass of a built-in fit over the unit table (one
        Spark job); a bootstrap the fit did not draw re-runs it."""
        return cell_moments(self._unit_table(), fit, self.pdata.covariates, self.pdata.n,
                            _cohort_keys(self.pdata.glist), biters, self.seed)

    # ------------------------------------------------------------------
    def fit(
        self,
        est_method: str = "dr",
        base_period: str = "varying",
        bstrap: bool = False,
        cband: bool = False,
    ) -> pd.DataFrame:
        if est_method not in EST_METHODS and not callable(est_method):
            raise DidError(f"est_method must be one of {EST_METHODS}")
        if base_period not in ("varying", "universal"):
            raise DidError("base_period must be 'varying' or 'universal'")
        pdata = self.pdata
        specs = cells_mod.build_cell_specs(
            pdata.tlist, pdata.glist, base_period, self.anticipation
        )
        active_cells = sum(1 for s in specs if s.pret is not None and not s.zero)
        width = active_cells + len(pdata.glist) + 1
        if width > MOMENT_MAX_COLS:
            raise DidError(
                f"the moment pass is O(M²) in M = cells + cohorts + 1 = {width} > "
                f"MOMENT_MAX_COLS={MOMENT_MAX_COLS}: a cohort column with unit-level "
                f"granularity? Coarsen the time/cohort grid, or raise "
                f"csdid_pyspark_spark.did.attgt.MOMENT_MAX_COLS to accept the cost."
            )
        n = pdata.n
        cohort_keys = _cohort_keys(pdata.glist)
        if_df = if_cells = None
        layout = cells_mod.CellLayout.of(specs, pdata.tlist, self.control_group, self.anticipation,
                                         rc=not pdata.panel, ref_slice=self.rc_slice == "reference")
        if callable(est_method):
            ests, if_df, mom, mb = self._fit_custom(est_method, layout, active_cells, bstrap)
        else:
            estimate = estimate_panel if pdata.panel else estimate_rc
            ests, if_cells = estimate(self._unit_table(), pdata.covariates, est_method, layout)
            # the SEs here, and every aggregation and the pre-test later,
            # come from this one pass
            mom = self._fit_moments(if_cells, self.biters if bstrap else 0)
            mb = boot_result(mom.S, mom.keys, mom.clusters or n, self.alp) if bstrap else None
        est_by_cid = {e.cid: e for e in ests}
        cids = [e.cid for e in ests if not e.skipped and e.cid in mom.pos]
        crit_val = float(norm_ppf(1 - self.alp / 2))
        if bstrap:
            se_by_cid = {cid: mb.se[cid] for cid in cids}
            crit = sigma_crit(mb.bres[:, [mom.pos[c] for c in cids]], self.alp)[2]
            crit_val = crit if cband and math.isfinite(crit) else crit_val
        else:
            se_by_cid = {cid: math.sqrt(mom.C[mom.pos[cid], mom.pos[cid]]) / n for cid in cids}

        rows = []
        for s in specs:
            if s.zero:
                rows.append((s.g, s.t, s.post, 0.0, float("nan")))
                continue
            if s.pret is None:
                rows.append((s.g, s.t, s.post, float("nan"), float("nan")))
                continue
            e = est_by_cid.get(s.cid)
            if e is None or e.skipped:
                rows.append((s.g, s.t, s.post, float("nan"), float("nan")))
            else:
                rows.append((s.g, s.t, s.post, e.att, se_by_cid.get(s.cid, float("nan"))))
        table = pd.DataFrame(rows, columns=["g", "t", "post", "att", "se"])
        table["lower"] = table["att"] - crit_val * table["se"]
        table["upper"] = table["att"] + crit_val * table["se"]
        table["sig"] = (table["lower"] > 0) | (table["upper"] < 0)

        cell_map = pd.DataFrame(
            [(s.cid, s.g, s.t, s.post) for s in specs if s.pret is not None and not s.zero],
            columns=["cid", "g", "t", "post"],
        )
        self._aggte_memo = {}  # a refit invalidates memoized aggregations
        self.fit_result = FitResult(
            table=table,
            crit_val=crit_val,
            if_df=if_df,
            if_cells=if_cells,
            moments=mom,
            cohort_keys=cohort_keys,
            cell_map=cell_map,
            n=n,
            est_method=est_method if isinstance(est_method, str) else "custom",
            bstrap=bstrap,
            cband=cband,
            alp=self.alp,
            warnings_=[e.message for e in ests if e.skipped],
        )
        return table

    # ------------------------------------------------------------------
    def _fit_custom(self, fn, layout, active_cells: int, bstrap: bool) -> tuple:
        """Run a custom kernel over every cell's rows (cached while it
        runs) and take the moment pass over its IF rows. Returns the
        estimates, the persisted IF rows (cid, unit hash uh, inf_sc)
        scaled to the unit universe, the moments and the bootstrap."""
        pdata = self.pdata
        # driver-known upper bound on the rows (each inference unit
        # appears at most once per active cell) — sizes the cache
        # partition count with zero extra passes (cache.py)
        cell_df, _ = persist_rightsized(layout.cell_rows(self._unit_table(), pdata.covariates),
                                        known_rows=max(1, pdata.n * max(1, active_cells)))
        ests, if_raw = estimate_custom(cell_df, pdata.covariates, fn, rc=not pdata.panel)
        # scale per-cell IF into the length-n universe: ×(n/n1), zeros
        # implicit for units outside the cell (reference ATTgt.py:374-378);
        # the per-cell factors are a literal array indexed by cid
        scale = [0.0] * (max((e.cid for e in ests), default=0) + 1)
        for e in ests:
            if not e.skipped and e.n1:
                scale[e.cid] = pdata.n / e.n1
        # exact driver-known row count: one IF row per (cell, unit)
        if_rows = int(sum(e.n1 for e in ests if not e.skipped)) or 1
        if_df, _ = persist_rightsized(
            if_raw.select("cid", "uh", (F.col("inf") * F.lit(scale)[F.col("cid")]).alias("inf_sc")),
            known_rows=if_rows,
        )
        z = self._moment_table(if_df, _cohort_keys(pdata.glist))
        if bstrap:
            mb = mboot(z, "key", "uh", "inf", pdata.n, self.biters, self.alp, self.seed)
            mom = mb.moments
        else:
            mb, mom = None, unit_moments(z, "key", "uh", "inf", 0, self.seed)
        cell_df.unpersist()
        return ests, if_df, mom, mb

    # ------------------------------------------------------------------
    def _moment_table(self, if_df: DataFrame, cohort_keys: dict[float, int]) -> DataFrame:
        """The moment pass's input for a custom kernel: its IF rows (key
        = cid) unioned with one row per inference unit of the unit table
        holding its weight w_u under its cohort's key (-1 for cohorts
        that are not aggregated), and, clustered, its cluster's hash and
        1/size."""
        by_cohort = F.create_map(*[F.lit(x) for g, k in cohort_keys.items() for x in (g, k)])
        key = F.coalesce(by_cohort[F.col("g")], F.lit(-1))
        cluster = ["cl", "cl_w"] if self.pdata.has_cluster else []
        return if_df.select(F.col("cid").alias("key"), "uh", F.col("inf_sc").alias("inf")) \
            .unionByName(self._unit_table().select(key.alias("key"), "uh", F.col("w").alias("inf"),
                                                   *cluster), allowMissingColumns=True)

    # ------------------------------------------------------------------
    def unpersist(self) -> None:
        """Release cached state (preprocessed panel, unit table, a custom
        kernel's IF table). Call when done with an estimator in a
        long-lived session — fit results (the driver-side tables) stay
        valid; only re-running aggte/bootstrap would recompute lineage."""
        cached = [self.pdata.df, self._units]
        if self.fit_result is not None:
            cached.append(self.fit_result.if_df)
        for df in cached:
            if df is not None:
                df.unpersist()
        self._units = None

    # ------------------------------------------------------------------
    def summary(self) -> str:
        """Printable ATT(g,t) summary (reference ``sum_gt``,
        ATTgt.py:507-517 — with the upper/lower band swap of §2.8.5
        fixed)."""
        if self.fit_result is None:
            raise DidError("call fit() before summary()")
        fr = self.fit_result
        t = fr.table.copy()
        t["band"] = t.apply(
            lambda r: f"[{r.lower: .4f}, {r.upper: .4f}]{'*' if r.sig else ''}", axis=1
        )
        body = t[["g", "t", "att", "se", "band"]].round(4).to_string(index=False)
        band_kind = "Simult." if (fr.bstrap and fr.cband) else "Pointwise"
        return (
            f"Group-Time Average Treatment Effects (est_method={fr.est_method}):\n"
            f"{body}\n---\n"
            f"Signif. codes: '*' {band_kind.lower()} confidence band does not cover 0\n"
            f"Control Group: {self.control_group}; Anticipation: {self.anticipation}; "
            f"n={fr.n}; crit val={fr.crit_val:.4f} ({band_kind})"
        )

    # ------------------------------------------------------------------
    def pretrend_test(self) -> dict:
        """Wald pre-test of the parallel-trends assumption — R `did`'s
        `Wpval` (the reference has no pre-test): W = att_pre'
        V_pre^-1 att_pre with V_pre the covariance of the
        pre-treatment ATT(g,t) vector, chi-squared with dof = rank of
        V_pre under H0.

        V is the fit's per-unit Gram restricted to the m pre-treatment
        cells, V = C_pre / n² (C = Σ_u IF_u IF_uᵀ, mboot.py): no Spark
        job, and the same cost at 20M rows as at 20k. Singular V_pre
        (collinear pre-cells) falls back to the pseudo-inverse with
        dof = rank, flagged in the result.

        Returns ``{"W", "dof", "pvalue", "n_pre", "singular"}``;
        NaN W / pvalue when there are no testable pre-treatment cells.
        """
        if self.fit_result is None:
            raise DidError("call fit() before pretrend_test()")
        fr = self.fit_result
        pre = fr.cell_map[fr.cell_map["post"] == 0].merge(
            fr.table[["g", "t", "att"]], on=["g", "t"], how="left"
        )
        pre = pre[np.isfinite(pre["att"])]
        if pre.empty:
            return {"W": float("nan"), "dof": 0, "pvalue": float("nan"),
                    "n_pre": 0, "singular": False}
        att = pre["att"].to_numpy()
        m = len(pre)
        at = [fr.moments.pos[int(c)] for c in pre["cid"]]
        V = fr.moments.C[np.ix_(at, at)] / (fr.n * fr.n)
        singular = False
        try:
            sol = np.linalg.solve(V, att)
            dof = m
            # reject a "solution" of a numerically singular system
            if not np.allclose(V @ sol, att, rtol=1e-6, atol=1e-12):
                raise np.linalg.LinAlgError
        except np.linalg.LinAlgError:
            singular = True
            sol = np.linalg.pinv(V) @ att
            dof = int(np.linalg.matrix_rank(V))
        W = float(att @ sol)
        pvalue = chi2_sf(W, dof) if dof > 0 and np.isfinite(W) else float("nan")
        return {"W": W, "dof": dof, "pvalue": pvalue, "n_pre": m,
                "singular": singular}

    # ------------------------------------------------------------------
    def compute_aggte(self, typec: str = "group", **kwargs):
        """Aggregate the fitted ATT(g,t) table. Every egt key and the
        overall ATT is a weight vector over the fit's moment columns, so
        its SE and bootstrap draws follow from the stored moments with no
        Spark job; only a bootstrap the fit's draws do not cover (no
        bootstrap at fit, or other biters) re-runs the moment pass once
        (aggte_ops). Results are memoized per (typec, kwargs): an
        aggregation is a pure function of the fit, and real sessions
        request the same one repeatedly (table + plot + bands), so a
        repeat runs no Spark job. fit() invalidates the memo."""
        from csdid_pyspark_spark.did.aggte_ops import compute_aggte

        key = (typec, tuple(sorted(kwargs.items())))
        cache = getattr(self, "_aggte_memo", None)
        if cache is None:
            cache = self._aggte_memo = {}
        if key not in cache:
            cache[key] = compute_aggte(self, typec=typec, **kwargs)
        out = cache[key]
        self.summary_aggte[typec] = out
        return out

    # ------------------------------------------------------------------
    # Method-level parity with the reference class surface
    # (reference ATTgt.py:507 sum_gt, :881 plot_attgt, :939 plot_aggte)
    # ------------------------------------------------------------------
    def sum_gt(self, n: int = 4) -> str:  # noqa: ARG002 - reference signature
        """Reference-name alias for :meth:`summary` (its ``n`` rounding
        arg is honored by summary's fixed 4-digit rounding)."""
        return self.summary()

    def plot_attgt(self, title: str = "ATT(g,t)"):
        """Render the per-(g,t) errorbar figure (reference method of
        the same name; requires a prior fit and matplotlib)."""
        if self.fit_result is None:
            raise DidError("call fit() before plot_attgt()")
        from csdid_pyspark_spark.did.plots import plot_attgt as _plot

        return _plot(self.fit_result.table, title=title)

    def plot_aggte(self, typec: str = "dynamic", **kwargs):
        """Render the aggregation errorbar figure; computes (and
        caches) the aggregation if it has not been run yet. Unlike the
        reference, the plotted aggregation matches ``typec`` (its bug
        of always plotting 'group' — SURVEY.md §2.8 — is fixed)."""
        out = self.summary_aggte.get(typec) or self.compute_aggte(typec, **kwargs)
        from csdid_pyspark_spark.did.plots import plot_aggte as _plot

        return _plot(out)


def att_gt(
    data,
    yname: str,
    tname: str,
    idname: str,
    gname: str,
    est_method: str = "dr",
    base_period: str = "varying",
    bstrap: bool = False,
    cband: bool = False,
    **kwargs,
):
    """R ``did::att_gt``-style one-call convenience: construct the
    estimator and fit in one step, returning the fitted ``ATTgt``
    (whose ``fit_result.table`` is the ATT(g,t) frame). Keyword names
    follow this engine's ``ATTgt`` constructor; R users migrating from
    ``att_gt(yname=..., gname=..., control_group=...)`` keep the same
    call shape."""
    est = ATTgt(data, yname=yname, tname=tname, idname=idname, gname=gname, **kwargs)
    est.fit(est_method=est_method, base_period=base_period, bstrap=bstrap, cband=cband)
    return est


def aggte(est: "ATTgt", typec: str = "group", **kwargs):
    """R ``did::aggte``-style helper: aggregate a fitted ``ATTgt``
    (``type`` in R = ``typec`` here: simple/group/calendar/dynamic)."""
    return est.compute_aggte(typec, **kwargs)
