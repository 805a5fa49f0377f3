"""ATTgt — Callaway & Sant'Anna (2021) group-time average treatment
effects, Spark-native.

API mirrors the reference (``ATTgt(data, yname, tname, idname, gname,
...).fit(est_method, base_period, bstrap)`` — reference ATTgt.py:22-52,
233) but the execution model is one declarative plan: cached cell
table → aggregation-pass kernels → influence functions as columns →
distributed seeded bootstrap. No per-cell Spark actions, no dense
n×(G·T) driver matrix (the reference's scalability cliff,
SURVEY.md §4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from csdid_pyspark_spark.did.stats import norm_ppf

from csdid_pyspark_spark.did import cells as cells_mod
from csdid_pyspark_spark.did.kernels import estimate_custom, estimate_panel, estimate_rc
from csdid_pyspark_spark.did.mboot import mboot
from csdid_pyspark_spark.did.preprocess import CL, DidError, PanelData, preprocess_did

# Upper bound on pre-treatment cells the Wald pre-test will assemble an
# m×m covariance for (driver O(m²), join O(m²)/unit). Real designs sit
# at m ≤ ~100; see pretrend_test for the rationale.
PRETREND_MAX_CELLS = 500

EST_METHODS = ("dr", "ipw", "reg")


@dataclass
class FitResult:
    table: pd.DataFrame  # g, t, post, att, se, lower, upper, sig
    crit_val: float
    if_df: DataFrame  # (cid, unit-hash uh, inf_sc) scaled to the unit universe
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
        self.spark = data.sparkSession
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
        sdf = cells_mod.spec_df(self.spark, specs)
        from csdid_pyspark_spark.cache import persist_rightsized

        # driver-known upper bound on cell-table rows (each inference
        # unit appears at most once per active cell) — sizes the cache
        # partition count with zero extra passes (cache.py)
        active_cells = sum(1 for s in specs if s.pret is not None and not s.zero)
        cell_bound = max(1, pdata.n * max(1, active_cells))
        if pdata.panel:
            cell_df, _ = persist_rightsized(
                cells_mod.build_cell_table_panel(
                    pdata, sdf, self.control_group, self.anticipation
                ),
                known_rows=cell_bound,
            )
            if callable(est_method):
                ests, if_raw = estimate_custom(cell_df, pdata.covariates, est_method, self.spark, rc=False)
            else:
                ests, if_raw = estimate_panel(cell_df, pdata.covariates, est_method, self.spark)
            uh = F.xxhash64("uid")
        else:
            cell_df, _ = persist_rightsized(
                cells_mod.build_cell_table_rc(
                    pdata,
                    sdf,
                    self.control_group,
                    self.anticipation,
                    ref_preslice=self.rc_slice == "reference",
                ),
                known_rows=cell_bound,
            )
            if callable(est_method):
                ests, if_raw = estimate_custom(cell_df, pdata.covariates, est_method, self.spark, rc=True)
            else:
                ests, if_raw = estimate_rc(cell_df, pdata.covariates, est_method, self.spark)
            uh = F.xxhash64("uid", "ut")

        n = pdata.n
        est_by_cid = {e.cid: e for e in ests}
        # scale per-cell IF into the length-n universe: ×(n/n1), zeros
        # implicit for units outside the cell (reference ATTgt.py:374-378)
        scale_rows = [
            (e.cid, n / e.n1 if e.n1 else 0.0) for e in ests if not e.skipped
        ]
        scale_df = self.spark.createDataFrame(scale_rows, "cid int, if_scale double")
        # exact driver-known row count: one IF row per (cell, unit)
        if_rows = int(sum(e.n1 for e in ests if not e.skipped)) or 1
        if_df, _ = persist_rightsized(
            if_raw.join(F.broadcast(scale_df), "cid").select(
                "cid",
                uh.alias("uh"),
                (F.col("inf") * F.col("if_scale")).alias("inf_sc"),
            ),
            known_rows=if_rows,
        )

        # analytic SEs: one aggregation over the IF table
        se_rows = if_df.groupBy("cid").agg(
            (F.sqrt(F.sum(F.col("inf_sc") * F.col("inf_sc"))) / n).alias("se")
        ).collect()
        se_by_cid = {r["cid"]: r["se"] for r in se_rows}
        crit_val = float(norm_ppf(1 - self.alp / 2))

        if bstrap:
            has_cl = self.pdata.has_cluster  # False when clustervars was just the id
            boot_if = self._cluster_collapse(if_df) if has_cl else if_df
            n_boot = self._n_clusters() if has_cl else n
            mb = mboot(
                boot_if,
                "cid",
                "uh",
                "inf_sc",
                n_boot,
                biters=self.biters,
                alp=self.alp,
                seed=self.seed,
            )
            se_by_cid = {cid: mb.se.get(cid, float("nan")) for cid in se_by_cid}
            if cband and math.isfinite(mb.crit_val):
                crit_val = mb.crit_val

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
            cell_map=cell_map,
            n=n,
            est_method=est_method if isinstance(est_method, str) else "custom",
            bstrap=bstrap,
            cband=cband,
            alp=self.alp,
            warnings_=[e.message for e in ests if e.skipped],
        )
        cell_df.unpersist()
        return table

    # ------------------------------------------------------------------
    def _unit_weights(self) -> DataFrame:
        """Per-inference-unit (hash, weight, cohort) table for aggte
        weighting, aligned with the IF table's unit hashes: panel units
        are ids (first-period slice, reference ATTgt.py:591-593), RC
        units are observation rows."""
        from csdid_pyspark_spark.did.preprocess import G, ID, T, W

        df = self.pdata.df
        if self.pdata.panel:
            first_t = self.pdata.tlist[0]
            return df.filter(F.col(T) == first_t).select(
                F.xxhash64(ID).alias("uh"), F.col(W).alias("w_u"), F.col(G).alias("g_u")
            )
        return df.select(
            F.xxhash64(ID, T).alias("uh"), F.col(W).alias("w_u"), F.col(G).alias("g_u")
        )

    def _cluster_map(self) -> DataFrame:
        """(uh, cl): inference-unit hash → cluster, aligned with the IF
        table's hashes (panel: per id; RC: per observation row)."""
        from csdid_pyspark_spark.did.preprocess import CL, ID, T

        if self.pdata.panel:
            return self.pdata.df.select(
                F.xxhash64(ID).alias("uh"), F.col(CL).alias("cl")
            ).distinct()
        return self.pdata.df.select(F.xxhash64(ID, T).alias("uh"), F.col(CL).alias("cl"))

    def _cluster_collapse(
        self, if_df: DataFrame, key_col: str = "cid", inf_col: str = "inf_sc"
    ) -> DataFrame:
        """Cluster bootstrap support: average IFs within cluster (the
        reference's clustered path crashes on pandas-on-Spark idioms —
        mboot.py:99-111, SURVEY.md §2.8.6)."""
        cl_map = self._cluster_map()
        sizes = cl_map.groupBy("cl").agg(F.count("*").alias("cl_n"))
        return (
            if_df.join(cl_map, "uh")
            .groupBy(key_col, "cl")
            .agg(F.sum(inf_col).alias("s"))
            .join(F.broadcast(sizes), "cl")
            .select(
                key_col,
                F.xxhash64("cl").alias("uh"),
                (F.col("s") / F.col("cl_n")).alias(inf_col),
            )
        )

    def _n_clusters(self) -> int:
        return self.pdata.df.select(CL).distinct().count()

    # ------------------------------------------------------------------
    def unpersist(self) -> None:
        """Release cached state (preprocessed panel + IF table). Call
        when done with an estimator in a long-lived session — fit
        results (the driver-side tables) stay valid; only re-running
        aggte/bootstrap would recompute lineage."""
        try:
            self.pdata.df.unpersist()
        except Exception:
            pass
        if self.fit_result is not None:
            try:
                self.fit_result.if_df.unpersist()
            except Exception:
                pass

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

        V is assembled distributed from the long influence-function
        table: V[ij] = sum_u IF_i(u)·IF_j(u) / n² — one self-equi-join
        on the unit hash restricted to the m pre-treatment cells, then
        a (cid_a, cid_b) aggregation with map-side combine; the driver
        receives O(m²) scalars, never a unit-length vector, so the
        test costs the same at 20M rows as at 20k. Singular V_pre
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
        cids = [int(c) for c in pre["cid"]]
        att = pre["att"].to_numpy()
        m = len(cids)
        # The V assembly below collects O(m²) covariance scalars and the
        # unit-hash self-join carries m² cell pairs per unit. Real
        # staggered designs have m = #pre-treatment (g,t) cells ≤ ~100
        # (|G|·|T| bounded), so this is driver-trivial — but a caller
        # who mistakes cells for units (or feeds a degenerate design
        # with thousands of cohorts) should hit a clear wall, not a
        # silent multi-GB driver collect. Same discipline as
        # operators/dedup.py::EXACT_PAIRS_LIMIT.
        if m > PRETREND_MAX_CELLS:
            raise DidError(
                f"pretrend_test covariance is O(m²) in the number of "
                f"pre-treatment cells; got m={m} > {PRETREND_MAX_CELLS}. "
                f"A design with this many (g,t) pre-cells is almost "
                f"certainly mis-specified (cohort column with unit-level "
                f"granularity?). Coarsen the time/cohort grid, or raise "
                f"csdid_pyspark_spark.did.attgt.PRETREND_MAX_CELLS to "
                f"accept the cost explicitly."
            )
        a = fr.if_df.filter(F.col("cid").isin(cids)).select(
            F.col("cid").alias("ca"), "uh", F.col("inf_sc").alias("ia")
        )
        b = fr.if_df.filter(F.col("cid").isin(cids)).select(
            F.col("cid").alias("cb"), "uh", F.col("inf_sc").alias("ib")
        )
        rows = (
            a.join(b, "uh")
            .filter(F.col("ca") <= F.col("cb"))
            .groupBy("ca", "cb")
            .agg(F.sum(F.col("ia") * F.col("ib")).alias("s"))
            .collect()
        )
        pos = {c: i for i, c in enumerate(cids)}
        V = np.zeros((m, m))
        for r in rows:
            i, j = pos[r["ca"]], pos[r["cb"]]
            V[i, j] = V[j, i] = r["s"] / (fr.n * fr.n)
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
        from csdid_pyspark_spark.did.stats import chi2_sf

        pvalue = chi2_sf(W, dof) if dof > 0 and np.isfinite(W) else float("nan")
        return {"W": W, "dof": dof, "pvalue": pvalue, "n_pre": m,
                "singular": singular}

    # ------------------------------------------------------------------
    def compute_aggte(self, typec: str = "group", **kwargs):
        """Aggregate the fitted ATT(g,t) table. Every egt key and the
        overall ATT come out of one Spark pass over the IF table, with
        one bootstrap call over all of them when bootstrapping
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
