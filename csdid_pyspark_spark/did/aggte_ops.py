"""ATT(g,t) aggregations: simple / group / calendar / dynamic.

Semantics follow the reference (ATTgt.py:519-878) and R ``did::aggte``
— including the **dynamic** event-study type the reference accepts but
never implemented (SURVEY.md §2.6 K17) and the weight-estimation
influence correction ``wif`` (reference utils_aggte.py:7-36).

Every aggregate — each egt key and the overall ATT — is one spec: cell
weights θ[cid] and per-cohort wif weights β[g]. Its influence function
is

    IF_u = Σ_cid θ[cid]·inf_sc(u, cid) + w_u·β[g_u]

For a pg-weighted average over keeper cells K (P = Σ_K pg_k,
Sa = Σ_K att_k·pg_k), θ[k] = pg_k/P, and the reference's wif summed
against att (if1 − if2) is

    (w_u·α_g − Sa)/P − (w_u·c_g − P)·Sa/P²

with g = g_u, α_g = Σ_{k∈K: g_k=g} att_k and c_g = |{k∈K: g_k=g}|.
Expanded, its two terms free of w_u are −Sa/P and +P·Sa/P² = +Sa/P:
they cancel, leaving w_u·(α_g − c_g·Sa/P)/P = w_u·β_{g_u} with

    β_g = Σ_{k∈K: g_k=g} (att_k − Sa/P)/P

Group's per-cohort keys are equal-weight means (θ = 1/|K|, no wif).
The overall spec is a linear combination of the per-key specs — group:
pg-weighted over cohorts with β from the cohort-level keepers;
calendar: the mean over keys; dynamic: the mean over e ≥ 0 — except
for simple, whose overall is its only key.

Each spec is thus a weight vector θ̃ over the fit's moment columns z
(the cells, then each cohort's unit-weight column), and with the
moments C = Σ_u z_u z_uᵀ and the draw sums S of the fit (mboot.py)

    SE = sqrt(θ̃ᵀ C θ̃) / n,    bootstrap draws = S θ̃

— all on the driver, without Spark. The fit's pg are its cohort
columns' totals over n. A bootstrap the fit's draws do not cover
(the fit ran without one, or with other biters) re-runs the fit's
moment pass once — for the built-in kernels, over the still-cached
unit table — and keeps its draws for later requests.
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from csdid_pyspark_spark.did.mboot import boot_result, mboot, sigma_crit
from csdid_pyspark_spark.did.preprocess import DidError
from csdid_pyspark_spark.did.stats import norm_ppf

OVERALL_KEY = -1


@dataclass
class AggteResult:
    typec: str
    overall_att: float
    overall_se: float
    egt: list[float]
    att_egt: list[float]
    se_egt: list[float]
    crit_val_egt: float
    min_e: float
    max_e: float
    balance_e: float | None
    alp: float
    table: pd.DataFrame = field(default=None)

    def summary(self) -> str:
        """Printable aggregation summary (reference AGGTEobj,
        utils_aggte.py:69-192)."""
        titles = {
            "simple": "Overall summary of ATT's (simple weighted average):",
            "dynamic": "Overall summary of ATT's based on event-study/dynamic aggregation:",
            "group": "Overall summary of ATT's based on group/cohort aggregation:",
            "calendar": "Overall summary of ATT's based on calendar time aggregation:",
        }
        z = norm_ppf(1 - self.alp / 2)
        lo = self.overall_att - z * self.overall_se
        hi = self.overall_att + z * self.overall_se
        head = (
            f"{titles[self.typec]}\n"
            f"   ATT {self.overall_att: .4f}  se {self.overall_se: .4f}  "
            f"[{100 * (1 - self.alp):.0f}% conf. int. {lo: .4f}, {hi: .4f}]"
            f"{'*' if lo > 0 or hi < 0 else ''}\n"
        )
        if self.table is not None and not self.table.empty:
            label = {"dynamic": "Event time", "group": "Group", "calendar": "Time"}[self.typec]
            head += f"\n{label} effects:\n" + self.table.round(4).to_string(index=False) + "\n"
        return head + "---\nSignif. codes: '*' confidence band does not cover 0"

    def __post_init__(self):
        if self.egt:
            lower = [a - self.crit_val_egt * s for a, s in zip(self.att_egt, self.se_egt)]
            upper = [a + self.crit_val_egt * s for a, s in zip(self.att_egt, self.se_egt)]
            self.table = pd.DataFrame(
                {
                    "egt": self.egt,
                    "att": self.att_egt,
                    "se": self.se_egt,
                    "lower": lower,
                    "upper": upper,
                    "sig": [lo > 0 or up < 0 for lo, up in zip(lower, upper)],
                }
            )


# (att, θ: cid → cell weight, β: cohort → wif weight)
Spec = tuple[float, dict[int, float], dict[float, float]]


def _pg_weighted(ks: list[dict]) -> Spec:
    """pg-weighted average over keeper cells, wif included."""
    P = sum(k["pg"] for k in ks)
    Sa = sum(k["att"] * k["pg"] for k in ks)
    beta: dict[float, float] = {}
    for k in ks:
        beta[k["g"]] = beta.get(k["g"], 0.0) + (k["att"] - Sa / P) / P
    return Sa / P, {k["cid"]: k["pg"] / P for k in ks}, beta


def _mix(specs: list[Spec], coefs: list[float]) -> Spec:
    """The spec of Σ coef·spec."""
    att, theta, beta = 0.0, {}, {}
    for (a, th, be), c in zip(specs, coefs):
        att += c * a
        for cid, w in th.items():
            theta[cid] = theta.get(cid, 0.0) + c * w
        for g, b in be.items():
            beta[g] = beta.get(g, 0.0) + c * b
    return att, theta, beta


def compute_aggte(
    attgt,
    typec: str = "group",
    balance_e: float | None = None,
    min_e: float = float("-inf"),
    max_e: float = float("inf"),
    na_rm: bool = False,
    bstrap: bool | None = None,
    cband: bool | None = None,
    biters: int | None = None,
    alp: float | None = None,
) -> AggteResult:
    if typec not in ("simple", "dynamic", "group", "calendar"):
        raise DidError("typec must be one of ['simple','dynamic','group','calendar']")
    fr = attgt.fit_result
    if fr is None:
        raise DidError("call fit() before compute_aggte()")
    bstrap = fr.bstrap if bstrap is None else bstrap
    cband = fr.cband if cband is None else cband
    biters = attgt.biters if biters is None else biters
    alp = attgt.alp if alp is None else alp
    n = fr.n
    z = float(norm_ppf(1 - alp / 2))

    cells = fr.cell_map.merge(
        fr.table[["g", "t", "post", "att"]], on=["g", "t", "post"], how="left"
    )
    if cells["att"].isna().any():
        if not na_rm:
            raise DidError("missing ATT(g,t) values; set na_rm=True to drop them")
        cells = cells[cells["att"].notna()]

    mom = fr.moments
    pg = {g: mom.total[mom.pos[k]] / n for g, k in fr.cohort_keys.items() if k in mom.pos}

    infos = [
        {"cid": int(r.cid), "g": float(r.g), "t": float(r.t), "att": float(r.att),
         "pg": pg.get(float(r.g), 0.0)}
        for r in cells.itertuples()
    ]

    # ----- step 1, driver only: θ/β specs per egt key and overall ----------
    groups: dict[float, list[dict]] = {}
    if typec in ("simple", "group"):
        for k in infos:
            if k["g"] <= k["t"] <= k["g"] + max_e:
                groups.setdefault(k["g"], []).append(k)
    elif typec == "calendar":
        min_g = min(k["g"] for k in infos)
        for k in infos:
            if k["t"] >= min_g and k["g"] <= k["t"]:
                groups.setdefault(k["t"], []).append(k)
    else:  # dynamic
        tl = attgt.pdata.tlist
        span = max(tl) - min(tl)
        max_t = max((i["t"] for i in infos), default=0.0)
        for k in infos:
            e = k["t"] - k["g"]
            if not (min_e <= e <= max_e):
                continue
            # R did balanced event-study window: cohorts observed for
            # >= balance_e post periods, event times trimmed to
            # balance_e - (t2 - t1) <= e <= balance_e — the lower trim
            # keeps cohort composition IDENTICAL across every retained
            # event time (without it, deep-negative e averages over a
            # different cohort mix).
            if balance_e is not None and (
                max_t - k["g"] < balance_e or e > balance_e or e < balance_e - span
            ):
                continue
            groups.setdefault(e, []).append(k)

    if typec == "simple":
        egts, per_key = [], []
        keep = [k for ks in groups.values() for k in ks]
        if not keep:
            raise DidError("no post-treatment cells to aggregate")
        overall = _pg_weighted(keep)
    else:
        egts = sorted(groups)
        if typec == "group":
            per_key = [
                (sum(k["att"] for k in ks) / len(ks), {k["cid"]: 1.0 / len(ks) for k in ks}, {})
                for ks in (groups[g] for g in egts)
            ]
        else:
            per_key = [_pg_weighted(groups[e]) for e in egts]
        o_keys = [i for i, e in enumerate(egts) if typec != "dynamic" or e >= 0]
        if not o_keys:
            raise DidError("no post-treatment cells to aggregate")
        if typec == "group":
            att_o, coef, beta_o = _pg_weighted(
                [{"cid": i, "g": g, "att": per_key[i][0], "pg": pg.get(g, 0.0)}
                 for i, g in enumerate(egts)]
            )
            overall = (att_o, _mix(per_key, [coef[i] for i in o_keys])[1], beta_o)
        else:
            overall = _mix([per_key[i] for i in o_keys], [1.0 / len(o_keys)] * len(o_keys))
    specs = {**dict(enumerate(per_key)), OVERALL_KEY: overall}

    # ----- step 2, driver only: every key's SE and bootstrap from the moments
    if bstrap and mom.S.shape[0] != biters:  # not covered by the fit's draws
        if fr.if_cells is not None:  # the fused pass over the still-cached unit table
            mom = attgt._fit_moments(fr.if_cells, biters)
        else:  # a custom kernel's IF rows
            z_df = attgt._moment_table(fr.if_df, fr.cohort_keys)
            mom = mboot(z_df, "key", "uh", "inf", n, biters, alp, attgt.seed).moments
        fr.moments = mom
    keys = list(specs)
    theta = np.zeros((len(mom.keys), len(keys)))
    for j, (_, th, be) in enumerate(specs.values()):
        for key, w in [*th.items(), *((fr.cohort_keys[g], b) for g, b in be.items())]:
            theta[mom.pos[key], j] += w
    se_arr = np.sqrt(np.maximum(((mom.C @ theta) * theta).sum(axis=0), 0.0)) / n
    tiny = math.sqrt(2.220446049250313e-16) * 10
    se = {key: float(s) if s > tiny else float("nan") for key, s in zip(keys, se_arr)}
    crit = z
    if bstrap:
        mb = boot_result(mom.S @ theta, keys, mom.clusters or n, alp)
        se.update(mb.se)
        if cband and egts:
            # the uniform band covers the egt keys, not the overall
            egt_cols = [i for i, k in enumerate(keys) if k != OVERALL_KEY]
            crit = sigma_crit(mb.bres[:, egt_cols], alp)[2]
            if not math.isfinite(crit) or crit < z:
                warnings.warn("simultaneous critical value degenerate; reporting pointwise bands", stacklevel=2)
                crit = z
            elif crit >= 7:
                warnings.warn("simultaneous critical value very large; estimates may be unreliable", stacklevel=2)

    return AggteResult(
        typec, float(overall[0]), se[OVERALL_KEY], [float(e) for e in egts],
        [float(a) for a, _, _ in per_key], [se[i] for i in range(len(egts))], float(crit),
        min_e, max_e, balance_e, alp,
    )
