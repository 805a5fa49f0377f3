"""Distributed Sant'Anna-Zhao DiD kernels (reg / std-ipw / doubly-robust,
panel and repeated cross-section).

The reference delegates these to the external d2cml-ai/DRDID NumPy
package after collecting every column to the driver (reference
ATTgt.py:346-372, 424-432; SURVEY.md §2.6 K1-K3). Here every (g,t) cell
is estimated at once by a fixed number of per-cell passes over the
fit's cached unit table (did/linalg.py), whose rows — a panel's units
or a repeated cross section's observations — its ``CellLayout``
expands to (unit, cell) rows in NumPy: pass 1 sums each cell's counts,
means and outcome-regression Grams; the propensity logit iterates
(``irls_logit``, one pass per iteration); for ipw and dr a final pass
sums the propensity-weighted terms and the logit's information matrix.
Each pass is one ``mapInArrow`` job whose per-row terms are NumPy and
whose per-cell constants ride in the closure, followed by
O(|cells|·p³) driver-side solves.

The influence functions follow from the same constants and are never
materialized: ``cell_moments`` forms each unit's IF across cells (and
its cohort weight) inside one more pass over the unit table and folds
it straight into the moments (did/mboot.py). Custom (callable) kernels
are the exception: they read each cell's rows together and emit IF
rows. Exact formula parity with ``tests/ref_drdid.py`` (same published
math) is asserted in tests.

Data movement per fit: O(partitions · |cells| · p²) partial sums to the
driver per pass; no shuffle, no broadcast, nothing that scales with the
number of units.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.did.cells import CellLayout
from csdid_pyspark_spark.did.linalg import (
    cell_sums,
    consts_df,
    gram,
    inv_safe,
    irls_logit,
    sigmoid,
    solve_safe,
    wx,
    xdot,
)
from csdid_pyspark_spark.did.mboot import Moments, row_moments

PS_CLAMP = 1.0 - 1e-16


@dataclass
class CellEstimate:
    cid: int
    att: float  # NaN when skipped
    n1: float  # rows (RC) / units (panel) participating in the cell
    skipped: bool
    message: str = ""


def _by_cell(sums: dict[str, np.ndarray], cids: list[int]) -> dict[int, dict[str, np.ndarray]]:
    """Per-cell views of a pass's sums."""
    return {cid: {k: v[cid] for k, v in sums.items()} for cid in cids}


def _ps(X, k):
    return np.minimum(sigmoid(xdot(X, k["gma"])), PS_CLAMP)


@dataclass(frozen=True)
class CellIF:
    """What forms a fit's influence functions: the cells' layout, the
    method, and each live cell's IF constants (``consts_df`` packing,
    with ``n1``: the units in the cell)."""

    layout: CellLayout
    est_method: str
    consts: dict[str, np.ndarray]


def _fit(cids, n_of, skipped, consts, layout, est_method) -> tuple[list[CellEstimate], CellIF]:
    """The per-cell estimates of a fit and what forms its IFs."""
    for cid, k in consts.items():
        k["n1"] = n_of[cid]
    ests = [
        CellEstimate(cid, math.nan, float(n_of[cid]), True, skipped[cid]) if cid in skipped
        else CellEstimate(cid, float(consts[cid]["att"]), float(n_of[cid]), False)
        for cid in cids
    ]
    return ests, CellIF(layout, est_method, consts_df(consts))


# ---------------------------------------------------------------------------
# Panel kernels
# ---------------------------------------------------------------------------

def _panel_pass1(X, c, k):
    d, w, dy = c["d"], c["w"], c["dy"]
    w_t, w_c = w * d, w * (1 - d)
    return {
        "n": np.ones_like(d), "n_tr": d, "n_co": 1 - d, "sw_t": w_t, "swdy_t": w_t * dy,
        "m1": wx(w_t, X), "org": gram(w_c, X), "orb": wx(w_c, X) * dy[:, None],
    }


def _panel_passf(X, c, k):
    d, w = c["d"], c["w"]
    ps = _ps(X, k)
    wc = w * ps * (1 - d) / (1 - ps)
    resid = c["dy"] - xdot(X, k["beta"])  # beta = 0 for ipw: resid = dy
    return {
        "swc": wc, "swcr": wc * resid, "v2": wx(wc * resid, X), "v3": wx(wc, X),
        "info": gram(w * ps * (1 - ps), X),
    }


def _panel_if(est_method):
    def inf(X, c, k):
        d, w, dy = c["d"], c["w"], c["dy"]
        w_t, w_c = w * d, w * (1 - d)
        et, ec, m_wt = k["eta_t"], k["eta_c"], k["m_wt"]
        if est_method == "reg":
            xb = xdot(X, k["beta"])
            return (
                (w_t * (dy - et)) / m_wt
                - (w_t * (xb - ec)) / m_wt
                - w_c * (dy - xb) * xdot(X, k["a_ols"])
            )
        ps = _ps(X, k)
        wc = w * ps * (1 - d) / (1 - ps)
        if est_method == "ipw":
            return (
                (w_t * (dy - et)) / m_wt
                - (wc * (dy - ec)) / k["m_wc"]
                - w * (d - ps) * xdot(X, k["a_ps"])
            )
        resid = dy - xdot(X, k["beta"])
        return (
            (w_t * (resid - et)) / m_wt
            - (wc * (resid - ec)) / k["m_wc"]
            - w_c * resid * xdot(X, k["a_ols"])
            - w * (d - ps) * xdot(X, k["a_ps"])
        )
    return inf


def estimate_panel(
    units: DataFrame,
    xcols: list[str],
    est_method: str,
    layout: CellLayout,
) -> tuple[list[CellEstimate], CellIF]:
    """Estimate every (g,t) cell of ``layout`` over a panel unit table.

    Returns (per-cell estimates, the constants of their influence
    functions) — ``cell_moments`` forms the IFs from them."""
    p = len(xcols)
    s1 = cell_sums(units, layout, xcols, _panel_pass1)
    n_of = s1["n"]
    cids = [int(c) for c in np.flatnonzero(n_of)]
    pass1 = _by_cell(s1, cids)

    skipped: dict[int, str] = {}
    for cid, r in pass1.items():
        if not r["n_tr"] or not r["n_co"] or not r["sw_t"]:
            skipped[cid] = "no treated or no control units in cell"

    beta: dict[int, np.ndarray] = {}
    xpx_inv: dict[int, np.ndarray] = {}
    if est_method in ("reg", "dr"):
        for cid in cids:
            if cid in skipped:
                continue
            r = pass1[cid]
            bb = solve_safe(r["org"], r["orb"])
            XpXi = inv_safe(r["org"] / r["n"])
            if bb is None or XpXi is None:
                skipped[cid] = "singular outcome-regression design"
                continue
            beta[cid], xpx_inv[cid] = bb, XpXi

    gamma: dict[int, np.ndarray | None] = {}
    if est_method in ("ipw", "dr"):
        # warm-start the intercept at logit of the cell's treated share
        init = {
            cid: np.r_[math.log(r["n_tr"] / r["n_co"]), np.zeros(p - 1)]
            for cid, r in pass1.items()
            if cid not in skipped
        }
        gamma = irls_logit(units, layout, xcols, [c for c in cids if c not in skipped], init=init)
        for cid, gm in gamma.items():
            if gm is None and cid not in skipped:
                skipped[cid] = "propensity-score logit did not converge"

    consts: dict[int, dict] = {}

    if est_method == "reg":
        for cid in cids:
            if cid in skipped:
                continue
            r = pass1[cid]
            n, sw_t, m1 = r["n"], r["sw_t"], r["m1"]
            eta_t = r["swdy_t"] / sw_t
            eta_c = float(beta[cid] @ m1) / sw_t
            consts[cid] = {
                "att": eta_t - eta_c,
                "eta_t": eta_t,
                "eta_c": eta_c,
                "m_wt": sw_t / n,
                "beta": beta[cid],
                "a_ols": xpx_inv[cid] @ m1 / sw_t,
            }
    else:
        # final pass with the coefficients in the closure
        live = [c for c in cids if c not in skipped]
        passf = _by_cell(cell_sums(units, layout, xcols, _panel_passf, consts_df(
            {cid: {"beta": beta.get(cid, np.zeros(p)), "gma": gamma[cid]} for cid in live}
        )), live)
        for cid in live:
            r1, rf = pass1[cid], passf[cid]
            n, sw_t, m1 = r1["n"], r1["sw_t"], r1["m1"]
            swc = rf["swc"]
            if not swc:
                skipped[cid] = "zero control weight mass"
                continue
            info_inv = inv_safe(rf["info"] / n)
            if info_inv is None:
                skipped[cid] = "singular propensity information matrix"
                continue
            m_wt, m_wc = sw_t / n, swc / n
            eta_c = rf["swcr"] / swc
            M2 = (rf["v2"] - eta_c * rf["v3"]) / n
            a_ps = info_inv @ M2 / m_wc
            if est_method == "ipw":
                eta_t = r1["swdy_t"] / sw_t
                a_ols = bvec = np.zeros(p)
            else:  # dr
                bvec = beta[cid]
                eta_t = (r1["swdy_t"] - float(bvec @ m1)) / sw_t
                a_ols = xpx_inv[cid] @ (m1 / n / m_wt - rf["v3"] / n / m_wc)
            consts[cid] = {
                "att": eta_t - eta_c,
                "eta_t": eta_t,
                "eta_c": eta_c,
                "m_wt": m_wt,
                "m_wc": m_wc,
                "beta": bvec,
                "gma": gamma[cid],
                "a_ols": a_ols,
                "a_ps": a_ps,
            }

    return _fit(cids, n_of, skipped, consts, layout, est_method)


# ---------------------------------------------------------------------------
# Repeated cross-section kernels
# ---------------------------------------------------------------------------

def _rc_weights(c):
    """Per-row treated (post, pre), control OLS (post, pre) and treated weights."""
    d, pst, w = c["d"], c["pst"], c["w"]
    return (w * d * pst, w * d * (1 - pst), w * (1 - d) * pst, w * (1 - d) * (1 - pst), w * d)


def _rc_pass1(X, c, k):
    d, pst, y = c["d"], c["pst"], c["y"]
    wt1, wt0, wc1w, wc0w, wd = _rc_weights(c)
    out = {
        "n": np.ones_like(d),
        "n_t1": d * pst, "n_t0": d * (1 - pst), "n_c1": (1 - d) * pst, "n_c0": (1 - d) * (1 - pst),
        "sw_t1": wt1, "sw_t0": wt0, "sw_d": wd, "swy_t1": wt1 * y, "swy_t0": wt0 * y,
        "md": wx(wd, X), "mdt1": wx(wt1, X), "mdt0": wx(wt0, X),
    }
    for blk, s in (("gc0", wc0w), ("gc1", wc1w), ("gt0", wt0), ("gt1", wt1)):
        out[blk], out[blk + "_b"] = gram(s, X), wx(s, X) * y[:, None]
    return out


def _rc_control(X, c, k):
    """Propensity score and the post / pre control IPW weights."""
    d, pst, w = c["d"], c["pst"], c["w"]
    ps = _ps(X, k)
    odds = ps * (1 - d) / (1 - ps)
    return ps, w * odds * pst, w * odds * (1 - pst)


def _rc_passf(X, c, k):
    pst, w, y = c["pst"], c["w"], c["y"]
    wt1, wt0 = _rc_weights(c)[:2]
    ps, wc1, wc0 = _rc_control(X, c, k)
    # bc = 0 for ipw: resid = y
    resid = y - (pst * xdot(X, k["bc1"]) + (1 - pst) * xdot(X, k["bc0"]))
    return {
        "swc1": wc1, "swc0": wc0, "swc1r": wc1 * resid, "swc0r": wc0 * resid,
        "swt1r": wt1 * resid, "swt0r": wt0 * resid,
        "v1r": wx(wc1 * resid, X), "v1": wx(wc1, X), "v0r": wx(wc0 * resid, X), "v0": wx(wc0, X),
        "info": gram(w * ps * (1 - ps), X),
    }


def _rc_if(est_method):
    def inf(X, c, k):
        d, pst, w, y = c["d"], c["pst"], c["w"], c["y"]
        wt1, wt0, wc1w, wc0w, wd = _rc_weights(c)
        m_wt1, m_wt0 = k["m_wt1"], k["m_wt0"]
        if est_method == "reg":
            xb0, xb1 = xdot(X, k["bc0"]), xdot(X, k["bc1"])
            return (
                (wt1 * (y - k["eta_tp"])) / m_wt1
                - (wt0 * (y - k["eta_tr"])) / m_wt0
                - (wd * ((xb1 - xb0) - k["eta_c"])) / k["m_wd"]
                - wc1w * (y - xb1) * xdot(X, k["a_c1"])
                + wc0w * (y - xb0) * xdot(X, k["a_c0"])
            )
        ps, wc1, wc0 = _rc_control(X, c, k)
        if est_method == "ipw":
            return (
                (wt1 * (y - k["eta_tp"])) / m_wt1
                - (wt0 * (y - k["eta_tr"])) / m_wt0
                - (
                    (wc1 * (y - k["eta_cp"])) / k["m_wc1"]
                    - (wc0 * (y - k["eta_cr"])) / k["m_wc0"]
                    + w * (d - ps) * xdot(X, k["a_ps"])
                )
            )
        xbc0, xbc1 = xdot(X, k["bc0"]), xdot(X, k["bc1"])
        xbt0, xbt1 = xdot(X, k["bt0"]), xdot(X, k["bt1"])
        resid = y - (pst * xbc1 + (1 - pst) * xbc0)
        dpost, dpre = xbt1 - xbc1, xbt0 - xbc0
        inf_treat_cont = (
            (wt1 * (resid - k["eta_tp"])) / m_wt1
            - (wt0 * (resid - k["eta_tr"])) / m_wt0
            - (wc1 * (resid - k["eta_cp"])) / k["m_wc1"]
            + (wc0 * (resid - k["eta_cr"])) / k["m_wc0"]
            - w * (d - ps) * xdot(X, k["a_ps"])
        )
        m_wd = m_wt1 + m_wt0  # mean(w·d·post) + mean(w·d·(1-post))
        inf_eff = (
            (wd * (dpost - k["e1"])) / m_wd
            - (wt1 * (dpost - k["e2"])) / m_wt1
            - (wd * (dpre - k["e3"])) / m_wd
            + (wt0 * (dpre - k["e4"])) / m_wt0
        )
        inf_or = (
            wt1 * (y - xbt1) * xdot(X, k["a_t1"])
            + wt0 * (y - xbt0) * xdot(X, k["a_t0"])
            + wc1w * (y - xbc1) * xdot(X, k["a_c1"])
            + wc0w * (y - xbc0) * xdot(X, k["a_c0"])
        )
        return inf_treat_cont + inf_eff + inf_or
    return inf


def estimate_rc(
    obs: DataFrame,
    xcols: list[str],
    est_method: str,
    layout: CellLayout,
) -> tuple[list[CellEstimate], CellIF]:
    """Estimate every (g,t) cell of ``layout`` over a repeated cross
    section's unit table (one row per observation). Locally-efficient
    DR per Sant'Anna & Zhao (2020) eq. 3.4 (the reference's drdid_rc
    path, ATTgt.py:424-432). Returns what ``estimate_panel`` does."""
    p = len(xcols)
    s1 = cell_sums(obs, layout, xcols, _rc_pass1)
    n_of = s1["n"]
    cids = [int(c) for c in np.flatnonzero(n_of)]
    pass1 = _by_cell(s1, cids)

    skipped: dict[int, str] = {}
    for cid, r in pass1.items():
        empty = [
            k
            for k, v in (("t-post", r["n_t1"]), ("t-pre", r["n_t0"]), ("c-post", r["n_c1"]), ("c-pre", r["n_c0"]))
            if not v
        ]
        if empty:
            skipped[cid] = f"empty D×post cells: {empty}"

    # outcome regressions
    beta: dict[int, dict[str, np.ndarray]] = {}
    xpxi: dict[int, dict[str, np.ndarray]] = {}
    blocks = ["gc0", "gc1"] + (["gt0", "gt1"] if est_method == "dr" else [])
    for cid in cids:
        if cid in skipped:
            continue
        r = pass1[cid]
        bs, xs = {}, {}
        for blk in blocks:
            bb = solve_safe(r[blk], r[blk + "_b"])
            Xi = inv_safe(r[blk] / r["n"])
            if bb is None or Xi is None:
                skipped[cid] = f"singular regression design in block {blk}"
                break
            bs[blk], xs[blk] = bb, Xi
        else:
            beta[cid], xpxi[cid] = bs, xs

    gamma: dict[int, np.ndarray | None] = {}
    if est_method in ("ipw", "dr"):
        init = {
            cid: np.r_[math.log((r["n_t1"] + r["n_t0"]) / (r["n_c1"] + r["n_c0"])), np.zeros(p - 1)]
            for cid, r in pass1.items()
            if cid not in skipped
        }
        gamma = irls_logit(obs, layout, xcols, [c for c in cids if c not in skipped], init=init)
        for cid, gm in gamma.items():
            if gm is None and cid not in skipped:
                skipped[cid] = "propensity-score logit did not converge"

    consts: dict[int, dict] = {}

    if est_method == "reg":
        for cid in cids:
            if cid in skipped:
                continue
            r = pass1[cid]
            n = r["n"]
            b0, b1 = beta[cid]["gc0"], beta[cid]["gc1"]
            md = r["md"]
            m_wd = r["sw_d"] / n
            Mv = md / n
            eta_tp = r["swy_t1"] / r["sw_t1"]
            eta_tr = r["swy_t0"] / r["sw_t0"]
            eta_c = float((b1 - b0) @ md) / r["sw_d"]
            consts[cid] = {
                "att": (eta_tp - eta_tr) - eta_c,
                "eta_tp": eta_tp,
                "eta_tr": eta_tr,
                "eta_c": eta_c,
                "m_wt1": r["sw_t1"] / n,
                "m_wt0": r["sw_t0"] / n,
                "m_wd": m_wd,
                "bc0": b0,
                "bc1": b1,
                "a_c0": xpxi[cid]["gc0"] @ Mv / m_wd,
                "a_c1": xpxi[cid]["gc1"] @ Mv / m_wd,
            }
    else:
        live = [c for c in cids if c not in skipped]
        zero = np.zeros(p)
        passf = _by_cell(cell_sums(obs, layout, xcols, _rc_passf, consts_df({
            cid: {
                "bc0": beta[cid]["gc0"] if est_method == "dr" else zero,
                "bc1": beta[cid]["gc1"] if est_method == "dr" else zero,
                "gma": gamma[cid],
            }
            for cid in live
        })), live)
        for cid in live:
            r1, rf = pass1[cid], passf[cid]
            n = r1["n"]
            if not rf["swc1"] or not rf["swc0"]:
                skipped[cid] = "zero control weight mass"
                continue
            info_inv = inv_safe(rf["info"] / n)
            if info_inv is None:
                skipped[cid] = "singular propensity information matrix"
                continue
            m_wt1, m_wt0, m_wd = r1["sw_t1"] / n, r1["sw_t0"] / n, r1["sw_d"] / n
            m_wc1, m_wc0 = rf["swc1"] / n, rf["swc0"] / n
            eta_cp = rf["swc1r"] / rf["swc1"]
            eta_cr = rf["swc0r"] / rf["swc0"]
            M2p = (rf["v1r"] - eta_cp * rf["v1"]) / n / m_wc1
            M2r = (rf["v0r"] - eta_cr * rf["v0"]) / n / m_wc0
            a_ps = info_inv @ (M2p - M2r)
            common = {
                "eta_cp": eta_cp,
                "eta_cr": eta_cr,
                "m_wt1": m_wt1,
                "m_wt0": m_wt0,
                "m_wc1": m_wc1,
                "m_wc0": m_wc0,
                "gma": gamma[cid],
                "a_ps": a_ps,
            }
            if est_method == "ipw":
                eta_tp = r1["swy_t1"] / r1["sw_t1"]
                eta_tr = r1["swy_t0"] / r1["sw_t0"]
                consts[cid] = {
                    "att": (eta_tp - eta_tr) - (eta_cp - eta_cr),
                    "eta_tp": eta_tp,
                    "eta_tr": eta_tr,
                    **common,
                }
                continue
            # doubly robust, locally efficient
            b = beta[cid]
            md, mdt1, mdt0 = r1["md"], r1["mdt1"], r1["mdt0"]
            eta_tp = rf["swt1r"] / r1["sw_t1"]
            eta_tr = rf["swt0r"] / r1["sw_t0"]
            d_post = b["gt1"] - b["gc1"]
            d_pre = b["gt0"] - b["gc0"]
            eta_d_post = float(d_post @ md) / r1["sw_d"]
            eta_dt1_post = float(d_post @ mdt1) / r1["sw_t1"]
            eta_d_pre = float(d_pre @ md) / r1["sw_d"]
            eta_dt0_pre = float(d_pre @ mdt0) / r1["sw_t0"]
            att = (
                (eta_tp - eta_tr)
                - (eta_cp - eta_cr)
                + (eta_d_post - eta_dt1_post)
                - (eta_d_pre - eta_dt0_pre)
            )
            # asy-lin-rep coefficient vectors:
            m_cp = (rf["v1"] / n) / m_wc1
            m_cr = (rf["v0"] / n) / m_wc0
            mom_d = (md / n) / m_wd
            mom_dt1 = (mdt1 / n) / m_wt1
            mom_dt0 = (mdt0 / n) / m_wt0
            v_c1 = -mom_dt1 + m_cp - (mom_d - mom_dt1)
            v_c0 = mom_dt0 - m_cr + (mom_d - mom_dt0)
            v_t1 = mom_d - mom_dt1
            v_t0 = -(mom_d - mom_dt0)
            consts[cid] = {
                "att": att,
                "eta_tp": eta_tp,
                "eta_tr": eta_tr,
                **common,
                "e1": eta_d_post,
                "e2": eta_dt1_post,
                "e3": eta_d_pre,
                "e4": eta_dt0_pre,
                "bc0": b["gc0"],
                "bc1": b["gc1"],
                "bt0": b["gt0"],
                "bt1": b["gt1"],
                "a_c0": xpxi[cid]["gc0"] @ v_c0,
                "a_c1": xpxi[cid]["gc1"] @ v_c1,
                "a_t0": xpxi[cid]["gt0"] @ v_t0,
                "a_t1": xpxi[cid]["gt1"] @ v_t1,
            }

    return _fit(cids, n_of, skipped, consts, layout, est_method)


# ---------------------------------------------------------------------------
# The moment pass of either design
# ---------------------------------------------------------------------------

def cell_moments(
    units: DataFrame,
    fit: CellIF,
    xcols: list[str],
    n: int,
    cohort_keys: dict[float, int],
    biters: int,
    seed: int,
) -> Moments:
    """The moments (did/mboot.py) of a fit, in one pass over its unit
    table: each unit's z_u holds its IF in every live cell, scaled to
    the universe of n units by n/n1 (reference ATTgt.py:374-378), and
    its weight w_u under its cohort's key (-1 for units of cohorts that
    are not aggregated). Signs per unit, or per cluster when the table
    has ``cl``/``cl_w``."""
    inf_of = (_rc_if if fit.layout.rc else _panel_if)(fit.est_method)
    live = np.flatnonzero(fit.consts["live"])
    per_cell = {k: v for k, v in fit.consts.items() if k != "live"}
    gs = np.array(sorted(cohort_keys), float)
    gkeys = np.array([cohort_keys[g] for g in gs], np.int64)
    clustered = "cl" in units.columns

    def z_blocks(rb: pa.RecordBatch, max_units: int):
        for u, ui, cid, X, named in fit.layout.blocks(rb, xcols, live, max_units):
            at = np.searchsorted(gs, u["g"]).clip(max=len(gs) - 1)
            ukey = np.where(gs[at] == u["g"], gkeys[at], -1)
            keys = np.union1d(live, ukey)
            Z = np.zeros((len(ukey), len(keys)))
            Z[np.arange(len(ukey)), np.searchsorted(keys, ukey)] = u["w"]
            if len(cid):  # no cell may be live: the weights still count
                k = {name: v[cid] for name, v in per_cell.items()}
                with np.errstate(over="ignore"):
                    Z[ui, np.searchsorted(keys, cid)] = inf_of(X, named, k) * (n / k["n1"])
            sh, a = (u["cl"], u["cl_w"]) if clustered else (u["uh"], np.ones(len(ukey)))
            yield keys, Z, sh, a

    # every row carries its weight: the pass reads them all
    cols = [*fit.layout.columns(xcols), *(["cl", "cl_w"] if clustered else [])]
    return row_moments(units.select(*cols), z_blocks, len(live) + len(gs) + 1, biters, seed,
                       clustered)


# ---------------------------------------------------------------------------
# Custom (callable) kernels — reference API parity (ATTgt.py:362-363,
# 424-425: est_method may be a callable). The callable runs per cell
# inside applyInPandas with the reference's signature:
#   panel: fn(ypost, ypre, D, i_weights=w, covariates=X) -> (att, inf)
#   rc:    fn(y=y, post=post, D=D, i_weights=w, covariates=X) -> (att, inf)
# ---------------------------------------------------------------------------

def estimate_custom(
    cell_df: DataFrame,
    xcols: list[str],
    fn,
    rc: bool,
) -> tuple[list[CellEstimate], DataFrame]:
    """Run a user-supplied NumPy kernel per (g,t) cell over the rows of
    ``CellLayout.cell_rows``. Each cell's rows arrive as one pandas
    group (Arrow-batched); cells execute in parallel across the
    cluster. Scales while any single cell fits in one task — the escape
    hatch for estimators the aggregation kernels don't cover. Returns
    the estimates and the IF rows (cid, uh, inf)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    fields = [StructField("cid", IntegerType()), StructField("uh", LongType()),
              StructField("inf", DoubleType()), StructField("att", DoubleType())]
    out_schema = StructType(fields)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[xcols].to_numpy()
        D = pdf["d"].to_numpy()
        w = pdf["w"].to_numpy()
        try:
            if rc:
                att, inf = fn(y=pdf["y"].to_numpy(), post=pdf["pst"].to_numpy(), D=D,
                              i_weights=w, covariates=X)
            else:
                att, inf = fn(pdf["y1"].to_numpy(), pdf["y0"].to_numpy(), D,
                              i_weights=w, covariates=X)
        except Exception:
            return pd.DataFrame({f.name: [] for f in fields})
        return pd.DataFrame({"cid": pdf["cid"], "uh": pdf["uh"], "inf": inf, "att": float(att)})

    if_df = cell_df.groupBy("cid").applyInPandas(run, out_schema)
    stats = (
        if_df.groupBy("cid")
        .agg(F.first("att").alias("att"), F.count("*").alias("n1"))
        .collect()
    )
    all_cids = [r["cid"] for r in cell_df.select("cid").distinct().collect()]
    by_cid = {r["cid"]: r for r in stats}
    results = []
    for cid in sorted(all_cids):
        r = by_cid.get(cid)
        if r is None:
            results.append(CellEstimate(cid, math.nan, 0.0, True, "custom kernel failed"))
        else:
            results.append(CellEstimate(cid, float(r["att"]), float(r["n1"]), False))
    return results, if_df.select("cid", "uh", "inf")
