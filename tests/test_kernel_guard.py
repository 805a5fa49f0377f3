"""Default-tier guard of the Sant'Anna–Zhao kernels through ``ATTgt.fit``.

The slow-tier parity suite (tests/test_did_parity.py) checks every
kernel against the NumPy reference (tests/ref_drdid.py); this module
keeps one fit per method and design in the default run: reg, ipw and
dr on the panel (not-yet-treated controls) and on repeated cross
sections, at the same tolerances (ATT abs 1e-8, SE rel 1e-6). It also
pins the two ways a cell is skipped inside the kernels: a propensity
logit that does not converge (perfect separation) and a singular
outcome-regression design. Two more tests check, on a small
observation table read through a ``CellLayout``, that a pass's sums do
not depend on which partition holds a live cell's rows: a last
partition with no live row adds nothing to ``cell_sums`` or to an IRLS
iteration.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from csdid_pyspark_spark.did import ATTgt
from tests.test_did_parity import (
    REF_PANEL,
    REF_RC,
    _cell_arrays_panel,
    _cell_arrays_rc,
    make_panel_dgp,
)


@pytest.fixture(scope="module")
def dgp():
    return make_panel_dgp(n_units=200)


@pytest.fixture(scope="module")
def sdf(spark, dgp):
    return spark.createDataFrame(dgp)


def _fit(sdf, est_method, **kw):
    est = ATTgt(sdf, "Y", "period", "id", "G", xfmla="Y ~ x1", weights_name="wgt", **kw)
    try:
        return est.fit(est_method=est_method)
    finally:
        est.unpersist()


@pytest.mark.parametrize("est_method", ["reg", "ipw", "dr"])
def test_panel_kernel_matches_reference(dgp, sdf, est_method):
    table = _fit(sdf, est_method, control_group="notyettreated", allow_unbalanced_panel=False)
    assert len(table) == 8
    for _, row in table.iterrows():
        g, t = row["g"], row["t"]
        pret = (g - 1) if t >= g else (t - 1)
        y1, y0, D, X, w = _cell_arrays_panel(dgp, g, t, pret, "notyettreated")
        att_ref, inf_ref = REF_PANEL[est_method](y1, y0, D, X, w)
        se_ref = np.sqrt(np.mean(inf_ref**2) / len(D))
        assert row["att"] == pytest.approx(att_ref, abs=1e-8), (g, t)
        assert row["se"] == pytest.approx(se_ref, rel=1e-6), (g, t)


@pytest.mark.parametrize("est_method", ["reg", "ipw", "dr"])
def test_rc_kernel_matches_reference(dgp, sdf, est_method):
    table = _fit(sdf, est_method, panel=False)
    assert len(table) == 8
    for _, row in table.iterrows():
        g, t = row["g"], row["t"]
        pret = (g - 1) if t >= g else (t - 1)
        y, post, D, X, w = _cell_arrays_rc(dgp, g, t, pret, "nevertreated")
        att_ref, inf_ref = REF_RC[est_method](y, post, D, X, w)
        se_ref = np.sqrt(np.sum(inf_ref**2)) / len(D)
        assert row["att"] == pytest.approx(att_ref, abs=1e-8), (g, t)
        assert row["se"] == pytest.approx(se_ref, rel=1e-6), (g, t)


def _two_cohort_panel(x_of):
    """Never-treated units and cohorts 3 and 4 over periods 1..4, with
    covariate x_of(unit, cohort, period) and a unit effect in y."""
    rows = []
    for i in range(90):
        g = (0, 3, 4)[i % 3]
        for t in (1, 2, 3, 4):
            y = 0.1 * i + 0.3 * t + (1.0 if 0 < g <= t else 0.0) + 0.01 * ((i * 7 + t) % 5)
            rows.append((i, t, float(g), y, x_of(i, g, t)))
    return pd.DataFrame(rows, columns=["id", "period", "G", "Y", "x1"])


def test_separated_propensity_cell_is_skipped(spark):
    """x1 separates cohort 3 from the never-treated units perfectly, so
    the propensity logit of cohort 3's cells never converges: those
    cells are skipped with a named reason, cohort 4's are estimated."""
    pdf = _two_cohort_panel(lambda i, g, t: (1.0 if g == 3 else -1.0) + 0.01 * (i % 9))
    est = ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G", xfmla="Y ~ x1",
                allow_unbalanced_panel=False)
    try:
        table = est.fit(est_method="dr")
        warnings_ = est.fit_result.warnings_
    finally:
        est.unpersist()
    g3, g4 = table[table["g"] == 3], table[table["g"] == 4]
    assert len(g3) == 3 and g3["att"].isna().all()
    assert np.isfinite(g4["att"]).all()
    assert warnings_ == ["propensity-score logit did not converge"] * 3


def test_singular_outcome_design_cell_is_skipped(spark):
    """Every never-treated unit has x1 = 0.5 in period 1, so the control
    outcome regression of each cell based in period 1 has a rank-one
    design: those cells are skipped with a named reason, the rest are
    estimated."""
    pdf = _two_cohort_panel(lambda i, g, t: 0.5 if (g == 0 and t == 1) else 0.1 * (i % 7) + 0.05 * t)
    est = ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G", xfmla="Y ~ x1",
                allow_unbalanced_panel=False)
    try:
        table = est.fit(est_method="reg")
        warnings_ = est.fit_result.warnings_
    finally:
        est.unpersist()
    based_in_1 = table["t"] == 2  # pre cells (3, 2) and (4, 2)
    skipped = table[based_in_1]
    assert len(skipped) == 2 and skipped["att"].isna().all()
    assert np.isfinite(table[~based_in_1]["att"]).all()
    assert warnings_ == ["singular outcome-regression design"] * 2


def test_fit_with_every_cell_skipped_returns_nan_table(spark):
    """x1 separates every cohort from the never-treated units, so every
    cell's propensity logit fails and no cell reaches the final passes:
    the fit still returns the full table, all NaN, with each reason."""
    pdf = _two_cohort_panel(lambda i, g, t: (1.0 if g else -1.0) + 0.01 * (i % 9))
    est = ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G", xfmla="Y ~ x1",
                allow_unbalanced_panel=False)
    try:
        table = est.fit(est_method="dr")
        warnings_ = est.fit_result.warnings_
    finally:
        est.unpersist()
    assert len(table) == 6 and table["att"].isna().all()
    assert warnings_ == ["propensity-score logit did not converge"] * 6


def _logit_rows(cid, n, slope, seed):
    """n observations that only cell ``cid`` of ``_layout()`` reads
    (cell 0: period 1, its base; cell 1: period 3, its t), treated
    (cohort 3) with probability sigmoid(slope·x), else never treated."""
    rng = np.random.default_rng(seed)
    x = rng.normal(size=n)
    d = (rng.random(n) < 1 / (1 + np.exp(-slope * x))).astype(float)
    return pd.DataFrame({"uh": seed * 1000 + np.arange(n), "g": 3.0 * d,
                         "w": 1.0 + (np.arange(n) % 3), "t": 2 * cid, "_y": x + d,
                         "_x0": 1.0, "_x1": x})


def _layout():
    """Two RC cells of cohort 3 over periods 1..3: cell 0 (t = 2, base
    period 1) and cell 1 (t = 3, base period 2)."""
    from csdid_pyspark_spark.did.cells import CellLayout, build_cell_specs

    tlist = [1.0, 2.0, 3.0]
    return CellLayout.of(build_cell_specs(tlist, [3.0]), tlist, "nevertreated", 0, rc=True)


def _partitions(spark, *pdfs):
    """A cached observation table whose i-th partition holds exactly pdfs[i]."""
    rows = [list(p.astype(object).itertuples(index=False, name=None)) for p in pdfs]
    rdd = spark.sparkContext.parallelize(rows, len(rows)).flatMap(list)
    out = spark.createDataFrame(
        rdd, "uh long, g double, w double, t int, _y double, _x0 double, _x1 double")
    out = out.cache()
    out.count()
    return out


def test_cell_sums_independent_of_where_live_rows_sit(spark):
    """A partition with no row of a live cell adds nothing, wherever it
    sits: the sums of a table whose last partition is empty, or holds
    only rows of cells the pass does not read, equal those of the same
    rows in one partition."""
    from csdid_pyspark_spark.did.kernels import _rc_pass1
    from csdid_pyspark_spark.did.linalg import _irls_terms, cell_sums, consts_df

    a = pd.concat([_logit_rows(0, 80, 1.0, 1), _logit_rows(1, 60, 0.5, 2)])
    b = _logit_rows(1, 70, 0.5, 3)
    split = _partitions(spark, a, b)
    empty_last = _partitions(spark, a, a.iloc[:0])
    whole = split.coalesce(1)
    layout, xcols = _layout(), ["_x0", "_x1"]
    try:
        assert split.rdd.getNumPartitions() == 2
        consts = consts_df({0: {"gma": np.array([0.2, -0.4])}})
        got = cell_sums(split, layout, xcols, _irls_terms, consts)
        want = cell_sums(whole, layout, xcols, _irls_terms, consts)
        assert set(got) == {"H", "r"}
        for k in want:
            np.testing.assert_allclose(got[k][0], want[k][0], rtol=1e-12)
        assert got["H"][0][0, 0] > 0
        got1 = cell_sums(empty_last, layout, xcols, _rc_pass1)
        want1 = cell_sums(empty_last.coalesce(1), layout, xcols, _rc_pass1)
        for k in want1:
            np.testing.assert_allclose(got1[k], want1[k], rtol=1e-12)
        assert list(got1["n"]) == [80, 60]
    finally:
        split.unpersist()
        empty_last.unpersist()


def test_irls_straggler_absent_from_last_partition(spark):
    """Cell 1 starts at its MLE and leaves after one iteration; cell 0
    keeps iterating with no row in the table's last partition. Its
    coefficients equal a one-partition fit's."""
    from csdid_pyspark_spark.did.linalg import irls_logit

    a = pd.concat([_logit_rows(0, 150, 1.5, 4), _logit_rows(1, 80, 0.5, 5)])
    b = _logit_rows(1, 90, 0.5, 6)
    split = _partitions(spark, a, b)
    layout, xcols = _layout(), ["_x0", "_x1"]
    try:
        whole = irls_logit(split.coalesce(1), layout, xcols, [0, 1])
        assert whole[0] is not None and whole[1] is not None
        got = irls_logit(split, layout, xcols, [0, 1], init={1: whole[1]})
    finally:
        split.unpersist()
    assert got[0] is not None and got[1] is not None
    np.testing.assert_allclose(got[0], whole[0], rtol=1e-10)
    np.testing.assert_allclose(got[1], whole[1], rtol=1e-10)
