"""Default-tier guard for the fit, the aggregation layer (aggte) and
the pre-test.

On a tiny seeded weighted panel, fitted with the multiplier bootstrap
and a uniform band (plain and clustered) and analytically, each fit's
per-cell ATT/SE and critical value, every aggregation type's per-egt
ATT/SE, overall ATT/SE and sup-t critical value, and the Wald pre-test
must equal recorded values, with the fits made at 1 and at 4 shuffle
partitions. The slow-tier suites check the same layers against
independent NumPy compositions; this guard keeps the bootstrap, cband
and cluster paths inside the default run."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest

from csdid_pyspark_spark.did import ATTgt
from csdid_pyspark_spark.did.aggte_ops import compute_aggte
from tests.test_did_parity import make_panel_dgp

TYPES = ("simple", "group", "calendar", "dynamic")
RTOL = 1e-9
# name -> (clustervars, bstrap); bootstrapped fits also use a uniform band
FITS = {"plain": (None, True), "clustered": ("cl", True), "analytic": (None, False)}

# (egt, att_egt, se_egt, overall_att, overall_se, crit_val_egt) per type,
# recorded from the per-type aggregation code this guard was written against
PINNED = {
    "plain": {
        "simple": (
            [],
            [],
            [],
            1.9188924356752597, 0.1455578516800456, 1.9599639845400538,
        ),
        "group": (
            [3.0, 4.0],
            [2.2375429407873724, 1.387383393148256],
            [0.16488183743661877, 0.16814763773972577],
            1.8350052761855178, 0.14034797696824858, 2.2511970110028097,
        ),
        "calendar": (
            [3.0, 4.0, 5.0],
            [1.093980904898256, 1.6885315684065807, 2.5835817225575886],
            [0.14748853484052468, 0.17568044043624254, 0.18549550770890785],
            1.788698065287475, 0.1469175965937669, 2.519910553781536,
        ),
        "dynamic": (
            [-2.0, -1.0, 0.0, 1.0, 2.0],
            [-0.019581427929218187, -0.05132558402249407, 1.0632758461588272,
             2.027784951273696, 3.3371309645554827],
            [0.14599783125605897, 0.10009009406102774, 0.11958295669411662,
             0.1636150679109439, 0.2199423288760085],
            2.142730587329335, 0.1474817501141485, 2.493285745911467,
        ),
    },
    "clustered": {
        "simple": (
            [],
            [],
            [],
            1.9188924356752597, 0.15514985103651946, 1.9599639845400538,
        ),
        "group": (
            [3.0, 4.0],
            [2.2375429407873724, 1.387383393148256],
            [0.21552589909956063, 0.1500981625009948],
            1.8350052761855178, 0.13930741824469647, 1.9599639845400538,
        ),
        "calendar": (
            [3.0, 4.0, 5.0],
            [1.093980904898256, 1.6885315684065807, 2.5835817225575886],
            [0.13040503035562562, 0.2091953956380761, 0.13749782935831065],
            1.788698065287475, 0.156472964048225, 2.383045257133101,
        ),
        "dynamic": (
            [-2.0, -1.0, 0.0, 1.0, 2.0],
            [-0.019581427929218187, -0.05132558402249407, 1.0632758461588272,
             2.027784951273696, 3.3371309645554827],
            [0.1607246662519574, 0.06966172975691137, 0.12517699554193581,
             0.1629253082890368, 0.22289892369359576],
            2.142730587329335, 0.17282458603761883, 2.0687797857293675,
        ),
    },
}

# per-cell att/se and crit_val of each fit, recorded likewise
PINNED_FIT = {
    "plain": {
        "att": [0.08604646096415408, 1.093980904898256, 2.2815169529083783, 3.3371309645554827,
                -0.019581427929218187, -0.2040832980476469, 1.029131820840582, 1.7456349654559302],
        "se": [0.14795461625348114, 0.14748853484052468, 0.19825168790435657, 0.21994232887600842,
               0.14599783125605897, 0.14978539612512562, 0.16053764861966066, 0.1827340029250849],
        "crit_val": 2.7154902539937593,
    },
    "clustered": {
        "att": [0.08604646096415408, 1.093980904898256, 2.2815169529083783, 3.3371309645554827,
                -0.019581427929218187, -0.2040832980476469, 1.029131820840582, 1.7456349654559302],
        "se": [0.15506876561390323, 0.13040503035562562, 0.2956130677324635, 0.22289892369359574,
               0.1607246662519574, 0.16196337445766373, 0.14373955633193053, 0.18496174072288551],
        "crit_val": 2.224608636788126,
    },
    "analytic": {
        "att": [0.08604646096415408, 1.093980904898256, 2.2815169529083783, 3.3371309645554827,
                -0.019581427929218187, -0.2040832980476469, 1.029131820840582, 1.7456349654559302],
        "se": [0.16111453045947907, 0.15765326727887094, 0.20302428230613215, 0.22312863522176335,
               0.16371375095332408, 0.16054963685486526, 0.15218594579118022, 0.17565430819506425],
        "crit_val": 1.9599639845400538,
    },
}
# the plain fit's pretrend_test()
PINNED_PRETREND = {"W": 2.560082093384773, "dof": 3, "pvalue": 0.4645306851687673}


@contextmanager
def _partitions(spark, parts):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def fits(spark):
    """``fits(parts)``: the plain and clustered bootstrap+cband fits and
    an analytic (``bstrap=False``) fit, made at ``parts`` shuffle
    partitions on first request."""
    pdf = make_panel_dgp(n_units=120, periods=(1, 2, 3, 4, 5), cohorts=(0, 3, 4), seed=11)
    pdf["cl"] = pdf["id"] % 12
    sdf = spark.createDataFrame(pdf)
    made: dict[int, dict] = {}

    def at(parts: int) -> dict:
        if parts not in made:
            made[parts] = {}
            with _partitions(spark, parts):
                for name, (cl, bstrap) in FITS.items():
                    est = ATTgt(sdf, "Y", "period", "id", "G", weights_name="wgt",
                                clustervars=cl, biters=199, seed=3,
                                allow_unbalanced_panel=False)
                    est.fit("reg", bstrap=bstrap, cband=bstrap)
                    made[parts][name] = est
        return made[parts]

    yield at
    for ests in made.values():
        for est in ests.values():
            est.unpersist()


def _results(est) -> dict:
    out = {}
    for typec in TYPES:
        r = compute_aggte(est, typec=typec)
        out[typec] = (r.egt, r.att_egt, r.se_egt, r.overall_att, r.overall_se, r.crit_val_egt)
    return out


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("fit", ["plain", "clustered"])
def test_aggte_matches_pinned_values(spark, fits, fit, parts):
    with _partitions(spark, parts):
        got = _results(fits(parts)[fit])
    for typec in TYPES:
        want = PINNED[fit][typec]
        egt, att, se, att_o, se_o, crit = got[typec]
        assert egt == want[0], typec
        np.testing.assert_allclose(att, want[1], rtol=RTOL, err_msg=typec)
        np.testing.assert_allclose(se, want[2], rtol=RTOL, err_msg=typec)
        np.testing.assert_allclose([att_o, se_o, crit], want[3:], rtol=RTOL, err_msg=typec)


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("fit", list(FITS))
def test_fit_matches_pinned_values(fits, fit, parts):
    """Per-cell ATT and SE (bootstrap or analytic) and the fit's
    critical value."""
    fr = fits(parts)[fit].fit_result
    want = PINNED_FIT[fit]
    np.testing.assert_allclose(fr.table["att"], want["att"], rtol=RTOL)
    np.testing.assert_allclose(fr.table["se"], want["se"], rtol=RTOL)
    np.testing.assert_allclose(fr.crit_val, want["crit_val"], rtol=RTOL)


@pytest.mark.parametrize("parts", [1, 4])
def test_pretrend_matches_pinned_values(spark, fits, parts):
    with _partitions(spark, parts):
        got = fits(parts)["plain"].pretrend_test()
    assert got["dof"] == PINNED_PRETREND["dof"]
    np.testing.assert_allclose([got["W"], got["pvalue"]],
                               [PINNED_PRETREND["W"], PINNED_PRETREND["pvalue"]], rtol=RTOL)
