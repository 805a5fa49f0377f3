"""Default-tier guard for the fit, the aggregation layer (aggte) and
the pre-test.

On a tiny seeded weighted panel, fitted with the multiplier bootstrap
and a uniform band (plain and clustered) and analytically, each fit's
per-cell ATT/SE and critical value, every aggregation type's per-egt
ATT/SE, overall ATT/SE and sup-t critical value, and the Wald pre-test
must equal recorded values, with the fits made at 1 and at 4 shuffle
partitions. The same rows fitted as repeated cross sections pin the RC
design likewise: an analytic ``reg`` fit, a bootstrapped ``dr`` fit
with a cluster variable and a bootstrapped ``dr`` fit on the
reference's row slice (``rc_slice="reference"``). The slow-tier suites
check the same layers against independent NumPy compositions; this
guard keeps the bootstrap, cband and cluster paths of both designs
inside the default run."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest

from csdid_pyspark_spark.did import ATTgt
from csdid_pyspark_spark.did.aggte_ops import compute_aggte
from tests.test_did_parity import make_panel_dgp

TYPES = ("simple", "group", "calendar", "dynamic")
RTOL = 1e-9
# name -> (ATTgt keywords, est_method, bstrap); bootstrapped fits also
# use a uniform band
FITS = {
    "plain": ({}, "reg", True),
    "clustered": ({"clustervars": "cl"}, "reg", True),
    "analytic": ({}, "reg", False),
    "rc_reg": ({"panel": False}, "reg", False),
    "rc_dr_clustered": ({"panel": False, "xfmla": "Y ~ x1", "clustervars": "cl"}, "dr", True),
    "rc_reference": ({"panel": False, "xfmla": "Y ~ x1", "rc_slice": "reference"}, "dr", True),
}
RC_FITS = [name for name in FITS if name.startswith("rc_")]

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

# the repeated-cross-section fits of FITS, recorded likewise from the
# cell-table RC path (broadcast-joined cell table, IF rows, unit-hash
# shuffle) at the commit before the RC fit read one row per observation
PINNED["rc_reg"] = {
    "simple": (
        [],
        [],
        [],
        1.9188924356752597, 0.29458582948520035, 1.9599639845400538,
    ),
    "group": (
        [3.0, 4.0],
        [2.2375429407873724, 1.3873833931482564],
        [0.35572206597175987, 0.4597228466480064],
        1.8350052761855182, 0.3010151348796752, 1.9599639845400538,
    ),
    "calendar": (
        [3.0, 4.0, 5.0],
        [1.0939809048982552, 1.6885315684065811, 2.5835817225575886],
        [0.4345735811046264, 0.42190673416686336, 0.45078118255212407],
        1.7886980652874749, 0.2818978424941448, 1.9599639845400538,
    ),
    "dynamic": (
        [-2.0, -1.0, 0.0, 1.0, 2.0],
        [-0.019581427929218187, -0.05132558402249405, 1.0632758461588268, 2.0277849512736967,
         3.337130964555483],
        [0.4227886566123603, 0.25601704206094306, 0.2937250223274519, 0.3657849782667329,
         0.5049496383361054],
        2.1427305873293356, 0.31045346211043606, 1.9599639845400538,
    ),
}
PINNED["rc_dr_clustered"] = {
    "simple": (
        [],
        [],
        [],
        1.704554996420147, 0.07300326701402443, 1.9599639845400538,
    ),
    "group": (
        [3.0, 4.0],
        [1.8278112715750838, 1.4989635294617136],
        [0.09611255770697766, 0.10459790559186997],
        1.6721068482259505, 0.07243076493815395, 2.0369491321461757,
    ),
    "calendar": (
        [3.0, 4.0, 5.0],
        [0.8697446037669888, 1.5195196599271823, 2.3291306532873133],
        [0.0813883558486399, 0.147782627160061, 0.10226643753036259],
        1.5727983056604946, 0.07074193858692177, 2.1345353074235542,
    ),
    "dynamic": (
        [-2.0, -1.0, 0.0, 1.0, 2.0],
        [-0.03436026365430415, -0.001793174816541845, 0.9822824589262347, 1.8902952050014223,
         2.723580426872927],
        [0.19972863028415647, 0.09597977226487368, 0.0698153962070977, 0.09469399117119397,
         0.13621946677859256],
        1.865386030266861, 0.0732964060865052, 2.464640621324376,
    ),
}
PINNED["rc_reference"] = {
    "simple": (
        [],
        [],
        [],
        1.716759192734784, 0.1902079895864539, 1.9599639845400538,
    ),
    "group": (
        [3.0, 4.0],
        [1.5858496211386885, 1.9351163581570725],
        [0.2679387157754634, 0.24852253175222477],
        1.7512221291966354, 0.18343849244191107, 2.1365443930659596,
    ),
    "calendar": (
        [3.0, 4.0, 5.0],
        [0.6280854149440321, 1.6049552392748698, 2.4017663852587696],
        [0.3635199987152425, 0.2607938605082238, 0.22756843385165146],
        1.5449356798258904, 0.20111906561638104, 2.3148915057193826,
    ),
    "dynamic": (
        [-2.0, -1.0, 0.0, 1.0, 2.0],
        [0.009263295049543124, -0.16740285514015757, 1.0651939390411442, 1.9684568873051156,
         2.476219880566105],
        [0.36954135224318785, 0.2208688583830862, 0.19733139431180077, 0.20150314195202856,
         0.3333784189346594],
        1.8366235689707882, 0.20140499391673503, 2.9093197044818693,
    ),
}
PINNED_FIT["rc_reg"] = {
    "att": [0.08604646096415441, 1.0939809048982552, 2.2815169529083783, 3.337130964555483,
            -0.019581427929218187, -0.20408329804764713, 1.0291318208405822, 1.7456349654559304],
    "se": [0.40306198153320694, 0.4345735811046264, 0.4698309429983299, 0.5049496383361054,
           0.4227886566123603, 0.4526254114254789, 0.5398347478133462, 0.5684193252460898],
    "crit_val": 1.9599639845400538,
}
PINNED_FIT["rc_dr_clustered"] = {
    "att": [0.10720276282761979, 0.8697446037669888, 1.8901087840853357, 2.723580426872927,
            -0.03436026365430415, -0.1229966574768496, 1.107424553863316, 1.8905025050601112],
    "se": [0.17672860821255418, 0.0813883558486399, 0.15926869558285184, 0.13621946677859256,
           0.19972863028415647, 0.14891851198943915, 0.14727493085279414, 0.13468423534462942],
    "crit_val": 2.3441497197968517,
}
PINNED_FIT["rc_reference"] = {
    "att": [-0.23058354483430973, 0.6280854149440321, 1.653243567905928, 2.476219880566105,
            0.009263295049543124, -0.09714592820026038, 1.5512586178371328, 2.318974098477012],
    "se": [0.34055013823925506, 0.3635199987152425, 0.3614391017085053, 0.3333784189346594,
           0.36954135224318785, 0.2937613641487686, 0.29363478208412525, 0.33268737020463124],
    "crit_val": 2.7207863666773098,
}
# their pretrend_test()
PINNED_RC_PRETREND = {
    "rc_reg": {"W": 0.38484929971773046, "dof": 3, "pvalue": 0.9433541824053546},
    "rc_dr_clustered": {"W": 0.3959529099467257, "dof": 3, "pvalue": 0.9410772543355801},
    "rc_reference": {"W": 0.5674674174136203, "dof": 3, "pvalue": 0.9038378694294936},
}


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
    """``fits(parts)``: every fit of ``FITS``, made at ``parts`` shuffle
    partitions on first request."""
    pdf = make_panel_dgp(n_units=120, periods=(1, 2, 3, 4, 5), cohorts=(0, 3, 4), seed=11)
    pdf["cl"] = pdf["id"] % 12
    sdf = spark.createDataFrame(pdf)
    made: dict[int, dict] = {}

    def at(parts: int) -> dict:
        if parts not in made:
            made[parts] = {}
            with _partitions(spark, parts):
                for name, (kw, est_method, bstrap) in FITS.items():
                    est = ATTgt(sdf, "Y", "period", "id", "G", weights_name="wgt",
                                biters=199, seed=3, allow_unbalanced_panel=False, **kw)
                    est.fit(est_method, bstrap=bstrap, cband=bstrap)
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
@pytest.mark.parametrize("fit", list(PINNED))
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


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("fit", RC_FITS)
def test_rc_pretrend_matches_pinned_values(spark, fits, fit, parts):
    with _partitions(spark, parts):
        got = fits(parts)[fit].pretrend_test()
    want = PINNED_RC_PRETREND[fit]
    assert got["dof"] == want["dof"]
    np.testing.assert_allclose([got["W"], got["pvalue"]], [want["W"], want["pvalue"]], rtol=RTOL)
