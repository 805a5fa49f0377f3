"""Default-tier guard for the aggregation layer (aggte).

On a tiny seeded weighted panel, fitted with the multiplier bootstrap
and a uniform band (plain and cluster-collapsed), every aggregation
type's per-egt ATT/SE, overall ATT/SE and sup-t critical value must
equal recorded values, at 1 and at 4 shuffle partitions. The slow-tier
suites check the same layer against independent NumPy compositions;
this guard keeps the bootstrap, cband and cluster paths of aggte inside
the default run."""

from __future__ import annotations

import numpy as np
import pytest

from csdid_pyspark_spark.did import ATTgt
from csdid_pyspark_spark.did.aggte_ops import compute_aggte
from tests.test_did_parity import make_panel_dgp

TYPES = ("simple", "group", "calendar", "dynamic")
RTOL = 1e-9

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


@pytest.fixture(scope="module")
def fits(spark):
    pdf = make_panel_dgp(n_units=120, periods=(1, 2, 3, 4, 5), cohorts=(0, 3, 4), seed=11)
    pdf["cl"] = pdf["id"] % 12
    sdf = spark.createDataFrame(pdf)
    out = {}
    for name, cl in (("plain", None), ("clustered", "cl")):
        est = ATTgt(sdf, "Y", "period", "id", "G", weights_name="wgt", clustervars=cl,
                    biters=199, seed=3, allow_unbalanced_panel=False)
        est.fit("reg", bstrap=True, cband=True)
        out[name] = est
    yield out
    for est in out.values():
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
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        got = _results(fits[fit])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for typec in TYPES:
        want = PINNED[fit][typec]
        egt, att, se, att_o, se_o, crit = got[typec]
        assert egt == want[0], typec
        np.testing.assert_allclose(att, want[1], rtol=RTOL, err_msg=typec)
        np.testing.assert_allclose(se, want[2], rtol=RTOL, err_msg=typec)
        np.testing.assert_allclose([att_o, se_o, crit], want[3:], rtol=RTOL, err_msg=typec)
