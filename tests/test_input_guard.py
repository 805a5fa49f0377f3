"""Default-tier guard of the estimator's input checks: a panel that
repeats an (id, t) key is rejected with a named error, whatever
``allow_unbalanced_panel`` says, instead of being fitted with the
repeated-cross-section estimators."""

from __future__ import annotations

import pandas as pd
import pytest

from csdid_pyspark_spark.did import ATTgt
from csdid_pyspark_spark.did.preprocess import DidError


def _panel_with_duplicate() -> pd.DataFrame:
    rows = []
    for i in range(60):
        g = (0, 3, 4)[i % 3]
        for t in (1, 2, 3, 4):
            rows.append((i, t, float(g), 0.1 * i + 0.3 * t + (1.0 if 0 < g <= t else 0.0)))
    pdf = pd.DataFrame(rows, columns=["id", "period", "G", "Y"])
    return pd.concat([pdf, pdf[(pdf.id == 7) & (pdf.period == 3)]], ignore_index=True)


@pytest.mark.parametrize("allow_unbalanced_panel", [True, False])
def test_duplicate_panel_key_raises(spark, allow_unbalanced_panel):
    sdf = spark.createDataFrame(_panel_with_duplicate())
    with pytest.raises(DidError, match=r"repeats \(id, t\) = \(7, 3\.0\)"):
        ATTgt(sdf, "Y", "period", "id", "G", allow_unbalanced_panel=allow_unbalanced_panel)


def test_duplicate_key_is_a_row_of_repeated_cross_sections(spark):
    est = ATTgt(spark.createDataFrame(_panel_with_duplicate()), "Y", "period", "id", "G",
                panel=False)
    try:
        assert est.pdata.n == 241 and not est.pdata.panel
    finally:
        est.unpersist()
