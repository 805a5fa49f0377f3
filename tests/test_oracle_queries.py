"""Replicates the driver's correctness gate locally: every query in
``queries()`` runs on Spark and, when an oracle exists, against DuckDB
on the same parquet — row counts, column names, and values must match
(exact for non-floats; floats are pre-rounded inside the queries, so
they must match exactly too up to 1e-9 slack for reporting clarity).
"""

from __future__ import annotations

import math

import pytest

from csdid_pyspark_spark.queries import ALL_ORACLES as ORACLES
from csdid_pyspark_spark.queries import ALL_QUERIES as QUERIES


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return out


def _approx_equal(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va) and math.isnan(vb):
                    continue
                if abs(va - vb) > 1e-9:
                    return False
            elif va != vb:
                return False
    return True


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    from csdid_pyspark_spark.cache import release_cache

    release_cache(sdf)  # 200+ queries share one session: drop operator persists

    if name not in ORACLES:
        # rows-only check, mirroring the driver's weaker gate
        assert len(srows) >= 0
        return

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"{name}: column mismatch spark={scols} duck={dcols}"
    )
    assert len(srows) == len(drows), f"{name}: rowcount spark={len(srows)} duck={len(drows)}"

    ns = _normalize(srows, scols)
    nd = _normalize(drows, dcols)
    if not _approx_equal(ns, nd):
        diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diffs}")


def test_folded_names_map_to_registered_representatives():
    """Every FOLDED key is a withdrawn-but-still-implemented query
    (present in ALL_QUERIES, absent from the exported surface) and
    every representative named in its fold-map value is REGISTERED —
    so the folded logic always has a live externally-checked cover.
    A representative that is itself folded (or deleted) would silently
    orphan the folded query's external coverage."""
    from csdid_pyspark_spark import queries

    for folded, reps in queries.FOLDED.items():
        assert folded in queries.ALL_QUERIES, f"FOLDED key not implemented: {folded}"
        assert folded not in queries.QUERIES, f"FOLDED key still exported: {folded}"
        assert folded not in queries.ORACLES, f"FOLDED key still in ORACLES: {folded}"
        for rep in reps.split(" + "):
            assert rep in queries.QUERIES, (
                f"fold representative {rep!r} (covering {folded!r}) is not "
                "a registered query"
            )
