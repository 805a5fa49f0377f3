"""The benchmark's two workloads: seeded input generators, one job each,
and the output checks that decide whether a job failed.

Every generator is a pure function of ``(seed, size)``: it draws the input
with NumPy, writes it to parquet with pyarrow, and returns the planted
truth the check compares against. Jobs read the input back only through
``sources.tables.load_table``, so the program sees nothing but files.

Module attributes (``tables.load_table``, ``dedup.minhash_lsh_pairs``, ...)
are looked up at call time so that the traced run can wrap them.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per mode. "full" is sized for local[4] with every working set
# far inside the local executor's storage memory; "tiny" finishes in seconds
# and exists for the self-test.
SIZES = {
    "did_dr_boot": {"full": 2000, "tiny": 400},  # units
    "llm_dedup": {"full": 6000, "tiny": 400},  # documents
}

TAU = 0.5  # planted effect per period of exposure: ATT(g, t) = TAU * (t - g + 1)
Z_TOL = 5.0  # |estimate - truth| allowed, in standard errors (120 cells: p ~ 1e-4)
REPEAT_TOL = 1e-9  # relative agreement required between jobs of one run
Z975 = 1.959963984540054

COHORTS = (3, 4, 5, 6, 8, 10, 12, 14)  # 8 cohorts (+ never-treated = 0)
PERIODS = 16
BITERS = 999
BOOT_SEED = 20

LSH = {"n": 3, "num_hashes": 16, "bands": 4, "threshold": 0.5}
DOC_VOCAB = 5000
CLIQUE_SIZES = (1, 1, 2, 3, 4, 5)  # drawn uniformly per planted clique
DISTRACTOR_RATE = 1 / 3  # cliques that also get a below-threshold look-alike
RECALL_FLOOR = 0.9  # measured planted-pair recall is 0.98 at these lengths


@dataclass
class Generated:
    dims: dict  # recorded input dimensions
    truth: dict = field(default_factory=dict)  # what the check compares against


def _write(dir_: str, name: str, cols: dict) -> None:
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Staggered panels
# ---------------------------------------------------------------------------


def _panel(rng, n: int, cohorts, periods: int, covariates: bool) -> dict:
    """Balanced panel, units x periods. With ``covariates``, x1 and x2 shift
    cohort assignment and x1 also carries its own linear trend, so parallel
    trends hold only conditional on x: an estimator that ignores the
    covariates is biased, one that adjusts for them is not."""
    groups = np.array((0, *cohorts))
    fe = rng.uniform(-1.0, 1.0, n)
    if covariates:
        x1 = rng.uniform(-0.5, 0.5, n)
        x2 = rng.normal(0.0, 1.0, n)
        shift = np.floor(x1 * 6).astype(np.int64) + (x2 > 0)
        g = groups[(rng.integers(0, len(groups), n) + shift) % len(groups)]
    else:
        g = groups[rng.integers(0, len(groups), n)]
    t = np.arange(1, periods + 1)
    gg = np.repeat(g, periods)
    tt = np.tile(t, n)
    eff = np.where((gg > 0) & (tt >= gg), TAU * (tt - gg + 1), 0.0)
    y = np.repeat(fe, periods) + 0.1 * tt + eff + rng.uniform(-1.0, 1.0, n * periods)
    cols = {"id": np.repeat(np.arange(n, dtype=np.int64), periods), "t": tt.astype(np.int32),
            "g": gg.astype(np.int32)}
    if covariates:
        xx1, xx2 = np.repeat(x1, periods), np.repeat(x2, periods)
        y = y + 0.5 * xx1 + 0.3 * xx2 + 0.2 * xx1 * tt
        cols.update(x1=xx1, x2=xx2)
    cols["y"] = y
    return cols


def generate_did_dr_boot(seed: int, size: str, dir_: str) -> Generated:
    n = SIZES["did_dr_boot"][size]
    cols = _panel(np.random.default_rng(seed), n, COHORTS, PERIODS, covariates=True)
    _write(dir_, "panel", cols)
    dims = {"units": n, "periods": PERIODS, "rows": n * PERIODS, "cohorts": len(COHORTS),
            "cells": len(COHORTS) * (PERIODS - 1), "covariates": 2, "biters": BITERS}
    return Generated(dims)


def _truth(g, t):
    return np.where(t >= g, TAU * (t - g + 1), 0.0)


def _repeat_ok(a: np.ndarray, b: np.ndarray) -> bool:
    a, b = np.asarray(a, float), np.asarray(b, float)
    return a.shape == b.shape and bool(
        np.all(np.isclose(a, b, rtol=REPEAT_TOL, atol=REPEAT_TOL, equal_nan=True))
    )


def job_did_dr_boot(spark, input_dir: str) -> dict:
    from csdid_pyspark_spark.did import ATTgt
    from csdid_pyspark_spark.sources import tables

    df = tables.load_table(spark, input_dir, "panel")
    est = ATTgt(df, yname="y", tname="t", idname="id", gname="g",
                xfmla="y ~ x1 + x2", control_group="notyettreated",
                biters=BITERS, seed=BOOT_SEED)
    try:
        table = est.fit(est_method="dr", bstrap=True, cband=True)
        crit = est.fit_result.crit_val
        dyn = est.compute_aggte("dynamic", bstrap=False, cband=False)
        pre = est.pretrend_test()
    finally:
        est.unpersist()
        df.unpersist()
    return {"table": table, "crit_val": crit, "dynamic": dyn, "pretrend": pre}


def check_did_dr_boot(out: dict, gen: Generated, ref: dict | None, shift: float) -> list[str]:
    """Post cells within Z_TOL bootstrap standard errors of the planted
    effect, pre cells within Z_TOL of zero, the sup-t critical value at
    least the pointwise z, the analytic dynamic ATT(e) within Z_TOL of its
    truth, the pre-trend test not rejecting, and every number (the seeded
    bootstrap's too) equal to the run's first job. ``shift`` moves the
    planted truth (the self-test's corruption)."""
    errs = []
    tab = out["table"]
    if len(tab) != gen.dims["cells"]:
        errs.append(f"{len(tab)} cells, expected {gen.dims['cells']}")
    crit = out["crit_val"]
    if not crit >= Z975:
        errs.append(f"crit_val {crit} < z0.975")
    g, t = tab["g"].to_numpy(), tab["t"].to_numpy()
    att, se = tab["att"].to_numpy(), tab["se"].to_numpy()
    if not (np.all(np.isfinite(att)) and np.all(se > 0)):
        errs.append("non-finite ATT or bootstrap SE")
    z = np.abs(att - _truth(g, t) - shift) / se
    post = t >= g
    if np.nanmax(z[post]) > Z_TOL:
        errs.append(f"post-cell ATT off truth by {np.nanmax(z[post]):.1f} SE")
    if np.nanmax(z[~post]) > Z_TOL:
        errs.append(f"pre-cell ATT off zero by {np.nanmax(z[~post]):.1f} SE")
    dyn = out["dynamic"]
    e = np.asarray(dyn.egt)
    ze = np.abs(np.asarray(dyn.att_egt) - np.where(e >= 0, TAU * (e + 1), 0.0) - shift)
    ze = ze / np.asarray(dyn.se_egt)
    if not np.all(ze <= Z_TOL):
        errs.append(f"dynamic ATT(e) off truth by {np.nanmax(ze):.1f} SE")
    if not (math.isfinite(dyn.overall_att) and dyn.overall_se > 0):
        errs.append("dynamic: non-finite overall ATT or SE")
    p = out["pretrend"]["pvalue"]
    out["observed"] = {"max_z_post": float(np.nanmax(z[post])),
                       "max_z_pre": float(np.nanmax(z[~post])), "crit_val": crit,
                       "pretrend_p": p}
    if not (p > 1e-6):
        errs.append(f"pre-trend test rejects (p={p})")
    if ref is not None:
        if not (_repeat_ok(att, ref["table"]["att"]) and _repeat_ok(se, ref["table"]["se"])
                and _repeat_ok(crit, ref["crit_val"])):
            errs.append("ATT(g,t) table, bootstrap SEs or crit_val differ from the first job")
        r = ref["dynamic"]
        if not _repeat_ok([dyn.overall_att, dyn.overall_se, *dyn.att_egt, *dyn.se_egt],
                          [r.overall_att, r.overall_se, *r.att_egt, *r.se_egt]):
            errs.append("dynamic aggregation differs from the first job")
    return errs


# ---------------------------------------------------------------------------
# Near-duplicate corpus
# ---------------------------------------------------------------------------


def generate_llm_dedup(seed: int, size: str, dir_: str) -> Generated:
    """Documents in planted cliques: each clique shares one base token
    sequence of 40-99 tokens; every member but the first replaces one
    token with a token unique to it, so in-clique shingle Jaccard is at
    least 0.72, well above the threshold. A third of the cliques also get a
    distractor, the base with a block of 40% of its tokens redrawn: its
    Jaccard to the clique stays below 0.43, so it can become an LSH
    candidate but must never be verified. Unrelated documents share almost
    nothing."""
    rng = np.random.default_rng(seed)
    n = SIZES["llm_dedup"][size]
    vocab = np.array([f"w{i}" for i in range(DOC_VOCAB)], dtype=object)
    texts, clique, planted, cliques = [], [], 0, 0
    while len(texts) < n:
        k = min(int(rng.choice(CLIQUE_SIZES)), n - len(texts))
        base = vocab[rng.integers(0, DOC_VOCAB, int(rng.integers(40, 100)))]
        first = len(texts)
        for m in range(k):
            toks = base.copy()
            if m:
                toks[rng.integers(0, len(toks))] = f"mut{first + m}"
            texts.append(" ".join(toks))
            clique.append(first)
        planted += k * (k - 1) // 2
        cliques += 1
        if len(texts) < n and rng.random() < DISTRACTOR_RATE:
            toks = base.copy()
            w = math.ceil(0.4 * len(toks))
            at = int(rng.integers(0, len(toks) - w + 1))
            toks[at:at + w] = vocab[rng.integers(0, DOC_VOCAB, w)]
            clique.append(len(texts))  # a clique of its own
            texts.append(" ".join(toks))
            cliques += 1
    _write(dir_, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "source": np.array([f"src_{i}" for i in rng.integers(0, 10, n)], dtype=object),
        "text": np.array(texts, dtype=object),
    })
    dims = {"docs": n, "cliques": cliques, "planted_pairs": planted,
            "tokens": int(sum(len(s.split()) for s in texts)), **LSH}
    return Generated(dims, {"clique": np.array(clique, dtype=np.int64)})


def write_keep_list(docs, labels) -> None:
    """Keep-list anti-join: every document except the non-representative
    members of a component, written to the noop sink."""
    from pyspark.sql import functions as F

    dropped = labels.filter(F.col("node") != F.col("comp")).select(F.col("node").alias("doc_id"))
    docs.join(dropped, "doc_id", "left_anti").write.format("noop").mode("overwrite").save()


def job_llm_dedup(spark, input_dir: str) -> dict:
    """MinHash-LSH pairs -> connected components -> keep-list to the noop
    sink -> release the operators' caches."""
    from csdid_pyspark_spark.cache import release_cache
    from csdid_pyspark_spark.operators import dedup
    from csdid_pyspark_spark.sources import tables

    docs = tables.load_table(spark, input_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, **LSH)
    labels = dedup.components(pairs)
    write_keep_list(docs, labels)
    comp = labels.toPandas()
    release_cache(pairs)
    docs.unpersist()
    return {"labels": comp}


def check_llm_dedup(out: dict, gen: Generated, ref: dict | None, shift: float) -> list[str]:
    """Every component lies inside one planted clique, at least RECALL_FLOOR
    of the planted pairs have both ends in one component, and the
    components equal the run's first job's. Any verified pair across
    cliques (a distractor, or a pair under the threshold) would merge two
    cliques' components, so the first check also stands for the pair list.
    ``shift`` moves every document's planted clique label by that many
    documents (the self-test's corruption)."""
    errs = []
    clique = np.roll(gen.truth["clique"], int(shift))
    lab = out["labels"]
    node, comp = lab["node"].to_numpy(), lab["comp"].to_numpy()
    per_comp = {}
    for nd, c in zip(node, comp):
        per_comp.setdefault(c, set()).add(clique[nd])
    mixed = sum(1 for s in per_comp.values() if len(s) > 1)
    if mixed:
        errs.append(f"{mixed} components span more than one planted clique")
    comp_of = dict(zip(node.tolist(), comp.tolist()))
    found = planted = 0
    for members in np.split(np.arange(len(clique)), np.flatnonzero(np.diff(clique)) + 1):
        labels = [comp_of.get(m, -1 - m) for m in members.tolist()]
        k = len(labels)
        planted += k * (k - 1) // 2
        found += sum(labels[i] == labels[j] for i in range(k) for j in range(i + 1, k))
    recall = found / planted if planted else 1.0
    out["observed"] = {"planted_pair_recall": recall, "components": len(per_comp)}
    if recall < RECALL_FLOOR:
        errs.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
    if ref is not None:
        mine = sorted(zip(node.tolist(), comp.tolist()))
        if mine != sorted(zip(ref["labels"]["node"].tolist(), ref["labels"]["comp"].tolist())):
            errs.append("components differ from the first job")
    return errs


@dataclass(frozen=True)
class Workload:
    generate: object
    job: object
    check: object


WORKLOADS = {
    "did_dr_boot": Workload(generate_did_dr_boot, job_did_dr_boot, check_did_dr_boot),
    "llm_dedup": Workload(generate_llm_dedup, job_llm_dedup, check_llm_dedup),
}
