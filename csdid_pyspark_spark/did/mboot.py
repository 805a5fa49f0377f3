"""Per-unit moments of a fit's influence functions, and the seeded
multiplier bootstrap built on them.

Every SE, bootstrap draw and covariance computed after a fit is a
linear or quadratic form of the influence functions. Unit u contributes
a vector z_u over the fit's keys (its IF per cell, its weight under its
cohort's key, zero elsewhere), and one ``mapInArrow`` pass accumulates

    C    = Σ_u z_u z_uᵀ            (the Gram: every analytic SE)
    t    = Σ_u z_u                 (column totals)
    S[b] = Σ_u s_ub · a_u · z_u    (bootstrap draw sums, b < biters)

with units processed in blocks by dense GEMMs (``_Sums.add_block``), so
a task holds O(block·M + M² + biters·M) for M keys. The sign s_ub is a
seeded splitmix64 hash of (unit, draw), drawn once per unit, so results
are reproducible whatever the partitioning (the reference draws
unseeded Rademacher weights on the driver with joblib, reference
mboot.py:17-61; its own notebooks report different SEs per run,
SURVEY.md §4). A unit that carries its cluster — ``cl`` (cluster hash)
and ``cl_w`` (1/cluster size) — takes its cluster's sign with weight
a_u = 1/n_cl (a_u = 1 otherwise). Two passes share that block method:

- ``row_moments`` reads a table holding each unit in one row (a fit's
  unit table: a panel's units or a repeated cross section's
  observations): a caller-supplied function forms each batch's dense
  z_u blocks, so the built-in kernels' influence functions are never
  materialized, and no shuffle is needed. The driver adds one blob per
  task, at most 64 MiB of them (one blob at least) whatever the
  partition count: never O(n).
- ``unit_moments`` reads a (key, unit hash, value) table (a custom
  kernel's influence-function rows with the unit weights, or
  ``robust_cells``' per-unit rows), repartitioned and sorted by unit
  hash; the per-partition sums are added on one executor and a single
  (M² + M + biters·M)-value blob reaches the driver.

Quantile semantics match the reference exactly (inverted-CDF for both
the IQR-based sigma and the sup-t critical value, mboot.py:128-137).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.did.stats import norm_ppf

_BLOB = "keys binary, vals binary"
# doubles in one dense block of units × keys (or units × draws): 8 MiB
_BLOCK_VALUES = 1 << 20
# bytes of per-task sums one unit-table moment pass sends to the driver
_DRIVER_BYTES = 64 << 20


def _splitmix_sign(uh: np.ndarray, b, seed: int) -> np.ndarray:
    """Deterministic ±1 per (unit-hash, draw); broadcasts over arrays of
    both. uint64 wraparound is the point of the mixing arithmetic —
    suppress the overflow warning."""
    with np.errstate(over="ignore"):
        z = (uh.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15) * np.uint64(b + 1)
             + np.uint64(0xD1B54A32D192ED03) * np.uint64(seed + 1))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)


@dataclass
class Moments:
    keys: np.ndarray  # sorted int64 key of each column of z
    C: np.ndarray  # M × M
    total: np.ndarray  # M
    S: np.ndarray  # biters × M
    clusters: int | None  # sign groups Σ_u a_u of a clustered table, else None
    pos: dict[int, int] = field(init=False)

    def __post_init__(self):
        self.pos = {int(k): i for i, k in enumerate(self.keys)}


class _Sums:
    """Running C, t, S and Σ a_u over a key set that widens as keys
    appear."""

    def __init__(self, biters: int):
        self.keys = np.empty(0, np.int64)
        self.C = np.zeros((0, 0))
        self.total = np.zeros(0)
        self.S = np.zeros((biters, 0))
        self.groups = 0.0

    def cols(self, keys: np.ndarray) -> np.ndarray:
        """Column of each key, widening the sums to keys not seen yet."""
        new = np.union1d(self.keys, keys)
        if len(new) > len(self.keys):
            old = np.searchsorted(new, self.keys)
            C = np.zeros((len(new), len(new)))
            C[np.ix_(old, old)] = self.C
            total = np.zeros(len(new))
            total[old] = self.total
            S = np.zeros((self.S.shape[0], len(new)))
            S[:, old] = self.S
            self.keys, self.C, self.total, self.S = new, C, total, S
        return np.searchsorted(self.keys, keys)

    def add(self, keys, C, total, S, groups) -> None:
        at = self.cols(keys)
        self.C[np.ix_(at, at)] += C
        self.total[at] += total
        self.S[:, at] += S
        self.groups += groups

    def blob(self) -> pa.RecordBatch:
        vals = np.concatenate([self.C.ravel(), self.total, self.S.ravel(), [self.groups]])
        return pa.RecordBatch.from_pydict({"keys": [self.keys.tobytes()], "vals": [vals.tobytes()]})

    def add_blobs(self, blobs: pa.Table | pa.RecordBatch) -> _Sums:
        """Add every blob of ``blobs``, read in place from its Arrow
        buffers."""
        biters = self.S.shape[0]
        for keys, vals in zip(blobs.column("keys"), blobs.column("vals")):
            k = np.frombuffer(keys.as_buffer(), np.int64)
            v = np.frombuffer(vals.as_buffer(), np.float64)
            m = len(k)
            self.add(k, v[: m * m].reshape(m, m), v[m * m : m * m + m],
                     v[m * m + m : -1].reshape(biters, m), v[-1])
        return self

    def moments(self, clustered: bool) -> Moments:
        return Moments(self.keys, self.C, self.total, self.S,
                       round(self.groups) if clustered else None)

    def add_block(self, keys: np.ndarray, Z: np.ndarray, sh: np.ndarray, a: np.ndarray,
                  seed: int) -> None:
        """Fold a dense block of units into the sums: Z holds one row
        per unit over the sorted ``keys``, sh each unit's sign hash (its
        own, or its cluster's) and a its weight."""
        at = self.cols(keys)
        if len(at) < len(self.keys):
            full = np.zeros((len(Z), len(self.keys)))
            full[:, at] = Z
            Z = full
        self.C += Z.T @ Z
        self.total += Z.sum(axis=0)
        self.groups += a.sum()
        biters = self.S.shape[0]
        step = max(1, _BLOCK_VALUES // max(1, biters))
        draws = np.arange(biters)
        for u0 in range(0, len(Z) if biters else 0, step):
            signs = _splitmix_sign(sh[u0 : u0 + step, None], draws[None, :], seed)
            self.S += (signs * a[u0 : u0 + step, None]).T @ Z[u0 : u0 + step]

    def add_units(self, k, uh, v, cl, cl_ok, cl_w, seed: int) -> None:
        """Fold rows sorted by unit hash, holding every row of their
        units, into the sums, one block of units at a time."""
        if not len(uh):
            return
        col = self.cols(k)
        m = len(self.keys)
        first = np.flatnonzero(np.r_[True, uh[1:] != uh[:-1]])
        unit = np.cumsum(np.r_[False, uh[1:] != uh[:-1]])
        # per-unit sign hash and weight: the unit's own, or its cluster's
        sh, a = uh[first].copy(), np.ones(len(first))
        sh[unit[cl_ok]], a[unit[cl_ok]] = cl[cl_ok], cl_w[cl_ok]
        step = max(1, _BLOCK_VALUES // max(m, self.S.shape[0]))
        for u0 in range(0, len(first), step):
            u1 = min(u0 + step, len(first))
            r0, r1 = first[u0], first[u1] if u1 < len(first) else len(uh)
            Z = np.bincount((unit[r0:r1] - u0) * m + col[r0:r1], weights=v[r0:r1],
                            minlength=(u1 - u0) * m).reshape(u1 - u0, m)
            self.add_block(self.keys, Z, sh[u0:u1], a[u0:u1], seed)


def _columns(rb: pa.RecordBatch) -> list[np.ndarray]:
    cl = rb.column("cl")
    return [rb.column("k").to_numpy(), rb.column("uh").to_numpy(),
            rb.column("v").to_numpy(zero_copy_only=False),
            cl.fill_null(0).to_numpy(), cl.is_valid().to_numpy(zero_copy_only=False),
            rb.column("cl_w").fill_null(0.0).to_numpy()]


def unit_moments(
    if_df: DataFrame, key_col: str, unit_hash_col: str, inf_col: str, biters: int, seed: int
) -> Moments:
    """C, t and S (module docstring) of a (key, unit hash, value) table,
    in one pass."""
    clustered = "cl" in if_df.columns
    df = if_df.select(
        F.col(key_col).cast("long").alias("k"),
        F.col(unit_hash_col).cast("long").alias("uh"),
        F.col(inf_col).cast("double").alias("v"),
        (F.col("cl") if clustered else F.lit(None)).cast("long").alias("cl"),
        (F.col("cl_w") if clustered else F.lit(None)).cast("double").alias("cl_w"),
    ).repartition("uh").sortWithinPartitions("uh")

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sums, held = _Sums(biters), None
        for rb in batches:
            cols = _columns(rb)
            if held is not None:
                cols = [np.concatenate(p) for p in zip(held, cols)]
            if not len(cols[1]):
                continue
            # the last unit may continue in the next batch: hold it back
            cut = np.searchsorted(cols[1], cols[1][-1])
            sums.add_units(*[c[:cut] for c in cols], seed)
            held = [c[cut:] for c in cols]
        if held is not None:
            sums.add_units(*held, seed)
        yield sums.blob()

    def reduce(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sums = _Sums(biters)
        for rb in batches:
            sums.add_blobs(rb)
        yield sums.blob()

    out = df.mapInArrow(partial, _BLOB).repartition(1).mapInArrow(reduce, _BLOB).toArrow()
    return _Sums(biters).add_blobs(out).moments(clustered)


def row_moments(
    units: DataFrame,
    z_blocks: Callable[[pa.RecordBatch, int], Iterator[tuple]],
    width: int,
    biters: int,
    seed: int,
    clustered: bool,
) -> Moments:
    """C, t and S (module docstring) of a table holding each unit in one
    row, in one ``mapInArrow`` pass with no shuffle: ``z_blocks(batch,
    max_units)`` turns an Arrow batch into dense blocks (sorted keys, Z,
    sign hash, weight) of at most ``max_units`` units' z_u over at most
    ``width`` keys, and each task folds them through the same block
    method as ``unit_moments``. The table is read in at most as many
    tasks as keep the blobs reaching the driver under ``_DRIVER_BYTES``
    (one blob at least), whatever its partitioning."""
    blob = 8 * (width * width + width + biters * width + 1)
    tasks = max(1, _DRIVER_BYTES // blob)
    max_units = max(1, _BLOCK_VALUES // max(1, width))

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sums = _Sums(biters)
        for rb in batches:
            for keys, Z, sh, a in z_blocks(rb, max_units):
                sums.add_block(keys, Z, sh, a, seed)
        yield sums.blob()

    out = units.coalesce(tasks).mapInArrow(part, _BLOB).toArrow()
    return _Sums(biters).add_blobs(out).moments(clustered)


@dataclass
class MbootResult:
    se: dict[int, float]  # per key
    crit_val: float
    bres: np.ndarray  # biters × n_keys (sqrt(n)·mean of v·IF)
    keys: list[int]
    V: np.ndarray | None = None  # bootstrap covariance over non-degenerate keys
    # (reference mboot.py:125 — np.cov(bres); may be defective in degenerate cases)
    moments: Moments | None = None  # the pass the draws came from


def sigma_crit(bres: np.ndarray, alp: float) -> tuple[np.ndarray, np.ndarray, float]:
    """Bootstrap statistics of a (draws × columns) matrix: the mask of
    non-degenerate columns (reference mboot.py:118-121), their IQR-based
    sigma, and the sup-t critical value over those columns."""
    ndg = np.logical_and(
        ~np.isnan(bres.sum(axis=0)),
        (bres**2).sum(axis=0) > np.sqrt(np.finfo(float).eps) * 10,
    )
    b_use = bres[:, ndg]
    q75 = np.quantile(b_use, 0.75, axis=0, method="inverted_cdf")
    q25 = np.quantile(b_use, 0.25, axis=0, method="inverted_cdf")
    sig = (q75 - q25) / (norm_ppf(0.75) - norm_ppf(0.25))
    with np.errstate(divide="ignore", invalid="ignore"):
        bT = np.max(np.abs(b_use / sig), axis=1)
    bT = bT[np.isfinite(bT)]
    crit_val = float(np.quantile(bT, 1 - alp, method="inverted_cdf")) if len(bT) else float("nan")
    return ndg, sig, crit_val


def boot_result(S: np.ndarray, keys, n: int, alp: float) -> MbootResult:
    """Bootstrap SEs, sup-t critical value and covariance of draw sums
    S (biters × keys) over a universe of n units (or clusters):
    bres = sqrt(n) · S / n — reference mboot.py:103."""
    bres = S * (np.sqrt(n) / n)
    ndg, sig, crit_val = sigma_crit(bres, alp)
    b_use = bres[:, ndg]
    se_arr = np.full(len(keys), np.nan)
    se_arr[ndg] = sig / np.sqrt(n)
    V = np.cov(b_use, rowvar=False) if b_use.shape[1] else None
    return MbootResult(
        se={int(k): float(se_arr[i]) for i, k in enumerate(keys)},
        crit_val=crit_val,
        bres=bres,
        keys=[int(k) for k in keys],
        V=V,
    )


def mboot(
    if_df: DataFrame,
    key_col: str,
    unit_hash_col: str,
    inf_col: str,
    n: int,
    biters: int = 999,
    alp: float = 0.05,
    seed: int = 42,
) -> MbootResult:
    """Multiplier bootstrap over an IF table whose influence values are
    already scaled to the full unit universe of n units (zeros
    implicit); a clustered table's universe is its clusters, which the
    pass counts. The result carries the pass's moments."""
    mom = unit_moments(if_df, key_col, unit_hash_col, inf_col, biters, seed)
    out = boot_result(mom.S, mom.keys, mom.clusters or n, alp)
    out.moments = mom
    return out
