"""(g,t) cell planning and the one table a fit reads.

The reference runs a driver loop re-filtering and re-collecting the
full lineage once per (g,t) cell (~6 Spark actions × |G|·|T| cells —
reference ATTgt.py:287-331, the cause of its 2m51s baseline). We
instead declare the whole plan once.

Every number of a cell depends only on its inference units' own rows,
so a fit reads one persisted **unit table** holding one row per
inference unit: its cohort, weight, unit hash (and cluster), outcome
and covariates.

- Panel: the unit is the id. Its row holds the outcome and covariates
  over the period grid as arrays, built by a single ``groupBy(id)``
  shuffle (the reference's wide view, ``panel2cs2``).
- Repeated cross sections: the unit is the observation. Its row is the
  observation itself with its period's column in the grid; building it
  needs no shuffle.

``CellLayout`` holds the cell specs as dense arrays indexed by cell id,
and expands a batch of the table to the (unit, cell) rows of any set of
cells in NumPy: the treatment dummy and the control mask come from each
unit's cohort; a panel row takes y at t and at the base period and the
covariates at the base period, an RC observation enters the cells whose
t or base period is its own. No cell table exists; each pass expands
only the cells it reads.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from csdid_pyspark_spark.did.preprocess import CL, G, ID, T, W, Y, PanelData

# expanded (unit, cell) rows per NumPy block of a unit-table pass
_BLOCK_ROWS = 1 << 16


@dataclass
class CellSpec:
    cid: int
    g: float
    t: float
    pret: float | None  # None → no usable pre-period (cell is skipped)
    post: int
    zero: bool = False  # universal base period, t == pret → ATT := 0


def build_cell_specs(
    tlist: list[float],
    glist: list[float],
    base_period: str = "varying",
    anticipation: int = 0,
) -> list[CellSpec]:
    """Mirror of the reference's pret logic (ATTgt.py:294-307):

    varying:   pre-treatment cells compare consecutive periods
               (pret = previous period); post-treatment cells anchor at
               the last period strictly before g - anticipation.
    universal: every cell anchors at that same pre-treatment base; the
               cell with t == pret is emitted as an exact zero.
    """
    specs: list[CellSpec] = []
    cid = 0
    for g in glist:
        pre_periods = [t for t in tlist if t + anticipation < g]
        anchor = pre_periods[-1] if pre_periods else None
        ts = tlist if base_period == "universal" else tlist[1:]
        for t in ts:
            idx = tlist.index(t)
            post = int(g <= t)
            if base_period == "universal":
                pret = anchor
            elif g <= t:  # post-treatment (or same-period) cell
                pret = anchor
            else:  # pre-treatment cell: consecutive comparison
                pret = tlist[idx - 1]
            zero = base_period == "universal" and pret == t
            specs.append(CellSpec(cid, g, t, pret, post, zero))
            cid += 1
    return specs


def _estimable(specs: list[CellSpec]) -> list[CellSpec]:
    """The cells a fit estimates: a usable base period other than t."""
    return [s for s in specs if s.pret is not None and not s.zero and s.pret != s.t]


def control_pred(control_group: str, g, cg, lo):
    """Control set of a cell (reference ATTgt.py:309-325): never-treated
    units (g = 0) always qualify; not-yet-treated adds units of other
    cohorts starting after ``lo`` = max(t, pret) + anticipation."""
    never = g == 0.0
    if control_group == "nevertreated":
        return never
    return never | ((g > lo) & (g != cg))


# ---------------------------------------------------------------------------
# The unit table, and its cells expanded in NumPy
# ---------------------------------------------------------------------------


def build_unit_table(pdata: PanelData) -> DataFrame:
    """One row per inference unit: ``uid``, ``uh`` (the bootstrap's unit
    hash), cohort ``g``, weight ``w``, the outcome and the covariates. A
    clustered table adds ``cl`` (the cluster's hash) and ``cl_w``
    (1/units in the cluster), by one window shuffle over the clusters.

    A balanced panel's unit is the id: ``uh`` = xxhash64(id), g and w at
    the first period, and one array per outcome / covariate column over
    the sorted period grid, built by one ``groupBy(id)`` shuffle. A
    repeated cross section's unit is the observation: ``ut`` its period
    and ``t`` that period's column in the grid, ``uh`` = xxhash64(id,
    period), and scalar outcome and covariates."""
    xcols = pdata.covariates
    cluster = [
        F.xxhash64(CL).alias("cl"),
        (1.0 / F.count(F.lit(1)).over(Window.partitionBy(CL))).alias("cl_w"),
    ] if pdata.has_cluster else []
    if not pdata.panel:
        grid = F.array(*[F.lit(t) for t in pdata.tlist])
        return pdata.df.select(
            F.col(ID).alias("uid"), F.col(T).alias("ut"), F.xxhash64(ID, T).alias("uh"),
            F.col(G).alias("g"), F.col(W).alias("w"),
            (F.array_position(grid, F.col(T)) - 1).cast("int").alias("t"),
            Y, *xcols, *cluster,
        )
    obs = F.array_sort(F.collect_list(F.struct(T, G, W, Y, *xcols))).alias("obs")
    aggs = [obs, *([F.first(CL).alias(CL)] if pdata.has_cluster else [])]
    return pdata.df.groupBy(ID).agg(*aggs).select(
        F.col(ID).alias("uid"),
        F.xxhash64(ID).alias("uh"),
        F.col("obs")[0][G].alias("g"),
        F.col("obs")[0][W].alias("w"),
        *[F.col(f"obs.{c}").alias(c) for c in (Y, *xcols)],
        *cluster,
    )


@dataclass(frozen=True)
class CellLayout:
    """A fit's cells as dense arrays indexed by cell id, over a unit
    table whose grid has ``periods`` periods. ``rc``: the table's rows
    are observations (repeated cross sections); ``ref_slice`` then lets
    every observation of a cell's base period into the cell (the
    reference's row slice, ``rc_slice="reference"``)."""

    cells: np.ndarray  # ids of the estimable cells
    cg: np.ndarray  # cohort of each cell
    it: np.ndarray  # column of t in the period grid
    ip: np.ndarray  # column of the base period pret
    lo: np.ndarray  # not-yet-treated controls start after this cohort
    control_group: str
    periods: int
    rc: bool = False
    ref_slice: bool = False

    @classmethod
    def of(cls, specs: list[CellSpec], tlist: list[float], control_group: str,
           anticipation: int, rc: bool = False, ref_slice: bool = False) -> CellLayout:
        ncell = max((s.cid for s in specs), default=-1) + 1
        cg, lo = np.full(ncell, np.nan), np.full(ncell, np.inf)
        it, ip = np.zeros(ncell, np.intp), np.zeros(ncell, np.intp)
        cells = _estimable(specs)
        for s in cells:
            cg[s.cid], lo[s.cid] = s.g, max(s.t, s.pret) + anticipation
            it[s.cid], ip[s.cid] = tlist.index(s.t), tlist.index(s.pret)
        return cls(np.array([s.cid for s in cells], np.intp), cg, it, ip, lo,
                   control_group, len(tlist), rc, ref_slice)

    @property
    def names(self) -> list[str]:
        """The named columns of the expanded rows."""
        return ["d", "pst", "w", "y"] if self.rc else ["d", "w", "dy", "y1", "y0"]

    def columns(self, xcols: list[str]) -> list[str]:
        """The unit-table columns a pass over these cells reads."""
        return ["uh", "g", "w", *(["t"] if self.rc else []), Y, *xcols]

    def read(self, table: DataFrame, xcols: list[str], live: np.ndarray) -> DataFrame:
        """The columns of ``table`` a pass over the cells ``live`` reads.
        On repeated cross sections, rows of periods no live cell uses are
        dropped on the Spark side, before the Arrow conversion."""
        out = table.select(*self.columns(xcols))
        periods = np.union1d(self.it[live], self.ip[live])
        if self.rc and len(periods) < self.periods:
            out = out.filter(F.col("t").isin([int(k) for k in periods]))
        return out

    def blocks(
        self, rb: pa.RecordBatch, xcols: list[str], live: np.ndarray, max_units: int | None = None
    ) -> Iterator[tuple[dict, np.ndarray, np.ndarray, np.ndarray, dict]]:
        """Expand a batch of unit rows to the (unit, cell) rows of the
        cells ``live``, in blocks of at most ``_BLOCK_ROWS`` rows (and
        ``max_units`` units). Yields the block's per-unit arrays (``g``,
        ``w``, ``uh``, ``cl``/``cl_w`` when present, ``at``: row in
        ``rb``), then per row its unit (index into the block), cell id,
        covariates and the named columns (``names``): ``d``, ``w`` and,
        on a panel, ``dy``, ``y1`` (y at t) and ``y0`` (y at pret) with
        the covariates at pret; on repeated cross sections ``pst`` (the
        row is the cell's period t) and ``y``."""
        n, live = rb.num_rows, np.asarray(live, np.intp)
        if not n:
            return

        def col(c):
            return rb.column(c).to_numpy(zero_copy_only=False)

        def grid(c):
            return rb.column(c).flatten().to_numpy(zero_copy_only=False).reshape(n, self.periods)

        units = {c: col(c) for c in ("uh", "g", "w", "cl", "cl_w") if c in rb.schema.names}
        units["at"] = np.arange(n)
        if self.rc:
            y, x, period = col(Y), np.column_stack([col(c) for c in xcols]), col("t")
        else:
            y, x = grid(Y), np.stack([grid(c) for c in xcols], axis=2)
        cg, lo, it, ip = self.cg[live], self.lo[live], self.it[live], self.ip[live]
        step = max(1, min(_BLOCK_ROWS // max(1, len(live)), max_units or n))
        for a in range(0, n, step):
            b = slice(a, a + step)
            g = units["g"][b, None]
            treat = g == cg
            keep = treat | control_pred(self.control_group, g, cg, lo)
            if self.rc:
                post, base = period[b, None] == it, period[b, None] == ip
                keep = keep & (post | base) | (base & self.ref_slice)
                ui, ci = np.nonzero(keep)
                X = x[b][ui]
                named = {"d": treat[ui, ci].astype(float), "pst": post[ui, ci].astype(float),
                         "w": units["w"][b][ui], "y": y[b][ui]}
            else:
                ui, ci = np.nonzero(keep)
                X = x[b][ui, ip[ci]]
                y1, y0 = y[b][ui, it[ci]], y[b][ui, ip[ci]]
                named = {"d": treat[ui, ci].astype(float), "w": units["w"][b][ui],
                         "dy": y1 - y0, "y1": y1, "y0": y0}
            yield ({k: v[b] for k, v in units.items()}, ui, live[ci], X, named)

    def cell_rows(self, table: DataFrame, xcols: list[str]) -> DataFrame:
        """Every cell's expanded rows as (cid, uh, names…, x…), for
        kernels that need each cell's rows together."""
        names = self.names
        schema = StructType([StructField("cid", IntegerType()), StructField("uh", LongType()),
                             *[StructField(c, DoubleType()) for c in (*names, *xcols)]])

        def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                for u, ui, cid, X, named in self.blocks(rb, xcols, self.cells):
                    cols = [pa.array(cid.astype(np.int32)), pa.array(u["uh"][ui]),
                            *[pa.array(named[c]) for c in names], *[pa.array(v) for v in X.T]]
                    yield pa.RecordBatch.from_arrays(cols, names=["cid", "uh", *names, *xcols])

        return self.read(table, xcols, self.cells).mapInArrow(part, schema)
