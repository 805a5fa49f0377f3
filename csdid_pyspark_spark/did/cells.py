"""(g,t) cell planning, the panel unit table and the RC cell table.

The reference runs a driver loop re-filtering and re-collecting the
full lineage once per (g,t) cell (~6 Spark actions × |G|·|T| cells —
reference ATTgt.py:287-331, the cause of its 2m51s baseline). We
instead declare the whole plan once.

Panel: every number of a cell depends only on its units' own rows, so
the fit reads one persisted **unit table** — one row per unit holding
its cohort, weight, unit hash (and cluster) and its outcomes and
covariates over the period grid, built by a single ``groupBy(id)``
shuffle (the reference's wide view, ``panel2cs2``). ``PanelLayout``
holds the cell specs as dense arrays indexed by cell id, and expands a
batch of units to the (unit, cell) rows of any set of cells in NumPy:
y at t and at the base period, covariates at the base period, the
treatment dummy and the control mask from each unit's cohort. No cell
table exists; each pass expands only the cells it reads.

Repeated cross sections: a tiny cell-spec DataFrame is broadcast-joined
to the observations, producing ONE cell table that every kernel pass
aggregates by cell id (no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

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


def spec_df(spark, specs: list[CellSpec]) -> DataFrame:
    rows = [(s.cid, float(s.g), float(s.t), float(s.pret), s.post) for s in _estimable(specs)]
    return spark.createDataFrame(
        rows, "cid int, cg double, ct double, pret double, post int"
    )


def control_pred(control_group: str, g, cg, lo):
    """Control set of a cell (reference ATTgt.py:309-325), for Spark
    columns and NumPy arrays alike: never-treated units (g = 0) always
    qualify; not-yet-treated adds units of other cohorts starting after
    ``lo`` = max(t, pret) + anticipation."""
    never = g == 0.0
    if control_group == "nevertreated":
        return never
    return never | ((g > lo) & (g != cg))


# ---------------------------------------------------------------------------
# Panel: one row per unit, cells expanded in NumPy
# ---------------------------------------------------------------------------


def build_unit_table(pdata: PanelData) -> DataFrame:
    """One row per unit of a balanced panel: ``uid``, ``uh`` =
    xxhash64(id) (the bootstrap's unit hash), cohort ``g`` and weight
    ``w`` (at the first period), and one array per outcome / covariate
    column over the sorted period grid. A clustered panel adds ``cl``
    (the cluster's hash) and ``cl_w`` (1/units in the cluster). One
    ``groupBy(id)`` shuffle (a second, by cluster, when clustered)."""
    xcols = pdata.covariates
    obs = F.array_sort(F.collect_list(F.struct(T, G, W, Y, *xcols))).alias("obs")
    aggs = [obs, *([F.first(CL).alias(CL)] if pdata.has_cluster else [])]
    cluster = [
        F.xxhash64(CL).alias("cl"),
        (1.0 / F.count(F.lit(1)).over(Window.partitionBy(CL))).alias("cl_w"),
    ] if pdata.has_cluster else []
    return pdata.df.groupBy(ID).agg(*aggs).select(
        F.col(ID).alias("uid"),
        F.xxhash64(ID).alias("uh"),
        F.col("obs")[0][G].alias("g"),
        F.col("obs")[0][W].alias("w"),
        *[F.col(f"obs.{c}").alias(c) for c in (Y, *xcols)],
        *cluster,
    )


@dataclass(frozen=True)
class PanelLayout:
    """A fit's cells as dense arrays indexed by cell id, over a unit
    table with ``periods`` columns per array."""

    cells: np.ndarray  # ids of the estimable cells
    cg: np.ndarray  # cohort of each cell
    it: np.ndarray  # column of t in the period grid
    ip: np.ndarray  # column of the base period pret
    lo: np.ndarray  # not-yet-treated controls start after this cohort
    control_group: str
    periods: int

    @classmethod
    def of(cls, specs: list[CellSpec], tlist: list[float], control_group: str,
           anticipation: int) -> PanelLayout:
        ncell = max((s.cid for s in specs), default=-1) + 1
        cg, lo = np.full(ncell, np.nan), np.full(ncell, np.inf)
        it, ip = np.zeros(ncell, np.intp), np.zeros(ncell, np.intp)
        cells = _estimable(specs)
        for s in cells:
            cg[s.cid], lo[s.cid] = s.g, max(s.t, s.pret) + anticipation
            it[s.cid], ip[s.cid] = tlist.index(s.t), tlist.index(s.pret)
        return cls(np.array([s.cid for s in cells], np.intp), cg, it, ip, lo,
                   control_group, len(tlist))

    def columns(self, xcols: list[str]) -> list[str]:
        """The unit-table columns a pass over these cells reads."""
        return ["uh", "g", "w", Y, *xcols]

    def blocks(
        self, rb: pa.RecordBatch, xcols: list[str], live: np.ndarray, max_units: int | None = None
    ) -> Iterator[tuple[dict, np.ndarray, np.ndarray, np.ndarray, dict]]:
        """Expand a batch of unit rows to the (unit, cell) rows of the
        cells ``live``, in blocks of at most ``_BLOCK_ROWS`` rows (and
        ``max_units`` units). Yields the block's per-unit arrays (``g``,
        ``w``, ``uh``, ``cl``/``cl_w`` when present, ``at``: row in
        ``rb``), then per row its unit (index into the block), cell id,
        covariates at the base period and the named columns ``d``,
        ``w``, ``dy``, ``y1`` (y at t) and ``y0`` (y at pret)."""
        n, live = rb.num_rows, np.asarray(live, np.intp)
        if not n:
            return

        def col(c):
            return rb.column(c).to_numpy(zero_copy_only=False)

        def grid(c):
            return rb.column(c).flatten().to_numpy(zero_copy_only=False).reshape(n, self.periods)

        units = {c: col(c) for c in ("uh", "g", "w", "cl", "cl_w") if c in rb.schema.names}
        units["at"] = np.arange(n)
        y = grid(Y)
        x = np.stack([grid(c) for c in xcols], axis=2)
        cg, lo, it, ip = self.cg[live], self.lo[live], self.it[live], self.ip[live]
        step = max(1, min(_BLOCK_ROWS // max(1, len(live)), max_units or n))
        for a in range(0, n, step):
            b = slice(a, a + step)
            g = units["g"][b, None]
            treat = g == cg
            ui, ci = np.nonzero(treat | control_pred(self.control_group, g, cg, lo))
            y1, y0 = y[b][ui, it[ci]], y[b][ui, ip[ci]]
            named = {"d": treat[ui, ci].astype(float), "w": units["w"][b][ui],
                     "dy": y1 - y0, "y1": y1, "y0": y0}
            yield ({k: v[b] for k, v in units.items()}, ui, live[ci], x[b][ui, ip[ci]], named)

    def cell_rows(self, units: DataFrame, xcols: list[str]) -> DataFrame:
        """The cell table of these cells as rows (cid, uid, d, w, dy,
        y1, y0, x…), for kernels that need each cell's rows together."""
        names = ["d", "w", "dy", "y1", "y0"]
        schema = StructType([StructField("cid", IntegerType()), units.schema["uid"],
                             *[StructField(c, DoubleType()) for c in (*names, *xcols)]])

        def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                for u, ui, cid, X, named in self.blocks(rb, xcols, self.cells):
                    cols = [pa.array(cid.astype(np.int32)), rb.column("uid").take(u["at"][ui]),
                            *[pa.array(named[c]) for c in names], *[pa.array(v) for v in X.T]]
                    yield pa.RecordBatch.from_arrays(cols, names=["cid", "uid", *names, *xcols])

        return units.select("uid", *self.columns(xcols)).mapInArrow(part, schema)


# ---------------------------------------------------------------------------
# Repeated cross sections: the cell table
# ---------------------------------------------------------------------------


def build_cell_table_rc(
    pdata: PanelData,
    spec: DataFrame,
    control_group: str,
    anticipation: int,
    ref_preslice: bool = False,
) -> DataFrame:
    """Repeated-cross-section cell table: one row per (cell, observation)
    with that row's own post indicator. Broadcast join only — no shuffle.

    ``ref_preslice=True`` reproduces the reference's exact row slice
    (reference ATTgt.py:381-389: ``GmC & post | tPret`` — Python
    precedence makes this ``(GmC ∧ post) ∨ tPret``, so EVERY unit's
    pre-period row enters the cell, including other treated cohorts
    outside the control set). The default (False) keeps only treated ∪
    control rows in both periods — the R ``did`` semantics. The compat
    mode exists so golden-parity tests can reproduce the reference's
    published numbers bit-for-bit; analyses should use the default."""
    df = pdata.df
    xcols = pdata.covariates
    long = df.join(
        F.broadcast(spec), (F.col(T) == F.col("ct")) | (F.col(T) == F.col("pret"))
    )
    is_treat = F.col(G) == F.col("cg")
    lo = F.greatest(F.col("ct"), F.col("pret")) + F.lit(float(anticipation))
    keep = is_treat | control_pred(control_group, F.col(G), F.col("cg"), lo)
    if ref_preslice:
        keep = keep | (F.col(T) == F.col("pret"))
    return long.filter(keep).select(
        "cid",
        F.col(ID).alias("uid"),
        F.col(T).alias("ut"),
        is_treat.cast("double").alias("d"),
        (F.col(T) == F.col("ct")).cast("double").alias("pst"),
        F.col(W).alias("w"),
        F.col(Y).alias("y"),
        "post",
        *xcols,
    )
