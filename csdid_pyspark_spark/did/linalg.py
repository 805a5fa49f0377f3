"""Per-cell passes over a fit's cached unit table (did/cells.py).

Every regression and logit the estimator needs is a p×p problem per
(g,t) cell with tiny p (intercept + covariates), so no design matrix is
ever materialized. Each pass is ONE ``mapInArrow`` job: the pass's
per-cell constants (coefficients, etas, means) travel in the closure as
dense NumPy arrays indexed by cell id; each Arrow batch of the unit
table is expanded by the fit's ``CellLayout`` to the (unit, cell) rows
of the live cells only (on repeated cross sections, rows of periods no
live cell uses are dropped on the Spark side first); their per-row
terms are NumPy summed per cell with ``bincount``, and each partition
yields one cells × terms blob that the driver adds up, then solves
every cell's p×p system at once. O(partitions · cells · p²) values
reach the driver, never O(units), and there is no shuffle and no
broadcast: kernel pass 1, every IRLS iteration and the final propensity
pass are the same primitive (``cell_sums``), on panels and repeated
cross sections alike. This replaces the reference's collect-to-NumPy
pattern (reference ATTgt.py:346-351, utils.py:20-34).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from csdid_pyspark_spark.did.cells import CellLayout


def consts_df(per_cell: dict[int, dict[str, float | np.ndarray]]) -> dict[str, np.ndarray]:
    """Pack one pass's per-cell constants into dense arrays indexed by
    cell id (zero rows for cells the pass skips), plus the ``live`` mask
    of the cells it reads. perfbench/tracing.py counts calls of this
    name inside ``irls_logit`` as IRLS iterations: one call per pass."""
    ncell = max(per_cell, default=-1) + 1
    out = {"live": np.zeros(ncell, bool)}
    for cid, named in per_cell.items():
        out["live"][cid] = True
        for name, v in named.items():
            v = np.asarray(v, float)
            out.setdefault(name, np.zeros((ncell, *v.shape)))[cid] = v
    return out


def _term_shapes(terms, p: int, names: list[str], consts: dict | None) -> list[tuple[str, tuple]]:
    """Names and per-row shapes of a pass's terms, from one call on zero rows."""
    k = {n: v[:0] for n, v in (consts or {}).items() if n != "live"}
    out = terms(np.zeros((0, p)), {c: np.zeros(0) for c in names}, k)
    return [(n, v.shape[1:]) for n, v in out.items()]


def cell_sums(
    table: DataFrame,
    layout: CellLayout,
    xcols: list[str],
    terms: Callable[[np.ndarray, dict, dict], dict],
    consts: dict[str, np.ndarray] | None = None,
) -> dict[str, np.ndarray]:
    """Σ over each cell's rows of every term of ``terms(X, named,
    consts)`` → {name: per-row array (rows, *shape)}, where X is the
    rows × p covariate matrix, named the layout's named columns and
    consts the pass's per-cell constants gathered to each row; with
    ``consts`` only live cells' rows count. ``table`` is a unit table
    expanded by ``layout``. One Spark job; returns name → (cells,
    *shape) array, row c holding cell c's sums (zeros where it has no
    rows), or {} without a job when no cell is live."""
    if consts is not None and not consts["live"].any():
        return {}
    live = layout.cells if consts is None else np.flatnonzero(consts["live"])
    shapes = _term_shapes(terms, len(xcols), layout.names, consts)
    width = sum(int(np.prod(shape)) for _, shape in shapes)

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = np.zeros((0, width))
        for rb in batches:
            for _, _, cid, X, named in layout.blocks(rb, xcols, live):
                if not len(cid):
                    continue
                per_row = {k: v[cid] for k, v in (consts or {}).items() if k != "live"}
                with np.errstate(over="ignore"):
                    out = terms(X, named, per_row)
                T = np.concatenate([v.reshape(len(cid), -1) for v in out.values()], axis=1)
                m = int(cid.max()) + 1
                if m > len(acc):
                    acc = np.vstack([acc, np.zeros((m - len(acc), width))])
                at = (cid[:, None] * width + np.arange(width)).ravel()
                acc[:m] += np.bincount(at, weights=T.ravel(), minlength=m * width).reshape(m, width)
        yield pa.RecordBatch.from_pydict({"sums": [acc.tobytes()]})

    blobs = layout.read(table, xcols, live).mapInArrow(part, "sums binary").toArrow()
    parts = [np.frombuffer(b, np.float64).reshape(-1, width) for b in blobs["sums"].to_pylist()]
    ncell = max([len(consts["live"]) if consts is not None else 0, *map(len, parts)])
    total = np.zeros((ncell, width))
    for s in parts:
        total[: len(s)] += s
    out, at = {}, 0
    for name, shape in shapes:
        size = int(np.prod(shape))
        out[name] = total[:, at : at + size].reshape(ncell, *shape)
        at += size
    return out


# -- per-row building blocks ---------------------------------------------------

def xdot(X: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise x·v for per-row coefficient vectors v (rows × p)."""
    return (X * v).sum(axis=1)


def sigmoid(eta: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-eta))


def gram(s: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Per-row s·x xᵀ (rows × p × p)."""
    return s[:, None, None] * X[:, :, None] * X[:, None, :]


def wx(s: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Per-row s·x (rows × p)."""
    return s[:, None] * X


def _finite_or_none(solver, *args) -> np.ndarray | None:
    try:
        out = solver(*args)
    except np.linalg.LinAlgError:
        return None
    return out if np.all(np.isfinite(out)) else None


def solve_safe(A: np.ndarray, b: np.ndarray) -> np.ndarray | None:
    return _finite_or_none(np.linalg.solve, A, b)


def inv_safe(A: np.ndarray) -> np.ndarray | None:
    return _finite_or_none(np.linalg.inv, A)


def _irls_terms(X, c, k):
    eta = xdot(X, k["gma"])
    mu = sigmoid(eta)
    s = c["w"] * mu * (1 - mu)
    z = eta + (c["d"] - mu) / np.maximum(mu * (1 - mu), 1e-12)
    return {"H": gram(s, X), "r": wx(s, X) * z[:, None]}


def irls_logit(
    table: DataFrame,
    layout: CellLayout,
    xcols: list[str],
    active_cids: list[int],
    max_iter: int = 25,
    tol: float = 1e-8,
    init: dict[int, np.ndarray] | None = None,
) -> dict[int, np.ndarray | None]:
    """Weighted logistic regression of d on X per cell, all cells
    simultaneously: each IRLS iteration is one ``cell_sums`` pass (one
    Spark job) over the cached unit table expanded by ``layout``, with
    the coefficients in the closure; the p×p solves happen on the
    driver. Converged cells leave the pass: late iterations do not
    expand their rows, and on repeated cross sections they do not
    convert rows of periods only converged cells use.

    ``init`` warm-starts the intercept (e.g. logit of the cell's
    treatment share) — the fixed point is unchanged, it just converges
    in fewer full-table passes. tol is a Newton STEP bound: quadratic
    convergence means a step below 1e-8 leaves the iterate within
    ~1e-15 of the fixed point, so kernel parity at 1e-8 is unaffected
    while typical cells need one fewer full-table pass than tol=1e-10.

    Returns per-cell gamma-hat; None where the fit failed/separated OR
    never met tol within max_iter (an unconverged iterate must not be
    silently used as if it were the MLE)."""
    p = len(xcols)
    beta: dict[int, np.ndarray | None] = {
        cid: (init[cid].copy() if init and cid in init else np.zeros(p))
        for cid in active_cids
    }
    active = set(active_cids)
    for _ in range(max_iter):
        if not active:
            break
        consts = consts_df({cid: {"gma": beta[cid]} for cid in active})
        sums = cell_sums(table, layout, xcols, _irls_terms, consts)
        next_active = set()
        for cid in active:
            new = solve_safe(sums["H"][cid], sums["r"][cid])
            if new is None:
                beta[cid] = None
                continue
            if np.max(np.abs(new - beta[cid])) > tol:
                next_active.add(cid)
            beta[cid] = new
        active = next_active
    for cid in active:  # still unconverged after max_iter
        beta[cid] = None
    return beta
