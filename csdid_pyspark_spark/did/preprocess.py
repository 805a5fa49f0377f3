"""Panel preprocessing for the Callaway-Sant'Anna estimator.

Implements the semantics of the reference's ``_preprocess_did``
(reference ATTgt.py:57-230, SURVEY.md §3.E1) with the §2.8 defects
fixed by design: proper exceptions, real balanced-panel enforcement,
a repeated (id, t) key on panel data rejected (as R ``did`` does), and
deterministic row identity for repeated cross-sections.

Everything stays a lazy DataFrame; the only collected state is the
tiny period/cohort lists and scalar counts.
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from csdid_pyspark_spark.functions.formula import INTERCEPT, parse_formula


class DidError(ValueError):
    """Raised for invalid estimator inputs (the reference raises bare
    strings here — reference ATTgt.py:123,176,194 — which is itself a
    TypeError; see SURVEY.md §2.8.1)."""


# canonical internal column names
ID, T, Y, G, W, CL = "_id", "_t", "_y", "_g", "_w", "_cluster"


@dataclass
class PanelData:
    df: DataFrame  # canonical columns: _id,_t,_y,_g,_w,(x…),(_cluster)
    tlist: list[float]
    glist: list[float]
    n: int  # inference units: distinct ids (panel) / rows (RC)
    panel: bool  # True → panel estimators (unit=id); False → RC (unit=row)
    covariates: list[str]  # canonical covariate column names (_x0 = intercept)
    idname: str
    tname: str
    yname: str
    gname: str
    has_cluster: bool = False
    warnings_: list[str] = field(default_factory=list)


def preprocess_did(
    data: DataFrame,
    yname: str,
    tname: str,
    idname: str,
    gname: str,
    xfmla: str | None = None,
    panel: bool = True,
    allow_unbalanced_panel: bool = True,
    control_group: str = "nevertreated",
    anticipation: int = 0,
    weights_name: str | None = None,
    clustervars: str | list[str] | None = None,
    rows_hint: int | None = None,
) -> PanelData:
    if control_group not in ("nevertreated", "notyettreated"):
        raise DidError(f"control_group must be nevertreated|notyettreated, got {control_group!r}")
    warns: list[str] = []

    # --- cluster variables: the reference's intended ≤2-way semantics ------
    # (reference mboot.py:85-99): the unit id is always an implicit
    # cluster, so it is dropped from the list; at most ONE other
    # cluster variable is supported, and it must be time-invariant
    # within unit (checked below once the frame exists).
    cvars = [clustervars] if isinstance(clustervars, str) else list(clustervars or [])
    if idname in cvars:
        cvars.remove(idname)
    if len(cvars) > 1:
        raise DidError(
            "can't handle more than one cluster variable besides the unit id "
            "(reference mboot.py:93-94 intends ≤2-way with idname implicit)"
        )
    clustervar = cvars[0] if cvars else None
    if clustervar is not None and clustervar not in data.columns:
        raise DidError(f"cluster variable not in data: {clustervar!r}")

    # --- project to canonical columns (reference ATTgt.py:74-98) -----------
    user_covs = [c for c in parse_formula(xfmla) if c != INTERCEPT]
    missing = [c for c in [yname, tname, idname, gname, *user_covs] if c not in data.columns]
    if missing:
        raise DidError(f"columns not in data: {missing}")
    w_col = F.col(weights_name) if weights_name else F.lit(1.0)
    covs = [INTERCEPT] + user_covs
    xmap = {c: f"_x{i}" for i, c in enumerate(covs)}
    sel = [
        F.col(idname).alias(ID),
        F.col(tname).cast("double").alias(T),
        F.col(yname).cast("double").alias(Y),
        F.col(gname).cast("double").alias(G),
        w_col.cast("double").alias(W),
        F.lit(1.0).alias("_x0"),
        *[F.col(c).cast("double").alias(xmap[c]) for c in user_covs],
    ]
    if clustervar:
        sel.append(F.col(clustervar).alias(CL))
    # cache the projected base: preprocessing runs several independent
    # aggregation actions over it, and the caller's input may itself be
    # an expensive lineage (e.g. an aggregation over raw events). When
    # the caller knows the row count (rows_hint), the cache partition
    # count is decided up front — a tiny panel then isn't re-read as
    # dozens of near-empty partitions by every preprocessing and fit
    # pass, and NO extra pass is spent either way (cache.py).
    from csdid_pyspark_spark.cache import persist_rightsized

    df, _ = persist_rightsized(data.select(*sel), known_rows=rows_hint)

    if clustervar:
        # time-invariance within unit (reference mboot.py:96-99 intent;
        # its pandas-on-Spark check crashes — SURVEY.md §2.8.6). One
        # aggregation, only on the rarely-taken clustered path.
        varying = (
            df.groupBy(ID)
            .agg(F.countDistinct(CL).alias("ncl"))
            .filter(F.col("ncl") > 1)
            .limit(1)
            .count()
        )
        if varying:
            raise DidError(
                f"cluster variable {clustervar!r} varies over time within unit; "
                "clustering requires a time-invariant cluster assignment"
            )

    # null audit + period structure in ONE grouped action; cohort
    # structure in a second (null G is recoded, not dropped —
    # ref ATTgt.py:98-102, 111-118). NaN counts as missing too: pandas/
    # Arrow inputs encode missing floats as NaN, which Spark's na.drop
    # does NOT remove and which would silently poison cell means.
    required = [ID, T, Y, W, *[xmap[c] for c in user_covs]]
    nullable = F.lit(False)
    for c in required:
        cond = F.col(c).isNull()
        if c != ID:  # numeric (cast to double); ID keeps its input type
            cond = cond | F.isnan(F.col(c))
        nullable = nullable | cond
    df_dropped = df.filter(~nullable)
    # the period scan (with null audit), the cohort scan, and the
    # per-unit balance scan are independent — submit them as concurrent
    # Spark jobs. The balance scan is optimistic: it is only valid if no
    # period/cohort refilter fires below (the common case); otherwise it
    # is recomputed on the filtered frame.
    def _unit_stats(frame: DataFrame):
        per_unit = frame.groupBy(ID).agg(
            F.countDistinct(T).alias("np"), F.count(F.lit(1)).alias("cnt")
        )
        return per_unit, per_unit.agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum("cnt").alias("n_obs"),
            F.min("np").alias("min_np"),
            F.max("cnt").alias("max_cnt"),
            F.max(F.col("cnt") - F.col("np")).alias("max_dup"),
        ).first()

    # Spark job groups and tags are thread-local: carry this thread's
    # into the pool's threads
    carry = inheritable_thread_target(df.sparkSession)
    with ThreadPoolExecutor(2) as pool:
        # period AND cohort structure from one |T|x|G|-cell grouped scan
        # (both marginals derived driver-side — cells are tiny)
        fut_tg = pool.submit(carry(
            lambda: df.groupBy(T, G)
            .agg(F.count(F.lit(1)).alias("c"), F.sum(nullable.cast("long")).alias("nn"))
            .collect()
        ))
        fut_u = pool.submit(carry(_unit_stats), df_dropped)
        per_tg = fut_tg.result()
        unit_stats_opt = fut_u.result()
    df = df_dropped
    refiltered = False
    n_null = sum(r["nn"] or 0 for r in per_tg)
    if n_null:
        warns.append(f"dropped {n_null} rows with missing values")
    t_clean: dict = {}
    for r in per_tg:
        if r[T] is not None:
            t_clean[r[T]] = t_clean.get(r[T], 0) + r["c"] - (r["nn"] or 0)
    tlist = sorted(t for t, c in t_clean.items() if c > 0)
    if not tlist:
        raise DidError("no rows left after dropping missing values")
    max_t, min_t = tlist[-1], tlist[0]
    # units first treated after the sample end are effectively never
    # treated; null/NaN cohort likewise (ref ATTgt.py:111-118)
    df = df.withColumn(
        G,
        F.when(
            (F.col(G) > max_t) | F.col(G).isNull() | F.isnan(F.col(G)), 0.0
        ).otherwise(F.col(G)),
    )
    sizes: dict[float, int] = {}
    for r in per_tg:
        c = r["c"] - (r["nn"] or 0)  # cohort sizes count surviving rows only
        if c <= 0:
            continue
        gval = r[G]
        key = 0.0 if gval is None or (isinstance(gval, float) and gval != gval) or gval > max_t else gval
        sizes[key] = sizes.get(key, 0) + c

    glist = sorted(g for g in sizes if g > 0)
    has_never = sizes.get(0.0, 0) > 0
    if not has_never:
        if control_group == "nevertreated":
            raise DidError(
                "no never-treated units; use control_group='notyettreated'"
            )
        # drop periods from the last cohort's treatment on; that cohort
        # then acts as a not-yet-treated control (ref ATTgt.py:120-128)
        cutoff = max(glist) - anticipation
        df = df.filter(F.col(T) < cutoff)
        tlist = [t for t in tlist if t < cutoff]
        glist = [g for g in glist if g < cutoff]
        warns.append(f"no never-treated units: dropped periods >= {cutoff}")
        refiltered = True

    # drop units treated at/before the first usable period (no pre-period)
    first_usable = min_t + anticipation
    early = [g for g in glist if g <= first_usable]
    if early:
        n_drop = sum(sizes.get(g, 0) for g in early)
        warns.append(
            f"dropped {n_drop} rows from cohorts {early} treated at/before first period + anticipation"
        )
        df = df.filter(~F.col(G).isin(early))
        glist = [g for g in glist if g not in early]
        sizes = {g: c for g, c in sizes.items() if g not in early}
        refiltered = True
    if not glist:
        raise DidError("no valid treated cohorts remain")

    # --- panel / RC decision (ref ATTgt.py:158-188, fixed per §2.8.7) -------
    # per-unit period counts reduced to balance stats — reuse the
    # optimistic concurrent scan unless a refilter invalidated it
    is_panel = panel
    if refiltered:
        per_unit, stats = _unit_stats(df)
    else:
        per_unit, stats = unit_stats_opt
    n_units, n_obs = stats["n_units"], stats["n_obs"]
    if panel and stats["max_dup"]:
        # R did stops here too ("The value of idname must be the unique
        # (by tname)"); a fit would silently switch estimators
        dup = df.groupBy(ID, T).count().filter(F.col("count") > 1).first()
        raise DidError(
            f"panel data repeats (id, t) = ({dup[ID]!r}, {dup[T]!r}): {idname!r} must be "
            f"unique within each {tname!r}; pass panel=False for repeated cross sections"
        )
    if panel:
        balanced = (
            stats["min_np"] == len(tlist)
            and stats["max_cnt"] == len(tlist)
            and n_obs == n_units * len(tlist)
        )
        if not balanced:
            if allow_unbalanced_panel:
                is_panel = False
                warns.append("unbalanced panel: using repeated-cross-section estimators")
            else:
                # makeBalancedPanel: keep only fully observed units
                keep = per_unit.filter(
                    (F.col("np") == len(tlist)) & (F.col("cnt") == len(tlist))
                ).select(ID)
                df = df.join(F.broadcast(keep) if n_units < 1_000_000 else keep, ID, "left_semi")
                n_units = keep.count()
                n_obs = n_units * len(tlist)
                warns.append("dropped units not observed in all periods")

    n = n_units if is_panel else n_obs

    # --- small-group diagnostics (ref ATTgt.py:199-216) ---------------------
    tiny = [g for g, c in sizes.items() if g > 0 and c / len(tlist) < len(covs) + 5]
    if tiny:
        warns.append(f"small cohorts (may be unreliable): {sorted(tiny)}")

    for msg in warns:
        warnings.warn(msg, stacklevel=2)

    # the final frame is narrow transforms over the cached base — no
    # second materialization needed
    return PanelData(
        df=df,
        tlist=tlist,
        glist=glist,
        n=n,
        panel=is_panel,
        covariates=[xmap[c] for c in covs],
        idname=idname,
        tname=tname,
        yname=yname,
        gname=gname,
        has_cluster=bool(clustervar),
        warnings_=warns,
    )
