"""Physical-plan regression tests: the properties that make these
queries survive a 100× scale-up. If a refactor breaks predicate
pushdown, column pruning, broadcast joins, or heap-based top-k, these
fail before any benchmark notices."""

from __future__ import annotations

import re

import numpy as np
import pytest

from csdid_pyspark_spark.queries import ALL_QUERIES as QUERIES


def _plan(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 6 needed columns are read from a 16-column table
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_quantity" in rs and "l_returnflag" in rs


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_star_broadcast")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # filter pushed to orders scan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "global_topk")
    assert "TakeOrderedAndProject" in plan
    plan2 = _plan(spark, sf_dir, "sim_topk_bruteforce")
    assert "TakeOrderedAndProject" in plan2


def test_range_join_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_range_bands")
    assert "BroadcastNestedLoopJoin" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # map-side partial aggregation: HashAggregate appears both before
    # and after the exchange
    plan = _plan(spark, sf_dir, "groupby_mean")
    ex = plan.find("Exchange")
    assert ex > 0
    assert "HashAggregate" in plan[:ex] and "HashAggregate" in plan[ex:]


def test_semi_anti_join_plans(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi")
    assert "LeftSemi" in plan
    plan = _plan(spark, sf_dir, "join_anti")
    assert "LeftAnti" in plan


def test_q3_pushdown_and_join_strategy(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    # all three table filters reach their scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    # top-10 via heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q6_is_pure_scan_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    # the plan string elides long filter lists; match the stable prefix
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "Join" not in plan
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_returnflag" not in rs  # pruned to the 4 predicate/agg columns


def test_asof_join_single_window_shuffle(spark, sf_dir):
    """As-of join must not expand into a range join: exactly one
    Exchange for the window (plus one for the right-side pre-agg),
    and no nested-loop join anywhere."""
    plan = _plan(spark, sf_dir, "events_asof_join")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs started by one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _did_fit(spark, bstrap):
    from csdid_pyspark_spark.did import ATTgt
    from tests.test_did_parity import make_panel_dgp

    pdf = make_panel_dgp(n_units=120, periods=(1, 2, 3, 4, 5), cohorts=(0, 3, 4), seed=5)
    est = ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G", biters=99, seed=2,
                allow_unbalanced_panel=False)
    est.fit("reg", bstrap=bstrap, cband=bstrap)
    return est


def test_aggte_and_pretrend_run_no_spark_job_after_bootstrapped_fit(spark):
    """Every aggregation type, bootstrapped with the fit's draws, and the
    pre-test are NumPy over the fit's per-unit moments: zero Spark jobs."""
    est = _did_fit(spark, bstrap=True)
    try:
        def post_fit():
            for typec in ("simple", "group", "calendar", "dynamic"):
                est.compute_aggte(typec, bstrap=True, cband=True)
            est.pretrend_test()

        assert _jobs_started(spark, post_fit) == 0
    finally:
        est.unpersist()


def test_uncovered_aggte_bootstrap_runs_one_moment_pass(spark):
    """After a fit without bootstrap, a bootstrapped aggregation re-runs
    the moment pass exactly once (one Spark job over the still-cached
    unit table), keeps its draws for the next request, and equals the
    bootstrapped fit's aggregation."""
    boot, plain = _did_fit(spark, bstrap=True), _did_fit(spark, bstrap=False)
    try:
        out = {}
        assert _jobs_started(spark, lambda: out.update(
            got=plain.compute_aggte("dynamic", bstrap=True, cband=True))) == 1
        assert _jobs_started(spark, lambda: plain.compute_aggte("group", bstrap=True, cband=True)) == 0
        got, want = out["got"], boot.compute_aggte("dynamic")
        np.testing.assert_allclose(
            [got.overall_att, got.overall_se, got.crit_val_egt, *got.att_egt, *got.se_egt],
            [want.overall_att, want.overall_se, want.crit_val_egt, *want.att_egt, *want.se_egt],
            rtol=1e-9,
        )
    finally:
        boot.unpersist()
        plain.unpersist()


def test_irls_runs_one_spark_job_per_iteration(spark, monkeypatch):
    """Each IRLS iteration is one pass over the unit table: the
    coefficients travel with the task, so no constants table, broadcast
    or shuffle adds jobs. Iterations are counted as calls of the helper
    that packs a pass's per-cell constants."""
    import pandas as pd

    from csdid_pyspark_spark.did import linalg
    from tests.test_kernel_guard import _layout, _logit_rows, _partitions

    obs = _partitions(spark, pd.concat([_logit_rows(0, 300, 0.8, 3), _logit_rows(1, 300, 0.8, 4)]))
    iters = []
    real = linalg.consts_df
    monkeypatch.setattr(linalg, "consts_df", lambda *a, **k: iters.append(1) or real(*a, **k))
    try:
        out = {}
        jobs = _jobs_started(
            spark, lambda: out.update(linalg.irls_logit(obs, _layout(), ["_x0", "_x1"], [0, 1]))
        )
    finally:
        obs.unpersist()
    assert all(out[c] is not None for c in (0, 1))
    assert len(iters) >= 3
    assert jobs == len(iters)


def _dr_est(spark, design="panel"):
    """A DR estimator over a seeded 120-unit panel, or over the same rows
    as repeated cross sections (``design="rc"``). There, x1 in periods 1
    and 2 is symmetric within each cohort, so the propensity logits of
    the cells that read only those periods start at their MLE and leave
    IRLS after one iteration."""
    from csdid_pyspark_spark.did import ATTgt
    from tests.test_did_parity import make_panel_dgp

    pdf = make_panel_dgp(n_units=120, seed=5)
    if design == "rc":
        early = pdf.period <= 2
        pdf.loc[early, "x1"] = pdf[early].groupby(["G", "period"])["x1"].transform(
            lambda x: np.linspace(-1.0, 1.0, len(x)))
    return ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G", xfmla="Y ~ x1",
                 allow_unbalanced_panel=False, biters=99, panel=design == "panel")


@pytest.mark.parametrize("design", ["panel", "rc"])
def test_dr_passes_read_the_cached_table_without_exchange(spark, monkeypatch, design):
    """Every pass of a bootstrapped DR fit (pass 1, each IRLS iteration,
    the propensity pass and the moment pass) maps over the cached unit
    table directly, a panel's units or a repeated cross section's
    observations: no shuffle, no broadcast and no single-partition
    reduce between the cache and the pass. On repeated cross sections
    the late IRLS iterations, which read only some cells, drop the rows
    of other periods on the Spark side."""
    df_cls = type(spark.range(1))
    plans = []
    orig = df_cls.toArrow

    def recorded(self, *a, **k):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *a, **k)
    monkeypatch.setattr(df_cls, "toArrow", recorded)

    est = _dr_est(spark, design)
    try:
        plans.clear()
        est.fit("dr", bstrap=True)
    finally:
        est.unpersist()
    assert len(plans) >= 4, plans
    # the text after the first InMemoryRelation replays the cached
    # table's own lineage; the live pass is the segment before it
    heads = [plan.split("InMemoryRelation", 1)[0] for plan in plans]
    for head in heads:
        assert "InMemoryTableScan" in head, head
        assert "Exchange" not in head, head
        assert "PythonMapInArrow" in head or "MapInArrow" in head, head
    filtered = [" IN (" in head for head in heads]
    if design == "rc":
        assert not filtered[0] and any(filtered), heads
    else:
        assert not any(filtered), heads


@pytest.mark.parametrize("design", ["panel", "rc"])
def test_bootstrapped_dr_fit_job_count(spark, monkeypatch, design):
    """A bootstrapped DR fit starts at most 5 Spark jobs besides its
    IRLS iterations: the unit table's build, pass 1, the propensity pass
    and the fused IF + moment pass. A bootstrap the fit did not draw
    re-runs only the moment pass: one job."""
    from csdid_pyspark_spark.did import kernels, linalg

    inside, iters = [], []
    real_irls, real_consts = kernels.irls_logit, linalg.consts_df

    def irls(*a, **k):
        inside.append(1)
        try:
            return real_irls(*a, **k)
        finally:
            inside.clear()

    def consts(*a, **k):
        if inside:
            iters.append(1)
        return real_consts(*a, **k)
    monkeypatch.setattr(kernels, "irls_logit", irls)
    monkeypatch.setattr(linalg, "consts_df", consts)
    est = _dr_est(spark, design)
    try:
        jobs = _jobs_started(spark, lambda: est.fit("dr", bstrap=True))
        reboot = _jobs_started(spark, lambda: est.compute_aggte("dynamic", bstrap=True, biters=49))
    finally:
        est.unpersist()
    assert iters, "the DR fit runs its propensity logit"
    assert jobs <= 5 + len(iters), (jobs, len(iters))
    assert reboot == 1


@pytest.mark.parametrize("design", ["panel", "rc"])
def test_unpersist_releases_every_cache_of_a_fit(spark, design):
    """Construction, a bootstrapped fit, a re-bootstrapped aggregation
    and ``unpersist()`` leave the persisted RDDs as they were before
    construction."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    est = _dr_est(spark, design)
    est.fit("dr", bstrap=True)
    est.compute_aggte("dynamic", bstrap=True, biters=49)
    est.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_preprocess_jobs_carry_the_callers_job_group(spark):
    """The concurrent preprocessing scans run in worker threads, yet
    their Spark jobs belong to the job group of the thread that
    constructs the estimator."""
    sc = spark.sparkContext
    sc.setJobGroup("g", "estimator construction")
    try:
        est = _dr_est(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    est.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup("g")) >= 2


def test_q4_semi_join_with_nonequi_condition(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_late_shipping")
    assert "LeftSemi" in plan
    # date-range filter pushed into the orders scan, not evaluated post-join
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q10_topk_and_broadcast_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # returnflag filter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q14_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q13_outer_join_preserved(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q13_order_count_distribution")
    assert "LeftOuter" in plan
    # the priority filter is part of the join condition, NOT a post-join
    # filter (which would wrongly drop zero-order customers)
    assert "Filter isnotnull(o_custkey" not in plan


def test_q19_pushes_conjunct_bounds_to_scans(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    # the disjunction's shared l_quantity/p_size bounds reach the scans
    # as Or-ed pushed filters rather than being evaluated only post-join
    assert "PushedFilters: [" in plan and "Or(" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_dormant_customers")
    assert "LeftAnti" in plan


def test_pack_offsets_no_extra_shuffle(spark, sf_dir):
    """The two-phase scan's output plan must move data only through the
    (persisted) range partitioning plus a broadcast of the tiny
    per-partition base offsets — no hash shuffle, no single-partition
    funnel, no row-at-a-time Python."""
    plan = _plan(spark, sf_dir, "pack_offsets")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_q7_q8_q9_dim_broadcasts_no_cartesian(spark, sf_dir):
    """The wide TPC-H join trees must broadcast their dimension sides
    (incl. both nation role-aliases in Q7) and never degrade to a
    nested-loop/cartesian plan."""
    for q in ("q7_nation_volume", "q8_market_share", "q9_product_profit"):
        plan = _plan(spark, sf_dir, q)
        assert plan.count("BroadcastHashJoin") >= 2, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_global_row_number_no_single_partition_exchange(spark, sf_dir):
    """ROW_NUMBER-over-everything semantics must NOT funnel the table
    through one reducer: no SinglePartition exchange anywhere."""
    plan = _plan(spark, sf_dir, "global_row_number")
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_global_rank_cumsum_no_single_partition_exchange(spark, sf_dir):
    """The Pareto running total (suppliers_pareto's core) must come
    from the two-phase scan, not a SUM() OVER (ORDER BY) that funnels
    every supplier through one reducer. Asserted on the operator's
    lazy plan (the query itself localCheckpoints its 1-row result)."""
    from pyspark.sql import functions as F

    from csdid_pyspark_spark.operators import packing
    from csdid_pyspark_spark.sources.tables import load_table

    srev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("rev"))
        .withColumn("rev_neg", -F.col("rev"))
    )
    with packing.cache_scope(
        packing.global_rank_cumsum(srev, ["rev_neg", "l_suppkey"], "rev").df
    ) as ranked:
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        assert "BroadcastHashJoin" in plan  # per-partition bases join


def test_poisson_bootstrap_broadcasts_dim_no_rep_shuffle(spark, sf_dir):
    """The bootstrap must be one pass over n·reps rows: the customer
    dim joins broadcast, and no shuffle keys on the rep column (a
    per-rep repartition would re-shuffle the exploded table reps
    times at scale)."""
    plan = _plan(spark, sf_dir, "sample_poisson_bootstrap")
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    # the only hash exchanges are the custkey pre-agg and the
    # (segment, rep) / segment aggregates — never a join keyed on rep
    assert "SortMergeJoin" not in plan


def test_pipeline_neardup_pairs_cap_hot_shingles(spark, sf_dir):
    """The dedup-pipeline pair graph (dedup_components / dedup_keep_list)
    must candidate-generate from df-capped postings: the hot-shingle
    anti-join has to appear in the plan, or one boilerplate phrase in
    1M docs turns the postings self-join quadratic at corpus scale."""
    from csdid_pyspark_spark.queries.llm_ops import _neardup_pairs
    from csdid_pyspark_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = _neardup_pairs(d)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # df>max_df shingles removed before the self-join


def test_vocab_coverage_topk_and_broadcast(spark, sf_dir):
    """The top-K vocabulary must come from a heap (TakeOrdered), never a
    global sort, and join back broadcast — the only shuffles are the
    token count and the per-doc reduction."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_only_queries_have_no_shuffle(spark, sf_dir):
    """Per-row vector/text transforms must stay shuffle-free: one scan,
    whole-stage codegen, nothing exchanged."""
    for q in ("embedding_l2_normalize", "embedding_quantize"):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange" not in plan, q


def test_q15_q2_q16_shapes(spark, sf_dir):
    """Q15: the global max collapses the aggregated supplier table and
    lands as a broadcast single-row join — never a sort or single
    reducer over base rows. Q2: the correlated min decorrelates into
    equality joins (no nested-loop). Q16: the exclusion list anti-joins
    broadcast BEFORE the distinct aggregation."""
    plan = _plan(spark, sf_dir, "q15_top_supplier")
    # the scalar-max equality pushes INTO the broadcast join (hash, not
    # nested-loop); the only single-partition exchange is the global max
    # over the already-aggregated |suppliers|-row table, never base rows
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    plan = _plan(spark, sf_dir, "q2_min_price_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(spark, sf_dir, "q16_supplier_variety")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def _synth_panel(spark, n_units=150, periods=(1, 2, 3, 4)):
    import pandas as pd

    rows = []
    for i in range(n_units):
        g = float([0, 3, 4][i % 3])
        for t in periods:
            tau = 1.0 if 0 < g <= t else 0.0
            rows.append((i, t, g, 0.1 * t + tau + (i % 7) * 0.01))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["id", "t", "g", "y"]))


def test_attgt_unit_table_one_shuffle_no_join(spark):
    """The unit table is the panel estimator's backbone: one row per
    unit from exactly one (id) reduction of the panel, with no join
    (cells are expanded in NumPy, not joined) and no single-partition
    exchange."""
    from csdid_pyspark_spark.did import ATTgt

    est = ATTgt(_synth_panel(spark), "y", "t", "id", "g", allow_unbalanced_panel=False)
    try:
        units = est._unit_table()
        plan = units._jdf.queryExecution().executedPlan().toString()
        assert units.count() == 150
    finally:
        est.unpersist()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_dedup_shingles_built_once_above_widening_exchange(spark):
    """The postings (jaccard_pairs) and the shingle arrays
    (minhash_lsh_pairs) must each build the shingle expression once,
    after the widen_fanout round-robin exchange. Exploding a shared
    shingle-array frame instead lets Spark infer a size(...) > 0 filter
    from the explode and push it below that exchange, so every array is
    computed twice, once on the un-widened input."""
    from csdid_pyspark_spark.cache import release_cache
    from csdid_pyspark_spark.operators import dedup
    from csdid_pyspark_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    for out in (dedup.jaccard_pairs(docs), dedup.minhash_lsh_pairs(docs)):
        cached = list(out._two_phase_cache)
        assert len(cached) == 1
        # the optimized plan of the persisted frame: InMemoryRelation
        # over the physical plan that computes the shingles (once that
        # cache is materialized, AQE prints it as a final plan followed
        # by the initial one; read only the first)
        plan = cached[0]._jdf.queryExecution().optimizedPlan().toString()
        plan = plan.split("== Initial Plan ==", 1)[0]
        release_cache(out)
        assert plan.count("array_distinct(transform(sequence") == 1, plan
        below = plan.split("RoundRobinPartitioning", 1)[1]
        assert not re.search(r"- (\*\(\d+\) )?Filter ", below), plan


def test_components_solves_a_small_pair_list_in_its_local_pass(spark, monkeypatch):
    """Over an already materialised pair list of at most 65,536 edges,
    components runs no global round: its one checkpoint is the labels,
    mapped straight from the edge cache (no exchange between the
    InMemoryTableScan and the mapInArrow), and the whole call starts at
    most 6 Spark jobs: the edge cache's count and its compaction's
    (2–3 jobs each under AQE) and the labels' checkpoint."""
    from csdid_pyspark_spark.operators import dedup

    chain = [(i, i + 1) for i in range(100, 110)]
    clique = [(a, b) for a in range(200, 204) for b in range(a + 1, 204)]
    pairs = spark.createDataFrame(chain + clique, "id_a long, id_b long").cache()
    pairs.count()
    df_cls = type(pairs)
    real, plans = df_cls.localCheckpoint, []

    def checkpoint(self, *a, **k):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *a, **k)
    monkeypatch.setattr(df_cls, "localCheckpoint", checkpoint)
    out = {}
    try:
        jobs = _jobs_started(spark, lambda: out.update(labels=dedup.components(pairs)))
    finally:
        pairs.unpersist()
    assert jobs <= 6, jobs
    assert len(plans) == 1, plans
    head = plans[0].split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in head, head
    assert "MapInArrow" in head, head
    assert "Exchange" not in head, head
    assert out["labels"].count() == 15


def test_incremental_dedup_caps_and_prunes_corpus_side(spark, sf_dir):
    """Incremental dedup's physical plan must show (a) the broadcast
    hot-shingle anti-join (corpus-side df cap) and (b) the semi-join
    prune of corpus postings down to delta shingles — the two pieces
    that keep a re-ingest linear in the corpus at 100 TB."""
    plan = _plan(spark, sf_dir, "dedup_incremental")
    assert "LeftAnti" in plan           # df cap applied before the wide join
    assert "LeftSemi" in plan           # corpus postings pruned to delta shingles
    assert "BroadcastHashJoin" in plan  # the cap's hot list rides broadcast


def test_q20_broadcast_prune_and_single_agg_shuffle(spark, sf_dir):
    """Q20: the LIKE-filtered part dim must broadcast into the fact
    scan (pruning lineitem before its only shuffle) and both correlated
    scalars must come from ONE aggregation — a second scan of lineitem
    would double the fact cost at 100 TB."""
    plan = _plan(spark, sf_dir, "q20_potential_promotion")
    assert "BroadcastHashJoin" in plan
    assert "StartsWith(p_name, small)" in plan or "PushedFilters: [IsNotNull(p_name), StringStartsWith(p_name,small)" in plan
    # exactly one scan of lineitem feeds the plan (the layout cache may
    # serve it from the compacted copy, whose location is a directory
    # named .../lineitem rather than lineitem.parquet — count FileScan
    # nodes, not path literals)
    import re

    assert len(re.findall(r"FileScan parquet.*lineitem", plan)) == 1, plan
    assert "LeftSemi" in plan


def test_scd2_single_sort_shared_by_both_windows(spark, sf_dir):
    """Both window passes (change detection, effective ranges) use the
    same (customer, time) ordering: the plan must shuffle+sort orders
    ONCE and reuse that ordering for the second Window — a second
    exchange would double the cost of every SCD2 batch."""
    plan = _plan(spark, sf_dir, "scd2_status_ranges")
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1, plan
    assert plan.count("Sort [o_custkey") <= 2  # second sort may elide; never re-exchanges


def test_prefilter_bloom_prunes_before_shuffle_join(spark, sf_dir):
    """The bucket pre-filter must reach lineitem as a BROADCAST semi
    join BEFORE the orders join; the exact join may then broadcast or
    shuffle as sizes dictate, but the semi reduction must not itself
    shuffle the fact."""
    plan = _plan(spark, sf_dir, "join_prefilter_bloom")
    i_semi = plan.find("LeftSemi")
    assert i_semi > 0
    # the semi join is a broadcast, not a shuffled join
    seg = plan[max(0, i_semi - 200):i_semi + 50]
    assert "BroadcastHashJoin" in seg, seg
    assert "SortMergeJoin" not in plan


def test_attribution_single_window_pass(spark, sf_dir):
    """Last-touch attribution must be ONE window pass over the event
    stream (single user-keyed exchange), not a purchases-to-touches
    self-join."""
    plan = _plan(spark, sf_dir, "events_attribution_last_touch")
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan


def test_trailing_range_window_no_self_join(spark, sf_dir):
    """The trailing-hour aggregate must be a RANGE window frame, never
    an events-to-events range self-join (quadratic per user)."""
    plan = _plan(spark, sf_dir, "window_trailing_1h")
    assert "Window" in plan
    assert "Join" not in plan, plan


def test_fuzzy_blocking_no_cartesian(spark, sf_dir):
    """Fuzzy candidate generation must be an equi join on deletion keys
    — a NestedLoop/cartesian here means the blocking regressed to the
    quadratic cross join that only the oracle may run."""
    plan = _plan(spark, sf_dir, "fuzzy_token_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_dq_fk_check_joins_without_fact_shuffle(spark, sf_dir):
    """The orphan-FK expectation must anti-join with a broadcast (the
    dim side is the small side) — shuffling the fact for a count would
    make every DQ run cost a full repartition."""
    plan = _plan(spark, sf_dir, "dq_checks")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan, plan


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """The per-type stats side is O(#types) — it must broadcast back
    onto the event scan; a shuffle join would repartition the full
    stream just to attach two scalars per type."""
    plan = _plan(spark, sf_dir, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_gapfill_single_event_scale_shuffle(spark, sf_dir):
    """Only the hourly groupBy may touch event-scale data; the grid,
    join, and both interpolation windows run on the bounded
    (series × hours) table. Both window passes must share one sort
    order (no second sort for the forward pass)."""
    plan = _plan(spark, sf_dir, "events_gapfill")
    # all four ignore-nulls frames (backward + forward) fuse into ONE
    # Window node over ONE sort of the bounded grid
    assert plan.count("Window") == 1, plan
    assert plan.count("Sort") == 1, plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_only_tiny_sides(spark, sf_dir):
    """BM25's df table is O(|query terms|) and the (N, avgdl) scalars
    are 1 row — both must broadcast; the doc-length join keys on
    doc_id at corpus scale and may shuffle, but nothing may cartesian
    beyond the 1-row scalar cross join."""
    plan = _plan(spark, sf_dir, "text_bm25")
    assert plan.count("BroadcastHashJoin") >= 1
    # the only nested-loop allowed is the broadcast 1-row scalar attach
    assert "CartesianProduct" not in plan


def test_triangle_census_no_cartesian(spark, sf_dir):
    """Wedge enumeration must be equi-joins on edge endpoints — a
    cartesian/nested-loop enumeration is O(E²) and unusable at any
    scale."""
    plan = _plan(spark, sf_dir, "dedup_graph_triangles")
    assert "CartesianProduct" not in plan


def test_equidepth_no_single_partition_exchange(spark, sf_dir):
    """Exact NTILE semantics must come from the two-phase rank — a
    bare global window would show Exchange SinglePartition over the
    full events scan. Asserts on the PRE-checkpoint plan (the query
    itself returns a checkpointed result, whose plan is just a scan)."""
    from csdid_pyspark_spark.operators.packing import release_cache
    from csdid_pyspark_spark.queries.llm_ops import _equidepth_lazy

    out = _equidepth_lazy(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_cache(out)
    assert "SinglePartition" not in plan, plan
    assert "RangePartitioning" in plan or "rangepartitioning" in plan


def test_heavy_hitters_broadcast_recount_no_vocab_shuffle(spark, sf_dir):
    """The MG sketch pass must be map-only over tokens (its only
    exchanges are over the tiny summary side), and the recount must
    prune tokens with a BROADCAST semi-join before their single
    aggregation shuffle — never a SortMergeJoin and never a shuffle of
    the raw vocabulary for candidate discovery."""
    from csdid_pyspark_spark.operators.packing import release_cache
    from csdid_pyspark_spark.queries.llm_ops import _heavy_hitters_lazy

    out = _heavy_hitters_lazy(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_cache(out)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_epoch_shuffle_two_phase_rank(spark, sf_dir):
    """Epoch permutation must rank via the range-partitioned two-phase
    scan, not a single-reducer global window."""
    from csdid_pyspark_spark.operators.packing import release_cache
    from csdid_pyspark_spark.queries.llm_ops import _epoch_shuffle_lazy

    out = _epoch_shuffle_lazy(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_cache(out)
    assert "SinglePartition" not in plan, plan


def test_interval_union_single_user_shuffle(spark, sf_dir):
    """The sweep-line merge is two window passes + two aggregations
    over ONE user-keyed sort: exactly one exchange over event-scale
    data (the final per-user agg reuses the user partitioning, and
    AQE may add nothing else). No join anywhere."""
    plan = _plan(spark, sf_dir, "events_interval_union")
    assert "Join" not in plan, plan
    import re

    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert len(ex) == 1 and "user_id" in ex[0], plan


def test_bpe_encode_broadcasts_vocab(spark, sf_dir):
    """The merge-chain runs over the DISTINCT-word vocabulary and the
    piece table joins back onto the corpus word stream — the vocab side
    must broadcast (it is orders of magnitude below the corpus), and
    both parquet scans must be column-pruned to the two columns used."""
    plan = _plan(spark, sf_dir, "bpe_encode_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "n_chars" not in line and "lang" not in line, line


def test_outliers_mad_broadcasts_stats(spark, sf_dir):
    """Both stats attachments (median, then MAD) are O(#event types) —
    each must broadcast onto the event scan; the full stream is never
    repartitioned to attach two scalars per type."""
    plan = _plan(spark, sf_dir, "events_outliers_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_span_cut_minlen_single_explode(spark, sf_dir):
    """The minlen variant must keep the base operator's shape: the
    span table is persisted and BOTH consumers (dup census + mark
    semi-join) read the cache — two InMemoryTableScan nodes over one
    cached relation, so the tokenize+hash explode runs once at
    runtime (the printed lineage under each cache scan still shows
    the Generate; counting Generates would double-count it)."""
    plan = _plan(spark, sf_dir, "text_span_cut_minlen")
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "CartesianProduct" not in plan


def test_lint_single_reducer_window_parser():
    """The lint tool's plan-text heuristic must fire on a Window fed by
    an Exchange SinglePartition and stay quiet when the single-partition
    exchange feeds a final global aggregate (the legitimate 1-row
    case)."""
    import tools.lint_plans as lp

    bad = "\n".join([
        "AdaptiveSparkPlan",
        "+- Window [sum(x) windowspecdefinition(ts ASC)]",
        "   +- Sort [ts ASC]",
        "      +- Exchange SinglePartition",
        "         +- Scan parquet",
    ])
    good = "\n".join([
        "AdaptiveSparkPlan",
        "+- HashAggregate (final)",
        "   +- Exchange SinglePartition",
        "      +- HashAggregate (partial)",
        "         +- Scan parquet",
    ])
    assert lp._single_reducer_window(bad)
    assert not lp._single_reducer_window(good)
