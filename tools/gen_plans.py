"""Generate docs/PLANS.md — the formatted physical plan of every
headline query (plus the estimator's fit pipeline drivers) at sf0.01,
so plan review does not require a running session. Regenerate with
`python tools/gen_plans.py` after plan-affecting changes."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Pin the session-scoped layout compaction off so plan snapshots show
# stable testdata paths, not an ephemeral /tmp compaction dir that
# churns the doc on every regeneration.
os.environ.setdefault("SPARK_GRAFT_LAYOUT_CACHE", "0")

SF = "/root/testdata/sf0.01"

PLAN_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q21_waiting_suppliers",
    "join_star_broadcast",
    "join_skew_salted",
    "window_topk_per_group",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_semantic",
    "sim_topk_int8",
    "text_tfidf",
    "text_span_novelty",
    "pack_offsets",
    "events_asof_join",
    "events_sessionize",
    "sample_group_reservoir",
    "q20_potential_promotion",
    "join_prefilter_bloom",
    "dim_merge_upsert",
    "scd2_status_ranges",
    "events_attribution_last_touch",
    "window_trailing_1h",
    "sketch_grouped_stats",
    "basket_pair_lift",
    "fuzzy_token_pairs",
    "dq_checks",
    "table_diff",
    "events_gapfill",
    "events_anomaly_zscore",
    "events_zorder_tiles",
    "quality_classifier_score",
    "dedup_graph_triangles",
    "events_attribution_position",
    "text_bm25",
    "sim_ann_pq",
    "sim_ann_ivfpq_probe",
    "sim_ann_ivfpq_batch",
    "er_fuzzy_parts",
    "text_span_cut",
    "sketch_countmin_freq",
    "incremental_rollup_merge",
    "events_equidepth_histogram",
    "events_session_paths",
    "text_heavy_hitters",
    "events_interval_union",
    "pack_epoch_shuffle",
    "events_cuped_readout",
    "events_histogram_split",
    "sketch_hll_partitioned_union",
    "events_kaplan_meier",
    "events_markov_transitions",
    "docs_token_pmi",
    "dedup_containment",
    "orders_cohort_ltv",
    "sample_poisson_bootstrap",
    "did_dose_response",
    "events_stickiness",
    "text_span_cut_minlen",
    "curation_pipeline",
    "bpe_encode_stats",
    "events_outliers_mad",
    "dedup_cluster_histogram",
    "events_ab_srm_check",
    "join_full_outer",
    # (not text_zipf_fit / suppliers_pareto / parts_abc_classification:
    # they localCheckpoint their small results, so the captured plan
    # would be the post-checkpoint scan — their physical properties are
    # asserted directly in tests/test_plans.py on the operator's lazy plan)
    "events_seasonality_strength",
    # round-6 late additions with lazy result plans (the
    # localCheckpoint-ing ones — MWU/KS, weighted median/quantiles,
    # dp median, cluster split, degree histogram — are covered by the
    # operator-level plan tests instead, same rationale as above)
    "events_welch_ttest",
    "events_autocorrelation",
    "events_user_concentration",
    "dq_benford_digits",
    "docs_split_leakage_safe",
    "docs_split_source_balance",
    "sim_hard_negatives",
]


def _lazy_overrides():
    """Checkpointing queries hide their real plan behind a checkpoint
    scan — document the pre-checkpoint plan instead."""
    from csdid_pyspark_spark.queries import llm_ops

    return {
        "events_equidepth_histogram": llm_ops._equidepth_lazy,
        "text_heavy_hitters": llm_ops._heavy_hitters_lazy,
        "pack_epoch_shuffle": llm_ops._epoch_shuffle_lazy,
    }


def main() -> None:
    from csdid_pyspark_spark.queries import ALL_QUERIES as QUERIES
    from csdid_pyspark_spark.session import get_spark

    spark = get_spark("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, "docs", "PLANS.md")
    lines = [
        "# Physical plans (sf0.01, local[*], AQE on)",
        "",
        "Auto-generated by `tools/gen_plans.py` — `explain('formatted')` of the",
        "headline queries. What to look for: `PushedFilters`/narrow `ReadSchema`",
        "on every parquet scan, `BroadcastHashJoin` on dimension joins,",
        "partial aggregation before each `Exchange`, and wide",
        "`WholeStageCodegen` spans (no Python in the hot path).",
        "",
    ]
    lazy = _lazy_overrides()
    for name in PLAN_QUERIES:
        if name not in QUERIES:
            continue
        df = lazy.get(name, QUERIES[name])(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # session temp locations (persisted-index dirs) change every
        # regeneration; scrub them so the snapshot diff stays stable
        # tempfile honors TMPDIR, so match any prefix — a hardcoded
        # /tmp would let a random temp path churn the snapshot doc
        plan = re.sub(r"\S*spark_graft_ivfpq_\w+", "<ivfpq-index>", plan)
        plan = re.sub(r"\S*spark_graft_postings_\w+", "<postings-index>", plan)
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(PLAN_QUERIES)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
