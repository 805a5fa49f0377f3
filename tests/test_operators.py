"""Unit tests for the LLM-pipeline operator library: dedup recall,
ANN recall, simhash properties, multimodal plumbing, sinks, formula
parsing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csdid_pyspark_spark.functions.formula import FormulaError, parse_formula
from csdid_pyspark_spark.operators import dedup, multimodal, similarity
from csdid_pyspark_spark.sources.sinks import write_parquet
from csdid_pyspark_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_exact_dedup_survivors(spark):
    base = load_table(spark, SF, "documents").limit(50)
    # duplicate every doc with shifted ids and noisy whitespace/case
    dupes = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(dupes)
    result = dedup.exact_dedup(corpus)
    ids = {r["doc_id"] for r in result.collect()}
    assert len(ids) == 50  # every duplicate collapsed
    assert all(i < 10_000 for i in ids)  # min-id survivor policy
    groups = dedup.exact_dedup_groups(corpus)
    assert groups.filter(F.col("n_copies") == 2).count() == 50


def test_minhash_lsh_recall(spark):
    """Both LSH backends (hash-expression and MLlib) verify candidates
    exactly: every pair they return carries jaccard_pairs' value for
    that pair, and banding recall stays above each backend's bound."""
    from csdid_pyspark_spark.cache import release_cache
    from csdid_pyspark_spark.operators import mllib_lsh

    docs = load_table(spark, SF, "documents")
    exact_df = dedup.jaccard_pairs(docs, threshold=0.5)
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact_df.collect()}
    release_cache(exact_df)
    assert exact, "testdata should contain near-duplicate pairs"
    for op, min_recall in (
        (dedup.minhash_lsh_pairs, 0.8),
        (mllib_lsh.minhash_lsh_pairs_mllib, 0.7),
    ):
        out = op(docs, threshold=0.5)
        lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        release_cache(out)
        assert lsh.keys() <= exact.keys(), op.__name__  # no false positives
        assert lsh == {p: exact[p] for p in lsh}, op.__name__  # exact values
        assert len(lsh) / len(exact) >= min_recall, op.__name__  # banding recall


def test_minhash_hot_bucket_streams_and_cap_guards(spark):
    """A hot bucket (many near-identical docs sharing a full band
    signature) must stream its quadratic pair fan-out — no single row
    holds k^2/2 structs — and the explicit max_bucket guard drops the
    mega-bucket entirely while leaving small buckets intact."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(120)]  # one 120-doc bucket
    rows += [(1000, "completely different text one alpha beta gamma delta epsilon"),
             (1001, "completely different text one alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    hot = [r for r in pairs if r["id_a"] < 1000 and r["id_b"] < 1000]
    assert len(hot) == 120 * 119 // 2  # full quadratic set, streamed
    # the generated plan holds at most one source element's tail per
    # row: no flatten-of-transforms over the whole ids array
    plan = dedup.minhash_lsh_pairs(docs, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "flatten(transform" not in plan
    capped = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=50).collect()
    hot_c = [r for r in capped if r["id_a"] < 1000 and r["id_b"] < 1000]
    small_c = [r for r in capped if r["id_a"] >= 1000]
    assert not hot_c  # mega-bucket dropped
    assert small_c  # the 2-doc bucket survives


def test_simhash_near_dup_property(spark):
    docs = load_table(spark, SF, "documents").limit(30).select("doc_id", "text")
    twin = docs.select((F.col("doc_id") + 500).alias("doc_id"), F.col("text"))
    fp = dedup.simhash(docs.unionByName(twin), bits=32)
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    for i in range(30):
        if i in vals and i + 500 in vals:
            assert vals[i] == vals[i + 500]  # identical text → identical simhash
    # deterministic across invocations
    vals2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=32).collect()}
    assert all(vals[k] == vals2[k] for k in vals2)


def test_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 1).select("embedding").first()[0])
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=20).collect()]
    approx = [r["vec_id"] for r in similarity.ann_topk_lsh(emb, q, k=20, n_planes=4).collect()]
    assert exact[0] == 1  # the query vector itself ranks first
    overlap = len(set(exact) & set(approx)) / 20
    assert overlap >= 0.3, f"ANN recall too low: {overlap}"


def test_sketch_cardinality_error_bounds(spark):
    from csdid_pyspark_spark.queries.relational import sketch_cardinality

    sf = "/root/testdata/sf0.01"
    row = sketch_cardinality(spark, sf).first()
    li = load_table(spark, sf, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("o"),
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("q50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("q95"),
    ).first()
    for approx, true in [
        (row["ndv_orderkey"], exact["o"]),
        (row["ndv_partkey"], exact["p"]),
        (row["ndv_suppkey"], exact["s"]),
    ]:
        assert abs(approx - true) / true < 0.05, (approx, true)
    assert abs(row["price_p50"] - exact["q50"]) / exact["q50"] < 0.02
    assert abs(row["price_p95"] - exact["q95"]) / exact["q95"] < 0.02


def test_winnow_fingerprint_properties(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "THE  quick Brown fox jumps over the lazy dog near the river bank"),
        (3, "completely different content with no overlap whatsoever in text"),
        # doc 4 embeds doc 1's text inside a longer document
        (4, "prefix words here " + "the quick brown fox jumps over the lazy dog near the river bank" + " suffix words"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = dedup.winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # normalization invariance: case/whitespace noise → identical set
    assert by_doc[1] == by_doc[2]
    # winnowing guarantee: a shared substring >= window+k-1 chars
    # yields shared fingerprints — containment detects the overlap
    shared = len(by_doc[1] & by_doc[4]) / len(by_doc[1])
    assert shared >= 0.8, f"containment too low: {shared}"
    disjoint = len(by_doc[1] & by_doc[3]) / len(by_doc[1])
    assert disjoint < 0.2


def test_embedding_neardup_lsh_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in similarity.neardup_pairs_cosine(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in similarity.neardup_pairs_lsh(emb, threshold=0.4, n_planes=4, n_tables=8).collect()
    }
    assert exact, "testdata should contain cosine>=0.4 pairs"
    assert lsh <= exact  # candidates are exact-verified: no false positives
    assert len(lsh) / len(exact) >= 0.85, f"LSH recall too low: {len(lsh)}/{len(exact)}"


def test_knn_join(spark):
    emb = load_table(spark, SF, "embeddings").limit(60)
    out = similarity.knn_join_bruteforce(emb, emb, k=3)
    counts = out.groupBy("l_id").count().collect()
    assert all(r["count"] == 3 for r in counts)
    assert out.filter(F.col("l_id") == F.col("r_id")).count() == 0


def test_multimodal_plumbing(spark):
    assets = multimodal.synthetic_assets(spark, n=48)
    feats = multimodal.extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 48
    assert feats.schema == multimodal.FEATURE_SCHEMA
    import hashlib

    payload0 = assets.filter(F.col("asset_id") == 0).first()["payload"]
    row0 = next(r for r in rows if r["asset_id"] == 0)
    assert row0["checksum"] == hashlib.md5(payload0).hexdigest()
    assert 16 <= row0["width"] < 80 and 16 <= row0["height"] < 80


def test_parquet_sink_roundtrip(spark, tmp_path):
    df = load_table(spark, SF, "nation")
    out = str(tmp_path / "nation_out")
    write_parquet(df, out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in df.collect()}
    # partition pruning works on the layout we wrote
    plan = back.filter(F.col("n_regionkey") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan


def test_formula_parser():
    assert parse_formula(None) == ["_intercept"]
    assert parse_formula("y ~ x1 + x2") == ["_intercept", "x1", "x2"]
    assert parse_formula("~ 1") == ["_intercept"]
    with pytest.raises(FormulaError):
        parse_formula("no tilde here")
    with pytest.raises(FormulaError):
        parse_formula("y ~ x1 * x2")


def test_ivf_ann_recall(spark):
    from csdid_pyspark_spark.operators.mllib_lsh import ann_topk_ivf

    emb = load_table(spark, SF, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 5).select("embedding").first()[0])
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ann_topk_ivf(emb, q, k=10, n_centroids=8, n_probe=3).collect()]
    assert approx[0] == 5  # query's own cell always probed
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.5, f"IVF recall too low: {overlap}"


def test_asof_join_directions(spark):
    from csdid_pyspark_spark.operators.asof import asof_join

    e = load_table(spark, SF, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vval"))
    )
    v_rows = views.collect()
    by_user: dict = {}
    for r in v_rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["vval"]))
    for direction, tol in (("backward", None), ("forward", None), ("backward", 600_000_000)):
        got = {
            r["event_id"]: (r["ts_right"], r["vval"])
            for r in asof_join(
                clicks, views, on="user_id", ts_col="ts",
                value_cols=["vval"], direction=direction, tolerance_us=tol,
            ).collect()
        }
        for c in clicks.collect():
            if direction == "backward":
                cand = [(t, v) for t, v in by_user.get(c["user_id"], []) if t <= c["ts"]]
                best = max(cand) if cand else None
                if best is not None and tol is not None:
                    if (c["ts"] - best[0]).total_seconds() * 1e6 > tol:
                        best = None
            else:
                cand = [(t, v) for t, v in by_user.get(c["user_id"], []) if t >= c["ts"]]
                best = min(cand) if cand else None
            want = best if best is not None else (None, None)
            assert got[c["event_id"]] == want, (direction, tol, c["event_id"])


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed on the join key → the
    physical plan contains no Exchange (the 100 TB repeated-join path)."""
    from csdid_pyspark_spark.sources.sinks import write_bucketed

    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, SF, "customer").select("c_custkey", "c_acctbal")
    write_bucketed(o, "t_orders_b", str(tmp_path / "ob"), 8, ["o_custkey"], ["o_custkey"])
    write_bucketed(c, "t_customer_b", str(tmp_path / "cb"), 8, ["c_custkey"], ["c_custkey"])
    try:
        ob, cb = spark.table("t_orders_b"), spark.table("t_customer_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ob.join(cb, ob.o_custkey == cb.c_custkey)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            want = o.join(c, o.o_custkey == c.c_custkey).count()
            assert j.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_components_chain_and_cliques(spark):
    """Label propagation converges on a worst-case chain (max diameter)
    and keeps disjoint cliques separate."""
    chain = [(i, i + 1) for i in range(100, 110)]
    clique = [(a, b) for a in range(200, 204) for b in range(a + 1, 204)]
    pairs = spark.createDataFrame(chain + clique + [(300, 301)], "id_a long, id_b long")
    got = {r["node"]: r["comp"] for r in dedup.components(pairs).collect()}
    assert all(got[n] == 100 for n in range(100, 111))
    assert all(got[n] == 200 for n in range(200, 204))
    assert got[300] == 300 and got[301] == 300


def _spread_pairs(spark, monkeypatch, pairs, slices=8, cap=4):
    """``pairs`` as a frame of ``slices`` contiguous partitions, with the
    edge cache's rows-per-partition target patched down to ``cap`` so
    that components' local phase sees many runs and its global phase
    runs."""
    from csdid_pyspark_spark import cache

    monkeypatch.setattr(cache, "TARGET_ROWS_PER_PARTITION", cap)
    return spark.sparkContext.parallelize(pairs, slices).toDF("id_a long, id_b long")


def _round_jobs(spark, monkeypatch, fn):
    """Run ``fn`` in a fresh job group; return the group's job count at
    each ``localCheckpoint`` (one per global round, then the labels)."""
    import uuid

    sc = spark.sparkContext
    group = f"components-{uuid.uuid4().hex}"
    df_cls = type(spark.range(1))
    real, marks = df_cls.localCheckpoint, []

    def checkpoint(self, *a, **k):
        out = real(self, *a, **k)
        marks.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return out
    monkeypatch.setattr(df_cls, "localCheckpoint", checkpoint)
    sc.setJobGroup(group, "components")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return marks


def test_components_global_rounds_read_the_change_flag(spark, monkeypatch):
    """A chain and two cliques spread over more edge runs than one
    partition holds: the global phase merges the local labels into the
    smallest ids, and each of its rounds starts at most 4 Spark jobs
    (the join and aggregation stages, the checkpoint, the read of the
    checkpointed change flag); no join with the previous labels."""
    chain = [(i, i + 1) for i in range(100, 120)]
    cliques = [(a, b) for lo in (200, 300) for a in range(lo, lo + 5) for b in range(a + 1, lo + 5)]
    pairs = _spread_pairs(spark, monkeypatch, chain + cliques)
    got = {}
    marks = _round_jobs(
        spark, monkeypatch,
        lambda: got.update((r["node"], r["comp"]) for r in dedup.components(pairs).collect()),
    )
    want = {**dict.fromkeys(range(100, 121), 100), **dict.fromkeys(range(200, 205), 200),
            **dict.fromkeys(range(300, 305), 300)}
    assert got == want
    rounds = [b - a for a, b in zip(marks, marks[1:-1])]
    assert len(rounds) >= 2, marks
    assert max(rounds) <= 4, marks


def test_components_release_every_cache_but_the_labels(spark, monkeypatch):
    """After a call that runs at least 2 global rounds, only the returned
    labels stay persisted: the edge cache, the per-node local labels,
    the contracted links and every superseded round are released."""
    jsc = spark.sparkContext._jsc
    pairs = _spread_pairs(spark, monkeypatch, [(i, i + 1) for i in range(40)])
    base = jsc.getPersistentRDDs().size()
    out = {}
    marks = _round_jobs(spark, monkeypatch, lambda: out.update(labels=dedup.components(pairs)))
    assert len(marks) >= 3, marks
    assert jsc.getPersistentRDDs().size() <= base + 1
    assert {r["comp"] for r in out["labels"].collect()} == {0}


def test_components_raises_when_rounds_run_out(spark, monkeypatch):
    """A chain spread over more edge runs than max_iter global rounds can
    merge: components raises, releasing what it cached, instead of
    returning unconverged labels. The same chain converges with the
    default max_iter."""
    jsc = spark.sparkContext._jsc
    pairs = _spread_pairs(spark, monkeypatch, [(i, i + 1) for i in range(40)])
    base = jsc.getPersistentRDDs().size()
    with pytest.raises(dedup.ComponentsNotConverged, match="max_iter=3"):
        dedup.components(pairs, max_iter=3)
    # at most: earlier tests' labels may be collected meanwhile
    assert jsc.getPersistentRDDs().size() <= base
    got = {r["node"]: r["comp"] for r in dedup.components(pairs).collect()}
    assert got == dict.fromkeys(range(41), 0)


def _union_find(s, d):
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def test_local_labels_match_union_find():
    """The local phase's NumPy labelling equals a plain union-find on
    seeded random graphs (repeated edges and self-loops included), and
    a 65,536-edge chain in random id order, the largest run a task
    labels, finishes within a second."""
    import time

    import numpy as np

    rng = np.random.default_rng(11)
    for _ in range(40):
        n, m = rng.integers(1, 400, size=2)
        s, d = rng.integers(0, n, m) * 3 - 50, rng.integers(0, n, m) * 3 - 50
        nodes, comp = dedup._local_labels(s, d)
        assert dict(zip(nodes.tolist(), comp.tolist())) == _union_find(s, d)
    ids = rng.permutation(65_537).astype(np.int64) * 7 + 1
    t0 = time.perf_counter()
    nodes, comp = dedup._local_labels(ids[:-1], ids[1:])
    assert time.perf_counter() - t0 < 1.0
    assert len(nodes) == 65_537 and (comp == 1).all()


def test_jaccard_max_df_cap(spark):
    """High caps are exact; cap=1 removes every shared shingle (so no
    candidate pairs survive) — the skew-bounding knob works end-to-end."""
    docs = load_table(spark, SF, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.5, max_df=10_000).collect()
    }
    assert exact and capped == exact
    assert dedup.jaccard_pairs(docs, threshold=0.5, max_df=1).count() == 0


def test_packed_offsets_scan_equals_window(spark):
    """The two-phase distributed scan must produce bit-identical
    offsets to the declarative single-window variant, across several
    partition counts (partition boundaries must not leak into the
    result)."""
    from csdid_pyspark_spark.functions.text import token_count
    from csdid_pyspark_spark.operators import packing

    d = load_table(spark, SF, "documents").withColumn("tok_len", token_count("text"))
    want = sorted(
        tuple(r)
        for r in packing.packed_offsets_window(d, "tok_len", budget=512).collect()
    )
    for n in (1, 3, 16):
        got = sorted(
            tuple(r)
            for r in packing.packed_offsets(d, "tok_len", budget=512, num_partitions=n).collect()
        )
        assert got == want, f"num_partitions={n}"


def test_pack_greedy_invariants(spark):
    """Next-fit invariants: per-stream bins are contiguous from 0,
    running fill never exceeds the budget unless a single document is
    itself over budget, and every document is assigned exactly once."""
    from csdid_pyspark_spark.functions.text import token_count
    from csdid_pyspark_spark.operators import packing

    budget = 200
    d = load_table(spark, SF, "documents").withColumn("tok_len", token_count("text"))
    rows = packing.pack_greedy(d, "tok_len", budget=budget).collect()
    assert len(rows) == d.count()
    by_stream: dict[str, list] = {}
    for r in rows:
        by_stream.setdefault(r["source"], []).append(r)
    for src, rs in by_stream.items():
        bins = sorted({r["bin"] for r in rs})
        assert bins == list(range(len(bins))), src
        for r in rs:
            assert r["bin_fill"] <= budget or r["tok_len"] > budget, (src, r)


def test_packing_matches_python_reference_on_skewed_streams(spark):
    """Seeded synthetic corpus with a dominant stream (90% of rows in
    one source — the shape that breaks per-stream-reducer designs):
    both packing variants must match a pure-Python reference exactly."""
    import hashlib
    import random

    from csdid_pyspark_spark.operators import packing

    rng = random.Random(7)
    rows = [
        (i, "big" if rng.random() < 0.9 else f"s{rng.randrange(5)}", rng.randrange(0, 400))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, tok_len int")

    def ordkey(r):
        return (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])

    # python reference: per-stream exclusive prefix + greedy next-fit
    by_stream: dict[str, list] = {}
    for r in sorted(rows, key=ordkey):
        by_stream.setdefault(r[1], []).append(r)
    want_off, want_greedy = {}, {}
    budget = 512
    for src, rs in by_stream.items():
        cum = 0
        bin_id, fill = 0, 0
        for did, _, ln in rs:
            want_off[did] = cum
            cum += ln
            if fill > 0 and fill + ln > budget:
                bin_id += 1
                fill = 0
            fill += ln
            want_greedy[did] = (bin_id, fill)

    got_off = {
        r["doc_id"]: r["start_offset"]
        for r in packing.packed_offsets(df, "tok_len", budget=budget, num_partitions=7).collect()
    }
    assert got_off == want_off
    got_greedy = {
        r["doc_id"]: (r["bin"], r["bin_fill"])
        for r in packing.pack_greedy(df, "tok_len", budget=budget).collect()
    }
    assert got_greedy == want_greedy


def test_two_phase_cache_lifecycle(spark):
    """packed_offsets / global_row_number persist their range-shuffled
    partitioning (two passes must see one materialization); release_cache
    must drop it so repeated calls in a service loop don't accumulate
    cached RDDs in the session."""
    from csdid_pyspark_spark.functions.text import token_count
    from csdid_pyspark_spark.operators import packing

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_cached()
    d = load_table(spark, SF, "documents").withColumn("tok_len", token_count("text"))

    offs = packing.packed_offsets(d, "tok_len", budget=512, num_partitions=4)
    assert offs.count() > 0
    assert n_cached() > base
    packing.release_cache(offs)
    assert n_cached() == base

    with packing.cache_scope(
        packing.global_row_number(d.select("doc_id"), ["doc_id"], num_partitions=4)
    ) as rn:
        assert rn.count() > 0
        assert n_cached() > base
    assert n_cached() == base
    # idempotent / no-op on operators that cache nothing
    packing.release_cache(d)


def test_exact_allpairs_baselines_guarded(spark):
    """The deliberately-quadratic exact baselines must refuse oversized
    corpora with a pointer to the scalable variant (and stay usable
    under the limit / with exact_limit=None)."""
    import pytest

    from csdid_pyspark_spark.operators import dedup, similarity

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(6)],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        dedup.jaccard_pairs(docs, exact_limit=3).collect()
    # capped/blocked paths are not quadratic -> never guarded
    dedup.jaccard_pairs(docs, max_df=1000, exact_limit=3).collect()
    # under the limit (or explicitly waived) the exact path still runs
    assert dedup.jaccard_pairs(docs, exact_limit=None).count() > 0

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="neardup_pairs_lsh"):
        similarity.neardup_pairs_cosine(vecs, exact_limit=3).collect()
    assert similarity.neardup_pairs_cosine(vecs, exact_limit=None).count() > 0


def test_mmr_rerank_trades_relevance_for_diversity(spark):
    """With two near-duplicate high-relevance vectors and one diverse
    mid-relevance vector, pure top-2 keeps both duplicates but MMR
    must select one duplicate then the diverse vector; rank 1 is
    always the relevance argmax."""
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.01, 0.0]),
            (2, [1.0, 0.05, 0.0]),  # near-duplicate of 1
            (3, [0.5, 0.0, 0.866]),  # orthogonal-ish: diverse
        ],
        "vec_id bigint, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0]
    topk = [r["vec_id"] for r in similarity.cosine_topk(vecs, q, k=2).collect()]
    assert set(topk) == {1, 2}
    mmr = similarity.mmr_rerank(vecs, q, k=2, pool=3, lam=0.3)
    picked = [t[1] for t in mmr]
    assert picked[0] in (1, 2) and picked[1] == 3
    assert mmr[0][0] == 1 and mmr[1][0] == 2  # 1-based ranks


def test_global_rank_cumsum_matches_window(spark):
    """The two-phase rank+running-total scan must equal the naive
    single-reducer window bit-for-bit, across partition counts (range
    boundaries must not leak into ranks or cumulative sums)."""
    from pyspark.sql import Window as W

    from csdid_pyspark_spark.operators import packing

    d = (
        load_table(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("v"))
        .withColumn("v_neg", -F.col("v"))
    )
    w = W.orderBy("v_neg", "l_suppkey")
    naive = d.select(
        "l_suppkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum(F.col("v").cast("decimal(30,6)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("decimal(30,6)")
        .alias("cum"),
    )
    want = sorted(tuple(r) for r in naive.collect())
    expect_n = d.count()
    for nparts in (1, 3, 16):
        scan = packing.global_rank_cumsum(
            d, ["v_neg", "l_suppkey"], "v", num_partitions=nparts
        )
        with packing.cache_scope(scan.df) as got_df:
            got = sorted((r["l_suppkey"], r["rn"], r["cum"]) for r in got_df.collect())
        assert got == want, f"mismatch at num_partitions={nparts}"
        # explicit totals (replacing the old monkey-patched side-channel)
        # must equal the full-scan truth
        assert scan.total_count == expect_n
        assert scan.total_sum == max(c for _, _, c in got)


def test_containment_pairs_semantics_and_guard(spark):
    """Containment = |A∩B| / min(|A|,|B|): a doc whose shingles are a
    strict subset of a larger doc's scores 1.0 even when its Jaccard
    is far below threshold; the uncapped path shares the quadratic
    guard with jaccard_pairs."""
    import pytest

    from csdid_pyspark_spark.operators import dedup

    small = "a b c d e"  # shingles: 3
    big = small + " f g h i j k l m n o p q r s t"  # superset, 18 shingles
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "zz yy xx ww vv")],
        "doc_id bigint, text string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.8, max_df=100).collect()
    }
    assert rows == {(1, 2): 1.0}
    # same pair's Jaccard is 3/18 — far below any useful threshold
    assert dedup.jaccard_pairs(docs, threshold=0.5, max_df=100).count() == 0
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        dedup.containment_pairs(docs, exact_limit=2).collect()
    assert dedup.containment_pairs(docs, threshold=0.8, exact_limit=None).count() == 1


def test_jaccard_pairs_between_delta_vs_corpus_only(spark):
    """Incremental dedup pairs delta docs against corpus docs ONLY:
    corpus-internal duplicates must not appear, exact Jaccard values
    match the self-join operator on the union, and the corpus-side df
    cap drops boilerplate shingles from both denominators."""
    base = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, base),                      # near-dup of delta doc 100
            (2, base + " again"),           # near-dup of 1 AND of 100
            (3, "completely different words about spark query planning"),
        ],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [(100, base), (101, "unrelated fresh content with novel tokens here")],
        "doc_id bigint, text string",
    )
    got = {
        (r["delta_id"], r["corpus_id"]): r["jaccard"]
        for r in dedup.jaccard_pairs_between(delta, corpus, threshold=0.5).collect()
    }
    # delta 100 matches corpus 1 (identical -> 1.0) and corpus 2; the
    # corpus-internal (1, 2) duplicate pair never appears
    assert got[(100, 1)] == 1.0
    assert (100, 2) in got and 0.5 <= got[(100, 2)] < 1.0
    assert all(k[0] in (100, 101) for k in got)
    assert not any(k == (101, c) for k in got for c in (1, 2, 3))

    # parity with the self-join operator restricted to cross pairs
    both = dedup.jaccard_pairs(delta.unionByName(corpus), threshold=0.5).collect()
    expected = {
        (r["id_b"], r["id_a"]): r["jaccard"] for r in both if r["id_b"] >= 100 > r["id_a"]
    }
    assert got == expected

    # max_df=1: every shingle shared by >1 corpus doc is dropped from both
    # sides, so the identical pair keeps jaccard on the surviving shingles
    capped = dedup.jaccard_pairs_between(delta, corpus, threshold=0.1, max_df=1)
    assert all(r["delta_id"] in (100, 101) for r in capped.collect())


def test_semantic_dedup_pairs_cluster_bounded(spark):
    emb = load_table(spark, SF, "embeddings")
    pairs = similarity.semantic_dedup_pairs(emb, cluster_col="label", threshold=0.4)
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["cosine"] >= 0.4 for r in rows)
    # every emitted pair shares its cluster: the subset of the exact
    # all-pairs baseline whose endpoints have equal labels
    lbl = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(lbl[r["id_a"]] == lbl[r["id_b"]] for r in rows)
    exact = similarity.neardup_pairs_cosine(emb, threshold=0.4).collect()
    expect = {
        (r["id_a"], r["id_b"]) for r in exact if lbl[r["id_a"]] == lbl[r["id_b"]]
    }
    assert {(r["id_a"], r["id_b"]) for r in rows} == expect
    # the cluster join must be an equi-join, never a nested-loop product
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_sample_frames_fanout_and_determinism(spark):
    assets = multimodal.synthetic_assets(spark, n=30)
    frames = multimodal.sample_frames(assets, max_frames=8, bytes_per_frame=64)
    assert frames.schema == multimodal.FRAME_SCHEMA
    rows = frames.collect()
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    meta = {r["asset_id"]: r for r in assets.collect()}
    for aid, fr in by_asset.items():
        nb = meta[aid]["n_bytes"]
        k = max(1, min(8, nb // 64))
        assert len(fr) == k
        assert sorted(r["frame_idx"] for r in fr) == list(range(k))
        payload = meta[aid]["payload"]
        for r in fr:
            assert r["byte_offset"] == r["frame_idx"] * nb // k
            assert r["frame_byte"] == payload[r["byte_offset"]]
    # null payloads contribute zero frames instead of crashing the batch
    from pyspark.sql import Row

    null_asset = spark.createDataFrame(
        [Row(asset_id=99, modality="video", mime=None, payload=None, n_bytes=0)],
        multimodal.ASSET_SCHEMA,
    )
    assert multimodal.sample_frames(null_asset).count() == 0


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from csdid_pyspark_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    df = load_table(spark, SF, "lineitem")
    # simulate an incremental writer's debris: 64 tiny files
    df.repartition(64).write.parquet(src)
    import glob
    import os

    n_before = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_before >= 32
    n_after = compact_parquet(spark, src, out, target_mb=512)
    assert n_after < n_before and n_after >= 1
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # coalesce, not repartition: the rewrite plan must contain no shuffle
    plan = (
        spark.read.parquet(src)
        .coalesce(1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_int8_topk_recall_vs_float(spark):
    from csdid_pyspark_spark.queries.llm_ops import sim_topk_int8
    from csdid_pyspark_spark.queries.llm_ops import sim_topk_bruteforce

    sf = "/root/testdata/sf0.001"
    int8 = [r["vec_id"] for r in sim_topk_int8(spark, sf).collect()]
    flt = [r["vec_id"] for r in sim_topk_bruteforce(spark, sf).collect()]
    assert len(int8) == 10
    # int8 quantization error is ~1/254 per dim; top-k overlap stays high
    assert len(set(int8) & set(flt)) >= 7


def test_hash_bucket_prefilter_no_false_negatives(spark):
    """The bloom-style pre-filter may keep extra rows (false positives)
    but must never drop a row whose key IS in the build side — the
    exact-join composition property join_prefilter_bloom relies on.
    With few buckets the FP rate is high, which stresses exactly the
    property that matters (supersets are fine, subsets are bugs)."""
    from csdid_pyspark_spark.operators.prejoin import hash_bucket_prefilter

    fact = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    build = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey")
    )
    pruned = hash_bucket_prefilter(fact, "l_orderkey", build, "o_orderkey", 256)
    exact = fact.join(
        build, fact.l_orderkey == build.o_orderkey, "left_semi"
    )
    # every exact-semi row survives the pre-filter
    assert exact.join(pruned, ["l_orderkey", "l_quantity"], "left_anti").count() == 0
    # composing with the exact join reproduces the plain join
    n_plain = fact.join(build, fact.l_orderkey == build.o_orderkey).count()
    n_pref = pruned.join(build, pruned.l_orderkey == build.o_orderkey).count()
    assert n_plain == n_pref
    # tight bucket space actually prunes: the pre-filter is not a no-op
    assert pruned.count() < fact.count()


def test_hash_bucket_prefilter_broadcast_plan(spark):
    """The bucket set must reach the fact side as a BROADCAST semi join
    — an exchange here would defeat the operator's purpose."""
    from csdid_pyspark_spark.operators.prejoin import hash_bucket_prefilter

    fact = load_table(spark, SF, "lineitem")
    build = load_table(spark, SF, "orders").select("o_orderkey")
    pruned = hash_bucket_prefilter(fact, "l_orderkey", build, "o_orderkey")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_scd2_ranges_partition_history(spark):
    """SCD2 invariants: per customer, ranges are chronological and
    chained (each eff_to equals the next eff_from), exactly one open
    current row, and consecutive statuses always differ."""
    from csdid_pyspark_spark.queries import QUERIES

    rows = QUERIES["scd2_status_ranges"](spark, SF).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    assert by_cust
    for hist in by_cust.values():
        hist.sort(key=lambda r: r["eff_from"])
        assert sum(1 for r in hist if r["is_current"]) == 1
        assert hist[-1]["is_current"] and hist[-1]["eff_to"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["eff_to"] == b["eff_from"]
            assert a["status"] != b["status"]


def test_merge_upsert_semantics(spark):
    """Every base row survives exactly once; updated rows carry the
    update value, untouched rows keep the base value."""
    from csdid_pyspark_spark.queries import QUERIES

    out = QUERIES["dim_merge_upsert"](spark, SF)
    rows = out.collect()
    base_n = load_table(spark, SF, "customer").count()
    assert len(rows) == base_n
    assert len({r["c_custkey"] for r in rows}) == base_n
    # updated == customer has >=1 order; merged value comes from the
    # freshest order for updated rows, from the base row otherwise
    latest = {
        r["o_custkey"]: round(r["o_totalprice"], 2)
        for r in load_table(spark, SF, "orders")
        .orderBy("o_orderdate", "o_orderkey")
        .collect()
    }
    for r in rows:
        if r["updated"]:
            assert r["merged_bal"] == latest[r["c_custkey"]]
        else:
            assert r["c_custkey"] not in latest
            assert r["merged_bal"] == r["old_bal"]


@pytest.mark.slow  # 5-16 s each; tiered out of the budgeted default gate
def test_pagerank_star_graph_properties(spark):
    """On a star graph the hub must outrank every leaf, all leaves tie,
    and total rank mass stays 1 (undirected graphs have no dangling
    loss)."""
    from csdid_pyspark_spark.operators.graph import pagerank_undirected

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "id_a long, id_b long"
    )
    r = {row["node"]: row["rank"] for row in pagerank_undirected(pairs, iters=10).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    leaves = [v for k, v in r.items() if k != 0]
    assert all(r[0] > v for v in leaves)
    assert max(leaves) - min(leaves) < 1e-12


def test_kmeans_recovers_separated_blobs(spark):
    """Two well-separated blobs must be recovered exactly in one
    Lloyd pass from lowest-id init (one seed lands in each blob since
    ids 0 and 1 belong to different blobs here)."""
    from csdid_pyspark_spark.operators.kmeans import kmeans_lloyd

    rows = []
    for i in range(40):
        blob = i % 2
        base = 10.0 if blob else -10.0
        rows.append((i, [base + 0.01 * (i % 7), base, base + 0.005 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, "embedding", "vec_id", k=2, iters=3).collect()
    by_cluster: dict[int, set] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] % 2)
    assert len(by_cluster) == 2
    for members in by_cluster.values():
        assert len(members) == 1  # each cluster is pure


def test_hourly_grid_fill_interpolates_interior_gaps(spark):
    """A 3-hour interior gap between hourly means 10 and 50 must fill
    with the linear ramp 20/30/40, n_events=0, is_gap=True; observed
    hours keep their exact hourly mean."""
    from datetime import datetime

    from csdid_pyspark_spark.operators.timeseries import hourly_grid_fill

    rows = [
        # hour 00: two events, mean 10.0
        (1, datetime(2024, 3, 1, 0, 10), "a", 8.0),
        (2, datetime(2024, 3, 1, 0, 50), "a", 12.0),
        # hours 01-03 missing
        (3, datetime(2024, 3, 1, 4, 30), "a", 50.0),
        # second series: no gaps, single hour
        (4, datetime(2024, 3, 1, 2, 0), "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from csdid_pyspark_spark.cache import release_cache

    grid = hourly_grid_fill(df)
    out = {
        (r["series"], r["window_start"]): r for r in grid.collect()
    }
    # the operator persists its hourly aggregate and attaches it to the
    # result (documented lifecycle) — release after the final action so
    # the shared test session doesn't accumulate executor storage
    release_cache(grid)
    assert len(out) == 6  # a: 5 grid hours, b: 1
    a0 = out[("a", "2024-03-01 00:00:00")]
    assert (a0["n_events"], a0["value_filled"], a0["is_gap"]) == (2, 10.0, False)
    for hour, want in [(1, 20.0), (2, 30.0), (3, 40.0)]:
        r = out[("a", f"2024-03-01 0{hour}:00:00")]
        assert (r["n_events"], r["is_gap"]) == (0, True)
        assert abs(r["value_filled"] - want) < 1e-9
    a4 = out[("a", "2024-03-01 04:00:00")]
    assert (a4["n_events"], a4["value_filled"]) == (1, 50.0)
    b = out[("b", "2024-03-01 02:00:00")]
    assert (b["n_events"], b["value_filled"], b["is_gap"]) == (1, 7.0, False)


def test_cusum_peak_finds_level_shift(spark):
    """A mean shift halfway through a series puts the CUSUM peak at the
    last pre-shift observation."""
    from datetime import datetime, timedelta

    from csdid_pyspark_spark.queries.llm_ops import events_cusum_peak

    t0 = datetime(2024, 5, 1)
    rows = []
    for i in range(20):
        v = 10.0 if i < 10 else 30.0  # shift at i=10
        rows.append((i, t0 + timedelta(hours=i), 7, "x", v, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import csdid_pyspark_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables_load = lambda sp, d, n: df  # noqa: E731
        import csdid_pyspark_spark.queries.llm_ops as L

        L.load_table = tables_load
        out = events_cusum_peak(spark, "ignored").collect()
    finally:
        import csdid_pyspark_spark.queries.llm_ops as L

        L.load_table = orig
    assert len(out) == 1
    r = out[0]
    # mean=20; cusum after i rows (i<=10): i*(10-20) → peak |−100| at i=10,
    # i.e. the 10th event, ts = t0+9h
    assert r["n_events"] == 20
    assert abs(r["peak_cusum"] - 100.0) < 1e-6
    assert r["peak_ts"] == "2024-05-01 09:00:00"


def test_weighted_systematic_sample_properties(spark):
    """≤k docs selected; any doc with weight > total/k is guaranteed in;
    result is invariant to input partitioning."""
    import csdid_pyspark_spark.queries.llm_ops as L
    from csdid_pyspark_spark.queries.llm_ops import (
        _SAMPLE_WEIGHTED_K,
        sample_weighted_systematic,
    )

    rows = [(i, f"t{i}", "en", "web", 10 + (i * 37) % 90) for i in range(200)]
    rows[17] = (17, "big", "en", "web", 100_000)  # dominant weight
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = L.load_table
    try:
        L.load_table = lambda sp, d, n: df
        sel1 = sorted(r["doc_id"] for r in sample_weighted_systematic(spark, "x").collect())
        L.load_table = lambda sp, d, n: df.repartition(13)
        sel2 = sorted(r["doc_id"] for r in sample_weighted_systematic(spark, "x").collect())
    finally:
        L.load_table = orig
    assert sel1 == sel2
    assert 0 < len(sel1) <= _SAMPLE_WEIGHTED_K
    assert 17 in sel1


def test_logistic_irls_learns_and_is_partition_invariant(spark):
    """IRLS must (a) recover a separable 1-D boundary, (b) produce
    bit-identical coefficients under different input partitionings
    (the exact-decimal Gram contract), (c) agree with an independent
    driver-side numpy IRLS on the same data to float tolerance."""
    import numpy as np
    from pyspark.sql import functions as F

    from csdid_pyspark_spark.operators.logreg import logistic_irls, score_column

    rows = [(i, (i % 100) / 100.0, 1.0 if (i % 100) / 100.0 > 0.45 else 0.0) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    feats = {"intercept": F.lit(1.0), "x": F.col("x")}
    c1 = logistic_irls(df, feats, F.col("y"), iters=6)
    c2 = logistic_irls(df.repartition(17), feats, F.col("y"), iters=6)
    assert c1 == c2  # bit-identical, not approximately
    # boundary recovered: decision point -b0/b1 near 0.45, slope positive
    assert c1["x"] > 0
    assert abs(-c1["intercept"] / c1["x"] - 0.455) < 0.02

    # independent numpy IRLS (same math, local dense matrices)
    X = np.array([[1.0, r[1]] for r in rows])
    y = np.array([r[2] for r in rows])
    beta = np.zeros(2)
    for _ in range(6):
        eta = X @ beta
        mu = np.clip(1.0 / (1.0 + np.exp(-eta)), 1e-10, 1 - 1e-10)
        w = mu * (1 - mu)
        wz = w * eta + (y - mu)
        G = X.T @ (X * w[:, None])
        beta = np.linalg.solve(G + 1e-8 * np.eye(2), X.T @ wz)
    assert abs(c1["intercept"] - beta[0]) < 1e-6 * max(1, abs(beta[0]))
    assert abs(c1["x"] - beta[1]) < 1e-6 * max(1, abs(beta[1]))

    # scoring: accuracy 1.0 away from the boundary band
    s = score_column(feats, c1)
    wrong = df.filter(
        ((F.col("x") > 0.5) & (s < 0.5)) | ((F.col("x") < 0.4) & (s >= 0.5))
    ).count()
    assert wrong == 0


def test_zorder_write_tightens_file_stats_on_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustering must shrink the average per-file min/max
    span on BOTH clustered columns vs an id-ordered write — that span
    is exactly what parquet data skipping prunes on."""
    import pyarrow.parquet as pq

    from csdid_pyspark_spark.operators.zorder import zorder_write
    from csdid_pyspark_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).alias("ux"),
        (F.col("event_id") % 256).alias("ey"),
    )

    def avg_span(path, col_idx):
        spans, files = [], list((tmp_path / path).glob("*.parquet"))
        assert files
        for f in files:
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(col_idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    e.repartitionByRange(8, "ey").sortWithinPartitions("ey").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "plain"))
    zorder_write(e, ["ux", "ey"], str(tmp_path / "zorder"), bits=8, num_files=8)

    # single-column sort: ey tight but ux spans its whole observed domain
    plain_ux, plain_ey = avg_span("plain", 0), avg_span("plain", 1)
    assert plain_ey < 64
    # z-order: BOTH dimensions substantially tighter than the
    # single-sort's untouched dimension
    zux, zey = avg_span("zorder", 0), avg_span("zorder", 1)
    assert zux < 0.8 * plain_ux, (zux, plain_ux)
    assert zey < 0.8 * plain_ux, (zey, plain_ux)


def test_train_bpe_matches_reference_implementation(spark):
    """The distributed trainer must learn the exact merge sequence an
    independent driver-side BPE (counts over dicts) learns on the same
    corpus, including tie-breaks."""
    from collections import Counter

    from csdid_pyspark_spark.operators.bpe import train_bpe

    texts = ["low low low lower lower", "newest newest widest", "low newest"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = train_bpe(df, n_merges=6)

    # reference: plain-Python BPE on word counts
    wc = Counter(w for t in texts for w in t.split())
    vocab = {tuple(w): c for w, c in wc.items()}
    want = []
    for rank in range(1, 7):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        # (count desc, pair-string asc) tiebreak, like the operator
        best = min(pc.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (a, b), n = best
        want.append((rank, a, b, n))
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert got == want, (got, want)


def test_pq_recall_and_compression_vs_bruteforce(spark):
    """PQ top-10 must overlap the exact L2 top-10 (codebook-resolution
    approximation) and re-running on a different partitioning must
    reproduce the identical index and ranking (decimal-exact centroid
    means)."""
    from csdid_pyspark_spark.operators.pq import encode_pq, pq_topk, train_pq

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    cb = train_pq(emb, m=16, k=32, iters=4)
    codes = encode_pq(emb, cb)
    approx = [r["vec_id"] for r in pq_topk(codes, cb, q, k_out=10).collect()]

    # exact squared-L2 top-10
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(x) for x in q]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", d2.alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    ]
    assert exact[0] == 0 and approx[0] == 0
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.4, f"ADC-only recall too low: {overlap}"

    # production pipeline: ADC candidates + exact re-rank
    from csdid_pyspark_spark.operators.pq import pq_topk_rerank

    rr = [
        r["vec_id"]
        for r in pq_topk_rerank(emb, codes, cb, q, n_candidates=50, k_out=10).collect()
    ]
    rr_overlap = len(set(exact) & set(rr)) / 10
    assert rr_overlap >= 0.8, f"rerank recall too low: {rr_overlap}"

    cb2 = train_pq(emb.repartition(13), m=16, k=32, iters=4)
    assert cb2 == cb  # bit-identical codebooks under repartitioning


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_pq_assign_codes_rejects_non_finite_vector(spark, bad):
    """A vector with a NaN or inf component has no finite distance to
    any codebook entry: the assignment kernel raises a ValueError that
    names it, rather than emitting an arbitrary code or the +inf padding
    entry's wrapped id (subspace 1 is ragged, so it carries padding)."""
    from csdid_pyspark_spark.operators.pq import assign_codes_arrow

    codebook = {0: {0: [0.0, 0.0], 1: [1.0, 1.0]}, 1: {0: [0.0, 0.0]}}
    df = spark.createDataFrame(
        [(1, [0.9, 0.8, 0.3, 0.4]), (7, [0.1, 0.2, bad, 0.4])],
        "vec_id long, embedding array<double>",
    )
    good = assign_codes_arrow(df.filter("vec_id = 1"), codebook).orderBy("m").collect()
    assert [(r["m"], r["code"]) for r in good] == [(0, 1), (1, 0)]
    with pytest.raises(Exception, match=r"ValueError: vec_id 7 has no finite distance"):
        assign_codes_arrow(df, codebook).collect()


def test_misra_gries_heavy_hitters_exact_and_bounded(spark):
    """The MG candidate pass must (a) emit at most k+1 rows per
    partition — the O(partitions·k) shuffle bound IS the operator's
    scale claim — and (b) after the recount, equal the exact
    GROUP BY/HAVING answer on a skewed stream, regardless of
    partitioning."""
    import numpy as np

    from csdid_pyspark_spark.operators.heavyhitters import (
        heavy_hitters,
        mg_partition_summaries,
    )
    from csdid_pyspark_spark.operators.packing import release_cache

    rng = np.random.default_rng(11)
    # zipf-ish: few hot tokens + a long uniform tail
    hot = rng.choice([f"hot{i}" for i in range(5)], size=20_000, p=[0.5, 0.2, 0.15, 0.1, 0.05])
    tail = [f"t{int(x)}" for x in rng.integers(0, 30_000, size=30_000)]
    items = np.concatenate([hot, tail])
    rng.shuffle(items)
    df = spark.createDataFrame([(str(x),) for x in items], "tok string").repartition(16)

    k = 100
    summ = mg_partition_summaries(df, "tok", k).groupBy(
        F.spark_partition_id().alias("pid")
    ).count()
    assert summ.agg(F.max("count")).collect()[0][0] <= k + 1

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_cached()
    hh = heavy_hitters(df, "tok", k)
    got = {(r["tok"], r["freq"]) for r in hh.collect()}
    assert n_cached() > base  # the summaries persist
    release_cache(hh)
    assert n_cached() == base
    n = len(items)
    exact = {
        (r["tok"], r["freq"])
        for r in df.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .filter(F.col("freq") * k > F.lit(n))
        .collect()
    }
    assert got == exact and len(exact) >= 4

    # partition-invariance of the exact result
    hh2 = heavy_hitters(df.repartition(3), "tok", k)
    got2 = {(r["tok"], r["freq"]) for r in hh2.collect()}
    release_cache(hh2)
    assert got2 == exact


def test_interval_union_merges_overlaps(spark):
    """Sweep-line correctness on hand-built cases: back-to-back
    intervals chain into one island; a gap starts a new one; totals
    never double-count overlap."""
    import datetime as dt

    from csdid_pyspark_spark.queries.llm_ops import events_interval_union

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: events at t0, t0+10min, t0+50min -> islands: [0,40min] and [50,80min]
        (1, base, 1),
        (2, base + dt.timedelta(minutes=10), 1),
        (3, base + dt.timedelta(minutes=50), 1),
        # user 2: one event -> one 30-min island
        (4, base, 2),
    ]
    e = spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, ts, u in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        e.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {
            r["user_id"]: (r["n_islands"], r["active_sec"])
            for r in events_interval_union(spark, tmp).collect()
        }
    assert out[1] == (2, 40 * 60 + 30 * 60)
    assert out[2] == (1, 30 * 60)


def test_hll_sketch_union_accuracy_and_invariance(spark, sf_dir):
    """The sketch-table pattern must answer the global NDV from the
    per-type sketches within HLL error (lgK=12 → ~1.6% rel. std), and
    register-max merging must be partition/order independent."""
    from csdid_pyspark_spark.queries.relational import sketch_hll_partitioned_union
    from csdid_pyspark_spark.sources.tables import load_table

    out = {r["event_type"]: r["ndv_users"] for r in
           sketch_hll_partitioned_union(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events")
    exact = e.select("user_id").distinct().count()
    assert abs(out["__union__"] - exact) / exact <= 0.05
    assert sum(v for k, v in out.items() if k != "__union__") >= out["__union__"]

    sk = (
        e.repartition(7)
        .groupBy("event_type")
        .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sk"))
        .agg(F.hll_union_agg(F.col("sk")).alias("sk"))
        .select(F.hll_sketch_estimate("sk").cast("bigint").alias("ndv"))
        .collect()[0]["ndv"]
    )
    assert sk == out["__union__"]


def test_cuped_reduces_variance_and_preserves_units(spark, sf_dir):
    """CUPED must never increase variance (θ is the OLS-optimal
    coefficient, so Var(y−θ(x−x̄)) = Var(y)(1−ρ²) ≤ Var(y)) and must
    not move users across variants."""
    from csdid_pyspark_spark.queries.llm_ops import events_cuped_readout

    rows = {r["variant"]: r for r in events_cuped_readout(spark, sf_dir).collect()}
    assert set(rows) == {"control", "treatment"}
    total = sum(r["n_users"] for r in rows.values())
    assert total > 0
    for r in rows.values():
        assert r["var_cuped"] <= r["var_raw"] + 1e-9


def test_bpe_encode_pieces_greedy_application(spark):
    """encode_pieces must replay the trainer's greedy left-to-right
    merge application: on a corpus where the learned rules are known by
    construction ((a,b) then (ab,ab)), seen words collapse to their
    trained piece counts and an UNSEEN longer word gets the same greedy
    non-overlapping scan (ababab -> [abab, ab] = 2 pieces, not 3)."""
    from csdid_pyspark_spark.operators.bpe import encode_pieces, train_bpe

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "abab")], "doc_id bigint, text string"
    )
    merges = train_bpe(docs, n_merges=2)
    assert [(m[1], m[2]) for m in merges] == [("a", "b"), ("ab", "ab")]
    words = spark.createDataFrame(
        [("ab",), ("abab",), ("ababab",), ("ba",), ("x",)], "w string"
    )
    got = {r["w"]: r["n_pieces"] for r in encode_pieces(words, merges).collect()}
    assert got == {"ab": 1, "abab": 1, "ababab": 2, "ba": 2, "x": 1}


def test_bpe_merge_uniform_runs_and_metachars(spark):
    """Two textbook-exactness regressions: (1) a uniform run merges
    left-to-right to floor(n/2) pieces + remainder ('aaaaaa' -> 3, the
    case a delimiter-consuming replace mis-groups to 4); (2) symbols
    that are regex metacharacters must be treated as literals by the
    lookaround merge."""
    from csdid_pyspark_spark.operators.bpe import encode_pieces, train_bpe

    docs = spark.createDataFrame([(1, "aaaaaa aaaa aa")], "doc_id bigint, text string")
    merges = train_bpe(docs, n_merges=1)
    assert [(m[1], m[2]) for m in merges] == [("a", "a")]
    words = spark.createDataFrame(
        [("aa",), ("aaa",), ("aaaa",), ("aaaaa",), ("aaaaaa",)], "w string"
    )
    got = {r["w"]: r["n_pieces"] for r in encode_pieces(words, merges).collect()}
    assert got == {"aa": 1, "aaa": 2, "aaaa": 2, "aaaaa": 3, "aaaaaa": 3}

    docs2 = spark.createDataFrame([(1, ".+ .+ .+ .+")], "doc_id bigint, text string")
    m2 = train_bpe(docs2, n_merges=1)
    assert [(m2[0][1], m2[0][2])] == [(".", "+")]
    w2 = spark.createDataFrame([(".+",), ("x+",), ("ab",)], "w string")
    got2 = {r["w"]: r["n_pieces"] for r in encode_pieces(w2, m2).collect()}
    # '.' must not match 'x'; '+' must not quantify
    assert got2 == {".+": 1, "x+": 2, "ab": 2}


def test_grouped_rank_matches_per_group_window(spark):
    """grouped_rank must reproduce per-group row_number exactly (and
    report exact group counts) while ranking all groups in one job."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csdid_pyspark_spark.operators.packing import grouped_rank, release_cache

    rows = [
        ("a", i, float((i * 37) % 11)) for i in range(200)
    ] + [
        ("b", i, float((i * 13) % 7)) for i in range(55)
    ] + [
        ("c", 0, 1.0)
    ]
    df = spark.createDataFrame(rows, "cell string, id long, y double")
    gr = grouped_rank(df, ["cell"], ["y", "id"], rank_col="rn", num_partitions=5)
    got = {
        (r["cell"], r["id"]): r["rn"] for r in gr.df.collect()
    }
    release_cache(gr.df)
    w = Window.partitionBy("cell").orderBy("y", "id")
    want = {
        (r["cell"], r["id"]): r["rn"]
        for r in df.select("cell", "id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want
    assert gr.group_counts == {("a",): 200, ("b",): 55, ("c",): 1}


def test_grouped_rank_sum_col_cumsum_exact(spark):
    """With sum_col, grouped_rank must attach the per-group INCLUSIVE
    cumulative measure and exact per-group totals — matching the
    per-group window cumsum bit-for-bit (DECIMAL path)."""
    from decimal import Decimal

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csdid_pyspark_spark.operators.packing import grouped_rank, release_cache

    rows = [("a", i, float((i * 7) % 23 + 1)) for i in range(97)] + [
        ("b", i, float((i * 3) % 5 + 1)) for i in range(31)
    ]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    gr = grouped_rank(df, ["g"], ["id"], sum_col="w", num_partitions=4)
    got = {(r["g"], r["id"]): r["cum_w"] for r in gr.df.collect()}
    release_cache(gr.df)
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["id"]): r["cw"]
        for r in df.select(
            "g", "id",
            F.sum(F.col("w").cast("decimal(38,6)")).over(w).alias("cw"),
        ).collect()
    }
    assert got == want
    assert gr.group_sums == {
        ("a",): Decimal(sum((i * 7) % 23 + 1 for i in range(97))),
        ("b",): Decimal(sum((i * 3) % 5 + 1 for i in range(31))),
    }


def test_groupby_weighted_median_vs_pandas(spark):
    """Lower weighted median per flag must match a direct pandas
    computation on the same definition (smallest value with 2*cum >=
    total weight)."""
    import pandas as pd

    from csdid_pyspark_spark.queries.relational import groupby_weighted_median

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in groupby_weighted_median(spark, sf).collect()
    }
    pdf = pd.read_parquet(
        f"{sf}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity"],
    )
    for flag, g in pdf.groupby("l_returnflag"):
        byv = (
            g.groupby("l_extendedprice")["l_quantity"].sum().sort_index()
        )
        cum = byv.cumsum()
        tot = float(byv.sum())
        med = float(cum.index[(2 * cum >= tot).to_numpy().argmax()])
        r = got[flag]
        assert r["total_weight"] == pytest.approx(tot, abs=1e-6)
        assert r["wmedian"] == pytest.approx(med, abs=1e-6)


def test_hard_negatives_vs_numpy(spark):
    """Margins must match a direct numpy computation: hardest
    different-label cosine vs nearest same-label cosine per probe."""
    import numpy as np
    import pandas as pd

    from csdid_pyspark_spark.queries.estimation_ext import sim_hard_negatives

    sf = "/root/testdata/sf0.001"
    got = {r["l_id"]: r for r in sim_hard_negatives(spark, sf).collect()}
    pdf = pd.read_parquet(f"{sf}/embeddings.parquet")
    V = np.stack(pdf["embedding"].to_numpy()).astype(float)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    probe_mask = ids % 50 == 2
    pool_mask = ~probe_mask
    assert set(got) == set(ids[probe_mask].tolist())
    for i in np.flatnonzero(probe_mask):
        cos = V[pool_mask] @ V[i]
        pid, plab = ids[pool_mask], labels[pool_mask]
        same = plab == labels[i]
        r = got[ids[i]]
        # ties broken by smallest r_id: sort by (-cos, id)
        def best(mask):
            order = np.lexsort((pid[mask], -cos[mask]))
            return cos[mask][order[0]], pid[mask][order[0]]
        if same.any():
            c, j = best(same)
            assert r["pos_id"] == j and r["pos_cos"] == round(float(c), 5)
        if (~same).any():
            c, j = best(~same)
            assert r["neg_id"] == j and r["neg_cos"] == round(float(c), 5)
        if same.any() and (~same).any():
            assert r["margin"] is not None


def test_grouped_rank_sum_col_null_prefix_carries_base(spark):
    """A partition slice whose leading sum_col values are NULL must
    still carry the prior partitions' cumulative base instead of
    nulling cum_<sum_col>."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csdid_pyspark_spark.operators.packing import grouped_rank, release_cache

    rows = [("g", i, None if 40 <= i < 60 else float(i % 7 + 1)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    gr = grouped_rank(df, ["g"], ["id"], sum_col="w", num_partitions=5)
    got = {r["id"]: r["cum_w"] for r in gr.df.collect()}
    release_cache(gr.df)
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["cw"]
        for r in df.select(
            "id", F.sum(F.col("w").cast("decimal(38,6)")).over(w).alias("cw")
        ).collect()
    }
    assert all(got[i] is not None for i in range(40, 100))
    assert got == want


@pytest.mark.slow  # 5-16 s each; tiered out of the budgeted default gate
def test_ivfpq_recall_and_determinism(spark):
    """IVF-PQ (probe restriction + residual ADC + exact re-rank) must
    recover the exact L2 top-10 on the sf0.01 corpus at the query
    settings (this near-uniform synthetic corpus needs 6/8 probes —
    IVF's worst case; the gate is >= 0.9), and the coarse quantizer
    must produce identical assignments under a different partitioning
    (decimal-exact centroid means)."""
    from csdid_pyspark_spark.operators.ivfpq import coarse_kmeans, ivfpq_topk

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").filter(
        F.col("vec_id") != 0
    )
    q = [
        float(x)
        for x in load_table(spark, "/root/testdata/sf0.01", "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(x) for x in q]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = {
        r["vec_id"]
        for r in emb.select("vec_id", d2.alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    }
    got = {
        r["vec_id"]
        for r in ivfpq_topk(
            emb, q, n_cells=8, n_probe=6, m=16, k_codes=32, iters=3,
            n_candidates=90, k_out=10,
        ).collect()
    }
    recall = len(exact & got) / 10
    assert recall >= 0.9, f"IVF-PQ recall too low: {recall}"

    a1 = {r["vec_id"]: r["cell"] for r in coarse_kmeans(emb, k=8, iters=3)[0].collect()}
    a2 = {
        r["vec_id"]: r["cell"]
        for r in coarse_kmeans(emb.repartition(13), k=8, iters=3)[0].collect()
    }
    assert a1 == a2  # partitioning-independent coarse assignments


@pytest.mark.slow  # 5-16 s each; tiered out of the budgeted default gate
def test_ivfpq_persisted_probe_matches_inmemory_and_prunes(spark, tmp_path):
    """write_ivfpq_index + probe_ivfpq_index (the r8 build-once /
    probe-many path): the probe from storage must return exactly what
    the in-memory ivfpq_topk returns at identical settings, and its
    physical plan must prune the codes scan to the probed cells
    (PartitionFilters on the `cell` partition column)."""
    from csdid_pyspark_spark.operators.ivfpq import (
        ivfpq_topk,
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") != 0)
    q = [
        float(x)
        for x in load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]
    idx = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, idx, n_cells=8, m=16, k_codes=32, iters=3)

    kw = dict(n_probe=6, n_candidates=90, k_out=10)
    got = probe_ivfpq_index(spark, idx, q, emb, **kw)
    want = ivfpq_topk(
        emb, q, n_cells=8, m=16, k_codes=32, iters=3, **kw
    ).collect()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]

    # partition pruning: the codes scan must carry a PartitionFilters
    # entry on `cell` restricting to the probed cells
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters, f"no PartitionFilters in plan:\n{plan[:2000]}"
    assert any("cell" in f for f in filters), filters

    # probe cost is decoupled from build cost: a second probe reuses
    # the stored index without retraining (different query settings)
    again = probe_ivfpq_index(spark, idx, q, emb, n_probe=3,
                              n_candidates=40, k_out=5)
    assert len(again.collect()) == 5


def test_postings_index_probe_matches_between_and_skips_corpus_exchange(spark, tmp_path):
    """build_postings_index + jaccard_pairs_against_index (the r8
    maintained-index path behind dedup_incremental) must return exactly
    what jaccard_pairs_between computes from scratch, and the corpus
    side of the intersection join must come straight off the bucketed
    scan — the only Exchanges in the plan are delta-side (the 100 TB
    contract: the index shuffle was paid at build time)."""
    from csdid_pyspark_spark.cache import release_cache

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, sf, "documents")
    delta = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    table = "t_postings_idx_test"
    try:
        dedup.build_postings_index(
            corpus, table, str(tmp_path / "idx"), n=3, max_df=50
        )
        got_df = dedup.jaccard_pairs_against_index(
            delta, table, str(tmp_path / "idx"), n=3, threshold=0.5
        )
        got = {(r["delta_id"], r["corpus_id"], r["jaccard"]) for r in got_df.collect()}
        want_df = dedup.jaccard_pairs_between(
            delta, corpus, n=3, threshold=0.5, max_df=50
        )
        want = {(r["delta_id"], r["corpus_id"], r["jaccard"]) for r in want_df.collect()}
        assert got == want and want  # identical, non-trivial
        # corpus postings reach the shingle join without their own
        # shuffle: no Exchange directly above the bucketed table scan
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        import re

        scan_lines = [
            ln for ln in plan.splitlines() if table in ln and "Scan" in ln
        ]
        assert scan_lines, plan[:1500]
        assert re.search(r"Bucketed: true", plan), "bucketed scan not used"
        release_cache(got_df)
        release_cache(want_df)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_label_propagation_splits_bridged_cliques(spark):
    """Two 5-cliques joined by a single bridge edge: connected
    components would merge them into one blob, deterministic LPA
    gives each clique its own community (the min member's label) and
    assigns the bridge endpoints to their home cliques. Determinism:
    two runs agree row-for-row."""
    from csdid_pyspark_spark.operators.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique([1, 2, 3, 4, 5]) + clique([10, 11, 12, 13, 14]) + [(5, 10)]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["label"] for r in label_propagation(pairs, iters=4).collect()}
    assert set(got) == set(range(1, 6)) | set(range(10, 15))
    # each clique collapses to a single label; the two labels differ
    lab_a = {got[n] for n in range(1, 6)}
    lab_b = {got[n] for n in range(10, 15)}
    assert len(lab_a) == 1 and len(lab_b) == 1
    assert lab_a != lab_b
    again = {r["node"]: r["label"] for r in label_propagation(pairs, iters=4).collect()}
    assert again == got


@pytest.mark.slow  # 5-16 s each; tiered out of the budgeted default gate
def test_ivfpq_batch_probe_parity_and_pruning(spark, tmp_path):
    """probe_ivfpq_index_batch (round-9 production retrieval pass):
    per-query results must be IDENTICAL to looping
    probe_ivfpq_index with the same parameters, the single codes scan
    must still be partition-pruned to the union of probed cells, and
    the output ordering must be deterministic."""
    import re

    from csdid_pyspark_spark.operators.ivfpq import (
        probe_ivfpq_index,
        probe_ivfpq_index_batch,
        write_ivfpq_index,
    )

    sf = "/root/testdata/sf0.01"
    all_emb = load_table(spark, sf, "embeddings")
    qrows = all_emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]
    emb = all_emb.filter(F.col("vec_id") >= 3)
    idx = str(tmp_path / "ivfpq_batch")
    write_ivfpq_index(emb, idx, n_cells=8, m=16, k_codes=32, iters=3)

    kw = dict(n_probe=4, n_candidates=60, k_out=7)
    batch = probe_ivfpq_index_batch(spark, idx, queries, emb, **kw)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["d2"]))
    assert set(got) == {q for q, _ in queries}
    for qid, qv in queries:
        want = [
            (r["vec_id"], r["d2"])
            for r in probe_ivfpq_index(spark, idx, qv, emb, **kw).collect()
        ]
        assert got[qid] == want, qid

    plan = batch._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters and any("cell" in f for f in filters), filters

    # no single-reducer window: every Window in the plan is qid-
    # partitioned (hashpartitioning), never SinglePartition
    assert "SinglePartition" not in plan

    with pytest.raises(ValueError, match="empty query list"):
        probe_ivfpq_index_batch(spark, idx, [], emb)
