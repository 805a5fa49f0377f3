"""Batch-projection gate queries for the Structured Streaming operators.

The driver's correctness gate runs batch queries only, so until round 5
the streaming operators (streaming/events.py) were pinned exclusively by
pytest batch-equivalence tests. These queries put each streaming op
under the SAME external DuckDB-oracle gate as every batch operator: the
query RUNS THE REAL STREAM (``trigger(availableNow=True)`` over the
parquet testdata — the identical operator graph a live file/Kafka
stream executes, including watermarks, state stores, and
``applyInPandasWithState``) into a memory sink, then returns a small
DETERMINISTIC projection of the drained stream's final state. The
oracle is the ANSI-SQL batch equivalent over the same table — the
equivalence each pytest asserts, now hash-checked externally per round.

Determinism notes (why each projection is replay-stable):

* The events/documents sources are ONE parquet file each, and
  ``availableNow`` with the default ``maxFilesPerTrigger`` drains them
  in a single micro-batch, so update-mode state emissions happen
  exactly once per key. The projections still guard against a
  multi-batch split: cumulative counters are folded with ``max()``
  (monotone), and append-mode outputs are aggregated over the full
  sink table.
* The stateful Misra-Gries stream emits ESTIMATES that depend on Arrow
  chunk boundaries, so the projection applies the standard exact-
  recount upgrade: candidates are joined back to exact batch counts and
  filtered to the guaranteed-frequency threshold, which is a
  deterministic function of the data for ANY candidate superset the
  stream produces (MG guarantees every above-threshold item is a
  candidate; below-threshold candidates are filtered out).

Memory-sink tables get a uuid-suffixed name per invocation (a repeated
run in a shared session must not collide with a finished query's
registered view); checkpoint/work dirs are process-temp and removed
after the stream drains.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csdid_pyspark_spark.sources.tables import load_table
from csdid_pyspark_spark.streaming.events import (
    dedup_stream,
    enrich_stream,
    incremental_refresh,
    join_stream_pairs,
    mg_stream_heavy_hitters,
    sessionize_stream,
    stream_events,
    windowed_counts,
)

QUERIES: dict = {}
ORACLES: dict = {}


# spark.sql.shuffle.partitions is session-global: drains that overlap
# must not interleave their override and restore
_SHUFFLE_OVERRIDE = threading.Lock()


def _run_stream(sdf: DataFrame, output_mode: str, timeout: int = 300):
    """Run a streaming frame to completion into a fresh memory sink and
    return ``(finished query, sink name)``. availableNow processes
    everything the source has and stops — the batch-bounded way to
    execute the true streaming operator graph (state store, watermark
    bookkeeping and all).

    State-store sizing: a stateful streaming query fixes its state
    partition count from ``spark.sql.shuffle.partitions`` AT START and
    keeps it for the checkpoint's lifetime. The gate streams' state
    key spaces are bounded (event types × hourly windows, session
    users, dedup keys at test scale), so the session-wide 32 buys no
    parallelism and costs 32 state-store instances + 32 tasks per
    stateful stage per micro-batch of pure launch overhead. The count
    is env-parameterised (``SPARK_GRAFT_STREAM_SHUFFLE``, default 8
    locally); a production deployment sizes it to its expected key
    cardinality / throughput and sets the var (or conf) accordingly.
    The override holds a module lock until the drain ends and the
    session value is restored, so concurrent drains each see it and
    nothing outlives them."""
    spark = sdf.sparkSession
    n_state = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
    name = f"sg_{uuid.uuid4().hex[:12]}"
    with _SHUFFLE_OVERRIDE:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            # awaitTermination returns False on timeout WITHOUT raising — a
            # partially-drained sink would then be hash-compared as if
            # complete (misreported as a correctness divergence) while the
            # query leaks into the shared session. Stop it and fail loudly.
            if not q.awaitTermination(timeout):
                q.stop()
                raise TimeoutError(
                    f"streaming drain {name!r} did not finish within {timeout}s"
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return q, name


def _drain_to_table(sdf: DataFrame, output_mode: str, timeout: int = 300) -> DataFrame:
    """Drain a streaming frame (``_run_stream``); return the sink table."""
    return sdf.sparkSession.table(_run_stream(sdf, output_mode, timeout)[1])


# ---------------------------------------------------------------------------
# 1. Watermarked tumbling-window rollup
# ---------------------------------------------------------------------------


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly windowed counts/sums per event type, computed BY THE
    STREAMING operator (streaming/events.py::windowed_counts) drained
    with availableNow. Complete output mode so the trailing windows the
    append-mode watermark would hold back are emitted too — the drained
    result must equal the batch GROUP BY exactly."""
    out = _drain_to_table(windowed_counts(stream_events(spark, sf_dir)), "complete")
    return out.select(
        # STRING window key: a TIMESTAMP would be re-rendered in the
        # collecting process's local zone and diverge from the naive
        # wall-clock oracle on any non-UTC driver host
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value",
    ).orderBy("window_start", "event_type")


STREAM_WINDOWED_SQL = """
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# 2. Stateful sessionizer (applyInPandasWithState)
# ---------------------------------------------------------------------------


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session/event totals from the CUSTOM STATEFUL operator
    (applyInPandasWithState, 30-min gap), drained with availableNow.
    Update mode emits each user's running totals once per micro-batch;
    the counters are monotone, so ``max`` folds multi-batch emissions
    to the final state (single-file source → exactly one anyway)."""
    out = _drain_to_table(
        sessionize_stream(stream_events(spark, sf_dir), gap_minutes=30.0), "update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_sessions").cast("bigint").alias("n_sessions"),
            F.max("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# Strict-> gap comparison mirrors the stateful fn's `t - last > gap_us`
# (a gap of exactly 30:00 continues the session on both sides).
STREAM_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev IS NULL
                      OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM o GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# 3. Bounded-state streaming dedup
# ---------------------------------------------------------------------------


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) via
    ``dropDuplicatesWithinWatermark`` — the bounded-state dedup a
    100 TB/day ingest runs. The drained sink holds one survivor per
    distinct key; WHICH event survives is arrival-order-dependent, so
    the projection counts DISTINCT keys per event_type (the
    deterministic part and the part an ingest pipeline reports).
    countDistinct — not count(*) — because across multiple
    micro-batches ``dropDuplicatesWithinWatermark`` may re-emit a key
    recurring past the watermark horizon (the documented
    at-least-once tradeoff); the distinct fold keeps the projection
    batch-split-invariant."""
    out = _drain_to_table(
        dedup_stream(stream_events(spark, sf_dir), keys=["user_id", "event_type"]),
        "append",
    )
    return (
        out.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_distinct_users"))
        .orderBy("event_type")
    )


STREAM_DEDUP_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# 4. Stream-static broadcast enrichment
# ---------------------------------------------------------------------------


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT join of the event stream against the customer
    dimension (user_id = c_custkey; unmatched users fall into the NULL
    segment), rolled up per market segment in complete mode — the
    standard per-micro-batch broadcast enrichment, drained. Sum of
    ``value`` rides through the exact DECIMAL accumulator so partial-
    aggregation order can't move the hash."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_stream(stream_events(spark, sf_dir), dim)
    out = _drain_to_table(
        enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("sum_value"),
        ),
        "complete",
    )
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("segment")


STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ev.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events ev LEFT JOIN customer c ON ev.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# 5. Watermarked stream-stream join
# ---------------------------------------------------------------------------


def stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs from the WATERMARKED
    STREAM-STREAM join (both sides stateful, event-time-bounded),
    drained with availableNow — a single batch holds the whole horizon,
    so every true pair is emitted. Projection: pair count, distinct
    converting users, exact summed click→purchase delay (integer
    seconds: fp-order-proof)."""
    out = _drain_to_table(
        join_stream_pairs(stream_events(spark, sf_dir), within_minutes=60), "append"
    )
    return out.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        # exact integer microseconds — a seconds-level floor/round would
        # diverge between engines on sub-second timestamps
        F.sum(F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .cast("bigint")
        .alias("sum_delay_us"),
    )


STREAM_JOIN_PAIRS_SQL = """
WITH c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(delay_us) AS BIGINT) AS sum_delay_us
FROM pairs
"""


# ---------------------------------------------------------------------------
# 6. Incremental refresh (foreachBatch materialized view)
# ---------------------------------------------------------------------------


def stream_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: foreachBatch lands each micro-batch
    idempotently (overwrite-by-batch-id) and recomputes daily
    per-event-type counts over everything accumulated; after the stream
    drains, the LAST refresh equals the batch answer. The recompute
    collects its (days × types) result inside the callback so the
    temp accumulation dir can be removed before returning."""
    work = tempfile.mkdtemp(prefix="sg_refresh_")
    try:
        rows = incremental_refresh(
            stream_events(spark, sf_dir),
            lambda acc: (
                acc.groupBy(
                    F.to_date("ts").alias("day"), "event_type"
                )
                .agg(F.count("*").cast("bigint").alias("n_events"))
                .collect()
            ),
            work,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "day date, event_type string, n_events bigint"
    ).orderBy("day", "event_type")


STREAM_REFRESH_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# 7. Bounded-state streaming heavy hitters (Misra-Gries + exact recount)
# ---------------------------------------------------------------------------

MG_STREAM_K = 8
MG_STREAM_BUCKETS = 32


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent-token candidates from the STATEFUL
    STREAMING sketch (bounded buckets·k state) over the streamed
    documents' tokens, upgraded to exact counts: candidates join back
    to the exact batch counts and only items above the per-bucket
    guarantee threshold (freq·(k+1) > bucket_n) survive. MG guarantees
    every above-threshold item is a candidate and the filter drops
    every below-threshold one, so the output is a deterministic
    function of the corpus for ANY candidate superset the stream
    emits (Arrow chunking may vary the estimates; never the upgraded
    set). Items are xxhash64 token hashes — no ANSI rendering, so the
    oracle is a pinned VALUES golden."""
    doc_stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = doc_stream.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    cand = _drain_to_table(
        mg_stream_heavy_hitters(toks, "token", k=MG_STREAM_K, buckets=MG_STREAM_BUCKETS),
        "update",
    )
    # update mode may emit a bucket's summary once per micro-batch.
    # bucket_n must be the BUCKET-level final total, not a per-item
    # max: an item evicted from the MG summary after an early batch
    # would otherwise keep that batch's smaller bucket_n and pass the
    # guarantee filter at a stale threshold, making the output depend
    # on where the batch boundaries fell.
    bucket_totals = (
        cand.groupBy("bucket")
        .agg(F.max("bucket_n").alias("bn"))
        .withColumnRenamed("bucket", "b2")  # avoid self-join ref conflict
    )
    cand_final = (
        cand.select("bucket", "item")
        .distinct()
        .join(F.broadcast(bucket_totals), F.col("bucket") == F.col("b2"))
        .select("bucket", "item", F.col("bn").alias("bucket_n"))
    )
    d = load_table(spark, sf_dir, "documents")
    exact = (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .select(F.xxhash64(F.col("token").cast("string")).alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("exact_n"))
    )
    return (
        cand_final.join(exact, "item")
        .filter(F.col("exact_n") * (MG_STREAM_K + 1) > F.col("bucket_n"))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("item").cast("bigint").alias("item"),
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.col("bucket_n").cast("bigint").alias("bucket_n"),
        )
        .orderBy("bucket", "item")
    )


# ---------------------------------------------------------------------------
# 8. Streaming CDC materialization (latest-wins upsert + tombstones)
# ---------------------------------------------------------------------------


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state table materialized BY THE STREAMING CDC operator
    (streaming/events.py::cdc_state_stream — applyInPandasWithState,
    one latest-wins tuple per key) drained with availableNow, then
    projected to MERGE semantics: tombstoned keys dropped, per-key op
    audit counts kept. Update mode re-emits a key's snapshot each
    micro-batch, so the projection folds to the row with the maximal
    (monotone) n_ops per key before filtering — deterministic for any
    batch split. Oracle: the batch CDC apply's SQL (the stream/batch
    equivalence is the pinned claim)."""
    from csdid_pyspark_spark.streaming.events import cdc_state_stream, stream_events

    out = _drain_to_table(cdc_state_stream(stream_events(spark, sf_dir)), "update")
    w_latest = (
        F.struct(F.col("n_ops"), F.col("last_op"), F.col("current_value"), F.col("n_deletes"))
    )
    folded = (
        out.groupBy("user_id")
        .agg(F.max(w_latest).alias("s"))
        .select(
            "user_id",
            F.col("s.last_op").alias("last_op"),
            F.col("s.current_value").alias("current_value"),
            F.col("s.n_ops").alias("n_ops"),
            F.col("s.n_deletes").alias("n_deletes"),
        )
    )
    return (
        folded.filter(F.col("last_op") != "D")
        .select(
            "user_id",
            "last_op",
            F.round("current_value", 6).alias("current_value"),
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# 9. Streaming PSI drift monitor (streaming agg vs pinned batch reference)
# ---------------------------------------------------------------------------


def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift per event type where the CURRENT side is a real
    streaming aggregation: the second half of the window streams
    through a groupBy(event_type, bin) count (complete mode,
    availableNow drain — the exact monitor a live pipeline runs
    against a pinned reference), the reference side is the first
    half's batch bin counts, and the PSI algebra is identical to
    ``analytics_ext.events_psi_drift`` — so the ORACLE IS THE SAME
    batch SQL, hash-checked: the streaming monitor must reproduce the
    batch monitor exactly. Complete mode is the right shape HERE —
    state is bounded at |types| × 10 bin rows — but it re-emits the
    whole state table every trigger and never evicts, so for
    unbounded key spaces the production shape is the watermarked
    append-mode per-window trace ``_psi_append_core`` below
    (pytest-gated, with state-eviction evidence)."""
    from csdid_pyspark_spark.queries.analytics_ext import EVENTS_PSI_SQL  # noqa: F401
    from csdid_pyspark_spark.sources.tables import load_table

    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    bin_col = F.least(F.lit(9), F.floor(F.col("value") / 50.0)).cast("int")
    # current side: REAL stream over the second half
    cur_stream = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts") >= split)
        .select("event_type", bin_col.alias("b"))
        .groupBy("event_type", "b")
        .count()
    )
    cur = _drain_to_table(cur_stream, "complete").select(
        "event_type", "b", F.col("count").alias("c")
    )
    # reference side: pinned batch counts over the first half
    ref = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < split)
        .select("event_type", bin_col.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count("*").alias("r"))
    )
    types = ref.select("event_type").unionByName(
        cur.select("event_type")
    ).distinct()
    bins = spark.range(10).select(F.col("id").cast("int").alias("b"))
    filled = (
        types.crossJoin(F.broadcast(bins))
        .join(ref, ["event_type", "b"], "left")
        .join(cur, ["event_type", "b"], "left")
        .select(
            "event_type",
            "b",
            F.coalesce("r", F.lit(0)).alias("r"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("r").alias("n_ref"), F.sum("c").alias("n_cur")
    )
    return (
        filled.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            (
                ((F.col("c") + 0.5) / (F.col("n_cur") + 5.0))
                - ((F.col("r") + 0.5) / (F.col("n_ref") + 5.0))
            ).alias("dp"),
            (
                F.log((F.col("c") + 0.5) / (F.col("n_cur") + 5.0))
                - F.log((F.col("r") + 0.5) / (F.col("n_ref") + 5.0))
            ).alias("lr"),
        )
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.round(F.sum(F.col("dp") * F.col("lr")), 6).alias("psi"))
        .select(
            "event_type",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            "psi",
            (F.col("psi") > 0.2).alias("drifted"),
        )
        .orderBy("event_type")
    )


def _psi_append_core(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "6 hours",
    watermark: str = "1 hour",
):
    """Watermarked APPEND-mode PSI monitor — the production shape for
    UNBOUNDED key spaces (complete mode re-emits the whole state table
    every trigger and its state never evicts; fine at |types|×10 rows,
    wrong for high-cardinality keys). The CURRENT side streams through
    a watermarked tumbling-window groupBy(window, type, bin) count in
    APPEND mode: a window's bin counts finalize — and their state rows
    become EVICTABLE — once the watermark passes the window end, so
    state is bounded by (open windows × |types| × 10 bins) regardless
    of stream length. Each emitted window is then scored against the
    PINNED first-half batch reference with the exact Laplace-smoothed
    PSI algebra of ``analytics_ext.events_psi_drift`` — a per-window
    drift TRACE rather than one aggregate number.

    Windows still open at end-of-stream stay in state unemitted (a
    live monitor emits them as the watermark advances past them) —
    which is why this variant is pytest-gated rather than externally
    registered: the complete-mode sibling ``stream_psi_drift`` carries
    the hash-green external contract, and the pytest recomputes every
    EMITTED window in batch and checks bit-equality plus the state
    bound (the rows-oracle analogue, with eviction evidence from the
    final StreamingQueryProgress).

    Returns ``(result_df, state_info)`` with result columns
    (w_start, event_type, n_ref, n_cur, psi, drifted) ordered
    (w_start, event_type), and ``state_info`` = {"rows_total",
    "rows_removed"} from the drain's last progress."""
    import json as _json

    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    bin_col = F.least(F.lit(9), F.floor(F.col("value") / 50.0)).cast("int")
    cur_stream = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts") >= split)
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", duration).alias("w"), "event_type", bin_col.alias("b")
        )
        .count()
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "b",
            F.col("count").alias("c"),
        )
    )
    q, name = _run_stream(cur_stream, "append")
    prog = _json.loads(q.lastProgress.json) if q.lastProgress else {}
    ops = prog.get("stateOperators") or [{}]
    state_info = {
        "rows_total": int(ops[0].get("numRowsTotal", -1)),
        "rows_removed": int(ops[0].get("numRowsRemoved", -1)),
    }
    cur = spark.table(name)
    ref = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < split)
        .select("event_type", bin_col.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count("*").alias("r"))
    )
    # complete every EMITTED window × the union of types × the 10 bins.
    # Both lists are RESULT-SIZED (windows per drain are time-bounded,
    # types are the monitor's key space) and collecting them sidesteps
    # the memory-sink self-join attribute conflict.
    wlist = sorted(
        r["w_start"] for r in cur.select("w_start").distinct().collect()
    )
    tlist = sorted(
        r["event_type"]
        for r in ref.select("event_type")
        .unionByName(cur.select("event_type"))
        .distinct()
        .collect()
    )
    wins = spark.createDataFrame([(w,) for w in wlist], "w_start string")
    types = spark.createDataFrame(
        [(t,) for t in tlist], "event_type string"
    )
    bins = spark.range(10).select(F.col("id").cast("int").alias("b"))
    filled = (
        wins.crossJoin(F.broadcast(types))
        .crossJoin(F.broadcast(bins))
        .join(F.broadcast(ref), ["event_type", "b"], "left")
        .join(cur, ["w_start", "event_type", "b"], "left")
        .select(
            "w_start",
            "event_type",
            "b",
            F.coalesce("r", F.lit(0)).alias("r"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    tot = filled.groupBy("w_start", "event_type").agg(
        F.sum("r").alias("n_ref"), F.sum("c").alias("n_cur")
    )
    out = (
        filled.join(F.broadcast(tot), ["w_start", "event_type"])
        .select(
            "w_start",
            "event_type",
            "n_ref",
            "n_cur",
            (
                ((F.col("c") + 0.5) / (F.col("n_cur") + 5.0))
                - ((F.col("r") + 0.5) / (F.col("n_ref") + 5.0))
            ).alias("dp"),
            (
                F.log((F.col("c") + 0.5) / (F.col("n_cur") + 5.0))
                - F.log((F.col("r") + 0.5) / (F.col("n_ref") + 5.0))
            ).alias("lr"),
        )
        .groupBy("w_start", "event_type", "n_ref", "n_cur")
        .agg(F.round(F.sum(F.col("dp") * F.col("lr")), 6).alias("psi"))
        .select(
            "w_start",
            "event_type",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            "psi",
            (F.col("psi") > 0.2).alias("drifted"),
        )
        .orderBy("w_start", "event_type")
    )
    return out, state_info


def stream_psi_drift_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pytest-gated append-mode PSI trace (see ``_psi_append_core``)."""
    return _psi_append_core(spark, sf_dir)[0]


QUERIES.update(
    {
        "stream_windowed_counts": stream_windowed_counts,
        "stream_sessionize": stream_sessionize,
        "stream_dedup": stream_dedup,
        "stream_enrich": stream_enrich,
        "stream_join_pairs": stream_join_pairs,
        "stream_incremental_refresh": stream_incremental_refresh,
        "stream_heavy_hitters": stream_heavy_hitters,
        "stream_cdc_apply": stream_cdc_apply,
        "stream_psi_drift": stream_psi_drift,
    }
)

from csdid_pyspark_spark.queries.analytics_ext import EVENTS_PSI_SQL as STREAM_PSI_SQL  # noqa: E402
from csdid_pyspark_spark.queries.estimation_ext import CDC_APPLY_SQL  # noqa: E402

ORACLES.update(
    {
        "stream_windowed_counts": STREAM_WINDOWED_SQL,
        "stream_sessionize": STREAM_SESSIONIZE_SQL,
        "stream_dedup": STREAM_DEDUP_SQL,
        "stream_enrich": STREAM_ENRICH_SQL,
        "stream_join_pairs": STREAM_JOIN_PAIRS_SQL,
        "stream_incremental_refresh": STREAM_REFRESH_SQL,
        # stream_heavy_hitters: pinned VALUES golden (golden_values.py)
        "stream_cdc_apply": CDC_APPLY_SQL,
        "stream_psi_drift": STREAM_PSI_SQL,
    }
)
