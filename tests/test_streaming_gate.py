"""The streaming gate's drains override the session-global
``spark.sql.shuffle.partitions`` while a stream runs; overlapping drains
must each see the override and leave the session value as it was."""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor


def test_concurrent_drains_see_stream_shuffle_and_restore_session(spark, tmp_path, monkeypatch):
    from csdid_pyspark_spark.queries.streaming_gate import _run_stream

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "3")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "3"

    def counts(files):
        """A stateful stream over `files` parquet files, one per micro-batch."""
        src = str(tmp_path / f"src{files}")
        spark.range(10 * files).selectExpr("id % 5 AS k").repartition(files).write.parquet(src)
        return (spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src)
                .groupBy("k").count())

    def drain(sdf):
        q, name = _run_stream(sdf, "complete")
        state = json.loads(q.lastProgress.json)["stateOperators"][0]
        return state["numShufflePartitions"], spark.table(name).count()

    short, long = counts(2), counts(6)
    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(drain, short)
        # start the longer drain while the first one's override is in place
        while spark.conf.get("spark.sql.shuffle.partitions") != "3" and not first.done():
            time.sleep(0.01)
        second = pool.submit(drain, long)
        got = [first.result(timeout=300), second.result(timeout=300)]
    assert got == [(3, 5), (3, 5)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
