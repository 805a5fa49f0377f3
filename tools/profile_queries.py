"""Per-query execution profile for the headline bench set.

Runs each headline query once (after the same warmup bench.py does)
with event logging on, then parses the event log to attribute, per
query: job count, stage count, task count, total task time, shuffle
read/write bytes. This separates "few big stages doing real work" from
"dozens of tiny stages paying scheduling overhead" — the distinction
that decides what to optimize at bench scale (guide §1.1).

Usage: python tools/profile_queries.py [query ...]   (default: all headline)
Writes profile.json next to the event logs it parses (EVDIR, which it
recreates on each run) and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    os.makedirs(EVDIR, exist_ok=True)
    import shutil
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    # event-log confs must reach the JVM before it launches: pass them
    # via spark-submit args, which getOrCreate honors on a fresh process
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={EVDIR} --conf spark.eventLog.compress=false "
        "pyspark-shell"
    )
    from csdid_pyspark_spark.session import get_spark
    spark = get_spark("csdid-profile")
    spark.sparkContext.setLogLevel("ERROR")

    from bench import HEADLINE
    from csdid_pyspark_spark.cache import release_cache
    from csdid_pyspark_spark.queries import QUERIES
    from csdid_pyspark_spark.sources.tables import TABLES, load_table

    QUERIES["groupby_count"](spark, sf_dir).collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()

    names = sys.argv[1:] or [n for n in HEADLINE if n in QUERIES]
    walls: dict[str, float] = {}
    # one throwaway pass absorbs per-query codegen; profile the 2nd call
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        release_cache(df)
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        walls[name] = round(time.perf_counter() - t0, 3)
        release_cache(df)
        spark.sparkContext.setJobGroup("idle", "idle")
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # -- parse the event log ------------------------------------------------
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [os.path.join(EVDIR, f) for f in os.listdir(EVDIR)]
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):
        # Spark 4 rolling event log: a directory of events_* part files
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")
        )
    else:
        parts = [path]
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    prof: dict[str, dict] = {
        n: {
            "wall_s": walls.get(n),
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_time_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "gc_s": 0.0,
        }
        for n in names
    }
    import itertools

    def _lines():
        import io

        for p in parts:
            if p.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", p], capture_output=True, check=True
                )
                yield from out.stdout.decode().splitlines()
            else:
                with open(p) as f:
                    yield from f

    for line in _lines():
        if True:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_group[jid] = grp
                if grp in prof:
                    prof[grp]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                grp = job_group.get(stage_job.get(si["Stage ID"], -1), "")
                if grp in prof:
                    prof[grp]["stages"] += 1
            elif e == "SparkListenerTaskEnd":
                grp = job_group.get(stage_job.get(ev["Stage ID"], -1), "")
                if grp in prof:
                    p = prof[grp]
                    p["tasks"] += 1
                    ti = ev.get("Task Info", {})
                    p["task_time_s"] += (
                        ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    ) / 1e3
                    tm = ev.get("Task Metrics") or {}
                    p["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    p["shuffle_read_mb"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    ) / 1e6
                    sw = tm.get("Shuffle Write Metrics") or {}
                    p["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6

    for p in prof.values():
        for k in ("task_time_s", "shuffle_read_mb", "shuffle_write_mb", "gc_s"):
            p[k] = round(p[k], 3)

    out = os.path.join(EVDIR, "profile.json")
    with open(out, "w") as f:
        json.dump(prof, f, indent=1)
    print(f"profile written to {out}")

    rows = sorted(prof.items(), key=lambda kv: -(kv[1]["wall_s"] or 0))
    hdr = f"{'query':32s} {'wall':>6s} {'jobs':>4s} {'stg':>4s} {'tasks':>5s} {'tasktime':>8s} {'shr MB':>7s} {'shw MB':>7s}"
    print(hdr)
    for n, p in rows:
        print(
            f"{n:32s} {p['wall_s']:6.2f} {p['jobs']:4d} {p['stages']:4d} "
            f"{p['tasks']:5d} {p['task_time_s']:8.2f} {p['shuffle_read_mb']:7.2f} {p['shuffle_write_mb']:7.2f}"
        )


if __name__ == "__main__":
    main()
