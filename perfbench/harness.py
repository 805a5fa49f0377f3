"""One benchmark run: set-up, a cold job, then a closed loop of jobs.

Everything is timed from outside the program, around calls into its public
functions. See run.py for the command line and the output contract.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback

from workloads import WORKLOADS

MIN_JOBS = 2  # per timed series, even when --seconds is already spent
# A traced round is an untraced plus a traced job; one keeps a traced did
# run (cold job + two jobs) well inside the 180 s a run may take.
MIN_TRACED_ROUNDS = 1

# The traced run's spans (tracing.py). Each reports its self time, named
# "<span>.s" unless TIME_NAMES says otherwise, and its own Spark counts.
SPANS = ("sources.scan", "did.preprocess", "did.cells", "did.kernels", "did.linalg.irls",
         "did.fit", "did.mboot", "did.aggte", "did.pretrend", "dedup.lsh", "dedup.components",
         "dedup.keep")
TIME_NAMES = {
    "sources.scan": "sources.scan_s",
    "did.fit": "did.fit.self_s",
    "did.aggte": "did.aggte.self_s",
}
SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
COUNTS = ("sources.scan_rows", "did.cells.rows", "did.linalg.irls.iters", "did.fit.if_rows",
          "did.mboot.calls", "did.mboot.sign_evals", "did.aggte.if_rows",
          "dedup.lsh.candidates", "dedup.lsh.verified")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in BENCHMARK.json order."""
    names = ["cold_job_s", "session.start_s", "input.generate_s"]
    for span in SPANS:
        names.append(TIME_NAMES.get(span, f"{span}.s"))
        names.extend(f"{span}.{k}" for k in SPARK_COUNTS)
    names += list(COUNTS)
    names += ["did.mboot.sign_evals_per_s", "dedup.lsh.yield", "dedup.components.rounds",
              "cache.live_rdds", "cache.live_rdds_growth", "jvm_rss_mib", "trace.overhead_s",
              "trace.coverage", "failed_frac", "host.cpu_canary_ms", "host.membw_s_per_gb"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    for suffix, unit in (("_mib", "MiB"), ("_ms", "ms"), ("_per_gb", "s/GB")):
        if name.endswith(suffix):
            return unit
    if name in ("dedup.lsh.yield", "trace.coverage", "failed_frac"):
        return "ratio"
    return "count"


def start_session(cpus: int):
    from csdid_pyspark_spark.session import get_spark

    return get_spark(cpus=cpus)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited, so
    the next start launches a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def _status_kib(path: str, key: str) -> float:
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return float("nan")


def reset_peak_rss() -> bool:
    """Reset this process's peak-RSS mark (Linux clear_refs), so the peak
    read later covers only the jobs, not the input generation."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def driver_peak_rss_mib() -> float:
    return _status_kib("/proc/self/status", "VmHWM") / 1024


def jvm_peak_rss_mib() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        return _status_kib(f"/proc/{proc.pid}/status", "VmHWM") / 1024
    except (AttributeError, OSError):
        return float("nan")


def live_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def host_canary() -> dict:
    """Host-speed probes from the repo's own bench.py, taken once per run
    (after the driver's peak RSS was read: the bandwidth probe allocates
    512 MB)."""
    from bench import _cpu_canary_ms, _membw_s_per_gb

    return {"cpu_canary_ms": _cpu_canary_ms(), "membw_s_per_gb": _membw_s_per_gb()}


class Runner:
    """Runs jobs of one workload against one input, checking each."""

    def __init__(self, wl, gen, spark, input_dir: str, corrupt: float):
        self.wl, self.gen, self.spark, self.input_dir = wl, gen, spark, input_dir
        self.corrupt = corrupt
        self.ref = None
        self.attempted = self.failed = 0
        self.live_rdds: list[int] = []
        self.errors: list[str] = []
        self.observed = None

    def job(self, tracer=None):
        """One job, timed; returns (seconds, layer metrics or None)."""
        self.attempted += 1
        layers = None
        gc.collect()  # no collection of earlier jobs' garbage inside the timed region
        try:
            if tracer is None:
                t0 = time.perf_counter()
                out = self.wl.job(self.spark, self.input_dir)
                wall = time.perf_counter() - t0
            else:
                out, wall, layers = tracer.run_job(self.wl.job, self.spark, self.input_dir)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            print(self.errors[-1], file=sys.stderr)
            return None, None
        finally:
            self.live_rdds.append(live_rdds(self.spark))
        errs = self.wl.check(out, self.gen, self.ref, self.corrupt)
        self.observed = out.get("observed")
        if errs:
            self.failed += 1
            self.errors.append("; ".join(errs))
            print(f"check failed: {self.errors[-1]}", file=sys.stderr)
        elif self.ref is None:
            self.ref = out
        return wall, layers


def _median_metrics(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def run(args, work) -> tuple[dict, dict]:
    import pyspark

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    input_dir = str(work / "input")

    t0 = time.perf_counter()
    spark = start_session(cpus)
    t1 = time.perf_counter()
    gen = wl.generate(args.seed, args.size, input_dir)
    t2 = time.perf_counter()

    try:
        rss_reset = reset_peak_rss()
        r = Runner(wl, gen, spark, input_dir, args.corrupt)
        cold, _ = r.job()
        plain, traced, layer_rows = [], [], []
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        min_rounds = MIN_JOBS if tracer is None else MIN_TRACED_ROUNDS
        deadline = time.perf_counter() + args.seconds
        rounds = 0
        while rounds < min_rounds or time.perf_counter() < deadline:
            rounds += 1
            wall, _ = r.job()
            if wall is not None:
                plain.append(wall)
            if tracer is not None:
                tracer.install()
                try:
                    wall, layers = r.job(tracer)
                finally:
                    tracer.uninstall()
                if wall is not None:
                    traced.append(wall)
                    layer_rows.append(layers)
            if r.attempted > 4 * min_rounds and r.failed == r.attempted:
                break  # every job fails: stop early, the result says so
        driver_rss = driver_peak_rss_mib()
        jvm_rss = jvm_peak_rss_mib()
        canary = host_canary()
    finally:
        stop_session(spark)

    if cold is None or not plain or (args.trace and not traced):
        raise RuntimeError("no timed job completed: " + " | ".join(r.errors[:3]))
    job_s = statistics.median(plain)
    info = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "cpus": cpus,
        "master": f"local[{cpus}]", "pyspark": pyspark.__version__, "input": gen.dims,
        "jobs_timed": len(plain), "jobs_traced": len(traced),
        "cold_job_s": cold, "job_times_s": [round(x, 4) for x in plain],
        "live_rdds_per_job": r.live_rdds, "peak_rss_covers": "jobs" if rss_reset else "process",
        "host_canary": canary, "observed": r.observed, "errors": r.errors[:5],
    }
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
    }
    if not args.trace:
        result["metrics"] = {
            "job_s": {"value": job_s, "unit": "s"},
            "setup_s": {"value": t2 - t0, "unit": "s"},
            "driver_rss_mib": {"value": driver_rss, "unit": "MiB"},
        }
        return info, result

    lm = _median_metrics(layer_rows)
    traced_s = statistics.median(traced)
    m = {
        "cold_job_s": cold,
        "session.start_s": t1 - t0,
        "input.generate_s": t2 - t1,
    }
    for span in SPANS:
        m[TIME_NAMES.get(span, f"{span}.s")] = lm.get(f"{span}.self_s", 0.0)
        for k in SPARK_COUNTS:
            m[f"{span}.{k}"] = lm.get(f"{span}.{k}", 0)
    for k in COUNTS:
        m[k] = lm.get(k, 0)
    mb_s = m["did.mboot.s"]
    m["did.mboot.sign_evals_per_s"] = m["did.mboot.sign_evals"] / mb_s if mb_s else 0.0
    cand = m["dedup.lsh.candidates"]
    m["dedup.lsh.yield"] = m["dedup.lsh.verified"] / cand if cand else 0.0
    m["dedup.components.rounds"] = max(0, lm.get("dedup.components.checkpoints", 0) - 1)
    m["cache.live_rdds"] = r.live_rdds[-1] if r.live_rdds else 0
    m["cache.live_rdds_growth"] = r.live_rdds[-1] - r.live_rdds[0] if r.live_rdds else 0
    m["jvm_rss_mib"] = jvm_rss
    m["trace.overhead_s"] = traced_s - job_s
    m["trace.coverage"] = lm.get("trace.coverage", 0.0)
    m["failed_frac"] = r.failed / r.attempted
    m["host.cpu_canary_ms"] = canary["cpu_canary_ms"]
    m["host.membw_s_per_gb"] = canary["membw_s_per_gb"]
    metrics = {name: {"value": float(m[name]), "unit": unit_of(name)}
               for name in per_layer_names()}
    info["traced_job_s"] = traced_s
    info["layer_share_of_job_s"] = {
        k: round(v / job_s, 4) for k, v in m.items()
        if unit_of(k) == "s" and k.startswith(("sources.", "did.", "dedup."))
    }
    result["metrics"] = metrics
    return info, result
