"""Benchmark entry point.

    python3 perfbench/run.py --workload did_dr_boot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run starts a local[N] SparkSession
(N = the cores this process may use), generates the seeded input and
writes it to parquet (set-up), runs one cold job, then runs jobs back to
back for ``--seconds`` seconds, one client in a closed loop, checking every
job's output. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(which alternates untraced and traced jobs). The line before it is an
``info`` object: N, seed, pyspark version, input dimensions, host canary,
per-job cache counts. Everything the run writes lives under
``.bench_build/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("did_dr_boot", "llm_dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", type=float, default=0.0,
                   help="shift the planted truth the checks expect (self-test)")
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Point every temporary file the run makes (Python, Spark local dirs,
    the JVM's tmpdir) inside ``work``."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java}".strip()
    tempfile.tempdir = str(tmp)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "csdid_pyspark_spark" / "__init__.py").is_file():
        print(f"perfbench: no csdid_pyspark_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".bench_build" / f"perfbench-{os.getpid()}"
    isolate(work)
    sys.path.insert(0, str(ROOT))
    from harness import run

    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
