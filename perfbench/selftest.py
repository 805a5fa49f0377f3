"""Self-test of the benchmark's output checks, at tiny size.

    python3 perfbench/selftest.py

For each workload, one run with the true expectation must count no failed
job, and one run whose expected truth is shifted by 1 (the planted ATT for
the did workload, the planted clique ids for llm_dedup) must count every
job as failed, so each check is shown able to fail. Exits non-zero if
either does not hold.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload: str, corrupt: float) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", "0", "--size", "tiny",
           "--corrupt", str(corrupt)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for workload in ("did_dr_boot", "llm_dedup"):
        good, bad = run(workload, 0.0), run(workload, 1.0)
        frac_good = good["failed"] / good["attempted"]
        frac_bad = bad["failed"] / bad["attempted"]
        passed = good["correct"] and frac_good == 0 and not bad["correct"] and frac_bad == 1
        ok &= passed
        print(f"{workload}: failed_frac true={frac_good:.2f} corrupted={frac_bad:.2f} "
              f"{'ok' if passed else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
