"""Self-test of the benchmark at a tiny load (about 4 minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, each in a fresh benchmark process:

- every workload, untraced, prints a correct result with exactly the
  end-to-end metric keys; one traced run prints the per-layer keys;
- a planted wrong row (ingest and query mix) and a dropped file (ingest)
  are reported as failures, with exit code 1;
- in a directory holding only ``BENCHMARK.json`` and the benchmark's own
  files, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, WORKLOADS  # noqa: E402
from perfbench.trace import LAYER_METRICS  # noqa: E402


def bench(cwd: str, workload: str, trace: int = 0, plant: str = "") -> tuple[int, dict | None]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--plant", plant,
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and "correct" not in result:
        result = None
    return proc.returncode, result


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        rc, r = bench(ROOT, w)
        expect(
            rc == 0 and r is not None and r["correct"] and r["failed"] == 0
            and r["attempted"] >= 1 and set(r["metrics"]) == set(E2E_UNITS),
            f"{w}: correct result with the end-to-end keys",
        )
    rc, r = bench(ROOT, "ingest_backfill", trace=1)
    expect(
        rc == 0 and r is not None and set(r["metrics"]) == set(LAYER_METRICS),
        "ingest_backfill --trace 1: the per-layer keys",
    )
    for w, plant in (
        ("ingest_backfill", "wrong_row"),
        ("ingest_backfill", "drop_file"),
        ("ingest_trickle", "wrong_row,drop_file"),
        ("query_mix", "wrong_row"),
    ):
        rc, r = bench(ROOT, w, plant=plant)
        expect(
            rc == 1 and r is not None and not r["correct"] and r["failed"] >= 1,
            f"{w} with {plant}: reported as failed",
        )
    empty = os.path.join(ROOT, ".perfbench_run", "selftest-empty")
    shutil.rmtree(empty, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(empty, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), empty)
    try:
        rc, r = bench(empty, "query_mix")
    finally:
        shutil.rmtree(os.path.dirname(empty), ignore_errors=True)
    expect(rc != 0 and r is None, "benchmark files alone: non-zero exit, no result")
    print("self-test", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
