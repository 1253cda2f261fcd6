"""Output-checked benchmark of the eventbridge_etl_spark engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 8 --trace 0

Workloads (inputs are generated from ``--seed``; Spark runs ``local[nproc]``):

- ``ingest_backfill``: 12 CSV files of 500 rows land at once and drain with
  ``availableNow`` and ``maxFilesPerTrigger=4`` into a 64-bucket
  ``KeyedParquetStore``; drains repeat, each into a fresh store, until
  ``--seconds`` have passed (at least two).
- ``query_mix``: the 17 headline registry queries over a seeded subsample
  of the sf0.01 fixture tables (see ``querymix.py``).
- ``ingest_trickle``: 8 warm-up files, then ``12.5 x --seconds`` files of 40
  rows land on an open-loop schedule of 12.5 files/s while a continuous
  stream runs.  Its few micro-batches per run spread its figures by about
  a tenth between seeds, so ``BENCHMARK.json`` does not list it; run it
  by hand with a longer ``--seconds`` for freshness figures.

End-to-end metrics, reported by every workload (``--trace 0``):

==============  ============================================================
setup_s         ``get_spark`` plus a warm-up through the workload's own
                path, done three times (the first launches the JVM, the
                others rebuild the session on it); the median.
work_s          the workload's unit of work: median drain wall time
                (backfill), median micro-batch trigger time (trickle), sum
                over queries of each query's median warm run (query mix).
latency_p50_s   time from an input's arrival to its visible result, median:
                file landed -> its micro-batch committed (backfill), file
                due -> committed (trickle), one warm query run (query mix).
latency_p90_s   the same, 90th percentile.
read_s          a full scan of the data: the keyed store after the drain
                (ingest workloads), every input table (query mix).
==============  ============================================================

``correct``/``attempted``/``failed`` count checked rows for the ingest
workloads and checked queries for the query mix; any wrong output makes the
run exit with code 1.  ``--trace 1`` runs the workload untraced, then again
traced, and reports the per-layer metrics of ``trace.LAYER_METRICS``; the
end-to-end metric each should move:

- ``session.*`` -> ``setup_s`` on every workload;
- ``queries.*`` and ``catalyst.*`` -> ``work_s`` and the query latencies
  on ``query_mix`` (``queries.cold_s`` is the sum of first runs);
- ``exec.*`` -> ``work_s`` on ``query_mix`` and ``ingest_backfill``;
- ``streaming.*`` and ``upsert.call_s``/``upsert.jobs_per_call`` ->
  ``latency_p50_s``/``latency_p90_s`` on ``ingest_trickle``;
- ``upsert.buckets_touched``/``bytes_written``/``write_amp`` -> ``work_s``
  on ``ingest_backfill``; ``upsert.store_bytes``/``files``/``space_amp``
  -> ``read_s`` on the ingest workloads;
- ``gen.*`` and ``trace.overhead_frac`` check the benchmark itself.

A JSON line of details (host facts, CPU steal over the run, per-query
times, problems found) precedes the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_backfill", "ingest_trickle", "query_mix")
E2E_UNITS = {
    "setup_s": "s",
    "work_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "read_s": "s",
}
N_SETUPS = 3
DRIVER_MEMORY = "2g"


def host_facts() -> dict:
    facts = {"nproc": os.cpu_count()}
    try:
        with open("/proc/cpuinfo") as fh:
            facts["cpu_model"] = next(
                (ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("model name")), None
            )
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
        facts["mem_available_gib"] = round(kb / 2**20, 2)
    except (OSError, StopIteration, ValueError):
        pass
    return facts


def cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat.

    Only the first eight fields are summed: guest and guest_nice are
    already counted inside user and nice.
    """
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return sum(fields), fields[7] if len(fields) > 7 else 0


class Ctx:
    """One benchmark run: its arguments, scratch directory and session."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.size = args.size
        self.plant = set(filter(None, args.plant.split(",")))
        self.work = work
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.event_log = os.path.join(work, "eventlog")

    def without_plants(self) -> "Ctx":
        clone = object.__new__(Ctx)
        clone.__dict__.update(self.__dict__)
        clone.plant = set()
        return clone

    def start_session(self, master: str | None = None):
        from eventbridge_etl_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", master=master or f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart_session(self, master: str | None = None) -> None:
        self.stop_session()
        self.start_session(master)


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(ctx: Ctx, warmup) -> tuple[float, dict]:
    """Build the session ``N_SETUPS`` times; setup_s is the median."""
    starts, warms = [], []
    for _ in range(N_SETUPS):
        ctx.stop_session()
        t0 = time.perf_counter()
        ctx.start_session()
        t1 = time.perf_counter()
        warmup(ctx)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    totals = [a + b for a, b in zip(starts, warms)]
    layers = {
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
    }
    return statistics.median(totals), {"setups_s": totals, **layers}


def run_workload(ctx: Ctx) -> dict:
    from perfbench import ingest, querymix

    if ctx.workload == "query_mix":
        tables = os.path.join(ctx.work, "tables")
        prep = querymix.prepare(ctx, tables)
        setup_s, setup_info = setup(ctx, lambda c: querymix.warmup(c, tables))
        result = querymix.run(ctx, tables, prep)
    else:
        setup_s, setup_info = setup(ctx, ingest.warmup)
        body = ingest.backfill if ctx.workload == "ingest_backfill" else ingest.trickle
        result = body(ctx)
    result["metrics"]["setup_s"] = setup_s
    result.setdefault("details", {})["setup"] = setup_info
    if ctx.trace:
        result["layers"].update({k: setup_info[k] for k in ("session.start_s", "session.warmup_s")})
    return result


def add_exec_layers(ctx: Ctx, result: dict) -> None:
    """Task metrics from the event log, once the session has stopped."""
    from perfbench import trace

    log = trace.EventLog(ctx.event_log)
    layers = result["layers"]
    if "query_spans" in result:
        spans = result["query_spans"]
        for name, span in spans.items():
            jobs = log.select(group=f"perfbench:{name}")
            span["exec_jobs"] = len(jobs)
            span["exec_task_run_s"] = sum(j["run_ms"] for j in jobs) / 1000.0
        jobs = [j for n in spans for j in log.select(group=f"perfbench:{n}")]
        wall = sum(s["exec_s"] for s in spans.values())
    else:
        windows = result["exec_windows"]
        jobs = log.select(windows=windows)
        wall = sum(b - a for a, b in windows)
        calls = result["upsert_windows"]
        layers["upsert.jobs_per_call"] = (
            len(log.select(windows=calls)) / len(calls) if calls else 0.0
        )
    layers.update(trace.EventLog.summary(jobs, wall, ctx.cores))
    layers["exec.wall_s"] = wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a tiny load, and faults the checker must catch
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", default="", help="comma list of wrong_row,drop_file")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "eventbridge_etl_spark")):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    ctx = Ctx(args, work)
    facts = host_facts()
    ticks0 = cpu_ticks()
    try:
        try:
            result = run_workload(ctx)
        finally:
            ctx.stop_session()
        if ctx.trace:
            add_exec_layers(ctx, result)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        facts["steal_pct"] = round(100.0 * (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]), 3)

    from perfbench import trace

    if ctx.trace:
        layers = result["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in trace.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(result["metrics"][k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    details = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "host": facts,
        "end_to_end": result["metrics"],
        "problems": result["problems"],
        **{k: result[k] for k in ("details", "query_spans") if k in result},
    }
    print(json.dumps({"details": details}, default=str))
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
