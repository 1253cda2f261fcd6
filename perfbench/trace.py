"""Per-layer tracing, done from the benchmark side only.

Nothing inside ``eventbridge_etl_spark`` is instrumented.  The traced run
reads what Spark reports about itself and times the calls the benchmark
makes into each module:

- ``Py4jCounter`` wraps the py4j client of the benchmark process and
  counts the JVM calls a query's plan build makes;
- ``TracedStore`` wraps the ``KeyedParquetStore`` handed to the stream
  and times each ``upsert``, diffing the store's files around it;
- ``EventLog`` parses the local Spark event log written by the traced
  session and sums task metrics over jobs, selected by job group or by
  time window;
- Catalyst phases come from ``queryExecution().tracker()`` and streaming
  phases from ``StreamingQueryProgress.durationMs``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

#: Every per-layer metric a traced run reports, with its unit.  A layer a
#: workload does not touch reports 0.
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.cold_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.core_busy_frac": "ratio",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.latestOffset_s": "s",
    "streaming.getBatch_s": "s",
    "streaming.queryPlanning_s": "s",
    "streaming.addBatch_s": "s",
    "streaming.walCommit_s": "s",
    "streaming.commitOffsets_s": "s",
    "streaming.overhead_s": "s",
    "upsert.call_s": "s",
    "upsert.jobs_per_call": "count",
    "upsert.buckets_touched": "count",
    "upsert.bytes_written": "bytes",
    "upsert.write_amp": "ratio",
    "upsert.store_bytes": "bytes",
    "upsert.files": "count",
    "upsert.space_amp": "ratio",
    "baseline.local1_rows_per_s": "1/s",
    "gen.late_max_s": "s",
    "gen.backlog_end_files": "count",
    "trace.overhead_frac": "ratio",
}

STREAM_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)


def pct(values, q: float) -> float:
    """The ``q``-th percentile by linear interpolation (0 for no values)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


class Py4jCounter:
    """Counts py4j commands sent by this process while ``active``."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self._orig = self.client.send_command
        self.count = 0
        self.active = False

        def send_command(*args, **kwargs):
            if self.active:
                self.count += 1
            return self._orig(*args, **kwargs)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self._orig


def store_files(path: str) -> dict[str, int]:
    """Relative path -> size of every data file in a store directory."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


class TracedStore:
    """Stands in for a ``KeyedParquetStore`` and times each upsert."""

    def __init__(self, store) -> None:
        self.store = store
        self.calls: list[dict] = []

    def foreach_batch(self, version_col: str | None = None):
        def _sink(batch, epoch_id: int) -> None:
            before = store_files(self.store.path)
            t0 = time.time()
            self.store.upsert(batch, version_col=version_col)
            t1 = time.time()
            written = {p: s for p, s in store_files(self.store.path).items() if p not in before}
            self.calls.append({
                "epoch": epoch_id,
                "t0": t0,
                "t1": t1,
                "bytes_written": sum(written.values()),
                "buckets": len({p.split(os.sep)[0] for p in written}),
            })

        return _sink


class EventLog:
    """Jobs and their summed task metrics, from Spark event log files."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[tuple[str, int], dict] = {}
        for dirpath, _dirs, files in os.walk(log_dir):
            for name in sorted(files):
                if not name.startswith("appstatus"):
                    self._parse(os.path.join(dirpath, name))

    def _parse(self, path: str) -> None:
        stage_job: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_w": 0, "shuffle_r": 0, "spill": 0, "input": 0,
                    }
                    self.jobs[(path, ev["Job ID"])] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get((path, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    job["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)

    def select(self, group: str | None = None, windows=()) -> list[dict]:
        """Jobs of a job group, or submitted inside any (start, end) window."""
        if group is not None:
            return [j for j in self.jobs.values() if j["group"] == group]
        return [
            j for j in self.jobs.values()
            if any(a <= j["submit"] <= b for a, b in windows)
        ]

    @staticmethod
    def summary(jobs: list[dict], wall_s: float, cores: int) -> dict[str, float]:
        run_s = sum(j["run_ms"] for j in jobs) / 1000.0
        return {
            "exec.jobs": float(len(jobs)),
            "exec.tasks": float(sum(j["tasks"] for j in jobs)),
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "exec.gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
            "exec.shuffle_write_bytes": float(sum(j["shuffle_w"] for j in jobs)),
            "exec.shuffle_read_bytes": float(sum(j["shuffle_r"] for j in jobs)),
            "exec.spill_bytes": float(sum(j["spill"] for j in jobs)),
            "exec.input_bytes": float(sum(j["input"] for j in jobs)),
            "exec.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds per Catalyst phase from a QueryExecution's tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def ingest_layers(runs: list[dict], untraced: dict, traced: dict | None) -> dict:
    """Streaming and upsert layers of traced drains (exec is added later)."""
    progress = [p for r in runs for p in r["progress"].values()]
    trig = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in progress]
    layers = {
        "streaming.batches": float(len(progress)),
        "streaming.rows_per_batch": _mean(p["rows"] for p in progress),
        "streaming.trigger_p50_s": pct(trig, 50),
        "streaming.overhead_s": _mean(
            (p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0))
            / 1000.0
            for p in progress
        ),
    }
    for ph in STREAM_PHASES:
        layers[f"streaming.{ph}_s"] = _mean(p["duration_ms"].get(ph, 0) / 1000.0 for p in progress)
    calls = [c for r in runs for c in r["sink"].calls]
    csv_bytes = sum(r["csv_bytes"] for r in runs)
    written = sum(c["bytes_written"] for c in calls)
    last = store_files(runs[-1]["store_path"])
    layers.update({
        "upsert.call_s": _mean(c["t1"] - c["t0"] for c in calls),
        "upsert.buckets_touched": _mean(c["buckets"] for c in calls),
        "upsert.bytes_written": float(written),
        "upsert.write_amp": written / csv_bytes if csv_bytes else 0.0,
        "upsert.store_bytes": float(sum(last.values())),
        "upsert.files": float(len(last)),
        "upsert.space_amp": sum(last.values()) / runs[-1]["csv_bytes"],
    })
    if traced is not None and untraced.get("work_s"):
        layers["trace.overhead_frac"] = traced["work_s"] / untraced["work_s"] - 1.0
    return layers
