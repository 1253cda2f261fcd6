"""The CSV -> keyed-store workloads: ``ingest_backfill`` and ``ingest_trickle``.

Both drive ``streaming.file_pipeline.start_csv_upsert_stream`` into an
``operators.upsert.KeyedParquetStore`` keyed on ``event_id`` with 64 buckets,
and read everything they report from outside the engine: files are mapped
to micro-batches by the checkpoint's ``sources/0`` log, a batch ends when
its ``commits/<id>`` file is written, and ``StreamingQueryProgress`` gives
rows and phase durations per batch.

Every drain is checked: each batch's ``numInputRows`` must equal the rows of
the files the source log assigns to it (extracted == loaded + rejected, as
the file rows include the rejected empty-key rows), and the final store
must equal the expected state computed in plain Python.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

from perfbench import inputs, trace

N_BUCKETS = 64

#: name -> (files, rows per file, maxFilesPerTrigger) for the backfill
BACKFILL_SIZES = {"full": (12, 500, 4), "tiny": (4, 25, 2)}
#: name -> (warm-up files, rows per file, files per second); the timed
#: window lands ``--seconds`` worth of files (tiny: 6 files)
TRICKLE_SIZES = {"full": (8, 40, 12.5), "tiny": (2, 10, 5.0)}
MIN_DRAINS = 2
WARMUP_DRAINS = {"full": (1, 50, 1), "tiny": (1, 10, 1)}


class Landing:
    """Stages files outside the landing directory, then renames them in.

    The rename is atomic, so the file source never lists a partial file;
    modification times strictly increase in landing order, because the
    file source orders new files by modification time.
    """

    def __init__(self, root: str) -> None:
        self.staging = os.path.join(root, "staging")
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.staging)
        os.makedirs(self.landing)
        self._last_ns = 0

    def stage(self, files: list[inputs.IngestFile]) -> None:
        for f in files:
            with open(os.path.join(self.staging, f.name), "w") as fh:
                fh.write(f.text)

    def land(self, name: str, mtime_ns: int | None = None) -> float:
        ns = max(time.time_ns() if mtime_ns is None else mtime_ns, self._last_ns + 1_000_000)
        self._last_ns = ns
        src = os.path.join(self.staging, name)
        os.utime(src, ns=(ns, ns))
        os.rename(src, os.path.join(self.landing, name))
        return time.time()


def source_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:  # replaced by compaction while listing
            continue
        for line in lines[1:]:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit file was written."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in os.listdir(d)
        if n.isdigit()
    }


def batch_progress(query) -> dict[int, dict]:
    """Micro-batch id -> progress, for batches that read input."""
    out = {}
    for p in query.recentProgress:
        if p.numInputRows > 0:
            out[p.batchId] = {
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "timestamp": p.timestamp,
            }
    return out


def read_store(spark, store) -> tuple[dict[int, tuple], int]:
    """The store's rows by key, and how many rows repeat a key."""
    rows = (
        store.read(spark)
        .selectExpr(
            "event_id", "user_id", "event_type", "unix_millis(ts) AS ts_ms", "value", "note"
        )
        .collect()
    )
    out = {r.event_id: (r.user_id, r.event_type, r.ts_ms, r.value, r.note) for r in rows}
    return out, len(rows) - len(out)


def scan_store(spark, store, repeats: int = 3) -> float:
    """Median wall time of a full ``store.read`` scan."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        store.read(spark).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def check_drain(spark, store, plan, ckpt, progress, landed) -> tuple[int, list[str]]:
    """Wrong results of one drain, in rows, with a description of each kind.

    ``landed`` are the files that reached the landing directory; files of
    the plan that never landed are still expected in the store, which is
    how a lost file shows.
    """
    problems: list[str] = []
    wrong = 0
    batch_of = source_batches(ckpt)
    rows_of = {f.name: f.rows for f in plan.files}
    missing = [n for n in landed if n not in batch_of]
    if missing:
        wrong += sum(rows_of[n] for n in missing)
        problems.append(f"{len(missing)} landed files never read")
    # The empty-key check is pushed into the CSV scan, so numInputRows
    # counts the loaded rows: extracted == numInputRows + rejected.
    per_batch: dict[int, int] = {}
    for f in plan.files:
        if f.name in batch_of:
            b = batch_of[f.name]
            per_batch[b] = per_batch.get(b, 0) + f.rows - f.invalid
    for b, want in sorted(per_batch.items()):
        got = progress.get(b, {}).get("rows")
        if got is None:
            continue  # progress no longer retained for this batch
        if got != want:
            wrong += abs(got - want)
            problems.append(f"batch {b}: numInputRows {got} != loaded file rows {want}")
    actual, duplicates = read_store(spark, store)
    bad_keys = sum(1 for k, v in plan.expected.items() if actual.get(k) != v)
    bad_keys += sum(1 for k in actual if k not in plan.expected) + duplicates
    if bad_keys:
        wrong += bad_keys
        problems.append(f"{bad_keys} keys differ from the expected store")
    return wrong, problems


def _plant(ctx, plan: inputs.IngestPlan) -> list[str]:
    """Self-test faults: corrupt one stored row's value, or lose one file.

    Returns the names of the files to land.  The expected state is left
    untouched, so a working checker must report both faults.
    """
    names = [f.name for f in plan.files]
    if "wrong_row" in ctx.plant:
        # the first row of the last file is the final write of its key
        f = plan.files[-1]
        lines = f.text.split("\n")
        i = next(i for i, ln in enumerate(lines[1:], 1) if not ln.startswith(","))
        cells = lines[i].split(",")
        cells[4] = f"{float(cells[4]) + 1:.2f}"
        lines[i] = ",".join(cells)
        f.text = "\n".join(lines)
    if "drop_file" in ctx.plant:
        names = names[:-2] + names[-1:]
    return names


def _start(ctx, landing, ckpt, store, max_files, available_now):
    from eventbridge_etl_spark.streaming.file_pipeline import start_csv_upsert_stream

    return start_csv_upsert_stream(
        ctx.spark,
        landing,
        ckpt,
        store,
        inputs.CSV_SCHEMA,
        inputs.RENAMES,
        key=inputs.KEY,
        max_files_per_trigger=max_files,
        available_now=available_now,
    )


def drain_once(ctx, tag: str, plan: inputs.IngestPlan, max_files: int, traced: bool = False):
    """Land every file of ``plan`` at once and drain with ``availableNow``."""
    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore

    root = os.path.join(ctx.work, tag)
    landing = Landing(root)
    store = KeyedParquetStore(os.path.join(root, "store"), [inputs.KEY], N_BUCKETS)
    sink = trace.TracedStore(store) if traced else store
    ckpt = os.path.join(root, "ckpt")
    names = _plant(ctx, plan)
    landing.stage(plan.files)
    # land in the past, 1 ms apart, in file order
    base_ns = time.time_ns() - len(names) * 1_000_000 - 1_000_000_000
    for i, n in enumerate(names):
        landing.land(n, base_ns + i * 1_000_000)
    t0 = time.time()
    q = _start(ctx, landing.landing, ckpt, sink, max_files, True)
    q.awaitTermination()
    wall = time.time() - t0
    progress = batch_progress(q)
    batch_of = source_batches(ckpt)
    commits = commit_times(ckpt)
    latencies = [commits[batch_of[n]] - t0 for n in names if batch_of.get(n) in commits]
    read_s = scan_store(ctx.spark, store)
    wrong, problems = check_drain(ctx.spark, store, plan, ckpt, progress, names)
    out = {
        "wall_s": wall,
        "read_s": read_s,
        "latencies": latencies,
        "rows": plan.rows,
        "csv_bytes": plan.csv_bytes,
        "wrong": wrong,
        "problems": problems,
        "progress": progress,
        "t0": t0,
        "t1": t0 + wall,
        "store_path": store.path,
        "sink": sink,
    }
    return out


def warmup(ctx) -> None:
    """The ingest set-up step: one CSV file through the batch form of the
    flow (read with header, rename, validate, upsert into a fresh store)."""
    from eventbridge_etl_spark.operators.etl import rename_projection, validity_filter
    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore
    from eventbridge_etl_spark.sources.csv_source import read_csv_batch

    n, rows, k = WARMUP_DRAINS[ctx.size]
    plan = inputs.plan_ingest_files(ctx.seed, n, rows, k, first_key=10**9, prefix="warm")
    root = os.path.join(ctx.work, f"warmup-{time.time_ns()}")
    landing = Landing(root)
    landing.stage(plan.files)
    store = KeyedParquetStore(os.path.join(root, "store"), [inputs.KEY], N_BUCKETS)
    df = read_csv_batch(ctx.spark, landing.staging, inputs.CSV_SCHEMA)
    store.upsert(validity_filter(rename_projection(df, inputs.RENAMES), [inputs.KEY]))
    if read_store(ctx.spark, store) != (plan.expected, 0):
        raise RuntimeError("warm-up upsert produced a wrong store")
    shutil.rmtree(root, ignore_errors=True)


def warm_stream(ctx) -> None:
    """One untimed one-file drain, so the first timed drain is not the
    first streaming query of the process."""
    n, rows, k = WARMUP_DRAINS[ctx.size]
    plan = inputs.plan_ingest_files(ctx.seed, n, rows, k, first_key=10**9, prefix="warm")
    res = drain_once(ctx.without_plants(), "warm-stream", plan, k)
    if res["wrong"]:
        raise RuntimeError(f"warm-up drain produced wrong results: {res['problems']}")
    shutil.rmtree(os.path.join(ctx.work, "warm-stream"), ignore_errors=True)


def backfill(ctx) -> dict:
    n_files, rows, k = BACKFILL_SIZES[ctx.size]
    plan = inputs.plan_ingest_files(ctx.seed, n_files, rows, k)

    def run_drains(traced: bool) -> list[dict]:
        """Drains until ``--seconds`` have passed; a traced pass drains once."""
        done = []
        deadline = time.perf_counter() + (0 if traced else ctx.seconds)
        while len(done) < (1 if traced else MIN_DRAINS) or time.perf_counter() < deadline:
            tag = f"drain-{'t' if traced else 'u'}{len(done)}"
            res = drain_once(ctx, tag, _fresh(plan), k, traced=traced)
            if not traced:
                shutil.rmtree(os.path.join(ctx.work, tag), ignore_errors=True)
            done.append(res)
            if ctx.size == "tiny":
                break
        return done

    warm_stream(ctx)
    drains = run_drains(False)
    result = {"metrics": _drain_metrics(drains)}
    checked = list(drains)
    if ctx.trace:
        traced = run_drains(True)
        base = _single_thread_baseline(ctx, plan, k)
        checked += traced + [base]
        result["layers"] = trace.ingest_layers(traced, result["metrics"], _drain_metrics(traced))
        result["layers"]["baseline.local1_rows_per_s"] = base["rows"] / base["wall_s"]
        result["exec_windows"] = [(d["t0"], d["t1"]) for d in traced]
        result["upsert_windows"] = [(c["t0"], c["t1"]) for d in traced for c in d["sink"].calls]
    result["attempted"] = sum(d["rows"] for d in checked)
    result["failed"] = sum(d["wrong"] for d in checked)
    result["problems"] = sorted({p for d in checked for p in d["problems"]})
    return result


def _fresh(plan: inputs.IngestPlan) -> inputs.IngestPlan:
    """A copy whose file texts a self-test plant may edit."""
    return inputs.IngestPlan(
        [inputs.IngestFile(f.name, f.text, f.rows, f.invalid) for f in plan.files],
        plan.expected,
    )


def _drain_metrics(drains: list[dict]) -> dict:
    lat = [x for d in drains for x in d["latencies"]]
    return {
        "work_s": statistics.median(d["wall_s"] for d in drains),
        "latency_p50_s": trace.pct(lat, 50),
        "latency_p90_s": trace.pct(lat, 90),
        "read_s": statistics.median(d["read_s"] for d in drains),
    }


def _single_thread_baseline(ctx, plan, k) -> dict:
    """One checked drain of the same files on ``local[1]``."""
    ctx.restart_session(master="local[1]")
    try:
        return drain_once(ctx, "drain-local1", _fresh(plan), k)
    finally:
        ctx.restart_session()


def trickle(ctx) -> dict:
    n_warm, rows, rate = TRICKLE_SIZES[ctx.size]
    n_timed = 6 if ctx.size == "tiny" else round(rate * ctx.seconds)
    result = trickle_once(ctx, "trickle-u", n_warm, n_timed, rows, rate, traced=False)
    if ctx.trace:
        traced = trickle_once(ctx, "trickle-t", n_warm, n_timed, rows, rate, traced=True)
        result["attempted"] += traced["attempted"]
        result["failed"] += traced["failed"]
        result["problems"] += traced["problems"]
        run = traced["run"]
        result["layers"] = trace.ingest_layers([run], result["metrics"], traced["metrics"])
        result["layers"]["gen.late_max_s"] = traced["details"]["gen_late_max_s"]
        result["layers"]["gen.backlog_end_files"] = float(traced["details"]["backlog_end_files"])
        result["exec_windows"] = [(run["t0"], run["t1"])]
        result["upsert_windows"] = [(c["t0"], c["t1"]) for c in run["sink"].calls]
    return result


def trickle_once(ctx, tag, n_warm, n_timed, rows, rate, traced) -> dict:
    """Open loop: timed files land at a fixed rate into a continuous stream.

    Warm-up files land first and are committed before the timed window
    opens; the timed files update some of their keys, but never a key of
    another timed file, since those could share a micro-batch.
    """
    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore

    warm = inputs.plan_ingest_files(ctx.seed, n_warm, rows, n_warm, update_frac=0.0, prefix="a")
    timed = inputs.plan_ingest_files(
        ctx.seed, n_timed, rows, n_timed + 1, first_key=10**6, prior=warm, prefix="b"
    )
    plan = inputs.IngestPlan(warm.files + timed.files, timed.expected)
    root = os.path.join(ctx.work, tag)
    landing = Landing(root)
    store = KeyedParquetStore(os.path.join(root, "store"), [inputs.KEY], N_BUCKETS)
    sink = trace.TracedStore(store) if traced else store
    ckpt = os.path.join(root, "ckpt")
    names = _plant(ctx, timed)
    landing.stage(plan.files)
    q = _start(ctx, landing.landing, ckpt, sink, None, False)
    try:
        for f in warm.files:
            landing.land(f.name)
            time.sleep(1.0 / rate)
        _wait_committed(ckpt, [f.name for f in warm.files], q, timeout=60)
        gen = _OpenLoop(landing, names, rate, ckpt)
        gen.start()
        gen.join()
        _wait_committed(ckpt, names, q, timeout=60)
        progress = batch_progress(q)
    finally:
        q.stop()
    batch_of = source_batches(ckpt)
    commits = commit_times(ckpt)
    fresh = [commits[batch_of[n]] - gen.due[n] for n in names if batch_of.get(n) in commits]
    timed_batches = sorted({batch_of[n] for n in names if n in batch_of})
    triggers = [
        progress[b]["duration_ms"]["triggerExecution"] / 1000.0
        for b in timed_batches
        if b in progress
    ]
    read_s = scan_store(ctx.spark, store)
    wrong, problems = check_drain(
        ctx.spark, store, plan, ckpt, progress, [f.name for f in warm.files] + names
    )
    return {
        "metrics": {
            "work_s": statistics.median(triggers),
            "latency_p50_s": trace.pct(fresh, 50),
            "latency_p90_s": trace.pct(fresh, 90),
            "read_s": read_s,
        },
        "attempted": plan.rows,
        "failed": wrong,
        "problems": problems,
        "details": {
            "files_timed": len(names),
            "rate_files_per_s": rate,
            "batches_timed": len(timed_batches),
            "gen_late_max_s": gen.late_max,
            "backlog_end_files": gen.backlog_end,
        },
        "run": {
            "progress": {b: progress[b] for b in timed_batches if b in progress},
            "t0": gen.t0,
            "t1": max(commits.values()),
            "rows": timed.rows,
            "csv_bytes": timed.csv_bytes,
            "store_path": store.path,
            "sink": sink,
        },
    }


def _wait_committed(ckpt: str, names: list[str], query, timeout: float) -> None:
    deadline = time.time() + timeout
    while True:
        batch_of = source_batches(ckpt)
        done = max(commit_times(ckpt), default=-1)
        if all(batch_of.get(n, done + 1) <= done for n in names):
            return
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"files not committed within {timeout} s")
        time.sleep(0.02)


class _OpenLoop(threading.Thread):
    """Lands file i at ``t0 + i / rate`` whatever the stream is doing."""

    def __init__(self, landing: Landing, names: list[str], rate: float, ckpt: str) -> None:
        super().__init__(name="perfbench-open-loop")
        self.landing, self.names, self.rate, self.ckpt = landing, names, rate, ckpt
        self.due: dict[str, float] = {}
        self.late_max = 0.0
        self.backlog_end = 0
        self.t0 = 0.0

    def run(self) -> None:
        self.t0 = time.time() + 0.05
        for i, name in enumerate(self.names):
            due = self.t0 + i / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            landed = self.landing.land(name)
            self.due[name] = due
            self.late_max = max(self.late_max, landed - due)
        # files landed but not yet taken by any micro-batch
        taken = source_batches(self.ckpt)
        self.backlog_end = sum(1 for n in self.names if n not in taken)
