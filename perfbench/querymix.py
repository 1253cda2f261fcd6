"""The ``query_mix`` workload: the 17 headline registry queries.

Each query runs back to back: one cold run that collects the result, which
is compared with DuckDB's answer from the query's registered oracle, then
warm runs until the query's share of ``--seconds`` is used (at least
``MIN_WARM``).  Warm runs force every output column with a ``noop`` write.
Interleaving queries would lose the JIT steady state a warm run is meant
to measure, so the runs of one query are never interleaved with
another's.

The workload reads the seeded fixture subsample only; it touches no store
and no streaming code.
"""

from __future__ import annotations

import statistics
import time

import duckdb

from perfbench import inputs, trace

#: The headline set, kept in step with ``bench.HEADLINE``.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customer",
    "scan_projection_filter",
    "join_broadcast_chain",
    "agg_rollup",
    "window_topk_per_group",
    "events_hourly_rollup",
    "join_asof_attribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_token_stats",
)
#: Warm runs per query at least; the median drops the first one, which
#: still runs partly compiled code.
MIN_WARM = 3
TINY_HEADLINE = ("q1_pricing_summary", "q6_forecast_revenue", "dedup_exact")


def prepare(ctx, tables_dir: str) -> dict:
    """Write the seeded tables and compute the expected answer of each query."""
    from eventbridge_etl_spark.compare import normalize_frame
    from eventbridge_etl_spark.queries import ORACLES, load_all

    load_all()
    counts = inputs.write_query_tables(ctx.seed, tables_dir)
    names = TINY_HEADLINE if ctx.size == "tiny" else HEADLINE
    con = duckdb.connect()
    try:
        for t in inputs.TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        expected = {n: normalize_frame(con.execute(ORACLES[n]).fetchdf()) for n in names}
    finally:
        con.close()
    return {"names": names, "expected": expected, "rows": counts}


def warmup(ctx, tables_dir: str) -> None:
    """The query set-up step: load a table and run one aggregate on it."""
    from eventbridge_etl_spark.sources.tables import load_tables

    li = load_tables(ctx.spark, tables_dir, ("lineitem",))["lineitem"]
    li.groupBy("l_returnflag").count().collect()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx, tables_dir: str, prep: dict) -> dict:
    from eventbridge_etl_spark.compare import normalize_frame
    from eventbridge_etl_spark.queries import QUERIES

    spark = ctx.spark
    names = prep["names"]
    share = ctx.seconds / len(names)
    per_query = {}
    wrong = []
    for name in names:
        fn = QUERIES[name]
        t0 = time.perf_counter()
        got = fn(spark, tables_dir).toPandas()
        cold = time.perf_counter() - t0
        got = normalize_frame(got)
        if "wrong_row" in ctx.plant and name == names[0]:
            cols, rows = got
            got = (cols, rows[1:])
        if got != prep["expected"][name]:
            wrong.append(name)
        warm = []
        start = time.perf_counter()
        while len(warm) < MIN_WARM or time.perf_counter() - start < share:
            t0 = time.perf_counter()
            _noop(fn(spark, tables_dir))
            warm.append(time.perf_counter() - t0)
        per_query[name] = {"cold_s": cold, "warm_s": warm}
    medians = [statistics.median(q["warm_s"]) for q in per_query.values()]
    read_s = _scan_tables(spark, tables_dir)
    result = {
        "metrics": {
            "work_s": sum(medians),
            "latency_p50_s": trace.pct(medians, 50),
            "latency_p90_s": trace.pct(medians, 90),
            "read_s": read_s,
        },
        "attempted": len(names),
        "failed": len(wrong),
        "problems": [f"{n}: result differs from the DuckDB oracle" for n in wrong],
        "details": {
            "cold_s": sum(q["cold_s"] for q in per_query.values()),
            "per_query": per_query,
            "table_rows": prep["rows"],
        },
    }
    if ctx.trace:
        warm = {n: statistics.median(q["warm_s"]) for n, q in per_query.items()}
        result.update(_traced(ctx, tables_dir, names, warm))
        result["layers"]["queries.cold_s"] = result["details"]["cold_s"]
    return result


def _scan_tables(spark, tables_dir: str, repeats: int = 5) -> float:
    """Median wall time of a full scan of every input table: the read cost
    beside the queries."""
    from eventbridge_etl_spark.sources.tables import load_tables

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for df in load_tables(spark, tables_dir, inputs.TABLE_NAMES).values():
            _noop(df)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _traced(ctx, tables_dir: str, names, warm: dict[str, float]) -> dict:
    """One more warm run per query, split into build, plan and exec.

    - build: the registry callable, up to the returned DataFrame (this
      includes the eager analysis of each intermediate DataFrame), with
      the py4j calls it makes counted;
    - plan: ``queryExecution().executedPlan()``, with the Catalyst phase
      split from the tracker;
    - exec: the ``noop`` write, with its jobs found in the event log by
      the query's job group.

    ``vs_warm`` compares each traced wall time with the query's untraced
    median warm run.
    """
    from eventbridge_etl_spark.queries import QUERIES

    spark = ctx.spark
    sc = spark.sparkContext
    counter = trace.Py4jCounter(spark)
    spans = {}
    try:
        for name in names:
            fn = QUERIES[name]
            sc.setJobGroup(f"perfbench:{name}", name)
            t0 = time.perf_counter()
            counter.count, counter.active = 0, True
            df = fn(spark, tables_dir)
            counter.active = False
            t1 = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            _noop(df)
            t3 = time.perf_counter()
            spans[name] = {
                "build_s": t1 - t0,
                "py4j_calls": counter.count,
                "plan_s": t2 - t1,
                "exec_s": t3 - t2,
                "wall_s": t3 - t0,
                "vs_warm": (t3 - t0) / warm[name] - 1.0,
                **{f"{k}_s": v for k, v in trace.catalyst_phases(qe).items()},
            }
        sc.setJobGroup("perfbench:idle", "idle")
    finally:
        counter.close()
    total = lambda key: sum(s[key] for s in spans.values())  # noqa: E731
    layers = {
        "queries.build_s": total("build_s"),
        "queries.py4j_calls": float(total("py4j_calls")),
        "catalyst.plan_s": total("plan_s"),
        "catalyst.analysis_s": total("analysis_s"),
        "catalyst.optimization_s": total("optimization_s"),
        "catalyst.planning_s": total("planning_s"),
        "exec.wall_s": total("exec_s"),
        "trace.overhead_frac": total("wall_s") / sum(warm.values()) - 1.0,
    }
    return {"layers": layers, "query_spans": spans}
