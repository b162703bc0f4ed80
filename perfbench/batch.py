"""The closed-loop batch_queries workload.

One client runs the registered queries of `__spark_entry__.queries()` one
after another over seeded warehouse tables, each materialized with
`.count()`, and starts the next only when the previous one returned. Set-up
writes the tables (repeated, median reported) and runs `warm_passes` passes,
the first of which collects every result. The measured loop goes round the
list, in whole rounds, until `--seconds` have gone by. Afterwards
each collected result is checked against `__spark_entry__.oracle_sql()` on
DuckDB (row count, columns, order-insensitive digest), and every timed
execution's count against the oracle's row count.

There are too few executions in a run for a sampled p99, so on this workload
`latency_p50_ms` is the median over queries of each query's median wall,
`latency_p99_ms` is the slowest query's median wall, and `drain_per_s` is
queries per second of the suite (queries / sum of their median walls).
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

from perfbench import gen, oracle, stats


def stage(ctx, wcfg: dict, tag: str) -> tuple[str, list[str]]:
    d = os.path.join(ctx.work, f"tables-{tag}")
    os.makedirs(d)
    tables = gen.warehouse_tables(ctx.seed, wcfg["orders_rows"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    return d, list(tables)


def run(ctx, wcfg: dict) -> dict:
    import __spark_entry__ as em

    spark, tracer = ctx.spark, ctx.tracer
    queries = em.queries()
    names = wcfg["queries"]

    stage_walls = []
    for rep in range(ctx.common["setup_reps"]):
        t = time.perf_counter()
        data, tables = stage(ctx, wcfg, f"rep{rep}")
        stage_walls.append(time.perf_counter() - t)
    # warm passes; the first also collects each result for the correctness
    # check. A query's first executions after the cold pass still run
    # 1.3-1.8x slower than later ones, hence more than one pass.
    t = time.perf_counter()
    results = {q: queries[q](spark, data).toPandas() for q in names}
    for _ in range(wcfg["warm_passes"] - 1):
        for q in names:
            queries[q](spark, data).count()
    warm_s = time.perf_counter() - t

    # closed loop: the queries in turn, each started when the previous one
    # returned, in whole rounds until the window is over, so that every
    # query has the same number of executions
    build = {q: [] for q in names}
    runs = {q: [] for q in names}
    counts = {q: set() for q in names}
    traced = {q: [] for q in names}
    deadline = time.perf_counter() + ctx.seconds
    k = 0
    while k == 0 or time.perf_counter() < deadline:
        for q in names:
            # traced runs alternate spans on and off by execution, flipping
            # each round, so a query's executions alternate traced/untraced
            on = ctx.trace and (k + k // len(names)) % 2 == 0
            t0 = time.perf_counter()
            with tracer.span(q, "plans", q) if on else nullcontext():
                with tracer.span("build", "plans") if on else nullcontext():
                    df = queries[q](spark, data)
                t1 = time.perf_counter()
                with tracer.span("count", "spark") if on else nullcontext():
                    counts[q].add(df.count())
            t2 = time.perf_counter()
            build[q].append(t1 - t0)
            runs[q].append(t2 - t1)
            traced[q].append(on)
            k += 1

    walls = {q: [b + r for b, r in zip(build[q], runs[q])] for q in names}
    peak_rss_mb = ctx.peak_rss_mb()

    # correctness, outside the timed window
    con = oracle.warehouse_con(data, tables)
    failed_queries = {}
    limit = wcfg["latency_limit_ms"] / 1e3
    try:
        sqls = em.oracle_sql()
        for q in names:
            want = oracle.frame_digest(con.execute(sqls[q]).df())
            got = oracle.frame_digest(results[q])
            if got != want:
                failed_queries[q] = f"result {got[:2]} != oracle {want[:2]}"
            elif counts[q] != {want[0]}:
                failed_queries[q] = f"counts {sorted(counts[q])} != oracle {want[0]}"
            elif max(walls[q]) > limit:
                failed_queries[q] = "over the latency limit"
    finally:
        con.close()

    attempted = k
    failed = sum(len(walls[q]) for q in failed_queries)
    per_query = {q: stats.median(walls[q]) for q in names}
    layer = {
        "session.stage_s": stats.median(stage_walls),
        "plans.suite_wall_s": sum(per_query.values()),
        "error_rate": failed / attempted,
        "latency.samples": attempted,
    }
    for q in names:
        layer[f"plans.{q}.build_s"] = stats.median(build[q])
        layer[f"plans.{q}.run_s"] = stats.median(runs[q])
    if ctx.trace:
        # per query: median traced wall - median untraced wall, for the
        # queries that ran both ways; the median of those differences
        diffs = []
        for q in names:
            on = [w for w, t in zip(walls[q], traced[q]) if t]
            off = [w for w, t in zip(walls[q], traced[q]) if not t]
            if on and off:
                diffs.append(stats.median(on) - stats.median(off))
        layer["trace.overhead_p50_ms"] = stats.median(diffs) * 1e3 if diffs else 0.0
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": not failed_queries,
        "setup_s": ctx.session_start_s + stats.median(stage_walls) + warm_s,
        "latency_p50_ms": stats.median(list(per_query.values())) * 1e3,
        "latency_p99_ms": max(per_query.values()) * 1e3,
        "drain_per_s": len(names) / layer["plans.suite_wall_s"],
        "peak_rss_mb": peak_rss_mb,
        "layer": layer,
        "report": {
            "executions": attempted,
            "warm_pass_s": warm_s,
            "suite_wall_s": layer["plans.suite_wall_s"],
            "per_query_median_s": per_query,
            "per_query_walls_s": walls,
            "failed_queries": failed_queries,
        },
    }

