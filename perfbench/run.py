#!/usr/bin/env python3
"""Realtime delivery benchmark.

    python3 perfbench/run.py --workload cdc_envelope --seed 1 --seconds 10 --trace 0

Runs one workload of perfbench/spec.json against the engine in this
checkout on `local[N]`, N = the CPUs this process may use, and prints, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the spans are written to .perfbench/trace-<workload>-<seed>.json.
The line before it is a report with every metric and the run's details.

All scratch data (Spark local dirs, checkpoints, staged inputs, JVM and
Python temp files) lives under .perfbench/ in the checkout and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "perfbench", "spec.json")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "drain_per_s": "1/s",
    "peak_rss_mb": "MB",
}

LAYERS = ("session", "functions", "operators", "streaming", "spark", "plans", "generator")

_LAYER_METRICS = {
    "session.start_s": "s",
    "session.stage_s": "s",
    "functions.subs_build_s": "s",
    "operators.matcher_init_s": "s",
    "operators.match_call_ms.p50": "ms",
    "operators.match_rows_in": "count",
    "operators.match_rows_out": "count",
    "operators.match_yield": "ratio",
    "operators.fanout_pairs": "count",
    "operators.encode_bytes": "bytes",
    "streaming.trigger_ms.p50": "ms",
    "streaming.trigger_ms.max": "ms",
    "streaming.add_batch_ms.p50": "ms",
    "streaming.query_planning_ms.p50": "ms",
    "streaming.latest_offset_ms.p50": "ms",
    "streaming.wal_commit_ms.p50": "ms",
    "streaming.commit_offsets_ms.p50": "ms",
    "streaming.sink_action_ms.p50": "ms",
    "streaming.sink_action_ms.max": "ms",
    "streaming.outside_sink_ms.p50": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch.p50": "count",
    "streaming.backlog_max": "count",
    "streaming.backlog_slope_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_ms.p50": "ms",
    "streaming.state_update_ms.p50": "ms",
    "streaming.presence_diff_yield": "ratio",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "gen.offered_per_s": "1/s",
    "gen.late_p99_ms": "ms",
    "gen.late_max_ms": "ms",
    "latency.samples": "count",
    "latency.chunks": "count",
    "error_rate": "ratio",
    "plans.suite_wall_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.spans": "count",
    "trace.overhead_p50_ms": "ms",
}


def _load_spec(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def per_layer_metrics() -> dict[str, str]:
    """Per-layer metric -> unit: the fixed ones plus build and run time of
    each query that spec.json lists for batch_queries."""
    queries = _load_spec(SPEC)["workloads"]["batch_queries"]["queries"]
    plans = {f"plans.{q}.{part}_s": "s" for q in queries for part in ("build", "run")}
    return {**_LAYER_METRICS, **plans}


@dataclass
class Ctx:
    """What a workload needs from the runner."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    common: dict
    session_start_s: float
    peak_rss_mb: Callable[[], float]


def _hermetic_env(work: str, common: dict) -> None:
    """Point every scratch location of Spark, the JVM and Python at `work`,
    and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = common["driver_memory"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit first runs a launcher JVM that would keep its perf data
    # under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    """True while `pid` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _jvm_pids() -> list[int]:
    """The gateway process and its descendants that are JVMs."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    pids = [proc.pid] + _descendants(proc.pid)
    jvms = []
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    jvms.append(p)
        except OSError:
            pass
    return jvms


def peak_rss_mb() -> float:
    """Peak resident set so far of this Python driver plus the JVM, from
    /proc. Workloads read it before their correctness checks, whose memory
    is the benchmark's, not the engine's."""
    kb = _vm_hwm_kb("self") + sum(_vm_hwm_kb(p) for p in _jvm_pids())
    return kb / 1024.0


def _shutdown(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it (the
    Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = _descendants(gateway.proc.pid) if gateway is not None else []
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _metrics(names: dict, values: dict) -> dict:
    return {n: {"value": float(values.get(n, 0.0) or 0.0), "unit": u} for n, u in names.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spec", default=SPEC, help="workload settings (tests pass tiny ones)")
    args = ap.parse_args(argv)
    spec = _load_spec(args.spec)
    if args.workload not in spec["workloads"]:
        ap.error(f"--workload must be one of {sorted(spec['workloads'])}")

    if not (os.path.isdir(os.path.join(ROOT, "realtime_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: realtime_spark/ and __spark_entry__.py must sit beside perfbench/",
              file=sys.stderr)
        return 2

    common = spec["common"]
    wcfg = spec["workloads"][args.workload]
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _hermetic_env(work, common)
    sys.path.insert(0, ROOT)

    from perfbench import batch, gen, streams
    from perfbench.trace import Tracer, self_times
    from realtime_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("get_spark", "session", "setup"):
            spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        ctx = Ctx(spark, tracer, work, args.seed, args.seconds, bool(args.trace), common,
                  time.perf_counter() - t, peak_rss_mb)
        if args.workload == "cdc_envelope":
            res = streams.CdcStream(ctx, wcfg, gen.ENVELOPE_SPECS).run()
        elif args.workload == "cdc_fanin":
            specs = gen.fanin_specs(args.seed, wcfg["subscriptions"])
            res = streams.CdcStream(ctx, wcfg, specs).run()
        elif args.workload == "presence_churn":
            res = streams.PresenceStream(ctx, wcfg).run()
        else:
            res = batch.run(ctx, wcfg)
    except Exception:
        # the engine raised (or a stream died): the run counts as failed
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": _metrics(END_TO_END, {})}))
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    layer = res["layer"]
    layer["session.start_s"] = ctx.session_start_s
    if args.trace:
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path)
        selfs = self_times(tracer.spans)
        for name in LAYERS:
            layer[f"self.{name}_s"] = selfs.get(name, 0.0)
        layer["trace.spans"] = len(tracer.spans)
        res["report"]["trace_file"] = os.path.relpath(path, ROOT)
    per_layer = per_layer_metrics()
    missing = sorted(n for n in per_layer if n not in layer)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "loop": wcfg["loop"],
        "error_rate": res["failed"] / res["attempted"],
        "end_to_end": _metrics(END_TO_END, res),
        "per_layer": _metrics(per_layer, layer) if args.trace else None,
        "not_measured_on_this_workload": missing if args.trace else None,
        **res["report"],
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": _metrics(per_layer if args.trace else END_TO_END,
                            layer if args.trace else res),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
