"""The three paced stream workloads: cdc_envelope, cdc_fanin, presence_churn.

Each run goes through the same phases:

  1. set-up, repeated `setup_reps` times: build the subscription dimension
     (CDC), start the stream over a fresh source directory holding one
     priming chunk, and wait until the sink has delivered it. All but the
     last stream are stopped; the last one carries on.
  2. paced phase: the pacer releases one chunk every `chunk / rate` seconds
     for `warmup_s + seconds`. The items of a chunk are due one by one at
     `rate` per second over the interval that ends with the chunk's release,
     as changes committed between two polls of the reference's poller, and
     each is stamped with its own due time. Latency samples come only from
     chunks released after the warm-up.
  3. backlog phase, repeated `drains` times: `drain_items` items released at
     once; drain rate = items / (return of the sink call that finished them -
     release).
  4. the stream is stopped and every delivery is checked against DuckDB.

A chunk is released by renaming a finished parquet file into the source
directory, so the file source never sees a partial file.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen, oracle, stats

_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


class StreamLog:
    """What one streaming query did, as seen from the sink and the pacer."""

    def __init__(self):
        self.sink_start: dict[int, float] = {}
        self.sink_ret: dict[int, float] = {}
        self.rows: dict[int, list] = {}
        self.releases: list[tuple[float, int]] = []  # (released at, items)
        self._first = threading.Event()

    def record(self, epoch: int, t0: float, t1: float, rows: list) -> None:
        self.sink_start[epoch] = t0
        self.sink_ret[epoch] = t1
        self.rows[epoch] = rows
        self._first.set()

    def wait_first(self, query, timeout: float) -> None:
        deadline = time.perf_counter() + timeout
        while not self._first.wait(0.02):
            _raise_if_failed(query)
            if time.perf_counter() > deadline:
                raise TimeoutError("stream delivered nothing during set-up")


def _raise_if_failed(query) -> None:
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")


class ProgressWatch:
    """Input rows per batch of one query, kept up to date cheaply.

    Polls `lastProgress` (one entry) and falls back to `recentProgress` (all
    of them) only when a batch was missed between polls, so that waiting
    does not compete with the sink for the interpreter."""

    def __init__(self, query):
        self.query = query
        self.rows: dict[int, int] = {}

    def _take(self, p) -> None:
        if p is not None and p["numInputRows"]:
            self.rows[p["batchId"]] = p["numInputRows"]

    def poll(self) -> None:
        last = self.query.lastProgress
        if last is None:
            return
        seen = max(self.rows, default=-1)
        if last["batchId"] > seen + 1:
            for p in self.query.recentProgress:
                self._take(p)
        self._take(last)

    def wait(self, target: int, timeout: float) -> int:
        """Wait until `target` input rows were processed; returns the last
        batchId that carried input."""
        deadline = time.perf_counter() + timeout
        while True:
            _raise_if_failed(self.query)
            self.poll()
            total = sum(self.rows.values())
            if total >= target:
                return max(self.rows)
            if time.perf_counter() > deadline:
                raise TimeoutError(f"stream processed {total} of {target} rows")
            time.sleep(0.01)


class PacedStream:
    """Workload-independent driver of phases 1-3 (see the module docstring).

    Subclasses provide `build(rep)` (returns the streaming query, already
    started on `self.src`), `chunk_table(i, stamps_us)` (one wall-clock
    stamp per item) / `drain_table(d, j, stamp_us)` and `chunk_ids(i)` /
    `drain_ids(d, j)`; the sink they install calls `self.log.record`."""

    kind = ""

    def __init__(self, ctx, wcfg: dict):
        self.ctx = ctx
        self.w = wcfg
        self.reps = ctx.common["setup_reps"]
        self.interval = wcfg["chunk"] / wcfg["rate_per_s"]
        self.n_warm = round(ctx.common["warmup_s"] / self.interval)
        self.n_measured = round(ctx.seconds / self.interval)
        self.drain_files = max(1, wcfg["drain_items"] // 1000)
        self.wall_offset = time.time() - time.perf_counter()
        self.next_epoch = 0

    # -- helpers -----------------------------------------------------------

    def wall_us(self, t):
        """Wall-clock microseconds of perf_counter time(s) `t`."""
        return ((np.asarray(t, dtype=float) + self.wall_offset) * 1e6).astype(np.int64)

    def item_dues(self, due: float) -> np.ndarray:
        """Due times of the items of a chunk released at `due`: evenly spaced
        over the interval that ends at `due`, the last one due at release."""
        n = self.w["chunk"]
        return due - self.interval + self.interval * np.arange(1, n + 1) / n

    def _release_chunk(self, i: int, due: float) -> None:
        self._release(self.chunk_table(i, self.wall_us(self.item_dues(due))),
                      f"c{i:06d}.parquet", len(self.chunk_ids(i)))

    def traced(self, epoch: int) -> bool:
        """In a traced run, spans are recorded on even epochs only, so the
        odd epochs measure the same run without tracing."""
        return self.ctx.trace and epoch % 2 == 0

    def span(self, on: bool, name: str, layer: str, trace_id=None):
        return self.ctx.tracer.span(name, layer, trace_id) if on else nullcontext()

    def _dirs(self, tag: str) -> tuple[str, str, str]:
        base = os.path.join(self.ctx.work, f"{self.kind}-{tag}")
        src, staging, ckpt = (os.path.join(base, d) for d in ("src", "staging", "ckpt"))
        os.makedirs(src)
        os.makedirs(staging)
        return src, staging, ckpt

    def _stage_file(self, table, name: str) -> None:
        pq.write_table(table, os.path.join(self.staging, name))

    def _publish(self, name: str, n: int) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        self.log.releases.append((time.perf_counter(), n))

    def _release(self, table, name: str, n: int) -> None:
        self._stage_file(table, name)
        self._publish(name, n)

    # -- phases ------------------------------------------------------------

    def setup(self) -> list[float]:
        walls = []
        for rep in range(self.reps):
            t0 = time.perf_counter()
            self.src, self.staging, self.ckpt = self._dirs(f"rep{rep}")
            self.log = StreamLog()
            self.next_epoch = 0
            now = time.perf_counter()
            self._release_chunk(rep, now)
            self.prime_due = {rep: now}
            query = self.build(rep)
            self.log.wait_first(query, timeout=120)
            walls.append(time.perf_counter() - t0)
            if rep < self.reps - 1:
                query.stop()
        self.query = query
        self.watch = ProgressWatch(query)
        self.live_rep = rep
        return walls

    def paced(self) -> None:
        first = self.reps
        self.t0 = time.perf_counter() + 0.2
        dues = [self.t0 + k * self.interval for k in range(self.n_warm + self.n_measured)]
        self.dues = {first + k: d for k, d in enumerate(dues)}
        tracer = self.ctx.tracer

        def release(k: int, due: float) -> None:
            i = first + k
            with tracer.span("release", "generator", f"chunk{i}"):
                self._release_chunk(i, due)

        self.pacer = gen.Pacer(dues, release)
        self.pacer.start()
        if not self.pacer.join(timeout=len(dues) * self.interval + 60):
            self.pacer.stop()
            raise TimeoutError("pacer did not finish")
        if self.pacer.error is not None:
            raise self.pacer.error
        self.measure_from = self.t0 + self.n_warm * self.interval
        self.measured = {i for i, d in self.dues.items() if d >= self.measure_from}
        self.watch.wait(sum(n for _, n in self.log.releases), timeout=90)

    def drain(self) -> list[float]:
        rates = []
        self.drain_start = []
        for d in range(self.w["drains"]):
            # write the whole backlog first, then publish it with renames
            stamp = int(self.wall_us(time.perf_counter()))
            files = []
            for j in range(self.drain_files):
                name = f"d{d}-{j:04d}.parquet"
                self._stage_file(self.drain_table(d, j, stamp), name)
                files.append((name, len(self.drain_ids(d, j))))
            self._before_next_tick()
            t0 = time.perf_counter()
            self.drain_start.append(t0)
            for name, k in files:
                self._publish(name, k)
            n = sum(k for _, k in files)
            last = self.watch.wait(sum(k for _, k in self.log.releases), timeout=120)
            while last not in self.log.sink_ret:  # progress follows the sink
                time.sleep(0.005)
            rates.append(n / (self.log.sink_ret[last] - t0))
        return rates

    def _before_next_tick(self, lead_s: float = 0.01) -> None:
        """Sleep until `lead_s` before the idle stream's next trigger.

        A processing-time trigger fires at multiples of its interval on the
        wall clock. Publishing a backlog just before a tick, rather than at a
        random phase, keeps up to one interval of jitter out of the drain
        wall."""
        interval = self.w["trigger_ms"] / 1e3
        now = time.time()
        wait = interval - now % interval - lead_s
        if wait < 0.005:
            wait += interval
        time.sleep(wait)

    def run(self) -> dict:
        ctx = self.ctx
        ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        marks = [time.perf_counter()]
        self.stage()
        marks.append(time.perf_counter())
        walls = self.setup()
        marks.append(time.perf_counter())
        self.paced()
        marks.append(time.perf_counter())
        drain_rates = self.drain()
        progress = list(self.query.recentProgress)
        sched = scheduler_counts(ctx.spark, self.query)
        self.query.stop()
        peak_rss_mb = ctx.peak_rss_mb()
        marks.append(time.perf_counter())
        self.progress = progress
        res = self.evaluate()
        res["peak_rss_mb"] = peak_rss_mb
        marks.append(time.perf_counter())
        stage_s = marks[1] - marks[0]
        res["setup_s"] = ctx.session_start_s + stage_s + stats.median(walls)
        res["drain_per_s"] = stats.median(drain_rates)
        layer = res["layer"]
        layer["session.stage_s"] = stage_s
        layer.update(self.stream_layer(progress))
        layer.update(sched)
        layer.update(self.gen_layer())
        res["report"]["setup_rep_walls_s"] = walls
        res["report"]["phase_walls_s"] = dict(zip(
            ("stage", "setup", "paced", "drain", "check"),
            (b - a for a, b in zip(marks, marks[1:]))))
        res["report"]["drain_rates_per_s"] = drain_rates
        return res

    # -- metrics -----------------------------------------------------------

    def latency_metrics(self, samples: list[tuple[float, int, int]], res: dict) -> None:
        """`samples` are (seconds from due to delivery, delivering epoch,
        chunk). The items of one chunk are delivered by one sink call, so
        their latencies differ only by their spread in due time;
        `latency.chunks` says how many chunks the samples come from."""
        tail = stats.tail_percentile(len(samples))
        if tail is None or tail < 99.0:
            raise RuntimeError(f"only {len(samples)} latency samples; p99 needs "
                               f"{stats.MIN_BEYOND} beyond it")
        ms = [s * 1e3 for s, _, _ in samples]
        res["latency_p50_ms"] = stats.percentile(ms, 50)
        res["latency_p99_ms"] = stats.percentile(ms, 99)
        chunks = len({c for _, _, c in samples})
        res["layer"]["latency.samples"] = len(ms)
        res["layer"]["latency.chunks"] = chunks
        res["report"]["latency_samples"] = len(ms)
        res["report"]["latency_chunks"] = chunks
        res["report"]["latency_max_ms"] = max(ms)
        if self.ctx.trace:
            res["layer"]["trace.overhead_p50_ms"] = tracing_overhead_ms(
                [(s, self.traced(e)) for s, e, _ in samples])

    def stream_layer(self, progress: list[dict]) -> dict:
        log = self.log
        # batches that returned after the warm-up and before the first drain
        batches = [p for p in progress if p["numInputRows"] and p["batchId"] in log.sink_ret
                   and self.measure_from <= log.sink_ret[p["batchId"]] < self.drain_start[0]]
        out = {}
        for name, key in _PHASES.items():
            vals = [p["durationMs"].get(key, 0) for p in batches]
            out[f"streaming.{name}.p50"] = stats.percentile(vals, 50)
        out["streaming.trigger_ms.max"] = max(p["durationMs"]["triggerExecution"] for p in batches)
        sink_ms = [(log.sink_ret[p["batchId"]] - log.sink_start[p["batchId"]]) * 1e3
                   for p in batches]
        out["streaming.sink_action_ms.p50"] = stats.percentile(sink_ms, 50)
        out["streaming.sink_action_ms.max"] = max(sink_ms)
        out["streaming.outside_sink_ms.p50"] = stats.percentile(
            [p["durationMs"]["triggerExecution"] - s for p, s in zip(batches, sink_ms)], 50)
        out["streaming.batches"] = len(batches)
        out["streaming.rows_per_batch.p50"] = stats.percentile(
            [p["numInputRows"] for p in batches], 50)
        # backlog at each sink return: released so far - processed so far
        done = {}
        cum = 0
        for p in sorted(progress, key=lambda p: p["batchId"]):
            cum += p["numInputRows"]
            done[p["batchId"]] = cum
        xs, ys = [], []
        for p in batches:
            t = log.sink_ret[p["batchId"]]
            released = sum(n for r, n in log.releases if r <= t)
            xs.append(t - self.measure_from)
            ys.append(released - done[p["batchId"]])
        out["streaming.backlog_max"] = max(ys)
        out["streaming.backlog_slope_per_s"] = stats.slope(xs, ys)
        return out

    def gen_layer(self) -> dict:
        late_ms = [x * 1e3 for x in self.pacer.lateness()]
        measured = [t for t, d in zip(self.pacer.released_at, self.pacer.dues)
                    if d >= self.measure_from]
        n_items = len(measured) * self.w["chunk"]
        return {
            "gen.offered_per_s": n_items / (measured[-1] - measured[0] + self.interval),
            "gen.late_p99_ms": stats.percentile(late_ms, 99),
            "gen.late_max_ms": max(late_ms),
        }


def tracing_overhead_ms(samples: list[tuple[float, bool]]) -> float:
    """Median latency of traced samples minus that of untraced ones, in ms."""
    on = [s for s, traced in samples if traced]
    off = [s for s, traced in samples if not traced]
    if not on or not off:
        return 0.0
    return (stats.median(on) - stats.median(off)) * 1e3


def scheduler_counts(spark, query) -> dict:
    """Jobs, stages and tasks per batch of `query`, from the status tracker
    (streaming runs every job of a query in the job group named by its
    runId). Averaged over all of the query's batches."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(query.runId))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    n = max(1, sum(1 for p in query.recentProgress if p["numInputRows"]))
    return {
        "spark.jobs_per_batch": len(jobs) / n,
        "spark.stages_per_batch": len(stage_ids) / n,
        "spark.tasks_per_batch": tasks / n,
    }


# ---------------------------------------------------------------------------
# CDC
# ---------------------------------------------------------------------------


class CdcStream(PacedStream):
    kind = "cdc"

    def __init__(self, ctx, wcfg: dict, specs: list[dict]):
        super().__init__(ctx, wcfg)
        self.specs = specs
        self.subs_build: list[float] = []

    def stage(self) -> None:
        seed = self.ctx.seed
        n = self.reps + self.n_warm + self.n_measured
        self.chunks = gen.ChangeChunks(seed, n, self.w["chunk"])
        base = n * self.w["chunk"]
        self.drains = [gen.ChangeChunks(seed + 100 + d, self.drain_files, 1000,
                                        first_id=base + d * self.drain_files * 1000)
                       for d in range(self.w["drains"])]

    def chunk_table(self, i, stamps_us):
        return self.chunks.table(i, stamps_us)

    def chunk_ids(self, i):
        return self.chunks.ids(i)

    def drain_table(self, d, j, stamp_us):
        return self.drains[d].table(j, stamp_us)

    def drain_ids(self, d, j):
        return self.drains[d].ids(j)

    def run(self) -> dict:
        if not self.ctx.trace:
            return super().run()
        import realtime_spark.streaming.cdc_stream as cdc_stream

        original = cdc_stream.CompiledMatcher
        cdc_stream.CompiledMatcher = self._timed_matcher(original)
        try:
            res = super().run()
        finally:
            cdc_stream.CompiledMatcher = original
        res["layer"]["operators.match_call_ms.p50"] = stats.percentile(self.match_call_ms, 50)
        return res

    def _timed_matcher(self, base):
        """A CompiledMatcher that times each call: run_cdc_stream builds and
        calls its matcher inside the stream, where the sink cannot see it."""
        bench = self
        bench.match_call_ms = []

        class TimedMatcher(base):
            def __init__(self, subs, column_names):
                with bench.span(True, "CompiledMatcher", "operators", bench.next_epoch):
                    super().__init__(subs, column_names)

            def __call__(self, batch_df):
                epoch = bench.next_epoch
                t = time.perf_counter()
                with bench.span(bench.traced(epoch), "match_call", "operators", epoch):
                    out = super().__call__(batch_df)
                bench.match_call_ms.append((time.perf_counter() - t) * 1e3)
                return out

        return TimedMatcher

    def build(self, rep: int):
        from realtime_spark.operators.cdc import subscriptions_df
        from realtime_spark.streaming.cdc_stream import encode_once_fanout, run_cdc_stream

        ctx, tracer, log = self.ctx, self.ctx.tracer, self.log
        t = time.perf_counter()
        with tracer.span("subscriptions_df", "functions", f"setup{rep}"):
            subs = subscriptions_df(ctx.spark, self.specs, {("public", "orders"): gen.ORDERS_TYPES})
        self.subs_build.append(time.perf_counter() - t)
        self.subs = subs

        def sink(out, epoch_id):
            on = self.traced(epoch_id)
            t0 = time.perf_counter()
            with self.span(on, "sink", "streaming", epoch_id):
                with self.span(on, "encode_once_fanout", "streaming"):
                    enc = encode_once_fanout(out)
                with self.span(on, "collect", "spark"):
                    rows = enc.select("change_id", "encoded", "subscription_ids").collect()
            log.record(epoch_id, t0, time.perf_counter(),
                       [(r[0], r[1], r[2]) for r in rows])
            self.next_epoch = epoch_id + 1

        stream = ctx.spark.readStream.schema(gen.CHANGE_DDL).parquet(self.src)
        self.columns = stream.columns
        with tracer.span("run_cdc_stream", "streaming", f"setup{rep}"):
            return run_cdc_stream(stream, subs, sink, self.ckpt,
                                  trigger_ms=self.w["trigger_ms"], query_name=f"cdc_rep{rep}")

    def evaluate(self) -> dict:
        from realtime_spark.operators.cdc import CompiledMatcher

        log = self.log
        t = time.perf_counter()
        with self.ctx.tracer.span("CompiledMatcher", "operators", "setup"):
            CompiledMatcher(self.subs, self.columns)
        matcher_init = time.perf_counter() - t

        # everything the live query was given: its priming chunk, the paced
        # chunks and the drains
        chunk_ids = [self.live_rep] + sorted(self.dues)
        due = {}
        frames = []
        for i in chunk_ids:
            ids = self.chunks.ids(i)
            d = self.dues.get(i, self.prime_due.get(i))
            due.update((int(c), (i, t)) for c, t in zip(ids, self.item_dues(d).tolist()))
        for dr in self.drains:
            frames.append(pd.DataFrame(dr.truth))
        truth = pd.DataFrame(self.chunks.truth)
        truth = truth[truth["change_id"].isin(list(due))]
        truth = pd.concat([truth] + frames, ignore_index=True)
        expected = oracle.cdc_expected_pairs(truth, self.specs)
        want: dict[int, set] = {}
        for c, s in expected:
            want.setdefault(c, set()).add(s)
        actions = dict(zip(truth["change_id"].tolist(), truth["action"].tolist()))

        got: dict[int, set] = {}
        first_epoch: dict[int, int] = {}
        encode_bytes = fanout = wrong_payload = 0
        for epoch in sorted(log.rows):
            for cid, encoded, sids in log.rows[epoch]:
                cid = int(cid)
                got.setdefault(cid, set()).update(sids)
                first_epoch.setdefault(cid, epoch)
                encode_bytes += len(encoded)
                fanout += len(sids)
                payload = json.loads(encoded)
                if payload["type"] != actions.get(cid) or payload["table"] != "orders":
                    wrong_payload += 1

        attempted = len(truth)
        failed_ids = {c for c in set(want) | set(got) if want.get(c) != got.get(c)}
        samples, late = [], 0
        limit = self.w["latency_limit_ms"] / 1e3
        for cid, (i, d) in due.items():
            if i not in self.measured or cid not in first_epoch:
                continue
            lat = log.sink_ret[first_epoch[cid]] - d
            samples.append((lat, first_epoch[cid], i))
            if lat > limit:
                late += 1
                failed_ids.add(cid)
        failed = len(failed_ids) + wrong_payload
        res = {"attempted": attempted, "failed": failed, "correct": failed == 0,
               "layer": {}, "report": {}}
        self.latency_metrics(samples, res)
        rows_in = sum(p["numInputRows"] for p in self.progress)
        rows_out = len(got)
        res["layer"].update({
            "functions.subs_build_s": stats.median(self.subs_build),
            "operators.matcher_init_s": matcher_init,
            "operators.match_rows_in": rows_in,
            "operators.match_rows_out": rows_out,
            "operators.match_yield": rows_out / rows_in,
            "operators.fanout_pairs": fanout,
            "operators.encode_bytes": encode_bytes,
            "error_rate": failed / attempted,
        })
        res["report"].update({
            "expected_pairs": len(expected), "delivered_pairs": fanout,
            "mismatched_changes": len(failed_ids) - late, "late_changes": late,
            "wrong_payloads": wrong_payload,
        })
        return res


# ---------------------------------------------------------------------------
# presence
# ---------------------------------------------------------------------------


class PresenceStream(PacedStream):
    kind = "presence"

    def stage(self) -> None:
        w, seed = self.w, self.ctx.seed
        n = self.reps + self.n_warm + self.n_measured
        self.chunks = gen.PresenceChunks(seed, n, w["chunk"], w["topics"], w["keys"])
        base = n * w["chunk"]
        self.drains = [gen.PresenceChunks(seed + 100 + d, self.drain_files, 1000, w["topics"],
                                          w["keys"], first_seq=base + d * self.drain_files * 1000)
                       for d in range(w["drains"])]
        self.ts_seq: dict[int, int] = {}

    def _note(self, seqs, ts_us):
        self.ts_seq.update(zip(ts_us.tolist(), seqs.tolist()))

    def chunk_table(self, i, stamps_us):
        self._note(self.chunks.seqs(i), stamps_us)
        return self.chunks.table(i, stamps_us)

    def chunk_ids(self, i):
        return self.chunks.seqs(i)

    def drain_table(self, d, j, stamp_us):
        # drain chunks of one drain share a due time: spread their ts so
        # every event keeps a distinct, seq-ordered timestamp
        seqs = self.drains[d].seqs(j)
        ts = stamp_us + j * len(seqs) + np.arange(len(seqs), dtype=np.int64)
        self._note(seqs, ts)
        return self.drains[d].table(j, ts)

    def drain_ids(self, d, j):
        return self.drains[d].seqs(j)

    def build(self, rep: int):
        from pyspark.sql import functions as F

        from realtime_spark.streaming.presence import presence_diffs_sharded

        ctx, log = self.ctx, self.log

        def sink(batch_df, epoch_id):
            on = self.traced(epoch_id)
            t0 = time.perf_counter()
            with self.span(on, "sink", "streaming", epoch_id):
                with self.span(on, "collect", "spark"):
                    rows = batch_df.select(
                        "topic", "presence_key", "kind", "meta", F.unix_micros("ts")
                    ).collect()
            log.record(epoch_id, t0, time.perf_counter(), [tuple(r) for r in rows])

        stream = ctx.spark.readStream.schema(gen.PRESENCE_DDL).parquet(self.src)
        with ctx.tracer.span("presence_diffs_sharded", "streaming", f"setup{rep}"):
            diffs = presence_diffs_sharded(stream)
            return (
                diffs.writeStream.foreachBatch(sink)
                .outputMode("append")
                .queryName(f"presence_rep{rep}")
                .option("checkpointLocation", self.ckpt)
                .trigger(processingTime=f"{self.w['trigger_ms']} milliseconds")
                .start()
            )

    def evaluate(self) -> dict:
        log, ch = self.log, self.chunks
        chunk_ids = [self.live_rep] + sorted(self.dues)
        due = {}
        parts = []
        for i in chunk_ids:
            lo = i * ch.chunk_size
            sl = slice(lo, lo + ch.chunk_size)
            d = self.dues.get(i, self.prime_due.get(i))
            due.update((int(s), (i, t)) for s, t in zip(ch.seq[sl], self.item_dues(d).tolist()))
            parts.append((ch, sl))
        for dr in self.drains:
            parts.append((dr, slice(0, len(dr.seq))))
        events = pd.concat([
            pd.DataFrame({"topic": c.topic[sl], "presence_key": c.key[sl],
                          "action": c.action[sl], "meta": c.meta[sl], "seq": c.seq[sl]})
            for c, sl in parts], ignore_index=True)
        expected = oracle.presence_expected_diffs(events)

        delivered = set()
        first_epoch: dict[int, int] = {}
        unknown = 0
        for epoch in sorted(log.rows):
            for topic, key, kind, meta, ts_us in log.rows[epoch]:
                seq = self.ts_seq.get(ts_us)
                if seq is None:
                    unknown += 1
                    continue
                delivered.add((topic, key, kind, meta, seq))
                first_epoch.setdefault(seq, epoch)
        failed_seqs = {d[4] for d in expected ^ delivered}
        samples, late = [], 0
        limit = self.w["latency_limit_ms"] / 1e3
        for seq, epoch in first_epoch.items():
            i, d = due.get(seq, (None, None))
            if i not in self.measured:
                continue
            lat = log.sink_ret[epoch] - d
            samples.append((lat, epoch, i))
            if lat > limit:
                late += 1
                failed_seqs.add(seq)
        attempted = len(events)
        failed = len(failed_seqs) + unknown
        res = {"attempted": attempted, "failed": failed, "correct": failed == 0,
               "layer": {}, "report": {}}
        self.latency_metrics(samples, res)
        last = [p for p in self.progress if p["numInputRows"]]
        state = [p["stateOperators"][0] for p in last if p.get("stateOperators")]
        rows_in = sum(p["numInputRows"] for p in self.progress)
        res["layer"].update({
            "streaming.state_rows": state[-1]["numRowsTotal"],
            "streaming.state_mem_bytes": state[-1]["memoryUsedBytes"],
            "streaming.state_commit_ms.p50": stats.percentile([s["commitTimeMs"] for s in state], 50),
            "streaming.state_update_ms.p50": stats.percentile(
                [s["allUpdatesTimeMs"] for s in state], 50),
            "streaming.presence_diff_yield": len(delivered) / rows_in,
            "error_rate": failed / attempted,
        })
        res["report"].update({
            "expected_diffs": len(expected), "delivered_diffs": len(delivered),
            "mismatched_events": len(failed_seqs) - late, "late_events": late,
            "unattributed_diffs": unknown,
        })
        return res
