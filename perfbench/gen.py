"""Seeded input generators and the open-loop pacer.

Everything the program under test receives is made here from the workload
seed: CDC changes on `public.orders`, subscription specs, presence events and
the small warehouse tables the batch queries read. The same seed gives the
same inputs. The pacer releases pre-built chunks on a fixed schedule from one
thread and records, for each chunk, when it was due and when it was released.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa

# Stream schema of a released change chunk (wal2json-shaped, as the CDC
# operators expect).
CHANGE_DDL = (
    "change_id bigint, schema_name string, table_name string, action string, "
    "commit_timestamp timestamp, record map<string,string>, "
    "old_record map<string,string>"
)
PRESENCE_DDL = (
    "topic string, presence_key string, action string, meta string, "
    "ts timestamp, seq bigint"
)

# pg types of the columns a change record carries (the subset of
# realtime_spark.sources.testdata.ORDERS_PG_TYPES the filters use).
ORDERS_TYPES = {
    "o_orderkey": "int8",
    "o_custkey": "int8",
    "o_orderstatus": "text",
    "o_totalprice": "float8",
    "o_orderpriority": "text",
    "o_nullable": "text",
}
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ACTIONS = np.array(["INSERT", "UPDATE", "DELETE"])
N_CUSTOMERS = 1000

_MAP = pa.map_(pa.string(), pa.string())
_TS = pa.timestamp("us", tz="UTC")


# ---------------------------------------------------------------------------
# CDC changes
# ---------------------------------------------------------------------------


def _order_rows(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    priority = rng.choice(_PRIORITY, n)
    nullable = np.where(rng.random(n) < 1 / 7, None, priority)
    return {
        "o_orderkey": rng.integers(0, 10_000_000, n),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n),
        "o_orderstatus": rng.choice(_STATUS, n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderpriority": priority,
        "o_nullable": nullable,
    }


def _render(rows: dict[str, np.ndarray], i: int) -> list[tuple[str, str | None]]:
    out = []
    for col in ORDERS_TYPES:
        v = rows[col][i]
        if v is None:
            out.append((col, None))
        elif col == "o_totalprice":
            out.append((col, f"{v:.2f}"))
        else:
            out.append((col, str(v)))
    return out


class ChangeChunks:
    """`n_chunks` chunks of `chunk_size` changes each, built up front.

    `table(i, commit_us)` returns chunk i as an Arrow table whose
    commit_timestamp is `commit_us`: one wall-clock time in microseconds per
    change (each change's due time), or one time for the whole chunk.
    `truth` holds, per change, the typed values the filters are evaluated
    against (the old record for a DELETE, the new one otherwise): the input
    of the independent DuckDB reference."""

    def __init__(self, seed: int, n_chunks: int, chunk_size: int, first_id: int = 0):
        rng = np.random.default_rng(seed)
        n = n_chunks * chunk_size
        self.chunk_size = chunk_size
        action = rng.choice(_ACTIONS, n, p=[0.6, 0.3, 0.1])
        new = _order_rows(rng, n)
        old = _order_rows(rng, n)
        old["o_orderkey"] = new["o_orderkey"]
        self._ids = np.arange(first_id, first_id + n, dtype=np.int64)
        self._action = action
        self._record = [
            None if a == "DELETE" else _render(new, i) for i, a in enumerate(action)
        ]
        self._old = [
            None if a == "INSERT" else _render(old, i) for i, a in enumerate(action)
        ]
        is_del = action == "DELETE"
        self.truth = {"change_id": self._ids, "action": action}
        for col in ORDERS_TYPES:
            self.truth[col] = np.where(is_del, old[col], new[col])

    def ids(self, i: int) -> np.ndarray:
        lo = i * self.chunk_size
        return self._ids[lo: lo + self.chunk_size]

    def table(self, i: int, commit_us: int) -> pa.Table:
        lo, hi = i * self.chunk_size, (i + 1) * self.chunk_size
        n = hi - lo
        return pa.table(
            {
                "change_id": pa.array(self._ids[lo:hi], pa.int64()),
                "schema_name": pa.array(["public"] * n),
                "table_name": pa.array(["orders"] * n),
                "action": pa.array(self._action[lo:hi].tolist()),
                "commit_timestamp": pa.array(
                    np.broadcast_to(np.asarray(commit_us, np.int64), (n,)), _TS),
                "record": pa.array(self._record[lo:hi], _MAP),
                "old_record": pa.array(self._old[lo:hi], _MAP),
            }
        )


# ---------------------------------------------------------------------------
# subscriptions
# ---------------------------------------------------------------------------

# Filters of the envelope workload: one per operator family the compiled path
# folds, plus one subscription on another table that never matches.
ENVELOPE_SPECS = [
    {"subscription_id": "env-eq", "table": "orders", "filters": "o_orderstatus=eq.F"},
    {"subscription_id": "env-gt", "table": "orders", "filters": "o_totalprice=gt.250000"},
    {"subscription_id": "env-ins", "table": "orders", "action": "INSERT"},
    {"subscription_id": "env-and", "table": "orders",
     "filters": "o_orderstatus=eq.O,o_totalprice=lte.100000"},
    {"subscription_id": "env-null", "table": "orders", "filters": "o_nullable=is.null",
     "action": "UPDATE"},
    {"subscription_id": "env-in", "table": "orders",
     "filters": "o_custkey=in.(" + ",".join(str(k) for k in range(0, N_CUSTOMERS, 50)) + ")"},
    {"subscription_id": "env-like", "table": "orders", "filters": "o_orderpriority=like.1-%"},
    {"subscription_id": "env-other", "table": "customers"},
]


def _one_filter(rng: np.random.Generator, op: str) -> str:
    if op == "eq":
        col = rng.choice(["o_orderstatus", "o_orderpriority", "o_custkey"])
        if col == "o_custkey":
            return f"o_custkey=eq.{rng.integers(0, N_CUSTOMERS)}"
        vals = _STATUS if col == "o_orderstatus" else _PRIORITY
        return f"{col}=eq.{rng.choice(vals)}"
    if op == "neq":
        return f"o_orderstatus=neq.{rng.choice(_STATUS)}"
    if op in ("lt", "gt"):
        if rng.random() < 0.5:
            return f"o_totalprice={op}.{int(rng.integers(50_000, 450_000))}"
        return f"o_custkey={op}.{int(rng.integers(100, N_CUSTOMERS - 100))}"
    if op == "in":
        if rng.random() < 0.5:
            vals = rng.choice(_STATUS, 2, replace=False)
            return "o_orderstatus=in.(" + ",".join(vals) + ")"
        keys = rng.choice(N_CUSTOMERS, 30, replace=False)
        return "o_custkey=in.(" + ",".join(str(k) for k in sorted(keys)) + ")"
    if op == "like":
        p = str(rng.choice(_PRIORITY))
        return f"o_orderpriority=like.{p[:2]}%" if rng.random() < 0.5 else f"o_orderpriority=like.%{p[-3:]}"
    if op == "is":
        return "o_nullable=not.is.null" if rng.random() < 0.5 else "o_nullable=is.null"
    raise ValueError(op)


FANIN_OPS = ("eq", "neq", "lt", "gt", "in", "like", "is")


def fanin_specs(seed: int, n: int) -> list[dict]:
    """`n` subscriptions whose filters cycle through FANIN_OPS (one or two
    filters each) with seeded values and action filters."""
    rng = np.random.default_rng(seed + 1)
    specs = []
    for i in range(n):
        filters = [_one_filter(rng, FANIN_OPS[i % len(FANIN_OPS)])]
        if rng.random() < 0.3:
            filters.append(_one_filter(rng, str(rng.choice(FANIN_OPS))))
        spec = {
            "subscription_id": f"fan-{i:03d}",
            "table": "orders" if rng.random() < 0.95 else "customers",
            "filters": ",".join(filters),
            "action": str(rng.choice(["*", "*", "INSERT", "UPDATE", "DELETE"])),
        }
        specs.append(spec)
    return specs


# ---------------------------------------------------------------------------
# presence events
# ---------------------------------------------------------------------------


class PresenceChunks:
    """Seeded track/update/untrack events over `n_topics` x `n_keys`.

    The mix follows the repo's presence log over the `events` table
    (realtime_spark.plans.realtime_extra.presence_events): one event in five
    untracks, and a track's meta is one of 100 `{"k": N}` values, so a
    re-track of a present key is almost always an update. `table(i, ts_us)`
    stamps chunk i's events with `ts_us`, one distinct wall-clock time per
    event, so a diff's ts identifies the event that caused it."""

    def __init__(self, seed: int, n_chunks: int, chunk_size: int,
                 n_topics: int, n_keys: int, first_seq: int = 0):
        rng = np.random.default_rng(seed + 2)
        n = n_chunks * chunk_size
        self.chunk_size = chunk_size
        self.topic = np.array([f"room-{t}" for t in rng.integers(0, n_topics, n)])
        self.key = np.array([f"user-{k}" for k in rng.integers(0, n_keys, n)])
        self.action = np.where(rng.random(n) < 0.2, "untrack", "track")
        self.meta = np.array([f'{{"k": {m}}}' for m in rng.integers(0, 100, n)])
        self.seq = np.arange(first_seq, first_seq + n, dtype=np.int64)

    def seqs(self, i: int) -> np.ndarray:
        lo = i * self.chunk_size
        return self.seq[lo: lo + self.chunk_size]

    def table(self, i: int, ts_us: np.ndarray) -> pa.Table:
        lo, hi = i * self.chunk_size, (i + 1) * self.chunk_size
        return pa.table(
            {
                "topic": pa.array(self.topic[lo:hi].tolist()),
                "presence_key": pa.array(self.key[lo:hi].tolist()),
                "action": pa.array(self.action[lo:hi].tolist()),
                "meta": pa.array(self.meta[lo:hi].tolist()),
                "ts": pa.array(np.asarray(ts_us, np.int64), _TS),
                "seq": pa.array(self.seq[lo:hi], pa.int64()),
            }
        )


# ---------------------------------------------------------------------------
# warehouse tables for the batch queries
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def warehouse_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """The five tables the batch queries read, shaped like the repo's
    TPC-H-style testdata: `orders` has `n_orders` rows, `events` two thirds
    as many, `customer` a tenth, `documents` a thirtieth, `nation` 25."""
    rng = np.random.default_rng(seed + 3)
    n_cust = max(50, n_orders // 10)
    n_events = max(100, 2 * n_orders // 3)
    n_docs = max(30, n_orders // 30)
    day = 86_400_000_000
    base_95 = 788_918_400_000_000  # 1995-01-01 in microseconds
    base_24 = 1_704_067_200_000_000  # 2024-01-01
    ts_us = pa.timestamp("us")

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(_STATUS, n_orders).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2)),
        "o_orderdate": pa.array(base_95 + rng.integers(0, 2404, n_orders) * day, ts_us),
        "o_orderpriority": pa.array(rng.choice(_PRIORITY, n_orders).tolist()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ev_ts = np.sort(rng.integers(0, 30 * day, n_events)) + base_24
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(15, n_events // 66), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_events).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = []
    for _ in range(n_docs):
        words = rng.choice(_WORDS, int(rng.integers(8, 80)))
        texts.append(" ".join(words))
    # a few exact duplicates so the dedup paths have work
    for i in range(0, n_docs, 17):
        texts[(i * 7 + 3) % n_docs] = texts[i]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"orders": orders, "customer": customer, "nation": nation,
            "events": events, "documents": documents}


# ---------------------------------------------------------------------------
# open-loop pacer
# ---------------------------------------------------------------------------


class Pacer:
    """Releases chunk i at `dues[i]` by calling `release(i, due)`, from one
    thread, whether or not the system has kept up.

    The schedule never slips: a late release does not move later due times.
    `released_at[i]` is the clock reading after release i returned; its
    lateness is `released_at[i] - dues[i]`."""

    def __init__(self, dues: Sequence[float], release: Callable[[int, float], None],
                 clock: Callable[[], float] = time.perf_counter,
                 sleep: Callable[[float], None] = time.sleep):
        self.dues = list(dues)
        self.released_at: list[float] = []
        self.error: BaseException | None = None
        self._release = release
        self._clock = clock
        self._sleep = sleep
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def run(self) -> None:
        try:
            for i, due in enumerate(self.dues):
                if self._stop.is_set():
                    return
                wait = due - self._clock()
                if wait > 0:
                    self._sleep(wait)
                self._release(i, due)
                self.released_at.append(self._clock())
        except Exception as e:  # reported by the caller after join()
            self.error = e

    def start(self) -> None:
        self._thread = threading.Thread(target=self.run, name="perfbench-pacer", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()

    def join(self, timeout: float) -> bool:
        """Wait for the releases; False if they are still running."""
        if self._thread is None:
            raise RuntimeError("Pacer.join() before start()")
        self._thread.join(timeout)
        return not self._thread.is_alive()

    def lateness(self) -> list[float]:
        """Seconds each released chunk ran behind its due time."""
        return [r - d for r, d in zip(self.released_at, self.dues)]
