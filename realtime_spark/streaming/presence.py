"""Presence: replicated per-topic key->metadata state with join/leave diffs.

Reference semantics (ST4/A8):
  - `track` registers (topic, presence_key) with a metadata payload; re-track
    with an unchanged payload is a no-op; changed payload = leave+join update
    (reference: lib/realtime_web/channels/realtime_channel/presence_handler.ex:29-53,122-190)
  - `untrack` removes the key; diffs {joins, leaves} propagate to subscribers
  - full-state sync groups current state per topic
    (reference: presence_handler.ex:193-200, channels/presence.ex:1-12)

The reference replicates state via an ORSWOT CRDT (Phoenix.Tracker). In
Spark, Structured Streaming's state store *is* the replicated state:
`applyInPandasWithState` holds the latest meta per (topic, presence_key) and
emits a diff row on every effective change. Two keyings:
  - `presence_diffs_stateful`: one state row per (topic, presence_key);
  - `presence_diffs_sharded` (the one streams use): one state row per shard
    of a fixed pool, shard = hash(topic, presence_key) % n_shards, holding
    {topic: {presence_key: meta}} -- the tracker's bounded shard pool.
Both give per-key linearization: a key's events meet in one group and are
applied in (ts, seq) order.

Batch analogs (oracle-checkable) live beside the stateful operator:
`presence_diffs_batch` computes the same diffs from an ordered event log with
window functions; `presence_state_batch` is the A8 grouping.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PRESENCE_EVENT_DDL = (
    "topic string, presence_key string, action string, meta string, ts timestamp"
)
DIFF_SCHEMA_DDL = (
    "topic string, presence_key string, kind string, meta string, ts timestamp"
)
_STATE_SCHEMA = "meta string"


def presence_diffs_stateful(events: DataFrame) -> DataFrame:
    """Streaming operator: (topic, presence_key)-keyed state emitting
    join/leave diffs. Input may be a streaming or batch DataFrame with
    PRESENCE_EVENT_DDL columns; action in ('track', 'untrack').

    Emits kind='join' on first track or meta change (the reference treats a
    changed re-track as an update: leave+join collapsed to one update event;
    we emit 'update'), kind='leave' on untrack of a present key. No-op
    re-tracks emit nothing (presence_handler.ex:190).
    """

    # the state function runs once per ACTIVE GROUP per micro-batch — with
    # user-keyed presence that is ~one invocation per row, so the body is
    # written for the 1-row case: column arrays instead of iterrows (a
    # ~10x-per-row pandas tax), tuple rows instead of dict-of-lists, and no
    # output frame at all when a group produced no diffs
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (topic, presence_key) = key
        # presence is STATE EXISTENCE, not meta non-nullness: a track with
        # a null/empty meta still makes the key present (Phoenix tracks
        # empty metas); conflating the two would re-join on every track
        # and drop the final leave
        present: bool = state.exists
        current: str | None = state.get[0] if present else None
        rows: list[tuple[Any, ...]] = []

        # concatenate the micro-batch's chunks before sorting: Arrow delivers
        # a group's rows split across frames with no global order guarantee
        frames = [p for p in pdfs if len(p)]
        if frames:
            merged = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            sort_keys = ["ts", "seq"] if "seq" in merged.columns else ["ts"]
            if len(merged) > 1:
                merged = merged.sort_values(sort_keys, kind="mergesort")
            actions = merged["action"].to_numpy()
            metas = merged["meta"].to_numpy()
            tss = merged["ts"].to_numpy()
            for action, meta, ts in zip(actions, metas, tss):
                if action == "track":
                    if not present:
                        present, current = True, meta
                        rows.append((topic, presence_key, "join", current, ts))
                    elif current != meta:
                        current = meta
                        rows.append((topic, presence_key, "update", current, ts))
                    # unchanged re-track: no-op
                elif action == "untrack" and present:
                    rows.append((topic, presence_key, "leave", current, ts))
                    present, current = False, None
        if present:
            state.update((current,))
        else:
            state.remove()
        if rows:
            yield pd.DataFrame(
                rows, columns=["topic", "presence_key", "kind", "meta", "ts"]
            )

    return events.groupBy("topic", "presence_key").applyInPandasWithState(
        fn,
        outputStructType=DIFF_SCHEMA_DDL,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def presence_diffs_sharded(events: DataFrame, n_shards: int = 32) -> DataFrame:
    """Scale-shaped variant of `presence_diffs_stateful`: state is keyed by
    shard alone, shard = pmod(xxhash64(topic, presence_key), n_shards), and
    each state row holds the shard's members as JSON
    {topic: {presence_key: meta}}.

    Rationale: with per-user presence keys, (topic, presence_key) keying makes
    applyInPandasWithState invoke the Python state fn ~once per ROW per
    micro-batch, and every invocation pays a fixed pandas/Arrow cost (~3 ms)
    in the serializer. Keying by shard alone caps invocations at n_shards
    per batch whatever the number of topics. Per-key linearization holds:
    all events of a (topic, presence_key) hash to the same shard and are
    processed in (ts, seq) order. This mirrors the reference's
    Phoenix.Tracker design of hashing across a bounded shard pool (deps
    phoenix_pubsub; lib/realtime_web/channels/presence.ex:8-11) rather than
    one process per key; each state row stays O(members/n_shards).

    n_shards is part of the state layout: a restart must use the value the
    checkpoint was written with. Checkpoints keyed by (topic, _shard) fail
    Spark's state-schema check on restart. topic and presence_key become
    JSON object keys, so both must be non-null.
    """
    import json

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        current: dict[str, dict[str, str]] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        rows: list[tuple[Any, ...]] = []
        frames = [p for p in pdfs if len(p)]
        if frames:
            merged = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            sort_keys = ["ts", "seq"] if "seq" in merged.columns else ["ts"]
            if len(merged) > 1:
                merged = merged.sort_values(sort_keys, kind="mergesort")
            for topic, pkey, action, meta, ts in zip(
                merged["topic"].to_numpy(),
                merged["presence_key"].to_numpy(),
                merged["action"].to_numpy(),
                merged["meta"].to_numpy(),
                merged["ts"].to_numpy(),
            ):
                members = current.setdefault(topic, {})
                # membership = key IN the map (a stored null meta is still
                # present); .get()-is-None would leak null-meta entries
                # forever and re-join on every track
                if action == "track":
                    if pkey not in members:
                        members[pkey] = meta
                        rows.append((topic, pkey, "join", meta, ts))
                    elif members[pkey] != meta:
                        members[pkey] = meta
                        rows.append((topic, pkey, "update", meta, ts))
                elif action == "untrack" and pkey in members:
                    rows.append((topic, pkey, "leave", members.pop(pkey), ts))
            current = {t: m for t, m in current.items() if m}
        if current:
            state.update((json.dumps(current),))
        else:
            state.remove()
        if rows:
            yield pd.DataFrame(
                rows, columns=["topic", "presence_key", "kind", "meta", "ts"]
            )

    sharded = events.withColumn(
        "_shard", F.pmod(F.xxhash64("topic", "presence_key"), F.lit(n_shards))
    )
    return sharded.groupBy("_shard").applyInPandasWithState(
        fn,
        outputStructType=DIFF_SCHEMA_DDL,
        stateStructType="state_json string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def presence_diffs_batch(events: DataFrame) -> DataFrame:
    """Batch/oracle analog of the stateful diff operator: replay the event log
    per (topic, presence_key) in ts order with lag() and emit the same
    join/update/leave/no-op decisions. One shuffle on the state key."""
    order = ["ts", "seq"] if "seq" in events.columns else ["ts"]
    w = Window.partitionBy("topic", "presence_key").orderBy(*order)
    lagged = events.withColumn("prev_meta", F.lag("meta").over(w)).withColumn(
        "prev_action", F.lag("action").over(w)
    )
    # present before this event <=> previous surviving meta is non-null; with
    # track/untrack only, that's prev_action == 'track' (untrack clears)
    present_before = F.col("prev_action") == "track"
    kind = (
        F.when((F.col("action") == "track") & ~F.coalesce(present_before, F.lit(False)), "join")
        .when(
            (F.col("action") == "track")
            & present_before
            & ~F.col("prev_meta").eqNullSafe(F.col("meta")),
            "update",
        )
        .when((F.col("action") == "untrack") & F.coalesce(present_before, F.lit(False)), "leave")
    )
    out = lagged.withColumn("kind", kind).filter(F.col("kind").isNotNull())
    meta_out = F.when(F.col("kind") == "leave", F.col("prev_meta")).otherwise(F.col("meta"))
    return out.select("topic", "presence_key", "kind", meta_out.alias("meta"), "ts")


def presence_state_batch(events: DataFrame) -> DataFrame:
    """A8: current state per (topic, presence_key) = last surviving track.
    Output one row per present key with its latest meta."""
    order = (
        [F.desc("ts"), F.desc("seq")] if "seq" in events.columns else [F.desc("ts")]
    )
    w = Window.partitionBy("topic", "presence_key").orderBy(*order)
    last = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return last.filter(F.col("action") == "track").select(
        "topic", "presence_key", "meta", F.col("ts").alias("tracked_at")
    )


def presence_diffs_tws(events: DataFrame, n_shards: int = 32) -> DataFrame:
    """Presence diffs on the transformWithStateInPandas API (Spark 4):
    state keyed by (topic, shard), shard = hash(presence_key) % n_shards,
    with a MapState of presence_key -> meta.

    Requires google.protobuf at runtime (the TWS state-server protocol);
    deployments without it use `presence_diffs_sharded`, which is
    semantically identical (tests pin both against the same batch analog).

    Versus the sharded applyInPandasWithState form, MapState is the better
    100 TB shape: each present member is an individual RocksDB entry, so a
    micro-batch reads/writes ONLY the keys it touches — the JSON-blob state
    row of `presence_diffs_sharded` ({topic: {presence_key: meta}} per
    shard) rewrites the whole shard every batch it touches
    (O(members/n_shards) I/O regardless of activity). The price is more
    groups: up to |topics| x n_shards state-fn calls per batch here against
    n_shards there. Same linearization guarantee: a key's events all hash
    to one group and are processed in (ts, seq) order.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Proc(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._members = handle.getMapState(
                "members", "presence_key string", "meta string"
            )

        def handleInputRows(self, key, rows, timerValues):
            (topic, _shard) = key
            out: list[tuple] = []
            frames = [p for p in rows if len(p)]
            if frames:
                merged = (
                    pd.concat(frames, ignore_index=True)
                    if len(frames) > 1
                    else frames[0]
                )
                sort_keys = ["ts", "seq"] if "seq" in merged.columns else ["ts"]
                if len(merged) > 1:
                    merged = merged.sort_values(sort_keys, kind="mergesort")
                for pkey, action, meta, ts in zip(
                    merged["presence_key"].to_numpy(),
                    merged["action"].to_numpy(),
                    merged["meta"].to_numpy(),
                    merged["ts"].to_numpy(),
                ):
                    kt = (pkey,)
                    in_map = self._members.containsKey(kt)
                    cur = self._members.getValue(kt)[0] if in_map else None
                    if action == "track":
                        if not in_map:
                            self._members.updateValue(kt, (meta,))
                            out.append((topic, pkey, "join", meta, ts))
                        elif cur != meta:
                            self._members.updateValue(kt, (meta,))
                            out.append((topic, pkey, "update", meta, ts))
                    elif action == "untrack" and in_map:
                        out.append((topic, pkey, "leave", cur, ts))
                        self._members.removeKey(kt)
            if out:
                yield pd.DataFrame(
                    out, columns=["topic", "presence_key", "kind", "meta", "ts"]
                )

        def close(self) -> None:
            pass

    sharded = events.withColumn(
        "_shard", F.pmod(F.xxhash64("presence_key"), F.lit(n_shards))
    )
    return sharded.groupBy("topic", "_shard").transformWithStateInPandas(
        Proc(),
        outputStructType=DIFF_SCHEMA_DDL,
        outputMode="append",
        timeMode="none",
    )
