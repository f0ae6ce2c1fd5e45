"""Query registry + control channel — the engine's control plane.

Translates the reference's QuerySpout/QueryBolt/StorageManager machinery
(SURVEY.md §3.1): PubSubMessage envelopes carrying queries and signals
(/root/reference src/main/java/com/yahoo/bullet/storm/QuerySpout.java:
113-148), duplicate-query suppression (FilterBolt.java:117-124), KILL /
COMPLETE / FAIL signals (QueryBolt.java:98-112, TopologyConstants.java:
89-101), and replay-on-restart from persisted queries (ReplayBolt.java:
119-143 + MemoryStorageManager in test_config.yaml:20).

Spark design: the registry is driver-side (queries are metadata, not data —
a dict, not a DataFrame); persistence is a JSON file beside the streaming
checkpoint so an engine restart reloads active queries exactly like the
REPLAY protocol, without the batching/acking machinery Storm needed
(SURVEY.md §2.5 row 'Query replay').
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from bullet_storm_spark.clip import Clip
from bullet_storm_spark.plans.query import Query
from bullet_storm_spark.streaming.state import QueryState, make_state


class Signal(str, Enum):
    KILL = "KILL"
    COMPLETE = "COMPLETE"
    FAIL = "FAIL"
    REPLAY = "REPLAY"


@dataclass
class PubSubMessage:
    """(id, content, metadata) envelope — QueryBolt.java:132-138."""

    id: str
    content: Any = None
    signal: Signal | None = None
    metadata: dict[str, Any] = field(default_factory=dict)


class QueryStatus(str, Enum):
    ACTIVE = "ACTIVE"
    DONE = "DONE"
    KILLED = "KILLED"
    FAILED = "FAILED"


@dataclass
class RunningQuery:
    """RunningQuery(id, query, ...) — QueryBolt.java:200-202 analogue, plus
    the per-query runtime the JoinBolt tracked in its maps."""

    id: str
    query: Query
    state: QueryState
    receive_time_ms: int
    deadline_ms: int
    status: QueryStatus = QueryStatus.ACTIVE
    records_consumed: int = 0
    window_number: int = 0
    last_window_close_ms: int = 0
    window_record_marker: int = 0

    def is_expired(self, now_ms: int) -> bool:
        return now_ms >= self.deadline_ms


class ControlChannel:
    """In-process PubSub stand-in: submit/signal messages are drained by the
    engine once per micro-batch (QuerySpout.nextTuple analogue). Swap for a
    Kafka topic consumer in production — the engine only sees PubSubMessage."""

    def __init__(self) -> None:
        self._queue: list[PubSubMessage] = []

    def submit(self, query_id: str, query: Query, **metadata: Any) -> None:
        self._queue.append(PubSubMessage(query_id, query, None, metadata))

    def signal(self, query_id: str, signal: Signal) -> None:
        self._queue.append(PubSubMessage(query_id, None, signal))

    def drain(self) -> list[PubSubMessage]:
        out, self._queue = self._queue, []
        return out


class QueryRegistry:
    """Driver-side registry of running queries with optional persistence."""

    def __init__(
        self,
        storage_dir: str | None = None,
        clock: Callable[[], float] = time.time,
        max_duration_ms: int | None = None,
        snapshot_partitions: int = 16,
        snapshot_batch_size: int = 512,
        compress_snapshots: bool = True,
    ) -> None:
        self.queries: dict[str, RunningQuery] = {}
        self.removed_ids: set[str] = set()  # ReplayBolt removedIds dedup
        self.duplicates_ignored = 0
        self.storage_dir = storage_dir
        self.clock = clock
        self.max_duration_ms = max_duration_ms
        self._log_events = 0
        self._store = None
        if storage_dir:
            os.makedirs(storage_dir, exist_ok=True)
            from bullet_storm_spark.streaming.batching import BatchedSnapshotStore

            self._store = BatchedSnapshotStore(
                os.path.join(storage_dir, "batches"),
                partition_count=snapshot_partitions,
                batch_size=snapshot_batch_size,
                compress=compress_snapshots,
            )

    def _now_ms(self) -> int:
        return int(self.clock() * 1000)

    def submit(self, query_id: str, query: Query) -> RunningQuery | None:
        """Idempotent: duplicate ids ignored and counted
        (FilterBolt.java:117-124, JoinBolt.java:284-294)."""
        if query_id in self.queries or query_id in self.removed_ids:
            self.duplicates_ignored += 1
            return None
        now = self._now_ms()
        duration = query.duration_ms
        if self.max_duration_ms is not None:
            duration = min(duration, self.max_duration_ms)
        rq = RunningQuery(
            id=query_id,
            query=query,
            state=make_state(query),
            receive_time_ms=now,
            deadline_ms=now + duration,
        )
        self.queries[query_id] = rq
        self._persist_submit(rq)
        return rq

    def remove(self, query_id: str, status: QueryStatus) -> RunningQuery | None:
        rq = self.queries.pop(query_id, None)
        if rq is not None:
            rq.status = status
            self.removed_ids.add(query_id)
            self._persist_remove(query_id)
        return rq

    def active(self) -> list[RunningQuery]:
        return [q for q in self.queries.values() if q.status == QueryStatus.ACTIVE]

    # -- persistence / replay (StorageManager.getAll analogue) --------------
    #
    # Write path is an APPEND-ONLY JSONL event log (one line per
    # submit/remove) — O(1) bytes per control-plane operation, so a
    # registry holding ~100k standing queries never rewrites its whole
    # store per submit (the scalability role of the reference's
    # BatchManager batching/compression, M/batching/BatchManager.java,
    # without the Storm acking protocol). The log compacts into a
    # snapshot whenever it accumulates COMPACT_EVERY events; replay folds
    # snapshot + tail.

    COMPACT_EVERY = 4096

    def _store_path(self) -> str:
        return os.path.join(self.storage_dir, "queries.json")

    def _log_path(self) -> str:
        return os.path.join(self.storage_dir, "queries.log")

    def _append_event(self, event: dict) -> None:
        if not self.storage_dir:
            return
        with open(self._log_path(), "a") as f:
            f.write(json.dumps(event) + "\n")
        self._log_events = getattr(self, "_log_events", 0) + 1
        if self._log_events >= self.COMPACT_EVERY:
            self._compact()

    def _snapshot_payload(self) -> dict:
        from bullet_storm_spark.plans.serde import query_to_dict

        return {
            "queries": [
                {
                    "id": rq.id,
                    "query": query_to_dict(rq.query),
                    "receive_time_ms": rq.receive_time_ms,
                    "deadline_ms": rq.deadline_ms,
                }
                for rq in self.queries.values()
            ],
            "removed": sorted(self.removed_ids),
        }

    def _compact(self) -> None:
        """Fold the event log into the partitioned, gzip-batched snapshot
        (streaming/batching.py — the BatchManager analogue: only dirty
        partitions are rewritten/recompressed), then truncate the log.
        Queries persist as JSON (plans/serde) — language-neutral and
        diff-able, unlike pickle."""
        if not self.storage_dir:
            return
        payload = self._snapshot_payload()
        self._store.write(payload["queries"], payload["removed"])
        # retire the legacy single-blob snapshot once the batched store
        # holds the same logical state
        try:
            os.remove(self._store_path())
        except FileNotFoundError:
            pass
        try:
            os.remove(self._log_path())
        except FileNotFoundError:
            pass
        self._log_events = 0

    def _persist_submit(self, rq: RunningQuery) -> None:
        from bullet_storm_spark.plans.serde import query_to_dict

        self._append_event(
            {
                "id": rq.id,
                "query": query_to_dict(rq.query),
                "receive_time_ms": rq.receive_time_ms,
                "deadline_ms": rq.deadline_ms,
            }
        )

    def _persist_remove(self, query_id: str) -> None:
        self._append_event({"remove": query_id})

    def _read_log(self) -> list[dict]:
        """The event log's events. A crash inside ``_append_event`` can
        leave a torn last line (no trailing newline): that event was never
        written, so the line is truncated away. An unparseable line
        anywhere else is corruption and raises."""
        with open(self._log_path(), "rb") as f:
            data = f.read()
        lines = data.split(b"\n")
        tail = lines.pop()  # b"" when the log ends with a newline
        events = [json.loads(line) for line in lines if line.strip()]
        if tail.strip():
            try:
                events.append(json.loads(tail))
            except json.JSONDecodeError:
                with open(self._log_path(), "r+b") as f:
                    f.truncate(len(data) - len(tail))
        return events

    def replay(self) -> int:
        """Reload persisted queries on restart (fresh state — aggregation
        state restarts like the reference's replayed queries, which also
        resume empty; ReplayBolt.java:212-321). Folds snapshot + event-log
        tail, then compacts. Returns count restored."""
        if not self.storage_dir:
            return 0
        from bullet_storm_spark.plans.serde import query_from_dict

        items: list[dict] = []
        removed: set[str] = set()
        if self._store is not None and self._store.exists():
            # batched store: stream batch by batch (bounded replay memory)
            for batch in self._store.iter_batches():
                items.extend(batch)
            removed.update(self._store.removed_ids())
        elif os.path.exists(self._store_path()):
            # legacy single-blob snapshot from an older store: migrated
            # into the batched layout by the _compact() below
            with open(self._store_path()) as f:
                payload = json.load(f)
            items.extend(payload.get("queries", []))
            removed.update(payload.get("removed", []))
        if os.path.exists(self._log_path()):
            for event in self._read_log():
                if "remove" in event:
                    removed.add(event["remove"])
                else:
                    items.append(event)
        if not items and not removed:
            return 0
        self.removed_ids.update(removed)
        restored = 0
        for item in items:
            if item["id"] in self.queries or item["id"] in self.removed_ids:
                continue
            query = query_from_dict(item["query"])
            self.queries[item["id"]] = RunningQuery(
                id=item["id"],
                query=query,
                state=make_state(query),
                receive_time_ms=item["receive_time_ms"],
                deadline_ms=item["deadline_ms"],
            )
            restored += 1
        self._compact()
        return restored
