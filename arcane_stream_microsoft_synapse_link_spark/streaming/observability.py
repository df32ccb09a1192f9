"""Observability: per-batch intake metrics + streaming-progress capture.

The reference carries an ``observability`` config block (metric tags →
Datadog sidecar, stream-context-serialized-example.json; CRD
``spec.observability``). The Spark-native equivalent is (a) a small
per-batch metrics recorder the runner feeds (rows, wall seconds, rows/s —
the numbers the reference's advisedRate throughput contract is stated in),
persisted as JSONL so any scraper can tail it, and (b) a
``StreamingQueryListener`` that captures Structured Streaming progress
events (batch duration, input rows) of one readStream query.  The CDC
source emits one row per batch folder, so there ``numInputRows`` counts
folders; the per-batch JSONL counts rows.

No driver-side aggregation of data rows happens here — metrics are O(1)
per batch regardless of batch size, and the recorder's memory is O(1)
over the life of a stream: running totals plus the last ``TAIL`` batches.
"""

from __future__ import annotations

import json
import os
import time
from collections import deque
from dataclasses import asdict, dataclass, field


@dataclass
class BatchMetric:
    batch_folder: str
    rows: int  # staged rows as read
    seconds: float
    rows_per_sec: float
    wall_ts: float
    tags: dict[str, str] = field(default_factory=dict)
    # rows that took effect (after dedup and the version guard); None when
    # the caller did not report the merge outcome
    merged: int | None = None
    inserts: int | None = None
    updates: int | None = None
    deletes: int | None = None
    # deduplicated staged rows that took no effect: stale re-uploads and
    # deletes of absent keys
    noops: int | None = None


class StatsdPublisher:
    """DogStatsD-format metric emitter over UDP or a Unix datagram socket —
    the analog of the reference's ``DeclaredMetrics`` +
    ``DataDog.UdsPublisher`` stack (main.scala:111-114, wired from
    ``zio.metrics.connectors.statsd`` DatagramSocketConfig). Address forms:

        ``udp:host:port``  — StatsD over UDP (the classic agent socket)
        ``uds:/path.sock`` — DogStatsD over a Unix datagram socket (the
                             Datadog sidecar mount the reference targets)

    Datagram shape: ``name:value|type|#tag:val,tag2:val2``. Emission is
    fire-and-forget (datagrams, no ack) and never throws into the stream —
    a dead agent must not fail a merge."""

    def __init__(self, address: str, tags: dict[str, str] | None = None):
        import socket

        self.tags = dict(tags or {})
        if address.startswith("udp:"):
            _, host, port = address.split(":", 2)
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self._dest: tuple[str, int] | str = (host, int(port))
        elif address.startswith("uds:"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
            self._dest = address[4:]
        else:
            raise ValueError(f"statsd address {address!r} not udp:host:port or uds:/path")

    def _format(self, name: str, value: float, mtype: str) -> bytes:
        v = int(value) if float(value).is_integer() else value
        line = f"{name}:{v}|{mtype}"
        if self.tags:
            line += "|#" + ",".join(f"{k}:{val}" for k, val in sorted(self.tags.items()))
        return line.encode()

    def _send(self, payload: bytes) -> None:
        try:
            self._sock.sendto(payload, self._dest)
        except OSError:
            pass  # fire-and-forget: metrics never take down the stream

    def count(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "c"))

    def timing_ms(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "ms"))

    def gauge(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "g"))

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


# Declared metric names (DeclaredMetrics analog): what a batch emits.
METRIC_ROWS_INCOMING = "arcane.stream.rows.incoming"
METRIC_ROWS_MERGED = "arcane.stream.rows.merged"
METRIC_BATCH_DURATION = "arcane.stream.batch.duration"


# batches a recorder keeps in memory; the JSONL file holds them all
TAIL = 256


class MetricsRecorder:
    """Collects per-batch intake metrics; optionally appends JSONL to
    ``path`` (one object per line, crash-safe append) and/or publishes
    StatsD datagrams per batch (``statsd_address``).  In memory it keeps
    the running ``batches`` and ``total_rows`` and the last ``TAIL``
    batches (``metrics``)."""

    def __init__(
        self,
        path: str | None = None,
        tags: dict[str, str] | None = None,
        statsd_address: str | None = None,
    ):
        self.path = path
        self.tags = dict(tags or {})
        self.metrics: deque[BatchMetric] = deque(maxlen=TAIL)
        self.batches = 0
        self.total_rows = 0
        self.statsd = StatsdPublisher(statsd_address, self.tags) if statsd_address else None

    def record(
        self,
        batch_folder: str,
        rows: int,
        seconds: float,
        inserts: int | None = None,
        updates: int | None = None,
        deletes: int | None = None,
        noops: int | None = None,
    ) -> BatchMetric:
        """One merged batch: ``rows`` read, and — when the merge outcome
        is known — the ``inserts``, ``updates`` and ``deletes`` that took
        effect (``rows.merged`` is their sum) and the ``noops`` that did
        not."""
        outcome = (inserts, updates, deletes)
        m = BatchMetric(
            batch_folder=batch_folder,
            rows=rows,
            seconds=round(seconds, 6),
            rows_per_sec=round(rows / seconds, 3) if seconds > 0 else 0.0,
            wall_ts=time.time(),
            tags=self.tags,
            merged=None if None in outcome else sum(outcome),
            inserts=inserts,
            updates=updates,
            deletes=deletes,
            noops=noops,
        )
        self.metrics.append(m)
        self.batches += 1
        self.total_rows += rows
        if self.path:
            os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
            with open(self.path, "a") as fh:
                fh.write(json.dumps(asdict(m)) + "\n")
        if self.statsd is not None:
            # one merged batch → rows-in count, rows-merged count, duration
            self.statsd.count(METRIC_ROWS_INCOMING, rows)
            if m.merged is not None:
                self.statsd.count(METRIC_ROWS_MERGED, m.merged)
            self.statsd.timing_ms(METRIC_BATCH_DURATION, seconds * 1000.0)
        return m


def jsonl_progress_listener(path: str, streams):
    """StreamingQueryListener that appends ONE query's progress events
    (started, each micro-batch's id, input rows and durations, terminated)
    to a JSONL file.  Register it with ``streams.addListener``, start the
    query, then ``bind(query)``: events that arrive before the bind (a
    query's started event always does) are held until then, events of
    other queries are dropped, and after its query terminates the listener
    removes itself from ``streams``."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._run_id: str | None = None
            self._held: list[dict] = []

        def bind(self, query) -> None:
            with self._lock:
                self._run_id = str(query.runId)
            self._emit()

        def onQueryStarted(self, event):
            self._emit({"event": "started", "id": str(event.id), "runId": str(event.runId)})

        def onQueryProgress(self, event):
            p = event.progress
            self._emit(
                {
                    "event": "progress",
                    "id": str(p.id),
                    "runId": str(p.runId),
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs or {}),
                }
            )

        def onQueryTerminated(self, event):
            self._emit({"event": "terminated", "id": str(event.id), "runId": str(event.runId)})

        def onQueryIdle(self, event):
            pass

        def _emit(self, obj: dict | None = None) -> None:
            """Hold ``obj``; once bound, write the held events of this
            query in arrival order (the bus thread and ``bind`` may both
            flush) and drop the rest."""
            with self._lock:
                if obj is not None:
                    self._held.append(obj)
                if self._run_id is None:
                    return
                mine = [o for o in self._held if o["runId"] == self._run_id]
                self._held.clear()
                if mine:
                    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
                    with open(path, "a") as fh:
                        fh.writelines(json.dumps(o) + "\n" for o in mine)
            if any(o["event"] == "terminated" for o in mine):
                streams.removeListener(self)

    return _Listener()
