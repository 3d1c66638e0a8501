"""Streaming metrics heartbeat — A24 parity (hb_client.sh:1-21).

The reference ships a cron-style heartbeat shell script that pings a
monitoring endpoint so operators notice a dead ingest. Spark's native
observability channel is the ``StreamingQueryListener``: every micro-batch
publishes progress (input rows, processing rate, batch duration) on the
listener bus. :class:`IngestMetricsListener` turns that into structured
heartbeat records — the pull-based equivalent of the reference's push
heartbeat, with strictly more signal (rates and latencies, not just
liveness).

The listener is passive observability: it never touches query execution,
so a listener failure cannot take down ingest (the reference's heartbeat
has the same isolation — a curl failure doesn't stop readport).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener


class IngestMetricsListener(StreamingQueryListener):
    """Records one heartbeat dict per micro-batch progress event.

    Each record: ``{"query": name, "batch_id": n, "timestamp": iso,
    "num_input_rows": n, "rows_per_sec": float, "batch_duration_ms": int,
    "packs.update_ms": int, "packs.commit_ms": int, "packs.state_rows": int}``.
    The ``packs.*`` figures (perfbench's layer names) come from the
    query's first state operator, the packer; they read 0 when the query
    has none.
    *emit* (optional) is called with each record — hook for a log line,
    a metrics push, or a test probe. Lifecycle events (start/terminate)
    are recorded in ``events`` as ``(kind, query_name)`` tuples.
    """

    def __init__(self, emit: Callable[[dict], None] | None = None) -> None:
        self.records: list[dict] = []
        self.events: list[tuple[str, str]] = []
        self._emit = emit

    def onQueryStarted(self, event) -> None:
        self.events.append(("started", event.name or str(event.id)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        rec = {
            "query": p.name or str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "batch_duration_ms": p.batchDuration,
            "packs.update_ms": state.allUpdatesTimeMs if state else 0,
            "packs.commit_ms": state.commitTimeMs if state else 0,
            "packs.state_rows": state.numRowsTotal if state else 0,
        }
        self.records.append(rec)
        if self._emit is not None:
            self._emit(rec)

    def onQueryIdle(self, event) -> None:
        self.events.append(("idle", str(event.id)))

    def onQueryTerminated(self, event) -> None:
        self.events.append(("terminated", str(event.id)))


def attach_metrics(
    spark, emit: Callable[[dict], None] | None = None
) -> IngestMetricsListener:
    """Attach a fresh metrics listener to the session's listener bus.

    Session-wide (covers every streaming query, like the reference's one
    heartbeat per host). Detach with
    ``spark.streams.removeListener(listener)``.
    """
    listener = IngestMetricsListener(emit)
    spark.streams.addListener(listener)
    return listener
