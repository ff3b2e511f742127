"""Streaming progress totals of one ``StreamSQL`` instance.

GetStats (streamsql.go:345-351) needs monotone input/output totals for
the life of a stream, but Spark retains only the last
``spark.sql.streaming.numRecentProgressUpdates`` (default 100) progress
entries — re-summing ``recentProgress`` silently undercounts any
long-running query.  :class:`ProgressTotals` accumulates observedMetrics
incrementally instead: as a StreamingQueryListener it ingests the
progress events of the queries it watches as they happen, and the synchronous
drains (one ``lastProgress`` per foreachBatch, ``recentProgress`` at
GetStats — listener callbacks are async) feed the same accumulator,
deduplicated by (runId, batchId) high-water mark, so nothing is counted
twice and nothing is lost when more than 100 micro-batches elapse
between calls.  The drains alone are exact for foreachBatch queries, so
the listener is added only for a query without that hook (the native
file sink): every listener converts every progress event of the session
through py4j on the driver.  The owning ``StreamSQL`` creates the
totals at its first ``start_stream`` and closes them in ``stop()``.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener


class ProgressTotals(StreamingQueryListener):
    """Input/output row totals per watched query id; also the listener
    that feeds them (the session's other queries are skipped before
    their progress JSON is parsed)."""

    def __init__(self):
        self._lock = threading.Lock()
        # query id -> {"in": total, "out": total, "hwm": {runId: batchId}}
        self._totals: dict[str, dict] = {}
        self._streams = None  # the StreamingQueryManager listened to

    def listen(self, spark) -> None:
        """Add this listener to ``spark``'s streams (once)."""
        if self._streams is None:
            self._streams = spark.streams
            self._streams.addListener(self)

    def close(self) -> None:
        """Remove the listener, if added."""
        if self._streams is not None:
            self._streams.removeListener(self)
            self._streams = None

    def watch(self, query_id) -> None:
        with self._lock:
            self._totals.setdefault(str(query_id),
                                    {"in": 0, "out": 0, "hwm": {}})

    def ingest(self, progress: dict) -> None:
        """Fold one StreamingQueryProgress dict of a watched query into
        the totals (idempotent per (runId, batchId): replays and
        double-drains are no-ops)."""
        qid = progress.get("id")
        rid = progress.get("runId")
        bid = progress.get("batchId")
        if qid is None or rid is None or bid is None:
            return
        # recentProgress dicts carry uuid.UUID objects, the listener's
        # JSON path carries strings — normalize so both feed one total
        rid = str(rid)
        with self._lock:
            t = self._totals.get(str(qid))
            if t is None or bid <= t["hwm"].get(rid, -1):
                return
            t["hwm"][rid] = bid
            for name, vals in (progress.get("observedMetrics") or {}).items():
                try:
                    rows = int(vals["rows"])
                except (TypeError, KeyError, ValueError):
                    continue
                if name.startswith("streamsql_source"):
                    t["in"] += rows
                elif name.startswith("streamsql_output"):
                    t["out"] += rows

    def totals(self, query_id) -> dict[str, int]:
        with self._lock:
            t = self._totals.get(str(query_id))
            return {"in": t["in"], "out": t["out"]} if t \
                else {"in": 0, "out": 0}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        try:
            if str(event.progress.id) in self._totals:
                self.ingest(json.loads(event.progress.json))
        except Exception:
            pass  # metrics must never break the stream

    def onQueryTerminated(self, event):
        pass
