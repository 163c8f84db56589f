"""Streaming metrics: per-batch progress capture + latency percentiles.

The reference has no metrics surface beyond log lines; BASELINE.md
requires window-agg p99 emission latency measured from per-batch
progress. Definition used here (and in BENCH docs): per micro-batch,
emission latency = trigger execution wall-time
(durationMs.triggerExecution) — the engine-added delay between a window
being ready (watermark close / data availability) and its rows being
committed. Watermark lag is recorded alongside.

Where the progress comes from: ``SpecStreamJob`` reads it from its own
query handles, never from a session-global listener. Each foreachBatch
call absorbs its query's ``lastProgress`` (the batch before it; two
py4j calls), and the end of the run absorbs each query's
``recentProgress``, so a summary covers every batch even when a run is
longer than Spark's retained progress ring
(``spark.sql.streaming.numRecentProgressUpdates``). A PySpark listener
would instead convert every progress event of every query in the
session with dozens of py4j round trips. ``ProgressRecorder`` still
works as a ``StreamingQueryListener`` for callers that want one.
"""

from __future__ import annotations

import json
import math
import threading

from pyspark.sql.streaming import StreamingQueryListener


def percentile(values: list[float], p: float) -> float:
    if not values:
        return float("nan")
    xs = sorted(values)
    k = (len(xs) - 1) * p
    lo, hi = math.floor(k), math.ceil(k)
    if lo == hi:
        return xs[lo]
    return xs[lo] * (hi - k) + xs[hi] * (k - lo)


class ProgressRecorder(StreamingQueryListener):
    """Collects per-batch progress for one or more streaming queries."""

    def __init__(self):
        self.progress: list[dict] = []
        self._seen: set = set()
        self._lock = threading.Lock()

    # StreamingQueryListener interface ------------------------------------
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        try:
            p = json.loads(event.progress.json)
        except Exception:
            return
        self.absorb([p])

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def absorb(self, events: list[dict]) -> None:
        """Merge progress events read from query handles
        (StreamingQuery.lastProgress / recentProgress) with those
        already recorded, deduplicating on (runId, batchId)."""
        with self._lock:
            for p in events:
                k = (p.get("runId"), p.get("batchId"))
                if k not in self._seen:
                    self._seen.add(k)
                    self.progress.append(p)

    # analysis -------------------------------------------------------------
    def _events(self) -> list[dict]:
        with self._lock:
            return list(self.progress)

    def batch_latencies_ms(self) -> list[float]:
        out = []
        for p in self._events():
            d = p.get("durationMs", {})
            v = d.get("triggerExecution")
            if v is not None and p.get("numInputRows", 0) > 0:
                out.append(float(v))
        return out

    def state_series(self) -> list[dict]:
        """Per-batch state-store footprint, sorted by batchId — the
        evidence trail for the bounded-state claims (bloom_dedup's
        O(1) words/shard, dedup_state's watermark eviction): each
        entry sums numRowsTotal / memoryUsedBytes across the batch's
        stateful operators. A bounded operator's state_rows plateaus
        while cumulative input keeps growing; an unbounded one grows
        linearly with it."""
        out = []
        for p in self._events():
            ops = p.get("stateOperators") or []
            if not ops:
                continue
            out.append({
                "batch_id": p.get("batchId"),
                "input_rows": int(p.get("numInputRows", 0)),
                "state_rows": sum(int(o.get("numRowsTotal", 0))
                                  for o in ops),
                "state_memory_bytes": sum(
                    int(o.get("memoryUsedBytes", 0)) for o in ops),
            })
        return sorted(out, key=lambda d: (d["batch_id"] is None,
                                          d["batch_id"]))

    def summary(self) -> dict:
        evts = self._events()
        lat = self.batch_latencies_ms()
        rows = sum(p.get("numInputRows", 0) for p in evts)
        # late rows dropped by the watermark (north_rule: "late rows
        # dropped + counted") — reported per stateful operator
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in evts
            for op in (p.get("stateOperators") or [])
        )
        return {
            "batches": len(evts),
            "input_rows": int(rows),
            "rows_dropped_by_watermark": int(dropped),
            "latency_ms_p50": percentile(lat, 0.50),
            "latency_ms_p99": percentile(lat, 0.99),
            "latency_ms_max": max(lat) if lat else float("nan"),
        }
