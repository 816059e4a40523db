"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded around the calls the benchmark makes into each
layer, from the benchmark's own files: the MergeSink's
``process_batch``, its replay check, its commit protocol's ``publish``
and publish's two write callbacks. A query-scoped
``StreamingQueryListener`` keeps each micro-batch's progress, the GC
MXBeans are read through py4j before and after the timed region, and
Spark's own event log is folded into stage-level totals afterwards.

Spans are kept in memory and written to JSON when the run ends. With
tracing off every hook here is a no-op, so the untraced run measures
the engine alone.
"""

from __future__ import annotations

import datetime
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, start, end, parent span id, run id."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on a thread with no open span (py4j callback
        # threads run foreachBatch) hang under the main thread's root
        self._root: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        is_root = not stack and threading.current_thread() is threading.main_thread()
        if is_root:
            self._root = sid
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if is_root:
                self._root = None
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "run_id": self.run_id}
            if attrs:
                rec["attrs"] = attrs
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total_ms(self, name: str, since: float = 0.0, until: float = float("inf")) -> float:
        return 1000.0 * sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and since <= s["start"] <= until
        )

    def count(self, name: str, since: float = 0.0, until: float = float("inf")) -> int:
        return sum(1 for s in self.spans if s["name"] == name and since <= s["start"] <= until)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def instrument_sink(sink, tracer: Tracer, commits: dict[int, float]):
    """The foreachBatch function for ``sink``: calls its process_batch
    and records when each batch's call returned (its commit time). When
    tracing, also wraps the replay check, the protocol's publish and
    publish's data and lineage writes in spans."""
    inner = sink.process_batch
    if tracer.enabled:
        sink.committed_batches = tracer.wrap("sinks.replay_check", sink.committed_batches)
        publish = sink.protocol.publish

        def traced_publish(batch_id, write_data, write_lineage):
            with tracer.span("sinks.publish"):
                publish(
                    batch_id,
                    tracer.wrap("sinks.data_write", write_data),
                    tracer.wrap("sinks.lineage_write", write_lineage),
                )

        sink.protocol.publish = traced_publish

    def process_batch(df, batch_id):
        with tracer.span("sinks.process_batch", batch_id=int(batch_id)):
            inner(df, batch_id)
        commits[int(batch_id)] = time.time()

    return process_batch


class ProgressListener(StreamingQueryListener):
    """Keeps the progress JSON of the queries whose name it was given.
    Events arrive in order on the listener bus, after the query's own
    calls return; ``progress_of`` waits for the termination event so
    the last batch's progress is not missed."""

    def __init__(self):
        self.names: set[str] = set()
        self.progress: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.name in self.names:
            with self._cond:
                self.progress.setdefault(str(p.id), []).append(json.loads(p.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated.add(str(event.id))
            self._cond.notify_all()

    def progress_of(self, query_id: str, timeout: float = 30.0) -> list[dict]:
        with self._cond:
            self._cond.wait_for(lambda: query_id in self._terminated, timeout)
            return list(self.progress.get(query_id, []))


# RocksDB state-store custom metrics reported as operators.rocksdb_*
ROCKSDB_METRICS = {
    "rocksdbCommitFlushLatency": "rocksdb_commit_flush_ms",
    "rocksdbCommitCompactLatency": "rocksdb_commit_compact_ms",
    "rocksdbCommitCheckpointLatency": "rocksdb_commit_checkpoint_ms",
    "rocksdbCommitFileSyncLatencyMs": "rocksdb_commit_file_sync_ms",
    "rocksdbGetCount": "rocksdb_get_count",
    "rocksdbPutCount": "rocksdb_put_count",
    "rocksdbTotalBytesWritten": "rocksdb_bytes_written",
    "rocksdbSstFileSize": "rocksdb_sst_bytes",
}


def _epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def fold_progress(progress: list[dict], started: float) -> dict[str, float]:
    """Per-layer metrics of one streaming query from its progress list;
    ``started`` is when the benchmark called start() (epoch seconds)."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0 or p.get("stateOperators")]
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in batches)  # noqa: E731
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    rows_in = sum(p.get("numInputRows", 0) for p in batches)
    trig = [p.get("durationMs", {}).get("triggerExecution", 0) for p in batches]
    out = {
        "streaming.batches": len(batches),
        # start() to the first trigger: query start-up, outside every trigger
        "streaming.query_start_ms": 1000.0 * (_epoch(batches[0]["timestamp"]) - started) if batches else 0.0,
        "streaming.trigger_ms_p50": statistics.median(trig) if trig else 0.0,
        "streaming.trigger_ms_total": sum(trig),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.add_batch_ms": dur("addBatch"),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.input_rows": rows_in,
        "operators.state_rows_max": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "operators.state_memory_bytes_max": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "operators.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "operators.state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "operators.state_removal_ms": sum(o.get("allRemovalsTimeMs", 0) for o in ops),
        "operators.rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "operators.keep_ratio": sum(o.get("numRowsUpdated", 0) for o in ops) / rows_in if rows_in else 0.0,
    }
    for spark_name, name in ROCKSDB_METRICS.items():
        vals = [o.get("customMetrics", {}).get(spark_name, 0) for o in ops]
        out[f"operators.{name}"] = max(vals, default=0) if name == "rocksdb_sst_bytes" else sum(vals)
    return out


def gc_totals(spark) -> tuple[float, int]:
    """(collection ms, collection count) summed over the JVM's GC MXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = count = 0
    for b in beans:
        ms += max(0, b.getCollectionTime())
        count += max(0, b.getCollectionCount())
    return float(ms), int(count)


# stage accumulables (SQL metrics) folded into functions.*
PYTHON_ACCUMS = {
    "time to run Python workers": "functions.python_worker_ms",
    "data sent to Python workers": "functions.python_bytes_in",
    "data returned from Python workers": "functions.python_bytes_out",
}


def fold_event_log(log_dir: str, since: float, until: float) -> dict[str, float]:
    """Stage totals of the stages submitted within [since, until] (epoch
    seconds) in every uncompressed event log under ``log_dir``."""
    out = {
        "queries.executor_run_ms": 0.0, "queries.gc_ms": 0.0,
        "queries.shuffle_write_bytes": 0.0, "queries.shuffle_fetch_wait_ms": 0.0,
        "queries.spill_bytes": 0.0,
    }
    out.update({v: 0.0 for v in PYTHON_ACCUMS.values()})
    if not os.path.isdir(log_dir):
        return out
    lo, hi = since * 1000.0, until * 1000.0
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                if not lo <= info.get("Submission Time", 0) <= hi:
                    continue
                for acc in info.get("Accumulables", []):
                    name, value = acc.get("Name", ""), acc.get("Value")
                    try:
                        v = float(value)
                    except (TypeError, ValueError):
                        continue
                    key = {
                        "internal.metrics.executorRunTime": "queries.executor_run_ms",
                        "internal.metrics.jvmGCTime": "queries.gc_ms",
                        "internal.metrics.shuffle.write.bytesWritten": "queries.shuffle_write_bytes",
                        "internal.metrics.shuffle.read.fetchWaitTime": "queries.shuffle_fetch_wait_ms",
                        "internal.metrics.memoryBytesSpilled": "queries.spill_bytes",
                        "internal.metrics.diskBytesSpilled": "queries.spill_bytes",
                    }.get(name) or PYTHON_ACCUMS.get(name)
                    if key:
                        out[key] += v
    return out
