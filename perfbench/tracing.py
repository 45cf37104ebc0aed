"""Tracing for the benchmark's traced runs.

Everything here observes ``logflow_spark`` from outside: spans wrap the
benchmark's own calls into each layer's public functions, a streaming
listener keeps every ``StreamingQueryProgress``, and the Spark JSON event
log and the Python UDF profiler (both switched on for traced runs only) are
read back when the run ends. Nothing is written until ``Spans.dump``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory spans: (name, start, end, parent index)."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        row = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.rows.append(row)
        self._stack.append(len(self.rows) - 1)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        self.rows.append({"name": name, "start": start, "end": end,
                          "parent": self._stack[-1] if self._stack else None})

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(r["end"] - r["start"] for r in self.rows
                            if r["name"] == name and r["end"] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


class ProgressListener(StreamingQueryListener):
    """Keeps each query progress as parsed JSON."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_run(self, run_id: str, n_batches: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress of one query run, waiting for the listener bus to catch
        up with the ``n_batches`` the query reported itself."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = [p for p in self.progress if p["runId"] == run_id]
            if len(got) >= n_batches or time.time() > deadline:
                return sorted(got, key=lambda p: p["batchId"])
            time.sleep(0.02)


def progress_layers(progress: list[dict], wall_s: float) -> dict:
    """Per-layer numbers from the progress of one streaming run."""

    def dur(key: str) -> float:
        return float(sum(p.get("durationMs", {}).get(key, 0) for p in progress))

    def st(key: str, agg=sum) -> float:
        vals = [o.get(key, 0) for p in progress for o in p.get("stateOperators", [])]
        return float(agg(vals)) if vals else 0.0

    trig = dur("triggerExecution")
    return {
        "streaming.batches": float(len(progress)),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_ms": dur("walCommit") + dur("commitOffsets"),
        "streaming.trigger_ms": trig,
        "streaming.idle_share": max(0.0, 1.0 - trig / (1000.0 * wall_s)) if wall_s > 0 else 0.0,
        "streaming.state_rows": st("numRowsTotal", max),
        "streaming.state_mem_bytes": st("memoryUsedBytes", max),
        "streaming.state_rows_updated": st("numRowsUpdated"),
        "streaming.state_commit_ms": st("commitTimeMs"),
        "streaming.state_update_ms": st("allUpdatesTimeMs"),
        "streaming.state_removal_ms": st("allRemovalsTimeMs"),
        "streaming.late_dropped_rows": st("numRowsDroppedByWatermark"),
        "sources.input_rows": float(sum(p.get("numInputRows", 0) for p in progress)),
        "sources.offset_ms": dur("latestOffset") + dur("getBatch"),
    }


def udf_profile_ms(spark) -> float:
    """Total time the perf UDF profiler recorded across all UDFs."""
    stats = spark._profiler_collector._perf_profile_results
    return 1000.0 * sum(s.total_tt for s in stats.values())


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def event_log_layers(log_dir: str, job_groups: set[str] | None) -> dict:
    """Scan, shuffle, spill, Arrow-boundary bytes and post-shuffle task skew
    from the JSON event log, restricted to jobs whose group is in
    ``job_groups`` (streaming jobs carry the query run id as their group);
    ``None`` keeps every job."""
    stage_ok: set[int] = set()
    tasks: dict[int, list[float]] = {}
    stage_shuffle_read: dict[int, int] = {}
    acc = {"scan": 0, "shw": 0, "shr": 0, "spill": 0, "arrow": 0, "records": 0}
    # Spark 4 writes a rolling log: a directory of event files per app
    paths = [p for p in glob.glob(f"{log_dir}/**/*", recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if job_groups is None or group in job_groups:
                        stage_ok.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ok:
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    inp = m.get("Input Metrics", {})
                    acc["scan"] += inp.get("Bytes Read", 0)
                    acc["records"] += inp.get("Records Read", 0)
                    acc["shw"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    r = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["shr"] += r
                    stage_shuffle_read[sid] = stage_shuffle_read.get(sid, 0) + r
                    acc["spill"] += m.get("Disk Bytes Spilled", 0)
                    tasks.setdefault(sid, []).append(float(m.get("Executor Run Time", 0)))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") in (_PY_SENT, _PY_RECV):
                            acc["arrow"] += int(a.get("Update", 0) or 0)
    # widest stage that reads a shuffle: the one whose stragglers matter
    post = [s for s, b in stage_shuffle_read.items() if b > 0 and tasks.get(s)]
    skew = 0.0
    if post:
        wide = max(post, key=lambda s: (len(tasks[s]), s))
        med = statistics.median(tasks[wide])
        skew = max(tasks[wide]) / med if med > 0 else 1.0
    return {
        "sources.scan_bytes": float(acc["scan"]),
        "functions.arrow_bytes": float(acc["arrow"]),
        "operators.shuffle_write_bytes": float(acc["shw"]),
        "operators.shuffle_read_bytes": float(acc["shr"]),
        "operators.spill_bytes": float(acc["spill"]),
        "operators.task_skew": float(skew),
        "_records_read": float(acc["records"]),
    }
