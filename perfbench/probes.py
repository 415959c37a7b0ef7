"""Measurement taken from outside the program: Spark status-store deltas,
a StreamingQueryListener, peak RSS from /proc, and in-memory spans."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    # metric name: (StageData accessor, scale to the metric's unit)
    "spark.input_bytes": ("inputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
}


class StatusStoreProbe:
    """Sums the metrics of every job and stage that started since the last
    call, read from the driver's AppStatusStore over py4j. Job and stage ids
    are monotonic, so "new" is "id above the last one seen"; that also
    catches jobs that stream threads run under their own job groups."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last_job = -1
        self._last_stage = -1
        self.delta()  # skip everything before the probe existed

    def delta(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ["spark.jobs", "spark.stages", "spark.tasks", "spark.spill_bytes", *STAGE_FIELDS],
            0.0,
        )
        stage_ids: set[int] = set()
        misses = 0
        job_id = self._last_job + 1
        while misses < 3:  # tolerate an id gap or two
            try:
                job = self._store.job(job_id)
            except Exception:
                misses += 1
            else:
                misses = 0
                self._last_job = job_id
                out["spark.jobs"] += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.length()))
            job_id += 1
        for sid in sorted(s for s in stage_ids if s > self._last_stage):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for name, (attr, unit) in STAGE_FIELDS.items():
                out[name] += getattr(st, attr)() * unit
        if stage_ids:
            self._last_stage = max(self._last_stage, max(stage_ids))
        return out


def _epoch(iso: str) -> float:
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class StreamProbe(StreamingQueryListener):
    """Collects one record per micro-batch, keyed by query id (stream
    threads do not inherit the client's job group, so attribution is by
    query, then by the time window of the operation that started it)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        states = p.stateOperators or []
        start = _epoch(p.timestamp)
        rec = {
            "query": str(p.id),
            "batch_id": p.batchId,
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1e3,
            "input_rows": p.numInputRows,
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "wal_commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "query_planning_s": d.get("queryPlanning", 0) / 1e3,
            "state_commit_s": sum(s.commitTimeMs for s in states) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_bytes": sum(s.memoryUsedBytes for s in states),
            "late_rows": sum(s.numRowsDroppedByWatermark for s in states),
        }
        with self._lock:
            self._batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        """Every batch recorded since the last call (call after the
        listener bus has drained)."""
        with self._lock:
            out, self._batches = self._batches, []
        return out


def stream_metrics(batches: list[dict]) -> dict[str, float]:
    """Per-layer stream metrics over a set of micro-batch records. State
    rows/bytes are each query's peak, summed over queries."""
    peak_rows: dict[str, int] = {}
    peak_bytes: dict[str, int] = {}
    for b in batches:
        peak_rows[b["query"]] = max(peak_rows.get(b["query"], 0), b["state_rows"])
        peak_bytes[b["query"]] = max(peak_bytes.get(b["query"], 0), b["state_bytes"])
    return {
        "stream.batches": len(batches),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.batch_p50_s": statistics.median(b["trigger_s"] for b in batches)
        if batches
        else 0.0,
        "stream.add_batch_s": sum(b["add_batch_s"] for b in batches),
        "stream.wal_commit_s": sum(b["wal_commit_s"] for b in batches),
        "stream.query_planning_s": sum(b["query_planning_s"] for b in batches),
        "stream.state_commit_s": sum(b["state_commit_s"] for b in batches),
        "stream.state_rows": sum(peak_rows.values()),
        "stream.state_bytes": sum(peak_bytes.values()),
        "stream.late_rows": sum(b["late_rows"] for b in batches),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``;
    (0, 0) where there is none. Steal is time the hypervisor gave this
    machine's CPUs to someone else: a share of it over the timed region
    tells a slow run on a busy host from a slow program."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class Spans:
    """Spans kept in memory and written as one JSON file at exit. Every
    operation is a root span; its children are the layer spans."""

    def __init__(self):
        self._ids = itertools.count(1)
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
