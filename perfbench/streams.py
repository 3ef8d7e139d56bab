"""Reading a streaming query's results from the files it leaves behind.

A file-sink query leaves three logs, all read here without touching the
engine: ``<checkpoint>/sources/0/N`` lists the input files batch ``N``
consumed, ``<checkpoint>/commits/N`` is written when batch ``N`` is done,
and ``<sink>/_spark_metadata/N`` lists the files batch ``N`` added to the
sink. Every 10th log file is a ``N.compact`` file holding all live entries.
"""

from __future__ import annotations

import json
import os


def _log_files(d: str) -> list[tuple[int, str]]:
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        stem = name.split(".")[0]
        if not name.startswith(".") and stem.isdigit():
            out.append((int(stem), os.path.join(d, name)))
    return sorted(out)


def _entries(path: str) -> list[dict]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    return [json.loads(line) for line in lines[1:] if line.strip()]


def _basename(uri: str) -> str:
    return uri.rsplit("/", 1)[-1]


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the batch that consumed it."""
    out: dict[str, int] = {}
    for _, path in _log_files(os.path.join(checkpoint, "sources", "0")):
        for e in _entries(path):
            out[_basename(e["path"])] = int(e["batchId"])
    return out


def commit_times_ns(checkpoint: str) -> dict[int, int]:
    """Batch id -> wall time (epoch ns) its commit-log entry was written."""
    return {b: os.stat(p).st_mtime_ns
            for b, p in _log_files(os.path.join(checkpoint, "commits"))}


class CheckpointReader:
    """Incremental view of a checkpoint: which input files have been read
    by a committed batch. Parses each log file once."""

    def __init__(self, checkpoint: str):
        self._sources = os.path.join(checkpoint, "sources", "0")
        self._commits = os.path.join(checkpoint, "commits")
        self._parsed: set[int] = set()
        self._file_batch: dict[str, int] = {}

    def committed(self, names: list[str]) -> bool:
        for b, path in _log_files(self._sources):
            if b not in self._parsed:
                try:
                    entries = _entries(path)
                except (OSError, ValueError):
                    continue  # not fully written yet; next poll
                self._parsed.add(b)
                for e in entries:
                    self._file_batch[_basename(e["path"])] = int(e["batchId"])
        if not all(n in self._file_batch for n in names):
            return False
        last = max(self._file_batch[n] for n in names)
        return os.path.exists(os.path.join(self._commits, str(last)))


def sink_batches(sink: str) -> dict[int, list[str]]:
    """Batch id -> paths of the data files that batch added to the sink."""
    seen: set[str] = set()
    out: dict[int, list[str]] = {}
    for b, path in _log_files(os.path.join(sink, "_spark_metadata")):
        new = []
        for e in _entries(path):
            name = _basename(e["path"])
            if e.get("action", "add") == "add" and name not in seen:
                seen.add(name)
                new.append(os.path.join(sink, name))
        out[b] = new
    return out


def progress_summary(progress: list[dict]) -> dict:
    """Per-batch durations and state-store figures from recentProgress."""
    from statistics import median

    def p50(xs):
        return float(median(xs)) if xs else 0.0

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    trig = [d.get("triggerExecution", 0) for d in dur]
    add = [d.get("addBatch", 0) for d in dur]
    ops = [p.get("stateOperators", []) for p in progress]
    last_ops = ops[-1] if ops else []
    return {
        "streaming.batches": len(progress),
        "streaming.rows_per_batch_p50": p50([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": p50(trig),
        "streaming.add_batch_ms_p50": p50(add),
        "streaming.overhead_ms_p50": p50([t - a for t, a in zip(trig, add)]),
        "streaming.planning_ms_p50": p50([d.get("queryPlanning", 0) for d in dur]),
        "streaming.wal_ms_p50": p50([d.get("walCommit", 0) for d in dur]),
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "streaming.state_mem_bytes": max(
            (sum(o.get("memoryUsedBytes", 0) for o in batch) for batch in ops),
            default=0),
        "streaming.state_commit_ms_p50": p50(
            [sum(o.get("commitTimeMs", 0) for o in batch) for batch in ops if batch]),
        "streaming.state_rows_removed": sum(
            o.get("numRowsRemoved", 0) for batch in ops for o in batch),
        "streaming.watermark_dropped": sum(
            o.get("numRowsDroppedByWatermark", 0) for batch in ops for o in batch),
    }


def dedup_dropped(progress: list[dict]) -> int:
    """Rows the streaming dedup operator dropped as duplicates."""
    return sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
               for p in progress for o in p.get("stateOperators", []))
