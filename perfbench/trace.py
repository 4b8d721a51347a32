"""Fold a Spark event log into per-step totals.

A step is one public call plus its action, tagged with
``sc.setJobGroup(step_id, ...)`` and bracketed by wall-clock times the
benchmark records. A job belongs to the step whose group it carries;
jobs without one (streaming micro-batches run under the stream's own
thread and group) belong to the step whose interval contains the job's
submission time. Stages and tasks follow their job.

The log must be uncompressed (``spark.eventLog.compress=false``); Spark
4 writes it as a rolling directory of ``events_<n>_<app>`` files.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable
from datetime import datetime

PYTHON_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_cpu_ns", "task_run_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "stage_busy_ms", *PYTHON_ACCUMS.values(), "micro_batches",
)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def fold(events: Iterable[dict], steps: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per-step totals for ``steps`` = [(step_id, start_ms, end_ms)].

    Returns {step_id: {counter: value, "batch_ms": [...],
    "state_rows": n}} with the counters in :data:`COUNTERS`; events
    outside every step are dropped.
    """
    ids = {s for s, _, _ in steps}
    out = {s: {c: 0 for c in COUNTERS} | {"batch_ms": [], "state_rows": 0} for s in ids}

    def by_time(t_ms: float) -> str | None:
        for s, lo, hi in steps:
            if lo <= t_ms <= hi:
                return s
        return None

    stage_step: dict[int, str] = {}
    stage_span: dict[str, list[tuple[float, float]]] = {s: [] for s in ids}
    last_progress: dict[tuple[str, str], list] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            step = group if group in ids else by_time(e["Submission Time"])
            if step is None:
                continue
            out[step]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_step[sid] = step
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            step = stage_step.get(info["Stage ID"])
            if step is None or "Submission Time" not in info:
                continue
            out[step]["stages"] += 1
            stage_span[step].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            step = stage_step.get(e["Stage ID"])
            if step is None:
                continue
            acc = out[step]
            acc["tasks"] += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            acc["task_cpu_ns"] += m.get("Executor CPU Time", 0)
            acc["task_run_ms"] += m.get("Executor Run Time", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_ACCUMS.get(a.get("Name"))
                if key is not None:
                    acc[key] += int(a.get("Update") or 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            step = by_time(_iso_ms(p["timestamp"]))
            if step is None:
                continue
            out[step]["micro_batches"] += 1
            out[step]["batch_ms"].append(p.get("batchDuration", 0))
            last_progress[(step, p["runId"])] = p.get("stateOperators") or []
    for (step, _run), ops in last_progress.items():
        out[step]["state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
    for s in ids:
        lo_hi = next((lo, hi) for sid, lo, hi in steps if sid == s)
        clipped = [(max(a, lo_hi[0]), min(b, lo_hi[1])) for a, b in stage_span[s]]
        out[s]["stage_busy_ms"] = _union_ms([(a, b) for a, b in clipped if b > a])
    return out


def tail_quantile(n: int, target: float = 0.9, beyond: int = 10) -> float:
    """The highest quantile, at most ``target``, with at least
    ``beyond`` of ``n`` samples above it (0.5 when there are too few
    samples for any higher one)."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(target, (n - beyond) / n))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
