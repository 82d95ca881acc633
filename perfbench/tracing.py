"""Spans kept in memory, and per-job task metrics from Spark's event log.

The traced run tags every op with `setJobDescription(workload/op)` and
enables the event log in its own session. Task metrics are attributed to
an op or a pass by the job ids created while it ran (Spark numbers jobs in
order), which also covers jobs started on the engine's own worker threads
and on the stream's thread.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter

#: task-metric fields summed per job
EXEC_FIELDS = (
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


class Spans:
    """Spans (name, parent, start, end, attributes), written out at the end."""

    def __init__(self, root: str = "workload") -> None:
        self._t0 = time.perf_counter()
        self.items: list[dict] = [
            {"id": 0, "parent": None, "name": root, "start_s": 0.0, "end_s": None}
        ]

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append(
            {
                "id": len(self.items),
                "parent": parent,
                "name": name,
                "start_s": round(start - self._t0, 6),
                "end_s": round(end - self._t0, 6),
                **attrs,
            }
        )
        return len(self.items) - 1

    def write(self, path: str) -> None:
        """Close the root span (id 0) and write every span as JSON."""
        self.items[0]["end_s"] = round(time.perf_counter() - self._t0, 6)
        with open(path, "w") as f:
            json.dump(self.items, f)


def _task_metrics(ev: dict) -> Counter:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Counter(
        {
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        }
    )


def job_metrics(log_dir: str) -> dict[int, Counter]:
    """Summed task metrics per job id, from the one event log in `log_dir`.
    Only job-start and task-end lines are decoded; plan events are large."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    stage_job: dict[int, int] = {}
    per_job: dict[int, Counter] = {}
    with open(paths[0]) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                job = stage_job.get(ev["Stage ID"])
                if job is not None:
                    per_job.setdefault(job, Counter()).update(_task_metrics(ev))
    return per_job


def sum_jobs(per_job: dict[int, Counter], first: int, end: int) -> dict[str, float]:
    """Task metrics of jobs `first` <= id < `end`."""
    total = Counter()
    for job in range(first, end):
        total.update(per_job.get(job, Counter()))
    return {k: float(total.get(k, 0)) for k in EXEC_FIELDS}
