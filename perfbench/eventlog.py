"""Roll up Spark's JSON event log by job group.

Spark writes one JSON object per line.  A rolling log (the Spark 4 default)
is a directory ``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` files; a
plain log is one file.  Stages are attributed to the job group found in
their ``StageSubmitted`` properties, so a stage that several jobs share is
counted once, under the group of the job that ran it.

Only ``json`` from the standard library is used; the log must be written
uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, fields

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_worker_s: float = 0.0
    python_rows_in: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0

    def add(self, other: "GroupStats") -> "GroupStats":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolled parts in sequence order."""
    out = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus")) or n.endswith(".crc"):
                continue
            out.append(os.path.join(root, n))

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(out, key=order)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                # the writer may be mid-line on a live log: skip the torn tail
                if line.endswith("\n"):
                    events.append(json.loads(line))
    return events


def wait_for_job_end(log_dir: str, job_id: int, timeout_s: float = 60.0) -> None:
    """Block until ``JobEnd`` for ``job_id`` is in the log.  The listener
    bus delivers events asynchronously, so the last job's metrics can lag
    the action that ran it."""
    needle = re.compile(rf'"Event":"SparkListenerJobEnd","Job ID":{job_id}[,}}]')
    deadline = time.monotonic() + timeout_s
    while True:
        for path in event_files(log_dir):
            with open(path) as f:
                if needle.search(f.read()):
                    return
        if time.monotonic() > deadline:
            raise TimeoutError(f"JobEnd for job {job_id} not in {log_dir}")
        time.sleep(0.05)


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def rollup(events: list[dict]) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks, failed tasks, executor run and
    CPU time, Python-worker time and input rows, shuffle, spill, records."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stats(group).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is not None:
                s = stats(group)
                s.tasks += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    s.failed_tasks += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            acc = {}
            for a in info.get("Accumulables", []):
                acc[a["Name"]] = acc.get(a["Name"], 0) + _num(a.get("Value"))
            s = stats(group)
            s.stages += 1
            s.executor_run_s += acc.get("internal.metrics.executorRunTime", 0) / 1e3
            s.executor_cpu_s += acc.get("internal.metrics.executorCpuTime", 0) / 1e9
            s.shuffle_read_bytes += (
                acc.get("internal.metrics.shuffle.read.localBytesRead", 0)
                + acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0))
            s.shuffle_write_bytes += acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
            s.spill_bytes += (acc.get("internal.metrics.memoryBytesSpilled", 0)
                              + acc.get("internal.metrics.diskBytesSpilled", 0))
            s.input_records += acc.get("internal.metrics.input.recordsRead", 0)
            if "data sent to Python workers" in acc:
                s.python_worker_s += acc.get("time to run Python workers", 0) / 1e3
                s.python_rows_in += (
                    acc.get("internal.metrics.shuffle.read.recordsRead", 0)
                    + acc.get("internal.metrics.input.recordsRead", 0))
    return out
