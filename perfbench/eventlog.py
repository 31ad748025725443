"""Spark event-log reader for the traced benchmark run.

Spark writes one JSON object per line when started with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(Spark 4 rolls it into ``eventlog_v2_<app>/events_<n>_<app>``). This
module reads those lines with the standard library and attributes every
job to the op whose wall-clock window contains the job's submission
time. Time windows, not job groups, are the key: jobs started from a
package thread pool carry no job group.

Per op it returns ``jobs``, ``stages``, ``tasks``, ``task_s`` (executor
run time), ``gc_s``, ``shuffle_mb`` (read + written), ``spill_mb``
(memory + disk) and ``driver_only_s``: the op's wall time during which
no job of the application was running.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)


def log_files(log_dir: str) -> list[str]:
    """Every uncompressed event-log file under ``log_dir`` (rolled v2
    directories and single-file v1 logs), in name order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += [
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress.tmp")
    ]
    return sorted(files)


def parse_lines(lines) -> EventLog:
    """Fold event-log JSON lines into jobs and per-stage task totals.
    Lines that are not JSON objects (a torn last line while the log is
    still being written) are skipped."""
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, ev["Submission Time"], None, list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = log.stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            st.task_ms += int(m.get("Executor Run Time", 0))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_bytes += int(rd.get("Remote Bytes Read", 0)) + int(
                rd.get("Local Bytes Read", 0)
            ) + int(wr.get("Shuffle Bytes Written", 0))
            st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
    return log


def read_log(log_dir: str) -> EventLog:
    lines: list[str] = []
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_lines(lines)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def attribute(log: EventLog, windows: list[tuple[str, int, int]]) -> dict[str, dict]:
    """Per-op Spark totals. ``windows`` holds (op, start_ms, end_ms) for
    every op, in wall-clock milliseconds (the clock Spark stamps its
    events with); a job belongs to the window containing its submission
    time, and jobs outside every window are dropped. One op name may
    own several windows (an op repeated over passes): its totals sum."""
    out: dict[str, dict] = {}
    spans = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in spans]
    job_iv = [
        (j.start_ms, j.end_ms if j.end_ms is not None else j.start_ms)
        for j in log.jobs.values()
    ]
    for name, lo, hi in spans:
        acc = out.setdefault(
            name,
            {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "driver_only_s": 0.0},
        )
        acc["driver_only_s"] += (hi - lo - _covered_ms(job_iv, lo, hi)) / 1000.0
    for job in log.jobs.values():
        i = bisect.bisect_right(starts, job.start_ms) - 1
        if i < 0 or job.start_ms > spans[i][2]:
            continue
        acc = out[spans[i][0]]
        acc["jobs"] += 1
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None or st.tasks == 0:
                continue  # skipped stage: its shuffle output was reused
            acc["stages"] += 1
            acc["tasks"] += st.tasks
            acc["task_s"] += st.task_ms / 1000.0
            acc["gc_s"] += st.gc_ms / 1000.0
            acc["shuffle_mb"] += st.shuffle_bytes / MB
            acc["spill_mb"] += st.spill_bytes / MB
    return out
