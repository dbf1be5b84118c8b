"""Aggregate Spark task metrics per job group from an uncompressed event log.

The benchmark's own session writes the log (``spark.eventLog.enabled``,
``compress=false``, rolling off) and tags every timed call with
``sc.setJobGroup``. Only three event kinds are decoded: JobStart (job ->
group, stage ids, submit time), JobEnd (completion time) and TaskEnd
(metrics). Other lines, including the large SQL-plan events, are skipped
by prefix without being parsed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_JOB_START = '{"Event":"SparkListenerJobStart"'
_JOB_END = '{"Event":"SparkListenerJobEnd"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'

# Python-worker accumulators (SQL metrics of the Arrow/pandas UDF operators)
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_run_ms: float = 0.0
    py_start_ms: float = 0.0
    # (submit_ms, complete_ms) per job, epoch milliseconds
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


def parse(lines) -> dict[str, GroupStats]:
    """Per job-group totals from an iterable of event-log lines. Jobs run
    outside any group are filed under the empty string."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    submitted: dict[int, int] = {}
    groups: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return groups.setdefault(group, GroupStats())

    for line in lines:
        if line.startswith(_TASK_END):
            ev = json.loads(line)
            g = stats(stage_group.get(ev["Stage ID"], ""))
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    setattr(g, key, getattr(g, key) + int(acc.get("Update", 0)))
        elif line.startswith(_JOB_START):
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = group
            submitted[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            stats(group).jobs += 1
        elif line.startswith(_JOB_END):
            ev = json.loads(line)
            jid = ev["Job ID"]
            if jid in job_group:
                stats(job_group[jid]).job_intervals.append(
                    (submitted[jid], ev.get("Completion Time", submitted[jid])))
    return groups


def parse_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f)

