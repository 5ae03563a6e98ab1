"""Spark event-log parser: per-job task and stage totals.

Reads a local event log (a single JSON-lines file, or the directory of
a rolling ``eventlog_v2_*`` log) and keeps, per job, its job group, its
streaming batch id and the totals of the stages it ran.  A stage that
several jobs list (a reused shuffle) is charged to the first job only,
which is the one that ran it; stages skipped by every job never
complete and are not counted.
"""

from __future__ import annotations

import json
import os

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

FIELDS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "py_bytes_sent",
    "py_bytes_returned",
)


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("events_") or n.startswith("local-") or n.startswith("app-"):
                found.append(os.path.join(root, n))

    def index(p: str) -> int:
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    return sorted(found, key=index)


class EventLog:
    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_totals: dict[int, dict] = {}

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        log = cls()
        stage_job: dict[int, int] = {}
        tasks: dict[int, dict] = {}
        completed: set[int] = set()
        for f in _files(path):
            with open(f) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        log.jobs[jid] = {
                            "group": props.get("spark.jobGroup.id"),
                            "batch": props.get("streaming.sql.batchId"),
                            "stages": [],
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerTaskEnd":
                        t = tasks.setdefault(ev["Stage ID"], _zero())
                        _add_task(t, ev.get("Task Metrics") or {})
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        sid = info["Stage ID"]
                        completed.add(sid)
                        t = tasks.setdefault(sid, _zero())
                        for acc in info.get("Accumulables", []):
                            if acc.get("Name") == PY_SENT:
                                t["py_bytes_sent"] += int(acc["Value"])
                            elif acc.get("Name") == PY_RETURNED:
                                t["py_bytes_returned"] += int(acc["Value"])
        for sid in sorted(completed):
            jid = stage_job.get(sid)
            if jid is None:
                continue
            totals = tasks[sid]
            totals["stages"] = 1
            log.stage_totals[sid] = totals
            log.jobs[jid]["stages"].append(sid)
        return log

    def totals(self, job_ids) -> dict:
        """Summed stage totals of ``job_ids``, plus ``jobs``."""
        out = _zero()
        out["jobs"] = 0
        for jid in job_ids:
            job = self.jobs.get(jid)
            if job is None:
                continue
            out["jobs"] += 1
            for sid in job["stages"]:
                for k in FIELDS:
                    out[k] += self.stage_totals[sid][k]
        return out

    def jobs_in_groups(self, groups) -> list[int]:
        groups = set(groups)
        return sorted(j for j, job in self.jobs.items() if job["group"] in groups)

    def jobs_by_batch(self, job_ids) -> dict[int, list[int]]:
        """``job_ids`` of streaming micro-batches, keyed by batch id."""
        out: dict[int, list[int]] = {}
        for jid in sorted(job_ids):
            batch = self.jobs[jid]["batch"]
            if batch is not None:
                out.setdefault(int(batch), []).append(jid)
        return out


def _zero() -> dict:
    return {k: 0 for k in FIELDS}


def _add_task(t: dict, m: dict) -> None:
    t["tasks"] += 1
    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
