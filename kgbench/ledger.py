"""Offline per-job-group ledger from a Spark JSON event log.

Spark writes one JSON object per line.  The ledger attributes every task
to the job group its stage was submitted under (``spark.jobGroup.id`` in
the stage's properties) and sums, per group: jobs, stages, tasks, failed
tasks, executor run time, executor CPU time, shuffle bytes, spill and task
durations.  :mod:`kgbench.trace` sets one job group per span, so a span's
Spark work is the ledger of its group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupLedger:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0          # Σ executor run time
    cpu_ns: int = 0          # Σ executor (JVM) CPU time
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_disk_bytes: int = 0
    spill_mem_bytes: int = 0
    task_ms: list = field(default_factory=list)   # launch → finish
    # (stage id, attempt) -> name, RDD scope names, Σ run ms, Σ CPU ns,
    # task durations
    stage_info: dict = field(default_factory=dict)

    def merge(self, other: "GroupLedger") -> "GroupLedger":
        out = GroupLedger()
        for k in ("jobs", "stages", "tasks", "failed_tasks", "run_ms",
                  "cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_disk_bytes", "spill_mem_bytes"):
            setattr(out, k, getattr(self, k) + getattr(other, k))
        out.task_ms = self.task_ms + other.task_ms
        out.stage_info = {**self.stage_info, **other.stage_info}
        return out

    def stages_matching(self, token: str) -> "GroupLedger":
        """Only the stages whose RDD scopes or name mention ``token``."""
        out = GroupLedger()
        for sid, st in self.stage_info.items():
            if any(token in s for s in st["scopes"]) or token in st["name"]:
                out.stages += 1
                out.tasks += len(st["task_ms"])
                out.run_ms += st["run_ms"]
                out.cpu_ns += st["cpu_ns"]
                out.task_ms.extend(st["task_ms"])
                out.stage_info[sid] = st
        return out

    def task_p50_ms(self) -> float:
        return float(statistics.median(self.task_ms)) if self.task_ms else 0.0

    def task_max_ms(self) -> float:
        return float(max(self.task_ms, default=0))


def _scope_name(rdd: dict) -> str:
    scope = rdd.get("Scope")
    if scope:
        try:
            return json.loads(scope).get("name", "")
        except (ValueError, AttributeError):
            return str(scope)
    return rdd.get("Name", "")


_WANTED = tuple(f'{{"Event":"SparkListener{e}"' for e in
                ("JobStart", "StageSubmitted", "TaskEnd"))


def parse_event_log(lines) -> dict[str | None, GroupLedger]:
    """``{job group id (None if unset): GroupLedger}`` from event-log lines."""
    stage_group: dict[tuple[int, int], str | None] = {}
    groups: dict[str | None, GroupLedger] = {}

    def ledger(g):
        return groups.setdefault(g, GroupLedger())

    for line in lines:
        # SQL-execution events carry whole plans and are most of the log's
        # bytes; skip them before parsing
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            ledger(g).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[key] = g
            led = ledger(g)
            led.stages += 1
            led.stage_info[key] = {
                "name": info.get("Stage Name", ""),
                "scopes": sorted({_scope_name(r)
                                  for r in info.get("RDD Info", [])}),
                "run_ms": 0, "cpu_ns": 0, "task_ms": [],
            }
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            g = stage_group.get(key)
            led = ledger(g)
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            led.tasks += 1
            if ti.get("Failed") or ti.get("Killed") or reason not in (
                    None, "Success"):
                led.failed_tasks += 1
            run_ms = int(tm.get("Executor Run Time", 0))
            cpu_ns = int(tm.get("Executor CPU Time", 0))
            dur = int(ti.get("Finish Time", 0)) - int(ti.get("Launch Time", 0))
            led.run_ms += run_ms
            led.cpu_ns += cpu_ns
            led.task_ms.append(dur)
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            led.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            led.shuffle_read_bytes += (
                int(sr.get("Remote Bytes Read", 0))
                + int(sr.get("Local Bytes Read", 0)))
            led.spill_disk_bytes += int(tm.get("Disk Bytes Spilled", 0))
            led.spill_mem_bytes += int(tm.get("Memory Bytes Spilled", 0))
            st = led.stage_info.get(key)
            if st is not None:
                st["run_ms"] += run_ms
                st["cpu_ns"] += cpu_ns
                st["task_ms"].append(dur)
    return groups


def read_event_log(path: str) -> dict[str | None, GroupLedger]:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


def combined(groups: dict, group_ids) -> GroupLedger:
    out = GroupLedger()
    for g in group_ids:
        if g in groups:
            out = out.merge(groups[g])
    return out
