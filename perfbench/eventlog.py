"""Spark event-log parser (stdlib only) for the traced run.

The traced session writes one uncompressed, non-rolling JSON-lines log
(`spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`;
Spark 4 compresses and rolls by default). The harness puts every call it
traces under a job group, so each stage belongs to the group of the job
that submitted it. Per group this sums task counts, task time, shuffle
read/write and spill, and keeps each stage's task durations for skew.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_task_ms: dict[int, list[int]] = field(
        default_factory=lambda: defaultdict(list)
    )

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_write_bytes

    @property
    def task_skew(self) -> float:
        """Largest max/median task duration over the group's stages with at
        least two tasks; 1.0 when no stage has two."""
        skew = 1.0
        for durations in self.stage_task_ms.values():
            if len(durations) >= 2:
                med = max(statistics.median(durations), 1.0)
                skew = max(skew, max(durations) / med)
        return skew


def find_log(log_dir: str) -> str:
    """The single application log a traced session leaves in `log_dir`."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def parse(path: str) -> dict[str, GroupStats]:
    """Group id (None for jobs outside any group) -> GroupStats."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                groups[group].jobs += 1
                # a stage id listed by a later job was skipped there: it
                # belongs to the first job that listed it
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                if GROUP_KEY in props:
                    stage_group[sid] = props[GROUP_KEY]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                dur = int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0))
                g.tasks += 1
                g.task_ms += dur
                g.stage_task_ms[sid].append(dur)
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(
                    rd.get("Local Bytes Read", 0)
                )
                wr = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += int(wr.get("Shuffle Bytes Written", 0))
                g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    return dict(groups)


def merge(stats: dict[str, GroupStats], prefix: str) -> GroupStats:
    """Sum of every group named `prefix` or `prefix.<anything>`."""
    out = GroupStats()
    for name, g in stats.items():
        if name is not None and (name == prefix or name.startswith(prefix + ".")):
            out.jobs += g.jobs
            out.tasks += g.tasks
            out.task_ms += g.task_ms
            out.shuffle_read_bytes += g.shuffle_read_bytes
            out.shuffle_write_bytes += g.shuffle_write_bytes
            out.spill_bytes += g.spill_bytes
            for sid, d in g.stage_task_ms.items():
                out.stage_task_ms[sid].extend(d)
    return out
