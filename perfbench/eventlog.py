"""Roll a Spark event log up by job group.

The traced run starts its session with an uncompressed event log (the
Spark 4 default codec is zstd, which needs a module this tool does not
assume) and runs every layer call under its own ``spark.jobGroup.id``.
Jobs launched without a group (for example from a thread pool that
never set one) roll up under ``""``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

EXTRA_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",  # one file, named after the app id
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def task_run_s(self) -> float:
        return sum(self.task_run_ms) / 1000.0

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_write_bytes / 2**20

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / 2**20

    @property
    def task_max_over_p50(self) -> float:
        """Longest task over the median task (1.0 = no skew)."""
        if not self.task_run_ms:
            return 0.0
        ordered = sorted(self.task_run_ms)
        p50 = ordered[len(ordered) // 2]
        return ordered[-1] / max(p50, 1)


def rollup(path: str) -> dict[str, GroupStats]:
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.task_run_ms.append(int(m.get("Executor Run Time", 0)))
                g.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                g.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                    m.get("Disk Bytes Spilled", 0)
                )
    return dict(out)
