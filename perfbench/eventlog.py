"""Stage metrics per span, read from a Spark event log.

Every job that starts while a tagged span is open carries the span's
tag in its ``spark.job.tags`` property (see ``spans.Tracer``).  The
parser maps each job's stages to that tag and sums the task metrics of
those stages.  Stages a job merely reuses (skipped shuffle-map stages)
run no tasks, so each task counts once, under the first span whose job
listed its stage.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from spans import TAG_PREFIX


@dataclass
class LayerStages:
    jvm_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> task durations in seconds
    durations: dict[int, list[float]] = field(default_factory=dict)

    @property
    def task_max_over_median(self) -> float:
        """max / median task duration of the layer's heaviest stage (the
        one with the largest total task time); 1.0 with no tasks."""
        if not self.durations:
            return 1.0
        heavy = max(self.durations.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` (plain or rolling layout)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in sorted(files) if not f.startswith("appstatus")]
    return out


def stage_metrics(lines) -> dict[str, LayerStages]:
    """Group task metrics by span tag; ``lines`` are event-log lines."""
    stage_tag: dict[int, str] = {}
    out: dict[str, LayerStages] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:  # a torn last line
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
            mine = [t[len(TAG_PREFIX):] for t in tags.split(",") if t.startswith(TAG_PREFIX)]
            if mine:
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, mine[-1])
        elif kind == "SparkListenerTaskEnd":
            name = stage_tag.get(ev.get("Stage ID"))
            if name is None:
                continue
            lay = out.setdefault(name, LayerStages())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            lay.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            lay.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            lay.spill_bytes += m.get("Disk Bytes Spilled", 0)
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            lay.durations.setdefault(ev["Stage ID"], []).append(dur)
    return out


def read_stage_metrics(log_dir: str) -> dict[str, LayerStages]:
    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f

    return stage_metrics(lines())
