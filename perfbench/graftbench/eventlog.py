"""Reader for Spark's uncompressed JSON-lines event log (stdlib only).

Stages are attributed to the job group (``spark.jobGroup.id``) of the job
that submitted them; the benchmark gives every span its own job group.
Stages that never ran (skipped because their shuffle output was reused)
have no task events and do not appear.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

_MB = 1024.0 * 1024.0


def parse(lines: Iterable[str]) -> dict[str, list[dict]]:
    """``{job group: [per-stage dict]}`` from event-log lines.

    Per stage: ``stage_id``, ``tasks`` (task attempts ended), ``wall_s``
    (submission to completion), ``executor_cpu_s``, ``executor_run_s``,
    ``shuffle_write_mb``, ``spill_mb`` (disk bytes spilled) and ``gc_s``.
    """
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            st = stages.setdefault(ev["Stage ID"], _empty_stage(ev["Stage ID"]))
            st["tasks"] += 1
            if m:
                st["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                st["executor_run_s"] += m["Executor Run Time"] / 1e3
                st["gc_s"] += m["JVM GC Time"] / 1e3
                st["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                st["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _empty_stage(info["Stage ID"]))
            st["wall_s"] += (info["Completion Time"] - info["Submission Time"]) / 1e3
    out: dict[str, list[dict]] = {}
    for sid, st in sorted(stages.items()):
        group = stage_group.get(sid)
        if group is not None and st["tasks"]:
            out.setdefault(group, []).append(st)
    return out


def _empty_stage(sid: int) -> dict:
    return {
        "stage_id": sid,
        "tasks": 0,
        "wall_s": 0.0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "gc_s": 0.0,
    }


def summarize(stages: list[dict]) -> dict:
    """One span's totals over its stages, plus ``hot_stage_tasks``: the
    task count of its longest-wall stage (0 when it ran no stage)."""
    keys = ("executor_cpu_s", "executor_run_s", "shuffle_write_mb", "spill_mb", "gc_s")
    out = {k: sum(s[k] for s in stages) for k in keys}
    hot = max(stages, key=lambda s: (s["wall_s"], -s["stage_id"]), default=None)
    out["hot_stage_tasks"] = hot["tasks"] if hot else 0
    return out


def read_dir(path: str) -> list[str]:
    """Every event-log line under ``path`` (single-file or rolling
    ``eventlog_v2_*`` layout), in file order."""
    files = []
    for root, _dirs, names in os.walk(path):
        files += [
            os.path.join(root, n)
            for n in names
            if not n.startswith(("appstatus", ".")) and not n.endswith(".crc")
        ]
    lines: list[str] = []
    for f in sorted(files):
        with open(f) as fh:
            lines += [ln for ln in fh if ln.strip()]
    return lines
