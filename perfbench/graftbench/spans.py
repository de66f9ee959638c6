"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and request id.  When tracing is
on, each span also runs under its own Spark job group, so every job it
launches -- and, through the event log, every stage and task -- maps back
to exactly one span.  Nested spans take the job group over for their
extent, so job counts are the span's own, not its children's.  Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class _Span:
    __slots__ = ("df",)

    def __init__(self):
        self.df = None

    def plan(self, df) -> None:
        """Name the DataFrame whose action this span runs; its
        ``plan_signature`` counts are recorded when tracing is on."""
        self.df = df


class Tracer:
    """Records spans when ``sc`` is given; otherwise every span is a
    no-op that records nothing and touches no Spark state."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _Span()
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        handle = _Span()
        rec["start"] = time.perf_counter()
        try:
            yield handle
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent["id"], parent["name"])
            rec.update(self._job_counts(rec["id"]))
            if handle.df is not None:
                from sparkdiff.plans.signature import plan_signature

                sig = plan_signature(handle.df)
                rec.update(
                    shuffles=sig["shuffles"],
                    broadcasts=sig["broadcasts"],
                    python_evals=sig["python_evals"],
                )

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
