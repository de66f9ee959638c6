"""The per-layer metrics a traced run prints, and how they are built from
spans and event-log stages.

The artifact of a traced run keeps every quantity of every span; the
printed set below keeps, per layer, the quantities an optimisation of
that layer is most likely to move.  A span that does not run on a
workload reports 0, which is the prediction "flat here".
"""

from __future__ import annotations

import statistics

from graftbench import eventlog
from graftbench.spans import self_times
from graftbench.workloads import CURATION_ENTRIES

UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffles": "count",
    "broadcasts": "count",
    "python_evals": "count",
    "hot_stage_tasks": "count",
}

_ACTION = ("wall_s", "self_s", "executor_cpu_s", "shuffle_write_mb", "jobs", "stages", "tasks", "shuffles")
_PREFILTER = ("wall_s", "executor_cpu_s", "shuffle_write_mb", "jobs", "stages", "tasks")
_CONSTRUCTION = ("wall_s", "jobs")

#: (span name, quantities) printed by a traced run.
SELECTED: list[tuple[str, tuple[str, ...]]] = [
    ("session.start", ("wall_s",)),
    ("operators.diff.table_diff", _CONSTRUCTION),
    ("operators.diff.table_diff.metrics", _ACTION),
    ("operators.diff.table_diff.report", _ACTION),
    ("operators.diff.table_diff.cells", _ACTION),
    ("sources.io.to_json_records", _CONSTRUCTION),
    ("plans.parity.run_script_pair", _CONSTRUCTION),
    ("operators.diff.dirty_vs_store", _PREFILTER),
    ("operators.diff.refined_table_metrics", _PREFILTER),
    ("operators.diff.write_bucket_store", _PREFILTER),
]
for _q in sorted(CURATION_ENTRIES):
    SELECTED.append((f"queries.{_q}.build", _CONSTRUCTION))
    SELECTED.append(
        (f"queries.{_q}.run", ("wall_s", "executor_cpu_s", "tasks", "hot_stage_tasks", "spill_mb"))
    )
SELECTED += [
    ("operators.retrieval.bm25_rank", _CONSTRUCTION),
    ("operators.similarity.cosine_topk", _CONSTRUCTION),
    ("operators.retrieval.rrf_fuse", _CONSTRUCTION),
    ("search.collect", ("wall_s", "jobs", "stages", "tasks", "shuffles", "broadcasts")),
]

#: Metrics that are not ``<span>.<quantity>``: (name, unit, better).
EXTRA = [
    ("trace.overhead_ratio", "ratio", "lower"),
    ("revalidate.dirty_bucket_frac", "ratio", "lower"),
    ("revalidate.useful_rejoin_frac", "ratio", "higher"),
]


def declared() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json."""
    out = [
        {"name": f"{span}.{q}", "unit": UNITS[q], "better": "lower"}
        for span, qs in SELECTED
        for q in qs
    ]
    out += [{"name": n, "unit": u, "better": b} for n, u, b in EXTRA]
    return out


def per_span(spans: list[dict], stages_by_group: dict[str, list[dict]]) -> dict[str, dict]:
    """Every quantity of every span name, aggregated over its calls:
    times as the median call, counts and event-log totals as the mean
    per call (exact when the calls come in whole rounds)."""
    selfs = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for name, recs in by_name.items():
        ev = [eventlog.summarize(stages_by_group.get(r["id"], [])) for r in recs]
        row = {
            "calls": len(recs),
            "wall_s": statistics.median(r["end"] - r["start"] for r in recs),
            "self_s": statistics.median(selfs[r["id"]] for r in recs),
            "hot_stage_tasks": statistics.median(e["hot_stage_tasks"] for e in ev),
        }
        for q in ("jobs", "stages", "tasks", "failed_tasks", "shuffles", "broadcasts", "python_evals"):
            row[q] = statistics.fmean(r.get(q, 0) for r in recs)
        for q in ("executor_cpu_s", "executor_run_s", "shuffle_write_mb", "spill_mb", "gc_s"):
            row[q] = statistics.fmean(e[q] for e in ev)
        out[name] = row
    return out


def printed(layers: dict[str, dict], extra: dict[str, float]) -> dict[str, dict]:
    """The traced run's ``metrics`` object: every declared metric, 0 for
    spans the workload does not run."""
    out = {}
    for m in declared():
        if m["name"] in extra:
            v = extra[m["name"]]
        else:
            span, q = m["name"].rsplit(".", 1)
            v = layers.get(span, {}).get(q, 0)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out
