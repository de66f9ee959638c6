"""Tests of the benchmark harness's own code (no Spark session needed).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from graftbench import eventlog, layers, stats, workloads  # noqa: E402
from graftbench.spans import self_times  # noqa: E402


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _setup(name: str, seed: int, work: str):
    wl = workloads.make(name)
    wl.setup(None, work, np.random.default_rng(seed))
    k = wl.kinds
    if name == "parity":
        expected = [
            k["full"].expected,
            k["revalidate"].versions,
            workloads._script_pair_oracle(k["script"].work),
        ]
    else:
        for spec in wl.round(0) + wl.round(1):
            wl.check(spec, [])
        expected = [k["search"]._expected, k["curation"]._expected]
    rounds = [wl.round(i) for i in range(3)]
    return _tree_bytes(work), rounds, expected


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs_and_answers(name, tmp_path):
    a = _setup(name, 7, str(tmp_path / "a"))
    b = _setup(name, 7, str(tmp_path / "b"))
    c = _setup(name, 8, str(tmp_path / "c"))
    assert a[0] and a[0] == b[0]
    assert a[1:] == b[1:]
    assert a[0] != c[0]
    assert a[2] != c[2]


def test_rounds_repeat_the_same_mix(tmp_path):
    wl = workloads.make("parity")
    wl.setup(None, str(tmp_path), np.random.default_rng(1))
    kinds = [[s[0] for s in wl.round(i)] for i in range(4)]
    assert kinds[0] == kinds[1] == kinds[2] == kinds[3]
    reval = [[s for s in wl.round(i) if s[0] == "revalidate"] for i in range(2)]
    assert reval[0] != reval[1]  # versions alternate, so the store is always stale


def test_full_validation_expected_counts_match_generated_tables(tmp_path):
    import pyarrow.parquet as pq

    kind = workloads.FullValidation()
    kind.setup(None, str(tmp_path), np.random.default_rng(5))
    shape, exp = kind.shape, kind.expected
    h = pq.read_table(os.path.join(str(tmp_path), "hive.parquet")).to_pydict()
    s = pq.read_table(os.path.join(str(tmp_path), "sf.parquet")).to_pydict()
    hk, sk = set(h[shape.pk]), set(s[shape.pk])
    assert len(hk) == exp["total_record_count_hive"]
    assert len(sk) == exp["total_record_count_sf"]
    assert len(hk - sk) == exp["row_count_only_in_hive"]
    assert len(sk - hk) == exp["row_count_only_in_sf"]
    hrow = {k: i for i, k in enumerate(h[shape.pk])}
    srow = {k: i for i, k in enumerate(s[shape.pk])}
    changed = [
        k for k in hk & sk if any(h[c][hrow[k]] != s[c][srow[k]] for c in shape.compared)
    ]
    assert len(changed) == exp["row_count_data_discrepancy"]
    assert sum(exp["cells_per_column"].values()) == len(changed)
    excluded_only = [
        k for k in hk & sk if h[shape.excluded][hrow[k]] != s[shape.excluded][srow[k]]
    ]
    assert excluded_only and not set(excluded_only) & set(changed)


@pytest.mark.parametrize(
    "n, percentile, value, beyond",
    [
        (1, 50, 1.0, 0),
        (5, 50, 3.0, 2),
        (10, 50, 5.5, 5),  # unresolved: the median, with the count above it
        (11, 9, 1.0, 10),
        (20, 50, 10.0, 10),
        (25, 60, 15.0, 10),
        (100, 90, 90.0, 10),
        (1000, 99, 990.0, 10),
    ],
)
def test_tail_percentile_rule(n, percentile, value, beyond):
    samples = [float(i) for i in range(n, 0, -1)]
    assert stats.tail_percentile(samples) == (percentile, value, beyond)
    assert sum(1 for s in samples if s > value) == beyond


def test_self_time_on_synthetic_tree():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 3.0, "end": 6.0},  # overlaps a
        {"id": "c", "parent": "r", "start": 8.0, "end": 12.0},  # runs past r
        {"id": "a1", "parent": "a", "start": 1.5, "end": 2.0},
        {"id": "a2", "parent": "a", "start": 2.5, "end": 3.0},
    ]
    st = self_times(spans)
    assert st["r"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(4.0)
    assert st["a1"] == pytest.approx(0.5)


def test_eventlog_parser_on_fixture():
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as f:
        groups = eventlog.parse(f)
    assert sorted(groups) == ["pb-1", "pb-2"]
    assert [s["stage_id"] for s in groups["pb-1"]] == [0, 2]  # stage 1 was skipped
    s1 = eventlog.summarize(groups["pb-1"])
    assert s1 == pytest.approx(
        {
            "executor_cpu_s": 0.85,
            "executor_run_s": 1.2,
            "shuffle_write_mb": 2.0,
            "spill_mb": 2.0,
            "gc_s": 0.03,
            "hot_stage_tasks": 2,
        }
    )
    s2 = eventlog.summarize(groups["pb-2"])
    assert s2["hot_stage_tasks"] == 3
    assert s2["shuffle_write_mb"] == pytest.approx(1.5)
    assert s2["executor_cpu_s"] == pytest.approx(0.12)
    assert eventlog.summarize([])["hot_stage_tasks"] == 0


def test_per_span_aggregates_counts_and_event_log():
    spans = [
        {"id": "pb-0", "name": "request", "parent": None, "start": 0.0, "end": 2.0, "jobs": 0},
        {"id": "pb-1", "name": "x", "parent": "pb-0", "start": 0.5, "end": 1.5, "jobs": 2, "stages": 2, "tasks": 3},
    ]
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as f:
        per = layers.per_span(spans, eventlog.parse(f))
    assert per["request"]["self_s"] == pytest.approx(1.0)
    assert per["x"]["jobs"] == 2 and per["x"]["tasks"] == 3
    assert per["x"]["executor_cpu_s"] == pytest.approx(0.85)
    printed = layers.printed(per, {"trace.overhead_ratio": 1.1})
    assert printed["trace.overhead_ratio"]["value"] == 1.1
    assert printed["search.collect.jobs"] == {"value": 0, "unit": "count"}


def test_benchmark_json_declares_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["per_layer"] == layers.declared()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_descendants_and_alive():
    import subprocess

    p = subprocess.Popen(["bash", "-c", "sleep 30 & wait"])
    try:
        for _ in range(50):
            kids = stats.descendants(p.pid)
            if kids:
                break
            time.sleep(0.1)
        assert len(kids) == 1 and stats.alive(kids[0])
    finally:
        p.kill()
        p.wait()
    os.kill(kids[0], 9)
    for _ in range(50):
        if not stats.alive(kids[0]):
            break
        time.sleep(0.1)
    assert not stats.alive(kids[0])
    assert not stats.alive(p.pid)
