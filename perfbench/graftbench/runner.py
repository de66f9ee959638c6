"""One benchmark run: set-up, the timed closed loop, checks, metrics.

One client in one process sends a request, waits for its reply, then
sends the next (a closed loop), on a ``local[N]`` session with N = the
number of CPUs.  A request is timed from plan construction through its
last action.  ``--trace 1`` repeats the loop with spans on and reports
per-layer numbers; end-to-end metrics always come from the untraced loop.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

from graftbench import eventlog, layers, stats
from graftbench.spans import Tracer
from graftbench.workloads import WORKLOADS, make, spec_label

#: Driver heap for the local session: well below the host's RAM, enough
#: for every workload's inputs.
DRIVER_MEMORY = "3g"


def _args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _git(root: str) -> dict:
    def run(*cmd):
        r = subprocess.run(["git", "-C", root, *cmd], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None

    sha = run("rev-parse", "HEAD")
    status = run("status", "--porcelain")
    return {"sha": sha, "dirty": bool(status) if status is not None else None}


def _java_version() -> str | None:
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    except OSError:
        return None
    return (r.stderr or r.stdout).splitlines()[0] if (r.stderr or r.stdout) else None


class _Process:
    """CPU time and peak RSS of the driver Python process plus its JVM."""

    def __init__(self, jvm_pid: int):
        self.pids = (os.getpid(), jvm_pid)

    def cpu(self) -> float:
        return sum(stats.cpu_seconds(p) for p in self.pids)

    def peak_rss_mb(self) -> float:
        return sum(stats.peak_rss_mb(p) for p in self.pids)


def _loop(wl, spark, seconds: float, tracer: Tracer, start: tuple[int, int], ratios: list | None):
    """Whole rounds of requests until ``seconds`` have passed.  ``start``
    is the first (round, request) number; returns ``(records, wall,
    next start)``."""
    records = []
    i, n = start
    t0 = time.perf_counter()
    while True:
        for spec in wl.round(i):
            tracer.request = f"r{n}"
            a = time.perf_counter()
            try:
                with tracer.span("request"):
                    out = wl.request(spec, n, tracer)
                err = None
            except Exception:
                out, err = None, traceback.format_exc()
            latency = time.perf_counter() - a
            records.append({"n": n, "spec": spec, "latency_s": latency, "out": out, "error": err})
            if ratios is not None and err is None:
                ratios.append(wl.ratios(spec, out))
            n += 1
            # requests share no cached data: registry entries and bm25_rank
            # persist intermediates for the life of the plan they return
            spark.catalog.clearCache()
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return records, time.perf_counter() - t0, (i, n)


def _check(wl, records) -> int:
    failed = 0
    for r in records:
        if r["error"] is None:
            try:
                r["error"] = wl.check(r["spec"], r["out"])
            except Exception:
                r["error"] = traceback.format_exc()
        failed += r["error"] is not None
    return failed


def run(argv, root: str) -> int:
    args = _args(argv)
    t_setup = time.perf_counter()
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cpus = os.cpu_count() or 1
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    jvm = None
    try:
        import pyspark

        from sparkdiff.session import get_spark

        spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        session_start_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        jvm = sc._gateway.proc
        proc = _Process(jvm.pid)

        wl = make(args.workload)
        rng = np.random.default_rng(args.seed)
        wl.setup(spark, work, rng)
        inputs_s = time.perf_counter() - t_setup - session_start_s
        off = Tracer()
        warm, _, nxt = _loop(wl, spark, 0.0, off, (0, 0), None)
        setup_s = time.perf_counter() - t_setup
        errors = [r["error"] for r in warm if r["error"]]
        if errors:
            raise RuntimeError("warm-up request failed:\n" + errors[0])

        cpu0 = proc.cpu()
        timed, wall, nxt = _loop(wl, spark, args.seconds, off, nxt, None)
        cpu_s = proc.cpu() - cpu0
        failed = _check(wl, timed)
        lat = [r["latency_s"] for r in timed]
        tail_p, tail_v, tail_beyond = stats.tail_percentile(lat)
        metrics = {
            "latency_mean_s": (statistics.fmean(lat), "s"),
            "rows_per_s": (sum(wl.rows(r["spec"]) for r in timed) / wall, "rows/s"),
            "cpu_s_per_request": (cpu_s / len(timed), "s"),
            "peak_rss_mb": (proc.peak_rss_mb(), "MB"),
            "setup_s": (setup_s, "s"),
        }
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        attempted = len(timed)
        artifact_extra = {}
        if args.trace:
            tracer = Tracer(sc)
            ratios: list = []
            traced, _, nxt = _loop(wl, spark, args.seconds, tracer, nxt, ratios)
            # untraced again after the traced rounds: requests keep getting
            # faster as the JIT warms, so the untraced baseline brackets
            # the traced rounds instead of only preceding them
            after, _, _ = _loop(wl, spark, args.seconds, off, nxt, None)
            failed += _check(wl, traced) + _check(wl, after)
            attempted += len(traced) + len(after)
            spark.stop()
            stages = eventlog.parse(eventlog.read_dir(os.path.join(work, "eventlog")))
            per_span = layers.per_span(tracer.spans, stages)
            per_span["session.start"] = {"calls": 1, "wall_s": session_start_s}
            overhead = statistics.fmean([r["latency_s"] for r in traced]) / statistics.fmean(
                [r["latency_s"] for r in timed + after]
            )
            extra = {"trace.overhead_ratio": overhead}
            for k in sorted({k for r in ratios for k in r}):
                extra[k] = statistics.fmean(r[k] for r in ratios if k in r)
            result_metrics = layers.printed(per_span, extra)
            artifact_extra = {
                "per_span": per_span,
                "extra": extra,
                "spans": tracer.spans,
                "traced_requests": _request_rows(traced),
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": result_metrics,
        }
        artifact = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": socket.gethostname(),
            "nproc": os.cpu_count(),
            "local_n": cpus,
            "versions": {
                "spark": spark.version,
                "pyspark": pyspark.__version__,
                "java": _java_version(),
                "python": platform.python_version(),
            },
            "git": _git(root),
            "session_conf": conf,
            "workload_params": wl.params,
            "loop": "closed, 1 client, whole rounds of requests",
            "round": [spec_label(s) for s in wl.round(0)],
            "setup_breakdown_s": {
                "session_start": session_start_s,
                "inputs": inputs_s,
                "warm_up": setup_s - session_start_s - inputs_s,
                "warm_up_requests": _request_rows(warm),
            },
            "timed_wall_s": wall,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "latency_tail": {
                "percentile": tail_p,
                "value_s": tail_v,
                "samples": len(lat),
                "samples_beyond": tail_beyond,
            },
            "failed_frac": failed / attempted,
            "timed_requests": _request_rows(timed),
            **artifact_extra,
            "result": result,
        }
        os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
        path = os.path.join(
            out_dir, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        e2e = artifact["end_to_end"]
        print(
            f"{args.workload}: {attempted} requests, {failed} failed; "
            + ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in e2e.items())
            + f"; tail = p{tail_p} of {len(lat)} samples ({tail_beyond} beyond)",
            file=sys.stderr,
        )
        if args.trace:
            print(f"tracing overhead (traced/untraced mean): {overhead:.3f}", file=sys.stderr)
        print(f"artifact: {os.path.relpath(path, root)}", file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        _shutdown(jvm)
        shutil.rmtree(work, ignore_errors=True)


def _request_rows(records) -> list[dict]:
    return [
        {"n": r["n"], "spec": spec_label(r["spec"]), "latency_s": r["latency_s"], "error": r["error"]}
        for r in records
    ]


def _shutdown(jvm) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    forked to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if jvm is None:
        return
    workers = stats.descendants(jvm.pid)
    # the gateway JVM exits when its stdin closes; its workers on EOF
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while stats.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if stats.alive(pid):
            os.kill(pid, signal.SIGKILL)
