#!/usr/bin/env python3
"""Benchmark of the fischer_spark engine.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout.  Inputs are generated from the seed
(perfbench/gen.py); every output the program produces is checked against
a reference computed without it (perfbench/reference.py).  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is a
human-readable report with the workload-specific names and sample counts.

Everything the run writes stays under ``.bench_work/`` (removed at the
end) and ``.bench_out/`` (the span file of a traced run).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from workloads import CORE, MODULES  # noqa: E402  (the script's directory is on sys.path)

DRIVER_MEM = "2g"  # the session default (16g) exceeds a 4-CPU, 15 GB host

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "batch_p50_ms": "ms",
    "work_per_s": "1/s",
}

# name -> unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "session.start_s": "s",
    "series.wall_s": "s",
    "series.points_out": "count",
    "rollup.1m_wall_s": "s",
    "rollup.1h_wall_s": "s",
    "rollup.1d_wall_s": "s",
    "rollup.1m_rows_out": "count",
    "rollup.1m_reduction": "ratio",
    "rollup.shuffle_bytes": "bytes",
    "rollup.spill_bytes": "bytes",
    "detect.zscore_wall_s": "s",
    "detect.seasonal_wall_s": "s",
    "detect.intervals_out": "count",
    "chunks.wall_s": "s",
    "chunks.points_per_s": "1/s",
    "chunks.bytes_per_point": "bytes",
    "storage.commits": "count",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.read_chain_len": "count",
    "storage.compact_s": "s",
    "api.plan_ms": "ms",
    "api.exec_ms": "ms",
    "api.rows_out": "count",
    "api.jobs_per_query": "count",
    "api.panel_1m_p50_ms": "ms",
    "api.overview_1h_p50_ms": "ms",
    "api.agg_by_1d_p50_ms": "ms",
    "api.regex_rate_p50_ms": "ms",
    "api.score_p50_ms": "ms",
    "api.fresh_p50_ms": "ms",
    "refresh.cascade_s": "s",
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.tasks_failed": "count/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_bytes": "bytes/op",
    **{f"registry.{m}_s": "s" for m in MODULES},
    **{f"registry.{q}_s": "s" for q in CORE},
    "mem.peak_rss_mb": "MB",
    "mem.python_workers_mb": "MB",
    "mem.heap_live_peak_mb": "MB",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
}

# the workload-specific name of each end-to-end metric, for the report line
ALIASES = {
    "ingest": {
        "op_p50_ms": "pipeline_p50_ms",
        "op_tail_ms": "pipeline_tail_ms",
        "batch_p50_ms": "registry_wall_ms",
        "work_per_s": "rolled_points_per_s",
    },
    "serve": {
        "op_p50_ms": "query_p50_ms",
        "op_tail_ms": "query_tail_ms",
        "batch_p50_ms": "refresh_p50_ms",
        "work_per_s": "queries_per_s",
    },
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run and the program write inside the checkout,
    and fit the program's session to the host's CPUs and memory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus  # local[nproc]
    os.environ["SPARK_GRAFT_SHUFFLE"] = cpus  # shuffle partitions; the default 32 is sized for a cluster
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def run(args, work: str):
    import fischer_spark  # noqa: F401  fail fast without the program
    from harness import Bench, cpu_times, engine_by_span, heap_live_peak, median, steal_pct, tail
    from workloads import WORKLOADS

    trace = bool(args.trace)
    b = Bench(work, trace)
    wl = WORKLOADS[args.workload](args.scale, args.seed, work)
    try:
        setup_s = []
        for rep in range(wl.setup_reps):
            t0 = time.perf_counter()
            b.start_session(traced=trace)
            wl.setup(b, rep)
            setup_s.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        wl.warm_up(b)
        cpu0 = cpu_times()
        t_measure = time.perf_counter()
        if trace:
            # the same work untraced, then traced: the difference is the
            # tracing overhead
            b.start_session(traced=False)
            untraced = wl.measure(b, args.seconds / 2)
            b.start_session(traced=True)
            mark = len(b.spans)
            res = wl.measure(b, args.seconds / 2)
            results = [untraced, res]
        else:
            res = wl.measure(b, args.seconds)
            results = [res]
        steal = steal_pct(cpu0, cpu_times())
        t_check = time.perf_counter()
        counts = {}
        try:  # an output the checks cannot even read is a wrong answer
            errors = wl.check(b, results)
            if trace:
                counts = wl.counts(b, results)
        except Exception as e:
            errors = [f"reading the outputs raised {e!r}"]
        t_done = time.perf_counter()
    finally:
        b.shutdown()

    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    for e in errors:
        print("CHECK FAILED:", e, flush=True)
    if not res.op_ms:
        raise SystemExit(f"{args.workload}: no operation completed")
    tail_v, tail_p = tail(res.op_ms)
    e2e = {
        "setup_s": median(setup_s),
        "op_p50_ms": median(res.op_ms),
        "op_tail_ms": tail_v,
        "batch_p50_ms": median(res.extra["batch_ms"]),
        "work_per_s": res.work / res.wall_s,
    }
    memory = {
        "mem.peak_rss_mb": b.peak_rss / 2**20,
        "mem.python_workers_mb": b.peak_workers / 2**20,
        "mem.heap_live_peak_mb": heap_live_peak(os.path.join(work, "gc.log")) / 2**20,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "op_error_ratio": failed / max(attempted, 1),
        "samples": len(res.op_ms),
        "tail_percentile": tail_p,
        "setup_reps_s": setup_s,
        "cpu_steal_pct": steal,
        "phase_s": {"warm_up": t_measure - t_warm, "measure": t_check - t_measure, "check": t_done - t_check},
        **memory,
        "checks_failed": len(errors),
        **{ALIASES[args.workload].get(k, k): v for k, v in e2e.items()},
    }
    if trace:
        engine = engine_by_span(os.path.join(work, "eventlog"))
        values = {**layer_metrics(b, engine, mark, res, untraced), **counts, **memory}
        if values["chunks.wall_s"]:
            values["chunks.points_per_s"] = values["series.points_out"] / values["chunks.wall_s"]
        metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        b.write_spans(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"), engine)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, report


def layer_metrics(b, engine: dict, mark: int, res, untraced) -> dict:
    """Per-layer figures from the spans (durations) and the event log
    (Spark work attributed to each span's job group)."""
    from collections import defaultdict

    from harness import median

    # a layer's figures come from the traced half; layers only set-up
    # exercised (serve's base-store build) fall back to the earlier spans
    phase, earlier = defaultdict(list), defaultdict(list)
    for i, s in enumerate(b.spans):
        (phase if i >= mark else earlier)[s.name].append(s)
    by_name = {n: phase.get(n) or earlier[n] for n in {*phase, *earlier}}

    def dur(name: str) -> float:
        spans = by_name.get(name)
        return median([s.dur for s in spans]) if spans else 0.0

    def eng(name: str, key: str) -> float:
        spans = by_name.get(name)
        return median([engine.get(s.sid, {}).get(key, 0) for s in spans]) if spans else 0.0

    out = {
        "session.start_s": b.session_starts[0],
        "series.wall_s": dur("stage.series"),
        "detect.zscore_wall_s": dur("stage.zscore_intervals"),
        "detect.seasonal_wall_s": dur("stage.seasonal_intervals"),
        "chunks.wall_s": dur("stage.chunks"),
        "storage.compact_s": dur("refresh.compact"),
        "refresh.cascade_s": dur("refresh.cascade"),
        "api.plan_ms": dur("api.plan") * 1000.0,
        "api.exec_ms": dur("api.exec") * 1000.0,
    }
    for t in ("1m", "1h", "1d"):
        out[f"rollup.{t}_wall_s"] = dur(f"stage.rollup_{t}")
    for key in ("shuffle_bytes", "spill_bytes"):
        out[f"rollup.{key}"] = sum(eng(f"stage.rollup_{t}", key) for t in ("1m", "1h", "1d"))
    queries = by_name.get("api.query", [])
    if queries:
        out["api.rows_out"] = median([s.counts.get("rows", 0) for s in queries])
        jobs = sum(engine.get(s.sid, {}).get("jobs", 0) for n in ("api.plan", "api.exec") for s in by_name.get(n, []))
        out["api.jobs_per_query"] = jobs / len(queries)
        kinds = defaultdict(list)
        for s in queries:
            kinds[s.counts["kind"]].append(s.dur * 1000.0)
        for kind, ms in kinds.items():
            out[f"api.{kind}_p50_ms"] = median(ms)
    ops = max(res.attempted, 1)
    for key in ("jobs", "tasks", "tasks_failed", "gc_s", "shuffle_bytes"):
        out[f"spark.{key}"] = sum(engine.get(s.sid, {}).get(key, 0) for s in b.spans[mark:]) / ops
    for m in MODULES:
        passes = res.extra.get("module_s", [])
        out[f"registry.{m}_s"] = median([p[m] for p in passes]) if passes else 0.0
    for name in {s.name for s in b.spans[mark:] if s.name.startswith("registry.")}:
        out[f"{name}_s"] = dur(name)
    if res.op_ms and untraced.op_ms:
        base = median(untraced.op_ms)
        out["trace.overhead_ms"] = median(res.op_ms) - base
        out["trace.overhead_pct"] = 100.0 * (median(res.op_ms) - base) / base
    return out


if __name__ == "__main__":
    raise SystemExit(main())
