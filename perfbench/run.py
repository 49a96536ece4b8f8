"""FX engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload fx_dense --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs come from ``perfbench/gen.py``
with the given seed; outputs are checked against ``perfbench/oracle.py``
(itself checked against the reference goldens first). The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a separate traced run with ``--trace 1``. The
line before it holds the run's details (pinned Spark settings, validity
telemetry, every sample). Spans of a traced run are written to
``.bench_work/traces/``. Every other file lives under ``.bench_work/``
and is removed at exit.

Workloads are defined in ``workloads.py`` and their inputs in ``gen.py``.
``BENCHMARK.json`` names ``fx_wide`` and ``fx_stream``. ``fx_dense`` (20
instruments, every candle cell live, so the tick aggregate dominates)
runs the same way but is not listed there: every run pays a cold
driver (~20 s of JVM start and first-plan compilation), and three
workloads' repeated runs do not fit the benchmark's total time.

Exit codes: 0 with a result; 2 when the engine or its toolchain is
missing or the requested cores exceed the machine's; 3 when the run is
invalid (hypervisor steal or generator lateness over the bound).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("fx_dense", "fx_wide", "fx_stream")

END_TO_END = {
    "setup_s": "s", "run_s_p50": "s", "ticks_per_s": "1/s",
    "result_latency_ms_p50": "ms", "result_latency_ms_p90": "ms",
    "peak_rss_mb": "MB", "ok_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.backlog_files": "count",
    "sources.read_lag_ms": "ms", "sources.self_s": "s",
    "sources.speedup_vs_1core": "x",
    "candles.busy_s": "s", "candles.task_s": "s",
    "candles.shuffle_bytes": "bytes", "candles.rows_out": "count",
    "candles.gap_frac": "ratio", "candles.self_s": "s",
    "candles.speedup_vs_1core": "x",
    "returns.busy_s": "s", "returns.rows_out": "count",
    "returns.dropped_frac": "ratio", "returns.self_s": "s",
    "returns.speedup_vs_1core": "x",
    "correlation.busy_s": "s", "correlation.windows": "count",
    "correlation.pairs_computed": "count",
    "correlation.pairs_emitted": "count", "correlation.emit_frac": "ratio",
    "correlation.shuffle_bytes": "bytes", "correlation.python_s": "s",
    "correlation.self_s": "s", "correlation.speedup_vs_1core": "x",
    "materialize.cached_bytes": "bytes",
    "candles_stream.state_rows": "count",
    "candles_stream.state_bytes": "bytes",
    "candles_stream.state_commit_ms": "ms",
    "pipeline.invocation_s": "s", "pipeline.query_start_s": "s",
    "pipeline.add_batch_ms": "ms", "pipeline.touched_windows": "count",
    "pipeline.recompute_rows_frac": "ratio",
    "pipeline.store_files": "count", "pipeline.store_bytes": "bytes",
    "pipeline.read_s": "s", "pipeline.task_s": "s", "pipeline.self_s": "s",
    "run.self_s": "s", "run.speedup_vs_1core": "x",
    "trace.overhead_s": "s",
}


def _fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local cores (default: every core of the machine)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_timeseries_java_spark")):
        return _fail(f"engine package not found under {ROOT}", 2)
    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "pyarrow", "pandas", "numpy"):
        if importlib.util.find_spec(mod) is None:
            return _fail(f"{mod} is not installed", 2)

    import launcher
    import oracle
    import telemetry
    import workloads
    from spans import Tracer

    cores = a.cores or launcher.machine_cores()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        conf = launcher.pinned_conf(cores, work)
    except ValueError as e:
        return _fail(str(e), 2)
    launcher.prepare_env(work)

    from data_timeseries_java_spark.fixtures import demo_tick_rows

    ctx = workloads.Ctx(workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=bool(a.trace), work=work, conf=conf,
                        tracer=Tracer(enabled=bool(a.trace)),
                        sampler=telemetry.RssSampler())
    oracle_fails = oracle.self_check(demo_tick_rows())
    ctx.details.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                       trace=a.trace, spark=conf, oracle_self_check=oracle_fails)
    t0 = time.perf_counter()
    try:
        run = workloads.stream if a.workload == "fx_stream" else workloads.batch
        e2e = run(ctx)
    except workloads.Invalid as e:
        ctx.details["invalid"] = str(e)
        print(json.dumps(ctx.details, default=str), file=sys.stderr)
        return _fail(f"invalid run: {e}", 3)
    finally:
        _stop_spark(ctx.spark)
        if a.trace and ctx.tracer.spans:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    ctx.details["wall_s"] = time.perf_counter() - t0
    ctx.details["checks"] = ctx.checks
    ctx.details["layer"] = ctx.layer
    if a.trace:
        ctx.details["end_to_end"] = e2e
        values, units = ctx.layer, PER_LAYER
    else:
        values, units = e2e, END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    correct = (not oracle_fails and ctx.failed == 0
               and all(c.get("failures", 0) == 0 for c in ctx.checks))
    print(json.dumps(ctx.details, default=str))
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
