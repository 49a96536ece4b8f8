"""The benchmark's workloads and how each is set up, measured, checked
and traced.

- ``fx_dense`` / ``fx_wide`` are closed loops over the batch facade: one
  forced ``FXEngine.run`` (its output written to Parquet) after another
  for the run's seconds.
- ``fx_stream`` is an open loop: the generator process lands tick files
  on a fixed wall-clock schedule whatever the engine's progress, and a
  driver loop re-invokes ``streaming_correlations`` (availableNow) on
  whatever has landed. A file's latency runs from when it was due to the
  end of the invocation that committed it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import launcher
import oracle
import telemetry
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

RESOLUTION = "120 seconds"
WATERMARK = "60 seconds"          # > gen ooo_max_s: no tick is ever late
STREAM_PREFIX_FILES = 4           # landed before the loop, for warm-up
MIN_SAMPLES = 3                   # batch runs per measurement, at least
MIN_INVOCATIONS = 2               # stream invocations per measurement, at least
PROBE_KEYS = 20                   # stream probe of the batch workloads
PROBE_FILES = 3
PROBE_FILE_S = 600

# engine options per workload (PipelineOptions keyword arguments)
OPTIONS = {
    "fx_dense": {"min_corr_value": 0.0, "propagate_nan": True},
    "fx_wide": {"large_universe": True},
    "fx_stream": {"min_corr_value": 0.0, "propagate_nan": True},
}


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    conf: dict = field(default_factory=dict)
    spark: object = None
    tracer: Tracer = None
    sampler: telemetry.RssSampler = None
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    details: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def options(self):
        from data_timeseries_java_spark.api import PipelineOptions
        return PipelineOptions(**OPTIONS[self.workload])

    def ocfg(self) -> oracle.Config:
        o = self.options()
        return oracle.Config(min_corr=o.min_corr_value,
                             propagate_nan=o.propagate_nan)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, diff: oracle.Diff) -> None:
        """Record a comparison; an output that fails it is a failed op."""
        self.checks.append({"name": name, **diff.as_dict()})
        if diff.failures:
            self.failed += 1


# ---------------------------------------------------------------- set-up

def run_gen(ctx: Ctx, out: str, *args: str, wait: bool = True):
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
           ctx.workload, "--seed", str(ctx.seed), "--out", out, *args]
    env = {**os.environ, "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1"}
    if not wait:
        return subprocess.Popen(cmd, env=env)
    subprocess.run(cmd, env=env, check=True)


def setup(ctx: Ctx, warm_up) -> None:
    """One cold session start (the driver JVM launches here), the input
    generation and the warm-up; ``setup_s`` is their sum."""
    t0 = time.perf_counter()
    with ctx.tracer.run("setup", name="setup"):
        with ctx.tracer.span("session", op="get_spark"):
            ctx.spark, start_s = launcher.start_session(ctx.conf)
        ctx.tracer.spark = ctx.spark
        t1 = time.perf_counter()
        if ctx.workload == "fx_stream":
            run_gen(ctx, ctx.path("in"), "--files", f"0:{STREAM_PREFIX_FILES}")
        else:
            run_gen(ctx, ctx.path("in"))
        t2 = time.perf_counter()
        warm_up()
    if ctx.failed:
        raise RuntimeError(f"warm-up failed: {ctx.details.get('errors')}")
    ctx.attempted = 0
    ctx.details["setup_s"] = time.perf_counter() - t0
    ctx.details["setup"] = {"session_s": start_s, "gen_s": t2 - t1,
                            "warm_up_s": time.perf_counter() - t2}
    ctx.layer["session.start_s"] = start_s


def epoch_ms(col) -> np.ndarray:
    """Arrow timestamp column (any unit) -> int64 epoch milliseconds."""
    per_ms = {"s": 1e-3, "ms": 1, "us": 1_000, "ns": 1_000_000}[col.type.unit]
    v = col.cast(pa.int64()).to_numpy()
    return v * 1000 if per_ms < 1 else v // per_ms


def read_ticks_frame(files: list[str]) -> pd.DataFrame:
    """Generated tick files -> oracle tick frame."""
    t = pa.concat_tables([pq.read_table(f) for f in files])
    return pd.DataFrame({
        "key": t.column("key").to_numpy(zero_copy_only=False),
        "t_ms": epoch_ms(t.column("event_time")),
        "bid": t.column("bid").to_numpy(), "ask": t.column("ask").to_numpy()})


def read_output(path: str) -> pd.DataFrame:
    """Engine correlation output (Parquet dir) -> comparison frame."""
    t = pq.read_table(path, columns=["window_start", "key1", "key2", "value",
                                     "x_count", "y_count", "is_nan"],
                      read_dictionary=["key1", "key2"])
    df = t.to_pandas()
    df["window_start"] = epoch_ms(t.column("window_start"))
    return df


# ------------------------------------------------------------------ batch

def batch_run(ctx: Ctx, ticks_path: str, out: str) -> float:
    """One forced FXEngine.run, its output written to ``out``."""
    from data_timeseries_java_spark.api import FXEngine
    from data_timeseries_java_spark.sources import read_ticks_parquet

    t0 = time.perf_counter()
    ticks = read_ticks_parquet(ctx.spark, ticks_path)
    FXEngine(ctx.spark, ctx.options()).run(ticks).write.mode(
        "overwrite").parquet(out)
    dt = time.perf_counter() - t0
    ctx.spark.catalog.clearCache()
    return dt


def batch(ctx: Ctx) -> dict:
    ticks_path = ctx.path("in", "ticks.parquet")
    # two warm-up runs: the JIT is still compiling through the second
    setup(ctx, lambda: [batch_run(ctx, ticks_path, ctx.path("warm"))
                        for _ in range(2)])
    n_ticks = pq.ParquetFile(ticks_path).metadata.num_rows
    samples, outs = [], []
    t_end = time.perf_counter() + ctx.seconds
    with ctx.sampler:
        while (time.perf_counter() < t_end or len(samples) < MIN_SAMPLES) and \
                time.perf_counter() < t_end + 3 * ctx.seconds:
            out = ctx.path("out", f"run-{ctx.attempted}")
            before = telemetry.snapshot()
            ctx.attempted += 1
            try:
                dt = batch_run(ctx, ticks_path, out)
            except Exception as e:          # a raised run is a failed op
                ctx.failed += 1
                ctx.details.setdefault("errors", []).append(repr(e)[:500])
                continue
            v = telemetry.delta(before, telemetry.snapshot())
            ctx.details.setdefault("samples", []).append({"run_s": dt, **v})
            outs.append(out)
            if v["valid"]:
                samples.append(dt)
    want = oracle.pipeline(read_ticks_frame([ticks_path]), ctx.ocfg())
    universe = gen.key_names(gen.SHAPES[ctx.workload].n_keys)
    for i, out in enumerate(outs):
        ctx.check(f"run {i} vs oracle",
                  oracle.compare(read_output(out), want, ctx.ocfg(), universe))
        shutil.rmtree(out, ignore_errors=True)
    if not samples:
        raise Invalid("every sample exceeded the steal bound")
    metrics = e2e(ctx, samples, [s * 1000 for s in samples],
                  n_ticks / median(samples), ctx.sampler.peak)
    ctx.details["samples_valid"] = len(samples)
    if ctx.trace:
        batch_trace(ctx, ticks_path, want, universe, untraced=samples)
    return metrics


def e2e(ctx: Ctx, run_s, latency_ms, ticks_per_s, peak_rss: int) -> dict:
    return {
        "setup_s": ctx.details["setup_s"],
        "run_s_p50": median(run_s),
        "ticks_per_s": ticks_per_s,
        "result_latency_ms_p50": pct(latency_ms, 50),
        "result_latency_ms_p90": pct(latency_ms, 90),
        "peak_rss_mb": peak_rss / 2**20,
        "ok_frac": 1.0 - ctx.failed / max(ctx.attempted, 1),
    }


class Invalid(Exception):
    """The run measured the machine, not the engine: do not report it."""


# ------------------------------------------------------------ batch trace

def _cached_bytes(spark) -> int:
    return sum(i.memSize() + i.diskSize()
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def traced_pass(ctx: Ctx, run_id: str, ticks_path: str, out: str) -> dict:
    """Force each layer's output in turn, each under its own span."""
    from data_timeseries_java_spark.api import FXEngine
    from data_timeseries_java_spark.sources import read_ticks_parquet

    tr, spark = ctx.tracer, ctx.spark
    eng = FXEngine(spark, ctx.options())
    m, groups = {}, {}
    me = os.getpid()
    with tr.run(run_id) as top:
        with tr.span("sources", op="read_ticks_parquet") as sp:
            ticks = read_ticks_parquet(spark, ticks_path).persist()
            m["ticks"] = ticks.count()
        groups["sources"] = sp
        with tr.span("candles", op="candles_pipeline") as sp:
            candles = eng.complete_candles(ticks).persist()
            m["candles"] = candles.count()
        groups["candles"] = sp
        with tr.span("returns", op="log_returns") as sp:
            rets = eng.returns(candles).persist()
            m["returns"] = rets.count()
        groups["returns"] = sp
        cached0 = _cached_bytes(spark)
        py0 = telemetry.cpu_seconds(telemetry.python_pids(me, ctx.sampler.exclude))
        kernel = ("pairwise_correlations_matrix" if ctx.options().large_universe
                  else "pairwise_correlations")
        with tr.span("correlation", op=kernel) as sp:
            eng.correlate(rets).write.mode("overwrite").parquet(out)
        groups["correlation"] = sp
        m["python_s"] = telemetry.cpu_seconds(
            telemetry.python_pids(me, ctx.sampler.exclude)) - py0
        m["cached_bytes"] = _cached_bytes(spark) - cached0
    m["gaps"] = candles.where(~candles["is_live"]).count()
    r = rets.toPandas()
    spark.catalog.clearCache()
    # pairs the kernel evaluates: keys with >=2 returns per sliding window
    cfg = ctx.ocfg()
    t_ms = r["time"].astype("datetime64[ns]").astype("int64") // 1_000_000
    last = t_ms // (cfg.slide_s * 1000) * (cfg.slide_s * 1000)
    per = pd.concat([pd.DataFrame({"w": last - b * cfg.slide_s * 1000, "k": r["key"]})
                     for b in range(cfg.window_s // cfg.slide_s)])
    kc = per.groupby(["w", "k"]).size()
    k_per_w = (kc >= 2).groupby(level=0).sum()
    m["pairs_computed"] = int((k_per_w * (k_per_w - 1) // 2).sum())
    m["windows"] = int((k_per_w >= 2).sum())
    m["stage"] = {k: tr.stage_metrics(sp["group"]) for k, sp in groups.items()}
    m["busy"] = {k: sp["end"] - sp["start"] for k, sp in groups.items()}
    m["run_s"] = top["end"] - top["start"]
    m["self"] = tr.self_times(run_id)
    m["out"] = out
    return m


def layer_metrics(ctx: Ctx, m: dict) -> None:
    """Per-layer metrics of one traced batch pass."""
    L, st = ctx.layer, m["stage"]
    emitted = sum(pq.ParquetFile(f).metadata.num_rows
                  for f in glob.glob(os.path.join(m["out"], "*.parquet")))
    L["sources.scan_s"] = m["busy"]["sources"]
    L["candles.busy_s"] = m["busy"]["candles"]
    L["candles.task_s"] = st["candles"]["task_s"]
    L["candles.shuffle_bytes"] = st["candles"]["shuffle_bytes"]
    L["candles.rows_out"] = m["candles"]
    L["candles.gap_frac"] = m["gaps"] / max(m["candles"], 1)
    L["returns.busy_s"] = m["busy"]["returns"]
    L["returns.rows_out"] = m["returns"]
    L["returns.dropped_frac"] = 1.0 - m["returns"] / max(m["candles"], 1)
    L["correlation.busy_s"] = m["busy"]["correlation"]
    L["correlation.windows"] = m["windows"]
    L["correlation.pairs_computed"] = m["pairs_computed"]
    L["correlation.pairs_emitted"] = emitted
    L["correlation.emit_frac"] = emitted / max(m["pairs_computed"], 1)
    L["correlation.shuffle_bytes"] = st["correlation"]["shuffle_bytes"]
    L["correlation.python_s"] = m["python_s"]
    L["materialize.cached_bytes"] = m["cached_bytes"]
    for layer in ("sources", "candles", "returns", "correlation"):
        L[f"{layer}.self_s"] = m["self"].get(layer, 0.0)


def one_core_speedups(ctx: Ctx, ticks_path: str, ncore: dict) -> None:
    """Re-run one traced pass at local[1]; speedup = 1-core / n-core."""
    conf1 = {**ctx.conf, "master": "local[1]"}
    ctx.spark.stop()
    ctx.tracer.spark = None
    ctx.spark, _ = launcher.start_session(conf1)
    ctx.tracer.spark = ctx.spark
    one = traced_pass(ctx, "local-1", ticks_path, ctx.path("out", "trace-1core"))
    for layer in ("sources", "candles", "returns", "correlation"):
        ctx.layer[f"{layer}.speedup_vs_1core"] = one["busy"][layer] / ncore["busy"][layer]
    ctx.layer["run.speedup_vs_1core"] = one["run_s"] / ncore["run_s"]
    ctx.details["one_core"] = {"busy": one["busy"], "run_s": one["run_s"]}


def batch_trace(ctx: Ctx, ticks_path: str, want, universe, untraced) -> None:
    passes = []
    for i in range(2):
        out = ctx.path("out", f"trace-{i}")
        passes.append(traced_pass(ctx, f"traced-{i}", ticks_path, out))
        ctx.check(f"traced pass {i} vs oracle",
                  oracle.compare(read_output(out), want, ctx.ocfg(), universe))
    best = min(passes, key=lambda p: p["run_s"])
    layer_metrics(ctx, best)
    ctx.layer["run.self_s"] = best["self"].get("run", 0.0)
    ctx.layer["trace.overhead_s"] = best["run_s"] - median(untraced)
    # share of the traced run the layer spans cover (the rest is run.self_s)
    ctx.details["trace"] = {"self": best["self"], "stage": best["stage"],
                            "run_s": best["run_s"], "untraced_run_s": median(untraced),
                            "coverage": sum(best["busy"].values()) / best["run_s"]}
    stream_probe(ctx, ticks_path)
    one_core_speedups(ctx, ticks_path, best)


# ------------------------------------------------------------------ stream

def _committed(ckpt: str) -> set[str]:
    """Files the stream has committed, from its source log."""
    out = set()
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if f.endswith(".tmp") or os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _schedule(d: str) -> dict[str, dict]:
    p = os.path.join(d, "schedule.jsonl")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {r["file"]: r for r in map(json.loads, f)}


def _watermark_ms(progress: list[dict]) -> int | None:
    for p in reversed(progress):
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm:
            return int(pd.Timestamp(wm).value // 1_000_000)
    return None


class Stream:
    """One streaming pipeline: landing dir, store, and the driver loop's
    records of every invocation."""

    def __init__(self, ctx: Ctx, src: str, store: str, keys: list[str],
                 config) -> None:
        self.ctx, self.src, self.store = ctx, src, store
        self.universe = keys + [gen.SENTINEL_KEY]
        self.config = config
        self.invocations: list[dict] = []
        self.progress: list[dict] = []
        self.committed: set[str] = set()

    def invoke(self, traced: bool = False) -> dict:
        from data_timeseries_java_spark.sources import stream_ticks_files
        from data_timeseries_java_spark.streaming.pipeline import (
            streaming_correlations,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        landing = os.path.join(self.src, "landing")
        pending = sorted(set(os.listdir(landing)) - self.committed)
        rec = {"backlog": len(pending)}
        before = telemetry.snapshot()
        ctx.attempted += 1
        t0 = time.time()
        with tr.span("pipeline", op="streaming_correlations") if traced \
                else nullcontext():
            with tr.span("sources", op="stream_ticks_files") if traced else nullcontext():
                src = stream_ticks_files(ctx.spark, landing)
            q = streaming_correlations(
                ctx.spark, src, self.store, resolution=RESOLUTION,
                config=self.config, watermark=WATERMARK, universe=self.universe)
            rec["query_start_s"] = time.time() - t0
            try:
                q.awaitTermination()
                err = q.exception()
            except Exception as e:      # noqa: BLE001 - counted as failed op
                err = e
        t1 = time.time()
        rec.update(start=t0, end=t1, wall_s=t1 - t0,
                   **telemetry.delta(before, telemetry.snapshot()))
        if err is not None:
            ctx.failed += 1
            ctx.details.setdefault("errors", []).append(str(err)[:500])
        prog = list(q.recentProgress)
        self.progress.extend(prog)
        rec["add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in prog)
        rec["scan_ms"] = sum(p["durationMs"].get("latestOffset", 0)
                             + p["durationMs"].get("getBatch", 0) for p in prog)
        ops = [so for p in prog for so in (p.get("stateOperators") or [])]
        rec["state_commit_ms"] = sum(so.get("commitTimeMs", 0) for so in ops)
        if ops:
            rec["state_rows"] = ops[-1].get("numRowsTotal", 0)
            rec["state_bytes"] = ops[-1].get("memoryUsedBytes", 0)
        rec["input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
        rec["batches"] = [p["batchId"] for p in prog]
        new = _committed(os.path.join(self.store, "checkpoint")) - self.committed
        self.committed |= new
        rec["files"] = sorted(new)
        if traced:
            rec["stage"] = tr.stage_metrics(str(q.runId))
            rec.update(self.store_scan(rec["batches"]))
        self.invocations.append(rec)
        return rec

    def store_scan(self, batches: list[int]) -> dict:
        """Touched windows and rows the recompute read, per new batch,
        reconstructed from the store itself."""
        cfg = self.config
        win_ms, slide_ms = _ms(cfg.window), _ms(cfg.slide)
        touched, read_rows, new_rows = 0, 0, 0
        rets_dir = os.path.join(self.store, "returns")
        corr_dir = os.path.join(self.store, "correlations")
        for b in batches:
            cb = os.path.join(corr_dir, f"batch_id={b}")
            rb = os.path.join(rets_dir, f"batch_id={b}")
            if not os.path.isdir(cb) or not os.path.isdir(rb):
                continue
            marks = pq.read_table(cb, columns=["key1", "w_start_ms"]).to_pandas()
            wins = np.unique(marks.loc[marks["key1"].isna(), "w_start_ms"].to_numpy())
            touched += len(wins)
            new_rows += pq.read_table(rb, columns=["time"]).num_rows
            hist = [d for d in glob.glob(os.path.join(rets_dir, "batch_id=*"))
                    if int(d.rsplit("=", 1)[1]) <= b]
            t = np.concatenate([epoch_ms(pq.read_table(d, columns=["time"]).column("time"))
                                for d in hist])
            last = t // slide_ms * slide_ms
            hit = np.zeros(len(t), dtype=bool)
            for back in range(win_ms // slide_ms):
                hit |= np.isin(last - back * slide_ms, wins)
            read_rows += int(hit.sum())
        return {"touched_windows": touched, "recompute_rows": read_rows,
                "new_rows": new_rows}

    def read_snapshot(self) -> pd.DataFrame:
        """The store's current snapshot, sentinel pairs dropped; sets
        ``read_s``."""
        from data_timeseries_java_spark.streaming.pipeline import (
            read_streaming_correlations,
        )
        t0 = time.perf_counter()
        with self.ctx.tracer.run("snapshot-read"), \
                self.ctx.tracer.span("pipeline", op="read_streaming_correlations"):
            snap = read_streaming_correlations(self.ctx.spark, self.store).toPandas()
        self.read_s = time.perf_counter() - t0
        snap = snap[~snap["key1"].str.startswith("ZZ-") & ~snap["key2"].str.startswith("ZZ-")]
        return snap.assign(window_start=snap["w_start_ms"].astype("int64"))

    def check_snapshot(self, name: str, cfg: oracle.Config, keys: list[str],
                       complete_only: bool = True) -> pd.DataFrame:
        """Compare the snapshot's complete windows (every candle in them
        finalized by the watermark) against the oracle on the committed
        ticks; returns the snapshot."""
        snap = self.read_snapshot()
        files = [os.path.join(self.src, "landing", f) for f in sorted(self.committed)
                 if f.startswith("part-")]
        want = oracle.pipeline(read_ticks_frame(files), cfg)
        win = cfg.window_s * 1000
        if complete_only:
            wm = _watermark_ms(self.progress) or 0
            snap = snap[snap["window_start"] + win <= wm]
            want = want[want["window_start"] + win <= wm]
        self.ctx.details.setdefault("stream_checks", []).append(
            {"name": name, "snapshot_rows": len(snap), "windows":
             int(snap["window_start"].nunique())})
        diff = oracle.compare(snap, want, cfg, keys)
        diff.missing += len(want) == 0          # nothing checked is a failure
        self.ctx.check(name, diff)
        return snap

    def store_size(self) -> tuple[int, int]:
        files, size = 0, 0
        for sub in ("returns", "correlations"):
            for root, _, names in os.walk(os.path.join(self.store, sub)):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
        return files, size


def _ms(duration: str) -> int:
    qty, unit = duration.split()
    return int(qty) * {"second": 1000, "seconds": 1000, "minute": 60_000,
                       "minutes": 60_000}[unit]


class Feed:
    """The generator process landing stream files on a wall-clock
    schedule, one every ``gen.STREAM_PERIOD_S`` from ``first`` on, whatever
    the pipeline's progress (an open loop)."""

    def __init__(self, ctx: Ctx, st: Stream, first: int) -> None:
        self.ctx, self.st = ctx, st
        start_at = time.time() + 2.5       # the generator's own start-up
        self.proc = run_gen(ctx, st.src, "--files", f"{first}:{gen.SHAPES['fx_stream'].n_files}",
                            "--start-at", repr(start_at), wait=False)
        ctx.sampler.exclude.add(self.proc.pid)

    def wait_for_file(self, timeout_s: float = 30.0) -> None:
        landing = os.path.join(self.st.src, "landing")
        deadline = time.time() + timeout_s
        while not set(os.listdir(landing)) - self.st.committed:
            if self.proc.poll() is not None or time.time() > deadline:
                raise RuntimeError(f"no stream file landed (generator exit "
                                   f"{self.proc.poll()})")
            time.sleep(0.01)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait()
        self.ctx.sampler.exclude.discard(self.proc.pid)


def invoke_for(feed: Feed, seconds: float, at_least: int,
               traced: bool = False) -> list[dict]:
    """Re-invoke the pipeline on whatever has landed, for ``seconds`` and
    at least ``at_least`` times."""
    invs: list[dict] = []
    t0 = time.time()
    while len(invs) < at_least or time.time() - t0 < seconds:
        feed.wait_for_file()
        invs.append(feed.st.invoke(traced=traced))
    return invs


def file_records(st: Stream, invs: list[dict]) -> list[dict]:
    """Per committed file: latency from when it was due to the end of the
    invocation that committed it, and how late the generator wrote it."""
    sched = _schedule(st.src)
    out = []
    for inv in invs:
        for f in inv["files"]:
            s = sched.get(f)
            if s is None or s["due"] is None:
                continue
            out.append({"file": f, "latency_ms": (inv["end"] - s["due"]) * 1000,
                        "late_s": s["written"] - s["due"],
                        "read_lag_ms": (inv["start"] - s["written"]) * 1000,
                        "ticks": s["ticks"], "valid": inv["valid"]})
    return out


def stream(ctx: Ctx) -> dict:
    """Warm-up on the prefix files; then the feed starts and one unmeasured
    invocation brings the loop to its steady state (its files become the
    backlog of the first measured one, as in any later cycle); then the
    measured invocations."""
    shape = gen.SHAPES["fx_stream"]
    keys = gen.key_names(shape.n_keys)
    st = Stream(ctx, ctx.path("in"), ctx.path("store"), keys,
                ctx.options().corr_config())
    setup(ctx, lambda: st.invoke())
    feed = Feed(ctx, st, STREAM_PREFIX_FILES)
    try:
        lead = invoke_for(feed, 0, 1)
        with ctx.sampler:
            invs = invoke_for(feed, ctx.seconds, MIN_INVOCATIONS)
        peak_rss = ctx.sampler.peak
        if ctx.trace:
            with ctx.sampler:
                with ctx.tracer.run("traced-stream") as top:
                    traced = invoke_for(feed, ctx.seconds, MIN_INVOCATIONS, traced=True)
    finally:
        feed.stop()
    files = file_records(st, invs)
    ok = [f for f in files if f["valid"] and f["late_s"] <= telemetry.LATENESS_BOUND_S]
    every = lead + invs + (traced if ctx.trace else [])
    ctx.details["stream"] = {
        "files": len(files), "files_valid": len(ok),
        "generator_late_s_p50": pct([f["late_s"] for f in files], 50),
        "generator_late_s_max": max(f["late_s"] for f in files),
        "backlog": [i["backlog"] for i in every],
        "invocation_s": [i["wall_s"] for i in every]}
    st.check_snapshot("stream snapshot vs oracle", ctx.ocfg(), keys)
    if len(ok) * 2 < len(files):
        raise Invalid("over half the files were late or ran under steal")
    valid_invs = [i for i in invs if i["valid"]]
    if not valid_invs:
        raise Invalid("every invocation ran under steal")
    ticks = sum(f["ticks"] for f in files if f["valid"])
    metrics = e2e(ctx, [i["wall_s"] for i in valid_invs],
                  [f["latency_ms"] for f in ok],
                  ticks / sum(i["wall_s"] for i in valid_invs), peak_rss)
    if ctx.trace:
        stream_trace(ctx, st, traced, top, untraced=invs)
    return metrics


def stream_layer_metrics(ctx: Ctx, st: Stream, invs: list[dict],
                         files: list[dict]) -> None:
    L = ctx.layer
    L["sources.backlog_files"] = median(i["backlog"] for i in invs)
    L["sources.read_lag_ms"] = median(f["read_lag_ms"] for f in files) if files else 0.0
    L["candles_stream.state_rows"] = median(i.get("state_rows", 0) for i in invs)
    L["candles_stream.state_bytes"] = median(i.get("state_bytes", 0) for i in invs)
    L["candles_stream.state_commit_ms"] = median(i["state_commit_ms"] for i in invs)
    L["pipeline.invocation_s"] = median(i["wall_s"] for i in invs)
    L["pipeline.query_start_s"] = median(i["query_start_s"] for i in invs)
    L["pipeline.add_batch_ms"] = median(i["add_batch_ms"] for i in invs)
    L["pipeline.touched_windows"] = median(i["touched_windows"] for i in invs)
    L["pipeline.recompute_rows_frac"] = (sum(i["recompute_rows"] for i in invs)
                                         / max(sum(i["new_rows"] for i in invs), 1))
    L["pipeline.store_files"], L["pipeline.store_bytes"] = st.store_size()
    L["pipeline.task_s"] = median(i["stage"]["task_s"] for i in invs)


def stream_probe(ctx: Ctx, ticks_path: str) -> None:
    """Batch workloads' trace: run the streaming layers on a slice of the
    workload's own ticks (first ``PROBE_KEYS`` keys, first
    ``PROBE_FILES`` x ``PROBE_FILE_S`` seconds), two invocations, and
    check the snapshot against the oracle."""
    keys = gen.key_names(gen.SHAPES[ctx.workload].n_keys)[:PROBE_KEYS]
    t = pq.read_table(ticks_path)
    t = t.filter(pc.is_in(t["key"], value_set=pa.array(keys)))
    t0 = gen.T0_US
    src = ctx.path("probe")
    os.makedirs(os.path.join(src, "landing"), exist_ok=True)
    ts = t["event_time"].cast("int64")
    st = Stream(ctx, src, ctx.path("probe-store"), keys, ctx.options().corr_config())
    with ctx.tracer.run("stream-probe"):
        for j in range(PROBE_FILES):
            lo, hi = t0 + j * PROBE_FILE_S * 10**6, t0 + (j + 1) * PROBE_FILE_S * 10**6
            part = t.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
            pq.write_table(part, os.path.join(src, "landing", f"part-{j:05d}.parquet"))
            if j == 0:
                continue
            st.invoke(traced=True)
    ctx.details["stream_probe"] = [{k: v for k, v in i.items() if k != "stage"}
                                   for i in st.invocations]
    st.check_snapshot("stream probe vs oracle", ctx.ocfg(), keys)
    stream_layer_metrics(ctx, st, st.invocations, [])
    ctx.layer["pipeline.read_s"] = st.read_s
    ctx.layer["pipeline.self_s"] = ctx.tracer.self_times("stream-probe").get("pipeline", 0.0)
    ctx.layer["sources.read_lag_ms"] = median(
        (i["start"] - os.path.getmtime(os.path.join(src, "landing", i["files"][0]))) * 1000
        for i in st.invocations if i["files"])


def stream_trace(ctx: Ctx, st: Stream, invs: list[dict], top: dict,
                 untraced: list[dict]) -> None:
    """Per-layer metrics of the traced invocations, then a watermark
    flush and the full snapshot against the oracle and against
    FXEngine.run on the same ticks (traced, at local[nproc] and
    local[1])."""
    tr = ctx.tracer
    stream_layer_metrics(ctx, st, invs, file_records(st, invs))
    scan_s = median(i["scan_ms"] for i in invs) / 1000
    self_t = tr.self_times("traced-stream")
    ctx.layer["pipeline.self_s"] = self_t.get("pipeline", 0.0)
    ctx.layer["run.self_s"] = self_t.get("run", 0.0)
    ctx.layer["trace.overhead_s"] = (median(i["wall_s"] for i in invs)
                                     - median(i["wall_s"] for i in untraced))
    ctx.details["trace"] = {"self": self_t, "run_s": top["end"] - top["start"]}
    run_gen(ctx, st.src, "--sentinel")
    with tr.run("flush"):
        st.invoke(traced=True)
    snap = st.check_snapshot("flushed stream vs oracle", ctx.ocfg(),
                             st.universe[:-1], complete_only=False)
    ctx.layer["pipeline.read_s"] = st.read_s
    files = [os.path.join(st.src, "landing", f) for f in sorted(st.committed)
             if f.startswith("part-")]
    ticks_path = ctx.path("parity", "ticks.parquet")
    os.makedirs(os.path.dirname(ticks_path), exist_ok=True)
    pq.write_table(pa.concat_tables([pq.read_table(f) for f in files]), ticks_path)
    batch_run(ctx, ticks_path, ctx.path("out", "parity-warm"))   # first batch plan here
    m = traced_pass(ctx, "parity", ticks_path, ctx.path("out", "parity"))
    batch_out = read_output(ctx.path("out", "parity"))
    ctx.check("flushed stream vs FXEngine.run",
              oracle.compare(snap, batch_out.assign(n=batch_out["x_count"]),
                             ctx.ocfg(), st.universe[:-1]))
    layer_metrics(ctx, m)
    ctx.layer["sources.scan_s"] = scan_s
    one_core_speedups(ctx, ticks_path, m)
