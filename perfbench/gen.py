"""Seeded FX tick generator for the benchmark.

Every input the benchmark feeds the engine comes from here, and the
engine only ever sees the files this writes. The generator runs as its
own single-threaded process (numpy/Arrow thread pools pinned to one
thread) so it cannot borrow the engine's cores.

Price model: a correlated factor random walk. Each instrument's log
price is ``log(base) + sigma * (beta_k . F(t) + I_k(t))`` where ``F`` is
a few shared factor walks and ``I_k`` an idiosyncratic walk, both on a
one-second grid; so instruments are correlated through their loadings
``beta_k``. Knobs per shape: universe size, tick density, gap share
(the share of (key, candle) cells left without ticks) and out-of-order
share (the share of ticks delivered late, by at most ``ooo_max_s`` of
event time).

Timestamps are written as Parquet ``TIMESTAMP(MICROS, UTC)``: the
streaming file source reads with an explicit ``TimestampType`` schema
and rejects the nanosecond timestamps pandas writes by default.

Usage::

    python3 perfbench/gen.py --workload fx_dense --seed 1 --out DIR
    python3 perfbench/gen.py --workload fx_stream --seed 1 --out DIR \\
        --files 0:4                       # write files 0..3 now
    python3 perfbench/gen.py --workload fx_stream --seed 1 --out DIR \\
        --files 4:40 --start-at EPOCH_S   # open loop, one file per 0.5 s

Batch shapes write ``DIR/ticks.parquet``; the stream shape writes
``DIR/landing/part-NNNNN.parquet`` (atomically, via ``DIR/.staging``)
and appends one JSON line per file to ``DIR/schedule.jsonl`` with its
due and actual write times. Every run also writes ``DIR/shape.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

if __name__ == "__main__":     # one thread, before numpy loads its BLAS
    for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[_var] = "1"

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

T0_US = 1_451_606_400_000_000          # 2016-01-01T00:00:00Z
RESOLUTION_S = 120                     # candle width the engine uses
SENTINEL_KEY = "ZZ-SENTINEL"
STREAM_PERIOD_S = 0.5                  # one stream file due per period

_CCY = ["EUR", "USD", "JPY", "GBP", "CHF", "AUD", "CAD", "NZD"]

ARROW_SCHEMA = pa.schema([
    pa.field("key", pa.string(), nullable=False),
    pa.field("event_time", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("bid", pa.float64(), nullable=False),
    pa.field("ask", pa.float64(), nullable=False),
    pa.field("is_live", pa.bool_(), nullable=False),
])


@dataclass(frozen=True)
class Shape:
    n_keys: int
    n_ticks: int            # ticks drawn before gap cells are removed
    span_s: int             # event-time span of the whole input
    gap_share: float = 0.0
    ooo_share: float = 0.0
    ooo_max_s: float = 0.0
    n_factors: int = 3
    n_files: int = 1        # stream only: event time is cut into this many files


SHAPES = {
    # ~20 FX majors, every (key, candle) cell live: the tick aggregate
    # dominates, correlation sees 190 pairs per slide.
    "fx_dense": Shape(n_keys=20, n_ticks=400_000, span_s=6 * 3_600),
    # the reference's flagship universe (499,500 pairs per slide), about
    # one tick per (key, candle): over half the cells are gap-filled and
    # the O(n^2) pair kernel dominates.
    "fx_wide": Shape(n_keys=1000, n_ticks=15_000, span_s=1_800,
                     gap_share=0.3),
    # open-loop feed: 60 s of event time per file, 4% of ticks land up
    # to 20 s late (within the pipeline's 60 s watermark).
    "fx_stream": Shape(n_keys=50, n_ticks=600_000, span_s=60 * 200,
                       ooo_share=0.04, ooo_max_s=20.0, n_files=200),
}


def key_names(n: int) -> list[str]:
    """FX-pair names for small universes, ``I0000``-style beyond that."""
    pairs = [f"{a}/{b}" for i, a in enumerate(_CCY) for b in _CCY[i + 1:]]
    if n <= len(pairs):
        return sorted(pairs[:n])
    return [f"I{i:04d}" for i in range(n)]


def generate(shape: Shape, seed: int) -> dict[str, np.ndarray]:
    """All ticks of a shape, sorted by arrival (event time plus the
    out-of-order delay). Columns: key index, event time (us), arrival
    time (us), bid, ask."""
    rng = np.random.default_rng(seed)
    n, span = shape.n_keys, shape.span_s
    beta = rng.normal(0.0, 1.0, (n, shape.n_factors))
    factors = np.cumsum(rng.normal(0.0, 1.0, (shape.n_factors, span)), axis=1)
    idio = np.cumsum(rng.normal(0.0, 1.0, (n, span)), axis=1)
    base = np.exp(rng.uniform(-1.0, 4.0, n))
    sigma = 2e-4

    # millisecond timestamps, unique per instrument: the engine keeps
    # millisecond precision, and two quotes of one instrument in the same
    # millisecond have no defined order (batch breaks the tie on price,
    # streaming on arrival), so a feed never carries them
    span_ms = span * 1_000
    kidx = np.repeat(np.arange(n), rng.multinomial(shape.n_ticks,
                                                   np.full(n, 1.0 / n)))
    cell = np.unique(kidx * span_ms + rng.integers(0, span_ms, kidx.size))
    kidx, t_ms = cell // span_ms, cell % span_ms
    if shape.gap_share > 0:
        n_cells = -(-span // RESOLUTION_S)
        dark = rng.random((n, n_cells)) < shape.gap_share
        keep = ~dark[kidx, t_ms // (RESOLUTION_S * 1_000)]
        kidx, t_ms = kidx[keep], t_ms[keep]
    t_us = t_ms * 1_000
    sec = t_ms // 1_000
    logp = np.log(base[kidx]) + sigma * (
        np.einsum("ij,ji->i", beta[kidx], factors[:, sec]) + idio[kidx, sec])
    mid = np.exp(logp)
    half = mid * 1e-4 * (1.0 + rng.random(kidx.size))
    arrive = t_us.copy()
    if shape.ooo_share > 0:
        late = rng.random(kidx.size) < shape.ooo_share
        arrive[late] += rng.integers(
            1, int(shape.ooo_max_s * 1_000_000), int(late.sum()))
    order = np.lexsort((kidx, t_us, arrive))
    return {"key": kidx[order], "event_us": t_us[order] + T0_US,
            "arrive_us": arrive[order] + T0_US,
            "bid": (mid - half)[order], "ask": (mid + half)[order]}


def to_table(ticks: dict[str, np.ndarray], names: list[str],
             sl: slice = slice(None)) -> pa.Table:
    keys = pa.DictionaryArray.from_arrays(
        pa.array(ticks["key"][sl], pa.int32()), pa.array(names))
    return pa.table({
        "key": keys.cast(pa.string()),
        "event_time": pa.array(ticks["event_us"][sl],
                               pa.timestamp("us", tz="UTC")),
        "bid": pa.array(ticks["bid"][sl]),
        "ask": pa.array(ticks["ask"][sl]),
        "is_live": pa.array(np.ones(len(ticks["bid"][sl]), dtype=bool)),
    }, schema=ARROW_SCHEMA)


def file_bounds(ticks: dict[str, np.ndarray], shape: Shape) -> np.ndarray:
    """Row offsets cutting the arrival-ordered ticks into ``n_files``
    equal event-time slices (``n_files + 1`` offsets)."""
    step = shape.span_s * 1_000_000 // shape.n_files
    edges = T0_US + step * np.arange(shape.n_files + 1)
    return np.searchsorted(ticks["arrive_us"], edges, side="left")


def sentinel_table() -> pa.Table:
    """One tick a year after the feed: advances the watermark past every
    real window so the stream finalizes all of them."""
    return pa.table({
        "key": [SENTINEL_KEY],
        "event_time": pa.array([T0_US + 365 * 86_400 * 1_000_000],
                               pa.timestamp("us", tz="UTC")),
        "bid": [1.0], "ask": [1.0], "is_live": [True],
    }, schema=ARROW_SCHEMA)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy",
                   coerce_timestamps="us", allow_truncated_timestamps=False)


def write_batch(shape: Shape, seed: int, out: str) -> dict:
    ticks = generate(shape, seed)
    names = key_names(shape.n_keys)
    _write(to_table(ticks, names), os.path.join(out, "ticks.parquet"))
    return {"ticks": int(ticks["key"].size)}


def write_stream(shape: Shape, seed: int, out: str, first: int, stop: int,
                 start_at: float | None = None) -> dict:
    """Write stream files ``first..stop-1``. With ``start_at`` the files
    land on a wall-clock schedule (file j due at ``start_at + (j - first)
    * STREAM_PERIOD_S``) whatever the reader's progress: an open loop."""
    ticks = generate(shape, seed)
    names = key_names(shape.n_keys)
    bounds = file_bounds(ticks, shape)
    landing = os.path.join(out, "landing")
    staging = os.path.join(out, ".staging")
    os.makedirs(landing, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    n_ticks = 0
    with open(os.path.join(out, "schedule.jsonl"), "a") as log:
        for j in range(first, min(stop, shape.n_files)):
            due = None
            if start_at is not None:
                due = start_at + (j - first) * STREAM_PERIOD_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
            table = to_table(ticks, names, slice(bounds[j], bounds[j + 1]))
            name = f"part-{j:05d}.parquet"
            _write(table, os.path.join(staging, name))
            os.replace(os.path.join(staging, name), os.path.join(landing, name))
            written = time.time()
            n_ticks += table.num_rows
            log.write(json.dumps({"file": name, "index": j, "ticks": table.num_rows,
                                  "due": due, "written": written}) + "\n")
            log.flush()
    return {"ticks": n_ticks}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", default=None,
                    help="stream only: FIRST:STOP range of files to write")
    ap.add_argument("--start-at", type=float, default=None,
                    help="stream only: wall-clock epoch seconds the first file is due")
    ap.add_argument("--sentinel", action="store_true",
                    help="stream only: write the watermark-flush file and exit")
    a = ap.parse_args(argv)
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    shape = SHAPES[a.workload]
    os.makedirs(a.out, exist_ok=True)
    if a.sentinel:
        os.makedirs(os.path.join(a.out, "landing"), exist_ok=True)
        _write(sentinel_table(), os.path.join(a.out, "landing", "zz-sentinel.parquet"))
        return 0
    if shape.n_files > 1:
        first, stop = (int(x) for x in (a.files or f"0:{shape.n_files}").split(":"))
        info = write_stream(shape, a.seed, a.out, first, stop, a.start_at)
    else:
        info = write_batch(shape, a.seed, a.out)
    with open(os.path.join(a.out, "shape.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, **asdict(shape),
                   "keys": key_names(shape.n_keys), **info}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
