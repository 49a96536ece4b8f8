"""The tick generator: deterministic per seed, and the declared shape holds.

Run with ``python -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402


def _digests(d):
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))
    return [hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files]


def _write(name, out, seed):
    """A small instance of a workload's shape, written in-process."""
    os.makedirs(out, exist_ok=True)
    if name == "fx_stream":
        gen.write_stream(gen.SHAPES[name], seed, out, 0, 3)
    else:
        shape = replace(gen.SHAPES[name], n_ticks=3_000)
        gen.write_batch(shape, seed, out)
    return out


@pytest.mark.parametrize("name", ["fx_wide", "fx_dense", "fx_stream"])
def test_same_seed_same_files_other_seed_other_files(tmp_path, name):
    a = _write(name, str(tmp_path / "a"), 5)
    b = _write(name, str(tmp_path / "b"), 5)
    c = _write(name, str(tmp_path / "c"), 6)
    assert _digests(a) and _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_parquet_schema_is_microsecond_utc(tmp_path):
    d = _write("fx_wide", str(tmp_path), 1)
    schema = pq.read_schema(os.path.join(d, "ticks.parquet"))
    assert schema.field("event_time").type == pa.timestamp("us", tz="UTC")
    assert schema.names == ["key", "event_time", "bid", "ask", "is_live"]


@pytest.mark.parametrize("name", ["fx_wide", "fx_dense"])
def test_batch_shape(name):
    shape = gen.SHAPES[name]
    t = gen.generate(shape, seed=3)
    n = len(t["key"])
    assert set(np.unique(t["key"])) == set(range(shape.n_keys))
    # drawn ticks minus same-millisecond collisions and dark cells
    kept = n / shape.n_ticks
    assert (1 - shape.gap_share) * 0.9 < kept <= 1.0
    rel_ms = (t["event_us"] - gen.T0_US) // 1000
    assert rel_ms.min() >= 0 and rel_ms.max() < shape.span_s * 1000
    assert np.all(t["event_us"] % 1000 == 0)
    # unique per instrument at the engine's millisecond precision
    cell = t["key"].astype(np.int64) * shape.span_s * 1000 + rel_ms
    assert len(np.unique(cell)) == n
    assert np.all(t["bid"] > 0) and np.all(t["ask"] > t["bid"])
    if shape.gap_share == 0:
        cells = np.unique(t["key"] * 10**6 + rel_ms // (gen.RESOLUTION_S * 1000))
        # every (key, candle) cell is live
        assert len(cells) == shape.n_keys * (shape.span_s // gen.RESOLUTION_S)


def test_instruments_are_correlated_through_factors():
    shape = replace(gen.SHAPES["fx_dense"], n_ticks=40_000)
    t = gen.generate(shape, seed=4)
    bucket = (t["event_us"] - gen.T0_US) // (gen.RESOLUTION_S * 10**6)
    n_b = shape.span_s // gen.RESOLUTION_S
    last = np.full((shape.n_keys, n_b), np.nan)
    order = np.lexsort((t["event_us"], bucket, t["key"]))
    last[t["key"][order], bucket[order]] = np.log(t["ask"][order])
    r = np.diff(last, axis=1)
    r = r[:, ~np.isnan(r).any(axis=0)]
    c = np.corrcoef(r)
    off = np.abs(c[~np.eye(shape.n_keys, dtype=bool)])
    # independent walks would give |r| ~ 1/sqrt(buckets) ~ 0.07
    assert off.mean() > 0.2


def test_stream_shape(tmp_path):
    shape = gen.SHAPES["fx_stream"]
    t = gen.generate(shape, seed=2)
    late = t["arrive_us"] > t["event_us"]
    assert abs(late.mean() - shape.ooo_share) < 0.01
    assert (t["arrive_us"] - t["event_us"]).max() <= shape.ooo_max_s * 1e6
    assert np.all(np.diff(t["arrive_us"]) >= 0)
    d = str(tmp_path / "s")
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--workload",
                    "fx_stream", "--seed", "2", "--out", d, "--files", "0:4"],
                   check=True)
    files = sorted(os.listdir(os.path.join(d, "landing")))
    assert files == [f"part-{j:05d}.parquet" for j in range(4)]
    log = [json.loads(line) for line in open(os.path.join(d, "schedule.jsonl"))]
    assert [r["index"] for r in log] == [0, 1, 2, 3]
    bounds = gen.file_bounds(t, shape)
    for j, f in enumerate(files):
        got = pq.read_table(os.path.join(d, "landing", f))
        assert got.num_rows == bounds[j + 1] - bounds[j] == log[j]["ticks"]
    info = json.load(open(os.path.join(d, "shape.json")))
    assert info["n_keys"] == 50 and len(info["keys"]) == 50


def test_open_loop_schedule_is_kept(tmp_path):
    start = time.time() + 1.0
    gen.write_stream(gen.SHAPES["fx_stream"], 2, str(tmp_path), 0, 3,
                     start_at=start)
    log = [json.loads(line) for line in open(tmp_path / "schedule.jsonl")]
    p = gen.STREAM_PERIOD_S
    assert [r["due"] for r in log] == pytest.approx(
        [start, start + p, start + 2 * p])
    assert all(r["written"] >= r["due"] for r in log)
