"""Independent numpy/pandas implementation of the FX pipeline, used to
check the engine's outputs.

ticks -> gap-filled, carried-forward candles -> log returns -> sliding
window pairwise Pearson, written from the reference's semantics (see
the engine's ``FIXTURES.md``), not from the engine's code:

- a candle window is active when any instrument ticked in it; every
  instrument gets a candle in every active window, a gap candle when it
  did not tick there;
- a live candle's close is its latest tick (ties broken by the higher
  bid, then ask); a gap candle closes at ``window_end - 1 ms`` with the
  key's last live close prices, or 0.0 when the key never ticked before;
- a candle opens at the previous candle's close, the first at its own;
- a return is ``ln(close.ask / open.ask)`` at ``window_end - 1 ms``,
  skipped when either price is not positive;
- for each sliding window and key pair, Pearson r over the times both
  keys have a return; pairs with fewer than two such times are skipped;
  a constant side makes r NaN, emitted as ``value=1.0, is_nan=True``
  when NaNs propagate, dropped otherwise; finite r is emitted when
  ``|r| >= min_corr``.

:func:`self_check` replays the reference's goldens on the 42-tick demo
fixture before any engine output is trusted to this module.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

MS = 1_000


@dataclass(frozen=True)
class Config:
    resolution_s: int = 120
    window_s: int = 600
    slide_s: int = 300
    min_corr: float = 0.5
    propagate_nan: bool = False


def gap_rows(key: np.ndarray, t_ms: np.ndarray,
             resolution_s: int) -> pd.DataFrame:
    """The synthetic ticks gap-filling adds: one per (key, active window)
    without a tick, at ``window_end - 1 ms`` with 0.0 prices."""
    res = resolution_s * MS
    w = t_ms // res * res
    keys, wins = np.unique(key), np.unique(w)
    seen = pd.MultiIndex.from_arrays([key, w]).unique()
    grid = pd.MultiIndex.from_product([keys, wins])
    miss = grid.difference(seen)
    mw = miss.get_level_values(1).to_numpy()
    return pd.DataFrame({"key": miss.get_level_values(0).to_numpy(),
                         "t_ms": mw + res - 1, "bid": 0.0, "ask": 0.0})


def candles(key: np.ndarray, t_ms: np.ndarray, bid: np.ndarray,
            ask: np.ndarray, resolution_s: int) -> pd.DataFrame:
    """Complete candles, one row per (key, active window), sorted by key
    then window. Columns: key, window_start (ms), open_time, open_bid,
    open_ask, close_time, close_bid, close_ask, min_ask, max_ask,
    min_bid, max_bid, is_live."""
    res = resolution_s * MS
    ticks = pd.DataFrame({"key": key, "t_ms": t_ms, "bid": bid, "ask": ask,
                          "is_live": True})
    gaps = gap_rows(key, t_ms, resolution_s).assign(is_live=False)
    ticks = pd.concat([ticks, gaps], ignore_index=True)
    ticks["w"] = ticks["t_ms"] // res * res
    ticks = ticks.sort_values(["key", "w", "t_ms", "bid", "ask"], kind="mergesort")
    c = ticks.groupby(["key", "w"], sort=True).agg(
        close_time=("t_ms", "last"), close_bid=("bid", "last"),
        close_ask=("ask", "last"), min_ask=("ask", "min"),
        max_ask=("ask", "max"), min_bid=("bid", "min"),
        max_bid=("bid", "max"), is_live=("is_live", "first")).reset_index()
    gap = ~c["is_live"].to_numpy()
    # gap candles take the key's last live close prices (carry-forward);
    # before the key's first live tick they keep the gap row's 0.0
    for col in ("close_bid", "close_ask"):
        carried = c[col].where(~gap).groupby(c["key"]).ffill()
        c.loc[gap, col] = carried[gap].fillna(0.0)
    for col, src in (("min_ask", "close_ask"), ("max_ask", "close_ask"),
                     ("min_bid", "close_bid"), ("max_bid", "close_bid")):
        c.loc[gap, col] = c.loc[gap, src]
    prev = c.groupby("key")[["close_time", "close_bid", "close_ask"]].shift(1)
    first = prev["close_time"].isna()
    for o, cl in (("open_time", "close_time"), ("open_bid", "close_bid"),
                  ("open_ask", "close_ask")):
        c[o] = prev[cl].where(~first, c[cl])
    c["open_time"] = c["open_time"].astype(np.int64)
    return c.rename(columns={"w": "window_start"})


def returns(c: pd.DataFrame, resolution_s: int) -> pd.DataFrame:
    ok = (c["open_ask"] > 0) & (c["close_ask"] > 0)
    r = c[ok]
    return pd.DataFrame({
        "key": r["key"].to_numpy(),
        "time": (r["window_start"] + resolution_s * MS - 1).to_numpy(),
        "value": np.log(r["close_ask"].to_numpy() / r["open_ask"].to_numpy()),
    })


def correlations(rets: pd.DataFrame, cfg: Config) -> pd.DataFrame:
    """Pairwise Pearson per sliding window. Columns: window_start (ms),
    key1, key2, value, n, is_nan."""
    win, slide = cfg.window_s * MS, cfg.slide_s * MS
    keys = np.unique(rets["key"].to_numpy())
    kidx = np.searchsorted(keys, rets["key"].to_numpy())
    t = rets["time"].to_numpy()
    v = rets["value"].to_numpy()
    last_start = t // slide * slide
    out = []
    for back in range(win // slide):
        ws = last_start - back * slide
        out.append(pd.DataFrame({"ws": ws, "k": kidx, "t": t, "v": v}))
    rows = pd.concat(out, ignore_index=True)
    frames = []
    for ws, grp in rows.groupby("ws", sort=True):
        frames.append(_window_pairs(int(ws), grp, keys, cfg))
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=["window_start", "key1", "key2",
                                     "value", "n", "is_nan"])
    return pd.concat(frames, ignore_index=True)


def _window_pairs(ws: int, grp: pd.DataFrame, keys: np.ndarray,
                  cfg: Config) -> pd.DataFrame:
    ti, times = pd.factorize(grp["t"], sort=True)
    present = np.unique(grp["k"].to_numpy())
    ki = np.searchsorted(present, grp["k"].to_numpy())
    n_t, n_k = len(times), len(present)
    x = np.zeros((n_t, n_k))
    m = np.zeros((n_t, n_k))
    x[ti, ki] = grp["v"].to_numpy()
    m[ti, ki] = 1.0
    # pairwise complete: over the times both keys have a value, centered
    # on that overlap's own means (two passes, no cancellation)
    n = m.T @ m
    with np.errstate(all="ignore"):
        mean = (x.T @ m) / n           # [i, j]: mean of key i where j present
        cov = np.zeros((n_k, n_k))
        var_i = np.zeros((n_k, n_k))
        var_j = np.zeros((n_k, n_k))
        for p in range(n_t):
            both = np.outer(m[p], m[p])
            dx = x[p][:, None] - mean
            dy = x[p][None, :] - mean.T
            cov += both * dx * dy
            var_i += both * dx * dx
            var_j += both * dy * dy
        r = cov / np.sqrt(var_i * var_j)
    # a side whose overlapping values are all equal has zero variance:
    # decide that exactly (min == max), not from the rounded sums
    big = np.where(m > 0, x, np.inf)
    small = np.where(m > 0, x, -np.inf)
    lo = np.full((n_k, n_k), np.inf)
    hi = np.full((n_k, n_k), -np.inf)
    for p in range(n_t):
        both = np.outer(m[p], m[p]) > 0
        lo = np.where(both, np.minimum(lo, big[p][:, None]), lo)
        hi = np.where(both, np.maximum(hi, small[p][:, None]), hi)
    flat = lo == hi
    is_nan = flat | flat.T
    iu, ju = np.triu_indices(n_k, k=1)
    npts = n[iu, ju]
    val = r[iu, ju]
    nan = is_nan[iu, ju]
    keep = npts >= 2
    if cfg.propagate_nan:
        keep &= nan | (np.abs(val) >= cfg.min_corr)
    else:
        keep &= ~nan & (np.abs(val) >= cfg.min_corr)
    iu, ju, val, nan, npts = iu[keep], ju[keep], val[keep], nan[keep], npts[keep]
    return pd.DataFrame({
        "window_start": ws,
        "key1": keys[present[iu]], "key2": keys[present[ju]],
        "value": np.where(nan, 1.0, val), "n": npts.astype(np.int64),
        "is_nan": nan,
    })


def pipeline(ticks: pd.DataFrame, cfg: Config) -> pd.DataFrame:
    """ticks (key, t_ms, bid, ask) -> correlations."""
    c = candles(ticks["key"].to_numpy(), ticks["t_ms"].to_numpy(),
                ticks["bid"].to_numpy(), ticks["ask"].to_numpy(),
                cfg.resolution_s)
    return correlations(returns(c, cfg.resolution_s), cfg)


@dataclass
class Diff:
    expected: int
    got: int
    missing: int = 0
    extra: int = 0
    value_mismatch: int = 0
    count_mismatch: int = 0

    @property
    def failures(self) -> int:
        return self.missing + self.extra + self.value_mismatch + self.count_mismatch

    def as_dict(self) -> dict:
        return {**self.__dict__, "failures": self.failures}


def _row_ids(df: pd.DataFrame, universe: list[str], slide_ms: int) -> np.ndarray:
    """One int64 per (window_start, key1, key2) row."""
    k = len(universe) + 1
    k1 = pd.Categorical(df["key1"], categories=universe).codes.astype(np.int64)
    k2 = pd.Categorical(df["key2"], categories=universe).codes.astype(np.int64)
    w = df["window_start"].to_numpy().astype(np.int64) // slide_ms
    return (w * k + k1 + 1) * k + k2 + 1


def compare(got: pd.DataFrame, want: pd.DataFrame, cfg: Config,
            universe: list[str], tol: float = 1e-9) -> Diff:
    """Row-set and value comparison of engine output (window_start ms,
    key1, key2, value, x_count, y_count, is_nan) against the oracle's.
    A pair whose |r| sits within ``tol`` of ``min_corr`` may fall on
    either side of the threshold and is not counted as missing or extra."""
    slide = cfg.slide_s * MS
    gid, wid = _row_ids(got, universe, slide), _row_ids(want, universe, slide)
    d = Diff(expected=len(wid), got=len(gid))
    uniq, first = np.unique(gid, return_index=True)
    d.extra += len(gid) - len(uniq)
    _, gi, wi = np.intersect1d(uniq, wid, assume_unique=True, return_indices=True)
    gi = first[gi]

    def edge(df: pd.DataFrame, rows: np.ndarray) -> np.ndarray:
        v = df["value"].to_numpy()[rows]
        nan = df["is_nan"].to_numpy()[rows].astype(bool)
        return ~nan & (np.abs(np.abs(v) - cfg.min_corr) <= tol)

    only_w = np.setdiff1d(np.arange(len(wid)), wi, assume_unique=True)
    only_g = np.setdiff1d(first, gi, assume_unique=True)
    d.missing = int((~edge(want, only_w)).sum())
    d.extra += int((~edge(got, only_g)).sum())
    gv, wv = got["value"].to_numpy()[gi], want["value"].to_numpy()[wi]
    gn = got["is_nan"].to_numpy()[gi].astype(bool)
    wn = want["is_nan"].to_numpy()[wi].astype(bool)
    d.value_mismatch = int(((gn != wn) | (np.abs(gv - wv) > tol)).sum())
    n = want["n"].to_numpy()[wi]
    d.count_mismatch = int(((got["x_count"].to_numpy()[gi] != n)
                            | (got["y_count"].to_numpy()[gi] != n)).sum())
    return d


# Reference goldens (FXTimeSeriesPipelineSRGTests.java, FIXTURES.md §3-4)
GAP_GOLDEN = [("TS-3", 1451577839999, 0.0, 0.0), ("TS-4", 1451577839999, 0.0, 0.0)]
TS1_GOLDEN = [
    (1451577719999, 1451577660000, 1451577660000, 1.0, 2.0, 1.0, 2.0),
    (1451577839999, 1451577660000, 1451577780000, 3.0, 4.0, 3.0, 4.0),
    (1451577959999, 1451577780000, 1451577900000, 5.0, 5.0, 5.0, 5.0),
    (1451578079999, 1451577900000, 1451578020000, 3.0, 4.0, 3.0, 4.0),
    (1451578199999, 1451578020000, 1451578140000, 1.0, 2.0, 1.0, 2.0),
]


def demo_frame(rows) -> pd.DataFrame:
    """(key, datetime, bid, ask, is_live) rows -> oracle tick frame."""
    return pd.DataFrame({
        "key": [r[0] for r in rows],
        "t_ms": [int(round(r[1].timestamp() * 1000)) for r in rows],
        "bid": [r[2] for r in rows], "ask": [r[3] for r in rows],
    })


def self_check(rows) -> list[str]:
    """Replay the reference goldens on the demo fixture rows
    (``fixtures.demo_tick_rows()``); returns the failed checks."""
    fails = []
    t = demo_frame(rows)
    if len(t) != 42:
        fails.append(f"demo ticks: {len(t)} rows, want 42")
    c = candles(t["key"].to_numpy(), t["t_ms"].to_numpy(), t["bid"].to_numpy(),
                t["ask"].to_numpy(), 120)
    g = gap_rows(t["key"].to_numpy(), t["t_ms"].to_numpy(), 120)
    got_gaps = [(r.key, int(r.t_ms), r.bid, r.ask) for r in g.itertuples()]
    if got_gaps != GAP_GOLDEN:
        fails.append(f"gap-fill golden: {got_gaps}")
    if len(c) != 25:
        fails.append(f"candles: {len(c)} rows, want 25 (5 keys x 5 windows)")
    ts1 = c[c["key"] == "TS-1"]
    got = [(int(r.window_start) + 120_000 - 1, int(r.open_time), int(r.close_time),
            r.min_ask, r.max_ask, r.min_bid, r.max_bid) for r in ts1.itertuples()]
    if got != TS1_GOLDEN:
        fails.append(f"TS-1 candle golden: {got}")
    g3 = c[(c["key"] == "TS-3") & ~c["is_live"]]
    if not (len(g3) == 1 and g3["close_ask"].iloc[0] == 9.0
            and g3["open_ask"].iloc[0] == 9.0):
        fails.append("TS-3 gap candle does not carry the last live close 9.0")
    corr = correlations(returns(c, 120), Config(min_corr=0.0, propagate_nan=True))
    per_window = corr.groupby("window_start").size()
    if (per_window == 10).sum() < 2:
        fails.append(f"pairs per window: {per_window.to_dict()}")
    p12 = corr[(corr["key1"] == "TS-1") & (corr["key2"] == "TS-2") & ~corr["is_nan"]]
    if len(p12) == 0 or (np.abs(p12["value"] - 1.0) > 1e-9).any():
        fails.append("TS-1/TS-2 are identical series but r != 1")
    fin = corr[~corr["is_nan"]]
    if ((fin["value"] > 1 + 1e-9) | (fin["value"] < -1 - 1e-9)).any():
        fails.append("r outside [-1, 1]")
    return fails
