"""The correctness oracle: reference goldens, brute-force Pearson, and the
comparison's sensitivity.

Run with ``python -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import oracle  # noqa: E402
from data_timeseries_java_spark.fixtures import demo_tick_rows  # noqa: E402


def test_fixture_goldens():
    assert oracle.self_check(demo_tick_rows()) == []


def test_self_check_catches_a_wrong_fixture():
    rows = demo_tick_rows()
    # TS-1 minute 4: 5.0 -> 4.5 changes the TS-1 candle golden
    bad = [(k, t, 4.5, 4.5, live) if (k == "TS-1" and t.minute == 4) else
           (k, t, b, a, live) for k, t, b, a, live in rows]
    assert oracle.self_check(bad)


def _random_returns(seed, n_keys=6, n_windows=5, hole=0.25):
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(n_keys):
        for c in range(n_windows * 3):
            if rng.random() < hole:
                continue
            v = 0.0 if rng.random() < 0.1 else rng.normal(0, 1e-3)
            rows.append((f"K{k}", c * 120_000 + 119_999, v))
    # one flat series: zero variance everywhere it appears
    rows += [("KF", c * 120_000 + 119_999, 0.0) for c in range(n_windows * 3)]
    return pd.DataFrame(rows, columns=["key", "time", "value"])


def _brute(rets, cfg):
    """Straightforward per-window, per-pair Pearson."""
    out = []
    win, slide = cfg.window_s * 1000, cfg.slide_s * 1000
    starts = sorted({t // slide * slide - b * slide for t in rets["time"]
                     for b in range(win // slide)})
    for ws in starts:
        w = rets[(rets["time"] >= ws) & (rets["time"] < ws + win)]
        series = {k: g.set_index("time")["value"] for k, g in w.groupby("key")}
        for k1, k2 in itertools.combinations(sorted(series), 2):
            both = series[k1].index.intersection(series[k2].index)
            if len(both) < 2:
                continue
            x, y = series[k1][both].to_numpy(), series[k2][both].to_numpy()
            if np.ptp(x) == 0 or np.ptp(y) == 0:
                r, nan = 1.0, True
            else:
                r, nan = float(np.corrcoef(x, y)[0, 1]), False
            if nan and not cfg.propagate_nan:
                continue
            if not nan and abs(r) < cfg.min_corr:
                continue
            out.append((ws, k1, k2, r, len(both), nan))
    return pd.DataFrame(out, columns=["window_start", "key1", "key2", "value",
                                      "n", "is_nan"])


def test_vectorized_pearson_matches_brute_force():
    for seed, cfg in itertools.product(range(4), [
            oracle.Config(min_corr=0.0, propagate_nan=True),
            oracle.Config(min_corr=0.5, propagate_nan=False)]):
        rets = _random_returns(seed)
        got = oracle.correlations(rets, cfg)
        want = _brute(rets, cfg)
        universe = sorted(rets["key"].unique())
        d = oracle.compare(got.assign(x_count=got["n"], y_count=got["n"]),
                           want, cfg, universe)
        assert d.failures == 0 and len(got) == len(want) > 0, d


def test_near_constant_series_keep_full_precision():
    # two points a hair apart: the one-pass sum formula loses ~7 digits
    # here, the centered form keeps r = -1 exact to rounding
    rets = pd.DataFrame({"key": ["A", "A", "B", "B"],
                         "time": [119_999, 239_999] * 2,
                         "value": [-0.00223683, -0.00223665, 0.0, -0.00491024]})
    got = oracle.correlations(rets, oracle.Config(min_corr=0.0))
    assert len(got) == 2                     # both sliding windows hold the pair
    assert (np.abs(got["value"] + 1.0) < 1e-12).all()


def test_compare_counts_each_kind_of_difference():
    cfg = oracle.Config(min_corr=0.0, propagate_nan=True)
    rets = _random_returns(7)
    want = oracle.correlations(rets, cfg)
    universe = sorted(rets["key"].unique())
    good = want.assign(x_count=want["n"], y_count=want["n"])
    assert oracle.compare(good, want, cfg, universe).failures == 0
    bad = good.copy()
    bad.loc[0, "value"] += 1e-6
    bad.loc[1, "x_count"] += 1
    bad = pd.concat([bad.drop(index=2), bad.iloc[[3]]])
    d = oracle.compare(bad, want, cfg, universe)
    assert (d.value_mismatch, d.count_mismatch, d.missing, d.extra) == (1, 1, 1, 1)


def test_threshold_ties_are_not_failures():
    cfg = oracle.Config(min_corr=0.5, propagate_nan=False)
    want = pd.DataFrame({"window_start": [0], "key1": ["A"], "key2": ["B"],
                         "value": [0.8], "n": [3], "is_nan": [False]})
    got = pd.DataFrame({"window_start": [0, 0], "key1": ["A", "A"],
                        "key2": ["B", "C"], "value": [0.8, 0.5 + 1e-13],
                        "x_count": [3, 3], "y_count": [3, 3],
                        "is_nan": [False, False]})
    assert oracle.compare(got, want, cfg, ["A", "B", "C"]).failures == 0
