"""Sliding-window pairwise Pearson correlation — W2 + J6 + C1/C2
(SURVEY.md §2.2/§2.5/§2.6).

Reference: ``application/computation/ComputeCorrelationsDoFn.java:104-208``
(and its side-input twin ``PartitionedComputeCorrelationsDoFn``): per
sliding window, for every unordered instrument pair, Pearson r over the
two time-sorted return series via commons-math3, with a min-|r| emission
threshold, a NaN-propagation policy (NaN → value=1.0 + is_nan flag,
``:188-193``), and optional carrying of the underlying arrays.

Spark-first design: the reference's hand-rolled pair partitioning
(``WorkPacketUtils.getMyPartitions``, 20-way fan-out, singleton side input
— J4/J5/J7) is replaced by ONE declarative plan:

    returns → sliding window assignment → self-join on
    (window, time) with ``a.key < b.key`` → groupBy(window, key1, key2)
    → F.corr

``a.key < b.key`` eliminates self-pairs and duplicate unordered pairs
declaratively (the reference's string-interning ``==`` bug, §2.9.3, and
its "key1 :: key2" canonicalization both disappear). The join hashes on
(window, time): within one window slide each time bucket has n rows per
side, so the shuffle key spreads the O(n²) pair space across the cluster
exactly like the reference's hash(pairKey) % partitions — but chosen by
Catalyst/AQE, with skew-join splitting for hot windows.

Positional-pairing parity: the reference pairs the two series by sort
order, not by timestamp; after gap-fill both series tick in every window,
so join-on-time is the same pairing (and is well-defined when it isn't).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_timeseries_java_spark.functions.stats import safe_corr
from data_timeseries_java_spark.plans.materialize import materialize


@dataclass
class CorrelationConfig:
    """Mirrors ``CorrolationParDoConfig`` (ComputeCorrelationsDoFn.java:49-92).

    Defaults match the reference's (min 0.5, no NaN propagation,
    no underlying); the demo pipeline overrides to (0.0, True, True).
    """
    window: str = "600 seconds"
    slide: str = "300 seconds"
    min_corr: float = 0.5
    propagate_nan: bool = False
    include_underlying: bool = False


def _windowed(returns: DataFrame, config: CorrelationConfig) -> DataFrame:
    return returns.select(
        F.window("time", config.window, config.slide).alias("w"),
        "key", "time", "value",
    )


def _pair_join(w: DataFrame) -> DataFrame:
    """Self-join of windowed returns on (window, time): one row per
    unordered key pair (``a.key < b.key``) and aligned time, sides
    addressable as ``a.*`` / ``b.*``."""
    a, b = w.alias("a"), w.alias("b")
    return a.join(
        b,
        (F.col("a.w") == F.col("b.w"))
        & (F.col("a.time") == F.col("b.time"))
        & (F.col("a.key") < F.col("b.key")),
    )


def pairwise_correlations(returns: DataFrame,
                          config: CorrelationConfig | None = None,
                          cache_input: bool = True) -> DataFrame:
    """All-pairs Pearson correlation per sliding window via built-in
    ``F.corr`` (JVM-side, whole-stage codegen — the fast path).

    Output: (window_start, window_end, key1, key2, value, x_count,
    y_count, is_nan [, x_values, y_values]). Pairs with fewer than two
    aligned points are skipped (reference guard at
    ``ComputeCorrelationsDoFn.java:128``; we check the pair, not just one
    side — §2.9.4). NaN r (zero variance) becomes value=1.0 + is_nan=true
    when ``propagate_nan`` else is dropped; finite r is emitted only when
    ``abs(r) >= min_corr``.

    ``cache_input``: the self-join consumes the windowed returns twice,
    and when ``returns`` is itself a full candle pipeline each side
    re-runs it (measured 1.0s → 0.58s at sf0.1 with caching). Returns
    are candle-sized (keys x windows — tiny next to the tick scan), so
    materializing once is also the 100 TB shape: the reference computes
    candles once and correlates FROM them. Long-running incremental
    callers (foreachBatch) pass False — a fresh cache entry per
    micro-batch would accumulate.
    """
    cfg = config or CorrelationConfig()
    w = materialize(_windowed(returns, cfg), cache_input)
    joined = _pair_join(w)
    aggs = [
        safe_corr(F.col("a.value"), F.col("b.value")).alias("r"),
        F.count(F.lit(1)).cast("int").alias("n"),
    ]
    if cfg.include_underlying:
        aggs += [
            F.array_sort(F.collect_list(F.struct(
                F.col("a.time").alias("time"), F.col("a.value").alias("value")
            ))).alias("x_values"),
            F.array_sort(F.collect_list(F.struct(
                F.col("b.time").alias("time"), F.col("b.value").alias("value")
            ))).alias("y_values"),
        ]
    g = joined.groupBy(
        F.col("a.w").alias("w"),
        F.col("a.key").alias("key1"),
        F.col("b.key").alias("key2"),
    ).agg(*aggs)

    g = g.where(F.col("n") >= 2)
    is_nan = F.isnan(F.col("r")) | F.col("r").isNull()
    if cfg.propagate_nan:
        keep = (~is_nan & (F.abs(F.col("r")) >= F.lit(cfg.min_corr))) | is_nan
        value = F.when(is_nan, F.lit(1.0)).otherwise(F.col("r"))
    else:
        keep = ~is_nan & (F.abs(F.col("r")) >= F.lit(cfg.min_corr))
        value = F.col("r")

    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "key1", "key2",
        value.alias("value"),
        F.col("n").alias("x_count"),
        F.col("n").alias("y_count"),
        is_nan.alias("is_nan"),
    ]
    if cfg.include_underlying:
        cols += ["x_values", "y_values"]
    return g.where(keep).select(*cols)


def pairwise_correlations_matrix(returns: DataFrame,
                                 config: CorrelationConfig | None = None,
                                 per_window_top: int | None = None) -> DataFrame:
    """Large-universe path: per sliding window, ONE Arrow batch per
    window → numpy ``corrcoef`` over the full (points x instruments)
    matrix → emit the upper triangle.

    Why it exists: the join path materializes O(n²) aggregation groups
    and shuffles every pair's points; at the reference's n=1000 headline
    (499,500 pairs per slide, README.MD:41) that overhead passes the
    math itself. This path shuffles only O(n x points) rows per window
    and hands one (points x n) matrix to BLAS.

    Where the crossover actually sits depends on the WINDOW COUNT, not
    just n — the kernel's parallelism unit is one window, so a scan
    with few slides starves it (measured, local[32], 12 points/window,
    2 slides: n=300 join 3.7s / matrix 4.3s; n=1000 join 4.7s / matrix
    3.9s) while a 23-slide scan at the same points/window flips it
    (n=200 join 0.68s / matrix 0.57s; n=1000 join 4.5s / matrix 3.9s —
    scripts/bench_wide_universe.py, SCALE.md "Kernel selection"). The
    dispatcher keeps the conservative 2-slide pin unless the caller
    passes the ``n_windows`` hint: with >=CORR_MANY_WINDOWS slides it
    routes matrix from n=200 (the measured winning shape); without the
    hint, routing small universes to the join bounds the worst case at
    ~20%, whereas routing a small-window scan to the matrix kernel can
    cost 2x.

    Pairs with fewer than 2 aligned points are skipped, matching the
    join path; series are aligned positionally after time-sort (the
    reference's own pairing, ComputationUtils.java:40-61). NaN/threshold
    policy identical to :func:`pairwise_correlations`.

    ``per_window_top``: emit only the N strongest pairs per window, with
    a ``rank`` column (1-based; ordered by round(r, 6) DESC with
    (key1, key2) tie-breaks — rounding first keeps the ranking
    deterministic across engines). This is the 100 TB shape for a
    correlation screen: the kernel already holds the whole window's pair
    matrix, so ranking inside it ships N rows per window instead of
    feeding O(n²) pairs into a global sort (measured at n=512/sf0.01:
    8.5 s → ~3 s for the fx_corr_wide query). Equality with the join
    kernel + :func:`rank_top_pairs` is pinned in tests.
    """
    import pandas as pd  # noqa: F401

    cfg = config or CorrelationConfig()
    w = _windowed(returns, cfg).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "key", "time", "value",
    )
    min_corr, propagate = cfg.min_corr, cfg.propagate_nan

    def compute(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        out_cols = ["window_start", "window_end", "key1", "key2",
                    "value", "x_count", "y_count", "is_nan"]
        if per_window_top is not None:
            out_cols = out_cols + ["rank"]
        # points x instruments matrix, positionally aligned by time.
        # factorize + direct index assignment, NOT pivot_table — the
        # pandas pivot machinery cost more than the correlation at
        # n=512 (measured 7.6ms vs 1.7ms per window)
        ti, _tu = pd.factorize(pdf["time"], sort=True)
        ki, ku = pd.factorize(pdf["key"], sort=True)
        m = np.full((len(_tu), len(ku)), np.nan)
        # duplicate (key, time) observations: keep the FIRST, matching
        # the join path (and the pre-rewrite pivot aggfunc="first") —
        # bare fancy-index assignment would silently let the LAST win
        flat = ti.astype(np.int64) * len(ku) + ki
        uniq, first = np.unique(flat, return_index=True)
        m.ravel()[uniq] = pdf["value"].to_numpy()[first]
        # drop instruments with <2 observations; require full alignment
        col_counts = np.count_nonzero(~np.isnan(m), axis=0)
        keep_cols = col_counts >= 2
        m = m[:, keep_cols]
        keys = np.asarray(ku)[keep_cols]
        if len(keys) < 2:
            return pd.DataFrame(columns=out_cols)
        n_pts = m.shape[0]
        if not np.isnan(m).any():
            # complete matrix (the post-gap-fill norm): straight BLAS
            # corrcoef, full overlap counts — no mask Gram matrix needed
            overlap = np.full((len(keys), len(keys)), n_pts,
                              dtype=np.int64)
            with np.errstate(all="ignore"):
                r = np.corrcoef(m.T)
        else:
            # pairwise aligned-overlap counts via the notna-mask Gram
            # matrix: min(per-column counts) would overstate the sample
            # size on non-gap-filled input, and a pair with <2
            # overlapping points (but >=2 each) must be DROPPED like
            # the join path drops it, not emitted as a NaN row
            mat = pd.DataFrame(m, columns=keys)
            mask = (~np.isnan(m)).astype(np.int64)
            overlap = mask.T @ mask
            with np.errstate(all="ignore"):
                r = mat.corr(method="pearson", min_periods=2).to_numpy()
        head = pdf.iloc[0]
        # vectorized upper-triangle extraction — a Python pair loop at
        # n=1000 (499,500 pairs) costs more than the correlation itself
        iu, ju = np.triu_indices(len(keys), k=1)
        v = r[iu, ju]
        isnan = np.isnan(v)
        npts = overlap[iu, ju]
        keep = (npts >= 2) & np.where(isnan, propagate, np.abs(v) >= min_corr)
        iu, ju, v, isnan, npts = iu[keep], ju[keep], v[keep], isnan[keep], npts[keep]
        val = np.where(isnan, 1.0, v)
        rank = None
        if per_window_top is not None:
            # top-N entirely on numpy arrays BEFORE any pandas frame or
            # key-string materialization exists (at n=512 the discarded
            # 130k-row frame per window cost more than the screen): a
            # partition pass finds the N-th largest rounded r, then only
            # the >= threshold survivors (N + boundary ties) get key
            # strings and the exact lexicographic ordering. At n=1000
            # (499,500 pairs/window) the pandas sort_values this
            # replaces cost more than the correlation matrix itself
            # (measured 4.8s → 3.3s, scripts/bench_wide_universe.py).
            vr = np.round(val, 6)
            k = min(per_window_top, len(vr))
            if k < len(vr):
                thresh = np.partition(vr, len(vr) - k)[len(vr) - k]
                sel = vr >= thresh
                iu, ju, val, isnan, npts, vr = (
                    iu[sel], ju[sel], val[sel], isnan[sel], npts[sel],
                    vr[sel])
            k1s = keys[iu].astype(str)
            k2s = keys[ju].astype(str)
            order = np.lexsort((k2s, k1s, -vr))[:k]
            iu, ju, val, isnan, npts = (iu[order], ju[order], val[order],
                                        isnan[order], npts[order])
            rank = np.arange(1, len(iu) + 1, dtype=np.int64)
        out = pd.DataFrame({
            "window_start": head["window_start"],
            "window_end": head["window_end"],
            "key1": keys[iu], "key2": keys[ju],
            "value": val,
            "x_count": npts.astype("int32"), "y_count": npts.astype("int32"),
            "is_nan": isnan,
        }, columns=[c for c in out_cols if c != "rank"])
        if rank is not None:
            out["rank"] = rank
        return out

    schema = ("window_start timestamp, window_end timestamp, "
              "key1 string, key2 string, value double, "
              "x_count int, y_count int, is_nan boolean")
    if per_window_top is not None:
        schema += ", rank long"
    return w.groupBy("window_start", "window_end").applyInPandas(compute, schema)


def rank_top_pairs(corr: DataFrame, top_n: int) -> DataFrame:
    """Per-window top-N correlation screen over a pair-correlation frame
    (the join-kernel counterpart of the matrix kernel's in-kernel
    ``per_window_top``): rank on round(value, 6) DESC with (key1, key2)
    tie-breaks — identical ordering semantics, so both kernels emit the
    same rows (pinned in tests)."""
    from pyspark.sql import Window

    w = (Window.partitionBy("window_start", "window_end")
         .orderBy(F.desc(F.round("value", 6)), F.asc("key1"), F.asc("key2")))
    return (corr.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_n))


def pairwise_regression(returns: DataFrame,
                        config: CorrelationConfig | None = None,
                        min_points: int = 2,
                        cache_input: bool = True) -> DataFrame:
    """Per sliding window, OLS regression of key2's returns on key1's —
    the pairs-trading hedge ratio (beta) + intercept (alpha). Same
    one-shuffle (window, time) equi-join layout as
    :func:`pairwise_correlations`; the regression aggregates are JVM
    built-ins (``regr_slope``/``regr_intercept`` — decomposable sums, so
    map-side partial aggregation applies). Zero-variance x (slope
    undefined) produces NULL and the pair is dropped, mirroring SQL
    regr_* semantics on both engines.

    Output: (window_start, window_end, key1, key2, beta, alpha, n_points).
    """
    cfg = config or CorrelationConfig()
    w = materialize(_windowed(returns, cfg), cache_input)
    joined = _pair_join(w)
    g = joined.groupBy(
        F.col("a.w").alias("w"),
        F.col("a.key").alias("key1"),
        F.col("b.key").alias("key2"),
    ).agg(
        F.regr_slope(F.col("b.value"), F.col("a.value")).alias("beta"),
        F.regr_intercept(F.col("b.value"), F.col("a.value")).alias("alpha"),
        F.count(F.lit(1)).cast("int").alias("n_points"),
    )
    return (g.where((F.col("n_points") >= min_points)
                    & F.col("beta").isNotNull() & ~F.isnan("beta"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "key1", "key2", "beta", "alpha", "n_points"))


# Measured kernel crossover on local[32], 12 points/window (see the
# matrix-path docstring): n=300 -> join 3.7s / matrix 4.3s; n=1000 ->
# join 4.7s / matrix 3.9s. Below this the per-pair F.corr join wins;
# above it the per-window BLAS matrix wins, widening with n and points.
CORR_MATRIX_CROSSOVER = 400

# Window COUNT moves the crossover, because one window is the matrix
# kernel's parallelism unit: with >=16 slides in flight the kernel
# saturates the executors and already wins at n=200 (measured,
# scripts/bench_wide_universe.py, 23 slides: join 0.57s / matrix 0.44s
# full pairs, 0.71s / 0.38s screened — SCALE.md "Wide-universe axis").
# With few slides it is parallelism-starved and the 2-slide pin above
# applies. 16 is half the local[32] task slots — the smallest window
# count where the measured 23-slide behavior is safely extrapolable.
CORR_MATRIX_CROSSOVER_MANY_WINDOWS = 200
CORR_MANY_WINDOWS = 16


def pairwise_correlations_auto(returns: DataFrame,
                               config: CorrelationConfig | None = None,
                               *, n_keys: int | None = None,
                               key_dim: DataFrame | None = None,
                               crossover: int = CORR_MATRIX_CROSSOVER,
                               n_windows: int | None = None,
                               cache_input: bool = True,
                               per_window_top: int | None = None) -> DataFrame:
    """Kernel dispatcher: route to the F.corr join plan (small universe)
    or the per-window BLAS matrix kernel (large universe) so callers
    scaling 100x don't need to know the crossover.

    The decision input is the INSTRUMENT UNIVERSE size, supplied one of
    two ways — never by an eager job over the big tick/return stream:

    - ``n_keys``: a caller hint (the reference pipeline knows its
      universe: CorrolationParDoConfig's instrument list).
    - ``key_dim``: the tiny key-dimension frame the candle pipeline
      already builds for gap-fill; probing it is one distinct-count over
      instruments (rows = universe size, not data size).

    ``n_windows`` (optional hint, computable from the caller's scan
    span / slide — e.g. a daily scan at a 5-min slide is 287 windows):
    when the scan carries at least ``CORR_MANY_WINDOWS`` slides, the
    matrix kernel has enough per-window parallelism units to win from
    ``CORR_MATRIX_CROSSOVER_MANY_WINDOWS`` keys, so routing engages it
    below the conservative 2-slide crossover. Without the hint the
    n-only rule keeps the conservative pin (mis-routing small-n to the
    join costs ~20%; mis-routing a few-window scan to matrix costs ~2x).

    Both kernels emit identical rows (equality-tested in the suite), so
    the routing is a pure physical-plan choice.
    """
    if (n_keys is None) == (key_dim is None):
        raise ValueError(
            "pass exactly one of n_keys= (universe-size hint) or "
            "key_dim= (tiny instrument dimension to probe)")
    if n_keys is None:
        n_keys = key_dim.select(key_dim.columns[0]).distinct().count()
    if (n_windows is not None and n_windows >= CORR_MANY_WINDOWS
            and n_keys >= CORR_MATRIX_CROSSOVER_MANY_WINDOWS):
        return pairwise_correlations_matrix(returns, config,
                                            per_window_top=per_window_top)
    if n_keys <= crossover:
        out = pairwise_correlations(returns, config,
                                    cache_input=cache_input)
        if per_window_top is not None:
            out = rank_top_pairs(out, per_window_top)
        return out
    return pairwise_correlations_matrix(returns, config,
                                        per_window_top=per_window_top)


def pairwise_correlations_exact(returns: DataFrame,
                                config: CorrelationConfig | None = None) -> DataFrame:
    """Exact-parity variant: numpy ``corrcoef`` over per-pair arrays via a
    grouped-map Pandas UDF — bit-for-bit the reference's commons-math3
    positional-pairing semantics. Used in parity tests; the F.corr path is
    the production plan (same math, different summation order).
    """
    import pandas as pd  # noqa: F401 — imported for executors

    cfg = config or CorrelationConfig()
    w = _windowed(returns, cfg)
    joined = _pair_join(w).select(
        F.col("a.w.start").alias("window_start"),
        F.col("a.w.end").alias("window_end"),
        F.col("a.key").alias("key1"),
        F.col("b.key").alias("key2"),
        F.col("a.time").alias("time"),
        F.col("a.value").alias("x"),
        F.col("b.value").alias("y"),
    )

    min_corr, propagate = cfg.min_corr, cfg.propagate_nan

    def compute(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("time")
        n = len(pdf)
        out_schema = ["window_start", "window_end", "key1", "key2",
                      "value", "x_count", "y_count", "is_nan"]
        if n < 2:
            return pd.DataFrame(columns=out_schema)
        with np.errstate(all="ignore"):
            r = float(np.corrcoef(pdf["x"].to_numpy(), pdf["y"].to_numpy())[0, 1])
        is_nan = bool(np.isnan(r))
        if is_nan and not propagate:
            return pd.DataFrame(columns=out_schema)
        if not is_nan and abs(r) < min_corr:
            return pd.DataFrame(columns=out_schema)
        head = pdf.iloc[0]
        return pd.DataFrame([{
            "window_start": head["window_start"],
            "window_end": head["window_end"],
            "key1": head["key1"],
            "key2": head["key2"],
            "value": 1.0 if is_nan else r,
            "x_count": n,
            "y_count": n,
            "is_nan": is_nan,
        }])

    out_schema = ("window_start timestamp, window_end timestamp, "
                  "key1 string, key2 string, value double, "
                  "x_count int, y_count int, is_nan boolean")
    return joined.groupBy("window_start", "window_end", "key1", "key2") \
                 .applyInPandas(compute, out_schema)


def lead_lag_correlation(returns: DataFrame, max_lag: int = 2,
                         res_ms: int = 3_600_000,
                         min_points: int = 2,
                         cache_input: bool = True) -> DataFrame:
    """Lead-lag cross-correlation: corr(ret_a(t), ret_b(t + k·res)) for
    every instrument pair (a < b) and every lag k in [-max_lag, max_lag]
    — the classic screen for one series leading another. Lag 0
    reproduces the plain pairwise correlation; keeping a < b with
    symmetric k covers both directions (corr at (a,b,k) equals (b,a,-k)).

    Shape: the lag set is a tiny broadcast literal exploded onto the
    returns frame (|lags| row multiplier, not a self-join blow-up); the
    pair space materializes only inside the (time, key-order) equi-join
    — same one-shuffle layout as pairwise_correlations, with corr
    aggregated JVM-side (F.corr), never via collected series.

    ``cache_input``: both join sides consume the (usually expensive)
    returns subtree; Catalyst does not reuse the exchange when column
    pruning differs between the sides, so without materialization the
    whole upstream pipeline runs twice (same trade-off as
    pairwise_correlations)."""
    returns = materialize(returns, cache_input)
    lags = F.explode(F.array(*[F.lit(k) for k in
                               range(-max_lag, max_lag + 1)])).alias("lag")
    t_ms = F.unix_millis("time")
    a = returns.select(F.col("key").alias("key_a"), t_ms.alias("t_a"),
                       F.col("value").alias("ret_a"))
    b = (returns.select(F.col("key").alias("key_b"), t_ms.alias("t_b"),
                        F.col("value").alias("ret_b"), lags)
         .withColumn("t_join", F.col("t_b") - F.col("lag") * F.lit(res_ms)))
    joined = a.join(b, (F.col("t_a") == F.col("t_join"))
                    & (F.col("key_a") < F.col("key_b")))
    out = joined.groupBy("key_a", "key_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(safe_corr("ret_a", "ret_b"), 6).alias("ccf"))
    return out.where(F.col("n") >= min_points)


def engle_granger(candles: DataFrame, price: F.Column | None = None,
                  cache_input: bool = True) -> DataFrame:
    """Engle-Granger two-step cointegration screen over each ordered key
    pair's complete-candle close series (Engle & Granger 1987; the
    zero-lag Dickey-Fuller regression on the cointegrating residual).

    Step 1 — static OLS hedge ratio: y_t = α + β·x_t over the
    window-aligned closes (y = the lexically larger key's series),
    closed form from ROUNDED decomposable sums (the value_trend_ols
    convention — both engines do bit-identical arithmetic downstream
    of the reduction; raw ``regr_slope`` sums in engine-specific order
    and risks 6-decimal boundary flakes).
    Step 2 — residual unit-root screen: e_t = y_t − α − β·x_t,
    Δe_t = ρ·e_{t−1}; ρ̂, its standard error, and the DF t-statistic
    come in closed form from three pair-level ROUNDED sums (Σe₋Δe,
    Σe₋², ΣΔe²), so the whole step is one lag + one aggregate.

    Shape: self-join on window_start (the J6 pair pattern — hashes
    across the cluster by window), one pair-level OLS aggregate, a
    broadcast join of the tiny (n_pairs) OLS frame back onto the pair
    series, then a key-pair-partitioned lag + final aggregate. Series
    are candle-sized; nothing touches the tick scan twice thanks to
    ``materialize``.

    A more negative adf_t ⇒ faster mean reversion of the spread ⇒
    stronger cointegration evidence (critical values are the DF ones,
    left to the caller — this operator reports the statistic).
    """
    price = price if price is not None else F.col("close.ask")
    closes = materialize(
        candles.select("key", "window_start", price.alias("px")),
        cache_input)
    a = closes.select(F.col("key").alias("key1"), "window_start",
                      F.col("px").alias("x"))
    b = closes.select(F.col("key").alias("key2"),
                      F.col("window_start").alias("ws2"),
                      F.col("px").alias("y"))
    paired = a.join(b, (F.col("window_start") == F.col("ws2"))
                    & (F.col("key1") < F.col("key2"))).drop("ws2")
    osums = paired.groupBy("key1", "key2").agg(
        F.count(F.lit(1)).cast("double").alias("nobs"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"))
    beta = F.round(
        (F.col("nobs") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("nobs") * F.col("sxx") - F.col("sx") * F.col("sx")), 9)
    ols = osums.withColumn("beta", beta).select(
        "key1", "key2", "beta",
        F.round((F.col("sy") - F.col("beta") * F.col("sx"))
                / F.col("nobs"), 9).alias("alpha"),
        F.col("nobs").cast("long").alias("n"))
    from pyspark.sql import Window

    resid = paired.join(F.broadcast(ols), ["key1", "key2"])
    e = F.col("y") - F.col("alpha") - F.col("beta") * F.col("x")
    wk = Window.partitionBy("key1", "key2").orderBy("window_start")
    r = resid.select("key1", "key2", "window_start", "beta", "alpha", "n",
                     e.alias("e"))
    r = r.withColumn("e_prev", F.lag("e").over(wk))
    de = F.col("e") - F.col("e_prev")
    sums = (r.where(F.col("e_prev").isNotNull())
            .groupBy("key1", "key2", "beta", "alpha", "n")
            .agg(F.round(F.sum(F.col("e_prev") * de), 6).alias("s1"),
                 F.round(F.sum(F.col("e_prev") * F.col("e_prev")), 6)
                 .alias("s2"),
                 F.round(F.sum(de * de), 6).alias("s3"),
                 F.count(F.lit(1)).cast("long").alias("n_d")))
    # degenerate-pair guards: a constant residual gives s2 = 0 (rho
    # would divide by zero) and 6-decimal rounded sums can make the
    # assembled ssr slightly negative for near-perfectly cointegrated
    # pairs (sqrt → NaN).  Clamp ssr at 0 and gate both stats on
    # s2 > 0 (and adf_t on a strictly positive clamped ssr) so
    # degenerate pairs yield NULL deterministically, never NaN.
    ok = F.col("s2") > 0
    rho = F.when(ok, F.col("s1") / F.col("s2"))
    ssr = F.greatest(
        F.col("s3") - 2.0 * rho * F.col("s1") + rho * rho * F.col("s2"),
        F.lit(0.0))
    se = F.sqrt(ssr / (F.col("n_d") - 1) / F.col("s2"))
    return sums.select(
        "key1", "key2", "n",
        F.col("beta"), F.col("alpha"),
        rho.alias("rho"),
        F.when(ok & (ssr > 0) & (F.col("n_d") > 1), rho / se)
        .alias("adf_t"),
    )


def ewma_pair_covariance(returns: DataFrame, alpha: float = 0.0625,
                         cache_input: bool = True) -> DataFrame:
    """RiskMetrics-style EWMA covariance / correlation per ordered key
    pair over time-aligned return series:

        cov_t  = (1−α)·cov_{t−1} + α·(ra_t · rb_t)
        var_t  = (1−α)·var_{t−1} + α·r_t²      (per key)
        corr_t = cov_t / sqrt(var_a,t · var_b,t)

    (λ = 1−α; the default α = 1/16 = 0.0625 ⇒ λ = 0.9375, the closest
    exactly-representable double to RiskMetrics' λ = 0.94 — chosen so
    pandas' ewm recursion and the oracle's recursive CTE are
    bit-identical; see operators.ema.)

    Initialization follows ema(): cov_0 = ra_0·rb_0, var_0 = r_0²
    (adjust=False with the first observation as seed).

    Shape: pair self-join on time (J6 pattern), one grouped-map ema over
    the pair-product series, one over the per-key squared series, then
    two candle-sized joins to assemble the correlation. The tick scan
    runs once (materialize)."""
    from data_timeseries_java_spark.operators.ema import ema

    returns = materialize(returns, cache_input)
    a = returns.select(F.col("key").alias("key1"), "time",
                       F.col("value").alias("ra"))
    b = returns.select(F.col("key").alias("key2"),
                       F.col("time").alias("t2"),
                       F.col("value").alias("rb"))
    # the pair key is a STRUCT, not a concat_ws round-trip: a "|" inside
    # an instrument key would silently mis-split back into wrong
    # key1/key2 — the struct survives the grouped-map pass losslessly
    paired = (a.join(b, (F.col("time") == F.col("t2"))
                     & (F.col("key1") < F.col("key2"))).drop("t2")
              .select(F.struct("key1", "key2").alias("key"),
                      "time", (F.col("ra") * F.col("rb")).alias("value")))
    cov = (ema(paired, alpha=alpha)
           .select(F.col("key.key1").alias("key1"),
                   F.col("key.key2").alias("key2"),
                   "time", F.col("ema").alias("ewma_cov")))
    sq = returns.select("key", "time",
                        (F.col("value") * F.col("value")).alias("value"))
    var = ema(sq, alpha=alpha).select("key", "time",
                                      F.col("ema").alias("ewma_var"))
    va = var.select(F.col("key").alias("ka"),
                    F.col("time").alias("ta"),
                    F.col("ewma_var").alias("var_a"))
    vb = var.select(F.col("key").alias("kb"),
                    F.col("time").alias("tb"),
                    F.col("ewma_var").alias("var_b"))
    out = (cov.join(va, (F.col("key1") == F.col("ka"))
                    & (F.col("time") == F.col("ta")), "inner")
           .drop("ka", "ta")
           .join(vb, (F.col("key2") == F.col("kb"))
                 & (F.col("time") == F.col("tb")), "inner")
           .drop("kb", "tb"))
    corr = (F.when((F.col("var_a") > 0) & (F.col("var_b") > 0),
                   F.col("ewma_cov")
                   / F.sqrt(F.col("var_a") * F.col("var_b"))))
    return out.select("key1", "key2", "time", "ewma_cov",
                      corr.alias("ewma_corr"))
