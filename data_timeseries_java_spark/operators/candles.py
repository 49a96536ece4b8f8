"""OHLC candle aggregation: gap-fill, partial candles, carry-forward.

Re-expresses the reference's candle stage chain (SURVEY.md §3.1 step 3,
``CreateAggregatesTransform.java:64-156``) as three composable DataFrame
transforms. The reference needed a global-window/accumulating-panes trick
to carry state across windows (Dataflow 1.9 had no keyed state,
``README.MD:17``); in Spark batch this is a ``lag`` window function, and
the whole chain stays inside Catalyst/whole-stage codegen — no UDFs.

Scale notes (100 TB): the candle aggregation shuffles once on
(key, window) and is partial-aggregated map-side automatically
(HashAggregateExec partial/final). Gap-fill's "missing keys" side is tiny
(distinct windows x instrument universe) and broadcast; the big tick scan
is touched exactly once. The carry-forward window function shuffles on
`key` only — candles per key are small (1 row per resolution interval), so
no skew concern even for hot instruments.

Semantics divergence from the reference (documented, SURVEY.md §2.9.1):
bid min/max compare BID prices; the reference compares ask prices due to a
copy/paste bug (``TimeseriesUtils.java:167,180``). Demo fixtures keep
bid == ask so parity goldens agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tick_struct() -> "F.Column":
    return F.struct(
        F.col("event_time").alias("time"),
        F.col("bid").alias("bid"),
        F.col("ask").alias("ask"),
        F.col("is_live").alias("is_live"),
    )


def gap_fill(ticks: DataFrame, instruments: DataFrame,
             resolution: str = "120 seconds") -> DataFrame:
    """Union ticks with synthetic rows for (window, key) combinations that
    saw no data, mirroring A1+A2+J1 (SURVEY.md §2.3):
    ``DetectMissingTimeSeriesValuesCombiner.java:36-84`` +
    ``CreateMissingTimeSeriesValuesDoFn.java:35-60`` + the Flatten union.

    A window participates only if at least one instrument ticked in it
    (the reference's global combine sees only non-empty windows). Generated
    rows carry ``is_live=false``, prices 0.0, and
    ``event_time = window.end - 1ms`` (Beam ``maxTimestamp``).

    Distributed shape: ``observed`` is a map-side-combined distinct over
    (window, key) — tiny output; the expected/missing frames are
    (windows x instruments), also tiny; the final union touches the tick
    scan once with no extra shuffle of the big side.
    """
    win = F.window("event_time", resolution)
    observed = ticks.select(win.alias("w"), "key").distinct()
    windows = observed.select("w").distinct()
    expected = windows.crossJoin(F.broadcast(instruments))
    missing = expected.join(observed, ["w", "key"], "left_anti")
    gap_rows = missing.select(
        "key",
        (F.col("w.end") - F.expr("INTERVAL 1 MILLISECOND")).alias("event_time"),
        F.lit(0.0).alias("bid"),
        F.lit(0.0).alias("ask"),
        F.lit(False).alias("is_live"),
    )
    return ticks.unionByName(gap_rows)


def _ohlc_aggs() -> "list[F.Column]":
    """The OHLC aggregates over (tick, bid, ask, is_live, t_ms) rows,
    shared by the batch and the watermarked streaming candle operators.

    Orderings: price asc/desc with earliest-time tiebreak → deterministic;
    the close is the latest tick, ties broken by liveness, then by the
    tick struct itself (higher bid, then higher ask). min/max over
    ordering-prefixed structs (payload tick last) rather than
    min_by/max_by: same semantics, ~3x faster in the aggregate (measured
    at sf0.1), and partial-aggregates map-side.
    """
    return [
        F.min(F.struct(F.col("ask"), F.col("t_ms"), F.col("tick"))).alias("mna"),
        F.max(F.struct(F.col("ask"), (-F.col("t_ms")).alias("n"), F.col("tick"))).alias("mxa"),
        F.min(F.struct(F.col("bid"), F.col("t_ms"), F.col("tick"))).alias("mnb"),
        F.max(F.struct(F.col("bid"), (-F.col("t_ms")).alias("n"), F.col("tick"))).alias("mxb"),
        F.max(F.struct(F.col("t_ms"), F.col("is_live").cast("int").alias("l"),
                       F.col("tick"))).alias("cl"),
        F.max("is_live").alias("is_live"),
    ]


def ohlc_candles(ticks: DataFrame, resolution: str = "120 seconds") -> DataFrame:
    """Partial OHLC candles per (key, fixed window) — A3 (SURVEY.md §2.3),
    ``PartialTimeSeriesAggCombiner.java:37-65`` +
    ``TimeseriesUtils.addTSValue:73-87``.

    min/max keep the WHOLE tick (price and timestamp), matching
    ``TSAggValueProto``'s nested-TSProto fields. ``close`` is the
    latest-time tick. ``open`` is NOT set here — carry-forward
    (:func:`complete_candles`) fills it. Ties on price resolve to the
    earliest tick; ties on close time resolve to the live tick.

    Live-precedence note: after :func:`gap_fill`, a (key, window) group is
    either all-live or a single generated row, so within-group precedence
    (live beats generated regardless of price) is vacuous; cross-window
    precedence is handled in :func:`complete_candles` back-fill.
    """
    t_ms = F.unix_millis(F.col("event_time"))
    df = ticks.select(
        "key",
        F.window("event_time", resolution).alias("w"),
        _tick_struct().alias("tick"),
        F.col("bid"), F.col("ask"), F.col("is_live"), t_ms.alias("t_ms"),
    )
    agg = df.groupBy("key", "w").agg(*_ohlc_aggs())
    return agg.select(
        "key",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.lit(None).cast(df.schema["tick"].dataType).alias("open"),
        F.col("cl.tick").alias("close"),
        F.col("mna.tick").alias("min_ask"),
        F.col("mxa.tick").alias("max_ask"),
        F.col("mnb.tick").alias("min_bid"),
        F.col("mxb.tick").alias("max_bid"),
        "is_live",
    )


def complete_candles(candles: DataFrame) -> DataFrame:
    """Carry-forward completion — A4 (SURVEY.md §2.3),
    ``CompleteTimeSeriesAggCombiner.java:47-227`` +
    ``TimeseriesUtils.addTSOpenValue:98-128`` — as two window passes over
    ``Window.partitionBy(key).orderBy(window_start)``:

    1. Back-fill: a gap candle (is_live=false) takes the last LIVE close's
       prices, re-stamped to its own close time; min/max/close all become
       that filled value. Chained gap windows therefore propagate the last
       live close arbitrarily far (``last(..., ignorenulls=True)``), which
       the reference achieves by walking candles in closeTime order.
    2. Open: each candle's open = previous candle's (filled) close; the
       very first candle opens at its own close
       (``CompleteTimeSeriesAggCombiner.java:146-155``).

    The reference's accumulating-panes machinery (W3/W4/W5) and its inert
    compaction bug (§2.9.2) have no Spark counterpart — `lag` needs no
    state emulation in batch.
    """
    wk = Window.partitionBy("key").orderBy("window_start")
    prev_all = wk.rowsBetween(Window.unboundedPreceding, -1)

    last_live_close = F.last(
        F.when(F.col("is_live"), F.col("close")), ignorenulls=True
    ).over(prev_all)

    filled_close = F.when(F.col("is_live"), F.col("close")).otherwise(
        F.when(
            last_live_close.isNotNull(),
            F.struct(
                F.col("close.time").alias("time"),
                last_live_close["bid"].alias("bid"),
                last_live_close["ask"].alias("ask"),
                F.lit(False).alias("is_live"),
            ),
        ).otherwise(F.col("close"))
    )

    filled = candles.select(
        "key", "window_start", "window_end",
        filled_close.alias("close"),
        F.when(F.col("is_live"), F.col("min_ask")).otherwise(filled_close).alias("min_ask"),
        F.when(F.col("is_live"), F.col("max_ask")).otherwise(filled_close).alias("max_ask"),
        F.when(F.col("is_live"), F.col("min_bid")).otherwise(filled_close).alias("min_bid"),
        F.when(F.col("is_live"), F.col("max_bid")).otherwise(filled_close).alias("max_bid"),
        "is_live",
    )
    opened = filled.withColumn(
        "open", F.coalesce(F.lag("close").over(wk), F.col("close"))
    )
    return opened.select(
        "key", "window_start", "window_end",
        "open", "close", "min_ask", "max_ask", "min_bid", "max_bid", "is_live",
    )


def candles_pipeline(ticks: DataFrame, instruments: DataFrame,
                     resolution: str = "120 seconds") -> DataFrame:
    """The full reference candle stage: gap-fill → OHLC → carry-forward
    (the composite ``CreateAggregatesTransform`` equivalent).

    Fused plan: a gap tick only ever exists in a (key, window) group by
    itself, so aggregating `gap_fill(ticks) → ohlc` equals aggregating
    the LIVE ticks once and synthesizing the gap CANDLES directly from
    the missing (window, key) frame. That keeps the big tick scan to
    exactly one pass/one shuffle — the union and anti-join touch only
    candle-sized data. Results are identical (oracle + golden tested).
    """
    live = ohlc_candles(ticks, resolution)
    windows = live.select("window_start", "window_end").distinct()
    expected = windows.crossJoin(F.broadcast(instruments))
    missing = expected.join(live.select("key", "window_start"),
                            ["key", "window_start"], "left_anti")
    gap_tick = F.struct(
        (F.col("window_end") - F.expr("INTERVAL 1 MILLISECOND")).alias("time"),
        F.lit(0.0).alias("bid"), F.lit(0.0).alias("ask"),
        F.lit(False).alias("is_live"),
    )
    gap_candles = missing.select(
        "key", "window_start", "window_end",
        F.lit(None).cast(live.schema["open"].dataType).alias("open"),
        gap_tick.alias("close"),
        gap_tick.alias("min_ask"), gap_tick.alias("max_ask"),
        gap_tick.alias("min_bid"), gap_tick.alias("max_bid"),
        F.lit(False).alias("is_live"),
    )
    return complete_candles(live.unionByName(gap_candles))
