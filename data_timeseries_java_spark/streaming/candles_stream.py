"""Streaming OHLC candles: watermarked window agg, and a keyed stateful
operator for complete (gap-filled, carry-forward) candles.

Streaming equivalents of ``operators/candles.py`` (W1+A3 / A1+A2+A4 /
W3, SURVEY.md §2.2-2.3):

- :func:`streaming_ohlc_candles` — watermarked fixed-window aggregation,
  the same aggregation expressions as the batch operator; Spark runs
  the same logical plan incrementally against a state store. The
  watermark replaces the reference's no-late-data stance with an
  explicit policy: rows later than the watermark are dropped; candles
  finalize (append mode) once the watermark passes window end.

- :func:`streaming_complete_candles` — window-activity markers fanned
  out over the instrument universe, then ONE ``applyInPandasWithState``
  operator that owns the whole candle lifecycle per instrument:
  partial-candle accumulation for open windows, window finalization at
  the watermark, gap candles for the windows a key missed, and
  carry-forward close→open. The reference needs accumulating panes
  (``CompleteTimeSeriesAggCombiner.java:47-227``) only because Dataflow
  1.9 had no keyed state; here the state store is that keyed state.
  State per key: the open windows' partial candles + the last emitted
  close; O(keys x open windows), a few hundred bytes per instrument.

Semantics notes (all test-asserted):
- Output equals the batch pipeline (``candles_pipeline``) on the same
  ticks: a key gets a gap candle for exactly the windows in which some
  instrument ticked and it did not (leading gaps carry 0.0 prices,
  later ones the last close); windows no instrument ticked in emit
  nothing. A window's close is its latest tick; a same-millisecond tie
  goes to the higher bid, then the higher ask, as in batch.
- min/max in the flat streaming output carry prices only (the batch
  operator keeps whole ticks; the flat schema is what sinks want).
- RESTART tightens the disorder horizon by one batch: in-run, Spark
  filters late rows with the PREVIOUS batch's watermark (one-batch
  lag), but a query resumed from a checkpoint filters its first batch
  with the full committed watermark — so with delay 0, ticks arriving
  after a restart for a window the watermark has already entered
  (e.g. the window straddling the restart boundary, whose activity
  marker sits at w_end − 1 ms) are dropped, where the unrestarted run
  would have kept them. A pipeline that must survive restarts
  mid-window should set ``watermark`` to at least one resolution;
  the recovery driver gate (``queries/fx.q_recovery_stream_replay``)
  pins exactly this contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators.candles import _ohlc_aggs

CANDLE_OUT_SCHEMA = (
    "key string, window_start timestamp, window_end timestamp, "
    "open_time timestamp, open_bid double, open_ask double, "
    "close_time timestamp, close_bid double, close_ask double, "
    "min_ask double, max_ask double, min_bid double, max_bid double, "
    "is_live boolean"
)

# per-key state: carry-forward cursor + parallel arrays of open-window
# partial candles (flat struct — GroupState cannot hold maps); lv marks
# whether a window has seen a real tick (False = marker-only → gap)
STATE_SCHEMA = (
    "next_w long, last_time long, last_bid double, last_ask double, "
    "w_starts array<long>, cl_t array<long>, "
    "cl_bid array<double>, cl_ask array<double>, "
    "mn_ask array<double>, mx_ask array<double>, "
    "mn_bid array<double>, mx_bid array<double>, lv array<boolean>"
)


def streaming_ohlc_candles(ticks: DataFrame, resolution: str = "120 seconds",
                           watermark: str = "0 seconds") -> DataFrame:
    """Watermarked fixed-window OHLC aggregation (streaming W1+A3)."""
    t_ms = F.unix_millis(F.col("event_time"))
    tick = F.struct(
        F.col("event_time").alias("time"),
        F.col("bid"), F.col("ask"), F.col("is_live"),
    )
    df = (ticks
          .withWatermark("event_time", watermark)
          .select("key", F.window("event_time", resolution).alias("w"),
                  tick.alias("tick"), "bid", "ask", "is_live",
                  t_ms.alias("t_ms")))
    agg = df.groupBy("key", "w").agg(*_ohlc_aggs())
    return agg.select(
        "key",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("cl.tick").alias("close"),
        F.col("mna.tick").alias("min_ask"),
        F.col("mxa.tick").alias("max_ask"),
        F.col("mnb.tick").alias("min_bid"),
        F.col("mxb.tick").alias("max_bid"),
        "is_live",
    )


def _resolution_ms(resolution: str) -> int:
    try:
        qty, unit = resolution.split()
        mult = {"millisecond": 1, "milliseconds": 1,
                "second": 1000, "seconds": 1000, "minute": 60_000,
                "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000,
                "day": 86_400_000, "days": 86_400_000,
                "week": 604_800_000, "weeks": 604_800_000}[unit]
        return int(qty) * mult
    except (ValueError, KeyError) as e:
        raise ValueError(
            f"duration {resolution!r} must be '<int> <unit>' with unit in "
            f"milliseconds/seconds/minutes/hours/days/weeks "
            f"(singular or plural)") from e


def streaming_complete_candles(ticks: DataFrame, universe: list[str],
                               resolution: str = "120 seconds",
                               watermark: str = "0 seconds") -> DataFrame:
    """Complete candles (gap-filled + carry-forward) as one keyed
    stateful operator over raw ticks, with the batch pipeline's global
    gap-fill: a key absent from a window gets a gap candle whenever any
    OTHER instrument ticked there — before the key's first tick
    (0.0-price gap candles, matching batch ``gap_fill``) and after it
    (carry-forward gap candles). Windows no instrument ticked in emit
    nothing.

    ``universe`` is the instrument universe (the reference's work-packet
    config constant, S3) — a static list of keys, mirroring the batch
    operator's broadcast ``instruments`` frame. A key outside it still
    gets candles for the windows it ticked in, but no gap candles.

    Shape: tick stream → window-activity markers fan-out (stateless,
    candle-sized) → union → one keyed stateful operator; one shuffle on
    key.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if isinstance(universe, str):
        raise TypeError(
            f"universe must be a list of instrument keys, not the string "
            f"{universe!r}; resolution is the third argument")
    res_ms = _resolution_ms(resolution)

    def process(key, pdf_iter, state: GroupState):
        (k,) = key
        if state.exists:
            (next_w, last_time, last_bid, last_ask,
             w_starts, cl_t, cl_bid, cl_ask,
             mn_ask, mx_ask, mn_bid, mx_bid, lv) = state.get
            open_w = {
                w: [cl_t[i], cl_bid[i], cl_ask[i], mn_ask[i], mx_ask[i],
                    mn_bid[i], mx_bid[i], lv[i]]
                for i, w in enumerate(w_starts)
            }
        else:
            next_w = last_time = last_bid = last_ask = None
            open_w = {}

        # 1. fold this batch's rows into open-window partial candles.
        #    Marker rows only OPEN a window — a window that stays
        #    marker-only finalizes as a gap candle; a real tick upgrades
        #    it to live.
        for pdf in pdf_iter:
            t_ms = (pdf["event_time"].astype("datetime64[ns]").astype("int64")
                    // 1_000_000).to_numpy()
            bids = pdf["bid"].to_numpy()
            asks = pdf["ask"].to_numpy()
            marks = pdf["is_marker"].to_numpy()
            for i in range(len(pdf)):
                w = int(t_ms[i]) // res_ms * res_ms
                if next_w is not None and w < next_w:
                    continue  # window already finalized (late within horizon)
                c = open_w.get(w)
                if marks[i]:
                    if c is None:
                        open_w[w] = [None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False]
                    continue
                t, bid, ask = int(t_ms[i]), float(bids[i]), float(asks[i])
                if c is None or not c[7]:
                    open_w[w] = [t, bid, ask, ask, ask, bid, bid, True]
                else:
                    # the latest tick closes; a same-millisecond tie goes
                    # to the higher bid, then ask (batch's max(struct))
                    if (t, bid, ask) > (c[0], c[1], c[2]):
                        c[0], c[1], c[2] = t, bid, ask
                    c[3] = min(c[3], ask)
                    c[4] = max(c[4], ask)
                    c[5] = min(c[5], bid)
                    c[6] = max(c[6], bid)

        # 2. finalize windows passed by the watermark, oldest first
        wm = state.getCurrentWatermarkMs()
        out = []

        def emit(w, ct, cb, ca, mna, mxa, mnb, mxb, live):
            nonlocal next_w, last_time, last_bid, last_ask
            if last_time is not None:
                ot, ob, oa = last_time, last_bid, last_ask
            else:
                ot, ob, oa = ct, cb, ca
            out.append((k, w, w + res_ms, ot, ob, oa, ct, cb, ca,
                        mna, mxa, mnb, mxb, live))
            next_w = w + res_ms
            last_time, last_bid, last_ask = ct, cb, ca

        for w in sorted(open_w):
            if w + res_ms > wm:
                break
            c = open_w.pop(w)
            if c[7]:
                emit(w, c[0], c[1], c[2], c[3], c[4], c[5], c[6], True)
            elif last_time is not None:
                emit(w, w + res_ms - 1, last_bid, last_ask,
                     last_ask, last_ask, last_bid, last_bid, False)
            else:
                # no live close ever seen: batch semantics keep the gap
                # row's 0.0 prices (complete_candles leaves close as-is)
                emit(w, w + res_ms - 1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False)

        # 3. persist remaining open windows + cursor; arm an event-time
        #    timeout at the oldest open window's end so the no-data final
        #    micro-batch (or any later watermark advance without rows for
        #    this key) re-invokes us to flush
        ws = sorted(open_w)
        state.update((
            next_w, last_time, last_bid, last_ask,
            ws,
            [open_w[w][0] for w in ws],
            [open_w[w][1] for w in ws],
            [open_w[w][2] for w in ws],
            [open_w[w][3] for w in ws],
            [open_w[w][4] for w in ws],
            [open_w[w][5] for w in ws],
            [open_w[w][6] for w in ws],
            [open_w[w][7] for w in ws],
        ))
        if ws:
            state.setTimeoutTimestamp(ws[0] + res_ms)

        cols = ["key", "window_start", "window_end",
                "open_time", "open_bid", "open_ask",
                "close_time", "close_bid", "close_ask",
                "min_ask", "max_ask", "min_bid", "max_bid", "is_live"]
        pdf = pd.DataFrame(out, columns=cols)
        for c in ("window_start", "window_end", "open_time", "close_time"):
            pdf[c] = pd.to_datetime(pdf[c], unit="ms", utc=True).dt.tz_localize(None)
        yield pdf

    markers = _window_markers(ticks, universe, res_ms)
    return (ticks.withColumn("is_marker", F.lit(False))
            .unionByName(markers)
            .withWatermark("event_time", watermark)
            .groupBy("key")
            .applyInPandasWithState(
                process, CANDLE_OUT_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.EventTimeTimeout))


def _window_markers(ticks: DataFrame, universe: list[str],
                    res_ms: int) -> DataFrame:
    """Window-activity fan-out: for every window in which ANY instrument
    ticked, synthesize one marker row per instrument in the universe.
    This is the streaming mirror of the reference's GLOBAL missing-key
    detection (``DetectMissingTimeSeriesValuesCombiner.java:36-84``):
    the batch operator sees all keys in a window with one global
    combine; a per-key stateful operator cannot, so window activity is
    broadcast to every key as data.

    Volume control: windows are deduped per partition task in the
    mapInPandas generator before the universe fan-out, so marker volume
    is O(partitions x windows_per_batch x universe) — candle-sized, not
    tick-sized. Duplicate markers across partitions are harmless (a
    marker only opens a window; opening twice is a no-op).

    Marker event_time = window end - 1ms (a real timestamp, so the
    watermark machinery sees it; it can never finalize its own window,
    since w_end - 1 - delay < w_end).
    """
    import pandas as pd

    slim = ticks.select(
        (F.expr(f"unix_millis(event_time) DIV {res_ms}") * res_ms)
        .alias("w_start_ms"))

    def gen(it):
        seen = set()
        for pdf in it:
            ws = set(pdf["w_start_ms"].tolist()) - seen
            seen |= ws
            if not ws:
                continue
            yield pd.DataFrame(
                [(key, w) for w in sorted(ws) for key in universe],
                columns=["key", "w_start_ms"])

    markers = slim.mapInPandas(gen, "key string, w_start_ms long")
    return markers.select(
        "key",
        F.timestamp_millis(F.col("w_start_ms") + res_ms - 1).alias("event_time"),
        F.lit(0.0).alias("bid"),
        F.lit(0.0).alias("ask"),
        F.lit(False).alias("is_live"),
        F.lit(True).alias("is_marker"),
    )
