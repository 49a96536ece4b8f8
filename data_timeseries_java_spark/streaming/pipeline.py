"""End-to-end streaming FX pipeline: ticks → complete candles (keyed
state, gap-filled over the instrument universe) → log returns →
incremental sliding-window pairwise correlation.

Correlation is a second aggregation over the candle stream; instead of
fighting Spark's one-stateful-operator-per-query rule, the correlation
stage runs in ``foreachBatch`` as an INCREMENTAL batch computation — the
standard production pattern for "aggregate of an aggregate" streams:

1. each micro-batch of finalized candles writes its log returns to a
   batch_id-keyed partition of the returns store (overwrite, so an
   at-least-once re-execution replaces its own output — idempotent);
2. only the sliding windows TOUCHED by this batch are recomputed (a
   window's correlation is correct once all its candles arrived; late
   candles simply re-trigger their windows) — the window filter sits
   BELOW the correlation aggregation, so the recompute's input is the
   touched windows' returns, never the whole store;
3. results land log-structured: each batch writes its recomputed
   windows to ONE ``batch_id``-keyed partition (overwrite → idempotent
   retries). The batch's TOUCH CLAIM rides in the same write as marker
   rows (``key1 IS NULL`` plus ``w_start_ms``, one per recomputed
   window): :func:`read_streaming_correlations` resolves
   latest-TOUCHING-batch-per-window from the markers, which is what
   lets an empty recompute (late data dropped every pair of a window
   below ``min_corr``) supersede the stale rows instead of silently
   resurrecting them. One directory per batch, not one per slide: a
   per-slide partitioned store rewrote ~1,100 tiny directories per
   trigger at sf0.1 (15-19s/micro-batch); the log layout cut the
   trigger to a 3.5s median.
   :func:`compact_correlation_store` periodically folds the log into
   one superseding batch so the read-time resolve stays bounded.

At 100 TB the same shape holds: the recompute scans only the affected
time range (min/max predicate reaches the parquet scan) and the pair
join inside one window is the engine's normal correlation plan. On an
ACID table format (Delta/Iceberg) the log+resolve becomes MERGE; plain
parquet here keeps the container dependency-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    pairwise_correlations,
)
from data_timeseries_java_spark.streaming.candles_stream import (
    streaming_complete_candles,
)

# Guard on the per-trigger touched-window list; see streaming_correlations.
_MAX_TOUCHED_WINDOWS = 250_000


def _flat_candles_to_returns(candles: DataFrame) -> DataFrame:
    """Flat streaming candle schema → (key, time, value) log returns."""
    return (candles
            .where((F.col("open_ask") > 0) & (F.col("close_ask") > 0))
            .select(
                "key",
                (F.col("window_end") - F.expr("INTERVAL 1 MILLISECOND")).alias("time"),
                F.log(F.col("close_ask") / F.col("open_ask")).alias("value"),
            ))


def streaming_correlations(spark: SparkSession, ticks: DataFrame,
                           work_dir: str,
                           resolution: str = "120 seconds",
                           config: CorrelationConfig | None = None,
                           watermark: str = "0 seconds",
                           *, universe: list[str]):
    """Start the full streaming pipeline; returns the StreamingQuery.

    Results land log-structured in ``{work_dir}/correlations`` keyed by
    ``batch_id`` (read the current snapshot via
    :func:`read_streaming_correlations`); the returns store lives in
    ``{work_dir}/returns``.

    ``universe``: the instrument universe (the reference's work-packet
    config constant) that drives the candle stage's gap-fill — see
    :func:`streaming_complete_candles`. With it the stream's output
    equals the batch engine's on the same ticks, on dense and sparse
    feeds alike.

    A trigger that touches more than ``_MAX_TOUCHED_WINDOWS`` sliding
    windows fails the query with ``ValueError``: the touched-window
    list becomes a literal IN predicate in the recompute plan. The
    count is bounded by (batch time span / slide) + window/slide, so a
    legitimate decade replay (~10.8k five-minute slides per 37-day
    trigger) fits far below the cap, while a mis-set slide (seconds
    where minutes were meant, a 60-180x inflation) fails loudly
    instead of building a huge plan.
    """
    cfg = config or CorrelationConfig()
    returns_path = f"{work_dir}/returns"
    corr_path = f"{work_dir}/correlations"
    candles = streaming_complete_candles(ticks, universe, resolution,
                                         watermark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rets = _flat_candles_to_returns(batch_df).cache()
        try:
            # The slides this batch touches — a tiny driver-side list
            # (bounded by windows-per-trigger, not by history). Empty
            # list == empty batch: this doubles as the emptiness probe,
            # so no separate isEmpty() job runs.
            wins = sorted(r[0] for r in
                          (rets.select(F.window("time", cfg.window,
                                                cfg.slide).alias("w"))
                           .select(F.unix_millis("w.start")
                                   .alias("w_start_ms"))
                           .distinct().collect()))
            if not wins:
                return
            if len(wins) > _MAX_TOUCHED_WINDOWS:
                raise ValueError(
                    f"batch {batch_id} touches {len(wins)} sliding "
                    f"windows (> {_MAX_TOUCHED_WINDOWS}); check the "
                    f"slide duration — this list becomes a literal "
                    f"IN-predicate and must stay small")
            # foreachBatch is at-least-once: a batch re-executed after a
            # failure must not double-append its returns (that would
            # inflate x_count/y_count in recomputed windows). Writing
            # each batch to its own batch_id partition with overwrite
            # makes the retry idempotent — the replay replaces its own
            # output exactly.
            rets.write.mode("overwrite").parquet(
                f"{returns_path}/batch_id={batch_id}")
        finally:
            rets.unpersist()

        # Recompute ONLY the touched windows: the filter must sit BELOW
        # the correlation aggregation, or every batch recomputes the
        # full history and discards most of it. Two-stage prune:
        # (1) a time-range predicate that reaches the parquet scan
        # (rows outside [min_start, max_start + window) cannot be in
        # any touched slide), then (2) exact per-row membership via the
        # row's own sliding windows. Rows in a touched window feed ALL
        # their windows, so neighbor windows appear with partial input
        # — the post-agg membership filter drops those. Membership is a
        # literal IN: Catalyst pushes it below the correlation
        # aggregation and the pair self-join, so neighbor windows' pairs
        # are never computed (a broadcast left-semi join cannot be
        # pushed there and measured 1.7x slower per recompute).
        lo, hi = wins[0], wins[-1]

        def touched(df_with_ms: DataFrame) -> DataFrame:
            return df_with_ms.where(F.col("w_start_ms").isin(wins))

        all_rets = (spark.read
                    .option("basePath", returns_path)
                    .parquet(returns_path)
                    .drop("batch_id")
                    .where((F.col("time") >= F.timestamp_millis(F.lit(lo)))
                           & (F.col("time") < F.timestamp_millis(F.lit(hi))
                              + F.expr(f"INTERVAL {cfg.window}"))))
        in_affected = (touched(all_rets
                               .select("key", "time", "value",
                                       F.window("time", cfg.window,
                                                cfg.slide).alias("w"))
                               .withColumn("w_start_ms",
                                           F.unix_millis("w.start")))
                       .dropDuplicates(["key", "time"])
                       .select("key", "time", "value"))
        # cache_input=False: a fresh cache entry per micro-batch (the
        # returns store grows each batch → new plan) would accumulate
        corr = pairwise_correlations(in_affected, cfg, cache_input=False)
        affected = touched(corr.withColumn("w_start_ms",
                                           F.unix_millis("window_start")))
        # ONE directory per batch (a per-slide layout rewrote ~1,100
        # directories per trigger at sf0.1). The marker rows unioned
        # below (key1 IS NULL, one per touched window) are this batch's
        # touch claim: read_streaming_correlations serves each window
        # from its latest touching batch, so a recompute that emits
        # ZERO rows for a window (late data pushed every pair under
        # min_corr) still supersedes the stale rows.
        markers = (spark.createDataFrame([(int(w),) for w in wins],
                                         "w_start_ms bigint")
                   .select(*[F.col("w_start_ms") if f.name == "w_start_ms"
                             else F.lit(None).cast(f.dataType).alias(f.name)
                             for f in affected.schema.fields]))
        affected.unionByName(markers).write.mode("overwrite").parquet(
            f"{corr_path}/batch_id={batch_id}")

    return (candles.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", f"{work_dir}/checkpoint")
            .trigger(availableNow=True)
            .start())


def read_streaming_correlations(spark: SparkSession,
                                work_dir: str) -> DataFrame:
    """Resolve the log-structured correlation store to its current
    snapshot: for each sliding window, the rows from the LATEST batch
    that RECOMPUTED it (earlier batches' rows for that window are
    superseded — a window's full result always comes from one batch).

    "Recomputed" is decided by the batches' marker rows (``key1 IS
    NULL``, one per window each batch touched — written in-band with
    the batch's data), not by which batches happen to have data rows
    for the window: a recompute that emitted zero pair rows (every pair
    dropped below ``min_corr`` after late data) is an
    empty-but-authoritative result, and resolving against data rows
    alone would resurrect the superseded batch's stale rows — and
    ``compact_correlation_store`` would then fold them into the
    permanent snapshot.

    The marker set is O(batches x windows-per-trigger) — broadcast into
    the join, so the store side stays a single pruned parquet scan. On
    Delta/Iceberg this read-time resolve disappears into
    MERGE-maintained tables.
    """
    corr_path = f"{work_dir}/correlations"
    df = spark.read.option("basePath", corr_path).parquet(corr_path)
    data = df.where(F.col("key1").isNotNull())
    touched = (df.where(F.col("key1").isNull())
               .groupBy("w_start_ms")
               .agg(F.max("batch_id").alias("batch_id")))
    return (data.join(F.broadcast(touched), ["w_start_ms", "batch_id"])
            .select([c for c in df.columns if c != "batch_id"]))


def compact_correlation_store(spark: SparkSession, work_dir: str) -> dict:
    """Fold the log-structured correlation store to one superseding
    batch: resolve the current snapshot (latest batch per window), write
    it as a single new ``batch_id`` partition numbered above every
    existing one, then drop the superseded batch directories. Bounds the
    read-time resolve cost after long runs — the maintenance pass that
    pairs with ``sources.writers.compact_parquet`` the way minor
    compaction pairs with an LSM tree.

    Readers racing the final directory removal on plain parquet may see
    a batch twice; ``read_streaming_correlations`` is idempotent to that
    (latest-batch filter), so the only hazard window is a reader listing
    directories mid-delete — on an ACID table format this whole function
    is a MERGE/OPTIMIZE call instead. Returns {batches_before,
    batches_after, rows} for observability.

    Touch claims are folded alongside: the compacted batch carries one
    marker row for every window any folded batch touched, so a window
    whose latest state was an empty recompute stays empty after
    compaction (its stale rows are physically gone and its touch claim
    survives).

    Local filesystem only: the directory shuffle goes through
    ``os``/``shutil``, which would silently no-op (or worse) on an
    ``hdfs://``/``s3a://`` store that the rest of the pipeline reaches
    through Spark writers — refuse URI schemes loudly. On a real
    cluster this maintenance pass belongs to the table format.
    """
    import os
    import re
    import shutil

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", work_dir)
    if m and m.group(1) != "file":
        raise ValueError(
            f"compact_correlation_store only supports local paths; got "
            f"scheme {m.group(1)!r} — use the table format's own "
            f"compaction (OPTIMIZE/rewrite_data_files) on remote stores")
    local_dir = work_dir[len("file://"):] if m else work_dir
    corr_path = f"{local_dir}/correlations"
    batches = sorted(d for d in os.listdir(corr_path)
                     if d.startswith("batch_id="))
    # No batches => nothing to fold (reading the empty correlations dir
    # would fail with unable-to-infer-schema); one batch is already
    # compact.
    if len(batches) <= 1:
        return {"batches_before": len(batches), "batches_after": len(batches),
                "rows": None}
    snapshot = read_streaming_correlations(spark, local_dir)
    store = (spark.read.option("basePath", corr_path).parquet(corr_path))
    all_touched = (store.where(F.col("key1").isNull())
                   .select("w_start_ms").distinct())
    dtypes = {f.name: f.dataType for f in snapshot.schema.fields}
    markers = all_touched.select(
        *[F.col("w_start_ms") if c == "w_start_ms"
          else F.lit(None).cast(dtypes[c]).alias(c)
          for c in snapshot.columns])
    new_id = max(int(b.split("=", 1)[1]) for b in batches) + 1
    out_dir = f"{corr_path}/batch_id={new_id}"
    snapshot.unionByName(markers).write.mode("overwrite").parquet(out_dir)
    rows = (spark.read.parquet(out_dir)
            .where(F.col("key1").isNotNull()).count())
    for b in batches:
        shutil.rmtree(os.path.join(corr_path, b), ignore_errors=True)
    return {"batches_before": len(batches), "batches_after": 1, "rows": rows}
