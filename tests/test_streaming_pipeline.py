"""Full streaming pipeline vs batch pipeline on bounded input."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.fixtures import DEMO_KEYS
from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    log_returns,
    pairwise_correlations,
)
from data_timeseries_java_spark.operators.candles import candles_pipeline
from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.streaming.pipeline import (
    read_streaming_correlations,
    streaming_correlations,
)

CFG = CorrelationConfig(window="600 seconds", slide="300 seconds",
                        min_corr=0.0, propagate_nan=True)
DEMO_UNIVERSE = DEMO_KEYS + ["ZZ-SENTINEL"]


def test_streaming_correlations_match_batch(spark):
    import random
    from datetime import datetime, timezone

    from data_timeseries_java_spark.fixtures import demo_tick_rows

    d = tempfile.mkdtemp(prefix="spipe_")
    try:
        rng = random.Random(11)
        rows = demo_tick_rows()
        buckets = [[], [], []]
        for r in rows:
            buckets[min(r[1].minute // 4, 2)].append(r)
        for i, b in enumerate(buckets):
            rng.shuffle(b)
            spark.createDataFrame(b, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f3")

        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=DEMO_UNIVERSE)
        q.awaitTermination(180)

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-") & ~F.col("key2").startswith("ZZ-")))

        ticks = spark.createDataFrame(rows, TICK_SCHEMA)
        candles = candles_pipeline(ticks, ticks.select("key").distinct(), "120 seconds")
        want = pairwise_correlations(log_returns(candles), CFG)

        key = lambda r: (r.w_start_ms if hasattr(r, "w_start_ms")
                         else int(r.window_start.timestamp() * 1000),
                         r.key1, r.key2)
        got_map = {key(r): round(r.value, 9) for r in got.collect()}
        want_map = {key(r): round(r.value, 9) for r in want.collect()}
        assert set(got_map) == set(want_map)
        assert got_map == want_map
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_correlations_sparse_feed_matches_batch(spark):
    """Batch parity on a SPARSE feed (globally-dead windows between two
    active clusters): the universe-driven candle stage emits nothing for
    windows no instrument ticked in, so no candles (and thus no
    correlation windows) appear across the dead zone. Gap-filling each
    key's own skipped windows instead produced 49x the batch row count
    on the (sparse) events table."""
    import random
    from datetime import datetime, timedelta, timezone

    d = tempfile.mkdtemp(prefix="spipe_sparse_")
    try:
        t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
        rows = []
        rng = random.Random(3)
        # two active clusters (minutes 0-5 and 40-45), dead in between
        for base_min in (0, 40):
            for m in range(6):
                for s in (5, 35):
                    for k in ("EUR/USD", "USD/JPY", "GBP/USD"):
                        t = t0 + timedelta(minutes=base_min + m, seconds=s)
                        px = 1.0 + rng.random() * 0.1
                        rows.append((k, t, px, px + 0.001, True))
        # one file per cluster → the dead zone spans a batch boundary
        half = len(rows) // 2
        for i, chunk in enumerate((rows[:half], rows[half:])):
            spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f2")

        universe = sorted({r[0] for r in rows}) + ["ZZ-SENTINEL"]
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=universe)
        q.awaitTermination(180)

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-")
                      & ~F.col("key2").startswith("ZZ-")))

        ticks = spark.createDataFrame(rows, TICK_SCHEMA)
        candles = candles_pipeline(ticks, ticks.select("key").distinct(),
                                   "120 seconds")
        want = pairwise_correlations(log_returns(candles), CFG)

        got_map = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
                   for r in got.collect()}
        want_map = {(int(r.window_start.timestamp() * 1000), r.key1, r.key2):
                    round(r.value, 9) for r in want.collect()}
        assert set(got_map) == set(want_map)
        assert got_map == want_map
        assert len(got_map) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


_CORR_SCHEMA = ("window_start timestamp, window_end timestamp, "
                "key1 string, key2 string, value double, "
                "x_count int, y_count int, is_nan boolean, "
                "w_start_ms long")


def test_empty_recompute_supersedes_stale_rows(spark):
    """A batch that RECOMPUTES a window but emits zero pair rows (late
    data pushed every pair under min_corr) must supersede the previous
    batch's rows — the in-band marker rows (key1 IS NULL), not data-row
    presence, decide the latest batch per window. Without markers the
    resolve served the stale rows forever and compaction made them
    permanent."""
    from datetime import datetime, timezone

    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    t = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    d = tempfile.mkdtemp(prefix="spipe_tomb_")
    try:
        def write_batch(bid, rows, wins):
            marks = [(None, None, None, None, None, None, None, None, w)
                     for w in wins]
            spark.createDataFrame(rows + marks, _CORR_SCHEMA).write.mode(
                "overwrite").parquet(f"{d}/correlations/batch_id={bid}")

        # batch 0: windows 1000 and 2000 each have one pair row
        row = lambda w: (t, t, "A", "B", 0.9, 5, 5, False, w)
        write_batch(0, [row(1000), row(2000)], [1000, 2000])
        # batch 1: recomputes window 1000, result is EMPTY (tombstone)
        write_batch(1, [], [1000])

        got = read_streaming_correlations(spark, d)
        assert {r.w_start_ms for r in got.collect()} == {2000}

        stats = compact_correlation_store(spark, d)
        assert stats["batches_after"] == 1 and stats["rows"] == 1
        after = read_streaming_correlations(spark, d)
        assert {r.w_start_ms for r in after.collect()} == {2000}
        # the tombstoned window's touch claim survives compaction
        marks = (spark.read.option("basePath", f"{d}/correlations")
                 .parquet(f"{d}/correlations").where("key1 IS NULL"))
        assert {r.w_start_ms for r in marks.collect()} == {1000, 2000}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_empty_store_is_noop(spark):
    """Zero batch directories: compaction must early-return instead of
    failing on the unreadable empty correlations directory."""
    import os

    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_empty_")
    try:
        os.makedirs(f"{d}/correlations")
        stats = compact_correlation_store(spark, d)
        assert stats == {"batches_before": 0, "batches_after": 0,
                         "rows": None}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_touched_window_cap_fails_the_query(spark, monkeypatch):
    """A trigger touching more sliding windows than the cap fails the
    query with ValueError, surfaced through ``q.exception()`` — a
    mis-set slide must not silently build a huge window list."""
    import glob
    import os
    import time
    from datetime import datetime, timezone

    from data_timeseries_java_spark.fixtures import demo_tick_rows
    from data_timeseries_java_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "_MAX_TOUCHED_WINDOWS", 1)
    d = tempfile.mkdtemp(prefix="spipe_cap_")
    try:
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        base = time.time() - 1000
        # the demo feed, then the sentinel that finalizes its candles:
        # their returns touch more than one 600 s / 300 s window
        for i, rows in enumerate([demo_tick_rows(), sentinel]):
            spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
            for p in glob.glob(f"{d}/in/f{i}/*"):
                os.utime(p, (base + i * 10, base + i * 10))
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=DEMO_UNIVERSE)
        with pytest.raises(Exception):
            q.awaitTermination(180)
        err = q.exception()
        assert err is not None
        assert "ValueError" in str(err) and "sliding windows" in str(err)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_rejects_remote_uri(spark):
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    with pytest.raises(ValueError, match="local paths"):
        compact_correlation_store(spark, "s3a://bucket/corr-store")
    with pytest.raises(ValueError, match="local paths"):
        compact_correlation_store(spark, "hdfs://nn/corr-store")


@pytest.mark.slow  # 260 s: 50 micro-batches across 5 stream restarts
def test_long_run_store_stays_bounded_under_compaction(spark):
    """>=50 micro-batches across 5 stream restarts with compaction
    between runs: the batch-directory count stays bounded by
    (1 compacted + files-per-run) instead of growing with history, and
    the final resolved snapshot still matches the batch engine."""
    import os
    import random
    from datetime import datetime, timedelta, timezone

    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_long_")
    try:
        t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
        rng = random.Random(7)
        all_rows = []
        n_files, per_run = 50, 10
        max_dirs_seen = 0
        for run in range(n_files // per_run):
            # files arrive incrementally: each run discovers only its
            # own per_run new files (the checkpoint skips earlier ones)
            for i in range(run * per_run, (run + 1) * per_run):
                chunk = []
                for s in (5, 65):   # two ticks per 120s window per key
                    for k in ("EUR/USD", "USD/JPY"):
                        tt = t0 + timedelta(seconds=i * 120 + s)
                        px = 1.0 + rng.random() * 0.1
                        chunk.append((k, tt, px, px + 0.001, True))
                all_rows.extend(chunk)
                spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1) \
                    .write.mode("overwrite").parquet(f"{d}/in/f{i:02d}")
            if run == n_files // per_run - 1:
                sentinel = [("ZZ-SENTINEL",
                             datetime(2016, 6, 1, tzinfo=timezone.utc),
                             1.0, 1.0, True)]
                spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1) \
                    .write.mode("overwrite").parquet(f"{d}/in/zz")
            src = (spark.readStream.schema(TICK_SCHEMA)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(f"{d}/in/*"))
            q = streaming_correlations(spark, src, f"{d}/out",
                                       resolution="120 seconds", config=CFG,
                                       universe=["EUR/USD", "USD/JPY",
                                                 "ZZ-SENTINEL"])
            q.awaitTermination(180)
            n_dirs = len([x for x in os.listdir(f"{d}/out/correlations")
                          if x.startswith("batch_id=")])
            max_dirs_seen = max(max_dirs_seen, n_dirs)
            # bound: 1 compacted carry-over + one batch per file in this
            # run (+ sentinel file on the last run)
            assert n_dirs <= per_run + 2, n_dirs
            compact_correlation_store(spark, f"{d}/out")
            assert len([x for x in os.listdir(f"{d}/out/correlations")
                        if x.startswith("batch_id=")]) == 1
        assert max_dirs_seen > 1  # the runs really were incremental

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-")
                      & ~F.col("key2").startswith("ZZ-")))
        ticks = spark.createDataFrame(all_rows, TICK_SCHEMA)
        candles = candles_pipeline(ticks, ticks.select("key").distinct(),
                                   "120 seconds")
        want = pairwise_correlations(log_returns(candles), CFG)
        got_map = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
                   for r in got.collect()}
        want_map = {(int(r.window_start.timestamp() * 1000), r.key1, r.key2):
                    round(r.value, 9) for r in want.collect()}
        assert got_map == want_map and len(got_map) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_correlation_store(spark):
    """Folding the log store to one batch preserves the snapshot
    exactly and drops superseded directories."""
    import os
    import random
    from datetime import datetime, timezone

    from data_timeseries_java_spark.fixtures import demo_tick_rows
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_compact_")
    try:
        rng = random.Random(23)
        rows = demo_tick_rows()
        buckets = [[], [], []]
        for r in rows:
            buckets[min(r[1].minute // 4, 2)].append(r)
        for i, b in enumerate(buckets):
            rng.shuffle(b)
            spark.createDataFrame(b, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f3")
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=DEMO_UNIVERSE)
        q.awaitTermination(180)

        before = {tuple(r) for r in
                  read_streaming_correlations(spark, f"{d}/out").collect()}
        stats = compact_correlation_store(spark, f"{d}/out")
        assert stats["batches_before"] > 1 and stats["batches_after"] == 1
        dirs = [x for x in os.listdir(f"{d}/out/correlations")
                if x.startswith("batch_id=")]
        assert len(dirs) == 1
        after = {tuple(r) for r in
                 read_streaming_correlations(spark, f"{d}/out").collect()}
        assert after == before and len(after) == stats["rows"]
        # idempotent: a second compaction is a no-op
        assert compact_correlation_store(spark, f"{d}/out")[
            "batches_after"] == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)
