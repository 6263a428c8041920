"""Structured Streaming surface over the ``events`` table: tumbling and
sliding windows, watermarked late-data handling, streaming dedup.

Each operator has a *streaming* runner (readStream -> windowed agg ->
memory sink, driven to completion with ``processAllAvailable`` — the
local smoke pattern) and the *same logical spec* is what the batch
``queries()`` entries express, so the DuckDB oracle can check the
semantics: a tumbling/sliding aggregation over a static table
is the time-complete result of the streaming query.

Scale posture: watermarks bound state (late rows beyond the horizon are
dropped, state for closed windows is evicted); groupBy keys are
(window, type) so state is proportional to active windows, not events.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ts streams as a raw long and is converted per the parquet footer's
# physical unit (testdata fixtures have shipped both timestamp[ns] and
# timestamp[us] across rounds): ns longs are truncated to µs exactly
# like the batch reader (session.load_table); µs longs convert as-is.
# Declaring long (not timestamp) keeps the conversion explicit and
# yields TIMESTAMP (LTZ), which watermarks require (NTZ is rejected:
# EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
EVENTS_SCHEMA = "event_id long, ts long, user_id long, event_type string, value double, props string"


# Bounded smoke runs are state-store-setup bound: stream-stream joins
# allocate 4 state stores per partition per micro-batch, so width 8 -> 4
# measured 15-30% faster across the whole stream family (the earlier
# 32 -> 8 cut measured 6 s -> 2.7 s). A long-lived production stream
# sizes this to its key cardinality instead, and wants the RocksDB state
# store (state off-heap/on disk); the in-heap default measured faster
# for seconds-long bounded runs, which pay RocksDB's native setup per
# partition per operator.
_STREAM_WIDTH = 4

_STREAM_CLONES: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def _stream_session(spark: SparkSession) -> SparkSession:
    """A per-driver-session clone (shared SparkContext, OWN SQLConf)
    with at most ``_STREAM_WIDTH`` shuffle partitions, so the narrow
    setting stays invisible to every query on the caller's session.
    Memoized in a module-level weak mapping (never mutating the
    caller's session object) so all streams of one driver session share
    a catalog (stream-stream joins, memory-sink tables); the entry dies
    with the owning session."""
    clone = _STREAM_CLONES.get(spark)
    if clone is None:
        from ..session import _ensure_runtime_confs

        clone = spark.newSession()
        _ensure_runtime_confs(clone)
        width = clone.conf.get("spark.sql.shuffle.partitions")
        if width.isdigit() and int(width) > _STREAM_WIDTH:
            clone.conf.set("spark.sql.shuffle.partitions", str(_STREAM_WIDTH))
        _STREAM_CLONES[spark] = clone
    return clone


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded file stream, ts normalized to a
    µs-precision timestamp regardless of the file's physical unit.
    The stream is bound to the right-sized clone session."""
    from ..session import _ensure_runtime_confs, _nanos_timestamp_cols

    _ensure_runtime_confs(spark)
    spark = _stream_session(spark)
    path = os.path.join(sf_dir, "events.parquet")
    is_ns = "ts" in _nanos_timestamp_cols(path)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    micros = F.expr("ts div 1000") if is_ns else F.col("ts")
    return raw.withColumn("ts", F.timestamp_micros(micros))


def run_stream_to_table(stream_df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation over the bounded source to
    completion, materializing into an in-memory table ``name``; returns
    that table. The stream runs on the session that built it (the
    ``_stream_session`` clone for ``_events_stream`` sources), so no
    session-global conf is touched — the memory-sink view lives in the
    clone's catalog, which is why callers must consume the returned
    DataFrame rather than ``spark.table(name)``. Thin wrapper over
    :func:`run_streams_to_tables` so the sink/trigger chain exists in
    exactly one place."""
    return run_streams_to_tables([(stream_df, name)], output_mode)[0]


def tumbling_counts(events: DataFrame) -> DataFrame:
    """6-hour tumbling-window counts/sums per event_type with a
    watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window event counts: 12-hour windows every 6 hours, so
    each event lands in two windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "12 hours", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming dedup on (user_id, event_type) within a 1-hour
    watermark horizon (``dropDuplicatesWithinWatermark`` keeps bounded
    state)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_streams_to_tables(
    named: list[tuple[DataFrame, str]], output_mode: str = "complete"
) -> list[DataFrame]:
    """Drive several bounded streams CONCURRENTLY to completion (start
    all, then await all) — independent availableNow queries share the
    clone session's scheduler, so wall time is ~max, not sum."""
    started = [
        (
            df.sparkSession,
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start(),
            name,
        )
        for df, name in named
    ]
    out = []
    for s, q, name in started:
        q.awaitTermination()
        out.append(s.table(name))
    return out
