"""Structured Streaming extension: file-source ingestion → windowed
aggregation and graph snapshot append.

The reference has no streaming operators (SURVEY.md §2.9 — its nearest
analogs are LISTEN/NOTIFY, src/backend/commands/async.c, and logical
decoding CDC, src/backend/replication/logical/). This module is the
north-star *extension*: continuous ingestion of new event/edge files
into the engine's immutable snapshot model.

Design:
- sources are directories of Parquet/JSON files (`readStream`), the
  cluster-native landing pattern for log shippers;
- event-time watermarks bound state for late data;
- graph ingestion goes through ``foreachBatch``: each micro-batch is a
  change-set DataFrame appended to a label's Parquet snapshot dir —
  identical to the batch write path, so one code path serves both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def stream_file_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A streaming DataFrame over a landing directory."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregate: the streaming analog of
    the batch events-hourly rollup. State for windows older than the
    watermark is dropped — bounded memory under unbounded input."""
    from pyspark.sql import types as T
    if isinstance(events.schema[ts_col].dataType, T.TimestampNTZType):
        # watermarks require TIMESTAMP; the cast is wall-clock-preserving
        # under a fixed session tz (sessions here run UTC)
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col(value_col).cast("double")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                key_col, "n", "total_value")
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication: turns at-least-once delivery into
    an exactly-once record set. First arrival of each key wins and is
    emitted immediately; later duplicates are filtered against state.

    When ``keys`` includes the event-time column, plain dropDuplicates
    state expires with the watermark; otherwise use Spark's
    dropDuplicatesWithinWatermark so the seen-set stays bounded — the
    required shape for delivery-dedup at 100 TB, where an unbounded
    global seen-set cannot fit in state."""
    from pyspark.sql import types as T
    if isinstance(events.schema[ts_col].dataType, T.TimestampNTZType):
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    wm = events.withWatermark(ts_col, watermark)
    if ts_col in keys:
        return wm.dropDuplicates(keys)
    return wm.dropDuplicatesWithinWatermark(keys)


def stream_append_label(
    stream_df: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> StreamingQuery:
    """Continuously append a (transformed) stream as new Parquet files
    of a label snapshot directory. foreachBatch keeps the write path
    identical to the batch engine: each micro-batch is a change-set
    DataFrame, each file append an immutable snapshot delta."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out.write.mode("append").parquet(snapshot_dir)

    return (stream_df.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())



def drain_to_memory(df: DataFrame, name: str, mode: str,
                    timeout_s: float = 300.0) -> DataFrame:
    """Run a streaming frame over the input available now into the
    in-memory table ``name`` (output mode ``mode``) and return that
    table. A query that fails or is still running after ``timeout_s`` is
    stopped and raises: its sink holds a partial result, and reading it
    as complete would be a silently wrong answer."""
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    try:
        done = q.awaitTermination(timeout_s)
        err = q.exception()
    finally:
        if q.isActive:
            q.stop()
    if err is not None:
        raise RuntimeError(f"streaming query {name!r} failed: {err}")
    if not done:
        raise TimeoutError(
            f"streaming query {name!r} still running after {timeout_s}s; "
            "its sink holds a partial result")
    return df.sparkSession.table(name)
