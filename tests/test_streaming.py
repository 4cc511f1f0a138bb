"""Structured Streaming extension: file-source ingestion, watermarked
windowed aggregation, graph snapshot append via foreachBatch."""

import os

import pytest
from pyspark.sql import functions as F

from agensgraph_spark.loader import read_table
from agensgraph_spark.streaming import (
    drain_to_memory,
    stream_append_label,
    stream_file_source,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "landing")
    events = read_table(spark, SF, "events")
    events.limit(2000).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_file_source(spark, src, schema)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["window_start"], r["event_type"]): r["n"]
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    exp = {(r["ws"], r["event_type"]): r["n"] for r in
           spark.read.parquet(src)
           .groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp and len(got) > 0


def test_stream_append_label_snapshot(spark, tmp_path):
    src = str(tmp_path / "edges_in")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    orders = read_table(spark, SF, "orders").limit(500)
    orders.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def to_edges(df):
        return df.select(
            (F.lit(17 << 48) + F.col("o_orderkey")).alias("id"),
            (F.lit(1 << 48) + F.col("o_custkey")).alias("start"),
            (F.lit(4 << 48) + F.col("o_orderkey")).alias("end"),
        )

    q = stream_append_label(stream_file_source(spark, src, schema),
                            snap, ckpt, transform=to_edges)
    q.awaitTermination(120)
    out = spark.read.parquet(snap)
    assert out.count() == 500
    assert set(out.columns) == {"id", "start", "end"}

    # second batch of files lands → incremental pickup from checkpoint
    orders2 = read_table(spark, SF, "orders").limit(700)
    orders2.write.mode("overwrite").parquet(str(tmp_path / "stage2"))
    for f in os.listdir(str(tmp_path / "stage2")):
        if f.endswith(".parquet"):
            os.rename(os.path.join(str(tmp_path / "stage2"), f),
                      os.path.join(src, "b2_" + f))
    q2 = stream_append_label(stream_file_source(spark, src, schema),
                             snap, ckpt, transform=to_edges)
    q2.awaitTermination(120)
    assert spark.read.parquet(snap).count() == 500 + 700


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState gap sessionization: two bursts per user
    separated by > gap close one session per burst; final sessions stay
    open (no watermark flush in availableNow) — we check the closed ones."""
    import datetime as dt

    from agensgraph_spark.streaming.sessionize import sessionize

    src = str(tmp_path / "sess_in")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, minute, value):
        return (uid, base + dt.timedelta(minutes=minute), float(value))

    rows = [
        # user 1: burst A (3 events), 90-min gap, burst B (2 events)
        ev(1, 0, 1.0), ev(1, 5, 2.0), ev(1, 10, 3.0),
        ev(1, 100, 4.0), ev(1, 105, 5.0),
        # user 2: single burst
        ev(2, 0, 10.0), ev(2, 20, 10.0),
        # sentinel far in the future advances user clocks past timeouts
        ev(1, 1000, 0.0), ev(2, 1000, 0.0),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
        .write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    sess = sessionize(stream, gap_seconds=1800, watermark="0 seconds")
    q = (sess.writeStream.format("memory").queryName("sessions")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["n_events"], r["total_value"])
           for r in spark.sql("SELECT * FROM sessions").collect()}
    assert (1, 3, 6.0) in got       # user 1 burst A closed by burst B
    assert (1, 2, 9.0) in got       # user 1 burst B closed by sentinel
    assert (2, 2, 20.0) in got      # user 2 burst closed by sentinel


def test_interval_join_boundaries(spark, tmp_path):
    """Hand-placed timestamps pin the interval bounds: a view exactly
    lookback before the click joins, one second earlier does not, a
    view after the click never joins."""
    from agensgraph_spark.streaming.join import interval_join
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = str(tmp_path / "iv_src")
    rows = [
        (1, "2024-01-01 10:00:00", 7, "click"),
        (10, "2024-01-01 09:30:00", 7, "view"),   # exactly lookback: in
        (11, "2024-01-01 09:29:59", 7, "view"),   # 1s too old: out
        (12, "2024-01-01 10:00:00", 7, "view"),   # same instant: in
        (13, "2024-01-01 10:00:01", 7, "view"),   # after click: out
        (14, "2024-01-01 09:45:00", 8, "view"),   # other user: out
    ]
    (spark.createDataFrame(rows, "event_id long, ts string, user_id long,"
                           " event_type string")
     .withColumn("ts", F.to_timestamp("ts"))
     .write.parquet(src))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    clicks = (stream.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts")))
    views = (stream.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts")))
    j = interval_join(clicks, views, F.col("c_user") == F.col("v_user"),
                      "c_ts", "v_ts", lookback_seconds=1800)
    q = (j.writeStream.format("memory").queryName("iv_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.click_id, r.view_id)
                 for r in spark.table("iv_sink").collect())
    assert got == [(1, 10), (1, 12)]


def test_interval_join_rejects_negative_lookback(spark):
    from agensgraph_spark.streaming.join import interval_join
    df = spark.range(1).select(F.col("id"),
                               F.current_timestamp().alias("ts"))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        interval_join(df, df, F.lit(True), "ts", "ts", lookback_seconds=-1)



def test_drain_to_memory_timeout_raises(spark, tmp_path):
    """A query still running at the deadline is stopped and raises:
    its memory sink holds a partial result. The one row sleeps past the
    deadline, so the timeout always fires."""
    import time
    src = str(tmp_path / "landing")
    spark.range(1).write.parquet(src)
    stream = stream_file_source(spark, src, spark.read.parquet(src).schema)
    nap = F.udf(lambda v: time.sleep(5) or v, "long")
    with pytest.raises(TimeoutError, match="never_drains"):
        drain_to_memory(stream.select(nap("id").alias("id")),
                        "never_drains", "append", timeout_s=1)
    assert not any(q.name == "never_drains" for q in spark.streams.active)


def test_drain_to_memory_failed_query_raises(spark, tmp_path):
    src = str(tmp_path / "landing")
    spark.range(3).write.parquet(src)
    stream = stream_file_source(spark, src, spark.read.parquet(src).schema)
    bad = stream.select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        drain_to_memory(bad, "fails_midway", "append")
    assert not any(q.name == "fails_midway" for q in spark.streams.active)
