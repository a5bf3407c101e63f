"""Streaming windowed aggregation + event-time sessionization."""

import time

from pyspark.sql import functions as F

from baram_spark.streaming.windows import windowed_counts


def _events_stream(spark, tmp_path, name="ev"):
    src = str(tmp_path / name)
    (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .write.mode("overwrite")
        .parquet(src)
    )
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src), src


def test_windowed_counts_match_batch(spark, tmp_path):
    stream, src = _events_stream(spark, tmp_path)
    q = (
        windowed_counts(stream, window="1 day", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["key"]): (r["cnt"], r["value_sum"])
        for r in spark.sql("select * from win_counts").collect()
    }
    batch = (
        spark.read.parquet(src)
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.col("event_type").alias("key"),
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 6).alias("vs"))
        .collect()
    )
    # windows still open at end-of-stream (beyond the watermark frontier)
    # are not emitted in append mode: every emitted window must match batch
    exp = {(r["day"], r["key"]): (r["cnt"], r["vs"]) for r in batch}
    assert got, "no windows emitted"
    for k, v in got.items():
        assert exp[k] == v


def test_sessionize_event_time_out_of_order(spark, tmp_path):
    """TRUE event-time-gap semantics: a user's events arriving shuffled
    (and across micro-batches) still split into sessions by EVENT-time
    silence — two bursts 50 min apart are two sessions even though they
    arrive together, and a late event merges into its session."""
    from datetime import datetime, timedelta

    from baram_spark.streaming.windows import sessionize_event_time

    t0 = datetime(2024, 3, 1, 12, 0, 0)

    def ev(user, minutes, value=1.0):
        return (user, t0 + timedelta(minutes=minutes), value)

    schema = "user_id long, ts timestamp, value double"
    # deliberately shuffled arrival order
    rows = [
        ev(1, 55), ev(1, 0), ev(2, 0), ev(1, 10), ev(2, 120), ev(1, 60),
    ]

    # batch mode: same operator, watermark a no-op
    batch = sessionize_event_time(
        spark.createDataFrame(rows, schema), gap_minutes=30
    ).collect()
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in batch
    }
    gap = timedelta(minutes=30)
    assert got == {
        # user 1: burst [0,10] then burst [55,60] — 45 min of event-time
        # silence splits them (a processing-time variant would emit ONE)
        (1, t0): (2, t0 + timedelta(minutes=10) + gap),
        (1, t0 + timedelta(minutes=55)): (2, t0 + timedelta(minutes=60) + gap),
        (2, t0): (1, t0 + gap),
        (2, t0 + timedelta(minutes=120)): (1, t0 + timedelta(minutes=120) + gap),
    }

    # streaming: second drop carries a LATE out-of-order event (user 1 at
    # +5 min) that must merge into the first session, plus far-future flush
    # events so the watermark closes everything
    src = str(tmp_path / "ooo_events")
    d1 = spark.createDataFrame(rows, schema)
    d1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes → deterministic batch order
    late = [ev(1, 5), ev(99, 60 * 30), ev(98, 60 * 31)]
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(d1.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        sessionize_event_time(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("select * from ooo_sessions").collect()
    }
    # the late +5min event joined the first user-1 session
    assert emitted[(1, t0)] == 3
    assert emitted[(1, t0 + timedelta(minutes=55))] == 2
    assert emitted[(2, t0)] == 1
