"""Structured Streaming over Spark's built-in event-time windows: a
watermarked sliding window equals the batch operator."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_streaming_sliding_windows_match_batch_operator(spark, tmp_path):
    """readStream + watermark over the same sliding F.window ≡ the batch
    sliding_window_counts on a finite backlog (AvailableNow drains it and
    the watermark closes every window)."""
    from datetime import timedelta

    from morphik_core_spark.operators.analytics import sliding_window_counts

    schema = "event_id long, event_type string, ts timestamp"
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, "click" if i % 3 else "view", t0 + timedelta(seconds=47 * i))
        for i in range(60)
    ]
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    windowed = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.col("event_type"), F.window("ts", "600 seconds", "300 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("event_type", F.col("w.start").alias("window_start"), "n_events")
    )

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate"

    got = {
        (r.event_type, r.window_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    batch = sliding_window_counts(spark.createDataFrame(rows, schema), "event_type", "ts", 600, 300)
    expected = {(r.event_type, r.window_start, r.n_events) for r in batch.collect()}
    # append mode emits only watermark-closed windows; everything emitted
    # must agree exactly with the batch operator
    assert got <= expected
    # the withheld set is exactly the windows still open under the final
    # watermark (max event time - delay): window_end > watermark
    max_ts = max(r[2] for r in rows)
    watermark = max_ts - timedelta(minutes=10)
    missing = expected - got
    assert all(ws + timedelta(seconds=600) > watermark for _, ws, _ in missing)
    assert len(got) >= len(expected) * 0.5  # the bulk was emitted closed
