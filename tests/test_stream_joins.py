"""Stream-stream interval join and watermarked dedup: stream ≡ batch.

Pattern: all real data lands in micro-batch 1 (single json file —
the watermark is still -inf then, so nothing is dropped as late
input), followed by far-future sentinel files in later batches
(maxFilesPerTrigger=1) that advance the watermark and flush any
held state; the append-mode stream output then equals the batch
answer exactly. Splitting real data across batches would require
time-ordered chunks — with random chunks, rows arriving behind an
already-advanced watermark are dropped at the input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.streaming.joins import (
    dedup_within_watermark,
    interval_join,
)

_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


@pytest.fixture(scope="module")
def event_frame(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    return ev.select("event_id", "ts", "user_id", "event_type", "value").limit(800)


def _write_stream_source(spark, ev, path: str) -> None:
    """One data file (batch 1) + 2 sentinel files (watermark flushers)."""
    chunk = ev.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    chunk.coalesce(1).write.json(path)
    sentinel = spark.createDataFrame(
        [(999_999_001, "2030-01-01 00:00:00", -1, "sentinel", 0.0),
         (999_999_002, "2030-01-02 00:00:00", -1, "sentinel", 0.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    )
    for i in range(2):
        sentinel.filter(F.col("event_id") == 999_999_001 + i).coalesce(1).write.mode(
            "append"
        ).json(path)


def _run_stream(spark, path, transform, name):
    stream = (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", "1").json(path)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_interval_join_stream_matches_batch(spark, event_frame, tmp_path):
    ev = event_frame
    src = str(tmp_path / "ev_join_src")
    _write_stream_source(spark, ev, src)

    def joined(frame):
        errors = frame.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"), "user_id", "ts"
        )
        clicks = frame.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        ).withColumnRenamed("c_user", "user_id")
        out = interval_join(
            errors, clicks, key="user_id", left_ts="ts", right_ts="c_ts",
            interval_seconds=6 * 3600, watermark_delay="1 hour",
        )
        return out.select("err_id", "click_id")

    batch_expected = {(r.err_id, r.click_id) for r in joined(ev).collect()}
    got = {(r.err_id, r.click_id) for r in _run_stream(spark, src, joined, "sj_out").collect()}
    assert len(batch_expected) > 0  # fixture actually produces matches
    assert got == batch_expected


def test_dedup_within_watermark_stream_matches_batch(spark, event_frame, tmp_path):
    # force duplicates: union the frame with itself
    ev = event_frame
    dup = ev.unionByName(ev)
    src = str(tmp_path / "ev_dedup_src")
    _write_stream_source(spark, dup, src)

    def dedup(frame):
        return dedup_within_watermark(
            frame.filter(F.col("event_type") != "sentinel"),
            keys=["event_id"], ts_col="ts", watermark_delay="1 hour",
        ).select("event_id")

    batch_ids = sorted(r.event_id for r in dedup(dup).collect())
    got_ids = sorted(r.event_id for r in _run_stream(spark, src, dedup, "sd_out").collect())
    assert len(batch_ids) == ev.count()
    assert got_ids == batch_ids
