"""Watermarked event-time windows: late data dropped, windows finalized
exactly once (the capability upgrade over the reference's
processing-time-only model), and the watermark lag the
streaming_late_data oracle encodes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

BASE = 1_700_000_000  # epoch anchor


def write_batches(tmp_path, batches):
    d = tmp_path / "in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.txt"
        p.write_text("\n".join(f"{t} v={v}" for (t, v) in rows) + "\n")
        # the file source orders triggers by modification time, not name —
        # force a strictly increasing mtime so batch order is deterministic
        os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    return str(d)


def parse(spark, src):
    raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    split = F.split(F.col("value"), " ", 2)
    return raw.select(
        split[0].cast("double").alias("time"),
        F.regexp_extract(split[1], r"^v=(\S+)$", 1).cast("double").alias("v"),
    )


def windowed_sums(parsed, watermark):
    """Append-mode one-minute tumbling (count, sum(v)) per window over
    the epoch-seconds ``time``, rows later than *watermark* dropped."""
    return (
        parsed.withColumn("_evt", F.timestamp_seconds(F.col("time")))
        .withWatermark("_evt", watermark)
        .groupBy(F.window("_evt", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("v"), 4).alias("sum_v"),
        )
        .select(F.col("w.start").alias("window_start"), "n_rows", "sum_v")
    )


def test_late_rows_dropped_windows_finalized(spark, tmp_path):
    # Watermark updates lag one micro-batch (batch N's filter uses the
    # max event time from batches <= N-2), so the too-late replay of a
    # minute-0 row goes in the THIRD file: by then the watermark derived
    # from trigger 1 (BASE+250 - 2min) has passed the minute-0 window and
    # the row must be dropped, not re-open the closed window.
    batches = [
        [(BASE + 10, 1.0), (BASE + 250, 2.0)],
        [(BASE + 600, 4.0)],
        [(BASE + 5, 100.0), (BASE + 1200, 8.0)],  # 100.0 is too late
    ]
    src = write_batches(tmp_path, batches)
    stats = windowed_sums(parse(spark, src), "2 minutes")
    q = (
        stats.writeStream.format("memory")
        .queryName("wm_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        int(r["window_start"].timestamp()): (r["n_rows"], r["sum_v"])
        for r in spark.sql("SELECT * FROM wm_mem").collect()
    }
    def wstart(t):
        return t - t % 60

    # minute-0 window finalized WITHOUT the late 100.0 row
    assert rows[wstart(BASE + 10)] == (1, 1.0)
    # the other on-time windows finalized with exactly their rows
    assert rows[wstart(BASE + 250)] == (1, 2.0)
    assert rows[wstart(BASE + 600)] == (1, 4.0)
    # the newest window is still open (watermark hasn't passed it)
    assert wstart(BASE + 1200) not in rows


def test_watermark_lag_model_canary(spark, tmp_path):
    """Canary for the ONE engine internal the streaming_late_data oracle
    encodes (queries/streaming_q.py WM oracle): the watermark used while
    processing batch i equals max event time over batches 0..i-2 minus
    the delay (Structured Streaming advances the watermark at batch END,
    and the commit protocol makes it visible one batch later — a
    two-batch observable lag). If a Spark upgrade changes that lag, THIS
    test fails naming the assumption, instead of streaming_late_data
    presenting an opaque oracle hash mismatch (VERDICT r3 item 4).

    Asserted from the horse's mouth: StreamingQueryProgress for batch i
    reports the watermark AFTER the start-of-batch update — max event
    time through batch i-1, minus delay. The drop filter during batch i
    uses the value in effect before that update, i.e. the one reported
    for batch i-1: max through batch i-2 — exactly the oracle's model.
    Three single-file batches with known maxima pin the progression; if
    either lag shifts, the report curve shifts with it and this fails by
    name.
    """
    import datetime as dt

    delay = 120  # 2 minutes
    batches = [
        [(BASE + 10, 1.0), (BASE + 250, 2.0)],  # max = BASE+250
        [(BASE + 600, 4.0)],  # max = BASE+600
        [(BASE + 5, 9.0), (BASE + 1200, 8.0)],  # max = BASE+1200
    ]
    src = write_batches(tmp_path, batches)
    stats = windowed_sums(parse(spark, src), f"{delay} seconds")
    q = (
        stats.writeStream.format("memory")
        .queryName("wm_canary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_canary"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress]
    finally:
        q.stop()

    def wm_epoch(p) -> float:
        s = p["eventTime"].get("watermark", "1970-01-01T00:00:00.000Z")
        return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()

    by_batch = {p["batchId"]: wm_epoch(p) for p in progress}
    batch_max = [max(t for t, _ in b) for b in batches]
    # reported wm(i) = max(batches 0..i-1) - delay; the filter during
    # batch i uses reported wm(i-1) = max(0..i-2) - delay (oracle model)
    for i in range(3):
        prior_max = max(batch_max[:i], default=0)
        expected = max(prior_max - delay, 0) if prior_max else 0.0
        assert by_batch[i] == expected, (
            f"watermark lag model broken at batch {i}: the progress "
            f"report no longer shows max-through-batch-(i-1) minus "
            f"delay, so the drop filter is no longer "
            f"max-through-batch-(i-2); re-derive streaming_late_data's "
            f"oracle (queries/streaming_q.py WM model) for this Spark "
            f"version"
        )
    # after the final no-data batch the watermark reaches the global max
    final = max(by_batch[i] for i in by_batch)
    assert final == batch_max[-1] - delay
