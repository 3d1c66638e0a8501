"""The end-to-end streaming ingest pipeline (SURVEY.md §3.1, Spark form).

Reference dataflow: socket -> readline -> timestamp -> queue -> extract ->
buffer -> npz flush. Spark form: line source -> extraction projection
(same plan as batch, zero code divergence) -> exact-count packs ->
checkpointed partitioned parquet.

Upgrades over the reference, by design (SURVEY.md §4.2):
- checkpoint + WAL => exactly-once file output (the reference drops a full
  pack on any sink failure, readport.py:409-419);
- graceful stop via ``StreamingQuery.stop()`` (SIGINT drain semantics,
  readport.py:48-61);
- restart supervision replaces the reconnect loop (readport.py:95-118).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tower_parse_spark.functions.extraction import extract_lines
from tower_parse_spark.plans.profile import DeviceProfile
from tower_parse_spark.streaming.packs import stream_pack


def parse_stream(lines: DataFrame, profile: DeviceProfile) -> DataFrame:
    """The batch extraction plan applied to a stream — same operator
    (extract_lines is a pure projection, so it is trigger-agnostic)."""
    return extract_lines(lines, profile)


def group_column(profile: DeviceProfile) -> str:
    """The pack key column: the profile's group variable, or the constant
    ``_g`` of a degenerate single-group stream (the reference's
    group=None buffer, readport.py:256-271)."""
    return profile.group.var if profile.group else "_g"


def packed_stream(lines: DataFrame, profile: DeviceProfile) -> DataFrame:
    parsed = parse_stream(lines, profile)
    group = group_column(profile)
    if profile.group is None:
        parsed = parsed.withColumn(group, F.lit(0))
    return stream_pack(parsed, profile.pack_length, group)


def make_epoch_writer(out_dir: str, group_col: str):
    """The idempotent per-epoch pack writer ``write_packs`` installs.

    Dynamic partition overwrite keyed by (group, pack_id): a pack is
    emitted by ``stream_pack`` in exactly ONE epoch (only completed packs
    leave the state store; the tail rides in state), so an epoch owns a
    fixed set of (group, pack_id) partitions. A replayed epoch — crash
    after the parquet write but before the checkpoint commit — recomputes
    the same packs from the same offsets + pre-epoch state version and
    OVERWRITES exactly its own partition dirs, leaving every other pack
    untouched. Replay is therefore a no-op, which upgrades at-least-once
    append to an exactly-once end state
    (`tests/test_streaming.py::test_exactly_once_across_kill_restart`).
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.repartition(group_col, "pack_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(group_col, "pack_id")
            .parquet(out_dir)
        )

    return write_epoch


def write_packs(
    packed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str,
    query_name: str = "ingest",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Columnar compressed partitioned atomic sink (A18-A20):
    parquet files partitioned by (group, pack_id) — the key lives in the
    directory name and is dropped from the data files, exactly the
    reference's '{group} in filename, popped from vectors' layout
    (readport.py:398-400).

    Written through ``foreachBatch``: partitionBy/repartition directly on
    the streaming state-op output trips a Spark columnar-transition gap
    (FlatMapGroupsInPandasWithState emits Arrow batches; the streaming
    planner feeds them to a row-based shuffle -> ClassCastException), while
    the batch planner inside foreachBatch inserts ColumnarToRow correctly.
    The in-batch repartition on (group, pack_id) makes each completed pack
    exactly one parquet file — the reference's one-npz-per-pack layout.

    Delivery: offsets are checkpointed per epoch and the epoch writer
    (:func:`make_epoch_writer`) is idempotent under replay, so the sink
    holds each pack exactly once across any crash/restart — vs the
    reference's drop-pack-on-failure at-most-once (readport.py:409-419)."""

    writer = (
        packed.writeStream.foreachBatch(make_epoch_writer(out_dir, group_col))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def echo(lines: DataFrame, query_name: str = "echo") -> StreamingQuery:
    """A4: dump the raw line stream to stdout (format discovery)."""
    return (
        lines.writeStream.format("console")
        .option("truncate", "false")
        .queryName(query_name)
        .start()
    )


def dead_letter_stream(
    lines: DataFrame, profile: DeviceProfile, line_col: str = "line"
) -> DataFrame:
    """A12 streaming form: the corrupt-line side channel — raw line +
    receive time for every record no regex branch matches (the records
    the reference silently skips, readport.py:490-494).

    Run as a SECOND query over a *replayable* source (file/kafka); a
    socket source is not replayable, so there the corrupt stream must be
    derived in-batch instead (or accept the reference's drop semantics).
    """
    parsed = extract_lines(
        lines, profile, keep_corrupt=True, extra_cols=[line_col]
    )
    return parsed.filter(F.col("_corrupt")).select("time", line_col)


def write_dead_letters(
    corrupt: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Append the corrupt-line stream to its own parquet dir — a
    replayable quarantine instead of a silent drop."""
    return (
        corrupt.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("dead_letter")
        .start()
    )


def run_ingest(
    spark,
    profile: DeviceProfile,
    lines: DataFrame | None,
    base_dir: str,
    trigger: dict | None = None,
    metrics: bool = False,
) -> StreamingQuery:
    """Wire source -> parse -> pack -> sink for one device profile
    (the `./readport.py --config X.conf` entry point, readport.py:739-778).

    *lines=None* derives the source from the profile's ``source`` option
    (socket | kafka | file | rate — sources.build_source, r6); passing a
    DataFrame keeps the explicit-source form for tests and composition.

    *metrics=True* attaches the A24 heartbeat listener
    (streaming/metrics.py) to the session bus before starting."""
    if lines is None:
        from tower_parse_spark.streaming.sources import build_source

        lines = build_source(spark, profile)
    if metrics:
        import sys

        from tower_parse_spark.streaming.metrics import attach_metrics

        attach_metrics(
            spark, emit=lambda rec: print(f"[heartbeat] {rec}", file=sys.stderr)
        )
    return write_packs(
        packed_stream(lines, profile),
        out_dir=os.path.join(base_dir, "data"),
        checkpoint_dir=os.path.join(base_dir, "checkpoint"),
        group_col=group_column(profile),
        query_name=f"ingest_{profile.name}",
        trigger=trigger,
    )


def event_time_stats(
    parsed: DataFrame,
    time_col: str = "time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    value_cols: list[str] | None = None,
):
    """Watermarked tumbling event-time aggregation on a parsed stream —
    the event-time/late-data capability the reference lacks entirely
    (processing-time only, SURVEY.md §2.B): rows later than *watermark*
    behind the max seen event time are dropped; windows finalize (append
    mode) once the watermark passes their end, so downstream sinks see
    each window exactly once.

    ``time`` is epoch-seconds double in the parse schema (reference
    parity); it converts to a proper timestamp here for watermarking.
    """
    vals = value_cols or []
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.round(F.sum(c), 4).alias(f"sum_{c}") for c in vals
    ]
    return (
        parsed.withColumn("_evt", F.timestamp_seconds(F.col(time_col)))
        .withWatermark("_evt", watermark)
        .groupBy(F.window("_evt", window).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )


def is_idle(query, timeout_s: float, now_ms: float | None = None) -> bool:
    """A3 read-timeout parity (readport.py:102, 139-144): the reference
    reconnects when no message arrives within ``timeout`` seconds. The
    socket source has no timeout option, so liveness is judged from
    streaming progress: idle = the last progress with input rows is older
    than *timeout_s* (or no progress at all yet).
    """
    import time as _time

    now_ms = now_ms if now_ms is not None else _time.time() * 1000
    progress = list(query.recentProgress)
    if not progress:
        return True
    last_active = None
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            last_active = p
    ref = last_active or progress[0]
    import datetime as _dt

    ts = _dt.datetime.fromisoformat(
        ref["timestamp"].replace("Z", "+00:00")
    ).timestamp() * 1000
    return (now_ms - ts) > timeout_s * 1000


def watch_idle(query, timeout_s: float, poll_s: float = 1.0, sleep=None) -> None:
    """Block until the query terminates or goes idle past *timeout_s*;
    on idle, stop it (the supervisor's restart then re-dials the source —
    the reference's timeout->reconnect cycle, readport.py:438-447)."""
    import time as _time

    sleep = sleep or _time.sleep
    while query.isActive:
        if is_idle(query, timeout_s):
            query.stop()
            return
        sleep(poll_s)


def run_supervised(
    start,
    max_restarts: int = 5,
    backoff_s: float = 1.0,
    sleep=None,
) -> int:
    """Restart supervision — A2 reconnect parity (readport.py:95-118,
    438-447): the reference retries the socket connection forever with a
    1 s pause; here the whole streaming query is the unit of restart
    (the socket source re-dials on query start).

    *start* is a zero-arg callable returning a started StreamingQuery;
    returns the number of restarts performed. A query that terminates
    WITHOUT exception (graceful stop) ends supervision; one that dies
    with an exception is restarted up to *max_restarts* times with
    linear backoff, then the last exception propagates.
    """
    import time as _time

    sleep = sleep or _time.sleep
    restarts = 0
    while True:
        query = start()
        try:
            query.awaitTermination()
            return restarts  # clean stop
        except Exception:
            if restarts >= max_restarts:
                raise
            restarts += 1
            sleep(backoff_s * restarts)


def stop_gracefully(query: StreamingQuery, timeout_s: float = 30.0) -> None:
    """SIGINT-drain parity (A22): finish the in-flight trigger, then stop.
    ``query.stop()`` interrupts after the current micro-batch commits, so
    no acknowledged data is lost (vs the reference's best-effort drain)."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_s)
