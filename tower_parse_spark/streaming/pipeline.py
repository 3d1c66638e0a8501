"""The end-to-end streaming ingest pipeline (SURVEY.md §3.1, Spark form).

Reference dataflow: socket -> readline -> timestamp -> queue -> extract ->
buffer -> npz flush. Spark form: line source -> extraction projection
(same plan as batch, zero code divergence) -> exact-count packs, each
written as its own parquet file by the task that cuts it.

Upgrades over the reference, by design (SURVEY.md §4.2):
- checkpoint + WAL => exactly-once file output (the reference drops a full
  pack on any sink failure, readport.py:409-419);
- graceful stop via ``StreamingQuery.stop()`` (SIGINT drain semantics,
  readport.py:48-61);
- restart supervision replaces the reconnect loop (readport.py:95-118).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tower_parse_spark.functions.extraction import extract_lines
from tower_parse_spark.plans.profile import SINGLE_GROUP, DeviceProfile
from tower_parse_spark.session import scoped_shuffle_partitions
from tower_parse_spark.streaming.packs import stream_pack_files


def parse_stream(lines: DataFrame, profile: DeviceProfile) -> DataFrame:
    """The batch extraction plan applied to a stream — same operator
    (extract_lines is a pure projection, so it is trigger-agnostic)."""
    return extract_lines(lines, profile)


def group_column(profile: DeviceProfile) -> str:
    """The pack key column: the profile's group variable, or the constant
    :data:`SINGLE_GROUP` (``_g``) of a degenerate single-group stream
    (the reference's group=None buffer, readport.py:256-271)."""
    return profile.group.var if profile.group else SINGLE_GROUP


@dataclass(frozen=True)
class PackedStream:
    """What :func:`write_packs` needs to build the pack-writing operator:
    the parsed stream with its key column, the pack length, the key and
    the columns rows are packed in order of (the last one breaks ties;
    see ``operators/pack.py``).

    The operator's closure carries the output directory and is pickled
    when the operator is built, so ``write_packs``, which knows the
    directory, builds it."""

    parsed: DataFrame
    pack_length: int
    group_col: str
    order_cols: tuple[str, ...] = ("time",)


def packed_stream(lines: DataFrame, profile: DeviceProfile) -> PackedStream:
    parsed = parse_stream(lines, profile)
    group = group_column(profile)
    if profile.group is None:
        parsed = parsed.withColumn(group, F.lit(0))
    return PackedStream(parsed, profile.pack_length, group)


def make_epoch_writer(out_dir: str, group_col: str):
    """The per-epoch body ``write_packs`` installs under ``foreachBatch``.

    The packer writes every pack file itself (``streaming/packs.py``), so
    the epoch only has to run it: the body materializes the epoch's
    ``(group, pack_id, rows, bytes)`` rows through the noop sink, one job
    with no shuffle and no commit protocol. *out_dir* and *group_col*
    name the sink the packer writes; the body does not need them, but
    the signature stays so a caller can wrap the body per sink (the
    traced benchmark times it; the tests inject a crash after it).

    Exactly-once: a crash after the files land but before the checkpoint
    commit replays the epoch from the same offsets and the same
    pre-epoch state version, which cuts the same packs and rewrites the
    same file names, so the sink ends with each pack once
    (`tests/test_streaming.py::test_exactly_once_across_kill_restart`).
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.format("noop").mode("overwrite").save()

    return write_epoch


def write_packs(
    packed: PackedStream,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str,
    query_name: str = "ingest",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Columnar compressed partitioned atomic sink (A18-A20): one parquet
    file per pack, ``<out_dir>/<group_col>=<g>/pack_id=<n>/part-0.parquet``
    — the key lives in the directory names and is dropped from the data
    file, exactly the reference's '{group} in filename, popped from
    vectors' layout (readport.py:398-400), and readable as a Spark
    partitioned table.

    The stateful packer writes each pack in the task that cuts it
    (``streaming/packs.py``: dot-temp file, rename, other visible data
    files in the pack directory removed) and emits one row per pack;
    ``foreachBatch`` runs :func:`make_epoch_writer` (looked up at call
    time) over those rows. There is no shuffle after the packer and no
    commit-protocol job.

    Delivery: offsets and state are checkpointed per epoch, and a
    replayed epoch rewrites the same deterministic file names from the
    same pre-epoch state (:func:`make_epoch_writer`), so the sink holds
    each pack exactly once across any crash/restart — vs the reference's
    drop-pack-on-failure at-most-once (readport.py:409-419).

    Observability: the summary rows are observed as ``sink`` (``files``,
    ``bytes``, ``rows`` per epoch), so every progress event carries what
    the epoch wrote without an extra job; ``IngestMetricsListener``
    reports it.

    State partitions: a stream keyed by :data:`SINGLE_GROUP` starts on ONE
    state partition; any other key gets the session's
    ``spark.sql.shuffle.partitions``. With one key, every other partition
    is empty, yet each one loads and commits a state store every epoch
    and holds a Python worker. The count is set only around ``start()``
    (:func:`~tower_parse_spark.session.scoped_shuffle_partitions`): Spark
    records it in the new checkpoint's offset log, so a restart keeps it,
    and a checkpoint created with K partitions resumes with K. Trade-off:
    a single-group epoch's packs are cut and written by that one task,
    one file after another. That is unmeasured for a catch-up epoch that
    emits many packs; perfbench's ``spool_backlog`` emits at most one
    pack per epoch."""
    if group_col != packed.group_col:
        raise ValueError(
            f"group_col {group_col!r} is not the stream's key {packed.group_col!r}"
        )
    written = stream_pack_files(
        packed.parsed, packed.pack_length, group_col, out_dir,
        packed.order_cols,
    ).observe(
        "sink",
        F.count(F.lit(1)).alias("files"),
        F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"),
        F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
    )
    writer = (
        written.writeStream.foreachBatch(make_epoch_writer(out_dir, group_col))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    if group_col != SINGLE_GROUP:
        return writer.start()
    with scoped_shuffle_partitions(packed.parsed.sparkSession, 1):
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
