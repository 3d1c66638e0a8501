"""Streaming integration tests (the reference's tests/test_socket.py role).

- multi-trigger exact-count packs with remainder carry (the one custom
  stateful operator);
- end-to-end file-source -> parse -> pack -> partitioned parquet sink;
- live TCP socket source against an in-process server.
"""

from __future__ import annotations

import glob
import os
import shutil
import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.plans.profile import DeviceProfile, GroupSpec
from tower_parse_spark.streaming import pipeline as P
from tower_parse_spark.streaming import sources as SRC

PROBE = DeviceProfile(
    name="probe",
    regex=[r"^(?P<level>\d+) RH= (?P<rh>\S+) %RH T= (?P<temp>\S+) .C ID=(?P<id>\d+)$"],
    group=GroupSpec("level", "int"),
    pack_length=4,
)


def probe_line(level: int, rh: float, seq: int) -> str:
    return f"{level:02d} RH= {rh:+08.3f} %RH T= {-rh:+08.3f} 'C ID={seq:07d}"


def write_line_files(tmp_path, batches):
    d = tmp_path / "in"
    d.mkdir()
    for i, lines in enumerate(batches):
        (d / f"b{i}.txt").write_text("\n".join(lines) + "\n")
    return str(d)


def write_packs_of(spark, tmp_path, src, pack_length, order_cols):
    """Run ``write_packs`` over the spool *src*, one file per trigger,
    until it is drained, and read back the pack files it wrote."""
    lines = SRC.file_lines(spark, src, max_files_per_trigger=1)
    packed = P.PackedStream(
        P.parse_stream(lines, PROBE), pack_length, "level", order_cols
    )
    out = str(tmp_path / "packs")
    q = P.write_packs(packed, out, str(tmp_path / "ckpt"), "level")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out).collect()


def test_stream_pack_remainder_carry(spark, tmp_path):
    """Exactly-N packs across micro-batches: 3 triggers x 3 rows at N=4
    must yield packs [0,1] (8 rows) and keep 1 row buffered in state."""
    batches = [
        [probe_line(1, float(i), i) for i in range(3)],
        [probe_line(1, float(i), i) for i in range(3, 6)],
        [probe_line(1, float(i), i) for i in range(6, 9)],
    ]
    src = write_line_files(tmp_path, batches)
    rows = write_packs_of(spark, tmp_path, src, 4, ("id",))
    # 9 rows in, 8 emitted (two full packs), 1 carried in state
    assert len(rows) == 8
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r["pack_id"], []).append(r)
    assert {p: len(v) for p, v in by_pack.items()} == {0: 4, 1: 4}
    # file order is not trigger order, but within each pack seq is 0..3
    for v in by_pack.values():
        assert sorted(r["pack_seq"] for r in v) == [0, 1, 2, 3]


def test_stream_pack_multi_group(spark, tmp_path):
    """Per-group independent pack counters (Buffer-per-group parity)."""
    batches = [
        [probe_line(1, 1.0, 1), probe_line(2, 2.0, 2), probe_line(1, 3.0, 3)],
        [probe_line(1, 4.0, 4), probe_line(1, 5.0, 5), probe_line(2, 6.0, 6)],
    ]
    src = write_line_files(tmp_path, batches)
    rows = write_packs_of(spark, tmp_path, src, 2, ("id",))
    g1 = sorted(r["id"] for r in rows if r["level"] == 1)
    g2 = sorted(r["id"] for r in rows if r["level"] == 2)
    assert g1 == [1.0, 3.0, 4.0, 5.0]  # two full packs of 2
    assert g2 == [2.0, 6.0]  # one full pack (cross-trigger carry!)


def test_end_to_end_parquet_sink(spark, tmp_path):
    """File stream -> parse -> pack -> partitioned parquet: key in the
    directory, dropped from data files (A18-A20)."""
    lines = [probe_line(lvl, float(i), i) for i, lvl in enumerate([1, 1, 2, 1, 2, 1, 2, 2])]
    src = write_line_files(tmp_path, [lines])
    base = tmp_path / "out"
    q = P.run_ingest(
        spark,
        DeviceProfile(
            name="probe",
            regex=PROBE.regex,
            group=GroupSpec("level", "int"),
            pack_length=2,
        ),
        SRC.file_lines(spark, src),
        str(base),
        trigger={"availableNow": True},
    )
    q.awaitTermination(60)
    out = spark.read.parquet(str(base / "data"))
    # partition columns come back from the path; all 8 rows in full packs
    assert sorted(out.columns) == sorted(
        ["time", "level", "rh", "temp", "id", "pack_id", "pack_seq"]
    )
    assert out.count() == 8
    # on-disk layout: level=<g>/pack_id=<n> directories (A19)
    leveldirs = sorted(p.name for p in (base / "data").iterdir() if p.is_dir())
    assert leveldirs == ["level=1", "level=2"]


def crash_after_epoch_write(monkeypatch, epoch: int) -> dict:
    """Make the next ``write_packs`` call's epoch body raise once, right
    after epoch *epoch*'s pack files land and before its checkpoint
    commit — the worst window. ``write_packs`` looks
    ``make_epoch_writer`` up at call time, so the wrapper is installed
    there (the traced benchmark wraps it the same way)."""
    real_factory = P.make_epoch_writer
    crashed = {"hit": False}

    def factory(out_dir, group_col):
        real_writer = real_factory(out_dir, group_col)

        def crash_after_write(batch_df, epoch_id):
            real_writer(batch_df, epoch_id)  # the pack files land...
            if epoch_id >= epoch and not crashed["hit"]:
                crashed["hit"] = True
                # ...then the process dies before the offset/state commit
                raise RuntimeError("injected crash between sink write and commit")

        return crash_after_write

    monkeypatch.setattr(P, "make_epoch_writer", factory)
    return crashed


def run_until_crash(q, crashed, monkeypatch) -> None:
    with pytest.raises(Exception, match="injected crash"):
        q.processAllAvailable()
        q.awaitTermination(60)
    assert crashed["hit"] and not q.isActive
    monkeypatch.undo()


def pack_dir_files(data_dir) -> dict[tuple[str, str], list[str]]:
    """Every entry of every ``<group>=g/pack_id=n`` directory."""
    return {
        (g, pid): sorted(os.listdir(os.path.join(data_dir, g, pid)))
        for g in os.listdir(data_dir)
        for pid in os.listdir(os.path.join(data_dir, g))
    }


def test_exactly_once_across_kill_restart(spark, tmp_path, monkeypatch):
    """A21 exactly-once proof (VERDICT r3 item 3): kill the stream in the
    worst window — AFTER an epoch's parquet lands, BEFORE its checkpoint
    commits — restart from the same checkpoint, and assert the sink holds
    each pack exactly once. With a plain append sink the replayed epoch
    would double its packs; the packer's deterministic per-pack file name
    makes the replay rewrite-in-place. The reference DROPS the
    in-flight pack in this crash (readport.py:409-419); here nothing is
    lost and nothing is duplicated."""
    from tower_parse_spark.streaming.packs import PACK_FILE

    batches = [
        [probe_line(1, float(i), i) for i in range(4 * b, 4 * b + 4)]
        for b in range(4)
    ]  # 16 rows, pack_length 4 -> packs 0..3, one file per trigger
    src = write_line_files(tmp_path, batches)
    data_dir = str(tmp_path / "out" / "data")
    ckpt = str(tmp_path / "out" / "checkpoint")
    profile = DeviceProfile(
        name="probe", regex=PROBE.regex, group=GroupSpec("level", "int"),
        pack_length=4,
    )

    crashed = crash_after_epoch_write(monkeypatch, 1)
    q = P.write_packs(
        P.packed_stream(
            SRC.file_lines(spark, src, max_files_per_trigger=1), profile
        ),
        out_dir=data_dir,
        checkpoint_dir=ckpt,
        group_col="level",
    )
    run_until_crash(q, crashed, monkeypatch)
    # the crashed epoch's parquet IS on disk — the duplication hazard
    assert spark.read.parquet(data_dir).count() >= 8

    # restart from the same checkpoint with the production sink
    q2 = P.write_packs(
        P.packed_stream(
            SRC.file_lines(spark, src, max_files_per_trigger=1), profile
        ),
        out_dir=data_dir,
        checkpoint_dir=ckpt,
        group_col="level",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out = spark.read.parquet(data_dir).collect()
    assert len(out) == 16  # every row exactly once — no loss, no dupes
    by_pack = {}
    for r in out:
        by_pack.setdefault((r["level"], r["pack_id"]), set()).add(r["id"])
    assert {k: len(v) for k, v in by_pack.items()} == {
        (1, 0): 4, (1, 1): 4, (1, 2): 4, (1, 3): 4
    }
    assert sorted(x for v in by_pack.values() for x in v) == sorted(
        float(i) for i in range(16)
    )
    # one data file per pack directory, and no temp file left anywhere
    assert pack_dir_files(data_dir) == {
        ("level=1", f"pack_id={i}"): [PACK_FILE] for i in range(4)
    }
    assert len(glob.glob(f"{data_dir}/*/*/*.parquet")) == 4


def test_replay_removes_stale_pack_file(spark, tmp_path, monkeypatch):
    """A pack directory that also holds a data file another writer left
    (a ``part-00000-<uuid>`` name, as the earlier commit-protocol sink
    wrote) ends, once its epoch is replayed, with the pack's rows exactly
    once in one file."""
    from tower_parse_spark.streaming.packs import PACK_FILE

    src = write_line_files(tmp_path, [
        [probe_line(1, float(i), i) for i in range(4 * b, 4 * b + 4)]
        for b in range(2)
    ])
    data_dir = tmp_path / "out" / "data"
    ckpt = str(tmp_path / "out" / "checkpoint")

    def start():
        return P.write_packs(
            P.packed_stream(
                SRC.file_lines(spark, src, max_files_per_trigger=1), PROBE
            ),
            out_dir=str(data_dir),
            checkpoint_dir=ckpt,
            group_col="level",
        )

    crashed = crash_after_epoch_write(monkeypatch, 1)
    run_until_crash(start(), crashed, monkeypatch)
    pack_dir = data_dir / "level=1" / "pack_id=1"
    shutil.copy(
        pack_dir / PACK_FILE,
        pack_dir / "part-00000-0b5e5a3c-2f4e-4d7a-9b1c-6e2d8f0a1b2c.c000.snappy.parquet",
    )
    assert spark.read.parquet(str(data_dir)).count() == 12

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert pack_dir_files(str(data_dir)) == {
        ("level=1", "pack_id=0"): [PACK_FILE],
        ("level=1", "pack_id=1"): [PACK_FILE],
    }
    out = spark.read.parquet(str(data_dir)).collect()
    assert sorted(r["id"] for r in out) == [float(i) for i in range(8)]
    assert sorted(r["pack_id"] for r in out) == [0] * 4 + [1] * 4


UNGROUPED = DeviceProfile(name="probe", regex=PROBE.regex, pack_length=4)


def state_partitions(ckpt) -> list[str]:
    """The state-store partition directories of the checkpoint's one
    stateful operator."""
    parts = (ckpt / "state" / "0").iterdir()
    return sorted(p.name for p in parts if p.name.isdigit())


def offset_log_partitions(ckpt) -> str:
    """``spark.sql.shuffle.partitions`` as the offset log recorded it
    when the query first started (line 2 of a batch's offsets file is
    its metadata JSON)."""
    import json

    meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_single_group_stream_starts_on_one_state_partition(spark, tmp_path):
    """An ungrouped profile's pack stream (key ``_g``) starts with one
    state partition and records it in its offset log; a grouped one
    records the session's count. Neither call changes the session."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    lines = [probe_line(1 + i % 2, float(i), i) for i in range(8)]
    src = write_line_files(tmp_path, [lines])
    grouped = DeviceProfile(
        name="probe", regex=PROBE.regex, group=GroupSpec("level", "int"),
        pack_length=4,
    )
    for profile, want in ((UNGROUPED, "1"), (grouped, before)):
        base = tmp_path / profile.name / P.group_column(profile)
        q = P.run_ingest(
            spark, profile, SRC.file_lines(spark, src), str(base),
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        assert offset_log_partitions(base / "checkpoint") == want
        assert len(state_partitions(base / "checkpoint")) == int(want)
        assert spark.read.parquet(str(base / "data")).count() == 8


def test_single_group_restart_keeps_checkpoint_partitions(spark, tmp_path):
    """A ``_g`` checkpoint created with 4 state partitions (started
    without ``write_packs``' single-partition scope) resumes through
    ``write_packs`` with 4, and every row lands in exactly one full
    pack."""
    from tower_parse_spark.session import scoped_shuffle_partitions
    from tower_parse_spark.streaming.packs import stream_pack_files

    src = write_line_files(
        tmp_path, [[probe_line(1, float(i), i) for i in range(3 * b, 3 * b + 3)]
                   for b in range(2)]
    )
    data_dir = str(tmp_path / "out" / "data")
    ckpt = tmp_path / "out" / "checkpoint"
    packed = P.packed_stream(
        SRC.file_lines(spark, src, max_files_per_trigger=1), UNGROUPED
    )
    with scoped_shuffle_partitions(spark, 4):
        q = (
            stream_pack_files(
                packed.parsed, packed.pack_length, P.SINGLE_GROUP, data_dir,
                packed.order_cols,
            )
            .writeStream.foreachBatch(
                P.make_epoch_writer(data_dir, P.SINGLE_GROUP)
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert state_partitions(ckpt) == ["0", "1", "2", "3"]

    for b in range(2, 4):
        (tmp_path / "in" / f"b{b}.txt").write_text(
            "\n".join(probe_line(1, float(i), i) for i in range(3 * b, 3 * b + 3))
            + "\n"
        )
    q2 = P.write_packs(
        P.packed_stream(
            SRC.file_lines(spark, src, max_files_per_trigger=1), UNGROUPED
        ),
        out_dir=data_dir,
        checkpoint_dir=str(ckpt),
        group_col=P.SINGLE_GROUP,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert offset_log_partitions(ckpt) == "4"
    assert state_partitions(ckpt) == ["0", "1", "2", "3"]
    out = spark.read.parquet(data_dir).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r["id"])
    assert {k: len(v) for k, v in by_pack.items()} == {0: 4, 1: 4, 2: 4}
    assert sorted(x for v in by_pack.values() for x in v) == [
        float(i) for i in range(12)
    ]


def test_single_group_start_failure_restores_session_conf(spark, tmp_path):
    """``start()`` raising inside ``write_packs``' scope (``foreachBatch``
    rejects a continuous trigger) leaves the session's shuffle-partition
    count as it was."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = write_line_files(tmp_path, [[probe_line(1, 1.0, 1)]])
    with pytest.raises(Exception, match="continuous trigger"):
        P.write_packs(
            P.packed_stream(SRC.file_lines(spark, src), UNGROUPED),
            out_dir=str(tmp_path / "data"),
            checkpoint_dir=str(tmp_path / "checkpoint"),
            group_col=P.SINGLE_GROUP,
            trigger={"continuous": "1 second"},
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_dead_letter_stream(spark, tmp_path):
    """A12 streaming: corrupt lines land in the quarantine parquet with
    their raw text; clean lines flow to packs — nothing silently drops."""
    lines = [
        probe_line(1, 1.0, 1),
        "GARBAGE ###",
        probe_line(1, 2.0, 2),
        "torn",
    ]
    src = write_line_files(tmp_path, [lines])
    stream = SRC.file_lines(spark, src)
    errors_dir = str(tmp_path / "errors")
    q = P.write_dead_letters(
        P.dead_letter_stream(stream, PROBE),
        errors_dir,
        str(tmp_path / "ckpt_dl"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    bad = sorted(r["line"] for r in spark.read.parquet(errors_dir).collect())
    assert bad == ["GARBAGE ###", "torn"]


def test_streaming_session_window(spark, tmp_path):
    """Native session windows on a STREAM with watermark: sessions
    finalize (append mode) once the watermark passes; the same operator
    the batch events_session_window query proves against the oracle."""
    # two sessions for id=1 separated by > 10s gap; event-times as epoch
    batch1 = [probe_line(1, 100.0, 1), probe_line(1, 101.0, 2)]
    batch2 = [probe_line(1, 200.0, 3), probe_line(1, 999.0, 99)]
    d = tmp_path / "in_sw"
    d.mkdir()
    (d / "b0.txt").write_text("\n".join(batch1) + "\n")
    (d / "b1.txt").write_text("\n".join(batch2) + "\n")
    import os

    os.utime(d / "b0.txt", (1, 1))  # deterministic trigger order (mtime)
    os.utime(d / "b1.txt", (2, 2))
    lines = SRC.file_lines(spark, str(d), max_files_per_trigger=1)
    parsed = P.parse_stream(lines, PROBE)
    # rh carries the event time in these synthetic lines
    sessions = (
        parsed.withColumn("_evt", F.timestamp_seconds(F.col("rh")))
        .withWatermark("_evt", "10 seconds")
        # streaming session windows require a grouping key next to the
        # window (global session agg is unsupported) — group per level
        .groupBy("level", F.session_window("_evt", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("s"), "n")
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["s"]: r["n"] for r in spark.sql("SELECT * FROM sess_mem").collect()}
    # sessions at 100-101 (2 events) and 200 (1 event) are finalized by
    # the 999 watermark push; the 999 session itself is still open
    assert rows == {100: 2, 200: 1}


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join (clicks x purchases per user within 5s):
    both sides watermarked, the range condition bounds the join state —
    the streaming twin of the batch range join."""
    clicks = [probe_line(1, 10.0, 1), probe_line(1, 20.0, 2)]
    buys = [probe_line(1, 12.0, 51), probe_line(1, 40.0, 52)]
    dc, db = tmp_path / "in_c", tmp_path / "in_b"
    dc.mkdir(), db.mkdir()
    (dc / "c.txt").write_text("\n".join(clicks) + "\n")
    (db / "b.txt").write_text("\n".join(buys) + "\n")
    parse = lambda path: P.parse_stream(
        SRC.file_lines(spark, str(path)), PROBE
    ).withColumn("_evt", F.timestamp_seconds(F.col("rh")))
    c = (
        parse(dc)
        .select(
            F.col("level").alias("c_level"),
            F.col("id").alias("click_id"),
            F.col("_evt").alias("c_evt"),
        )
        .withWatermark("c_evt", "1 minute")
    )
    b = (
        parse(db)
        .select(
            F.col("level").alias("b_level"),
            F.col("id").alias("buy_id"),
            F.col("_evt").alias("b_evt"),
        )
        .withWatermark("b_evt", "1 minute")
    )
    joined = c.join(
        b,
        (F.col("c_level") == F.col("b_level"))
        & (F.col("b_evt") >= F.col("c_evt"))
        & (F.col("b_evt") < F.col("c_evt") + F.expr("INTERVAL 5 SECONDS")),
    ).select("click_id", "buy_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["click_id"], r["buy_id"])
        for r in spark.sql("SELECT * FROM ssj_mem").collect()
    )
    # click@10 matches buy@12 (within 5s); click@20 matches nothing
    assert got == [(1.0, 51.0)]


def test_metrics_listener_heartbeat(spark, tmp_path):
    """A24: the heartbeat listener records per-batch progress (rows/s,
    batch duration, the packer's state figures, the pack files and bytes
    the sink wrote) for an ingest query wired through run_ingest."""
    from tower_parse_spark.streaming.metrics import attach_metrics

    emitted = []
    listener = attach_metrics(spark, emit=emitted.append)
    try:
        lines = [probe_line(1, float(i), i) for i in range(4)]
        src = write_line_files(tmp_path, [lines])
        base = tmp_path / "out_hb"
        q = P.run_ingest(
            spark,
            DeviceProfile(
                name="hb_probe",
                regex=PROBE.regex,
                group=GroupSpec("level", "int"),
                pack_length=2,
            ),
            SRC.file_lines(spark, src),
            str(base),
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)
        # listener events are delivered async on the bus thread
        deadline = time.time() + 20
        while time.time() < deadline and not any(
            r["query"] == "ingest_hb_probe" and r["num_input_rows"] > 0
            for r in listener.records
        ):
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    beats = [r for r in listener.records if r["query"] == "ingest_hb_probe"]
    assert any(r["num_input_rows"] == 4 for r in beats)
    assert all(r["batch_duration_ms"] >= 0 for r in beats)
    assert all("rows_per_sec" in r for r in beats)
    for key in ("packs.update_ms", "packs.commit_ms", "packs.state_rows"):
        assert all(r[key] >= 0 for r in beats)
    files = glob.glob(str(base / "data" / "*" / "*" / "*.parquet"))
    assert len(files) == 2  # 4 rows of one level in packs of 2
    assert sum(r["sink.files"] for r in beats) == 2
    assert sum(r["sink.bytes"] for r in beats) == sum(
        os.path.getsize(f) for f in files
    )
    assert emitted == listener.records  # emit hook sees every heartbeat
    assert ("started", "ingest_hb_probe") in listener.events


def test_rate_source_live(spark):
    """A5 live: the rate-source generator emits parseable fake_server
    lines at the configured rate; the parse plan runs on the stream."""
    lines = SRC.rate_lines(spark, rows_per_second=50, num_partitions=2)
    parsed = P.parse_stream(lines, PROBE)
    q = (
        parsed.writeStream.format("memory")
        .queryName("rate_mem")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rate_mem").count() >= 20:
                break
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM rate_mem").collect()
    finally:
        q.stop()
    assert len(rows) >= 20
    assert {r["level"] for r in rows} <= {1, 2}  # generator level cycle
    assert all(r["rh"] is not None for r in rows)


class LineServer(threading.Thread):
    """In-process TCP server (tests/test_socket.py:114-124 analog)."""

    def __init__(self, lines):
        super().__init__(daemon=True)
        self.lines = lines
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.done = threading.Event()

    def run(self):
        conn, _ = self.sock.accept()
        with conn:
            payload = "".join(l + "\n" for l in self.lines).encode()
            # torn + coalesced packets (fake_server --realistic semantics)
            mid = len(payload) // 2
            conn.sendall(payload[:mid])
            time.sleep(0.2)
            conn.sendall(payload[mid:])
            self.done.wait(30)
        self.sock.close()


def test_socket_source_live(spark, tmp_path):
    """A1/A6: socket line source reassembles torn packets into lines and
    stamps processing time."""
    lines = [probe_line(1, float(i), i) for i in range(6)]
    server = LineServer(lines)
    server.start()
    src = SRC.socket_lines(spark, "127.0.0.1", server.port)
    parsed = P.parse_stream(src, PROBE)
    q = (
        parsed.writeStream.format("memory")
        .queryName("sock_mem")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM sock_mem").count() >= 6:
                break
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM sock_mem").collect()
    finally:
        server.done.set()
        q.stop()
    assert len(rows) == 6
    ids = sorted(r["id"] for r in rows)
    assert ids == [float(i) for i in range(6)]
    assert all(r["time"] > 1.0e9 for r in rows)  # processing-time stamped


def test_spool_double_format_roundtrips_exactly(spark):
    """The pack-carry replay spool serializes the arrival timestamp with
    %%.17g and re-parses it with cast('double'): 17 significant digits
    guarantee bit-exact double round-trip. Lock the invariant across
    magnitudes (epoch seconds, negatives, subnormal-ish, integers)."""
    from pyspark.sql import functions as F

    vals = [
        1704583776.640325,
        1.705501227422899e9,
        -0.000123456789012345,
        12345678901234.5,
        2.0,
        1e-300,
        7.0 / 3.0,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "ts double")
    bad = (
        df.select(
            "ts",
            F.format_string("%.17g", F.col("ts")).cast("double").alias("back"),
        )
        .where(F.col("back") != F.col("ts"))
        .count()
    )
    assert bad == 0
