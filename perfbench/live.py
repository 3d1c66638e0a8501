"""``live_ingest``: open-loop live ingest of wide frames from 32 devices.

A separate generator process (gen.py ``live``) writes one spool file
every TICK_S seconds at OFFERED_ROWS_PER_S, stamping each frame with its
due time, on schedule whatever the engine does. The engine runs the
program's pipeline unchanged — ``file_lines`` -> ``packed_stream`` ->
``write_packs`` — under a processing-time trigger.

Before the generator starts, the same pipeline drains WARM_EPOCHS
live-sized epochs from a separate spool, so Python workers and
generated code are warm (a cold first epoch takes ~10 s, and epoch
times keep falling for several more). Then, from the first due row:
WARMUP_S of warm-up and the measured window of ``--seconds``; then the
stream drains, stops, and the outputs are checked.

A pack's latency runs from the due time of its newest row to the write
time of its parquet file; packs whose newest row is due in the window
count. ``rows_per_s`` is the rows committed after the stream's first
epoch, per second from that epoch's commit to the last: those are the
rows due in the window, which ends with the stream.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time

import check
import gen
import streams
from harness import HERE, quantile

#: Offered load, set once. A live epoch pays ~1 s of fixed cost plus
#: ~0.33 ms per row at packs of 25 on an idle 4-CPU host, and 2-2.5x
#: that when other tenants load the host: back to back at a 1 s
#: trigger the seed commit drains these frames at ~1200 rows/s idle and
#: ~500 rows/s loaded. 200 rows/s with a 5 s trigger keeps an epoch
#: (1000 rows, ~2.5 s loaded) inside the interval. At 300 rows/s with
#: a 3 s trigger, loaded stretches made epochs overrun the interval and
#: the pack latency median spread 0.25 over five runs.
OFFERED_ROWS_PER_S = 200.0
TICK_S = 0.25
TRIGGER_S = 5
#: where the first generator tick falls after a trigger: Spark fires
#: processing-time triggers on wall-clock multiples of the interval, so
#: a fixed phase makes every run see the same file-to-trigger offsets
#: (a random one moved pack latency by up to a tick from run to run)
PHASE_S = 0.1
WARMUP_S = 5.0
#: the warm-up pre-run: WARM_EPOCHS epochs of one trigger interval of
#: rows each (the cold first one compiles code and starts the Python
#: workers); the stream's own first epoch, before the window, follows
WARM_EPOCHS = 3
PROFILE = os.path.join(HERE, "profiles", "sonic32.conf")
VALUE_COLS = ["u", "v", "w", "c", "t_sonic", "p", "rh", "ta", "x", "y",
              "z", "q", "g"]


def _due(start_at: float, seq: int) -> float:
    """The due time frame *seq* carries, as the engine parses it."""
    return float("%.6f" % (start_at + seq / OFFERED_ROWS_PER_S))


def _warm_up(b, profile) -> None:
    from tower_parse_spark.streaming import pipeline
    from tower_parse_spark.streaming.sources import file_lines

    spool = b.path("warm", "spool")
    os.makedirs(spool)
    per = int(OFFERED_ROWS_PER_S * TRIGGER_S)
    for f in range(WARM_EPOCHS):
        gen.land(os.path.join(spool, f"w{f:03d}.txt"), "\n".join(
            gen.wide_line(b.seed, s, 1.0e9 + s)
            for s in range(f * per, (f + 1) * per)
        ) + "\n", mtime=time.time() - 1000 + f)
    query = pipeline.write_packs(
        pipeline.packed_stream(file_lines(b.spark, spool, 1), profile),
        b.path("warm", "data"), b.path("warm", "ckpt"), "dev",
        query_name="perfbench_warm", trigger={"availableNow": True},
    )
    b.wait(query)


def _run_stream(b, profile, spool, out, ckpt, writes):
    """Run the generator and the live query; return (start_at, epochs,
    generator report)."""
    from tower_parse_spark.streaming import pipeline
    from tower_parse_spark.streaming.sources import file_lines

    # the last file lands just before a trigger, so the final epoch
    # follows it at once
    duration = WARMUP_S + b.seconds - 2 * PHASE_S
    start_at = (int(time.time() + 1.0) // TRIGGER_S + 1) * TRIGGER_S + PHASE_S
    report = b.path("gen.json")
    genproc = subprocess.Popen([
        sys.executable, os.path.join(HERE, "gen.py"), "live",
        "--spool", spool, "--seed", str(b.seed),
        "--rate", repr(OFFERED_ROWS_PER_S), "--tick", repr(TICK_S),
        "--start-at", repr(start_at), "--duration", repr(duration),
        "--report", report,
    ])
    query = None
    try:
        with streams.traced_writer(b, writes):
            query = pipeline.write_packs(
                pipeline.packed_stream(file_lines(b.spark, spool), profile),
                out, ckpt, "dev", query_name="perfbench_live",
                trigger={"processingTime": f"{TRIGGER_S} seconds"},
            )
            with b.tracer.span("sources"):
                b.wait(query, timeout_s=duration + 60,
                       until=lambda: genproc.poll() is not None)
            # catch up on whatever the window left behind (raises if the
            # query failed); sample memory while the state is still held
            query.processAllAvailable()
            b.sample_memory()
    finally:
        if genproc.poll() is None:
            genproc.kill()
        genproc.wait()
        if query is not None:
            query.stop()
    if genproc.returncode != 0:
        raise RuntimeError(f"live generator exited {genproc.returncode}")
    with open(report) as fh:
        return start_at, streams.progress(query), json.load(fh)


def run(b) -> dict:
    from pyspark.sql import functions as F

    from tower_parse_spark.functions.extraction import extract_lines
    from tower_parse_spark.plans.profile import DeviceProfile

    profiles = []
    setup_s = b.setup(lambda i: profiles.append(DeviceProfile.from_ini(PROFILE)))
    spool, out, ckpt = b.path("spool"), b.path("data"), b.path("ckpt")
    profile = dataclasses.replace(profiles[-1], spool_dir=spool)
    os.makedirs(spool)
    _warm_up(b, profile)
    b.mark("warm")
    writes: list[tuple[int, float]] = []
    start_at, epochs, genrep = _run_stream(b, profile, spool, out, ckpt, writes)
    overhead_s = b.tracer.added_s
    b.mark("stream")

    # -- metrics ---------------------------------------------------------
    w0 = start_at + WARMUP_S
    w1 = w0 + b.seconds
    latencies, shape, packed, value_rows = [], [], [], []
    n_files = n_bytes = 0
    for dev, pid, written, nf, nb, t in streams.read_pack_dirs(
        out, "dev", ["seq", "due", "pack_seq"] + VALUE_COLS
    ):
        n_files, n_bytes = n_files + nf, n_bytes + nb
        for i, seq in enumerate(t["seq"]):
            seq = int(seq)
            shape.append((dev, pid, t["pack_seq"][i]))
            packed.append((dev, seq))
            value_rows.append(
                (seq, (dev, t["due"][i]) + tuple(t[c][i] for c in VALUE_COLS))
            )
        newest = max(t["due"])
        if w0 <= newest < w1:
            latencies.append(written - newest)
    if not latencies:
        raise RuntimeError("no pack completed inside the measured window")
    in_window = [e for e in epochs if w0 <= e["end"] < w1 and e["rows"] > 0]
    # the stream ends with the window, so the epochs after the first one
    # that saw rows commit exactly the rows due in the window
    data = [e for e in epochs if e["rows"] > 0]
    if len(data) < 2:
        raise RuntimeError("the stream committed fewer than two epochs")
    rows_per_s = sum(e["rows"] for e in data[1:]) / (
        data[-1]["end"] - data[0]["end"]
    )
    measured = {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_p95_s": quantile(latencies, 0.95),
    }
    b.report("pack_latency_p50_s", measured["latency_p50_s"], "s")
    b.report("pack_latency_p95_s", measured["latency_p95_s"], "s")
    b.report("pack_latency_p99_s", quantile(latencies, 0.99), "s")
    b.report("packs_in_window", len(latencies), "count")
    b.report("live_rows_per_s", rows_per_s, "rows/s")
    secs = streams.epoch_seconds(in_window)
    if secs:
        b.report("epoch_s_p50", statistics.median(secs), "s")
        b.report("epoch_s_max", max(secs), "s")
    b.report("offered_rows_per_s", OFFERED_ROWS_PER_S, "rows/s")

    # -- checks ----------------------------------------------------------
    n_rows = genrep["rows"]
    b.attempted = n_rows
    bad = {s for s in range(n_rows) if gen.is_malformed(b.seed, s)}
    valid = [(gen.device(b.seed, s), s) for s in range(n_rows) if s not in bad]

    def expected(seq):
        return (gen.device(b.seed, seq), _due(start_at, seq)) + tuple(
            float("%+08.3f" % v) for v in gen.wide_values(b.seed, seq)
        )

    b.check(check.pack_shape(shape, profile.pack_length))
    read_in = streams.file_epochs(ckpt)
    b.check(check.coverage(
        packed, valid, profile.pack_length,
        arrival=lambda _, seq: read_in[
            gen.live_file(seq, TICK_S, OFFERED_ROWS_PER_S)
        ],
    ))
    b.check(check.values(value_rows, expected))
    raw = b.spark.read.text(spool).select(
        F.col("value").alias("line"), F.lit(0.0).alias("ts")
    )
    corrupt = [
        r.line for r in extract_lines(
            raw, profile, keep_corrupt=True, extra_cols=["line"]
        ).filter("_corrupt").select("line").collect()
    ]
    planted = [
        gen.torn(gen.wide_line(b.seed, s, start_at + s / OFFERED_ROWS_PER_S))
        for s in sorted(bad)
    ]
    b.check(check.malformed(corrupt, planted))
    b.mark("checks")
    measured["peak_mem_mb"] = b.mem.peak_mb
    if not b.traced:
        return measured

    # -- per-layer (traced run) ------------------------------------------
    lag, committed = [], 0
    for e in epochs:  # rows spooled but not yet committed, at each commit
        committed += e["rows"]
        ticks = int(max(0.0, e["end"] - start_at) // TICK_S)
        spooled = min(n_rows, int(ticks * TICK_S * OFFERED_ROWS_PER_S))
        if w0 <= e["end"] < w1:
            lag.append(max(0, spooled - committed))
    with b.tracer.span("extraction"):
        t0 = time.monotonic()
        extract_lines(raw, profile).write.format("noop").mode("overwrite").save()
        extraction_s = time.monotonic() - t0
    measured.update(streams.pipeline_layers(in_window or epochs))
    measured.update({
        "gen.late_ms_p99": genrep["late_ms_p99"],
        "sources.lag_rows_p99": quantile(lag, 0.99) if lag else 0.0,
        "extraction.rows_per_s": n_rows / extraction_s,
        "sink.write_s_p50": statistics.median(d for _, d in writes) if writes else 0.0,
        "sink.files": n_files,
        "sink.bytes": n_bytes,
        "trace.overhead_s": overhead_s,
    })
    return measured
