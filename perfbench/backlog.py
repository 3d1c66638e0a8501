"""``spool_backlog``: closed loop over one pre-spooled narrow backlog.

BACKLOG_ROWS fake_server-shaped frames (4 variables, ungrouped, packs of
12000 like the reference's sonic configs) are spooled once per set-up.
Each round then processes the same spool three ways, each into fresh
output directories:

(a) drain    — streaming catch-up: ``file_lines`` (maxFilesPerTrigger
               FILES_PER_TRIGGER) -> ``packed_stream`` -> ``write_packs``
               under ``availableNow``: a few large epochs;
(b) backfill — ``spark.read.text`` -> ``extract_lines`` ->
               ``with_pack_id`` (the scalable three-pass path) -> parquet
               partitioned by pack id;
(c) readback — ``read_packs`` over the backfill output, materialized
               with the noop sink.

A warm-up round over a WARM_ROWS spool runs first (a cold first epoch
takes ~7 s); then rounds repeat while the next one, as long as the last,
still ends within ``--seconds`` (at least one round).
``rows_per_s`` is the spooled rows carried through all three parts per
second (3 x rows / round time), median over rounds; the latency
figures are the drain epochs' durations.
"""

from __future__ import annotations

import os
import statistics
import time

import check
import gen
import streams
from harness import HERE, quantile

BACKLOG_ROWS = 36_000
BACKLOG_FILES = 6
FILES_PER_TRIGGER = 2
WARM_ROWS = 2_000
PROFILE = os.path.join(HERE, "profiles", "probe4.conf")


def _lines(spark, spool):
    """The spool as (line, ts) rows, stamped with each file's landing
    time — the receive stamp a spool replay has."""
    from pyspark.sql import functions as F

    return spark.read.text(spool).select(
        F.col("value").alias("line"),
        F.col("_metadata.file_modification_time").cast("double").alias("ts"),
    )


def _backfill(b, profile, spool, out) -> None:
    from pyspark.sql import functions as F

    from tower_parse_spark.functions.extraction import extract_lines
    from tower_parse_spark.operators.pack import with_pack_id

    # the traced run splits the lazily fused extraction off the packing,
    # and the packing off the write
    parsed = b.tracer.split(
        extract_lines(_lines(b.spark, spool), profile), "extraction"
    )
    with b.tracer.span("pack"):
        packed = b.tracer.split(with_pack_id(
            parsed, profile.pack_length, None, order_cols=["time", "id"]
        ))
    (packed.withColumn("_g", F.lit(0))
     .write.partitionBy("_g", "pack_id").parquet(out))


def _readback(b, out) -> None:
    from tower_parse_spark.streaming.packstore import read_packs

    with b.tracer.span("packstore"):
        read_packs(b.spark, out, "_g").write.format("noop").mode(
            "overwrite"
        ).save()


def _drain(b, profile, spool, out, ckpt, writes) -> list[dict]:
    from tower_parse_spark.streaming import pipeline
    from tower_parse_spark.streaming.sources import file_lines

    with streams.traced_writer(b, writes), b.tracer.span("drain"):
        query = pipeline.write_packs(
            pipeline.packed_stream(
                file_lines(b.spark, spool, FILES_PER_TRIGGER), profile
            ),
            out, ckpt, "_g", query_name="perfbench_drain",
            trigger={"availableNow": True},
        )
        try:
            b.wait(query)
        finally:
            query.stop()
    return streams.progress(query)


def _check_round(b, profile, valid_ids, first, r) -> None:
    """Round *r*'s drain packs and backfill packs against the
    generator's values. The backfill orders by (landing time, id) — id
    order — so each row's pack id and position are known too. The drain
    packs each epoch's rows in arrival order (one processing timestamp
    for the whole epoch), so only its shape and coverage are, and the
    rows it leaves in state must come from the last epochs read."""
    length = profile.pack_length
    read_in = streams.file_epochs(b.path(f"r{r}", "ckpt"))

    def arrival(_, seq):
        return read_in[gen.backlog_file(seq, first, BACKLOG_ROWS, BACKLOG_FILES)]

    def expected(seq):
        level, rh, temp = gen.narrow_values(seq)
        return (float(level), float("%+08.3f" % rh), float("%+08.3f" % temp))

    def expected_placed(seq):
        rank = valid_ids[seq]
        return expected(seq) + (rank // length, rank % length)

    for part, batch in (("drain", False), ("backfill", True)):
        out = b.path(f"r{r}", part)
        shape, packed, value_rows = [], [], []
        for g, pid, _, _, _, t in streams.read_pack_dirs(
            out, "_g", ["id", "pack_seq", "level", "rh", "temp"]
        ):
            for i, seq in enumerate(t["id"]):
                seq = int(seq)
                shape.append((g, pid, t["pack_seq"][i]))
                packed.append((g, seq))
                got = (t["level"][i], t["rh"][i], t["temp"][i])
                if batch:
                    got += (pid, t["pack_seq"][i])
                value_rows.append((seq, got))
        b.check(check.pack_shape(shape, length, partial_last=batch))
        b.check(check.coverage(
            packed, [(0, s) for s in valid_ids], length,
            arrival=None if batch else arrival,
        ))
        b.check(check.values(value_rows, expected_placed if batch else expected))


def run(b) -> dict:
    from tower_parse_spark.plans.profile import DeviceProfile

    spool = b.path("spool")
    profiles, firsts = [], []

    def prepare(i):
        profiles.append(DeviceProfile.from_ini(PROFILE))
        if os.path.isdir(spool):
            for name in os.listdir(spool):
                os.remove(os.path.join(spool, name))
        firsts.append(gen.write_backlog(spool, b.seed, BACKLOG_ROWS, BACKLOG_FILES))

    setup_s = b.setup(prepare)
    profile, first = profiles[-1], firsts[-1]
    ids = [s for s in range(first, first + BACKLOG_ROWS)
           if not gen.is_malformed(b.seed, s)]
    valid_ids = {s: rank for rank, s in enumerate(ids)}
    n_rows = len(ids)

    warm = b.path("warm", "spool")
    gen.write_backlog(warm, b.seed, WARM_ROWS, 2)
    with b.untraced():
        _drain(b, profile, warm, b.path("warm", "drain"), b.path("warm", "ckpt"), [])
        _backfill(b, profile, warm, b.path("warm", "backfill"))
        _readback(b, b.path("warm", "backfill"))
    b.mark("warm")

    rounds, epochs, writes = [], [], []
    t_start = time.monotonic()
    r = 0
    # rounds while the next one, as long as the last, still ends in time
    while r == 0 or time.monotonic() + sum(rounds[-1]) - t_start <= b.seconds:
        a_out, b_out = b.path(f"r{r}", "drain"), b.path(f"r{r}", "backfill")
        t0 = time.monotonic()
        round_epochs = _drain(b, profile, spool, a_out, b.path(f"r{r}", "ckpt"), writes)
        t1 = time.monotonic()
        with b.tracer.span("backfill"):
            _backfill(b, profile, spool, b_out)
        t2 = time.monotonic()
        _readback(b, b_out)
        t3 = time.monotonic()
        rounds.append((t1 - t0, t2 - t1, t3 - t2))
        epochs.extend(round_epochs)
        r += 1
    overhead_s = b.tracer.added_s
    b.sample_memory()
    b.mark("rounds")

    secs = streams.epoch_seconds(epochs)
    measured = {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(3 * n_rows / sum(x) for x in rounds),
        "latency_p50_s": statistics.median(secs),
        "latency_p95_s": quantile(secs, 0.95),
    }
    rates = {
        name: statistics.median(n_rows / x[i] for x in rounds)
        for i, name in enumerate(("drain", "backfill", "readback"))
    }
    for name, v in rates.items():
        b.report(f"{name}_rows_per_s", v, "rows/s")
    b.report("rounds", len(rounds), "count")
    b.report("drain_epochs", len(secs), "count")

    # -- checks: every round's drain and backfill, the last read-back -----
    b.attempted = n_rows * (2 * len(rounds) + 1)
    for i in range(len(rounds)):
        _check_round(b, profile, valid_ids, first, i)
    _check_readback(b, profile, ids, b.path(f"r{len(rounds) - 1}", "backfill"))
    _check_malformed(b, profile, spool, first)
    b.mark("checks")
    measured["peak_mem_mb"] = b.mem.peak_mb
    if not b.traced:
        return measured

    # -- per-layer (traced run) ------------------------------------------
    from tower_parse_spark.functions.extraction import extract_lines

    with b.tracer.span("extraction"):
        t0 = time.monotonic()
        extract_lines(_lines(b.spark, spool), profile).write.format(
            "noop"
        ).mode("overwrite").save()
        extraction_s = time.monotonic() - t0
    measured.update(streams.pipeline_layers(epochs))
    measured.update({
        "extraction.rows_per_s": BACKLOG_ROWS / extraction_s,
        "sink.write_s_p50": statistics.median(d for _, d in writes) if writes else 0.0,
        "pack.with_pack_id_s": statistics.median(b.tracer.durations("pack")),
        "packstore.read_packs_s": statistics.median(b.tracer.durations("packstore")),
        "stage.drain_rows_per_s": rates["drain"],
        "stage.backfill_rows_per_s": rates["backfill"],
        "stage.readback_rows_per_s": rates["readback"],
        "trace.overhead_s": overhead_s,
    })
    files = nbytes = 0
    for _, _, _, nf, nb, _ in streams.read_pack_dirs(b.path("r0", "drain"), "_g", []):
        files, nbytes = files + nf, nbytes + nb
    measured["sink.files"], measured["sink.bytes"] = files, nbytes
    # the single-slot baseline: the same backfill at local[1]
    b.stop_session()
    b.start_session(cpus=1)
    t0 = time.monotonic()
    with b.untraced():
        _backfill(b, profile, spool, b.path("one_slot"))
    measured["pack.backfill_rows_per_s_1slot"] = n_rows / (time.monotonic() - t0)
    return measured


def _check_readback(b, profile, ids, out) -> None:
    """``read_packs`` returns one row per pack whose id array is that
    pack's slice of the id-ordered rows."""
    from tower_parse_spark.streaming.packstore import read_packs

    length = profile.pack_length
    errors = []
    got = {r.pack_id: (r.n_rows, list(r.id)) for r in
           read_packs(b.spark, out, "_g").select("pack_id", "n_rows", "id").collect()}
    want_packs = -(-len(ids) // length)
    if sorted(got) != list(range(want_packs)):
        errors.append(f"read_packs returned packs {sorted(got)[:5]}..., want 0..{want_packs - 1}")
    for pid, (n, arr) in got.items():
        want = [float(s) for s in ids[pid * length:(pid + 1) * length]]
        if n != len(want) or arr != want:
            errors.append(f"read_packs pack {pid}: {n} rows, ids differ from the spool order")
    b.check(errors)


def _check_malformed(b, profile, spool, first) -> None:
    from tower_parse_spark.functions.extraction import extract_lines

    corrupt = [
        r.line for r in extract_lines(
            _lines(b.spark, spool), profile, keep_corrupt=True,
            extra_cols=["line"],
        ).filter("_corrupt").select("line").collect()
    ]
    planted = [gen.torn(gen.narrow_line(s))
               for s in range(first, first + BACKLOG_ROWS)
               if gen.is_malformed(b.seed, s)]
    b.check(check.malformed(corrupt, planted))
