"""Streaming near-duplicate dedup (streaming/neardup.py).

Pins the three properties VERDICT r6 #2 asks for: cross-batch near-dup
suppression through the signature index, exactly-once index growth
across a kill/restart (checkpoint continuation AND direct epoch
replay), and that the probe never reads the current epoch's partition.
"""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.streaming import neardup as ND

T_A = "the quick brown fox jumps over the lazy dog today"
T_B = "pack my box with five dozen liquor jugs right now"
T_C = "sphinx of black quartz judge my vow and more words here"


def _spool(tmp_path, batches):
    spool = str(tmp_path / "in")
    os.makedirs(spool, exist_ok=True)
    t0 = time.time() - len(batches) - 10
    for i, rows in enumerate(batches):
        p = os.path.join(spool, f"b{i:02d}.txt")
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(f"{doc_id} {text}\n")
        os.utime(p, (t0 + i, t0 + i))
    return spool


def _stream(spark, spool):
    src = spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
    sp = F.split(F.col("value"), " ", 2)
    return src.select(
        sp[0].cast("long").alias("doc_id"), sp[1].alias("text")
    )


def _paths(tmp_path):
    return (
        str(tmp_path / "idx"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, spool, idx, ver, ckpt):
    q = ND.stream_minhash_dedup(_stream(spark, spool), idx, ver, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_cross_batch_near_dup_suppression(spark, tmp_path):
    batches = [
        [(1, T_A), (2, T_B), (5, T_A)],  # 5 = in-batch copy of 1
        [(10, T_A), (11, T_B + " extra tail"), (12, T_C)],
        [(20, T_C)],  # exact copy of batch-1 SURVIVOR 12
    ]
    spool = _spool(tmp_path, batches)
    idx, ver, ckpt = _paths(tmp_path)
    _run(spark, spool, idx, ver, ckpt)
    out = {
        r.doc_id: r
        for r in spark.read.option("basePath", ver).parquet(ver).collect()
    }
    assert len(out) == 7
    # batch 0: no history; 5 is an in-batch dup of 1
    assert not out[1].is_dup and not out[1].in_batch_dup
    assert out[5].in_batch_dup and not out[5].is_dup
    # batch 1: exact + near copies of indexed docs flag; novel survives
    assert out[10].is_dup and out[10].max_est_jaccard == 1.0
    assert out[11].is_dup and 0.5 <= out[11].max_est_jaccard < 1.0
    assert not out[12].is_dup and not out[12].in_batch_dup
    # batch 2: copy of the batch-1 survivor flags against the GROWN index
    assert out[20].is_dup and out[20].max_est_jaccard == 1.0
    # index holds exactly the survivors, one partition per epoch
    idx_df = spark.read.option("basePath", idx).parquet(idx)
    assert sorted(
        r.doc_id for r in idx_df.select("doc_id").distinct().collect()
    ) == [1, 2, 12]
    # batch 2 produced no survivors, so it contributes no partition
    assert sorted(
        r.batch for r in idx_df.select("batch").distinct().collect()
    ) == [0, 1]


def test_kill_restart_continues_and_grows_exactly_once(spark, tmp_path):
    idx, ver, ckpt = _paths(tmp_path)
    spool = _spool(tmp_path, [[(1, T_A), (2, T_B)]])
    _run(spark, spool, idx, ver, ckpt)  # batch 0, then "crash"
    n_files_b0 = len(glob.glob(f"{idx}/batch=0/*.parquet"))
    # restart on the SAME checkpoint with one more file
    p = os.path.join(spool, "b01.txt")
    with open(p, "w") as f:
        f.write(f"10 {T_A}\n")
        f.write(f"12 {T_C}\n")
    _run(spark, spool, idx, ver, ckpt)
    out = {
        r.doc_id: r
        for r in spark.read.option("basePath", ver).parquet(ver).collect()
    }
    assert out[10].is_dup and not out[12].is_dup  # index survived restart
    assert out[10].batch == 1  # epoch numbering continued
    idx_df = spark.read.option("basePath", idx).parquet(idx)
    assert sorted(
        r.doc_id for r in idx_df.select("doc_id").distinct().collect()
    ) == [1, 2, 12]
    # batch 0's partition untouched by the restart
    assert len(glob.glob(f"{idx}/batch=0/*.parquet")) == n_files_b0


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """A crashed-and-replayed epoch rewrites its own partitions instead
    of double-appending, and never probes its own half-written
    partition."""
    idx, ver, _ = _paths(tmp_path)
    b0 = spark.createDataFrame([(1, T_A), (2, T_B)], "doc_id long, text string")
    ND.process_epoch(b0, 0, idx, ver)
    b1 = spark.createDataFrame([(10, T_A), (12, T_C)], "doc_id long, text string")
    ND.process_epoch(b1, 1, idx, ver)
    ND.process_epoch(b1, 1, idx, ver)  # replay after a simulated crash
    idx_df = spark.read.option("basePath", idx).parquet(idx)
    # exactly-once: one signature row set per doc, no duplicates
    per_doc = (
        idx_df.groupBy("doc_id", "band_key").count().filter("count > 1")
    )
    assert per_doc.count() == 0
    assert sorted(
        r.doc_id for r in idx_df.select("doc_id").distinct().collect()
    ) == [1, 2, 12]
    out = spark.read.option("basePath", ver).parquet(ver)
    # the replayed epoch's verdicts are unchanged: 10 still dups against
    # batch 0 only (its own epoch's partition is never probed)
    r10 = out.filter("doc_id = 10").collect()
    assert len(r10) == 1 and r10[0].is_dup and r10[0].n_hist_matches == 1


def test_stream_start_validates_index_family_once(spark, tmp_path):
    """r16: the per-epoch hash-family guard moved to stream START (the
    epochs only probe rows this loop wrote itself, so the one-row guard
    job per epoch was pure driver latency). The foot-gun it guards —
    restarting a stream over an existing index with a DIFFERENT
    hash_fn, which would silently never collide — must still raise, and
    must raise BEFORE any epoch runs."""
    batches = [[(1, T_A), (2, T_B)]]
    spool = _spool(tmp_path, batches)
    idx, ver, ckpt = _paths(tmp_path)
    _run(spark, spool, idx, ver, ckpt)  # default hash_fn='fast' index

    with pytest.raises(ValueError, match="hash_fn"):
        ND.stream_minhash_dedup(
            _stream(spark, spool),
            idx,
            ver,
            str(tmp_path / "ckpt2"),
            hash_fn="portable",
        )
    # nothing of the mismatched restart ran: no second checkpoint dir
    assert not os.path.exists(str(tmp_path / "ckpt2"))
