"""Streaming perceptual near-dup (streaming/phash_index.py): verdict
parity with the batch banding operator over the cumulative corpus,
cross-epoch suppression, keep-lowest-id within an epoch, replay
idempotency, compaction cadence with probe-identical results, and NULL
passthrough."""

from __future__ import annotations

import os

import numpy as np

from tower_parse_spark.operators import multimodal as M
from tower_parse_spark.streaming import phash_index as PI


def _paths(tmp_path):
    return (
        str(tmp_path / "idx"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )


def _b(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, phash long")


def _verdicts(spark, ver):
    return {
        r["doc_id"]: r
        for r in spark.read.option("basePath", ver).parquet(ver)
        .collect()
    }


def test_cross_epoch_suppression_and_batch_parity(spark, tmp_path):
    """Three epochs of hashes; every verdict must agree with the batch
    operator run over the cumulative corpus (history = all earlier
    epochs plus earlier ids in the same epoch)."""
    idx, ver, _ = _paths(tmp_path)
    rng = np.random.default_rng(1)
    base = [int(v) for v in rng.integers(0, 1 << 32, 12)]

    def flip(h, k):  # k-bit-away neighbour
        for b in range(k):
            h ^= 1 << (3 * b)
        return h

    epochs = [
        [(i, base[i]) for i in range(4)],
        [(10, flip(base[0], 2)), (11, base[4]), (12, base[5])],
        [(20, base[4]), (21, flip(base[5], 3)), (22, base[6]),
         (23, flip(base[6], 9))],
    ]
    for i, rows in enumerate(epochs):
        PI.process_phash_epoch(_b(spark, rows), i, idx, ver)
    got = _verdicts(spark, ver)
    # batch-side truth: pairs over the full corpus
    all_rows = [r for ep in epochs for r in ep]
    pairs = M.phash_near_dup_pairs(
        spark.createDataFrame(all_rows, "doc_id long, phash long")
    ).collect()
    dup_of = {}
    for p in pairs:
        a, b = sorted((p["id1"], p["id2"]))
        dup_of.setdefault(b, set()).add(a)
    for doc_id, _h in all_rows:
        expect_dup = doc_id in dup_of
        r = got[doc_id]
        assert (r["is_dup"] or r["in_batch_dup"]) == expect_dup, doc_id
    # spot semantics: 10 is within Hamming 2 of epoch-0's 0 -> dup
    assert got[10]["is_dup"] and got[10]["min_hamming"] == 2
    assert got[20]["is_dup"] and got[20]["n_hist_matches"] >= 1
    assert not got[23]["is_dup"]  # 9 bits away: out of recall AND radius


def test_keep_lowest_id_within_epoch_and_survivors(spark, tmp_path):
    idx, ver, _ = _paths(tmp_path)
    h = 0x12345678
    PI.process_phash_epoch(
        _b(spark, [(5, h), (3, h), (9, h ^ 0x11)]), 0, idx, ver
    )
    got = _verdicts(spark, ver)
    assert not got[3]["in_batch_dup"]  # lowest id survives
    assert got[5]["in_batch_dup"] and got[9]["in_batch_dup"]
    indexed = set(
        r["doc_id"]
        for r in spark.read.option("basePath", idx).parquet(idx)
        .select("doc_id").distinct().collect()
    )
    assert indexed == {3}


def test_replay_is_idempotent(spark, tmp_path):
    idx, ver, _ = _paths(tmp_path)
    b0 = _b(spark, [(1, 111), (2, 1 << 31)])
    b1 = _b(spark, [(3, 111), (4, 999)])
    PI.process_phash_epoch(b0, 0, idx, ver)
    PI.process_phash_epoch(b1, 1, idx, ver)
    before = sorted(map(tuple, _verdicts(spark, ver).values()))
    PI.process_phash_epoch(b1, 1, idx, ver)  # crash replay
    after = sorted(map(tuple, _verdicts(spark, ver).values()))
    assert before == after
    n_parts = len(
        [d for d in os.listdir(idx) if d.startswith("batch=")]
    )
    assert n_parts == 2


def test_compaction_cadence_bounds_partitions(spark, tmp_path):
    idx, ver, _ = _paths(tmp_path)
    rng = np.random.default_rng(2)
    for i in range(7):
        rows = [(100 * i + j, int(rng.integers(0, 1 << 32)))
                for j in range(3)]
        PI.process_phash_epoch(_b(spark, rows), i, idx, ver,
                               compact_every=3)
    parts = sorted(
        d for d in os.listdir(idx) if d.startswith("batch=")
    )
    assert len(parts) <= 4  # folded at epochs 3 and 6
    # probe correctness after compaction: an exact repeat of an
    # epoch-0 hash must still be a dup
    first = _verdicts(spark, ver)[0]["phash"]
    PI.process_phash_epoch(_b(spark, [(999, first)]), 7, idx, ver)
    assert _verdicts(spark, ver)[999]["is_dup"]


def test_null_phash_passthrough(spark, tmp_path):
    idx, ver, _ = _paths(tmp_path)
    df = spark.createDataFrame(
        [(1, 42), (2, None)], "doc_id long, phash long"
    )
    PI.process_phash_epoch(df, 0, idx, ver)
    got = _verdicts(spark, ver)
    assert not got[2]["is_dup"] and not got[2]["in_batch_dup"]
    indexed = set(
        r["doc_id"]
        for r in spark.read.option("basePath", idx).parquet(idx)
        .select("doc_id").distinct().collect()
    )
    assert indexed == {1}
