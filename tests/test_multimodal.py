"""Multimodal plumbing: binary payload column + Arrow-batched decode."""

from __future__ import annotations

import pytest

from tower_parse_spark.operators import multimodal as M


def _signed64(h: int) -> int:
    """An unsigned bit pattern as the signed int64 a Spark long carries."""
    return h - (1 << 64) if h >= 1 << 63 else h


def _phash_scalar(payload: bytes, bits: int = M.PHASH_BITS) -> int:
    """The stub hash, one payload at a time: bit j is set where
    ``(len * (2j + 3)) % 97`` is odd."""
    n = len(payload)
    h = 0
    for j in range(bits):
        if ((n * (2 * j + 3)) % 97) % 2:
            h |= 1 << j
    return _signed64(h)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello"), (2, "a much longer document body here")],
        "doc_id long, text string",
    )


def test_payload_is_binary(docs):
    df = M.with_payload(docs)
    assert dict(df.dtypes)["payload"] == "binary"


def test_decode_stub_deterministic():
    meta = M.decode_stub(b"hello")
    assert meta == {"n_bytes": 5, "width": 16 + 5, "height": 16 + 35, "format": "webp"}


def test_decode_payloads_distributed(docs):
    out = {r["doc_id"]: r for r in M.decode_payloads(M.with_payload(docs)).collect()}
    assert out[1]["n_bytes"] == 5
    assert out[2]["n_bytes"] == 32
    assert out[2]["format"] == ["png", "jpeg", "webp"][32 % 3]
    assert set(out[1].asDict()) == {"doc_id", "n_bytes", "width", "height", "format"}


def test_phash_stub_deterministic_and_length_keyed():
    five, five_again, six = M._phash_stub_vectorized([5, 5, 6])
    assert five == five_again  # same length, same hash
    assert 0 <= five < (1 << M.PHASH_BITS)
    assert five != six


def test_with_phash_matches_stub(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "defgh")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in M.with_phash(M.with_payload(df)).collect()}
    assert out[1].phash == _phash_scalar(b"abc") and out[1].n_bytes == 3
    assert out[2].phash == _phash_scalar(b"defgh")


def test_phash_near_dup_band_recall(spark):
    """Hamming <= 3 pairs are ALWAYS found (pigeonhole on 4x8 bands);
    Hamming > max is dropped even when a band collides."""
    base = 0b1010_1100_0011_0101_1111_0000_0110_1001
    rows = [
        (1, base),
        (2, base),  # hamming 0
        (3, base ^ 0b111),  # hamming 3, all flips in band 0
        (4, base ^ (1 << 0) ^ (1 << 9) ^ (1 << 17)),  # 3 flips, 3 bands
        (5, base ^ (1 << 0) ^ (1 << 9) ^ (1 << 17) ^ (1 << 25)),  # 4 flips
        (6, ~base & 0xFFFFFFFF),  # complement: no shared band
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in M.phash_near_dup_pairs(df).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 3 and pairs[(1, 4)] == 3
    assert (1, 5) not in pairs  # hamming 4 > max, despite band collision
    assert (1, 6) not in pairs and (2, 3) in pairs


def test_phash_vectorized_matches_scalar():
    lens = [0, 1, 5, 97, 98, 1000, None, 31, 64]
    vec = M._phash_stub_vectorized(lens)
    for ln, v in zip(lens, vec):
        if ln is None:
            assert v is None
        else:
            assert v == _phash_scalar(b"x" * ln)


def test_phash_band_blocking_at_64_bits_with_sign_bit(spark):
    """The corpus-scale configuration (64-bit hash, 4x16-bit bands):
    banding and bit_count(xor) scoring must be sign-agnostic — a hash
    with bit 63 set rides a negative long through shift/mask/xor on
    both engines."""
    base = _signed64((1 << 63) | 0x1234_5678_9ABC_DEF0)
    rows = [
        (1, base),
        (2, base),  # hamming 0, negative long
        (3, _signed64((base & ((1 << 64) - 1)) ^ 0b101)),  # hamming 2
        (4, _signed64((~base) & ((1 << 64) - 1))),  # complement
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in M.phash_near_dup_pairs(
            df, max_hamming=3, bits=64, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 2
    assert (1, 4) not in pairs and (2, 4) not in pairs
