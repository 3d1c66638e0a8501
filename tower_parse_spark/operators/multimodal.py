"""Multimodal columns: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column (or a pointer to object storage) next to a typed
metadata struct; run decode / feature-extraction / resize / frame-sample
as Arrow-batched Pandas functions over ``mapInPandas`` so each task
processes whole record batches without JVM<->Python per-row cost.

The registry queries use STUBBED decode and hash functions:
``decode_stub`` and ``with_phash``'s stub hash derive deterministic fake
metadata and hashes from the bytes, so every pipeline has an exact SQL oracle.
The Spark-side plumbing — schema, batch iteration, partition behavior —
is real and oracle-checked (queries/llm.py::multimodal_decode).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string"
)


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of *text_col* as the
    opaque payload column (deterministic; real tables would carry actual
    image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake 'image decode': metadata derived from bytes.

    Stands in for e.g. PIL.Image.open(io.BytesIO(payload)); the derived
    fields are arithmetic on the byte length so the full mapInPandas
    pipeline has an exact SQL oracle.
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 16 + n % 64,
        "height": 16 + (n * 7) % 64,
        "format": ["png", "jpeg", "webp"][n % 3],
    }


def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: whole Arrow batches in, decoded metadata out."""
    for pdf in it:
        metas = [decode_stub(p) for p in pdf["payload"]]
        out = pd.DataFrame(metas)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def decode_payloads(df_with_payload: DataFrame) -> DataFrame:
    """Distributed decode: Arrow-batched Pandas over every partition,
    :func:`decode_stub` per payload (exact SQL oracle).

    Memory shape: each Arrow batch materializes
    ``maxRecordsPerBatch × avg payload bytes`` per task — the engine's
    session caps the row count at 1024 (session.py) so 1 MB images
    bound at ~1 GB/batch; a caller-owned session (the driver's plain
    one) rides Spark's 10k default, safe for the fixture's KB payloads
    but a real-image deployment must set the cap to
    ``target_batch_bytes / avg_payload_bytes``."""
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=DECODED_SCHEMA
    )


# ---- resize / feature-extract / frame-sample (same stub pattern) ----------

PIPELINE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string, "
    "resized_w int, resized_h int, resized_bytes long, "
    "feat array<double>, frame_offsets array<long>"
)


def resize_stub(meta: dict, target_w: int, target_h: int) -> dict:
    """Deterministic fake resize: new byte size scales with pixel ratio
    (stands in for PIL Image.resize + re-encode)."""
    scale = (target_w * target_h) / max(meta["width"] * meta["height"], 1)
    return {
        "resized_w": target_w,
        "resized_h": target_h,
        "resized_bytes": int(meta["n_bytes"] * scale),
    }


def features_stub(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic fake embedding: arithmetic on the byte length
    (stands in for a CNN/CLIP feature extractor)."""
    n = len(payload)
    return [float((n * (j + 3)) % 97) / 97.0 for j in range(dim)]


def frame_sample_stub(payload: bytes, n_frames: int = 3) -> list[int]:
    """Deterministic fake video frame sampling: n byte offsets spread
    evenly (stands in for ffmpeg keyframe extraction)."""
    n = len(payload)
    return [(n * k) // n_frames for k in range(n_frames)]


def pipeline_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode -> resize(32x32) -> features -> frames
    in ONE Python pass per Arrow batch (no per-stage JVM round trip)."""
    for pdf in it:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            meta = decode_stub(p)
            meta.update(resize_stub(meta, 32, 32))
            meta["feat"] = features_stub(p)
            meta["frame_offsets"] = frame_sample_stub(p)
            meta["doc_id"] = doc_id
            rows.append(meta)
        out = pd.DataFrame(rows)
        yield out[
            [
                "doc_id",
                "n_bytes",
                "width",
                "height",
                "format",
                "resized_w",
                "resized_h",
                "resized_bytes",
                "feat",
                "frame_offsets",
            ]
        ]


def process_payloads(df_with_payload: DataFrame) -> DataFrame:
    """Full multimodal pipeline, Arrow-batched, one shuffle-free pass."""
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        pipeline_batches, schema=PIPELINE_SCHEMA
    )


# ---- perceptual-hash near-duplicate detection (dHash family) --------------

#: perceptual-hash width; 4 bands guarantee exact recall at Hamming
#: distance <= 3 (pigeonhole: 3 flipped bits leave >= 1 band intact).
#: 32 bits / 8-bit bands is the oracle-checked fixture configuration;
#: band BUCKETS number bands x 2^band_bits, so at corpus scale the
#: band width must grow with n or buckets saturate into a candidate
#: blowup (256 slot values hold ~n/256 docs each at 8 bits) — the
#: 100 TB deployment is 64-bit hashes with 16-bit bands (65k slot
#: values per band), measured at 500k payloads (SCALE.md, "Measured
#: headroom").
PHASH_BITS = 32
PHASH_BANDS = 4
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = 3


def _phash_stub_vectorized(lens) -> list:
    """Deterministic fake perceptual hash over a WHOLE Arrow batch of
    byte lengths in one numpy expression: bit j is set where
    ``(len * (2j + 3)) % 97`` is odd (stands in for dHash over the
    decoded, 32x32-resized grayscale). Identical payloads hash
    identically (Hamming 0), so exact image copies are found, and the
    arithmetic gives the whole pipeline an exact SQL oracle, the
    same contract as :func:`decode_stub`. None lengths (NULL payloads)
    pass through as None."""
    import numpy as np

    ln = np.array([0 if v is None else v for v in lens], dtype=np.int64)
    j = np.arange(PHASH_BITS, dtype=np.int64)
    with np.errstate(over="ignore"):
        h = ((((ln[:, None] * (2 * j + 3)) % 97) % 2) << j).sum(axis=1)
    return [None if v is None else int(x) for v, x in zip(lens, h)]


def with_phash(df_with_payload: DataFrame) -> DataFrame:
    """Distributed perceptual hashing: the stub hash per payload inside
    ONE Arrow-batched mapInPandas stage, vectorized across the batch.
    Output: (doc_id, n_bytes, phash)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # NULL payloads (e.g. a NULL text encoded to a NULL binary) hash
        # to NULL instead of crashing the worker; their band keys are
        # NULL downstream and never join — the same drop the SQL twin's
        # NULL propagation produces
        for pdf in it:
            lens = [
                None if p is None else len(p) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": lens,
                    "phash": _phash_stub_vectorized(lens),
                }
            )

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, n_bytes long, phash long"
    )


def phash_near_dup_pairs(
    df_with_phash: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = PHASH_MAX_HAMMING,
    bits: int = PHASH_BITS,
    bands: int = PHASH_BANDS,
) -> DataFrame:
    """Image near-duplicate pairs via Hamming-band blocking on the
    perceptual hash (the SimHash band machinery applied to image
    fingerprints — Manku et al. 2007): split the *bits*-wide hash into
    *bands* equal bands, explode to (band slot, id, phash), self-join
    per band bucket, score ``bit_count(xor)``. Candidate generation is
    linear in |docs| x bands and recall is EXACT for Hamming <= bands-1
    (pigeonhole); the shuffle carries (id, 1 long), never payloads.

    SIZE THE BANDS TO THE CORPUS: buckets number bands x 2^(bits/bands),
    and a bucket holds ~n / 2^(bits/bands) docs — at 8-bit bands that
    saturates past ~100k docs (256 slot values) into a quadratic
    candidate blowup. The default 32/4 matches the oracle fixture; the
    corpus-scale configuration is bits=64, bands=4 (16-bit slots, 65k
    values — measured at 500k payloads, SCALE.md "Measured headroom").
    Negative longs (bit 63 set) band and score correctly: shift+mask
    and bit_count(xor) are sign-agnostic on both engines.

    The phash relation comes out of a Python (Arrow) stage, so it is
    localCheckpointed before the two join legs — without the barrier
    the mapInPandas decode/hash stage re-runs per leg (the fan-out rule
    every two-consumer relation in the tree follows).

    Hamming is scored and thresholded BEFORE the pair dedup (r16,
    guide §2.3 "shuffle fewer bytes"): the filter commutes with
    ``dropDuplicates`` because hamming is a pure function of (ph1, ph2)
    and the phashes are functional on (id1, id2) — every duplicate of a
    pair carries the same hamming. Scoring first costs one xor+popcount
    per band-duplicate candidate (≤ *bands* per pair, trivially cheap)
    and shrinks the dedup exchange from every same-bucket candidate
    carrying two 8-byte hashes to only the sub-threshold pairs carrying
    one int — measured at sf0.1 (20k docs, hot stub-hash buckets):
    3.71M candidate rows -> 2.12M filtered rows into the exchange,
    query best-of-3 1.69 s -> 1.03 s, byte-identical output (530,744
    pairs). At corpus scale the same reorder cuts the dedup shuffle by
    the Hamming-threshold selectivity.

    Returns (id1, id2, hamming), id1 < id2.
    """
    band_bits = bits // bands
    keys = F.array(
        *[
            F.lit(b * (1 << band_bits))
            + F.shiftright(F.col("phash"), b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for b in range(bands)
        ]
    )
    banded = (
        df_with_phash.select(id_col, "phash")
        .localCheckpoint(eager=False)
        .select(F.col(id_col), "phash", F.explode(keys).alias("bkey"))
    )
    left = banded.select(
        "bkey", F.col(id_col).alias("id1"), F.col("phash").alias("ph1")
    )
    right = banded.select(
        "bkey", F.col(id_col).alias("id2"), F.col("phash").alias("ph2")
    )
    hamming = F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2")))
    return (
        left.join(right, "bkey")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )
