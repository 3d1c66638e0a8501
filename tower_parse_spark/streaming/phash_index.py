"""Streaming perceptual-hash near-dup: the image twin of the text
loop in streaming/neardup.py.

The batch side hashes payloads with ``multimodal.with_phash`` (the
stub hash, or ``phash_real``, which decodes P6 PPM and PNG without
dependencies and needs Pillow for anything else) into a 32-bit
``phash`` space and pairs them with one Hamming-band operator
(``multimodal.phash_near_dup_pairs``). This module runs that
operator INCREMENTALLY: a stream of (id, phash) rows probes a banded
history index per epoch, emits verdicts, and indexes the survivors —
so a streaming image ingest deduplicates against everything ever seen
without re-scanning history, exactly the contract the minhash text
loop provides.

Same 100 TB posture as the text loop, same machinery where the
machinery is generic:

- Banding (4 x 8-bit bands over 32 bits by default): candidate
  generation is linear in |batch| x bands; recall is EXACT for
  Hamming <= bands-1 (pigeonhole), identical to the batch operator.
  The per-band equi-join carries (band_key, id, phash) — 3 longs, no
  payloads, no signatures.
- Per-epoch ``batch=N`` OVERWRITE partitions for both verdicts and
  index: replays are idempotent (the kill/restart rule every sink in
  this repo follows); probes read ``batch < N`` only.
- Compaction: the index layout is the signature index's layout, so
  :func:`neardup.compact_minhash_index` folds it UNCHANGED (it is
  schema-agnostic: coalesce batch<=K partitions into one batch=0) —
  wired to the same *compact_every* cadence contract whose in-stream
  safety argument lives on :func:`neardup.process_epoch`.
- Everything is JVM expressions (xor / bit_count / shifts): zero
  Python in the epoch body; the plan audit's streaming section covers
  the executed epoch.

NULL phashes (a NULL payload hashed to NULL upstream) pass through as
never-matching verdict rows and are not indexed — the same NULL
propagation the batch operator inherits from SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tower_parse_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_BITS,
    PHASH_MAX_HAMMING,
    phash_band_keys,
)
from tower_parse_spark.streaming.neardup import compact_minhash_index


def _read_phash_index(
    spark, index_path: str, before_batch: int, id_col: str,
    phash_col: str
) -> DataFrame:
    """The banded index as of *before_batch* (partition-pruned), or an
    empty relation in THIS index's schema when nothing is indexed yet
    (the neardup._read_index convention; the schemas differ — phash
    rows carry no signature array)."""
    from pyspark.errors import AnalysisException

    try:
        idx = spark.read.option("basePath", index_path).parquet(
            index_path
        )
    except AnalysisException:
        return spark.createDataFrame(
            [], f"band_key long, {id_col} long, {phash_col} long"
        )
    return idx.filter(
        F.col("batch").cast("long") < before_batch
    ).drop("batch")




def process_phash_epoch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    verdict_path: str,
    id_col: str = "doc_id",
    phash_col: str = "phash",
    max_hamming: int = PHASH_MAX_HAMMING,
    bits: int = PHASH_BITS,
    bands: int = PHASH_BANDS,
    compact_every: int | None = None,
) -> None:
    """One epoch: probe the pre-*batch_id* banded index, overwrite
    ``{verdict_path}/batch=N`` with (id, phash, n_hist_matches,
    min_hamming, is_dup, in_batch_dup) and ``{index_path}/batch=N``
    with the banded survivors. Within-epoch duplicates keep the
    LOWEST id (the minhash loop's keep-earliest rule); replaying the
    same *batch_id* rewrites the same partitions."""
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, phash_col).localCheckpoint(
        eager=True
    )
    banded = (
        batch.withColumn(
            "band_key",
            F.explode(phash_band_keys(phash_col, bits, bands)),
        )
        .select("band_key", id_col, phash_col)
        .localCheckpoint(eager=True)  # two consumers: probe + sink
    )
    index = _read_phash_index(spark, index_path, batch_id, id_col,
                              phash_col)

    def hamming(a, b):
        return F.bit_count(a.bitwiseXOR(b))

    hist = (
        banded.join(
            index.withColumnRenamed(id_col, "_hist_id")
            .withColumnRenamed(phash_col, "_hist_ph"),
            "band_key",
        )
        .select(
            id_col,
            "_hist_id",
            hamming(F.col(phash_col), F.col("_hist_ph")).alias("_d"),
        )
        .where(F.col("_d") <= max_hamming)
        .groupBy(id_col)
        .agg(
            F.countDistinct("_hist_id").alias("n_hist_matches"),
            F.min("_d").alias("min_hamming"),
        )
    )
    # within-epoch pairs: a doc is in_batch_dup when an EARLIER-id doc
    # in the same epoch collides within max_hamming (keep-lowest-id)
    left = banded.select(
        "band_key",
        F.col(id_col).alias("_id1"),
        F.col(phash_col).alias("_ph1"),
    )
    right = banded.select(
        "band_key",
        F.col(id_col).alias("_id2"),
        F.col(phash_col).alias("_ph2"),
    )
    inbatch = (
        left.join(right, "band_key")
        .where(
            (F.col("_id2") < F.col("_id1"))
            & (hamming(F.col("_ph1"), F.col("_ph2")) <= max_hamming)
        )
        .select(F.col("_id1").alias(id_col))
        .distinct()
        .withColumn("in_batch_dup", F.lit(True))
    )
    verdicts = (
        batch.join(hist, id_col, "left")
        .join(inbatch, id_col, "left")
        .select(
            id_col,
            phash_col,
            F.coalesce("n_hist_matches", F.lit(0)).alias(
                "n_hist_matches"
            ),
            "min_hamming",
            (F.coalesce("n_hist_matches", F.lit(0)) > 0).alias(
                "is_dup"
            ),
            F.coalesce("in_batch_dup", F.lit(False)).alias(
                "in_batch_dup"
            ),
        )
        .localCheckpoint(eager=True)  # two consumers: sink + survivors
    )
    verdicts.write.mode("overwrite").parquet(
        f"{verdict_path}/batch={batch_id}"
    )
    survivor_ids = verdicts.where(
        ~F.col("is_dup")
        & ~F.col("in_batch_dup")
        & F.col(phash_col).isNotNull()
    ).select(id_col)
    banded.join(survivor_ids, id_col).select(
        "band_key", id_col, phash_col
    ).write.mode("overwrite").parquet(f"{index_path}/batch={batch_id}")
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        # same in-stream safety argument as neardup.process_epoch: the
        # foreachBatch body IS the between-epochs window, and a replay
        # of epoch N only reads batch < N, which compaction through
        # N-1 merely rearranges
        compact_minhash_index(spark, index_path, batch_id - 1)


def stream_phash_dedup(
    stream_df: DataFrame,
    index_path: str,
    verdict_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    phash_col: str = "phash",
    max_hamming: int = PHASH_MAX_HAMMING,
    bits: int = PHASH_BITS,
    bands: int = PHASH_BANDS,
    compact_every: int | None = None,
):
    """Start the streaming perceptual near-dup query over *stream_df*
    (columns *id_col*, *phash_col* — produce the hash upstream with
    ``with_phash``: the stub hasher, or ``hasher=phash_real``, which
    decodes P6 PPM and PNG without dependencies and needs Pillow for
    anything else). Returns the StreamingQuery (caller stops it)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_phash_epoch(
            batch_df,
            batch_id,
            index_path,
            verdict_path,
            id_col=id_col,
            phash_col=phash_col,
            max_hamming=max_hamming,
            bits=bits,
            bands=bands,
            compact_every=compact_every,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )
