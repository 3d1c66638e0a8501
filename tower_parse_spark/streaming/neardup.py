"""Streaming near-duplicate dedup — the live-ingest shape of the
incremental MinHash path.

Batch near-dup dedup against a banded-signature index exists in
operators/dedup.py (banded_signatures / incremental_minhash_dedup);
this module runs that exact machinery inside a
Structured Streaming ``foreachBatch`` loop, so a document stream is
deduplicated against ALL previously-seen survivors without ever
re-reading history documents:

- per micro-batch, the batch's banded signatures broadcast against the
  streaming index scan (batch ≪ history, the daily-ingest assumption);
- survivors' signatures land in the index under a ``batch=N``
  partition written with OVERWRITE, so a replayed epoch (kill/restart)
  rewrites its own partition instead of double-appending —
  exactly-once index growth, the same idempotency rule as the
  foreachBatch pack sink;
- the probe reads only partitions ``batch < N``: a half-written
  current partition from a crashed attempt can never flag the batch
  against itself (and the filter partition-prunes, so the re-scan cost
  is bounded by history, not by retries).

State is the index itself — unlike ``dropDuplicatesWithinWatermark``
(exact streaming dedup, bounded by the watermark horizon), near-dup
state cannot expire: a near-copy of LAST YEAR's document is still a
duplicate. The index is |survivors| × bands small rows on cheap
storage, not executor memory, which is what makes unbounded-horizon
dedup viable on an unbounded stream.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tower_parse_spark.operators.dedup import (
    incremental_minhash_dedup_with_banded,
)

_INDEX_SCHEMA = StructType(
    [
        StructField("band_key", StringType()),
        StructField("doc_id", LongType()),
        StructField("mh", ArrayType(LongType())),
        StructField("hash_fn", StringType()),
    ]
)


def _read_index(
    spark, index_path: str, before_batch: int, schema=None
) -> DataFrame:
    """The index as of batch *before_batch*: every ``batch=N`` partition
    with N < before_batch (partition-pruned), or an empty relation when
    nothing has been indexed yet.

    *schema* (r17, guide §5/§6): the streaming epoch loop passes the
    exact on-disk schema (INCLUDING the ``batch`` partition column),
    which it knows from its own writes — the reader then skips parquet
    footer schema inference, a per-epoch driver-side job the old path
    paid on every probe. Stream start's family validation leaves it
    None and keeps the inferred read (it accepts an index written with
    any id column name). Corruption surfaces at scan time in the probe
    job either way — inference only moved that failure earlier."""
    reader = spark.read.option("basePath", index_path)
    if schema is not None:
        reader = reader.schema(schema)
    try:
        idx = reader.parquet(index_path)
    except AnalysisException:
        # nothing indexed yet (PATH_NOT_FOUND); a CORRUPT index is not
        # swallowed here — scan-time failures surface in the probe job
        empty = (
            StructType([f for f in schema.fields if f.name != "batch"])
            if schema is not None
            else _INDEX_SCHEMA
        )
        return spark.createDataFrame([], empty)
    return idx.filter(F.col("batch").cast("long") < before_batch).drop(
        "batch"
    )


def stream_minhash_dedup(
    docs_stream: DataFrame,
    index_path: str,
    verdict_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
):
    """Start the streaming near-dup query over *docs_stream* (columns
    *id_col*, *text_col*). Per epoch: probe the index, write verdict
    rows (id, n_hist_matches, max_est_jaccard, is_dup, in_batch_dup,
    batch) to ``{verdict_path}/batch=N``, and index the survivors under
    ``{index_path}/batch=N`` — both OVERWRITE per epoch, so replays are
    idempotent (:func:`process_epoch`, exposed for direct replay
    testing). Returns the StreamingQuery (caller stops it).

    The index's hash family is validated ONCE here, against whatever
    rows a pre-existing index carries (the restart-with-a-different-
    hash_fn foot-gun); the epochs then skip the per-epoch one-row guard
    job — every row they probe beyond this point was written by this
    loop with this *hash_fn* (see :func:`process_epoch`
    *validate_family*)."""
    from tower_parse_spark.operators.dedup import validate_index_family

    validate_index_family(
        _read_index(docs_stream.sparkSession, index_path, 1 << 62), hash_fn
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_epoch(
            batch_df,
            batch_id,
            index_path,
            verdict_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            hash_fn=hash_fn,
            validate_family=False,
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def process_epoch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    verdict_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    validate_family: bool = True,
) -> None:
    """One epoch of the streaming near-dup loop (the foreachBatch body):
    probe the pre-*batch_id* index, overwrite this epoch's verdict and
    index partitions. Re-invoking with the same *batch_id* (a replayed
    epoch after a crash) rewrites the same partitions byte-for-byte —
    the idempotency the kill/restart test pins.

    *validate_family* (r16): the probe's hash-family guard is a one-row
    driver job per epoch; :func:`stream_minhash_dedup` validates the
    pre-existing index ONCE at stream start (covering the restart-with-
    wrong-family case) and passes False, because every row it probes
    after that was written by this loop with this epoch's *hash_fn*.
    Direct callers (replay tests, manual epochs) keep the default True
    and the guard's per-call semantics."""
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
    # the epoch knows the index's exact schema — it is what this loop
    # writes (band_key, id, mh, hash_fn) + the batch partition column,
    # with the id's type taken from the live batch (one loop, one
    # stream, one id type) — so the probe read skips per-epoch footer
    # schema inference (r17, guide §5/§6)
    index_schema = StructType(
        [
            StructField("band_key", StringType()),
            StructField(id_col, batch_df.schema[id_col].dataType),
            StructField("mh", ArrayType(LongType())),
            StructField("hash_fn", StringType()),
            StructField("batch", LongType()),
        ]
    )
    index = _read_index(spark, index_path, batch_id, schema=index_schema)
    verdicts, batch_banded = incremental_minhash_dedup_with_banded(
        batch,
        index,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        hash_fn=hash_fn,
        validate_family=validate_family,
    )
    # NOTE (r17, measured): fusing this localCheckpoint into the verdict
    # write (write executes the DAG, survivor filter re-reads the
    # written partition) looked like one fewer materialization but ran
    # consistently SLOWER at sf0.1 (interleaved medians 7.10 s old vs
    # 8.04 s fused; bests 5.70 vs 6.59) — the read-back pays listing +
    # open + scan per epoch against a checkpoint-block read. Kept.
    verdicts = verdicts.localCheckpoint(eager=True)
    verdicts.write.mode("overwrite").parquet(
        f"{verdict_path}/batch={batch_id}"
    )
    # index the survivors by FILTERING the probe's own banded relation
    # (already localCheckpointed inside banded_signatures) — the epoch
    # shingles and minhashes each document exactly once
    survivor_ids = verdicts.filter(
        ~F.col("is_dup") & ~F.col("in_batch_dup")
    ).select(id_col)
    survivor_banded = batch_banded.join(survivor_ids, id_col).select(
        "band_key", id_col, "mh", "hash_fn"
    )
    survivor_banded.write.mode("overwrite").parquet(
        f"{index_path}/batch={batch_id}"
    )
