"""Sequence packing: map documents onto fixed-length training sequences.

LLM pre-training consumes fixed-size token windows (the context length),
not documents. The standard public preparation step (GPT-2/3, Pile, Dolma
"concat-and-chunk") concatenates documents into a token stream and cuts
it every ``seq_tokens`` tokens; each document then occupies a contiguous
byte range of the stream, possibly straddling sequence boundaries.

Scale shape for 100 TB:

- the corpus is split into ``shards`` INDEPENDENT streams by a
  deterministic hash of the document id (``sampling.hash_bucket`` — md5,
  engine-portable, retry-stable). Real pipelines shard exactly like this
  (one output file per shard); sharding is what keeps the global
  "running offset" from serializing the whole corpus through one task.
- within a shard, documents are ordered by id and the running token
  offset is ONE window cumulative sum — a single hash-partition shuffle
  on ``shard``, then a sort + linear scan per partition. No explode: a
  document's sequence span is pure arithmetic on (start, end) offsets
  (first_seq = start // L, last_seq = (end-1) // L).
- shard count trades parallelism against stream continuity; at cluster
  scale set it to a small multiple of executor cores. Packing quality is
  unaffected (every shard cuts exactly at L-token multiples; only the
  final partial sequence per shard is padded, i.e. waste <= shards * L
  tokens corpus-wide).

Tokenless documents (NULL/empty/whitespace text) are excluded before
offsets are assigned — identically in the DuckDB oracle, where
``len(toks)`` is NULL for NULL text — so they can never shift another
document's offsets.

Token unit: base offsets count WHITESPACE tokens (functions/text.py::
tokens). Production packing budgets bill in SUBWORD tokens; pass
``subword_vocab`` (operators/subword.py) and every document ALSO gets
its subword-unit span (``n_subwords`` / ``sub_*`` columns) — computed
from the same exploded-token relation (the fold runs once per DISTINCT
word) and billed by a SECOND cumulative sum over the SAME window, so
both units share the single shard shuffle + sort. The whitespace
columns are bit-identical with and without the option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tower_parse_spark.functions.text import tokens
from tower_parse_spark.operators.sampling import hash_bucket, sql_hash_bucket

#: tokens per packed training sequence (the "context length"; small here
#: because the synthetic docs are short — production: 2048/4096/8192)
SEQ_TOKENS = 64

#: independent packing streams; production: a small multiple of cores
N_SHARDS = 8

#: salt decorrelating the packing shard from the train/val split bucket
PACK_SALT = "pack"


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_tokens: int = SEQ_TOKENS,
    shards: int = N_SHARDS,
    subword_vocab: tuple[str, ...] | None = None,
) -> DataFrame:
    """Assign every document its span in the packed sequence space.

    Returns one row per token-bearing document: ``(id, shard, n_tokens,
    start_off, first_seq, last_seq, n_seqs)`` where offsets count tokens
    within the document's shard stream and sequence ids are
    ``offset // seq_tokens``. ``n_seqs`` > 1 means the document straddles
    a context boundary (training-time attention masking / document
    truncation decisions key off exactly this).

    With *subword_vocab*, the output ALSO bills every span in subword
    units — ``n_subwords`` plus ``sub_start_off / sub_first_seq /
    sub_last_seq / sub_n_seqs`` — the unit production budgets actually
    use (r9, VERDICT #3). Both token counts come from ONE exploded-token
    pass (the subword fold runs once per DISTINCT word,
    operators/subword.py discipline), and both running offsets are
    cumulative sums over the SAME window, so the second unit adds no
    shuffle. Documents keep identical whitespace spans either way.
    """
    if seq_tokens <= 0:
        raise ValueError(f"seq_tokens must be positive, got {seq_tokens}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")
    shard = (hash_bucket(F.col(id_col), PACK_SALT) % shards).alias("shard")
    if subword_vocab is None:
        sized = df.select(
            F.col(id_col),
            shard,
            F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        ).filter(F.col("n_tokens") > 0)
    else:
        from tower_parse_spark.operators.subword import subword_count

        exploded = df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
        ).filter(F.col("_tok").isNotNull())
        wordtab = (
            exploded.select("_tok")
            .distinct()
            .select(
                "_tok",
                subword_count(F.col("_tok"), subword_vocab).alias("_n_sub"),
            )
        )
        # join-back is AQE-decided (unbounded crawl vocabulary — the
        # subword.py rule); explode drops tokenless docs, so every
        # surviving group has n_tokens > 0 by construction
        sized = (
            exploded.join(wordtab, "_tok")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.sum("_n_sub").cast("long").alias("n_subwords"),
            )
            .select(F.col(id_col), shard, "n_tokens", "n_subwords")
        )
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    end_off = F.sum("n_tokens").over(w)
    start_off = (end_off - F.col("n_tokens")).alias("start_off")
    first_seq = F.floor((end_off - F.col("n_tokens")) / seq_tokens)
    last_seq = F.floor((end_off - 1) / seq_tokens)
    cols = [
        F.col(id_col),
        F.col("shard"),
        F.col("n_tokens"),
        start_off,
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    ]
    if subword_vocab is not None:
        sub_end = F.sum("n_subwords").over(w)
        sub_start = sub_end - F.col("n_subwords")
        sub_first = F.floor(sub_start / seq_tokens)
        sub_last = F.floor((sub_end - 1) / seq_tokens)
        cols += [
            F.col("n_subwords"),
            sub_start.alias("sub_start_off"),
            sub_first.alias("sub_first_seq"),
            sub_last.alias("sub_last_seq"),
            (sub_last - sub_first + 1).alias("sub_n_seqs"),
        ]
    return sized.select(*cols)


def sql_pack_sequences_subword(
    docs_rel: str,
    toks_sql: str,
    id_col: str = "doc_id",
    seq_tokens: int = SEQ_TOKENS,
    shards: int = N_SHARDS,
    vocab: tuple[str, ...] | None = None,
) -> str:
    """DuckDB twin of :func:`pack_sequences` with *subword_vocab* set:
    both token units, both running offsets over the same shard window.
    Must be spliced after ``WITH RECURSIVE`` (the subword walk is a
    recursive CTE — :func:`sql_subword_walk`). Ends with a ``packed``
    relation; compose with a final SELECT."""
    from tower_parse_spark.operators.subword import (
        SUBWORD_VOCAB,
        sql_subword_walk,
    )

    walk = sql_subword_walk("words", vocab or SUBWORD_VOCAB)
    return f"""tokd AS (
  SELECT {id_col}, {toks_sql} AS toks FROM {docs_rel}
), doctok AS (
  SELECT {id_col}, unnest(toks) AS tok FROM tokd
), words AS (
  SELECT DISTINCT tok FROM doctok
), {walk},
sized AS (
  SELECT d.{id_col},
         {sql_hash_bucket('d.' + id_col, PACK_SALT)} % {shards} AS shard,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(s.n_sub) AS BIGINT) AS n_subwords
  FROM doctok d JOIN subcnt s ON d.tok = s.tok
  GROUP BY d.{id_col}
), nz AS (
  SELECT * FROM sized WHERE n_tokens > 0
), packed AS (
  SELECT {id_col}, shard, n_tokens, n_subwords,
         sum(n_tokens) OVER w - n_tokens AS start_off,
         (sum(n_tokens) OVER w - n_tokens) // {seq_tokens} AS first_seq,
         (sum(n_tokens) OVER w - 1) // {seq_tokens} AS last_seq,
         sum(n_subwords) OVER w - n_subwords AS sub_start_off,
         (sum(n_subwords) OVER w - n_subwords) // {seq_tokens}
           AS sub_first_seq,
         (sum(n_subwords) OVER w - 1) // {seq_tokens} AS sub_last_seq
  FROM nz
  WINDOW w AS (PARTITION BY shard ORDER BY {id_col}
               ROWS UNBOUNDED PRECEDING)
)"""
