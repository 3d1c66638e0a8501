"""Model-based quality scoring: CCNet-style n-gram LM perplexity filter.

Public methodology — CCNet (Wenzek et al. 2019) scores every document's
perplexity under a language model trained on a clean reference corpus
(Wikipedia) and buckets the corpus into head / middle / tail; the same
signal drives the quality classifiers of GPT-3, LLaMA and most open
data pipelines. This module is the relational re-expression: the "model"
is a pair of count tables (bigram + unigram Laplace estimates) built
with two aggregations over the reference slice, and scoring is a
broadcast hash join of the corpus' bigrams against those tables — no
Python, no UDF, no external LM runtime.

Cross-engine exactness (the quantize-then-sum rule, cf.
operators/sampling.py::WEIGHT_SCALE): each distinct n-gram's negative
log-likelihood is quantized to integer MICRO-NATS once, on the tiny LM
side — ``floor(ln((c1+V)/(c2+1)) * 1e6 + 0.5)`` — so per-document scores
are INTEGER sums (associative, exact under any partial-agg order) and
the final cross-entropy is one IEEE division both engines evaluate
identically. ``ln`` runs on identical input bits in both engines
(integer counts cast to double, one exact division); a 1-ulp libm
disagreement only matters within ~1e-9 of a quantization boundary —
checked empirically by the oracle gate at every sf.

Scale shape (the decisive part at 100 TB):

- LM build touches only the REFERENCE slice (CCNet trains on Wikipedia,
  not the crawl): two map-side-combinable aggregations (unigram, bigram
  counts). Offline, once.
- Scoring streams the corpus: bigram generation is a row-local array
  expression (`transform` over `sequence` — linear, no shuffle), the LM
  tables are **broadcast** (a production LM is count-pruned to top-K
  n-grams precisely so it stays broadcastable — the KenLM binary CCNet
  ships is ~1 GB for the same reason), and the per-document aggregate is
  map-side combinable on `doc_id` because exploded bigrams of one
  document are co-located with their source row. One shuffle total.
- The vocabulary size V and the unknown-word penalty are ONE-ROW
  aggregates broadcast back as nested-loop joins of a single row (the
  allowlisted tf-idf-N pattern).

Reference context: the reference has no quality filtering at all
(readport.py is a fixed-format ingest pipeline); this module extends the
LLM-curation surface BASELINE.json directs, alongside
operators/quality.py's rule-based families.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tower_parse_spark.functions import text as T

#: NLL quantization scale: micro-nats. Quantized on the LM side (one
#: value per DISTINCT n-gram), summed as integers on the corpus side.
NLL_SCALE = 1_000_000

#: CCNet bucket cutoffs on per-document cross-entropy (nats/bigram).
#: CCNet computes its head/middle/tail cutoffs offline as corpus
#: percentiles and then applies them as constants; these are pinned the
#: same way — the 33rd/66th percentiles of the sf0.01 fixture's observed
#: distribution (range 3.21..3.98) — so all three buckets fire at the
#: driver's sf (see tests/test_lm.py). The comparison runs on the RAW
#: cross-entropy, which is bit-identical on both engines (integer
#: micro-nat sums + one IEEE division), so any cutoff value is
#: hash-safe, including exact ties.
CE_HEAD = 3.43
CE_MIDDLE = 3.49


def bigrams(toks: Column) -> Column:
    """Adjacent-pair bigram strings ("w1 w2") of a token array — a pure
    row-local array expression (no explode until the consumer asks).
    Guarded for <2 tokens (negative slice length raises under ANSI).

    Built as ``zip_with(slice(toks, 1, n-1), slice(toks, 2, n-1), ||)``
    and NOT as ``transform(sequence(1, n-1), i -> element_at(toks, i)
    ...)``: when *toks* is itself an expression (the tokenizer), the
    element_at form inlines that expression INSIDE the per-element
    lambda, re-running the full regexp tokenization O(n) times per
    document — measured 14x slower at sf0.1 (10.9 s -> 0.8 s for the
    array build alone). zip_with references the token array twice
    TOTAL, not twice per element.

    Twin: list_transform(range(1, len(toks)), i -> toks[i] || ' ' ||
    toks[i+1]) — DuckDB's list indexing is over a named CTE column, so
    the SQL side has no re-evaluation hazard; range() is end-exclusive
    where Spark's sequence() is inclusive, so range(1, n) enumerates
    the same i = 1..n-1."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


class BigramLM(NamedTuple):
    """A trained Laplace bigram model as three relations.

    lm:  (bg, nll_q)   — quantized nll of each reference bigram
    uni: (w1, nll1_q)  — backoff nll for an UNSEEN bigram whose first
                         word is known: -ln(1/(c1+V))
    unk: one row (vocab_v, nll_unk_q) — penalty for an unknown first
                         word: -ln(1/V)
    """

    lm: DataFrame
    uni: DataFrame
    unk: DataFrame


def _quant_nll(num: Column, den: Column) -> Column:
    """floor(ln(num/den) * SCALE + 0.5) as a long — num/den are exact
    small-integer doubles, so both engines see identical ln inputs."""
    return F.floor(F.log(num / den) * F.lit(float(NLL_SCALE)) + F.lit(0.5)).cast(
        "long"
    )


def train_bigram_lm(ref: DataFrame, text_col: str = "text") -> BigramLM:
    """Train the Laplace bigram LM over a reference corpus: p(w2|w1) =
    (c(w1 w2) + 1) / (c(w1) + V). Two aggregations over the reference
    slice; every probability is quantized to integer micro-nats HERE so
    scoring never touches a float until the final division."""
    toks = T.tokens(F.col(text_col))
    uni_counts = (
        ref.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # staged: two consumers (lm join + backoff table) — materialize so
    # the reference scan + agg runs once (checkpoint-before-fan-out rule)
    uni_counts = uni_counts.localCheckpoint(eager=True)
    vrow = uni_counts.agg(F.count(F.lit(1)).alias("vocab_v"))
    bi_counts = (
        ref.select(F.explode(bigrams(toks)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    lm = (
        bi_counts.withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .join(F.broadcast(uni_counts), "w1")
        .crossJoin(F.broadcast(vrow))
        .select(
            "bg",
            _quant_nll(
                F.col("c1") + F.col("vocab_v"), F.col("c2") + F.lit(1.0)
            ).alias("nll_q"),
        )
    )
    uni = uni_counts.crossJoin(F.broadcast(vrow)).select(
        "w1",
        _quant_nll(F.col("c1") + F.col("vocab_v"), F.lit(1.0)).alias("nll1_q"),
    )
    unk = vrow.select(
        "vocab_v",
        _quant_nll(F.col("vocab_v").cast("double"), F.lit(1.0)).alias(
            "nll_unk_q"
        ),
    )
    return BigramLM(lm=lm, uni=uni, unk=unk)


def score_perplexity(
    docs: DataFrame,
    model: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the trained LM + CCNet bucket.

    Output: (id, n_bigrams, n_known, n_backoff, n_unk, cross_entropy,
    ppl_bucket) — bucket 'head' | 'middle' | 'tail' by the pinned
    cutoffs, 'empty' for documents with <2 tokens (which still get a
    verdict row via the final left join; they are never silently
    dropped).

    Plan: explode is linear; both LM joins are broadcast hash joins (the
    corpus is never shuffled for them); the single shuffle is the
    map-side-combinable per-document integer sum. The docs go through
    ensure_parallelism first (r10, the classifier precedent): the
    per-bigram probes are compute-bound and a small parquet corpus
    arrives as ONE split; no-op at real scale.
    """
    from tower_parse_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs)
    bgs = docs.select(
        F.col(id_col), F.explode(bigrams(T.tokens(F.col(text_col)))).alias("bg")
    )
    scored = (
        bgs.join(F.broadcast(model.lm), "bg", "left")
        .withColumn("_w1", F.substring_index(F.col("bg"), " ", 1))
        .join(
            F.broadcast(model.uni.withColumnRenamed("w1", "_w1")), "_w1", "left"
        )
        .crossJoin(F.broadcast(model.unk.select("nll_unk_q")))
        .select(
            F.col(id_col),
            F.coalesce("nll_q", "nll1_q", "nll_unk_q").alias("_q"),
            F.col("nll_q").isNotNull().alias("_known"),
            (F.col("nll_q").isNull() & F.col("nll1_q").isNotNull()).alias(
                "_backoff"
            ),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("_known").cast("long")).alias("n_known"),
        F.sum(F.col("_backoff").cast("long")).alias("n_backoff"),
        F.sum("_q").alias("_sq"),
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_known", F.lit(0)).cast("long").alias("n_known"),
            F.coalesce("n_backoff", F.lit(0)).cast("long").alias("n_backoff"),
            (
                F.coalesce("n_bigrams", F.lit(0))
                - F.coalesce("n_known", F.lit(0))
                - F.coalesce("n_backoff", F.lit(0))
            )
            .cast("long")
            .alias("n_unk"),
            F.coalesce("_sq", F.lit(0)).cast("long").alias("_sq"),
        )
        .withColumn(
            "cross_entropy",
            F.when(
                F.col("n_bigrams") > 0,
                (F.col("_sq") / F.lit(float(NLL_SCALE))) / F.col("n_bigrams"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "ppl_bucket",
            F.when(F.col("n_bigrams") == 0, F.lit("empty"))
            .when(F.col("cross_entropy") <= CE_HEAD, F.lit("head"))
            .when(F.col("cross_entropy") <= CE_MIDDLE, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_sq")
    )
