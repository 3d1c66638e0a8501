"""Model-based document quality classifier for LLM corpus curation.

Public methodology: the big public pipelines pair the CCNet perplexity
filter (operators/lm.py) with a TRAINED quality classifier — GPT-3
(Brown et al. 2020, Appendix A) trains a logistic classifier over
hashed features to score Common Crawl against a WebText-positive class;
LLaMA (Touvron et al. 2023) keeps a Wikipedia-reference classifier;
CCNet itself (Wenzek et al. 2019) describes the same head/tail split
driven by a learned model. This module is the relational re-expression
with a multinomial Naive Bayes head instead of logistic regression:
NB's maximum-likelihood "training" is two counting aggregations in
closed form — no gradient loop — which is what makes the trainer a
pure DataFrame job and the scorer a broadcast join, with zero Python
in either path.

Model = hashed bag-of-words features (feature hashing, Weinberger et
al. 2009: token -> md5 bucket in [0, N_FEATURES) — the repo's portable
md5 machinery, so DuckDB reproduces every bucket bit-for-bit) + per-
bucket log-odds weights:

    w(b)   = ln P(b | pos) - ln P(b | neg)        (Laplace-smoothed)
    score  = prior + sum over doc tokens of w(bucket(token))
    prior  = ln(n_pos_docs / n_neg_docs)

Cross-engine exactness (the quantize-then-sum rule, cf. operators/
lm.py::NLL_SCALE): every weight is quantized to integer MICRO-NATS once
on the tiny model side — each ln sees a ratio of exact small integers
(one IEEE division, identical bits on both engines) — so per-document
scores are INTEGER sums, associative and exact under any partial-
aggregation order.

Scale shape (the decisive part at 100 TB):

- Training touches only the LABELED slice (thousands-to-millions of
  docs, never the crawl): two map-side-combinable aggregations (per-
  bucket class counts, one-row class totals). Offline, once.
- The weight table is bounded BY CONSTRUCTION at N_FEATURES rows — the
  whole point of feature hashing is that the model size is fixed no
  matter how large the training vocabulary grows — so its broadcast
  hint is safe at any corpus size (unlike an unbounded hits relation,
  cf. the decontam join-backs).
- Scoring streams the corpus: tokenization + bucketing are row-local
  scan expressions, the weights broadcast, and the per-document sum is
  map-side combinable on doc_id because a document's exploded tokens
  are co-located with their source row. ONE corpus shuffle total (the
  per-doc aggregate).
- The prior/default-weight terms are one-row aggregates broadcast back
  as single-row cross joins (the allowlisted tf-idf-N pattern).

Reference context: the reference has no quality filtering at all
(readport.py is a fixed-format ingest pipeline); this module extends
the LLM-curation surface BASELINE.json directs, alongside
operators/quality.py (rule-based) and operators/lm.py (perplexity).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tower_parse_spark.functions import text as T

#: hashed feature space. 1024 buckets keeps the weight table broadcast-
#: trivial while leaving collisions rare at fixture vocabulary sizes;
#: production would raise it (2^18 is the GPT-3-era default) — the plan
#: shape is unchanged, the table stays bounded by construction.
N_FEATURES = 1024

#: weight quantization scale: micro-nats (cf. operators/lm.py::NLL_SCALE)
W_SCALE = 1_000_000

#: salt decorrelating the feature hash from the sampling/split hashes
#: that share the md5 machinery (cf. operators/sampling.py::hash_bucket)
FEATURE_SALT = "qc"


def feature_bucket(tok: Column, n_features: int = N_FEATURES) -> Column:
    """Portable hashed-feature bucket in [0, n_features): first 15 hex
    chars of md5(salt || '|' || token) as bigint, mod n_features.
    Twin: :func:`sql_feature_bucket`. NULL tokens bucket to NULL (concat
    is null-propagating, matching SQL ``||``)."""
    h = F.md5(F.concat(F.lit(FEATURE_SALT + "|"), tok))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % n_features


def sql_feature_bucket(tok_expr: str) -> str:
    """DuckDB twin of :func:`feature_bucket`."""
    return (
        f"CAST('0x' || substr(md5('{FEATURE_SALT}' || '|' || {tok_expr}), 1, 15)"
        f" AS BIGINT) % {N_FEATURES}"
    )


def _quant_ln(num: Column, den: Column) -> Column:
    """floor(ln(num/den) * W_SCALE + 0.5) as a long — num/den are exact
    small-integer doubles, so both engines see identical ln inputs."""
    return F.floor(
        F.log(num / den) * F.lit(float(W_SCALE)) + F.lit(0.5)
    ).cast("long")


class NBModel(NamedTuple):
    """A trained Naive Bayes quality model as two relations.

    weights: (bucket, w_q) — quantized log-odds of each OBSERVED bucket
    consts:  one row (w0_q, prior_q) — the unseen-bucket default weight
             ln(1/(N_pos+B)) - ln(1/(N_neg+B)) and the class prior
             ln(n_pos_docs / n_neg_docs), both quantized
    """

    weights: DataFrame
    consts: DataFrame
    #: the feature-space size the model was trained under — scoring
    #: MUST bucket with the same modulus, so it travels with the model
    #: (and through the save/load meta sidecar) instead of being read
    #: from the module constant at score time
    n_features: int = N_FEATURES


def train_quality_nb(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_features: int = N_FEATURES,
) -> NBModel:
    """Train the NB model on *labeled* (boolean *label_col*: True =
    quality/positive class). Two aggregations over the labeled slice;
    every weight quantized once, model-side.

    BOTH classes must be non-empty: the prior is ln(docs_pos/docs_neg),
    and a zero count sends the double division to +/-Infinity, which
    the ANSI long cast inside the quantizer rejects at consts
    materialization — a loud failure (by design: a one-class "training
    set" has no decision boundary to learn), but a downstream one, so
    callers assembling labeled slices dynamically should validate
    counts first."""
    toks = labeled.select(
        F.col(label_col).alias("_pos"),
        F.explode_outer(T.tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.col("_tok").isNotNull())
    per_bucket = toks.groupBy(
        feature_bucket(F.col("_tok"), n_features).alias("bucket")
    ).agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("n_neg"),
    )
    # one-row totals: token mass per class + doc counts for the prior
    # (token count STAGED so the tokenizer runs once per row, not once
    # per consuming aggregate — the established staging rule)
    totals = labeled.select(
        F.col(label_col).alias("_pos"),
        F.coalesce(F.size(T.tokens(F.col(text_col))), F.lit(0)).alias("_n"),
    ).agg(
        F.sum(F.when(F.col("_pos"), F.col("_n")).otherwise(0)).alias("tot_pos"),
        F.sum(F.when(~F.col("_pos"), F.col("_n")).otherwise(0)).alias("tot_neg"),
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("docs_pos"),
        F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("docs_neg"),
    )
    b = F.lit(float(n_features))
    # per-bucket log-odds: quantize each class term separately so the
    # difference is a difference of two independently-exact integers
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            _quant_ln(F.col("n_pos") + 1.0, F.col("tot_pos") + b)
            - _quant_ln(F.col("n_neg") + 1.0, F.col("tot_neg") + b)
        ).alias("w_q"),
    )
    consts = totals.select(
        (
            _quant_ln(F.lit(1.0), F.col("tot_pos") + b)
            - _quant_ln(F.lit(1.0), F.col("tot_neg") + b)
        ).alias("w0_q"),
        _quant_ln(
            F.col("docs_pos").cast("double"), F.col("docs_neg").cast("double")
        ).alias("prior_q"),
    )
    return NBModel(weights=weights, consts=consts, n_features=n_features)


def score_quality(
    corpus: DataFrame,
    model: NBModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score *corpus* under *model*: per document, the integer micro-nat
    log-odds sum ``score_q``, its nat value ``log_odds`` (pround 4), and
    the boolean quality verdict (score > 0 — the equal-cost decision
    boundary).

    The corpus goes through ensure_parallelism first (the
    classify_lang rationale: per-token md5 bucketing is compute-bound
    and a small parquet corpus arrives as ONE split; no-op at real
    scale).

    Plan: tokens explode row-locally, hit the broadcast weight table,
    and re-aggregate on *id_col* (map-side combinable). Zero-token and
    NULL-text documents keep a verdict row via explode_outer (scored on
    the prior alone, ``n_tokens = 0``)."""
    from tower_parse_spark.functions.rounding import pround
    from tower_parse_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    exploded = corpus.select(
        F.col(id_col),
        F.explode_outer(T.tokens(F.col(text_col))).alias("_tok"),
    ).withColumn("bucket", feature_bucket(F.col("_tok"), model.n_features))
    scored = (
        exploded.join(F.broadcast(model.weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("_tok")).alias("n_tokens"),
            # sum skips NULL w_q rows (unseen buckets and the null-token
            # sentinel of an empty doc); NULL when nothing summed
            F.sum(F.col("w_q")).alias("_w_sum"),
            F.sum(
                F.when(
                    F.col("_tok").isNotNull() & F.col("w_q").isNull(), 1
                ).otherwise(0)
            ).alias("_n_unseen"),
        )
    )
    # unseen-bucket tokens contribute the default weight w0_q; folding
    # it in per-GROUP (count * w0_q) instead of per-row keeps the sum an
    # exact integer while letting the weights join stay a plain left join
    return (
        scored.crossJoin(F.broadcast(model.consts))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (
                F.col("prior_q")
                + F.coalesce(F.col("_w_sum"), F.lit(0))
                + F.col("_n_unseen") * F.col("w0_q")
            ).alias("score_q"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("score_q"),
            pround(F.col("score_q") / F.lit(float(W_SCALE)), 4).alias(
                "log_odds"
            ),
            (F.col("score_q") > 0).alias("is_quality"),
        )
    )


# --------------------------------------------------------------------------
# Multiclass NB over character n-grams — trained language ID
# --------------------------------------------------------------------------
#
# The langid component of CCNet-style pipelines is fastText (Joulin et
# al. 2016): character-n-gram features + a linear classifier. The
# closed-form relational analog is the same hashed-feature NB as above,
# generalized to k classes: per-class quantized NLL weights per bucket,
# per-document NLL sums per class (exact integer arithmetic), argmin.
# Complements functions/text.py's wordlist langid HEURISTIC (the
# oracle-checked query) with a TRAINED model for corpora where wordlists
# don't transfer. The fixture's `lang` column is independent of its
# word-salad text, so this stays pytest-covered on controlled corpora
# (the honest divergence note, cf. multimodal's stub discipline).

#: char n-gram width and per-doc feature cap (langid saturates fast —
#: fastText defaults to similar truncation)
LANGID_NGRAM = 3
LANGID_MAX_CHARS = 200


def char_ngrams(text: Column, n: int = LANGID_NGRAM) -> Column:
    """Character n-grams of the (lowercased, truncated) text — a pure
    row-local array expression; empty/NULL/short text yields []."""
    t = F.substring(F.lower(F.coalesce(text, F.lit(""))), 1, LANGID_MAX_CHARS)
    cnt = F.length(t) - (n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.substring(t, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


class MulticlassNB(NamedTuple):
    """k-class NB as one weights relation + the fixed class list.

    classes: sorted class labels (index = position in every array)
    weights: (bucket, nlls: array<long>) — per OBSERVED bucket, the
             quantized NLL of that bucket under each class
    consts:  one row (priors: array<long>, nll0: array<long>) —
             per-class prior NLL and unseen-bucket NLL
    """

    classes: tuple[str, ...]
    weights: DataFrame
    consts: DataFrame
    n_features: int = N_FEATURES


def train_langid_nb(
    labeled: DataFrame,
    class_col: str = "lang",
    text_col: str = "text",
    n_features: int = N_FEATURES,
) -> MulticlassNB:
    """Train the char-n-gram NB langid model: ONE pass over the labeled
    slice for the class stats + one explode/(bucket, class) counting
    aggregate for the weights; every NLL quantized once, model-side.

    r17 (guide §2.4/§5, VERDICT r16 #6): the class list and the
    per-class totals used to take THREE passes over the labeled slice —
    a distinct+collect for the classes, a two-stage groupBy-then-map
    aggregation for the totals, and the gram explode — with the totals
    crossJoin-broadcast back onto every weight row. The class stats are
    exact small integers (token mass, doc count), so one
    groupBy+collect job now yields classes AND totals; the NLL
    expressions take them as plan literals (the arithmetic and ln stay
    in the SAME JVM expressions as before — the literals replace only
    the map lookups, so every quantized value is bit-identical) and the
    one-row consts relation is built from literals instead of a second
    aggregation. Three exchanges + one driver job fewer per training
    run; the labeled slice is scanned twice (stats + grams) instead of
    three times. The labeled slice goes through ensure_parallelism
    (same rationale as classify_lang — compute-bound gram hashing over
    a possibly single-split input)."""
    from tower_parse_spark.session import ensure_parallelism

    labeled = ensure_parallelism(labeled)
    # one job: per-class exact (token mass, doc count); the key set IS
    # the class list (sorted — same order the old distinct produced)
    stats = (
        labeled.select(
            F.col(class_col).alias("_cls"),
            F.coalesce(F.size(char_ngrams(F.col(text_col))), F.lit(0)).alias(
                "_n"
            ),
        )
        .groupBy("_cls")
        .agg(F.sum("_n").alias("tok"), F.count(F.lit(1)).alias("docs"))
        .orderBy("_cls")
        .collect()
    )
    classes = tuple(r["_cls"] for r in stats)
    if len(classes) < 2:
        raise ValueError("langid training needs >= 2 classes")
    tok = {r["_cls"]: int(r["tok"]) for r in stats}
    docs = {r["_cls"]: int(r["docs"]) for r in stats}
    alldocs = sum(docs.values())
    b = F.lit(float(n_features))

    grams = labeled.select(
        F.col(class_col).alias("_cls"),
        F.explode_outer(char_ngrams(F.col(text_col))).alias("_g"),
    ).filter(F.col("_g").isNotNull())
    per = grams.groupBy(
        feature_bucket(F.col("_g"), n_features).alias("bucket"), F.col("_cls")
    ).agg(F.count(F.lit(1)).alias("n"))

    # per-class NLL of a bucket: ln((tot_c + B) / (n_bc + 1)); unseen
    # (bucket, class) pairs take n=0 -> the class's nll0. Assemble the
    # class-aligned array by looking the bucket's per-class counts up
    # in a map (missing -> 0); the class totals are plan literals.
    bucket_counts = per.groupBy("bucket").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_cls"), F.col("n")))
        ).alias("_n")
    )
    weights = bucket_counts.select(
        "bucket",
        F.array(
            *[
                _quant_ln(
                    F.lit(float(tok[c])) + b,
                    F.coalesce(
                        F.element_at(F.col("_n"), F.lit(c)), F.lit(0)
                    )
                    + F.lit(1.0),
                )
                for c in classes
            ]
        ).alias("nlls"),
    )
    spark = labeled.sparkSession
    consts = spark.range(1).select(
        F.array(
            *[
                _quant_ln(
                    F.lit(float(alldocs)), F.lit(float(docs[c]))
                )
                for c in classes
            ]
        ).alias("priors"),
        F.array(
            *[
                _quant_ln(F.lit(float(tok[c])) + b, F.lit(1.0))
                for c in classes
            ]
        ).alias("nll0"),
    )
    return MulticlassNB(
        classes=classes, weights=weights, consts=consts, n_features=n_features
    )


def classify_lang(
    corpus: DataFrame,
    model: MulticlassNB,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Predict each document's class: per-class integer NLL sums over
    the broadcast weight table, argmin (ties break to the earlier class
    — deterministic). Emits (id, lang_pred, nll_margin_q): the margin
    is runner-up minus best in micro-nats, the standard langid
    confidence. Zero-gram docs predict on the priors alone.

    Plan: grams explode row-locally; the k per-class sums are k
    aggregate expressions in ONE map-side-combinable groupBy on the id
    (k is fixed at train time, so no posexplode blowup and no second
    shuffle); argmin + margin are row-local array expressions on the
    k-column result. The corpus goes through ensure_parallelism first
    (the minhash signature-hashing precedent): the per-gram md5
    bucketing is compute-bound, and a small parquet corpus arrives as
    ONE split — scoring sf0.1 ran 6x slower single-core before this
    (r10); a 100 TB corpus already has >= cores splits and passes
    through untouched."""
    from tower_parse_spark.session import ensure_parallelism

    k = len(model.classes)
    corpus = ensure_parallelism(corpus)
    exploded = corpus.select(
        F.col(id_col),
        F.explode_outer(char_ngrams(F.col(text_col))).alias("_g"),
    ).withColumn("bucket", feature_bucket(F.col("_g"), model.n_features))
    joined = exploded.join(
        F.broadcast(model.weights), "bucket", "left"
    )
    # the class-aligned per-gram NLL array: unseen bucket -> nll0 (a
    # plan literal would be nicer, but nll0 lives in the consts row —
    # joined one-row below); the null-gram sentinel of an empty doc
    # contributes zero while keeping the doc's group alive
    joined = joined.crossJoin(F.broadcast(model.consts))
    arr = F.when(
        F.col("_g").isNull(), F.array_repeat(F.lit(0).cast("long"), k)
    ).otherwise(F.coalesce(F.col("nlls"), F.col("nll0")))
    sums = [
        F.sum(F.element_at(arr, i + 1)).alias(f"_s{i}") for i in range(k)
    ]
    scored = joined.groupBy(id_col).agg(
        *sums, F.first("priors").alias("_pri")
    )
    scores = F.array(
        *[
            F.col(f"_s{i}") + F.element_at(F.col("_pri"), i + 1)
            for i in range(k)
        ]
    )
    cls_arr = F.array(*[F.lit(c) for c in model.classes])
    staged = scored.select(
        F.col(id_col), scores.alias("_scores")
    ).select(
        F.col(id_col),
        "_scores",
        # array_position returns the FIRST match -> ties break to the
        # earlier (lexicographically smaller) class, deterministic
        F.array_position(
            F.col("_scores"), F.array_min(F.col("_scores"))
        ).cast("int").alias("_best"),
        F.array_sort(F.col("_scores")).alias("_sorted"),
    )
    return staged.select(
        F.col(id_col),
        F.element_at(cls_arr, F.col("_best")).alias("lang_pred"),
        (
            F.element_at(F.col("_sorted"), 2)
            - F.element_at(F.col("_sorted"), 1)
        ).alias("nll_margin_q"),
    )
