"""Hashed-feature Naive Bayes quality classifier
(operators/classifier.py, queries/filtering.py::quality_classifier)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tower_parse_spark.operators import classifier as CL

CLEAN = "the committee published the annual report with detailed findings"
SPAM = "click here buy now free casino winner bonus offer deal"


def _labeled(spark):
    rows = [(True, CLEAN + " today"), (True, CLEAN + " yesterday")] + [
        (False, SPAM + " now"),
        (False, SPAM + " again"),
    ]
    return spark.createDataFrame(rows, "label boolean, text string")


def test_directional_scoring(spark):
    model = CL.train_quality_nb(_labeled(spark))
    corpus = spark.createDataFrame(
        [
            (1, CLEAN),  # pure positive vocabulary
            (2, SPAM),  # pure negative vocabulary
            (3, CLEAN + " " + SPAM + " " + SPAM),  # spam-dominated mix
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in CL.score_quality(corpus, model).collect()}
    assert out[1].is_quality and out[1].score_q > 0
    assert not out[2].is_quality and out[2].score_q < 0
    assert not out[3].is_quality
    # log_odds is the nat value of the quantized integer score
    assert abs(out[1].log_odds - round(out[1].score_q / 1e6, 4)) < 1e-9


def test_empty_and_null_docs_keep_verdict_rows(spark):
    model = CL.train_quality_nb(_labeled(spark))
    corpus = spark.createDataFrame(
        [(1, ""), (2, None), (3, "...!!!")],  # tokenizer yields [] for all
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in CL.score_quality(corpus, model).collect()}
    assert set(rows) == {1, 2, 3}
    prior = model.consts.collect()[0].prior_q
    for r in rows.values():
        assert r.n_tokens == 0
        # scored on the prior alone (equal class sizes here -> 0)
        assert r.score_q == prior == 0


def test_unseen_tokens_get_default_weight(spark):
    model = CL.train_quality_nb(_labeled(spark))
    w0 = model.consts.collect()[0].w0_q
    # tokens chosen to hash AWAY from every bucket the fixed training
    # slice observes (feature-hash collisions are part of the method;
    # this test wants the pure-unseen path)
    corpus = spark.createDataFrame(
        [(1, "qqunseen0 qqunseen1")], "doc_id long, text string"
    )
    r = CL.score_quality(corpus, model).collect()[0]
    # both tokens hash to unobserved buckets -> exactly 2 * w0 + prior
    assert r.score_q == 2 * w0
    assert r.n_tokens == 2


def test_weight_table_bounded_by_construction(spark):
    # many distinct tokens still produce <= N_FEATURES weight rows —
    # the broadcast-safety argument for the scoring join
    rows = [(i % 2 == 0, f"tokn{i} tokm{i * 7} tokz{i * 13}") for i in range(400)]
    labeled = spark.createDataFrame(rows, "label boolean, text string")
    model = CL.train_quality_nb(labeled)
    assert model.weights.count() <= CL.N_FEATURES


def test_scoring_plan_shape(spark):
    model = CL.train_quality_nb(_labeled(spark))
    corpus = spark.createDataFrame(
        [(1, CLEAN)], "doc_id long, text string"
    )
    plan = (
        CL.score_quality(corpus, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # the corpus token stream reaches the weight table via broadcast
    # (bounded at N_FEATURES rows by construction) and is shuffled
    # exactly once — the per-document aggregate
    assert "BroadcastHashJoin" in plan
    corpus_shuffles = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert corpus_shuffles.count("doc_id") == 1, plan


def test_quality_classifier_query_plants_fire(spark):
    from tower_parse_spark.queries.filtering import (
        QC_SPAM_OFFSET,
        quality_classifier,
    )

    out = quality_classifier(spark, "/root/testdata/sf0.001")
    planted = out.filter(F.col("doc_id") >= QC_SPAM_OFFSET)
    n_planted = planted.count()
    assert n_planted > 0
    # every planted junk copy is classified not-quality
    assert planted.filter(F.col("is_quality")).count() == 0
    # the bulk of the raw corpus classifies as quality
    raw = out.filter(F.col("doc_id") < QC_SPAM_OFFSET)
    kept = raw.filter(F.col("is_quality")).count()
    assert kept / raw.count() > 0.9


# --------------------------------------------------------------------------
# Multiclass NB langid (char n-grams)
# --------------------------------------------------------------------------

# three synthetic "languages" with disjoint character distributions
_LANG_TEXT = {
    "aa": "aaab aabb abab baaa abba babb aaba",
    "zz": "zzzy zyzy yzzz zzyy yzyz zyyz zzzz",
    "mm": "mnmn nmnm mmnn nnmm mnnm nmmn mmmm",
}


def _langid_labeled(spark, reps=4):
    rows = [
        (lang, t + f" {t.split()[i % 7]}")
        for lang, t in _LANG_TEXT.items()
        for i in range(reps)
    ]
    return spark.createDataFrame(rows, "lang string, text string")


def test_langid_train_and_classify_heldout(spark):
    model = CL.train_langid_nb(_langid_labeled(spark))
    assert model.classes == ("aa", "mm", "zz")
    held = spark.createDataFrame(
        [
            (1, "abab aaba baab"),  # aa-ish
            (2, "zyzy zzzy yzzy"),  # zz-ish
            (3, "mnmm nmnn mmnm"),  # mm-ish
        ],
        "doc_id long, text string",
    )
    pred = {r.doc_id: r for r in CL.classify_lang(held, model).collect()}
    assert pred[1].lang_pred == "aa"
    assert pred[2].lang_pred == "zz"
    assert pred[3].lang_pred == "mm"
    # confident: the margin to the runner-up is strictly positive
    assert all(r.nll_margin_q > 0 for r in pred.values())


def test_langid_empty_doc_predicts_prior(spark):
    # skew the priors: 6 aa docs vs 2 each of the others -> an empty
    # doc scores on priors alone and lands on the majority class
    rows = [("aa", _LANG_TEXT["aa"])] * 6 + [
        ("zz", _LANG_TEXT["zz"]),
        ("zz", _LANG_TEXT["zz"]),
        ("mm", _LANG_TEXT["mm"]),
        ("mm", _LANG_TEXT["mm"]),
    ]
    model = CL.train_langid_nb(
        spark.createDataFrame(rows, "lang string, text string")
    )
    out = CL.classify_lang(
        spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string"),
        model,
    ).collect()
    assert {r.doc_id for r in out} == {1, 2}
    assert all(r.lang_pred == "aa" for r in out)


def test_langid_rejects_single_class(spark):
    import pytest

    one = spark.createDataFrame(
        [("aa", "aaaa")], "lang string, text string"
    )
    with pytest.raises(ValueError, match=">= 2 classes"):
        CL.train_langid_nb(one)


def test_langid_weight_table_bounded(spark):
    model = CL.train_langid_nb(_langid_labeled(spark))
    assert model.weights.count() <= CL.N_FEATURES
    # every weights row carries one NLL per class
    row = model.weights.first()
    assert len(row.nlls) == 3


def test_training_invariant_under_partitioning(spark):
    """The quantize-then-sum exactness claim, pinned mechanically: the
    model's integer weights must be bit-identical no matter how the
    labeled slice is partitioned (partial-aggregation order must never
    leak into quantized values)."""
    rows = [
        (i % 3 != 0, f"alpha{i % 7} beta{i % 5} gamma{i % 11} common word")
        for i in range(200)
    ]
    base = spark.createDataFrame(rows, "label boolean, text string")

    def fingerprint(df):
        m = CL.train_quality_nb(df)
        w = sorted((r.bucket, r.w_q) for r in m.weights.collect())
        c = m.consts.collect()[0]
        return (tuple(w), c.w0_q, c.prior_q)

    one = fingerprint(base.coalesce(1))
    many = fingerprint(base.repartition(17))
    assert one == many
