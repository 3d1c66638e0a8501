"""Greedy longest-match subword accounting (operators/subword.py,
queries/llm.py::token_count_bpe)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tower_parse_spark.operators import subword as SW


def _counts(spark, words, vocab=SW.SUBWORD_VOCAB):
    df = spark.createDataFrame([(w,) for w in words], "w string")
    return {
        r.w: r.n
        for r in df.select(
            "w", SW.subword_count(F.col("w"), vocab).alias("n")
        ).collect()
    }


def test_known_segmentations(spark):
    got = _counts(
        spark, ["customer", "window", "stream", "a", "sort", "column"]
    )
    # cust|om|er, window, st|r?.. str|eam, a, sort, col|umn
    assert got == {
        "customer": 3,
        "window": 1,
        "stream": 2,
        "a": 1,
        "sort": 1,
        "column": 2,
    }


def test_longest_match_wins(spark):
    # with both 'wind' and 'window' in vocab, greedy takes the longer
    got = _counts(spark, ["window", "windy"], vocab=("wind", "window", "y"))
    assert got["window"] == 1  # window, not wind|o|w
    assert got["windy"] == 2  # wind|y


def test_fallback_consumes_single_chars(spark):
    got = _counts(spark, ["x9z", ""], vocab=("ab",))
    assert got["x9z"] == 3  # three 1-char fallbacks
    assert got[""] == 0


def test_null_word_counts_zero(spark):
    # r8 ADVICE: a bare NULL used to poison the step guard and count 1;
    # NULL now coalesces to '' inside subword_count
    df = spark.createDataFrame([(None,), ("ab",)], "w string")
    got = df.select(SW.subword_count(F.col("w")).alias("n")).collect()
    assert [r.n for r in got] == [0, 2]


def test_all_single_char_vocab(spark):
    # no probe lengths > 1: the fold degenerates to pure 1-char steps
    got = _counts(spark, ["abc", ""], vocab=("a", "b"))
    assert got == {"abc": 3, "": 0}


def test_relational_counts_match_fold(spark):
    """The hash-join strategy (32k-vocab path) is count-identical to
    the expression fold, including NULL/empty words and the 1-char
    fallback."""
    words = ["customer", "window", "stream", "a", "", "x9z", "wwindoww"]
    df = spark.createDataFrame([(w,) for w in words] + [(None,)], "w string")
    fold = {
        r.w: r.n
        for r in df.select(
            "w", SW.subword_count(F.col("w")).alias("n")
        ).collect()
    }
    rel = {
        r.w: r.n_sub
        for r in SW.subword_counts_relational(
            df, SW.SUBWORD_VOCAB, word_col="w"
        ).collect()
    }
    assert rel == fold
    # single-char vocab degenerate case
    rel1 = {
        r.w: r.n_sub
        for r in SW.subword_counts_relational(
            df, ("a", "b"), word_col="w"
        ).collect()
    }
    assert rel1 == {w: (len(w) if w else 0) for w in words} | {None: 0}


def test_fold_runs_on_distinct_words_only(spark):
    # the expensive fold must sit ABOVE the distinct aggregate, never in
    # the per-token stream: the executed plan's substring sites appear
    # after HashAggregate(keys=[_tok...]), and the exploded relation
    # carries no fold expressions
    from tower_parse_spark.functions import text as T

    docs = spark.createDataFrame(
        [(1, "customer window")], "doc_id long, text string"
    ).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    plan = (
        SW.token_subword_arrays(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one Aggregate on _tok (the distinct) feeds the single projection
    # holding the fold; 'aggregate(sequence' is the fold's fingerprint
    assert plan.count("aggregate(sequence") == 1, plan


def test_empty_piece_rejected(spark):
    import pytest

    with pytest.raises(ValueError, match="must not contain ''"):
        _counts(spark, ["abc"], vocab=("ab", ""))


def test_token_subword_arrays_alignment(spark):
    """subs[i] must be the piece count of toks[i] — position-aligned
    even when the same token repeats and across empty/NULL docs."""
    from tower_parse_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "customer window customer"),
            (2, ""),
            (3, None),
            (4, "window"),
        ],
        "doc_id long, text string",
    )
    staged = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    out = {
        r.doc_id: r.subs
        for r in SW.token_subword_arrays(staged, "doc_id", "toks").collect()
    }
    per_tok = {
        r.w: r.n
        for r in spark.createDataFrame(
            [("customer",), ("window",)], "w string"
        )
        .select("w", SW.subword_count(F.col("w")).alias("n"))
        .collect()
    }
    c, w = per_tok["customer"], per_tok["window"]
    assert out[1] == [c, w, c]
    assert out[2] == [] and out[3] == []
    assert out[4] == [w]
    # span billing: slice-and-sum over the aligned array equals the
    # sum of the span's per-token counts (the doc_chunking consumer)
    assert sum(out[1][0:2]) == c + w


def test_duplicate_pieces_are_a_noop(spark):
    """ADVICE r9 (low): the per-length probe maps are built with
    F.create_map, which throws DUPLICATED_MAP_KEY under Spark's default
    mapKeyDedupPolicy=EXCEPTION — a caller-supplied vocab with a
    repeated piece must count exactly like the deduplicated vocab (the
    legacy filter-scan tolerated repeats), in BOTH strategies."""
    dup = ("wind", "window", "wind", "y", "y")
    uniq = ("wind", "window", "y")
    assert _counts(spark, ["window", "windy"], vocab=dup) == _counts(
        spark, ["window", "windy"], vocab=uniq
    )
    words = spark.createDataFrame([("windy",), ("window",)], "_tok string")
    rel = {
        r._tok: r.n_sub
        for r in SW.subword_counts_relational(words, dup).collect()
    }
    assert rel == {"windy": 2, "window": 1}
