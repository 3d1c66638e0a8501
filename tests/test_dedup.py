"""Dedup operator family on small literal corpora with known duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.operators import dedup as D

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bend"),  # near dup of 1
    (4, "completely different text about spark dataframes and shuffles here"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["survivor_id"]: r["n_copies"] for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1}


def test_minhash_identical_docs_jaccard_one(docs):
    pairs = {
        (r["id1"], r["id2"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # near-dup pair should be found with high estimated overlap
    assert pairs.get((1, 3), 0.0) > 0.5 or pairs.get((2, 3), 0.0) > 0.5
    # unrelated doc 4 never pairs
    assert not any(4 in p for p in pairs)


def test_minhash_fast_hash_family(docs):
    """hash_fn='fast' (xxhash64) keeps the semantics: identical docs get
    identical signatures; the estimate for exact dups is still 1.0."""
    sigs = {
        r["doc_id"]: tuple(r["mh"])
        for r in D.with_minhash(docs, hash_fn="fast").select("doc_id", "mh").collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_simhash_identity_and_locality(docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.with_simhash(docs).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint
    assert 0 <= fps[1] < 2**32
    # near-dup differs in few bits, unrelated text in many
    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fps[1], fps[3]) < hamming(fps[1], fps[4])


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # 1 vs 3: 13 tokens -> 11 trigrams; only the last trigram differs
    # (intersection 10, union 12)
    assert pairs[(1, 3)] == pytest.approx(10 / 12, abs=1e-4)


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.999, 0.01, 0.0], "a"),  # near-dup of 1 (same block)
        (3, [0.0, 1.0, 0.0], "a"),  # orthogonal
        (4, [1.0, 0.0, 0.0], "b"),  # same vector, other block: unseen
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    pairs = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in D.embedding_near_dup_pairs(
            df, block_col="label", threshold=0.9
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.99


def test_embedding_near_dup_defaults_to_lsh_bucket(spark):
    """Unblocked corpora (no block_col) must route through the sign-LSH
    bucket, not a natural-label self-join: with a skewed/degenerate label
    column the per-label join is O(n^2/B). Assert the default path (a)
    still finds a planted near-dup pair and (b) spreads a skewed corpus
    over multiple buckets with no block close to the full table."""
    import math

    from tower_parse_spark.operators.similarity import bucket_expr
    from tower_parse_spark.functions.vectors import as_double
    from pyspark.sql import functions as F

    n, dim = 240, 8
    rows = []
    for i in range(n):
        # deterministic spread directions (every vector has label "a")
        v = [
            math.sin(0.7 * i + 1.3 * j) + 0.1 * ((i * 7 + j * 11) % 5 - 2)
            for j in range(dim)
        ]
        rows.append((i, v, "a"))
    # planted near-duplicate of row 0
    rows.append((n, [x * 1.0001 for x in rows[0][1]], "a"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )

    pairs = {
        (r["id1"], r["id2"])
        for r in D.embedding_near_dup_pairs(df, threshold=0.999).collect()
    }
    assert (0, n) in pairs

    # block-size bound: the LSH buckets the default path joins on must
    # keep every block well under the single-label degenerate size
    sizes = [
        r["c"]
        for r in df.select(
            bucket_expr(as_double(F.col("embedding")), dim).alias("blk")
        )
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert len(sizes) >= 4
    assert max(sizes) <= (n + 1) // 2


def test_simhash_fast_family(spark):
    """hash_fn='fast' (xxhash64) mirrors the MinHash production family:
    different fingerprints than the portable md5 family, but the same
    dedup property — identical texts collide, disjoint texts don't."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "entirely different words about spark and parquet tables"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("portable", "fast"):
        fps = {
            r["doc_id"]: r["simhash"]
            for r in D.with_simhash(df, hash_fn=fam).collect()
        }
        assert fps[1] == fps[2]
        assert fps[1] != fps[3]


def test_embedding_dedup_planted_pair_recall(spark):
    """Lattice-independent recall gate for the sign-LSH blocking default
    (ADVICE r4): the oracle reproduces the same hyperplane lattice as
    the engine, so a shared misunderstanding of the blocking would pass
    the hash check silently. This floor is computed against a
    BLOCKING-FREE ground truth — the fixture's injected near-copies
    (vec_id, vec_id+1e6) joined directly on id, cosine >= 0.9 — so it
    fails if the lattice ever starts splitting genuine near-duplicates
    into different buckets wholesale. Measured recall 0.958 at sf0.001
    (0.964 at sf0.01); the misses are the documented near-boundary sign
    flips (SCALE.md recall table)."""
    from tower_parse_spark.functions.vectors import as_double, dot, norm
    from tower_parse_spark.queries.llm import _emb_with_near_copies

    emb2 = _emb_with_near_copies(spark, "/root/testdata/sf0.001")
    base = emb2.filter(F.col("vec_id") < 1_000_000).select(
        F.col("vec_id").alias("b_id"),
        as_double(F.col("embedding")).alias("bv"),
    )
    copy = emb2.filter(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("b_id"),
        as_double(F.col("embedding")).alias("cv"),
    )
    cos = dot(F.col("bv"), F.col("cv")) / (
        norm(F.col("bv")) * norm(F.col("cv"))
    )
    truth = (
        base.join(copy, "b_id")
        .filter(F.round(cos, 4) >= 0.9)
        .count()
    )
    assert truth >= 400  # the fixture really does plant near-copies

    lsh = D.embedding_near_dup_pairs(emb2, threshold=0.9, dim=64)
    found = lsh.filter(F.col("id2") == F.col("id1") + 1_000_000).count()
    assert found / truth >= 0.9


def test_source_overlap_minhash_sketch_union(spark):
    """Merged-sketch semantics: identical sources estimate Jaccard 1.0;
    a token-disjoint source produces NO pair row (matches-only output,
    like minhash_lsh_pairs)."""
    from tower_parse_spark.operators.dedup import source_minhash_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared, "en", "srcA", len(shared)),
        (2, shared, "en", "srcB", len(shared)),
        (3, "one two three four five six seven eight", "en", "srcC", 39),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        (r["group1"], r["group2"]): r
        for r in source_minhash_overlap(df).collect()
    }
    assert out[("srcA", "srcB")]["est_jaccard"] == 1.0
    assert out[("srcA", "srcB")]["n_match"] == 16
    assert ("srcA", "srcC") not in out and ("srcB", "srcC") not in out


def test_incremental_exact_dedup(spark):
    """Daily-batch shape: in-batch min-id survivors, then anti-join
    against the historical hash index; state advances by appending the
    survivors' hashes."""
    from tower_parse_spark.operators.dedup import (
        exact_dedup,
        incremental_exact_dedup,
    )

    day1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    index1 = exact_dedup(day1).select("text_hash")
    day2 = spark.createDataFrame(
        [
            (10, "beta"),   # dup of history
            (11, "gamma"),  # new
            (12, "gamma"),  # in-batch dup, loses to 11
            (13, "alpha"),  # dup of history
        ],
        "doc_id long, text string",
    )
    out = incremental_exact_dedup(day2, index1).collect()
    assert [(r["doc_id"], r["text"]) for r in out] == [(11, "gamma")]
    # advancing the index with the survivors makes a re-run a no-op
    index2 = index1.union(
        spark.createDataFrame(out).select("text_hash")
    )
    assert incremental_exact_dedup(day2, index2).count() == 0


def test_incremental_minhash_dedup_round_trip(spark):
    """build index -> probe a batch (exact copy, reworded copy, novel
    doc) -> append survivors -> a re-probe of a survivor's copy flags.
    History documents are never re-read: the probe runs on the index
    relation alone."""
    hist = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
        ],
        "doc_id long, text string",
    )
    index = D.banded_signatures(hist, hash_fn="fast")
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            # appended token: shingle SET grows but most minima survive,
            # so bands still collide (a tail-token REPLACEMENT can
            # legitimately miss when the changed shingle's hash was a
            # band-critical minimum — deterministic family, no retry)
            (11, "the quick brown fox jumps over the lazy dog today tonight"),
            (12, "completely novel words that share nothing at all here"),
            (13, "xy"),  # shingle-less -> never a candidate
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in D.incremental_minhash_dedup(batch, index).collect()
    }
    assert out[10].is_dup and out[10].max_est_jaccard == 1.0
    assert out[11].is_dup and 0.5 <= out[11].max_est_jaccard < 1.0
    assert not out[12].is_dup and out[12].n_hist_matches == 0
    assert not out[13].is_dup
    # in-batch stage: 11 near-matches LOWER-id 10 within the batch; 10
    # itself survives the min-id rule
    assert out[11].in_batch_dup and not out[10].in_batch_dup
    assert not out[12].in_batch_dup and not out[13].in_batch_dup
    survivors = batch.filter(F.col("doc_id") == 12)
    index = index.unionByName(D.banded_signatures(survivors, hash_fn="fast"))
    reprobe = spark.createDataFrame(
        [(20, "completely novel words that share nothing at all here")],
        "doc_id long, text string",
    )
    out2 = D.incremental_minhash_dedup(reprobe, index).first()
    assert out2.is_dup and out2.max_est_jaccard == 1.0


def test_incremental_minhash_rejects_family_mismatch(spark):
    """A probe with the wrong hash family would silently never collide —
    the index's self-describing hash_fn column makes it raise instead."""
    import pytest as _pytest

    hist = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"
    )
    index = D.banded_signatures(hist, hash_fn="fast")
    with _pytest.raises(ValueError, match="hash_fn"):
        D.incremental_minhash_dedup(hist, index, hash_fn="portable")


def test_incremental_minhash_in_batch_copies(spark):
    """N identical novel docs in ONE batch: only the min id survives —
    without the in-batch stage every copy would be indexed forever."""
    index = D.banded_signatures(
        spark.createDataFrame(
            [(1, "unrelated history content entirely different")],
            "doc_id long, text string",
        )
    )
    batch = spark.createDataFrame(
        [(10, "new boilerplate page repeated many times today"),
         (11, "new boilerplate page repeated many times today"),
         (12, "new boilerplate page repeated many times today")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in D.incremental_minhash_dedup(
            batch, index, hash_fn="portable"
        ).collect()
    }
    assert not any(r.is_dup for r in out.values())  # novel vs history
    assert not out[10].in_batch_dup
    assert out[11].in_batch_dup and out[12].in_batch_dup


def test_incremental_minhash_matches_fuzzy_flags(spark):
    """The index probe is the same math as flag_contaminated_fuzzy run
    directly on the history documents — verdict-for-verdict."""
    from tower_parse_spark.operators.decontam import flag_contaminated_fuzzy

    hist = spark.createDataFrame(
        [(i, f"history doc number {i} with shared tail words " + "w " * i)
         for i in range(1, 6)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (101, "history doc number 3 with shared tail words w w w"),
            (102, "unrelated fresh content nothing in common whatsoever"),
        ],
        "doc_id long, text string",
    )
    banded = D.banded_signatures(hist, hash_fn="portable")
    via_index = {
        r.doc_id: (r.is_dup, r.max_est_jaccard, r.n_hist_matches)
        for r in D.incremental_minhash_dedup(
            batch, banded, hash_fn="portable"
        ).collect()
    }
    via_docs = {
        r.doc_id: (r.contaminated, r.max_est_jaccard, r.n_bench_matches)
        for r in flag_contaminated_fuzzy(
            batch, hist, hash_fn="portable"
        ).collect()
    }
    assert via_index == via_docs


def test_incremental_minhash_index_never_shuffled(spark):
    """The history index must stream through a BroadcastHashJoin (batch
    side broadcast) — shuffling the index would defeat the operator.
    Every allowed exchange below is BATCH-sized: the hits dedupe + agg
    (_nid x2), the in-batch pair dedupe (id1) and the id2 distinct
    (doc_id). The in-batch self-join of the batch's own signatures is
    BROADCAST too (batch ≪ history is the operating assumption), so no
    band_key shuffle appears. Matching hash families on both sides — a
    mismatch would make the probed join vacuous (and now raises)."""
    import re

    hist = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "one two three four five six")], "doc_id long, text string"
    )
    out = D.incremental_minhash_dedup(
        batch, D.banded_signatures(hist), hash_fn="portable"
    )
    # the fixture exercises a REAL match, not just a plan shape
    assert out.first().is_dup
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert sorted(shuffles) == ["_nid", "_nid", "doc_id", "id1"], plan
    assert plan.count("BroadcastHashJoin") == 4, plan


def test_passage_dedup(spark):
    """Passage-level dedup: the repeated 4-token passage survives only at
    its first global occurrence; per-doc stats and the rebuilt text
    reflect exactly the removed occurrences."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),       # passages: "a b c d", "e f g h"
            (2, "a b c d x y z w"),       # first passage dups doc 1's
            (3, "e f g h a b c d"),       # both passages dup doc 1's
            (4, ""),                      # no tokens -> no passages
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.passage_dedup(docs, passage_tokens=4).collect()
    }
    assert set(out) == {1, 2, 3}  # empty doc drops out
    assert (out[1]["n_dup_passages"], out[1]["dedup_text"]) == (
        0,
        "a b c d e f g h",
    )
    assert (out[2]["n_dup_passages"], out[2]["dedup_text"]) == (
        1,
        "x y z w",
    )
    assert (out[3]["n_dup_passages"], out[3]["dedup_text"]) == (2, "")
    assert out[3]["dup_frac"] == 1.0
    assert out[2]["dup_frac"] == 0.5


def test_boilerplate_removal(spark):
    """Frequency-thresholded boilerplate: the header passage shared by
    3 docs is removed from ALL of them (not kept at its first
    occurrence, unlike passage_dedup); a passage shared by only 2 docs
    stays below the min_doc_freq=3 bar; a doc that is pure boilerplate
    cleans to empty text."""
    docs = spark.createDataFrame(
        [
            (1, "h1 h2 h3 h4 a b c d"),   # header + unique body
            (2, "h1 h2 h3 h4 e f g h"),   # header + unique body
            (3, "h1 h2 h3 h4"),           # pure header
            (4, "p q r s m n o t"),       # "p q r s" shared by 2 docs only
            (5, "p q r s u v w x"),
            (6, ""),                      # no tokens -> drops out
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.boilerplate_removal(
            docs, passage_tokens=4, min_doc_freq=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    for d, body in ((1, "a b c d"), (2, "e f g h")):
        assert out[d]["n_boiler_passages"] == 1
        assert out[d]["clean_text"] == body
        assert out[d]["boiler_frac"] == 0.5
    assert out[3]["clean_text"] == "" and out[3]["boiler_frac"] == 1.0
    # df=2 < 3: the shared "p q r s" passage survives in BOTH docs
    assert out[4]["n_boiler_passages"] == 0
    assert out[4]["clean_text"] == "p q r s m n o t"
    assert out[5]["clean_text"] == "p q r s u v w x"


def test_boilerplate_within_doc_repeat_not_boiler(spark):
    """Document frequency counts DISTINCT docs: a passage repeated
    twice inside ONE document doesn't cross min_doc_freq=2 on its own."""
    docs = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "x y z w q r s t")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.boilerplate_removal(
            docs, passage_tokens=4, min_doc_freq=2
        ).collect()
    }
    assert out[1]["n_boiler_passages"] == 0
    assert out[1]["clean_text"] == "a b c d a b c d"


def test_passage_dedup_short_tail_passage(spark):
    """A trailing passage shorter than the stride is still a passage —
    and two identical short tails dedup against each other."""
    docs = spark.createDataFrame(
        [(1, "p q r s t"), (2, "x y z w t")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.passage_dedup(docs, passage_tokens=4).collect()
    }
    # both docs have 2 passages; the 1-token tail "t" is shared and doc 2
    # loses it to doc 1
    assert out[1]["n_passages"] == 2 and out[1]["n_dup_passages"] == 0
    assert out[2]["n_dup_passages"] == 1
    assert out[2]["dedup_text"] == "x y z w"
