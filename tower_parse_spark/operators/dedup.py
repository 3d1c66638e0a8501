"""Deduplication operators for training-data pipelines.

Five dedup families, each partition-parallel and shuffle-minimal — the
core requirement for a 100 TB documents table:

- **exact**: hash-groupBy on md5(text). One shuffle on a 128-bit key;
  survivor = min(doc_id) (deterministic).
- **MinHash + LSH**: shingle -> K minhashes -> B bands; only same-band
  collisions are compared, so candidate generation is a groupBy on the
  band key (linear), never an O(n^2) cross join. Estimated Jaccard =
  fraction of matching minhash components.
- **SimHash**: 32-bit weighted-bit fingerprint computed with 32 aggregate
  columns (no row blowup); near-dup candidates via band-equality on bit
  chunks (Charikar 2002 / Manku et al. 2007, public algorithms).
- **n-gram Jaccard**: exact set Jaccard on word shingles for candidate
  pairs from a cheap blocking key (shared normalized prefix) — the
  verification stage behind MinHash candidates.
- **embedding cosine**: near-dup if cosine >= threshold within a blocking
  key (label or LSH bucket) — never all-pairs.

All hashing is md5-hex->bigint (portable to the DuckDB oracle; engine
murmur seeds differ). Mod-P arithmetic keeps every intermediate in int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tower_parse_spark.functions.text import (
    HASH_P,
    chunk_starts,
    combine_shingle_hashes,
    shingles,
    token_hash,
    token_hash_fast,
    tokens,
)

#: hash families: "portable" (md5, DuckDB-checkable) vs "fast" (xxhash64,
#: 2.7x cheaper — the production default at scale)
HASH_FNS = {"portable": token_hash, "fast": token_hash_fast}
from tower_parse_spark.functions.vectors import as_double, dot, norm
from tower_parse_spark.session import ensure_parallelism

# MinHash parameters: K signatures in B bands of R rows (K = B*R).
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4


def minhash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family
    h_i(x) = (a_i * x + b_i) mod P. a odd so the map is a bijection mod 2^k
    components; values small enough that a*x fits int64 given x < P."""
    return [(2 * i + 1, (104_729 * i) % HASH_P) for i in range(k)]


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    hash_fn: str = "portable",
) -> DataFrame:
    """Append ``mh`` (array<long> of k minhash components).

    Computed entirely inside the row projection: token hashes -> shingle
    hashes (polynomial combine) -> array_min per seed. No explode, no
    shuffle, and ONE md5 per token — combining pre-hashed tokens into
    shingle hashes arithmetically is cheaper than hashing each (3x
    longer) shingle string, with an exact SQL twin either way.

    Three-stage projection on purpose: the md5 token hashing and the
    shingle-hash array are each projected into their own columns, so the
    k per-seed folds are cheap int arithmetic over a staged array.
    Inlining the hash expression into all k folds (one giant projection)
    recomputes md5 k times per token — measured ~50x slower at sf0.1.
    CollapseProject keeps the split because the hash column is expensive
    and multiply-referenced.
    """
    hfn = HASH_FNS[hash_fn]
    toks = tokens(F.col(text_col))
    hashed = (
        ensure_parallelism(df)
        .withColumn("_th", F.transform(toks, lambda t: hfn(t) % HASH_P))
        .withColumn(
            "_sh_hashes",
            F.array_distinct(combine_shingle_hashes(F.col("_th"), 3)),
        )
    )
    base = F.col("_sh_hashes")
    # ONE fold over the shingle-hash array carries all k running minima
    # as an array accumulator (k separate array_min folds re-traverse the
    # array k times — measured 1.5x at sf0.1). NULL-initialized: least()
    # skips nulls, so a shingle-less document yields [null]*k, identical
    # to array_min over an empty transform.
    params = minhash_params(k)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in params])
    init = F.array_repeat(F.lit(None).cast("long"), k)
    mins = F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * h + b) % HASH_P),
            lambda m, v: F.least(m, v),
        ),
    )
    return hashed.withColumn("mh", mins).drop("_th", "_sh_hashes")


def band_key_array(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """Array of banded LSH keys over a staged ``mh`` signature column:
    key b = md5(b || the band's signature slots). Shared by the self-join
    dedup pipeline and the cross-relation (corpus vs benchmark) variant —
    both sides of any LSH join must build keys identically."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit(b),
                    *[
                        F.col("mh")[b * rows + r].cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    hash_fn: str = "portable",
) -> DataFrame:
    """The ``(band_key, id, mh)`` LSH relation every MinHash join builds
    on — the self-join dedup, the cross-relation decontamination, and
    the incremental signature index all band identically or their joins
    silently miss.

    The signature relation is materialized first: it is tiny (id + K
    longs) but its expression tree is large (K nested higher-order
    lambdas) — a downstream self-join would inline that tree per leg and
    whole-stage codegen time dominates. At cluster scale this is the
    standard "persist the signatures table" step of every LSH pipeline.
    localCheckpoint (not .cache()): storage is released when the
    DataFrame is GC'd, so repeated calls in a long-lived session don't
    accumulate pinned executor storage.

    Shingle-less documents (empty/whitespace/NULL text, <n tokens) are
    EXCLUDED from banding on both engines: their [null]*k signatures
    would otherwise concat_ws-skip into one shared band bucket — at web
    scale a quadratic all-pairs blowup of empty docs (and the oracle's
    ||-built band keys NULL-propagate, so the engines would diverge).
    Identical empty docs are already caught by exact dedup on md5('').
    The exclusion filter comes AFTER the checkpoint barrier: filtering
    on mh[0] below it lets predicate pushdown re-inline the whole
    K-fold signature expression into the Filter (the with_minhash 50x
    md5-inlining disease — measured 1.1 s -> 58 s at sf0.1 before the
    barrier reorder; the checkpointed read makes the filter a cheap
    column test).
    """
    sig = (
        with_minhash(df, text_col, bands * rows, hash_fn)
        .select(id_col, "mh")
        .localCheckpoint(eager=True)
        .filter(F.col("mh")[0].isNotNull())
    )
    # the hash family is baked into the stored signatures: carry it as a
    # column so a persisted index is self-describing and a probe with
    # the WRONG family fails loudly instead of silently never colliding
    return sig.select(
        F.explode(band_key_array(bands, rows)).alias("band_key"),
        id_col,
        "mh",
        F.lit(hash_fn).alias("hash_fn"),
    )


def est_jaccard(mh1: Column, mh2: Column) -> Column:
    """Estimated Jaccard = fraction of matching signature slots. ONE
    scorer shared by the self-join dedup, fuzzy decontamination and the
    incremental index probe. The width is derived from the signature
    itself (``size(mh1)``), so a caller banding with non-default
    bands*rows can never mis-scale the estimate by forgetting to pass
    the matching k (ADVICE r6); mismatched widths between the two sides
    surface as NULL estimates (zip_with NULL-pads), never as a silently
    capped score."""
    return (
        F.aggregate(
            F.zip_with(mh1, mh2, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size(mh1).cast("double")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    hash_fn: str = "portable",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Plan shape: project signatures -> explode to (band_key, id, mh) ->
    self-join per band bucket (groupBy-sized, not cross-join-sized) ->
    distinct pairs -> estimated Jaccard. The heavy join key (band hash)
    is uniformly distributed by construction, so no skew salting needed;
    at 100 TB the band-bucket join is the only shuffle and it carries
    ids + signatures, not documents.
    """
    banded = banded_signatures(df, id_col, text_col, bands, rows, hash_fn)
    return lsh_pairs_from_banded(banded, id_col)


def lsh_pairs_from_banded(
    banded: DataFrame,
    id_col: str = "doc_id",
    broadcast_join: bool = False,
) -> DataFrame:
    """The join/score tail of :func:`minhash_lsh_pairs`, split out so a
    caller that already holds the banded ``(band_key, id, mh)`` relation
    (the incremental probe's in-batch stage) doesn't re-shingle and
    re-hash the documents a second time. The Jaccard estimate scales by
    the stored signature's own width, so non-default bands*rows need no
    extra parameter. *broadcast_join* broadcasts the right leg of the
    bucket self-join — correct when the relation is batch-sized (the
    incremental path, where batch ≪ history is the operating
    assumption), wrong for a full corpus."""
    left = banded.select(
        "band_key", F.col(id_col).alias("id1"), F.col("mh").alias("mh1")
    )
    right = banded.select(
        "band_key", F.col(id_col).alias("id2"), F.col("mh").alias("mh2")
    )
    if broadcast_join:
        right = F.broadcast(right)
    pairs = (
        left.join(right, "band_key")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "mh1", "mh2")
        .dropDuplicates(["id1", "id2"])
    )
    est = est_jaccard(F.col("mh1"), F.col("mh2"))
    return pairs.select(
        "id1", "id2", F.round(est, 4).alias("est_jaccard")
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
) -> DataFrame:
    """NEAR-duplicate dedup of a NEW batch against an indexed corpus —
    the daily-ingest shape for fuzzy dedup (the exact counterpart is
    :func:`incremental_exact_dedup`). *index* is the banded-signature
    relation: :func:`banded_signatures` rows of the indexed corpus, or
    a read of the index ``streaming/neardup.py`` maintains.

    Scale shape (batch ≪ history): the BATCH's banded signatures are
    broadcast and the index STREAMS through the join — one scan of
    |history| × bands small rows, zero shuffle of the index, no history
    documents read. Candidates (same band key) score estimated Jaccard
    on the stored signatures; ``is_dup`` at *threshold*.

    Two duplicate classes, reported separately (both stages the exact
    counterpart has):

    - ``is_dup`` — near-dup of an INDEXED doc;
    - ``in_batch_dup`` — near-dup of a LOWER-id doc in the same batch
      (greedy min-id rule on the batch's own LSH pairs; like all banded
      candidates this is per-pair, not transitively closed — chains
      a~b~c keep a, as the pairwise threshold intends).

    Survivors = ``filter(~is_dup & ~in_batch_dup)``; appending their
    banded rows advances the state (``streaming/neardup.py`` does, per
    epoch) — without the in-batch stage, N copies of new boilerplate in
    one batch would all survive and be indexed forever.

    The probe's *hash_fn* must be the family the index was built with —
    it is baked into the stored signatures, so a mismatch would silently
    never collide. The index carries its family in the ``hash_fn``
    column (written by :func:`banded_signatures`); this function
    validates it and raises on mismatch.
    """
    verdicts, _ = incremental_minhash_dedup_with_banded(
        new_df, index, id_col, text_col, threshold, hash_fn
    )
    return verdicts


def validate_index_family(index: DataFrame, hash_fn: str) -> None:
    """Raise when a banded-signature *index* was built with a different
    hash family than *hash_fn* — a mismatch silently never collides.
    One one-row driver job; no-op for indexes without the family column
    (pre-family layouts validate nothing, as before)."""
    if "hash_fn" in index.columns:
        fam_row = index.select("hash_fn").first()
        if fam_row is not None and fam_row["hash_fn"] != hash_fn:
            raise ValueError(
                f"index was built with hash_fn={fam_row['hash_fn']!r} but "
                f"the probe uses {hash_fn!r} — band keys would never "
                "collide; pass the index's family"
            )


def incremental_minhash_dedup_with_banded(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    band_gate: "tuple[DataFrame, int, int] | None" = None,
    part_gate: "tuple[DataFrame, int, int] | None" = None,
    validate_family: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """:func:`incremental_minhash_dedup` plus the batch's own banded
    relation as a second return. The banding is the expensive half of
    the probe (shingle + K-fold minhash, localCheckpointed); a caller
    that must immediately index the surviving rows — the streaming
    loop's every epoch — filters THIS relation to survivor ids instead
    of re-shingling the documents a second time.

    *band_gate* (r10, VERDICT r9 Next #5): an optional Bloom filter
    over the INDEX's band keys as ``(bloom words as a Python list of
    longs, n_bits, n_hashes)`` — a persisted cache of the index (see
    streaming/neardup.py's ``_bloom`` sidecar). Batch banded rows whose
    band key fails the filter CANNOT join any history row (Bloom has no
    false negatives), so they skip the history probe; the filter must
    COVER every index row passed in, or missed keys would silently
    suppress true matches — coverage is the caller's contract. Verdict
    rows are unchanged for pruned docs (they land at 0 matches through
    the same left join), and on a fully-novel batch AQE's
    empty-relation propagation skips the index scan outright. The
    in-batch stage always sees the full banded relation.

    The filter enters the plan as one array LITERAL (evaluated by
    reference), deliberately NOT as a crossJoined one-row column: an
    UnsafeRow materializes joined columns per row, so a ~1 MB bloom
    array column would be COPIED into every banded row — measured as a
    many-GB copy storm on the first smoke of this gate (r10). The
    literal is spelled ``from_json(lit(json))``, which Catalyst
    constant-folds to ONE ArrayData Literal — ``F.lit(python_list)``
    builds a CreateArray tree with one expression node per element
    (118 s to construct at 200k words, measured), and ``F.lit(numpy)``
    still pays per-element Py4J conversion (38 s).

    *part_gate* (r13, VERDICT r12 #3): the same no-false-negatives
    pruning contract with the filter as a DISTRIBUTED ``(word_idx,
    word)`` relation instead of a literal — ``(words DataFrame, n_bits,
    n_hashes)``, applied by :func:`~tower_parse_spark.operators.bloom.
    part_gate_filter` (batch keys x k positions BROADCAST against the
    words scan, so the filter never enters the plan or the driver).
    This is the gate's scale form past ``MAX_GATE_BITS``; coverage is
    again the caller's contract (streaming/neardup.py's ``_bloom_part``
    sidecar). When both gates are given, both prune — each alone is
    verdict-identical, so their composition is too.

    *validate_family* (r16): the hash-family guard is a one-row driver
    job against the index per call — right for a manual probe of a
    foreign index, pure latency for a caller that wrote every index row
    itself with the same family (the streaming loop, once per EPOCH).
    Such a caller validates once up front (:func:`validate_index_family`
    at stream start) and passes False here; the guard's semantics are
    unchanged for every other caller (the default stays True)."""
    if validate_family:
        validate_index_family(index, hash_fn)
    # ONE banding of the batch feeds BOTH stages (history probe and
    # in-batch pairs) — the signature relation is localCheckpointed
    # inside banded_signatures, so the expensive shingle/minhash job
    # runs once, not per consumer
    batch_banded = banded_signatures(
        new_df, id_col, text_col, hash_fn=hash_fn
    )
    probe_banded = batch_banded
    if band_gate is not None:
        import json

        from tower_parse_spark.operators.bloom import might_contain

        gate_words, g_bits, g_hashes = band_gate
        gate_lit = F.from_json(
            F.lit(json.dumps(list(gate_words))), "array<long>"
        )
        probe_banded = batch_banded.filter(
            might_contain(F.col("band_key"), gate_lit, g_bits, g_hashes)
        )
    if part_gate is not None:
        from tower_parse_spark.operators.bloom import part_gate_filter

        p_words, p_bits, p_hashes = part_gate
        probe_banded = part_gate_filter(
            probe_banded, "band_key", p_words, p_bits, p_hashes
        )
    batch = probe_banded.withColumnsRenamed({id_col: "_nid", "mh": "mh1"})
    hist = index.withColumnsRenamed({id_col: "_hid", "mh": "mh2"})
    est = est_jaccard(F.col("mh1"), F.col("mh2"))
    # est is scored and thresholded BEFORE the pair dedup (r16, guide
    # §2.3): the filter commutes with dropDuplicates — est is a pure
    # function of (mh1, mh2), which are functional on (_nid, _hid), so
    # every band-duplicate of a pair scores identically and the kept
    # set (and the downstream per-_nid count/max) is unchanged. The
    # dedup exchange then carries (_nid, _hid, est double) for only the
    # threshold-passing pairs instead of two K-long signature arrays for
    # EVERY band-collision candidate; the cost is re-scoring the K-slot
    # fold per band duplicate (<= bands per pair) before the shuffle.
    # A/B at sf0.1: verdicts byte-identical, timing within noise
    # locally (candidates are small at fixture scale); the reorder is
    # the 100 TB posture, where candidate volume is what scales.
    hits = (
        hist.join(F.broadcast(batch), "band_key")
        .select("_nid", "_hid", est.alias("est"))
        .filter(F.col("est") >= threshold)
        .dropDuplicates(["_nid", "_hid"])
        .groupBy("_nid")
        .agg(
            F.count(F.lit(1)).alias("n_hist_matches"),
            F.max("est").alias("_max_est"),
        )
    )
    # stage 2, in-batch: a batch doc is a duplicate when it near-matches
    # a LOWER id in the SAME batch (the min-id survivor rule of
    # incremental_exact_dedup, applied to LSH pairs). The pair relation
    # is batch-sized — tiny next to the index scan — so the bucket
    # self-join broadcasts instead of shuffling on the band key.
    in_batch = (
        lsh_pairs_from_banded(batch_banded, id_col, broadcast_join=True)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id2").alias(id_col))
        .distinct()
        .withColumn("in_batch_dup", F.lit(True))
    )
    verdicts = (
        new_df.select(id_col)
        .join(
            F.broadcast(hits.withColumnRenamed("_nid", id_col)),
            id_col,
            "left",
        )
        .join(F.broadcast(in_batch), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hist_matches"), F.lit(0).cast("long")).alias(
                "n_hist_matches"
            ),
            F.round(F.coalesce(F.col("_max_est"), F.lit(0.0)), 4).alias(
                "max_est_jaccard"
            ),
            (F.coalesce(F.col("n_hist_matches"), F.lit(0)) > 0).alias(
                "is_dup"
            ),
            F.coalesce(F.col("in_batch_dup"), F.lit(False)).alias(
                "in_batch_dup"
            ),
        )
    )
    return verdicts, batch_banded


def source_minhash_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = MINHASH_K,
    hash_fn: str = "portable",
) -> DataFrame:
    """Pairwise corpus-overlap estimate between document groups via
    MERGED MinHash sketches — the sketch-union property: min over a
    group's per-doc signatures is exactly the signature of the group's
    shingle-set UNION, so a whole source collapses to k longs before any
    pair is compared (Broder 1997's set-resemblance sketches).

    Plan shape for 100 TB: one signature projection over the corpus, one
    map-side-combinable (group x k) min-agg — after which the data is
    |groups| x k longs — then matching components pair up via an
    EQUI-join on (component index, value), never an all-pairs product.
    Like minhash_lsh_pairs, only pairs sharing >= 1 component surface
    (est_jaccard > 0); disjoint pairs are absent rather than zero rows.

    Returns (group1, group2, n_match, est_jaccard), group1 < group2.
    """
    sigs = with_minhash(df, text_col, k, hash_fn).select(group_col, "mh")
    per_group = (
        sigs.groupBy(group_col)
        .agg(*[F.min(F.col("mh")[i]).alias(f"_m{i}") for i in range(k)])
        .select(
            group_col,
            F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sig"),
        )
    )
    comp = per_group.select(
        group_col, F.posexplode("sig").alias("i", "val")
    ).filter(F.col("val").isNotNull())
    left = comp.select(
        F.col(group_col).alias("group1"), "i", "val"
    )
    right = comp.select(
        F.col(group_col).alias("group2"), "i", "val"
    )
    est = F.col("n_match") / F.lit(float(k))
    return (
        left.join(right, ["i", "val"])
        .filter(F.col("group1") < F.col("group2"))
        .groupBy("group1", "group2")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select("group1", "group2", "n_match", F.round(est, 4).alias("est_jaccard"))
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: survivors = min(id) per md5(text) group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    history_hash_col: str = "text_hash",
) -> DataFrame:
    """Exact dedup of a NEW batch against an already-deduped corpus —
    the daily-ingest shape: the historical index is a (text_hash) table,
    not the historical documents, so yesterday's 100 TB never re-scans.

    Two stages, both linear:
    1. in-batch: min-id survivor per md5(text) (same rule as
       exact_dedup — deterministic under retries);
    2. vs history: LEFT ANTI join of batch survivors against the hash
       index — one shuffle on the 128-bit key; AQE broadcasts the
       smaller side when the batch (or index partition) is small.

    Returns the surviving NEW rows with their ``text_hash`` — append
    them to the corpus AND their hashes to the index to advance the
    state. The index roundtrip (parquet/Delta) is the caller's, which
    keeps this operator pure DataFrame-in/DataFrame-out."""
    hashed = new_df.withColumn("text_hash", F.md5(F.col(text_col)))
    w_rank = F.row_number().over(
        W.partitionBy("text_hash").orderBy(id_col)
    )
    in_batch = (
        hashed.withColumn("_rn", w_rank).filter(F.col("_rn") == 1).drop("_rn")
    )
    hist = history.select(F.col(history_hash_col).alias("text_hash")).distinct()
    return in_batch.join(hist, "text_hash", "left_anti")


#: non-overlapping passage width (tokens) for sub-document dedup
PASSAGE_TOKENS = 10


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = PASSAGE_TOKENS,
) -> DataFrame:
    """Sub-document (passage-level) dedup: remove repeated passages from
    otherwise-unique documents (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" methodology, on
    fixed-width token windows instead of suffix-array spans — public
    algorithm).

    Per document: split into non-overlapping *passage_tokens*-token
    passages, hash each, keep only the globally FIRST occurrence of each
    passage (min (doc_id, start) — deterministic), and report
    ``n_passages``, ``n_dup_passages``, ``dup_frac`` plus the
    deduplicated text rebuilt from the kept passages in order.

    Everything is linear — explode fan-out is n_tokens/stride per doc,
    then ONE aggregation keyed on the passage hash and one join back:

    - the canonical occurrence per hash is ``min(struct(doc_id, s))``,
      which partial-aggregates map-side. A window ``row_number() OVER
      (PARTITION BY phash)`` would be one shuffle cheaper but CANNOT
      partial-aggregate: a boilerplate passage repeated 10^8 times across
      a web corpus would land every copy in one task. The agg form
      reduces that hash to one row before the shuffle; the join back is
      an equi-join AQE skew-splits if an occurrence list is still hot.
    - docs with no tokens produce no passages and drop out (same rule as
      the chunking operator).

    No single-split guard here (r11, reversing r10's uniform rule):
    the plan hits the phash groupBy shuffle immediately, which already
    redistributes all downstream work, so guarding only parallelizes
    the tokenize+explode map at the cost of round-robin-shuffling full
    document text first. Interleaved best-of-4 at sf0.1
    (``git show e880839:SCALE.md``, "r11 start"; see HISTORY.md):
    guard-on 1.37 s vs guard-off 1.32 s
    (1.04x) — neutral here, and the sibling boilerplate front measured
    a real 1.24x guard cost, so both passage fronts skip it. At real
    scale the guard was a no-op either way.
    """
    toks = tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col), toks.alias("_toks")
    ).withColumn(
        "_starts", chunk_starts(F.col("_toks"), passage_tokens)
    )
    # one row per (doc, passage start); passage text staged once so the
    # hash and the rebuild read the same slot
    # localCheckpoint: p feeds TWO consumers (the canonical-occurrence
    # agg and the join back) — without the barrier the tokenize + explode
    # + slice + md5 work re-runs per consumer, doubling the corpus scan
    # (the same fan-out rule as encode_ivfpq / minhash_lsh_pairs)
    p = (
        staged.select(
            F.col(id_col), F.explode("_starts").alias("s"), F.col("_toks")
        )
        .select(
            F.col(id_col),
            "s",
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("s"), passage_tokens)
            ).alias("ptext"),
        )
        .withColumn("phash", F.md5(F.col("ptext")))
        .localCheckpoint(eager=False)
    )
    canon = p.groupBy("phash").agg(
        F.min(F.struct(F.col(id_col).alias("cid"), F.col("s").alias("cs"))).alias("_c")
    )
    marked = p.join(canon, "phash").withColumn(
        "kept",
        (F.col(id_col) == F.col("_c.cid")) & (F.col("s") == F.col("_c.cs")),
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dup_passages"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("s", "ptext"))
                    )
                ),
                lambda x: x["ptext"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return out.withColumn(
        "dup_frac",
        F.col("n_dup_passages") / F.col("n_passages").cast("double"),
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = PASSAGE_TOKENS,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-frequency boilerplate removal: a passage that appears in
    >= *min_doc_freq* DISTINCT documents is removed from ALL of them
    (the C4 / RefinedWeb repeated-boilerplate rule — public
    methodology). The frequency semantics are the complement of
    :func:`passage_dedup`: that keeps the globally FIRST occurrence of
    a repeated passage; this drops every occurrence once the passage is
    frequent enough to be template text (cookie banners, license
    disclaimers, navigation chrome).

    Per document: the same non-overlapping *passage_tokens*-token
    windows as passage_dedup, then ``n_passages``,
    ``n_boiler_passages``, ``boiler_frac`` and ``clean_text`` rebuilt
    from the surviving passages in order.

    Scale shape — linear, no pairwise anything:

    - document frequency per passage hash is ``countDistinct(doc_id)``,
      which Spark plans as a two-stage aggregate keyed (phash, doc_id)
      then phash — both stages partial-aggregate map-side, so a
      passage repeated 10^8 times never funnels into one task;
    - only hashes at/over the threshold survive into the join-back
      relation (the boilerplate set is orders of magnitude smaller
      than the passage relation), and the join is a left equi-join AQE
      skew-splits if a hash is still hot;
    - the passage relation feeds TWO consumers (the frequency agg and
      the join back), so it is localCheckpointed — same fan-out rule as
      passage_dedup.

    No single-split guard (r11, reversing r10's uniform rule): this
    front is shuffle-dominant — countDistinct plans as a two-stage
    keyed aggregate that already redistributes the work, so the guard's
    round-robin shuffle of full document text bought nothing and
    measurably cost: interleaved best-of-4 at sf0.1
    (``git show e880839:SCALE.md``, "r11 start") guard-on 1.71 s vs
    guard-off 1.38 s
    (1.24x, consistent across runs) — the exact regression seen in
    the r9->r10 driver artifacts (HISTORY.md; 1.45x raw / 1.30
    cal-adj). The guard stays on the map-dominant fronts where it
    measured 1.6-4x wins (langid/embedding/perplexity scoring,
    fingerprint folds).
    """
    toks = tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col), toks.alias("_toks")
    ).withColumn(
        "_starts", chunk_starts(F.col("_toks"), passage_tokens)
    )
    p = (
        staged.select(
            F.col(id_col), F.explode("_starts").alias("s"), F.col("_toks")
        )
        .select(
            F.col(id_col),
            "s",
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("s"), passage_tokens)
            ).alias("ptext"),
        )
        .withColumn("phash", F.md5(F.col("ptext")))
        .localCheckpoint(eager=False)
    )
    boiler = (
        p.groupBy("phash")
        .agg(F.countDistinct(F.col(id_col)).alias("_dfreq"))
        .filter(F.col("_dfreq") >= min_doc_freq)
        .select("phash", F.lit(True).alias("_boiler"))
    )
    marked = p.join(boiler, "phash", "left").withColumn(
        "boiler", F.coalesce(F.col("_boiler"), F.lit(False))
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_boiler_passages"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("boiler"), F.struct("s", "ptext"))
                    )
                ),
                lambda x: x["ptext"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return out.withColumn(
        "boiler_frac",
        F.col("n_boiler_passages") / F.col("n_passages").cast("double"),
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    hash_fn: str = "portable",
) -> DataFrame:
    """Append a ``simhash`` column (bits-wide weighted-bit fingerprint).

    Vector form: per-document bit weights computed by folding the token
    hash array inside the projection — one pass, no explode. Weight of
    bit j = (#tokens with bit set) - (#tokens without); fingerprint bit
    j = weight > 0 (token multiplicity preserved, per Charikar's scheme).

    ONE fold over the token-hash array accumulates all *bits* counters
    as an array (zip_with against precomputed mask literals), instead of
    *bits* separate aggregates each re-traversing the array — measured
    1.8x at sf0.1. Masks (not shiftright) because pyspark's bit-shift
    helpers take only Python-int shift amounts, and a double ``pow``
    reconstruction would lose bits above 2^53.
    """
    hfn = HASH_FNS[hash_fn]
    toks = tokens(F.col(text_col))
    # Stage the token hashing as its own projected column so the fold
    # consumes pre-hashed longs: inlining the hash expression into the
    # accumulator would recompute it per mask (measured ~10x slower).
    # hash_fn="fast" swaps md5 for xxhash64 (same trade-off as MinHash:
    # production speed vs DuckDB-checkable portability).
    hashed = ensure_parallelism(df).withColumn(
        "_th", F.transform(toks, lambda t: hfn(t))
    )
    hashes = F.col("_th")
    n = F.size(hashes)
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + (h.bitwiseAND(m) != 0).cast("long")
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return hashed.withColumn("simhash", fp).drop("_th")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 8,
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for pairs sharing a normalized prefix.

    The blocking key (first *block_tokens* tokens) turns all-pairs into
    per-bucket pairs — one shuffle on the prefix hash. Jaccard is set
    intersection/union via array ops inside the joined row (no second
    shuffle). Verification-stage semantics for MinHash candidates.
    """
    # stage the token array BEFORE the shingle transform: passing the
    # tokenizer EXPRESSION into shingles() would inline it inside the
    # per-element lambda via element_at and re-run the full regexp
    # tokenization O(n) times per document (the HOF-lambda pathology
    # measured 14x on the perplexity bigram path, operators/lm.py)
    staged = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    sh = F.array_distinct(shingles(toks, n))
    prefix = F.md5(F.concat_ws(" ", F.slice(toks, 1, block_tokens)))
    # materialize the (id, block, shingles) relation once: both join legs
    # would otherwise recompute tokenization+shingling per leg (the same
    # "persist the signatures" step as the LSH pipeline)
    # shingle-less docs never enter blocking (same rule + rationale as
    # minhash_lsh_pairs: md5('') is a shared key — a quadratic empty-doc
    # bucket at scale; exact dedup owns identical empty docs). The filter
    # sits AFTER the checkpoint barrier, or pushdown re-inlines the
    # shingle expression into the Filter (the minhash 50x lesson above).
    base = (
        staged
        .select(F.col(id_col), prefix.alias("block_key"), sh.alias("sh"))
        .localCheckpoint(eager=True)
        .filter(F.size(F.col("sh")) > 0)
    )
    left = base.select(
        "block_key", F.col(id_col).alias("id1"), F.col("sh").alias("sh1")
    )
    right = base.select(
        "block_key", F.col(id_col).alias("id2"), F.col("sh").alias("sh2")
    )
    inter = F.size(F.array_intersect(F.col("sh1"), F.col("sh2")))
    union = F.size(F.array_union(F.col("sh1"), F.col("sh2")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        left.join(right, "block_key")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.99,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates within a blocking key.

    Blocked self-join + in-row cosine — the shuffle carries (id, vector)
    only. *block_col* names a natural blocking column (e.g. a curated
    label) when one exists; the DEFAULT (None) blocks on the sign-LSH
    bucket from operators/similarity.py, because a per-label self-join
    is O(n^2/B) for B distinct labels — with few labels (the common
    unblocked-corpus case) that degenerates toward all-pairs, while the
    2^planes LSH buckets stay balanced by construction. *dim* (vector
    dimensionality) is needed to build the hyperplane literals for the
    default path — PASS IT EXPLICITLY when known: the fallback inference
    runs a Spark job at plan-build time (surprising for a DataFrame-in/
    DataFrame-out operator). The inference aggregates max(size) over
    non-null vectors, so a NULL first row cannot poison the bucket
    expression.
    """
    if block_col is not None:
        blk = F.col(block_col)
    else:
        from tower_parse_spark.operators.similarity import bucket_expr

        if dim is None:
            row = df.filter(F.col(vec_col).isNotNull()).agg(
                F.max(F.size(F.col(vec_col))).alias("d")
            ).first()
            d = row["d"] if row is not None else None
            dim = d if d is not None and d > 0 else 1  # empty df: any dim
        blk = bucket_expr(as_double(F.col(vec_col)), dim)
    # norm projected per row pre-join: scoring a pair is one dot fold,
    # not three traversals (bit-identical — same fold per row).
    # localCheckpoint, for the same reason minhash_lsh_pairs materializes
    # its signature relation: broadcast-hash-join codegen defers
    # streamed-side column evaluation into the per-MATCH loop, so without
    # the barrier the cast and the norm fold re-run once per pair
    # instead of once per row (the ivfpq_topk lesson; measured 4.5 ->
    # 3.0 s at sf0.1).
    # the bucket expression + norm fold are compute-bound per-row HOFs;
    # a small parquet corpus arrives as ONE split (r10, the classifier
    # precedent — no-op at real scale)
    base = (
        ensure_parallelism(df)
        .select(
            blk.alias("blk"),
            F.col(id_col),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nv", norm(F.col("v")))
        .localCheckpoint(eager=False)
    )
    left = base.select(
        "blk",
        F.col(id_col).alias("id1"),
        F.col("v").alias("v1"),
        F.col("nv").alias("n1"),
    )
    right = base.select(
        "blk",
        F.col(id_col).alias("id2"),
        F.col("v").alias("v2"),
        F.col("nv").alias("n2"),
    )
    # try_divide: a zero-norm pair (empty/all-zero vectors) scores NULL
    # (DuckDB x/0 parity) and is dropped by the threshold filter, where
    # ANSI `/` would raise DIVIDE_BY_ZERO
    cos = F.try_divide(
        dot(F.col("v1"), F.col("v2")), F.col("n1") * F.col("n2")
    )
    return (
        left.join(right, "blk")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
