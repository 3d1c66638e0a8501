"""Expression-level Bloom filter — the near-dup gate's fast path past
the band-index anti-join.

Public methodology: Dolma's deduper (Soldaini et al. 2024) and most
production ingest pipelines gate "have we seen this document before?"
behind a Bloom filter so the common case (a genuinely new document)
never pays the lookup against the full history index. Spark itself
builds Bloom filters for runtime row-level join filtering, but does not
expose ``bloom_filter_agg``/``might_contain`` as public routines — so
this module builds the same structure out of public expressions:

- the literal filter is ``n_bits/64`` longs (128 KiB at the default
  2^20 bits), built by one aggregation over the history keys (explode k
  probe positions -> bit_or per 64-bit word -> dense array) and carried
  in the plan as one folded literal;
- the partitioned filter (the scale form) is the TOUCHED words as
  ``(word_idx, word)`` rows, probed by a broadcast join;
- membership is k bit-tests, pure row-local expressions in the scan.

Correctness contract: a Bloom filter has NO false negatives, so a gated
probe is verdict-identical to the plain anti-join: keys failing
``might_contain`` are DEFINITELY new and skip the shuffle; the (few)
positives, true or false, still go through the exact anti-join
(``dedup.incremental_minhash_dedup_with_banded``'s *band_gate* and
*part_gate*, fed by ``streaming/neardup.py``'s sidecars).

Sizing: with m bits and n keys, k = 5 hashes gives FP ~ (1-e^(-kn/m))^k;
the 2^20-bit default stays under 1% FP to ~100k history keys. The
streaming gate sizes the filter from the index count via
:func:`bloom_size_for` (it is a cache of the index, not state). An
UNsized filter over an oversized history silently degrades to
all-positives: still correct (the exact check runs), just no shuffle
pruning.

xxhash64 probes are JVM-side and NOT DuckDB-reproducible, which is fine:
the filter is an internal pruning structure, invisible in verdicts (the
oracle-checked queries stay on the plain path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default filter geometry (used when the history size is unknown)
N_BITS = 1 << 20
N_HASHES = 5

#: Hard cap on AUTO-SIZED gate geometry (r11, VERDICT r10 #3): the
#: filter is a DRIVER-held dense word list that rides every plan as one
#: folded literal, so its cost is driver memory + plan bytes, not
#: executor state. 2^26 bits = 1M longs = 8 MiB raw (~40 MiB as a
#: Python int list, ~20 MiB as the from_json literal text) and holds
#: ~7M keys at the 1% FP target (n ~= 0.104*m at p=0.01). UNcapped,
#: m = -n*ln(p)/ln(2)^2 reaches ~9.6 Gbit at n=10^9 history keys —
#: a ~1.2 GiB bitset / multi-GiB driver list / ~3 GiB plan literal:
#: the silent driver-OOM VERDICT r10 flagged. Beyond the cap the
#: auto-sizing callers fall back to the UNGATED path (plain anti-join /
#: no sidecar row — still exact, just no shuffle pruning); a history
#: that large wants a partitioned or sketch-based filter, not a plan
#: literal. An EXPLICIT n_bits is respected over the cap — the caller
#: owns that trade.
MAX_GATE_BITS = 1 << 26

#: Fixed geometry of the PARTITIONED gate (r13, VERDICT r12 #3) — the
#: scale path past MAX_GATE_BITS. The filter lives as (word_idx, word)
#: ROWS in a parquet sidecar and enters the probe as a JOIN, so neither
#: the driver nor the plan ever holds the bitset: driver memory is
#: O(1) and executor state is a columnar scan. The geometry must be
#: FIXED across epochs (delta rows from different epochs OR together
#: only if positions agree), so it is a constant, not auto-sized:
#: 2^30 bits with k=7 holds ~110M keys at ~1% FP and ~1B keys at ~50%
#: (still correct — no false negatives — just no pruning; the probe
#: side checks the estimated FP and skips the join work past
#: PART_GATE_MAX_FP). Dense size would be 16.8M words (~134 MB), but
#: the sidecar stores only TOUCHED words: <= k x n_keys rows.
PART_GATE_BITS = 1 << 30
PART_GATE_HASHES = 7

#: estimated false-positive rate above which a partitioned-gate probe
#: is wasted work (nearly everything passes): the caller runs ungated
PART_GATE_MAX_FP = 0.5

#: Cost-aware engagement floor (r14, VERDICT r13 #3a): below this many
#: index keys the partitioned gate's fixed probe overhead (the batch x k
#: broadcast join against the delta scan, ~2 extra exchanges) exceeds
#: what the pruning saves — the r13 behavior engaged it the moment the
#: literal gate died (~7M keys at the cap), but the measured crossover
#: vs ungated sits well past that (builder r13 A/B: 1.00x at 10M,
#: 1.96x at 30M; the r13 verdict's own contended 10M re-run read
#: 0.79x). Between MAX_GATE_BITS capacity and this floor the probe runs
#: UNGATED (exact, just unpruned) while the sidecar keeps accumulating
#: per-epoch deltas, so crossing the floor engages an already-covering
#: gate with no rebuild. Floor pinned by interleaved A/Bs at
#: 10/20/30M on a quiet machine (SCALE.md r14), then LOWERED to 15M in
#: r15 (VERDICT r14 #5): two quiet 15M A/Bs (1.08x best-of-3, 1.24x
#: best-of-4 with every interleaved pair favoring the gate) agree with
#: the earlier busy-machine 1.10x that the gate already wins there —
#: the crossover sits between 10M (0.89x, a measured loss) and 15M.
#: Tests that force the partitioned gate at toy scale set this to 0
#: alongside MAX_GATE_BITS.
PART_GATE_MIN_KEYS = 15_000_000


def bloom_fp_rate(n_keys: int, n_bits: int, n_hashes: int) -> float:
    """Estimated false-positive rate of an (m=n_bits, k=n_hashes)
    filter holding *n_keys*: (1 - e^(-kn/m))^k (Bloom 1970)."""
    import math

    if n_keys <= 0:
        return 0.0
    if n_bits <= 0:
        return 1.0
    return (1.0 - math.exp(-n_hashes * n_keys / n_bits)) ** n_hashes


def bloom_size_for(n_keys: int, target_fp: float = 0.01) -> int:
    """Bits for an *n_keys* filter at *target_fp* false-positive rate:
    the standard optimum m = -n*ln(p)/ln(2)^2 (Bloom 1970), rounded UP
    to a multiple of 64 (the word layout) with a one-word floor. The
    optimal hash count at this m is k = (m/n)*ln(2) ~ -log2(p), which
    is ~6.6 at p=0.01 — the fixed k=5 default lands within 2x of the
    target (property-test-pinned), the standard fixed-k engineering
    trade."""
    if n_keys < 0:
        raise ValueError(f"n_keys must be >= 0, got {n_keys}")
    if not (0.0 < target_fp < 1.0):
        raise ValueError(f"target_fp must be in (0, 1), got {target_fp}")
    import math

    m = -n_keys * math.log(target_fp) / (math.log(2) ** 2)
    return max(64, 64 * math.ceil(m / 64))

#: 1 << i for i in 0..63 as long literals (bit 63 wraps to long-min) —
#: F.shiftleft takes only a literal shift amount, so variable-position
#: masks come from this lookup instead
_POW2 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _bit_mask(pos: Column) -> Column:
    """The single-bit long mask for bit ``pos % 64``."""
    arr = F.array(*[F.lit(v).cast("long") for v in _POW2])
    return F.element_at(arr, F.pmod(pos, 64).cast("int") + 1)


def _probe_positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """The k probe bit-positions of *key*: xxhash64(key, i) mod n_bits,
    identical expressions on the build and test sides."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]


def bloom_build_words(
    keys: DataFrame,
    key_col: str,
    n_bits: int = N_BITS,
    n_hashes: int = N_HASHES,
) -> list[int]:
    """The filter over every (non-NULL) value of *key_col*, as a
    driver-side list of ``n_bits/64`` longs: one explode + one bit_or
    aggregate (map-side combinable — at most ``n_bits/64`` rows reach
    the driver), densified in Python.

    Driver-side densification is deliberate (r10): the previous
    in-plan assembly — ``transform(sequence(0, n_words-1), i ->
    element_at(map, i))`` over a ``map_from_entries`` of the set words
    — hit Spark's LINEAR scan of literal MapData per lookup, i.e.
    O(n_words x n_set) work on ONE row in ONE task; with the
    auto-sized geometry growing each epoch, gated streaming epochs
    measured 59/97/330 s where ungated ran 3-12 s. The filter is a
    driver-held cache by design (it enters plans as one folded
    literal), so the dense array belongs on the driver."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    n_words = n_bits // 64
    key = F.col(key_col)
    pos = F.explode(
        F.array(*_probe_positions(key, n_bits, n_hashes))
    ).alias("pos")
    rows = (
        keys.filter(key.isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("pos") / 64).cast("long").alias("word"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    dense = [0] * n_words
    for r in rows:
        dense[int(r["word"])] = int(r["bits"])
    return dense


def might_contain(
    key: Column,
    bloom: Column,
    n_bits: int = N_BITS,
    n_hashes: int = N_HASHES,
) -> Column:
    """k row-local bit-tests against the filter array. False means
    DEFINITELY absent; true means "check the index".

    One ``forall`` over the probe seeds instead of k AND-ed tests, so
    *bloom* appears in the expression tree ONCE: with an auto-sized
    filter the array literal is ~100s of KB, and k textual copies made
    every plan-processing pass (canonicalization, AQE re-plans) walk
    k x that — probe stages measured 3x slower at 4M bits before this
    (r10). The lambda seed is INT, matching the build side's
    ``F.lit(i)`` exactly — xxhash64 output differs by input WIDTH, so
    a long seed here would probe different bits than the build wrote."""
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))

    def test(i: Column) -> Column:
        pos = F.pmod(F.xxhash64(key, i), F.lit(n_bits))
        word = F.floor(pos / 64).cast("int") + 1  # element_at is 1-based
        return (F.element_at(bloom, word).bitwiseAND(_bit_mask(pos))) != 0

    return F.forall(seeds, test)


def bloom_delta_words(
    keys: DataFrame,
    key_col: str,
    n_bits: int = PART_GATE_BITS,
    n_hashes: int = PART_GATE_HASHES,
) -> DataFrame:
    """The filter words TOUCHED by every (non-NULL) value of *key_col*,
    as a DataFrame ``(word_idx: long, word: long)`` — the distributed
    twin of :func:`bloom_build_words` with NO collect: explode the k
    probe positions, bit_or per 64-bit word (map-side combinable), and
    leave the result as rows. Deltas from different epochs at the SAME
    geometry compose by a further ``groupBy(word_idx).bit_or(word)``;
    that union IS the cumulative filter, so a partitioned gate never
    materializes the dense bitset anywhere (VERDICT r12 #3: the dense
    driver list caps out at MAX_GATE_BITS; rows don't)."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    key = F.col(key_col)
    pos = F.explode(
        F.array(*_probe_positions(key, n_bits, n_hashes))
    ).alias("pos")
    return (
        keys.filter(key.isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("pos") / 64).cast("long").alias("word_idx"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def part_gate_filter(
    banded: DataFrame,
    key_col: str,
    words: DataFrame,
    n_bits: int = PART_GATE_BITS,
    n_hashes: int = PART_GATE_HASHES,
) -> DataFrame:
    """Rows of *banded* whose *key_col* is maybe-present in the
    partitioned filter *words* ``(word_idx, word)`` — the JOIN twin of
    :func:`might_contain`'s literal bit-tests. A key is maybe-present
    iff ALL k of its probe bits are set; keys failing any test are
    DEFINITELY absent (no false negatives), so dropping their rows
    before an index probe is verdict-identical, exactly the literal
    gate's contract.

    *words* may carry DUPLICATE word_idx rows (per-epoch deltas,
    un-merged): a probe bit is set in the OR of the deltas iff ANY
    delta row sets it, so the test is EXISTS-over-rows and the filter
    never needs densifying — the first cut of this gate pre-merged the
    deltas with a groupBy(word_idx) per probe, a full filter-sized
    SHUFFLE every epoch that A/B'd SLOWER than the ungated probe at
    10M keys (0.76x); this shape keeps the words side shuffle-free.

    Plan shape at scale: the probe side (distinct keys x k position
    rows, tagged with the seed ordinal so duplicate positions stay
    countable) is micro-batch-sized by construction, so it BROADCASTS
    against the words relation — the filter side stays a columnar
    map-side scan; the passed-position distinct + count shuffles only
    batch x k rows. The words relation is index-sized but fully
    distributed (never collected, never a plan literal)."""
    keys = banded.select(key_col).filter(F.col(key_col).isNotNull()).distinct()
    probes = keys.select(
        F.col(key_col),
        F.posexplode(
            F.array(*_probe_positions(F.col(key_col), n_bits, n_hashes))
        ).alias("seed", "pos"),
    ).select(
        F.col(key_col),
        F.col("seed"),
        F.floor(F.col("pos") / 64).cast("long").alias("word_idx"),
        _bit_mask(F.col("pos")).alias("mask"),
    )
    passed = (
        words.join(F.broadcast(probes), "word_idx")
        .filter(F.col("word").bitwiseAND(F.col("mask")) != 0)
        .select(key_col, "seed")
        # EXISTS over delta rows: several epochs may set the same bit
        .distinct()
    )
    maybe = (
        passed.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n_set"))
        # every one of the k seed-tests passed (seeds are distinct by
        # construction even when two hash to the same bit position)
        .filter(F.col("_n_set") == n_hashes)
        .select(key_col)
    )
    return banded.join(maybe, key_col, "left_semi")
