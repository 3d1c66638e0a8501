"""Subword (BPE-style) token accounting for LLM training budgets.

Whitespace/regex tokens (functions/text.py::tokens / bpe_pretokens) are
the wrong unit for sequence-length budgets: packing and chunking count
SUBWORD tokens — the output of a vocabulary-driven tokenizer (BPE,
Sennrich et al. 2016 / WordPiece, Wu et al. 2016). This module is the
relational re-expression of the INFERENCE side of such a tokenizer:
greedy longest-match-first segmentation of each word against a fixed
piece vocabulary with single-character fallback (the standard
WordPiece/byte-fallback decoding discipline), as a pure fold
expression — no Python, no UDF, and an exact DuckDB twin (recursive
CTE over the same pieces).

Greedy longest-match is deterministic: at each position the longest
vocabulary piece matching the remaining suffix is consumed (ties are
impossible — pieces are unique, equal length + equal match means equal
piece); an unmatched position consumes one character as a fallback
piece. Piece COUNT is what budgets need, so only the count is
materialized; the fold carries (position, count) state and runs at most
len(word) steps.

Scale shape (100 TB corpus):

- The fold costs O(len(word) x |vocab|) per evaluation, so it runs on
  the DISTINCT-WORD relation, not per token occurrence: dedup-before-
  expensive-compute. The distinct aggregate is map-side combinable —
  each partition emits only its own vocabulary (Zipf: partition-local
  distinct words ~ corpus vocabulary, orders of magnitude below token
  count) — and the word -> count table that joins back is
  vocabulary-sized. The join-back carries NO broadcast hint (a crawl's
  raw vocabulary is unbounded garbage-heavy; AQE broadcasts when it
  fits, the common case after normalization).
- Per-document totals are one map-side-combinable aggregate on the id
  (exploded tokens co-locate with their source row).
- The piece vocabulary itself is a plan literal (a production 32k-64k
  merge table would broadcast instead; the fold is unchanged).

Reference context: the reference has no tokenizer at all (readport.py
parses sensor lines); this extends the LLM-curation accounting surface
(token_stats counts whitespace tokens; this adds the subword unit
training budgets actually bill in, and doc_chunking / sequence_packing
bill both units side-by-side since r9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Pinned piece vocabulary — a miniature BPE-style merge table over the
#: fixture's closed 31-word vocabulary plus common English fragments,
#: ordered here alphabetically (the fold sorts by length internally).
#: Single characters NOT listed fall back to one piece per character.
SUBWORD_VOCAB = (
    "a", "agg", "all", "an", "ark", "ba", "big", "col", "ctor", "cust",
    "da", "eam", "er", "ery", "fa", "fil", "ge", "gr", "ha", "join",
    "key", "le", "li", "mer", "ne", "om", "ord", "oup", "pa", "qu",
    "ro", "rt", "sc", "sh", "slo", "sm", "sort", "sp", "st", "str",
    "ta", "tab", "tch", "ter", "the", "ue", "umn", "val", "ve", "w",
    "window",
)


def _pieces_desc(vocab: tuple[str, ...]) -> list[str]:
    """Longest-first (ties lexicographic) — the greedy probe order.
    Empty pieces are rejected: '' matches at every position with
    length 0, so the fold's position would never advance (every step
    would count a zero-width piece — silently wrong, bounded only by
    the step cap). Duplicates are collapsed: a repeated piece is a
    semantic no-op for longest-match, but the r9 per-length probe maps
    are built with F.create_map, which throws DUPLICATED_MAP_KEY at
    runtime under Spark's default mapKeyDedupPolicy=EXCEPTION for a
    caller-supplied vocab with repeats (ADVICE r9; SUBWORD_VOCAB is
    already unique)."""
    if any(p == "" for p in vocab):
        raise ValueError("subword vocabulary must not contain ''")
    return sorted(set(vocab), key=lambda s: (-len(s), s))


def subword_count(
    word: Column, vocab: tuple[str, ...] = SUBWORD_VOCAB
) -> Column:
    """Number of greedy longest-match subword pieces in *word* (int).

    A fold over at most ``length(word)`` steps: state (pos, cnt) starts
    at (1, 0); each live step consumes the longest piece matching at
    ``pos`` (else 1 fallback character) and increments the count; steps
    after the word is exhausted are no-ops. Empty and NULL input count
    0 (NULL is coalesced to '' up front — a bare NULL used to poison
    the step guard and count 1, r8 ADVICE).

    Probe shape (r9): one map literal PER PIECE LENGTH, probed
    length-descending — ``try_element_at(map_L, substr(word, pos, L))``
    — with ``coalesce`` short-circuiting at the first (= longest)
    match. Each probe computes ONE substring and one key lookup, so a
    position costs O(#distinct lengths) substring evaluations instead
    of the former O(|vocab|) filter scan that re-sliced the word per
    piece. Length-1 pieces are never probed: a 1-char match and the
    1-char fallback are indistinguishable in (pos, cnt) effect. The
    fold lambda is a single expression node (NOT unrolled per step),
    so each map literal appears exactly once in the plan regardless of
    word length; constant folding collapses it to one Literal. (Spark's
    map lookup on literal MapData is itself a key scan, so the win at a
    32k vocab is the early exit + single substr per length — measured
    cost curve in SCALE.md.)

    Strategy choice: use this fold below ~1k pieces, the relational
    join (:func:`subword_counts_relational`) above — SCALE.md's
    "Subword strategy decision table" (r11) is the single measured
    reference: fold 1.13→6.45 s from 51→4k pieces (per-length map
    probes stay linear scans), join flat at ~2.3-4.8 s through 32k
    with a ~763 KB broadcast table.

    Twin: :func:`sql_subword_walk` (recursive CTE, same pieces, same
    longest-match rule via max(length) over matching pieces)."""
    by_len: dict[int, list[str]] = {}
    for p in _pieces_desc(vocab):
        by_len.setdefault(len(p), []).append(p)
    probe_lengths = sorted((L for L in by_len if L > 1), reverse=True)
    maps = {
        L: F.create_map(
            *[x for p in by_len[L] for x in (F.lit(p), F.lit(1))]
        )
        for L in probe_lengths
    }
    word = F.coalesce(word, F.lit(""))
    init = F.struct(F.lit(1).alias("pos"), F.lit(0).alias("cnt"))

    def step(st: Column, _i: Column) -> Column:
        pos, cnt = st["pos"], st["cnt"]
        # longest match first; per-length maps mean a short substring
        # at the word tail can never alias a longer piece's key
        plen = F.coalesce(
            *[
                F.when(
                    F.try_element_at(
                        maps[L], F.substring(word, pos, F.lit(L))
                    ).isNotNull(),
                    F.lit(L),
                )
                for L in probe_lengths
            ],
            F.lit(1),
        )
        return F.when(pos > F.length(word), st).otherwise(
            F.struct((pos + plen).alias("pos"), (cnt + 1).alias("cnt"))
        )

    steps = F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1)))
    return F.aggregate(steps, init, step, lambda st: st["cnt"])


def subword_counts_relational(
    words: DataFrame,
    vocab: tuple[str, ...],
    word_col: str = "_tok",
) -> DataFrame:
    """Greedy longest-match counts as a RELATIONAL plan — the
    32k-vocabulary scale path (SCALE.md r9): identical counts to
    :func:`subword_count`, but the longest-match probe is a
    broadcast HASH join instead of an in-expression map scan.

    Plan: explode each distinct word into (word, pos, L, substr)
    candidates for every piece length L > 1, hash-join them against
    the piece table (O(1) per probe — this is what the expression
    fold's literal-map lookup is NOT, Spark scans literal MapData
    linearly), take max(L) per position with 1-char fallback,
    reassemble the per-word plen array, and walk it with a cheap
    fold. Costs one extra shuffle (the per-word reassembly) over the
    position-level relation — ~|distinct words| x avg_len x
    |distinct lengths| rows, independent of |vocab|; the piece table
    broadcasts (a 64k-piece table is ~1 MB).

    Strategy choice: use this join above ~1k pieces, the expression
    fold (:func:`subword_count`) below — SCALE.md's "Subword strategy
    decision table" (r11) is the single measured reference: the join's
    two-shuffle floor (~2.3 s at bench scale) amortizes at scale and
    the curve stays flat 4k→32k (4.83→4.05 s) while the broadcast
    piece table is ~763 KB at 32k (≈24 B/piece, orders of magnitude
    under the 10 MB autoBroadcastJoinThreshold).

    Expects the DISTINCT-word relation (callers dedup before
    counting; duplicate word rows would collapse to one output row
    through the per-word reassembly groupBy). Returns (*word_col*, n_sub), one row per distinct word
    (NULL/empty words count 0, matching the fold)."""
    spark = words.sparkSession
    by_len = [p for p in _pieces_desc(vocab) if len(p) > 1]
    piece_df = spark.createDataFrame(
        [(p, len(p)) for p in by_len], "piece string, plen int"
    )
    wc = F.col(word_col)
    nz = words.filter(F.length(wc) >= 1)
    pos_df = nz.select(
        wc.alias("_w"),
        F.explode(F.sequence(F.lit(1), F.length(wc))).alias("pos"),
    )
    probe_lengths = sorted({len(p) for p in by_len}, reverse=True)
    if probe_lengths:
        cand = pos_df.select(
            "_w",
            "pos",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(L).alias("plen"),
                            F.substring(
                                F.col("_w"), F.col("pos"), F.lit(L)
                            ).alias("key"),
                        )
                        for L in probe_lengths
                    ]
                )
            ).alias("c"),
        ).select("_w", "pos", F.col("c.plen"), F.col("c.key"))
        # join on (substr, L): a short substring at the word tail can
        # never alias a piece of a DIFFERENT length
        hits = (
            cand.join(
                F.broadcast(piece_df),
                (cand["key"] == piece_df["piece"])
                & (cand["plen"] == piece_df["plen"]),
                "left_semi",
            )
            .groupBy("_w", "pos")
            .agg(F.max("plen").alias("_hit"))
        )
        plens = pos_df.join(hits, ["_w", "pos"], "left").select(
            "_w", "pos", F.coalesce(F.col("_hit"), F.lit(1)).alias("plen")
        )
    else:
        plens = pos_df.select("_w", "pos", F.lit(1).alias("plen"))
    arrs = plens.groupBy("_w").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("pos"), F.col("plen")))
        ).alias("_pl")
    )
    init = F.struct(F.lit(1).alias("pos"), F.lit(0).alias("cnt"))
    walked = arrs.select(
        F.col("_w").alias(word_col),
        F.aggregate(
            F.sequence(F.lit(1), F.length(F.col("_w"))),
            init,
            lambda st, _i: F.when(
                st["pos"] > F.length(F.col("_w")), st
            ).otherwise(
                F.struct(
                    (st["pos"] + F.element_at(F.col("_pl"), st["pos"])).alias(
                        "pos"
                    ),
                    (st["cnt"] + 1).alias("cnt"),
                )
            ),
            lambda st: st["cnt"],
        ).alias("n_sub"),
    )
    zeros = words.filter(
        wc.isNull() | (F.length(wc) < 1)
    ).select(wc.alias(word_col), F.lit(0).alias("n_sub"))
    return walked.unionByName(zeros)


def token_subword_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    vocab: tuple[str, ...] = SUBWORD_VOCAB,
) -> DataFrame:
    """Per-document POSITION-ALIGNED subword counts: (*id_col*, subs)
    where ``subs[i]`` is the piece count of ``toks[i]`` — the shape a
    consumer needs to bill arbitrary token SPANS (overlapping chunk
    windows, sequence slices) in subword units with row-local
    slice-and-sum arithmetic, no per-span shuffle.

    Plan: posexplode the token array, fold once per DISTINCT token
    (dedup-before-expensive-compute),
    join the counts back (AQE-decided, unbounded crawl vocabulary), and
    reassemble each document's array ordered by position (one
    map-side-combinable groupBy on the id; exploded tokens co-locate
    with their source row). Documents with zero tokens keep a row with
    an EMPTY subs array via explode_outer + the coalesce below.

    No single-split guard (r11): the fold runs per DISTINCT token —
    post-shuffle, already parallel — so the guard would shuffle the
    full token arrays just to parallelize posexplode; same
    shuffle-dominant shape the passage-front A/B measured as
    neutral-to-1.24x slower (SCALE.md, r11 start)."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode_outer(F.col(toks_col)).alias("_pos", "_tok"),
    )
    words = (
        exploded.filter(F.col("_tok").isNotNull())
        .select("_tok")
        .distinct()
        .select("_tok", subword_count(F.col("_tok"), vocab).alias("_n_sub"))
    )
    return (
        exploded.join(words, "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    # when() yields NULL for the explode_outer marker row
                    # of a tokenless doc; collect_list skips NULLs, so
                    # such docs keep a row with an EMPTY subs array
                    F.collect_list(
                        F.when(
                            F.col("_tok").isNotNull(),
                            F.struct("_pos", "_n_sub"),
                        )
                    )
                ),
                lambda x: x["_n_sub"].cast("long"),
            ).alias("subs")
        )
    )


def sql_pieces_values(vocab: tuple[str, ...] = SUBWORD_VOCAB) -> str:
    """The piece vocabulary as a DuckDB list literal."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in vocab)
    return f"[{quoted}]"


def sql_subword_walk(
    words_cte: str, vocab: tuple[str, ...] = SUBWORD_VOCAB
) -> str:
    """DuckDB CTE chain computing ``subcnt(tok, n_sub)`` for every row
    of *words_cte* (a CTE exposing a distinct ``tok`` column) — the
    recursive-CTE twin of :func:`subword_count`. Must be spliced into a
    ``WITH RECURSIVE`` clause."""
    return f"""pieces AS (
  SELECT unnest({sql_pieces_values(vocab)}) AS p
), posm AS (
  SELECT tok, pos,
         coalesce(max(CASE WHEN substr(tok, CAST(pos AS INT), length(p)) = p
                           THEN length(p) END), 1) AS plen
  FROM (SELECT tok, unnest(range(1, length(tok) + 1)) AS pos FROM {words_cte})
  CROSS JOIN pieces
  GROUP BY tok, pos
), walk AS (
  SELECT tok, 1 AS pos, 0 AS cnt FROM {words_cte}
  UNION ALL
  SELECT w.tok, w.pos + pm.plen, w.cnt + 1
  FROM walk w JOIN posm pm ON pm.tok = w.tok AND pm.pos = w.pos
  WHERE w.pos <= length(w.tok)
), subcnt AS (
  SELECT tok, max(cnt) AS n_sub FROM walk GROUP BY tok
)"""
