"""Text-analysis primitives for large-scale training-data pipelines.

All column builders are pure ``pyspark.sql.functions`` expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path — so a 100 TB documents
table runs them inside the parquet scan projection. Each primitive has an
exact ANSI-SQL twin used by the DuckDB oracle (see queries/llm.py), which is
why hashing goes through md5-hex -> bigint instead of engine-native hash
functions (murmur3 seeds differ across engines).

Reference context: the reference's only "text analysis" is the byte-regex
projection (readport.py:328-369); this module is the extension surface
BASELINE.json directs ("text analysis" family).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1 — all rolling/min hashes are arithmetic mod P so
#: every intermediate fits in a 64-bit signed int in both engines.
HASH_P = 2_147_483_647

#: polynomial base for the rolling document fingerprint
FP_BASE = 131

# tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic; deliberately ASCII so tokenization is engine-portable.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est"],
    "zh": ["de", "le", "shi", "bu", "wo", "you", "ta", "men"],
}


def tokens(text: Column) -> Column:
    """Whitespace/punctuation tokenization: lowercase, non-alnum -> space,
    split. Identical SQL twin: split(trim(regexp_replace(lower(x),
    '[^a-z0-9]+', ' ', 'g')), ' ')."""
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


#: GPT-2-style pre-tokenizer pattern, simplified to the RE2-compatible
#: subset (no lookahead) so the DuckDB twin matches byte-for-byte:
#: contractions | space?+letters | space?+digits | space?+other | spaces.
#: Both Java regex and RE2 (DuckDB) resolve alternation leftmost-first.
BPE_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+|\s+"


def bpe_pretokens(text: Column) -> Column:
    """BPE-ish pre-tokenization (the unit LLM token budgets count):
    regexp_extract_all with the GPT-2-shaped pattern over lowercased
    text. Twin: regexp_extract_all(lower(x), <same pattern>)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_PRETOKEN_RE), 0)


def token_hash(tok: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5 as bigint.

    Twin: CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) in DuckDB,
    conv(substr(md5(t),1,15),16,10)::bigint here — verified identical.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def token_hash_fast(tok: Column) -> Column:
    """Production hash: JVM xxhash64 folded into [0, P) — measured 2.7x
    faster than the md5 path on minhash signatures (SCALE.md). Not
    DuckDB-reproducible, so the oracle-checked queries stay on
    :func:`token_hash`; deployments flip ``hash_fn="fast"`` on the dedup
    operators for identical semantics under a different hash family."""
    return F.pmod(F.xxhash64(tok), F.lit(HASH_P))


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), preserving duplicates.

    Built with sequence+transform over the token array — no explode, no
    shuffle; the set-semantics step (array_distinct) is the caller's call.

    Fewer than *n* tokens -> empty array (matches the DuckDB twin's
    exclusive ``range``). The size guard matters twice under ANSI mode:
    ``sequence(1, 0)`` counts *down* ([1, 0]), and ``element_at`` past the
    array end throws instead of returning NULL.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    built = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, built).otherwise(
        F.array().cast("array<string>")
    )


#: polynomial base for combining token hashes into shingle hashes
SHINGLE_BASE = 131


def combine_shingle_hashes(th: Column, n: int = 3) -> Column:
    """Shingle hashes from a pre-staged token-hash array *th* (values in
    [0, P)): hash of shingle i = polynomial fold of n consecutive token
    hashes mod P. One md5 per TOKEN instead of one per (3x longer)
    shingle string — measurably cheaper, identical on both engines
    (every intermediate < P * SHINGLE_BASE < 2^63).

    Twin: list_transform(range(1, greatest(len(th)-1, 1)),
    i -> ((th[i]*131 + th[i+1]) % P * 131 + th[i+2]) % P).
    """

    def comb(i: Column) -> Column:
        h = F.element_at(th, i)
        for j in range(1, n):
            h = (h * SHINGLE_BASE + F.element_at(th, i + j)) % HASH_P
        return h

    idx = F.sequence(F.lit(1), F.size(th) - (n - 1))
    return F.when(F.size(th) >= n, F.transform(idx, comb)).otherwise(
        F.array().cast("array<long>")
    )


def wordlist_hits(toks: Column, words) -> Column:
    """Count of distinct tokens appearing in *words* — the
    distinct-intersect idiom shared by language-ID stopword scoring and
    the Gopher required-stopword rule (one definition, one SQL twin, so
    the engines cannot drift)."""
    sw = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(F.array_distinct(toks), sw))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Count of distinct tokens that are stopwords of *lang*."""
    return wordlist_hits(toks, STOPWORDS[lang])


def predicted_lang(toks: Column) -> Column:
    """Stopword-scoring language ID with deterministic lexical tie-break."""
    langs = sorted(STOPWORDS)
    best = None
    for lang in langs:
        cand = F.struct(
            stopword_hits(toks, lang).alias("hits"), F.lit(lang).alias("lang")
        )
        best = cand if best is None else F.when(
            (cand["hits"] > best["hits"]), cand
        ).otherwise(best)
    # lexical tie-break is implicit: langs iterated in sorted order and
    # strictly-greater comparison keeps the earliest max.
    return best["lang"]


def quality_features(text: Column, toks: Column | None = None) -> dict[str, Column]:
    """Length/punctuation/stopword quality features + composite score.

    Score: fraction-based features combined linearly; everything rounded
    at the query edge (not here) for oracle parity.

    Pass a pre-staged *toks* column when computing several features at
    once: the tokenization (regexp_replace + split) is referenced by four
    features, and staging it as its own projected column keeps Catalyst
    from inlining (re-running) it per feature.
    """
    if toks is None:
        toks = tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, "[.,!?;:]", ""))
    n_stop = stopword_hits(toks, "en")
    avg_tok_len = F.when(n_tokens > 0, F.length(F.concat_ws("", toks)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2) * F.least(avg_tok_len / F.lit(8.0), F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - punct_ratio)
    )
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tokens,
        "n_punct": n_punct,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "avg_token_len": avg_tok_len,
        "quality_score": score,
    }


def chunk_starts(toks: Column, stride: int) -> Column:
    """1-based start offsets of overlapping chunks: 1, 1+stride, ... while
    <= len(toks); empty docs get no chunks. Twin:
    range(1, len(toks)+1, stride) (exclusive stop)."""
    n = F.size(toks)
    return F.when(
        n > 0, F.sequence(F.lit(1), n, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive polynomial rolling hash over token hashes:
    ``acc = (acc * 131 + h(tok)) mod P`` — a portable document fingerprint
    (the dedup-friendly analog of content-defined chunking hashes).
    Twin: list_reduce(list_prepend(0, hashes), (a,b)->(a*131+b%P)%P).
    """
    hashes = F.transform(toks, lambda t: token_hash(t) % HASH_P)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_BASE + h) % HASH_P,
    )


# ---- SQL twins (DuckDB dialect) -------------------------------------------

SQL_TOKENS = (
    "CASE WHEN trim(regexp_replace(lower({x}), '[^a-z0-9]+', ' ', 'g')) = '' "
    "THEN [] "
    "ELSE string_split(trim(regexp_replace(lower({x}), '[^a-z0-9]+', ' ', 'g')), ' ') END"
)

def sql_wordlist_hits(toks_expr: str, words) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_intersect(list_distinct({toks_expr}), [{quoted}]))"


def sql_stopword_hits(toks_expr: str, lang: str) -> str:
    return sql_wordlist_hits(toks_expr, STOPWORDS[lang])
