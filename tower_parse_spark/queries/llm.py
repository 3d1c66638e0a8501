"""LLM-data-pipeline queries: dedup, similarity, text analysis, multimodal.

Each query pairs the engine operator (operators/dedup.py, similarity.py,
multimodal.py, functions/text.py) with an exact DuckDB SQL twin. The SQL
is generated from the same constants (hash params, stopword lists,
hyperplanes) so the two sides cannot drift.

Portability contract with the oracle:
- token/shingle hashing: md5-hex(15 chars) -> bigint, mod P=2^31-1;
- tokenization: lower, non-alnum -> space, split (identical regex);
- float outputs rounded (4 dp) at the query edge;
- summation order: Spark left-fold (aggregate) vs DuckDB list_sum —
  equal after rounding for these magnitudes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tower_parse_spark.functions import text as T
from tower_parse_spark.functions.rounding import pround, sql_pround
from tower_parse_spark.operators import classifier as CL
from tower_parse_spark.operators import components as C
from tower_parse_spark.operators import decontam as DC
from tower_parse_spark.operators import dedup as D
from tower_parse_spark.operators import multimodal as M
from tower_parse_spark.operators import pq as PQ
from tower_parse_spark.operators import sampling as SP
from tower_parse_spark.operators import seqpack as SQ
from tower_parse_spark.operators import similarity as S
from tower_parse_spark.operators import subword as SW
from tower_parse_spark.queries import Query
from tower_parse_spark.session import load_table

P = T.HASH_P

# shared SQL fragments -------------------------------------------------------

SQL_TOKS = T.SQL_TOKENS.format(x="text")
SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)
#: token hashes reduced mod P (minhash pipeline; twin of
#: functions/text.py::token_hash % HASH_P)
SQL_TOKEN_HASHES_MODP = (
    "list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)"
    f" % {P})"
)
#: shingle hashes combined from pre-hashed tokens (twin of
#: functions/text.py::combine_shingle_hashes, SHINGLE_BASE=131)
SQL_SHINGLE_HASHES_COMBINED = (
    "list_distinct(list_transform(range(1, greatest(len(th) - 1, 1)), "
    f"i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P}))"
)
SQL_TOKEN_HASHES = (
    "list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"
)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def _docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ an id-shifted copy — a corpus with known duplicates
    (the raw table is duplicate-free by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    copy = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    return docs.unionAll(copy)


_DOCS_WITH_COPIES_SQL = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): survivor + multiplicity per text."""
    return (
        D.exact_dedup(_docs_with_copies(spark, sf_dir))
        .orderBy("survivor_id")
    )


DEDUP_EXACT_ORACLE = f"""
WITH {_DOCS_WITH_COPIES_SQL}
SELECT md5(text) AS text_hash,
       min(doc_id) AS survivor_id,
       count(*) AS n_copies
FROM docs2
GROUP BY md5(text)
ORDER BY survivor_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with estimated Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs).orderBy("id1", "id2")


def _minhash_sql_components() -> str:
    comps = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))"
        for (a, b) in D.minhash_params()
    )
    return f"[{comps}]"


def _band_key_sql(b: int, rows: int) -> str:
    parts = " || '_' || ".join(
        f"CAST(mh[{b * rows + r + 1}] AS VARCHAR)" for r in range(rows)
    )
    return f"md5('{b}' || '_' || {parts})"


def _minhash_pairs_ctes(docs_rel: str) -> str:
    """CTE chain computing MinHash-LSH candidate pairs over *docs_rel*
    (ends with a ``pairs`` relation carrying mh1/mh2 signatures)."""
    # mh[1] IS NOT NULL: shingle-less docs are excluded from banding on
    # both engines (operators/dedup.py::minhash_lsh_pairs rationale)
    banded_union = " UNION ALL ".join(
        f"SELECT {_band_key_sql(b, D.LSH_ROWS)} AS band_key, doc_id, mh "
        "FROM sig WHERE mh[1] IS NOT NULL"
        for b in range(D.LSH_BANDS)
    )
    # MATERIALIZED on sig/banded: DuckDB inlines plain CTEs per
    # reference — the band union reads sig 4x and the pair join reads
    # banded 2x, which re-ran the tokenize+md5+minhash chain 8x
    return f"""tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM {docs_rel}
), th AS (
  SELECT doc_id, {SQL_TOKEN_HASHES_MODP} AS th FROM tok
), hs AS (
  SELECT doc_id, {SQL_SHINGLE_HASHES_COMBINED} AS hs FROM th
), sig AS MATERIALIZED (
  SELECT doc_id, {_minhash_sql_components()} AS mh FROM hs
), banded AS MATERIALIZED (
  {banded_union}
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         l.mh AS mh1, r.mh AS mh2
  FROM banded l JOIN banded r USING (band_key)
  WHERE l.doc_id < r.doc_id
)"""


_EST_JACCARD_SQL = (
    "round(list_sum(list_transform(list_zip(mh1, mh2), "
    "p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / "
    f"{float(D.MINHASH_K)}, 4)"
)

DEDUP_MINHASH_ORACLE = f"""
WITH {_minhash_pairs_ctes("documents")}
SELECT id1, id2, {_EST_JACCARD_SQL} AS est_jaccard
FROM pairs
ORDER BY id1, id2
"""


def source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimates from merged MinHash sketches
    (sketch-union mergeability: per-source signature = element-wise min
    of doc signatures = the signature of the source's shingle union)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.source_minhash_overlap(docs).orderBy("group1", "group2")


_SRC_SIG_MINS = ", ".join(f"min(mh[{i + 1}])" for i in range(D.MINHASH_K))

SOURCE_OVERLAP_ORACLE = f"""
WITH tok AS (
  SELECT source, {SQL_TOKS} AS toks FROM documents
), th AS (
  SELECT source, {SQL_TOKEN_HASHES_MODP} AS th FROM tok
), hs AS (
  SELECT source, {SQL_SHINGLE_HASHES_COMBINED} AS hs FROM th
), sig AS (
  SELECT source, {_minhash_sql_components()} AS mh FROM hs
), per_group AS (
  SELECT source, [{_SRC_SIG_MINS}] AS gsig
  FROM sig GROUP BY source
), comp AS (
  SELECT source, idx.i, per_group.gsig[idx.i] AS val
  FROM per_group CROSS JOIN
       (SELECT unnest(range(1, {D.MINHASH_K + 1})) AS i) idx
  WHERE per_group.gsig[idx.i] IS NOT NULL
), matches AS (
  SELECT l.source AS group1, r.source AS group2, count(*) AS n_match
  FROM comp l JOIN comp r ON l.i = r.i AND l.val = r.val
  WHERE l.source < r.source
  GROUP BY l.source, r.source
)
SELECT group1, group2,
       CAST(n_match AS BIGINT) AS n_match,
       round(n_match / {float(D.MINHASH_K)}, 4) AS est_jaccard
FROM matches
ORDER BY group1, group2
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return D.with_simhash(docs).select("doc_id", "simhash").orderBy("doc_id")


def _simhash_sql(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * coalesce(list_sum(list_transform(hs, h -> (h >> {j}) & 1)), 0) "
        f"> len(hs) THEN CAST(1 AS BIGINT) ELSE 0 END << {j})"
        for j in range(bits)
    )
    return terms


DEDUP_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), hs AS (
  SELECT doc_id, {SQL_TOKEN_HASHES} AS hs FROM tok
)
SELECT doc_id,
       -- NULL text -> NULL fingerprint (Spark parity; the per-bit
       -- CASEs would otherwise fold NULL comparisons to an all-zero
       -- fingerprint)
       CASE WHEN hs IS NULL THEN NULL ELSE {_simhash_sql()} END AS simhash
FROM hs
ORDER BY doc_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over prefix-blocked candidate pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs).orderBy("id1", "id2")


DEDUP_NGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), base AS (
  -- len(sh) > 0: shingle-less docs never enter blocking (both-engine
  -- rule, operators/dedup.py::ngram_jaccard_pairs rationale)
  SELECT doc_id,
         md5(array_to_string(toks[1:8], ' ')) AS block_key,
         {SQL_SHINGLES} AS sh
  FROM tok
  WHERE len({SQL_SHINGLES}) > 0
)
SELECT l.doc_id AS id1, r.doc_id AS id2,
       round(CASE WHEN len(list_distinct(l.sh || r.sh)) > 0
                  THEN len(list_intersect(l.sh, r.sh))
                       / CAST(len(list_distinct(l.sh || r.sh)) AS DOUBLE)
                  ELSE 0.0 END, 4) AS jaccard
FROM base l JOIN base r USING (block_key)
WHERE l.doc_id < r.doc_id
ORDER BY id1, id2
"""


def _emb_with_near_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministically perturbed copies (the raw vectors
    are random, pairwise cos < 0.5 — inject known near-dups to find)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pert = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double") * 1.5 + 0.01 * (i % 3).cast("double"),
        ).alias("embedding"),
        F.col("label"),
    )
    return emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    ).unionAll(pert)


_EMB_NEAR_COPIES_SQL = """
emb2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding, label
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(list_zip(embedding, range(1, len(embedding) + 1)),
                        p -> CAST(p[1] AS DOUBLE) * 1.5 + 0.01 * ((p[2] - 1) % 3)) AS embedding,
         label
  FROM embeddings
)
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cos >= 0.9) via the DEFAULT sign-LSH
    bucket blocking (the scale path: 2^planes balanced buckets vs the
    O(n^2/B) label self-join — at sf0.1 the label-blocked form scored
    ~800k pairs, the bucketed form ~1/6 of that). The oracle reproduces
    the same seedless hyperplane lattice, so kept/compared pairs match
    exactly; near-dups whose perturbation flips a sign bit are missed by
    BOTH engines identically (the documented LSH recall tradeoff —
    SCALE.md's recall table quantifies it)."""
    return D.embedding_near_dup_pairs(
        _emb_with_near_copies(spark, sf_dir), threshold=0.9, dim=64
    ).orderBy("id1", "id2")


_SQL_COS = (
    "list_sum(list_transform(list_zip(l.embedding, r.embedding), p -> p[1]*p[2]))"
    " / (sqrt(list_sum(list_transform(l.embedding, x -> x*x)))"
    " * sqrt(list_sum(list_transform(r.embedding, x -> x*x))))"
)

def _sql_lsh_bucket(planes: int = 6) -> str:
    """The sign-LSH bucket id in DuckDB SQL — same seedless hyperplane
    lattice as operators/similarity.py::hyperplane (plane_j[i] =
    ((i*31 + j*17) % 13) - 6, i 0-based; here p[2] is 1-based)."""
    terms = []
    for j in range(planes):
        d = (
            "list_sum(list_transform("
            "list_zip(embedding, range(1, len(embedding) + 1)), "
            f"p -> p[1] * ((((p[2] - 1) * 31 + {j} * 17) % 13) - 6)))"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


DEDUP_EMB_COS_ORACLE = f"""
WITH {_EMB_NEAR_COPIES_SQL},
blocked AS (
  SELECT vec_id, embedding, {_sql_lsh_bucket()} AS blk FROM emb2
)
SELECT l.vec_id AS id1, r.vec_id AS id2,
       round({_SQL_COS}, 4) AS cos_sim
FROM blocked l JOIN blocked r ON l.blk = r.blk AND l.vec_id < r.vec_id
WHERE round({_SQL_COS}, 4) >= 0.9
ORDER BY id1, id2
"""


def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pairs (>= 0.8 est. Jaccard) ->
    connected components (iterative min-label propagation) -> survivor
    selection. The full three-stage pipeline a training corpus runs."""
    docs2 = _docs_with_copies(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2).filter(F.col("est_jaccard") >= 0.8)
    return C.dedup_clusters(pairs, docs2).orderBy("doc_id")


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_DOCS_WITH_COPIES_SQL.strip().rstrip()},
{_minhash_pairs_ctes("docs2")},
strong AS MATERIALIZED (
  -- MATERIALIZED: the recursive step below re-scans sym every
  -- iteration, and DuckDB inlines plain CTEs per reference — without
  -- the hints each iteration re-ran the whole tokenize+minhash+band
  -- chain (measured 24.9 s -> ~2 s at sf0.01)
  SELECT id1, id2 FROM pairs WHERE {_EST_JACCARD_SQL} >= 0.8
), sym AS MATERIALIZED (
  SELECT id1 AS a, id2 AS b FROM strong
  UNION
  SELECT id2 AS a, id1 AS b FROM strong
), reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
), comp AS (
  SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_survivor
FROM docs2 d LEFT JOIN comp c USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 per probe vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _probes(spark, sf_dir), k=5).orderBy(
        "probe_id", "rank"
    )


ANN_TOPK_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), probes AS (
  SELECT vec_id AS probe_id, embedding FROM emb WHERE vec_id % 100 = 0
), scored AS (
  SELECT p.probe_id, e.vec_id AS vec_id, round({_SQL_COS.replace("l.", "e.").replace("r.", "p.")}, 4) AS cos_sim
  FROM emb e CROSS JOIN probes p
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT probe_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
ORDER BY probe_id, rank
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed cosine top-5 per probe (approximate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hyperplane_lsh_topk(
        emb, _probes(spark, sf_dir), dim=64, k=5
    ).orderBy("probe_id", "rank")


def _sql_bucket(v: str, dim: int = 64, planes: int = S.LSH_PLANES) -> str:
    bits = []
    for j in range(planes):
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {v}[i] * (((i - 1) * 31 + {j * 17}) % 13 - 6)))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {j})")
    return " + ".join(bits)


ANN_LSH_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), be AS (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM emb
), probes AS (
  SELECT vec_id AS probe_id, embedding, bucket FROM be WHERE vec_id % 100 = 0
), scored AS (
  SELECT p.probe_id, e.vec_id AS vec_id, round({_SQL_COS.replace("l.", "e.").replace("r.", "p.")}, 4) AS cos_sim
  FROM be e JOIN probes p USING (bucket)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT probe_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
ORDER BY probe_id, rank
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-restricted cosine top-5 per probe (approximate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, _probes(spark, sf_dir), dim=64, k=5).orderBy(
        "probe_id", "rank"
    )


def _sql_centroid_cos(v: str, j: int, dim: int = 64) -> str:
    lattice = f"(((i - 1) * 37 + {j * 29}) % 15 - 7)"
    dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> {v}[i] * {lattice}))"
    vnorm = f"sqrt(list_sum(list_transform({v}, x -> x * x)))"
    cnorm = f"sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> CAST({lattice} AS DOUBLE) * {lattice})))"
    return f"({dot}) / (({vnorm}) * ({cnorm}))"


def _sql_ivf_cells(k: int = S.IVF_K) -> str:
    """CTE fragment: scores array + first/second nearest cell ids."""
    scores = ", ".join(
        _sql_centroid_cos("embedding", j) for j in range(k)
    )
    return f"""
  SELECT vec_id, embedding, [{scores}] AS s FROM emb
"""


ANN_IVF_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), scored_cells AS ({_sql_ivf_cells()}
), cells AS (
  SELECT vec_id, embedding, s,
         list_position(s, list_max(s)) AS cell1
  FROM scored_cells
), cells2 AS (
  SELECT vec_id, embedding, cell1,
         list_position(
           list_transform(range(1, {S.IVF_K + 1}),
                          i -> CASE WHEN i = cell1 THEN -9.0 ELSE s[i] END),
           list_max(
             list_transform(range(1, {S.IVF_K + 1}),
                            i -> CASE WHEN i = cell1 THEN -9.0 ELSE s[i] END))
         ) AS cell2
  FROM cells
), corpus AS (
  SELECT vec_id, embedding, cell1 AS cell FROM cells2
), probes AS (
  SELECT vec_id AS probe_id, embedding, unnest([cell1, cell2]) AS cell
  FROM cells2 WHERE vec_id % 100 = 0
), scored AS (
  SELECT p.probe_id, e.vec_id AS vec_id,
         round({_SQL_COS.replace("l.", "e.").replace("r.", "p.")}, 4) AS cos_sim
  FROM corpus e JOIN probes p USING (cell)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT probe_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
ORDER BY probe_id, rank
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC layout): coarse-cell pruning + product-
    quantized ADC scoring — the corpus side carries only (id, cell,
    M codes); raw vectors never reach the join. r6: codes quantize the
    RESIDUAL v - mean(cell) (classic IVFADC; operators/pq.py::ivfpq_topk
    residual=True), with the per-cell means computed as exact
    quantized-integer sums so the oracle reproduces them bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return PQ.ivfpq_topk(emb, _probes(spark, sf_dir), dim=64, k=5).orderBy(
        "probe_id", "rank"
    )


def _pq_dot_sql(v: str, m: int, c: int, sd: int) -> str:
    """Sub-dot of v's subspace m against lattice sub-centroid (m, c) —
    the SQL twin of operators/pq.py::pq_subcentroid's lattice."""
    lat = f"((((i - 1) * 41 + {c * 23 + m * 13}) % 17 - 8) * {PQ.PQ_SCALE})"
    return (
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> {v}[{m * sd} + i] * {lat}))"
    )


def _pq_sql_parts(v: str, dim: int = 64) -> tuple[str, str, str]:
    """(per-subspace distance-list columns, codes list, ADC table list)
    for the IVF-PQ oracle, generated from the same codebook constants as
    the Spark side."""
    books = PQ.lattice_codebooks(dim)
    csq = PQ._csq(books)
    m_sub, k_codes = len(books), len(books[0])
    sd = dim // m_sub
    dlists = ",\n         ".join(
        "["
        + ", ".join(
            f"{csq[m][c]!r} - 2.0 * ({_pq_dot_sql(v, m, c, sd)})"
            for c in range(k_codes)
        )
        + f"] AS d{m}"
        for m in range(m_sub)
    )
    codes = (
        "["
        + ", ".join(
            f"CAST(list_position(d{m}, list_min(d{m})) - 1 AS INTEGER)"
            for m in range(m_sub)
        )
        + "]"
    )
    pt = (
        "["
        + ", ".join(
            f"{csq[m][c]!r} - 2.0 * ({_pq_dot_sql(v, m, c, sd)})"
            for m in range(m_sub)
            for c in range(k_codes)
        )
        + "]"
    )
    return dlists, codes, pt


_PQR_DLISTS, _PQR_CODES, _ = _pq_sql_parts("rv")
_, _, _PQR_PT = _pq_sql_parts("rq")

# r6 residual IVFADC twin: vectors are L2-normalized first (ADC's L2
# rank is then monotone in cosine — pq.py normalize=True); per-cell
# means are exact 1e-4-quantized INTEGER sums (order-independent —
# bit-identical to Spark's with_cell_means regardless of partitioning);
# residuals are computed against the probed/assigned cell's mean on
# both sides.
ANN_IVFPQ_ORACLE = f"""
WITH emb0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), emb AS (
  SELECT vec_id,
         CASE WHEN nrm > 0
              THEN list_transform(embedding, x -> x / nrm) END AS embedding
  FROM (SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nrm
        FROM emb0)
), scored_cells AS ({_sql_ivf_cells()}
), cells AS (
  SELECT vec_id, embedding, s,
         list_position(s, list_max(s)) AS cell1
  FROM scored_cells
), cells2 AS (
  SELECT vec_id, embedding, cell1,
         list_position(
           list_transform(range(1, {S.IVF_K + 1}),
                          i -> CASE WHEN i = cell1 THEN -9.0 ELSE s[i] END),
           list_max(
             list_transform(range(1, {S.IVF_K + 1}),
                            i -> CASE WHEN i = cell1 THEN -9.0 ELSE s[i] END))
         ) AS cell2
  FROM cells
), cellmeans AS (
  SELECT cell, list(m ORDER BY i) AS mean_v FROM (
    SELECT cell1 AS cell, i,
           sum(CAST(round(embedding[i] * 10000) AS BIGINT)) / 10000.0
             / count(*) AS m
    FROM cells2, unnest(range(1, 65)) AS u(i)
    GROUP BY cell1, i
  ) GROUP BY cell
), encd AS (
  SELECT vec_id, cell1,
         {_PQR_DLISTS}
  FROM (
    SELECT c2.vec_id, c2.cell1,
           list_transform(range(1, 65),
                          i -> c2.embedding[i] - cm.mean_v[i]) AS rv
    FROM cells2 c2 JOIN cellmeans cm ON cm.cell = c2.cell1
  )
), enc AS (
  SELECT vec_id, cell1 AS cell, {_PQR_CODES} AS codes FROM encd
), pq_probes AS (
  SELECT probe_id, cell,
         {_PQR_PT} AS pt,
         list_sum(list_transform(rq, x -> x * x)) AS qsq
  FROM (
    SELECT pb.probe_id, pb.cell,
           list_transform(range(1, 65),
                          i -> pb.embedding[i] - cm.mean_v[i]) AS rq
    FROM (SELECT vec_id AS probe_id, embedding,
                 unnest([cell1, cell2]) AS cell
          FROM cells2 WHERE vec_id % 100 = 0) pb
    JOIN cellmeans cm ON cm.cell = pb.cell
  )
), scored AS (
  SELECT p.probe_id, e.vec_id AS vec_id,
         round(p.qsq + list_sum(list_transform(range(1, {PQ.PQ_M + 1}),
               m -> p.pt[(m - 1) * {PQ.PQ_K} + e.codes[m] + 1])), 4)
           AS adc_dist
  FROM enc e JOIN pq_probes p USING (cell)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist ASC, vec_id) AS rank
  FROM scored
)
SELECT probe_id, vec_id, adc_dist, rank FROM ranked WHERE rank <= 5
ORDER BY probe_id, rank
"""


def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster corpus statistics over the embedding column: assign
    every vector to its coarse cell (the IVF quantizer — the engine's
    clustering primitive), then report per-cell size, mean vector norm
    and the dominant ground-truth label with its share — the
    topic-balance / cluster-quality report a corpus-curation pipeline
    runs before sampling.

    Scale shape: one scan + cell assignment in the projection; one
    (cell, label) agg, one window for the dominant label, one cell-level
    agg — all keyed on the tiny cell/label space after the first
    map-side-combined shuffle. Norms are 1e-4-quantized before summing
    (integer sums, exact on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = S.assign_cells(
        emb.select(
            "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("cv")
        ),
        "cv",
        S.lattice_centroids(64),
        out="cell",
        out_norm="cn",
    ).select(
        "cell",
        "label",
        # NULL vectors land in cell 0 with a ZERO norm contribution (not a
        # skipped-NULL sum): coalesce keeps avg_norm 0.0 rather than NULL
        # for a cell of only malformed vectors — mirrored in the oracle
        F.coalesce(
            F.round(pround(F.col("cn"), 4) * 10000).cast("long"), F.lit(0)
        ).alias("_cn4"),
    )
    per_label = c.groupBy("cell", "label").agg(
        F.count(F.lit(1)).alias("n_label"),
        F.sum("_cn4").alias("_cn4_sum"),
    )
    # asc_nulls_last: Spark's default ASC is NULLS FIRST but DuckDB's is
    # NULLS LAST — on a tie a NULL label must not beat a real one
    # (caught by the NULL-fixture robustness test)
    w = W.partitionBy("cell").orderBy(
        F.col("n_label").desc(), F.asc_nulls_last("label")
    )
    return (
        per_label.withColumn("_rn", F.row_number().over(w))
        .groupBy("cell")
        .agg(
            F.sum("n_label").alias("n_vecs"),
            pround(
                F.sum("_cn4_sum") / 10000.0 / F.sum("n_label"), 4
            ).alias("avg_norm"),
            F.max(F.when(F.col("_rn") == 1, F.col("label"))).alias("top_label"),
            pround(
                F.max(F.when(F.col("_rn") == 1, F.col("n_label")))
                / F.sum("n_label").cast("double"),
                4,
            ).alias("top_label_frac"),
        )
        .orderBy("cell")
    )


EMB_CLUSTER_STATS_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), scored_cells AS ({{ivf_cells}}
), assigned AS (
  -- mirror Spark's assign_cells coalesce: a NULL/malformed embedding
  -- yields NULL scores, and the engine lands it in deterministic cell 0
  -- with a zero norm contribution (similarity.py:255) — the oracle must
  -- group it identically, not under a NULL cell (ADVICE r5, medium)
  SELECT e2.label,
         coalesce(list_position(sc.s, list_max(sc.s)), 0) AS cell,
         coalesce(CAST(round(({{pr_norm}}) * 10000) AS BIGINT), 0) AS cn4
  FROM scored_cells sc JOIN emb e2 USING (vec_id)
), per_label AS (
  SELECT cell, label, count(*) AS n_label, sum(cn4) AS cn4_sum
  FROM assigned GROUP BY cell, label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cell
                               ORDER BY n_label DESC, label) AS rn
  FROM per_label
)
SELECT cell,
       CAST(sum(n_label) AS BIGINT) AS n_vecs,
       {sql_pround("sum(cn4_sum) / 10000.0 / sum(n_label)", 4)} AS avg_norm,
       max(CASE WHEN rn = 1 THEN label END) AS top_label,
       {sql_pround(
           "max(CASE WHEN rn = 1 THEN n_label END)"
           " / CAST(sum(n_label) AS DOUBLE)", 4)} AS top_label_frac
FROM ranked
GROUP BY cell
ORDER BY cell
""".format(
    ivf_cells=_sql_ivf_cells(),
    pr_norm=sql_pround(
        "sqrt(list_sum(list_transform(sc.embedding, x -> x * x)))", 4
    ),
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score. Heavy row-local
    feature HOFs -> ensure_parallelism on the single-split fixture
    scan (r10; no-op at real scale)."""
    from tower_parse_spark.session import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
    ).withColumn(
        "_toks", T.tokens(F.col("text"))
    )
    feats = T.quality_features(F.col("text"), toks=F.col("_toks"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["n_punct"].alias("n_punct"),
        pround(feats["stopword_ratio"], 4).alias("stopword_ratio"),
        pround(feats["avg_token_len"], 4).alias("avg_token_len"),
        pround(feats["quality_score"], 4).alias("quality_score"),
    ).orderBy("doc_id")


TEXT_QUALITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         CASE WHEN len(toks) > 0
              THEN {T.sql_stopword_hits("toks", "en")} / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(toks) > 0
              THEN length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS avg_tok_len,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct_ratio
  FROM tok
)
SELECT doc_id,
       n_tokens,
       CAST(n_punct AS BIGINT) AS n_punct,
       {sql_pround("stop_ratio", 4)} AS stopword_ratio,
       {sql_pround("avg_tok_len", 4)} AS avg_token_len,
       {sql_pround(
           "0.4 * least(n_tokens / 100.0, 1.0)"
           " + 0.3 * stop_ratio"
           " + 0.2 * least(avg_tok_len / 8.0, 1.0)"
           " + 0.1 * (1.0 - punct_ratio)", 4)} AS quality_score
FROM feat
ORDER BY doc_id
"""


#: trained-langid fixture (r9, VERDICT #5): the fixture's `lang` column
#: is independent of its word-salad text, so per-class marker tokens
#: are planted DETERMINISTICALLY into both the training slice and the
#: scored corpus (three `zzlid<lang><a|b|c>` words prepended — they
#: survive the LANGID_MAX_CHARS truncation and no fixture tokenizer
#: output collides with them; the PPL_UNK_WORDS planting rationale).
#: Training slice: doc_id % LID_TRAIN_MOD == LID_TRAIN_RES (all 5
#: classes present at every on-disk sf).
LID_TRAIN_MOD, LID_TRAIN_RES = 7, 2


def _lid_marked_text():
    lang = F.col("lang")
    return F.concat(
        F.lit("zzlid"), lang, F.lit("a zzlid"), lang, F.lit("b zzlid"),
        lang, F.lit("c "), F.coalesce(F.col("text"), F.lit("")),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID, both ways side-by-side (merged r9 to respect the
    100-entry ceiling): the stopword-heuristic verdict over the raw
    text (``pred_lang``) and the TRAINED char-n-gram Naive Bayes
    verdict (``nb_pred`` / ``nb_margin_q`` — classifier.py::
    classify_lang's argmin + runner-up-margin path) over the
    marker-planted corpus, trained in closed form on the marker-planted
    ``doc_id % LID_TRAIN_MOD == LID_TRAIN_RES`` slice."""
    from tower_parse_spark.session import ensure_parallelism

    # both halves are compute-bound row-local projections (five
    # stopword counters / per-gram hashing); a small corpus arrives as
    # one split (r10 finding: the whole query ran single-core)
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
    ).withColumn(
        # staged once: five per-language stopword counters reference it
        "_toks", T.tokens(F.col("text"))
    )
    heur = docs.select(
        "doc_id",
        "lang",
        T.predicted_lang(F.col("_toks")).alias("pred_lang"),
    )
    marked = docs.select("doc_id", "lang", _lid_marked_text().alias("text"))
    model = CL.train_langid_nb(
        marked.filter(
            (F.col("doc_id") % LID_TRAIN_MOD == LID_TRAIN_RES)
            # a NULL lang cannot be a class (degenerate fixture rows)
            & F.col("lang").isNotNull()
        ).select("lang", "text")
    )
    nb = CL.classify_lang(marked.select("doc_id", "text"), model).select(
        "doc_id",
        F.col("lang_pred").alias("nb_pred"),
        F.col("nll_margin_q").alias("nb_margin_q"),
    )
    return heur.join(nb, "doc_id").orderBy("doc_id")


def _langid_sql() -> str:
    langs = sorted(T.STOPWORDS)
    hits = ", ".join(
        f"{T.sql_stopword_hits('toks', lang)} AS h_{lang}" for lang in langs
    )
    # fold with strictly-greater keeps the lexicographically-first maximum,
    # mirroring functions/text.py::predicted_lang
    expr = f"'{langs[0]}'"
    best = f"h_{langs[0]}"
    for lang in langs[1:]:
        expr = f"CASE WHEN h_{lang} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({best}, h_{lang})"
    return f"SELECT doc_id, lang, {expr} AS pred_lang FROM (SELECT doc_id, lang, {hits} FROM tok)"


def _text_langid_oracle() -> str:
    """Heuristic + trained-NB twins joined on doc_id. The NB half
    re-derives train_langid_nb + classify_lang relationally: per
    (bucket, class) gram counts -> quantized NLL weights (every class
    gets a value for every OBSERVED bucket; unseen buckets take the
    class nll0), per-doc-per-class integer NLL sums + prior, argmin
    with (score, cls) ordering = Spark's sorted-classes
    array_position tie-break, margin = runner-up minus best."""
    from tower_parse_spark.operators.classifier import (
        LANGID_MAX_CHARS,
        LANGID_NGRAM,
        W_SCALE,
        sql_feature_bucket,
    )
    from tower_parse_spark.operators.classifier import N_FEATURES as NF

    mark = (
        "'zzlid' || lang || 'a zzlid' || lang || 'b zzlid' || lang || 'c '"
        " || coalesce(text, '')"
    )
    grams = (
        f"list_transform(range(1, greatest(length(t) - {LANGID_NGRAM - 1}, 0)"
        f" + 1), i -> substr(t, CAST(i AS INT), {LANGID_NGRAM}))"
    )

    def q(x: str) -> str:
        return f"CAST(floor(ln({x}) * {W_SCALE} + 0.5) AS BIGINT)"

    return f"""
WITH tok AS (
  SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents
), heur AS (
  {_langid_sql()}
), labt AS (
  SELECT lang AS cls, substr(lower({mark}), 1, {LANGID_MAX_CHARS}) AS t
  FROM documents
  WHERE doc_id % {LID_TRAIN_MOD} = {LID_TRAIN_RES} AND lang IS NOT NULL
), labg AS (
  SELECT cls, unnest({grams}) AS g FROM labt
), pb AS (
  SELECT {sql_feature_bucket("g")} AS bucket, cls, count(*) AS n
  FROM labg GROUP BY 1, 2
), ctot AS (
  SELECT cls,
         sum(greatest(length(t) - {LANGID_NGRAM - 1}, 0)) AS tok_mass,
         count(*) AS docs
  FROM labt GROUP BY cls
), alld AS (
  SELECT sum(docs) AS alldocs FROM ctot
), cw AS (
  SELECT ct.cls,
         {q("CAST(a.alldocs AS DOUBLE) / CAST(ct.docs AS DOUBLE)")} AS prior,
         {q(f"(ct.tok_mass + {float(NF)}) / 1.0")} AS nll0
  FROM ctot ct CROSS JOIN alld a
), obuck AS (
  SELECT DISTINCT bucket FROM pb
), w AS (
  SELECT ob.bucket, ct.cls,
         {q(f"(ct.tok_mass + {float(NF)}) / (coalesce(pb.n, 0) + 1.0)")}
           AS nll
  FROM obuck ob
  CROSS JOIN ctot ct
  LEFT JOIN pb ON pb.bucket = ob.bucket AND pb.cls = ct.cls
), aug AS (
  SELECT doc_id, substr(lower({mark}), 1, {LANGID_MAX_CHARS}) AS t
  FROM documents
), docg AS (
  SELECT doc_id, unnest({grams}) AS g FROM aug
), sc AS (
  SELECT d.doc_id, cw.cls, coalesce(w.nll, cw.nll0) AS nq
  FROM docg d
  CROSS JOIN cw
  LEFT JOIN w ON w.bucket = {sql_feature_bucket("d.g")} AND w.cls = cw.cls
), per AS (
  SELECT doc_id, cls, sum(nq) AS s FROM sc GROUP BY 1, 2
), scobj AS (
  SELECT a.doc_id, cw.cls, coalesce(p.s, 0) + cw.prior AS score
  FROM aug a
  CROSS JOIN cw
  LEFT JOIN per p ON p.doc_id = a.doc_id AND p.cls = cw.cls
), rk AS (
  SELECT doc_id, cls, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score, cls) AS rn
  FROM scobj
), nb AS (
  SELECT r1.doc_id, r1.cls AS nb_pred,
         CAST(r2.score - r1.score AS BIGINT) AS nb_margin_q
  FROM rk r1 JOIN rk r2 ON r1.doc_id = r2.doc_id AND r2.rn = 2
  WHERE r1.rn = 1
)
SELECT h.doc_id, h.lang, h.pred_lang, nb.nb_pred, nb.nb_margin_q
FROM heur h JOIN nb ON h.doc_id = nb.doc_id
ORDER BY h.doc_id
"""


TEXT_LANGID_ORACLE = _text_langid_oracle()


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics per source: whitespace tokens AND
    BPE-ish pre-tokens (the unit LLM token budgets count) — the
    token-counting pass every training pipeline runs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    bpe = T.bpe_pretokens(F.col("text"))
    return (
        docs.select(
            "source",
            F.size(toks).alias("n_tokens"),
            F.size(bpe).alias("n_bpe"),
            F.col("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            # integer sum / count: exact on both engines (avg() of ints may
            # take a float partial-sum path and land on round boundaries)
            pround(
                F.sum("n_tokens") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


TEXT_TOKEN_STATS_ORACLE = f"""
WITH tok AS (
  SELECT source,
         len({SQL_TOKS}) AS n_tokens,
         len(regexp_extract_all(lower(text),
             '{T.BPE_PRETOKEN_RE.replace(chr(39), chr(39) * 2)}')) AS n_bpe,
         n_chars
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       {sql_pround("sum(n_tokens) / CAST(count(*) AS DOUBLE)", 4)} AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tok
GROUP BY source
ORDER BY source
"""


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SUBWORD token accounting (operators/subword.py):
    greedy longest-match segmentation against the pinned piece
    vocabulary, evaluated once per DISTINCT word and joined back
    (AQE-decided), then one map-side-combinable per-doc aggregate —
    the unit sequence-packing budgets actually bill in, vs the
    whitespace counts of text_token_stats.

    Merged r10 (VERDICT r9 Next #3): BOTH counting strategies run over
    the SAME distinct-word relation and land side-by-side —
    ``n_subwords`` from the expression fold (subword_count) and
    ``n_subwords_join`` from the relational broadcast-hash-join path
    (subword_counts_relational, the 32k-vocabulary scale plan). The
    DuckDB oracle's recursive-CTE walk checks both columns against one
    truth value, so the join strategy is now driver-oracle-checked, not
    only property-pinned to the fold."""
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode_outer(T.tokens(F.col("text"))).alias("_tok")
    )
    distinct = (
        exploded.filter(F.col("_tok").isNotNull()).select("_tok").distinct()
    )
    # the fold is a pure EXPRESSION — evaluate it as a column on the
    # relational path's one-row-per-word output instead of a second
    # branch + 1:1 join (same per-word evaluation count, 3 fewer
    # exchanges)
    words = SW.subword_counts_relational(distinct, SW.SUBWORD_VOCAB).select(
        "_tok",
        SW.subword_count(F.col("_tok")).alias("_n_fold"),
        F.col("n_sub").alias("_n_join"),
    )
    return (
        exploded.join(words, "_tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("_tok")).alias("n_words"),
            F.coalesce(F.sum("_n_fold"), F.lit(0)).alias("_sum_fold"),
            F.coalesce(F.sum("_n_join"), F.lit(0)).alias("_sum_join"),
        )
        .select(
            "doc_id",
            "n_words",
            F.col("_sum_fold").cast("long").alias("n_subwords"),
            F.col("_sum_join").cast("long").alias("n_subwords_join"),
            pround(
                F.when(
                    F.col("n_words") > 0,
                    F.col("_sum_fold") / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("subwords_per_word"),
        )
        .orderBy("doc_id")
    )


def _token_count_bpe_oracle() -> str:
    from tower_parse_spark.operators.subword import sql_subword_walk

    ratio = (
        "CASE WHEN coalesce(p.n_words, 0) > 0"
        " THEN coalesce(p.n_subwords, 0) / CAST(p.n_words AS DOUBLE)"
        " ELSE 0.0 END"
    )
    return f"""
WITH RECURSIVE tokd AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), doctok AS (
  SELECT doc_id, unnest(toks) AS tok FROM tokd
), words AS (
  SELECT DISTINCT tok FROM doctok
), {sql_subword_walk("words")},
per AS (
  SELECT d.doc_id, count(*) AS n_words, sum(s.n_sub) AS n_subwords
  FROM doctok d JOIN subcnt s ON d.tok = s.tok
  GROUP BY d.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(p.n_subwords, 0) AS BIGINT) AS n_subwords,
       -- the fold and the relational join strategy are pinned to ONE
       -- truth: the same CTE walk checks both engine columns
       CAST(coalesce(p.n_subwords, 0) AS BIGINT) AS n_subwords_join,
       {sql_pround(ratio, 4)} AS subwords_per_word
FROM tokd t LEFT JOIN per p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint + exact md5.
    Per-token md5 folds -> ensure_parallelism (r10; no-op at scale)."""
    from tower_parse_spark.session import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = T.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        T.rolling_fingerprint(toks).alias("rolling_fp"),
        F.md5(F.col("text")).alias("md5_fp"),
    ).orderBy("doc_id")


TEXT_FINGERPRINT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents
), hs AS (
  SELECT doc_id, text,
         list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {P}) AS hashes
  FROM tok
)
SELECT doc_id,
       -- NULL text -> NULL fingerprint (Spark's fold over a NULL array);
       -- without the guard list_prepend(0, NULL) -> [0] folds to 0
       CASE WHEN hashes IS NULL THEN NULL
            ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), hashes),
                             (a, b) -> (a * {T.FP_BASE} + b) % {P}) END
         AS rolling_fp,
       md5(text) AS md5_fp
FROM hs
ORDER BY doc_id
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per doc (Rae et al. 2021 §A1.1):
    unique-token ratio, duplicate-trigram fraction, and the fraction of
    bigram slots taken by the single most frequent bigram.

    Scale shape: unique/duplicate fractions are pure array expressions in
    the scan projection (no shuffle); the top-bigram needs per-doc
    grouping, so bigrams explode to (doc_id, bigram) rows — the shuffle
    carries two short strings per bigram, keys are (doc_id, bigram)
    uniform. Doc-level arrays are reduced to scalars BEFORE the join back
    so no token array ever crosses a shuffle boundary. The scan goes
    through ensure_parallelism (r10): the n-gram HOFs are compute-bound
    and the fixture is one split (no-op at real scale)."""
    from tower_parse_spark.session import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
    ).withColumn(
        "_toks", T.tokens(F.col("text"))
    )
    base = docs.select(
        "doc_id",
        F.col("_toks"),
        T.shingles(F.col("_toks"), 2).alias("_bigrams"),
        T.shingles(F.col("_toks"), 3).alias("_trigrams"),
    )
    n_tokens = F.size("_toks")
    n_tri = F.size("_trigrams")
    uniq = F.when(
        n_tokens > 0, F.size(F.array_distinct("_toks")) / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    dup_tri = F.when(
        n_tri > 0,
        F.lit(1.0) - F.size(F.array_distinct("_trigrams")) / n_tri.cast("double"),
    ).otherwise(F.lit(0.0))
    stats = base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        pround(uniq, 4).alias("unique_token_ratio"),
        pround(dup_tri, 4).alias("dup_trigram_frac"),
        F.size("_bigrams").alias("_n_bigrams"),
    )
    # explode_outer + null filter, NOT plain explode: explode makes
    # InferFiltersFromGenerate synthesize size(_bigrams) > 0, which
    # pushdown rebuilds BELOW the staged projections, inlining the
    # tokenization into the per-element shingle lambdas (the decontam
    # round-3 lesson) — measured 29 s -> 2.0 s at sf0.1; the plan test
    # pins the tokenization to one occurrence per scan branch.
    top = (
        base.select("doc_id", F.explode_outer("_bigrams").alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "bigram")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("doc_id", "bigram", "cnt")
    )
    top_frac = F.when(
        F.col("_n_bigrams") > 0,
        F.coalesce(F.col("cnt"), F.lit(0)) / F.col("_n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "unique_token_ratio",
            "dup_trigram_frac",
            F.coalesce(F.col("bigram"), F.lit("")).alias("top_bigram"),
            pround(top_frac, 4).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), base AS (
  SELECT doc_id, toks,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, greatest(len(toks), 1)),
                                  i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bigrams,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, greatest(len(toks) - 1, 1)),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE [] END AS trigrams
  FROM tok
), bgc AS (
  SELECT doc_id, bigram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(bigrams) AS bigram FROM base)
  GROUP BY doc_id, bigram
), top AS (
  SELECT doc_id, bigram, cnt FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY cnt DESC, bigram) AS rn
    FROM bgc
  ) WHERE rn = 1
)
SELECT b.doc_id,
       b.n_tokens,
       {sql_pround(
           "CASE WHEN b.n_tokens > 0 THEN len(list_distinct(b.toks))"
           " / CAST(b.n_tokens AS DOUBLE) ELSE 0.0 END", 4)}
         AS unique_token_ratio,
       {sql_pround(
           "CASE WHEN len(b.trigrams) > 0 THEN 1.0 - len(list_distinct(b.trigrams))"
           " / CAST(len(b.trigrams) AS DOUBLE) ELSE 0.0 END", 4)}
         AS dup_trigram_frac,
       coalesce(t.bigram, '') AS top_bigram,
       {sql_pround(
           "CASE WHEN len(b.bigrams) > 0 THEN coalesce(t.cnt, 0)"
           " / CAST(len(b.bigrams) AS DOUBLE) ELSE 0.0 END", 4)}
         AS top_bigram_frac
FROM base b LEFT JOIN top t USING (doc_id)
ORDER BY doc_id
"""


#: top-k terms kept per document by the TF-IDF ranking
TFIDF_TOP_K = 3


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-k terms by TF-IDF (tf × ln(N/df)) — the keyword /
    topic-signal extraction pass of a corpus-analysis pipeline.

    Scale shape: tf is ONE (doc_id, token) agg, materialized once
    (localCheckpoint — the standard "persist the term-frequency table"
    step; without it Catalyst's distinct-pushdown rewrites the df branch
    into a second full scan+explode of the corpus). df is a map-side
    combinable agg over the materialized tf, VOCABULARY-cardinality —
    which is unbounded at corpus scale (hundreds of millions of
    distinct tokens at 100 TB), so the join back carries NO broadcast
    hint (r12 scale sweep; a hard hint was a driver OOM in waiting):
    AQE broadcasts it while it fits and falls back to a shuffle join —
    with runtime skew-split for stopword-grade tokens — when it
    doesn't. The final top-k is a WindowGroupLimit per
    doc_id. N rides in as a broadcast ONE-ROW aggregate cross join (the
    allowlisted Q22/Q11 scalar-threshold shape — Catalyst folds any
    constant-key equi-join into this anyway) — fully lazy, so plan-only
    paths (--explain, the plan audit, bench's double plan construction)
    never execute a count job."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfrel = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfrel, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            pround(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .orderBy("doc_id", "rank")
    )


TEXT_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         {sql_pround(
             "tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)"
             " / df.df)", 4)} AS tfidf
  FROM tf JOIN df USING (token)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, tf, tfidf, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


#: quality-funnel thresholds (cumulative: each stage ANDs onto the last)
FUNNEL_MIN_TOKENS = 20
FUNNEL_MIN_UNIQUE = 0.35


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-filter funnel: how many docs survive each
    successive pipeline rule (min length -> repetition bound -> langid
    agreement), plus the mean quality score of the survivors — the
    per-stage attrition report every corpus-curation run needs.

    All stage predicates are row-local expressions over one staged
    tokenization; the whole query is one scan + one agg shuffle on
    `source`. Threshold comparisons use the 4-dp pround'd ratio and the
    survivor mean uses 1e4-quantized integer sums, so every decision and
    every sum is bit-identical on both engines (the
    training_data_pipeline pattern)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", T.tokens(F.col("text"))
    )
    feats = T.quality_features(F.col("text"), toks=F.col("_toks"))
    n_tokens = feats["n_tokens"]
    uniq = pround(
        F.when(
            n_tokens > 0,
            F.size(F.array_distinct("_toks")) / n_tokens.cast("double"),
        ).otherwise(F.lit(0.0)),
        4,
    )
    p1 = n_tokens >= FUNNEL_MIN_TOKENS
    p2 = p1 & (uniq >= FUNNEL_MIN_UNIQUE)
    p3 = p2 & (T.predicted_lang(F.col("_toks")) == F.col("lang"))
    staged = docs.select(
        "source",
        p1.cast("int").alias("_p1"),
        p2.cast("int").alias("_p2"),
        p3.cast("int").alias("_p3"),
        F.round(pround(feats["quality_score"], 4) * 10000)
        .cast("long")
        .alias("_q4"),
    )
    n_surv = F.sum("_p3")
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_p1").alias("n_pass_length"),
            F.sum("_p2").alias("n_pass_repetition"),
            F.sum("_p3").alias("n_pass_langid"),
            pround(
                F.when(
                    n_surv > 0,
                    F.sum(F.when(F.col("_p3") == 1, F.col("_q4")).otherwise(0))
                    / 10000.0
                    / n_surv,
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("avg_survivor_quality"),
        )
        .orderBy("source")
    )


def _funnel_langid_hits() -> tuple[str, str]:
    langs = sorted(T.STOPWORDS)
    hits = ", ".join(
        f"{T.sql_stopword_hits('toks', lang)} AS h_{lang}" for lang in langs
    )
    expr = f"'{langs[0]}'"
    best = f"h_{langs[0]}"
    for lang in langs[1:]:
        expr = f"CASE WHEN h_{lang} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({best}, h_{lang})"
    return hits, expr


_FUNNEL_HITS, _FUNNEL_PRED = _funnel_langid_hits()

QUALITY_FUNNEL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, source, text, {SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT source, lang,
         len(toks) AS n_tokens,
         {sql_pround(
             "CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))"
             " / CAST(len(toks) AS DOUBLE) ELSE 0.0 END", 4)} AS uniq,
         {_FUNNEL_PRED} AS pred_lang,
         CAST(round(({sql_pround(
             "0.4 * least(len(toks) / 100.0, 1.0)"
             " + 0.3 * (CASE WHEN len(toks) > 0 THEN "
             + T.sql_stopword_hits('toks', 'en')
             + " / CAST(len(toks) AS DOUBLE) ELSE 0.0 END)"
             " + 0.2 * least((CASE WHEN len(toks) > 0 THEN"
             " length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE)"
             " ELSE 0.0 END) / 8.0, 1.0)"
             " + 0.1 * (1.0 - (CASE WHEN length(text) > 0 THEN"
             " (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
             " / CAST(length(text) AS DOUBLE) ELSE 0.0 END))", 4)}) * 10000)
            AS BIGINT) AS q4
  FROM (SELECT *, {_FUNNEL_HITS} FROM tok)
), stages AS (
  SELECT source,
         CASE WHEN n_tokens >= {FUNNEL_MIN_TOKENS} THEN 1 ELSE 0 END AS p1,
         CASE WHEN n_tokens >= {FUNNEL_MIN_TOKENS}
                   AND uniq >= {FUNNEL_MIN_UNIQUE} THEN 1 ELSE 0 END AS p2,
         CASE WHEN n_tokens >= {FUNNEL_MIN_TOKENS}
                   AND uniq >= {FUNNEL_MIN_UNIQUE}
                   AND pred_lang = lang THEN 1 ELSE 0 END AS p3,
         q4
  FROM feat
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(p1) AS BIGINT) AS n_pass_length,
       CAST(sum(p2) AS BIGINT) AS n_pass_repetition,
       CAST(sum(p3) AS BIGINT) AS n_pass_langid,
       {sql_pround(
           "CASE WHEN sum(p3) > 0 THEN"
           " sum(CASE WHEN p3 = 1 THEN q4 ELSE 0 END) / 10000.0 / sum(p3)"
           " ELSE 0.0 END", 4)} AS avg_survivor_quality
FROM stages
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload decode plumbing: Arrow-batched mapInPandas over an
    opaque bytes column; the stub decoder's metadata is arithmetic on the
    byte length, so the whole distributed pipeline has an exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_payloads(M.with_payload(docs)).orderBy("doc_id")


MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(16 + octet_length(encode(text)) % 64 AS INT) AS width,
       CAST(16 + (octet_length(encode(text)) * 7) % 64 AS INT) AS height,
       CASE octet_length(encode(text)) % 3
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
FROM documents
ORDER BY doc_id
"""


def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pass: decode -> resize -> feature-extract ->
    frame-sample in one Arrow-batched mapInPandas stage; stub arithmetic
    keeps the whole distributed pipeline exactly SQL-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    out = M.process_payloads(M.with_payload(docs))
    return out.select(
        "doc_id",
        "n_bytes",
        "format",
        "resized_bytes",
        F.round(F.aggregate("feat", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "feat_sum"
        ),
        F.element_at("frame_offsets", 2).alias("mid_frame"),
    ).orderBy("doc_id")


MULTIMODAL_PIPELINE_ORACLE = """
WITH m AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         16 + octet_length(encode(text)) % 64 AS width,
         16 + (octet_length(encode(text)) * 7) % 64 AS height,
         CASE octet_length(encode(text)) % 3
              WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
  FROM documents
)
SELECT doc_id, n_bytes, format,
       -- floor, not CAST: Python int() truncates, DuckDB's double->int cast rounds
       CAST(floor(n_bytes * (1024.0 / greatest(width * height, 1))) AS BIGINT)
         AS resized_bytes,
       round(list_sum(list_transform(range(0, 4),
             j -> CAST((n_bytes * (j + 3)) % 97 AS DOUBLE) / 97.0)), 4)
         AS feat_sum,
       CAST(n_bytes // 3 AS BIGINT) AS mid_frame
FROM m
ORDER BY doc_id
"""


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep, composed from the engine's own
    stages: quality scoring -> threshold filter -> exact dedup (survivor
    = min doc_id per text hash) -> per-source corpus stats. One scan,
    one window shuffle on the text hash, one agg shuffle — the composed
    plan the individual queries exercise piecewise.

    The filter compares the 4-dp-rounded (pround) score so the threshold
    decision is bit-identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", T.tokens(F.col("text"))
    )
    feats = T.quality_features(F.col("text"), toks=F.col("_toks"))
    scored = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("text_hash"),
        feats["n_tokens"].alias("n_tokens"),
        pround(feats["quality_score"], 4).alias("q"),
    ).filter(F.col("q") >= 0.5)
    w = W.partitionBy("text_hash").orderBy("doc_id")
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # q is 4-dp quantized after pround: exact integer mean
            pround(
                F.sum(F.round(F.col("q") * 10000).cast("long"))
                / 10000.0
                / F.count(F.lit(1)),
                4,
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


TRAINING_PIPELINE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, text, {SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, source, md5(text) AS text_hash,
         len(toks) AS n_tokens,
         {sql_pround(
             "0.4 * least(len(toks) / 100.0, 1.0)"
             " + 0.3 * (CASE WHEN len(toks) > 0 THEN "
             + T.sql_stopword_hits('toks', 'en')
             + " / CAST(len(toks) AS DOUBLE) ELSE 0.0 END)"
             " + 0.2 * least((CASE WHEN len(toks) > 0 THEN"
             " length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE)"
             " ELSE 0.0 END) / 8.0, 1.0)"
             " + 0.1 * (1.0 - (CASE WHEN length(text) > 0 THEN"
             " (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
             " / CAST(length(text) AS DOUBLE) ELSE 0.0 END))", 4)} AS q
  FROM tok
), scored AS (
  SELECT * FROM feat WHERE q >= 0.5
), survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id)
      AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       {sql_pround(
           "sum(CAST(round(q * 10000) AS BIGINT)) / 10000.0 / count(*)", 4
       )} AS avg_quality
FROM survivors
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Corpus assembly: decontamination, splitting, domain mixing
# ---------------------------------------------------------------------------


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    3-gram hash with a held-out set (docs with doc_id % 25 == 0 play the
    benchmark). n=3 because the synthetic vocabulary is tiny
    (operators/decontam.py::DECONTAM_N documents the production default
    of 8); the plan shape — broadcast benchmark gram set, corpus never
    shuffled — is the 100 TB design under test."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return DC.flag_contaminated(corpus, bench, n=3).orderBy("doc_id")


DECONTAM_ORACLE = f"""
WITH bench AS (
  SELECT text FROM documents WHERE doc_id % 25 = 0
), corp AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
), btok AS (
  SELECT {SQL_TOKS} AS toks FROM bench
), bth AS (
  SELECT {SQL_TOKEN_HASHES_MODP} AS th FROM btok
), bgrams AS (
  SELECT DISTINCT unnest({SQL_SHINGLE_HASHES_COMBINED}) AS g FROM bth
), ctok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM corp
), cth AS (
  SELECT doc_id, {SQL_TOKEN_HASHES_MODP} AS th FROM ctok
), cgrams AS (
  SELECT doc_id, unnest({SQL_SHINGLE_HASHES_COMBINED}) AS g FROM cth
), hits AS (
  SELECT doc_id, count(*) AS n FROM cgrams JOIN bgrams USING (g)
  GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(h.n, 0) > 0 AS contaminated
FROM corp c LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id
"""


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: flag training docs whose MinHash
    signature matches a benchmark doc's on >= 50% of slots (estimated
    Jaccard) — catches reworded leakage the exact n-gram filter misses.
    Same bench split as decontaminate_ngram; the corpus additionally
    carries a lightly-perturbed copy of every benchmark doc (id-shifted,
    two tokens appended) so the fuzzy path is exercised at est < 1 — the
    raw table is near-duplicate-free by construction. The plan broadcasts
    the banded BENCHMARK signatures so the corpus is never shuffled
    (operators/decontam.py::flag_contaminated_fuzzy)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    leaked = bench.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" leaked copy")).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 25 != 0)
        .select("doc_id", "text")
        .unionAll(leaked)
    )
    return DC.flag_contaminated_fuzzy(corpus, bench).orderBy("doc_id")


def _sig_banded_ctes(rel: str, alias: str) -> str:
    """CTE chain ``{alias}_tok .. {alias}_banded`` computing banded
    MinHash signatures over *rel* (same hashing family as
    ``_minhash_pairs_ctes``, parameterized for two-relation joins)."""
    banded_union = " UNION ALL ".join(
        f"SELECT {_band_key_sql(b, D.LSH_ROWS)} AS band_key, doc_id, mh "
        f"FROM {alias}_sig WHERE mh[1] IS NOT NULL"
        for b in range(D.LSH_BANDS)
    )
    # MATERIALIZED: same rationale as _minhash_pairs_ctes — the band
    # union reads the sig relation 4x, and two-relation joins read each
    # banded relation per leg
    return f"""{alias}_tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM {rel}
), {alias}_th AS (
  SELECT doc_id, {SQL_TOKEN_HASHES_MODP} AS th FROM {alias}_tok
), {alias}_hs AS (
  SELECT doc_id, {SQL_SHINGLE_HASHES_COMBINED} AS hs FROM {alias}_th
), {alias}_sig AS MATERIALIZED (
  SELECT doc_id, {_minhash_sql_components()} AS mh FROM {alias}_hs
), {alias}_banded AS MATERIALIZED (
  {banded_union}
)"""


DECONTAM_FUZZY_ORACLE = f"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
), corp AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' leaked copy' AS text
  FROM documents WHERE doc_id % 25 = 0
), {_sig_banded_ctes("corp", "c")}, {_sig_banded_ctes("bench", "b")},
cand AS (
  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid,
         c.mh AS mh1, b.mh AS mh2
  FROM c_banded c JOIN b_banded b USING (band_key)
), scored AS (
  SELECT cid, bid, {_EST_JACCARD_SQL} AS est FROM cand
), hits AS (
  SELECT cid, count(*) AS n, max(est) AS m
  FROM scored WHERE est >= {DC.FUZZY_THRESHOLD}
  GROUP BY cid
)
SELECT corp.doc_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_bench_matches,
       round(coalesce(m, 0.0), 4) AS max_est_jaccard,
       coalesce(n, 0) > 0 AS contaminated
FROM corp LEFT JOIN hits ON corp.doc_id = hits.cid
ORDER BY doc_id
"""


def incremental_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup against the banded signature index
    (operators/dedup.py::incremental_minhash_dedup) — the fuzzy
    counterpart of incremental_exact_dedup. History is represented by
    its (band_key, id, mh) signature relation; the batch is broadcast
    and the index streams. The synthetic batch exercises every verdict:
    novel docs, lightly-perturbed history leaks (``is_dup``), and
    id-shifted replays of batch docs (``in_batch_dup`` via the min-id
    rule). Portable hash family so DuckDB mirrors the signatures."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
        .unionAll(
            hist.filter(F.col("doc_id") % 20 == 1).select(
                (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" leaked copy")).alias("text"),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"), "text"
            )
        )
    )
    index = D.banded_signatures(hist, hash_fn="portable")
    return D.incremental_minhash_dedup(
        batch, index, hash_fn="portable"
    ).orderBy("doc_id")


def _incremental_minhash_oracle() -> str:
    thr = 0.5
    return f"""
WITH hist AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' leaked copy' AS text
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 20 = 1
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 20 = 0
), {_sig_banded_ctes("hist", "h")}, {_sig_banded_ctes("batch", "n")},
cand AS (
  SELECT DISTINCT n.doc_id AS nid, h.doc_id AS hid,
         n.mh AS mh1, h.mh AS mh2
  FROM n_banded n JOIN h_banded h USING (band_key)
), scored AS (
  SELECT nid, hid, {_EST_JACCARD_SQL} AS est FROM cand
), hits AS (
  SELECT nid, count(*) AS nh, max(est) AS m
  FROM scored WHERE est >= {thr} GROUP BY nid
), ib_cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         a.mh AS mh1, b.mh AS mh2
  FROM n_banded a JOIN n_banded b USING (band_key)
  WHERE a.doc_id < b.doc_id
), ib AS (
  SELECT DISTINCT id2
  FROM (SELECT id1, id2, {_EST_JACCARD_SQL} AS est FROM ib_cand)
  WHERE est >= {thr}
)
SELECT b.doc_id,
       CAST(coalesce(nh, 0) AS BIGINT) AS n_hist_matches,
       round(coalesce(m, 0.0), 4) AS max_est_jaccard,
       coalesce(nh, 0) > 0 AS is_dup,
       ib.id2 IS NOT NULL AS in_batch_dup
FROM batch b LEFT JOIN hits ON b.doc_id = hits.nid
             LEFT JOIN ib ON b.doc_id = ib.id2
ORDER BY b.doc_id
"""


INCREMENTAL_MINHASH_ORACLE = _incremental_minhash_oracle()


#: train/val/test weights for the split query (cumulative bucket edges
#: 8000/9000 of sampling.N_BUCKETS — exact integers on both engines)
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test assignment, reported as
    per-(source, split) counts — the reproducible-split primitive every
    training pipeline needs (operators/sampling.py::with_split). Pure
    row-local md5 arithmetic: no shuffle beyond the final small agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        SP.with_split(docs, weights=_SPLIT_WEIGHTS)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


TRAIN_VAL_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT source, n_chars,
         {SP.sql_hash_bucket("doc_id", "split")} AS bucket
  FROM documents
), s AS (
  SELECT source, n_chars,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT source, split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s
GROUP BY source, split
ORDER BY source, split
"""


def split_leakage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: after the deterministic train/val/test
    split, flag TRAIN documents that are near-duplicates of an eval-side
    (val/test) document — the QA step that catches eval contamination
    introduced by corpus duplicates straddling the split boundary. Pure
    composition of two verified operators: sampling.with_split assigns
    splits row-locally, then decontam.flag_contaminated_fuzzy treats the
    eval side as the "benchmark" (banded signatures broadcast, the train
    corpus never shuffled). Broadcasting the eval side is valid at
    fixture scale, but with 80/10/10 weights eval is ~20% of the corpus
    — only 4× smaller than train — so at full corpus scale this audit
    must either run on a SAMPLED eval side or swap the broadcast for a
    shuffle equi-join on the band key (same banded relations, join hint
    dropped). The duplicate-free fixture gets planted leaks: every
    seventh doc re-enters id-shifted with two appended tokens, and the
    copies hash into splits independently of their originals, so some
    straddle the boundary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.unionAll(
        docs.filter(F.col("doc_id") % 7 == 3).select(
            (F.col("doc_id") + F.lit(500_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" replayed copy")).alias("text"),
        )
    )
    split = SP.with_split(aug, weights=_SPLIT_WEIGHTS)
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    evals = split.filter(F.col("split") != "train").select("doc_id", "text")
    return DC.flag_contaminated_fuzzy(train, evals).orderBy("doc_id")


SPLIT_LEAKAGE_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, text || ' replayed copy' AS text
  FROM documents WHERE doc_id % 7 = 3
), sp AS (
  SELECT doc_id, text,
         {SP.sql_hash_bucket("doc_id", "split")} AS bucket
  FROM aug
), corp AS (
  SELECT doc_id, text FROM sp WHERE bucket < 8000
), bench AS (
  SELECT doc_id, text FROM sp WHERE bucket >= 8000
), {_sig_banded_ctes("corp", "c")}, {_sig_banded_ctes("bench", "b")},
cand AS (
  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid,
         c.mh AS mh1, b.mh AS mh2
  FROM c_banded c JOIN b_banded b USING (band_key)
), scored AS (
  SELECT cid, bid, {_EST_JACCARD_SQL} AS est FROM cand
), hits AS (
  SELECT cid, count(*) AS n, max(est) AS m
  FROM scored WHERE est >= {DC.FUZZY_THRESHOLD}
  GROUP BY cid
)
SELECT corp.doc_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_bench_matches,
       round(coalesce(m, 0.0), 4) AS max_est_jaccard,
       coalesce(n, 0) > 0 AS contaminated
FROM corp LEFT JOIN hits ON corp.doc_id = hits.cid
ORDER BY doc_id
"""


#: per-source keep rates for the domain-mixing query; unlisted sources
#: keep everything (default_rate=1.0)
_MIX_RATES = {"src0": 0.2, "src1": 0.5, "src2": 0.8}


def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: deterministic per-source Bernoulli downsampling via
    salted hash buckets (operators/sampling.py::stratified_downsample) —
    a pure filter that rides the parquet scan; reported as per-source
    kept counts."""
    docs = load_table(spark, sf_dir, "documents")
    kept = SP.stratified_downsample(docs, _MIX_RATES)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("source")
    )


def _mix_rate_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{name}' THEN {int(round(r * SP.N_BUCKETS))}"
        for name, r in sorted(_MIX_RATES.items())
    )
    return f"CASE {arms} ELSE {SP.N_BUCKETS} END"


DOMAIN_MIX_ORACLE = f"""
WITH b AS (
  SELECT source, n_chars,
         {SP.sql_hash_bucket("doc_id", "mix")} AS bucket
  FROM documents
)
SELECT source,
       count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM b
WHERE bucket < {_mix_rate_sql()}
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# PII redaction + chunking
# ---------------------------------------------------------------------------


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (the corpus is
    PII-free word salad, so both engines inject identical emails/phones/
    IPs derived from doc_id — the redaction regexes then do real work)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    email = F.when(
        d % 3 == 0,
        F.concat(F.lit(" contact user"), d, F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 5 == 0,
        F.concat(
            F.lit(" call +1 555-010-"), F.lpad((d % 10000).cast("string"), 4, "0")
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" host 10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            (d % 100).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, phone, ip).alias("text")
    )


_SQL_DOCS_WITH_PII = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1 555-010-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' host 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
                 ELSE '' END AS text
  FROM documents
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails/phones/IPs (functions/pii.py) —
    3 regexp executions per row, all JVM-side, zero shuffle beyond the
    final sort. The redacted text is fingerprinted (not returned whole)
    to keep the verified output compact."""
    from tower_parse_spark.functions import pii

    aug = _docs_with_pii(spark, sf_dir)
    counts = pii.pii_counts(F.col("text"))
    red = pii.redact_pii(F.col("text"))
    return aug.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        F.length(red).alias("n_redacted_chars"),
        F.substring(F.md5(red), 1, 16).alias("redacted_fp"),
    ).orderBy("doc_id")


def _pii_oracle() -> str:
    from tower_parse_spark.functions import pii

    cols = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in pii.sql_counts("text").items()
    )
    red = pii.sql_redact("text")
    return f"""
WITH aug AS ({_SQL_DOCS_WITH_PII})
SELECT doc_id,
       {cols},
       length({red}) AS n_redacted_chars,
       substr(md5({red}), 1, 16) AS redacted_fp
FROM aug
ORDER BY doc_id
"""


TEXT_PII_ORACLE = _pii_oracle()

#: chunking geometry: 32-token chunks every 24 tokens (8-token overlap)
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (the context-window prep step):
    stage tokens once, generate start offsets arithmetically, posexplode
    to one row per chunk, fingerprint each chunk. Explode fan-out is
    bounded (~n_tokens/stride per doc); the chunk geometry itself adds
    no shuffle until the final sort — at 100 TB chunking is a pure map
    stage.

    Since r9 every chunk is ALSO billed in subword units
    (``n_chunk_subwords`` — the unit a context-window budget actually
    spends): operators/subword.py::token_subword_arrays folds once per
    DISTINCT word and reassembles a position-aligned per-doc count
    array, and each chunk's subword total is then row-local
    slice-and-sum arithmetic — overlapping windows never re-run the
    fold or shuffle per chunk."""
    from tower_parse_spark.operators import subword as SW

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    ).withColumn("starts", T.chunk_starts(F.col("toks"), CHUNK_STRIDE))
    subs = SW.token_subword_arrays(staged, "doc_id", "toks")
    ch = staged.join(subs, "doc_id").select(
        "doc_id",
        "toks",
        "subs",
        F.posexplode("starts").alias("chunk_idx", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    sub_chunk = F.slice(F.col("subs"), F.col("start"), CHUNK_TOKENS)
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.aggregate(
            sub_chunk, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("n_chunk_subwords"),
        F.substring(F.md5(F.concat_ws(" ", chunk)), 1, 16).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")


def _doc_chunking_oracle() -> str:
    from tower_parse_spark.operators.subword import sql_subword_walk

    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), doctok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM tok
), postok AS (
  SELECT doc_id, pos, toks[CAST(pos AS INT)] AS tok FROM doctok
), words AS (
  SELECT DISTINCT tok FROM postok
), {sql_subword_walk("words")},
subs AS (
  SELECT p.doc_id, list(s.n_sub ORDER BY p.pos) AS subs
  FROM postok p JOIN subcnt s ON s.tok = p.tok
  GROUP BY p.doc_id
), ch AS (
  SELECT t.doc_id, t.toks, sb.subs,
         unnest(range(1, len(t.toks) + 1, {CHUNK_STRIDE})) AS start
  FROM tok t LEFT JOIN subs sb ON sb.doc_id = t.doc_id
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       len(toks[start : start + {CHUNK_TOKENS - 1}]) AS n_chunk_tokens,
       CAST(list_sum(subs[start : start + {CHUNK_TOKENS - 1}]) AS BIGINT)
         AS n_chunk_subwords,
       substr(md5(array_to_string(toks[start : start + {CHUNK_TOKENS - 1}],
                                  ' ')), 1, 16) AS chunk_fp
FROM ch
ORDER BY doc_id, chunk_idx
"""


DOC_CHUNKING_ORACLE = _doc_chunking_oracle()


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): every document's
    span in the fixed-length training-sequence space, computed per
    hash shard with ONE window cumulative sum — a single shuffle on the
    shard key, no explode (operators/seqpack.py::pack_sequences).
    ``n_seqs`` > 1 marks context-boundary straddlers. Since r9 the
    spans are billed in BOTH units side-by-side — whitespace tokens
    (unchanged columns) and subword pieces (``n_subwords`` / ``sub_*``,
    the unit production budgets actually use) — from one exploded-token
    pass and one shared shard window."""
    docs = load_table(spark, sf_dir, "documents")
    return SQ.pack_sequences(
        docs, subword_vocab=SW.SUBWORD_VOCAB
    ).orderBy("doc_id")


SEQUENCE_PACKING_ORACLE = f"""
WITH RECURSIVE {SQ.sql_pack_sequences_subword("documents", SQL_TOKS)}
SELECT doc_id,
       CAST(shard AS BIGINT) AS shard,
       n_tokens,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(first_seq AS BIGINT) AS first_seq,
       CAST(last_seq AS BIGINT) AS last_seq,
       CAST(last_seq - first_seq + 1 AS BIGINT) AS n_seqs,
       n_subwords,
       CAST(sub_start_off AS BIGINT) AS sub_start_off,
       CAST(sub_first_seq AS BIGINT) AS sub_first_seq,
       CAST(sub_last_seq AS BIGINT) AS sub_last_seq,
       CAST(sub_last_seq - sub_first_seq + 1 AS BIGINT) AS sub_n_seqs
FROM packed
ORDER BY doc_id
"""


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document passage dedup (VERDICT r5 item 3): per-doc duplicate-
    passage fraction + the deduplicated text rebuilt from globally-first
    passage occurrences. See operators/dedup.py::passage_dedup for the
    scale shape (min-struct canonical agg — map-side combinable — instead
    of a window that would funnel a hot boilerplate hash into one task)."""
    docs = load_table(spark, sf_dir, "documents")
    out = D.passage_dedup(docs)
    return out.select(
        "doc_id",
        "n_passages",
        "n_dup_passages",
        pround(F.col("dup_frac"), 4).alias("dup_frac"),
        "dedup_text",
    ).orderBy("doc_id")


_PT = D.PASSAGE_TOKENS

DEDUP_PASSAGES_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), pass AS (
  SELECT doc_id, s,
         array_to_string(toks[s : s + {_PT - 1}], ' ') AS ptext
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1, {_PT})) AS s
        FROM tok)
), marked AS (
  SELECT doc_id, s, ptext,
         row_number() OVER (PARTITION BY md5(ptext)
                            ORDER BY doc_id, s) AS rn
  FROM pass
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dup_passages,
       {sql_pround(
           "CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS DOUBLE)"
           " / count(*)", 4)} AS dup_frac,
       coalesce(string_agg(CASE WHEN rn = 1 THEN ptext END, ' '
                           ORDER BY s), '') AS dedup_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


#: exactly 2 × PASSAGE_TOKENS lowercase tokens, so the prepended header
#: occupies two whole passage windows and every body window stays
#: aligned with the unaugmented tokenization
_BOILER_HEADER = (
    "this document is provided as is without any warranty of "
    "any kind either express or implied including fitness for purpose"
)
_BOILER_MIN_DF = 5


def boilerplate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (C4 / RefinedWeb rule): a
    passage appearing in >= min_doc_freq DISTINCT documents is dropped
    from ALL of them — the complement of dedup_passages' keep-first
    semantics (operators/dedup.py::boilerplate_removal for the scale
    shape: countDistinct doc-frequency agg, threshold-filtered join-back).
    The duplicate-free fixture gets synthetic template text: every third
    doc is prepended with a fixed 20-token disclaimer, whose two aligned
    passage windows then exceed the frequency bar everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER_HEADER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = D.boilerplate_removal(aug, min_doc_freq=_BOILER_MIN_DF)
    return out.select(
        "doc_id",
        "n_passages",
        "n_boiler_passages",
        pround(F.col("boiler_frac"), 4).alias("boiler_frac"),
        "clean_text",
    ).orderBy("doc_id")


BOILERPLATE_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '{_BOILER_HEADER} ' || text ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM aug
), pass AS (
  SELECT doc_id, s,
         array_to_string(toks[s : s + {_PT - 1}], ' ') AS ptext
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1, {_PT})) AS s
        FROM tok)
), freq AS (
  SELECT md5(ptext) AS ph, count(DISTINCT doc_id) AS dfreq
  FROM pass GROUP BY 1
), marked AS (
  SELECT p.doc_id, p.s, p.ptext, f.dfreq >= {_BOILER_MIN_DF} AS boiler
  FROM pass p JOIN freq f ON md5(p.ptext) = f.ph
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_passages,
       {sql_pround(
           "CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS DOUBLE)"
           " / count(*)", 4)} AS boiler_frac,
       coalesce(string_agg(CASE WHEN NOT boiler THEN ptext END, ' '
                           ORDER BY s), '') AS clean_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (the daily-ingest shape, VERDICT r5): a
    NEW batch is deduped in-batch then anti-joined against the historical
    hash INDEX — yesterday's corpus never re-scans
    (operators/dedup.py::incremental_exact_dedup).

    The synthetic batch makes every failure mode visible on the
    duplicate-free fixture: history = docs with ``doc_id % 4 != 0``;
    the batch = the remaining docs, plus id-shifted replays of history
    docs (must be removed by the history anti-join; two shift levels so
    the in-batch stage sees them too), plus id-shifted copies of batch
    docs (must be removed by IN-BATCH dedup — their texts are absent
    from history)."""
    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 4 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .unionAll(
            history.filter(F.col("doc_id") % 8 == 1).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1_000_000)
            )
        )
        .unionAll(
            history.filter(F.col("doc_id") % 16 == 1).withColumn(
                "doc_id", F.col("doc_id") + F.lit(2_000_000)
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 8 == 4).withColumn(
                "doc_id", F.col("doc_id") + F.lit(3_000_000)
            )
        )
    )
    index = history.select(F.md5(F.col("text")).alias("text_hash")).distinct()
    out = D.incremental_exact_dedup(batch, index)
    return out.select("doc_id", "source", "text_hash").orderBy("doc_id")


INCREMENTAL_DEDUP_ORACLE = """
WITH batch AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000, source, text FROM documents
  WHERE doc_id % 4 != 0 AND doc_id % 8 = 1
  UNION ALL
  SELECT doc_id + 2000000, source, text FROM documents
  WHERE doc_id % 4 != 0 AND doc_id % 16 = 1
  UNION ALL
  SELECT doc_id + 3000000, source, text FROM documents WHERE doc_id % 8 = 4
), hashed AS (
  SELECT doc_id, source, md5(text) AS text_hash,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM batch
), hist AS (
  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 4 != 0
)
SELECT doc_id, source, text_hash
FROM hashed h
WHERE rn = 1
  AND NOT EXISTS (SELECT 1 FROM hist WHERE hist.text_hash = h.text_hash)
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": Query(dedup_exact, DEDUP_EXACT_ORACLE, "exact hash dedup"),
    "dedup_passages": Query(
        dedup_passages,
        DEDUP_PASSAGES_ORACLE,
        "sub-document passage dedup (dup fraction + rebuilt text)",
    ),
    "boilerplate_removal": Query(
        boilerplate_query,
        BOILERPLATE_ORACLE,
        "corpus-frequency boilerplate passage removal",
    ),
    "incremental_exact_dedup": Query(
        incremental_dedup_batch,
        INCREMENTAL_DEDUP_ORACLE,
        "new-batch dedup against the historical hash index",
    ),
    "incremental_minhash_dedup": Query(
        incremental_minhash_query,
        INCREMENTAL_MINHASH_ORACLE,
        "new-batch NEAR-dup against the banded signature index",
    ),
    "dedup_minhash_lsh": Query(
        dedup_minhash_lsh, DEDUP_MINHASH_ORACLE, "MinHash+LSH near-dup"
    ),
    "dedup_simhash": Query(dedup_simhash, DEDUP_SIMHASH_ORACLE, "SimHash fingerprint"),
    "source_overlap_minhash": Query(
        source_overlap_minhash,
        SOURCE_OVERLAP_ORACLE,
        "pairwise source overlap via merged MinHash sketches",
    ),
    "dedup_ngram_jaccard": Query(
        dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE, "n-gram Jaccard near-dup"
    ),
    "dedup_embedding_cosine": Query(
        dedup_embedding_cosine, DEDUP_EMB_COS_ORACLE, "embedding-cosine near-dup"
    ),
    "dedup_cluster_resolution": Query(
        dedup_cluster_resolution,
        DEDUP_CLUSTERS_ORACLE,
        "pairs -> connected components -> survivors",
    ),
    "ann_cosine_topk": Query(ann_cosine_topk, ANN_TOPK_ORACLE, "brute-force ANN"),
    "ann_lsh_topk": Query(ann_lsh_topk, ANN_LSH_ORACLE, "hyperplane-LSH ANN"),
    "ann_ivf_topk": Query(ann_ivf_topk, ANN_IVF_ORACLE, "IVF inverted-list ANN"),
    "ann_ivfpq_topk": Query(
        ann_ivfpq_topk, ANN_IVFPQ_ORACLE, "IVF-PQ compressed-code ADC ANN"
    ),
    "embedding_cluster_stats": Query(
        embedding_cluster_stats,
        EMB_CLUSTER_STATS_ORACLE,
        "per-cluster size / mean norm / label purity",
    ),
    "text_quality": Query(text_quality, TEXT_QUALITY_ORACLE, "quality scoring"),
    "text_langid": Query(
        text_langid,
        TEXT_LANGID_ORACLE,
        "language ID: stopword heuristic + trained char-n-gram NB",
    ),
    "text_token_stats": Query(
        text_token_stats, TEXT_TOKEN_STATS_ORACLE, "token counting"
    ),
    "token_count_bpe": Query(
        token_count_bpe,
        _token_count_bpe_oracle(),
        "greedy longest-match subword token accounting per document",
    ),
    "text_fingerprint": Query(
        text_fingerprint, TEXT_FINGERPRINT_ORACLE, "rolling-hash fingerprint"
    ),
    "multimodal_decode": Query(
        multimodal_decode, MULTIMODAL_ORACLE, "binary decode plumbing"
    ),
    "multimodal_pipeline": Query(
        multimodal_pipeline,
        MULTIMODAL_PIPELINE_ORACLE,
        "decode->resize->features->frames, one Arrow pass",
    ),
    "training_data_pipeline": Query(
        training_data_pipeline,
        TRAINING_PIPELINE_ORACLE,
        "quality filter -> exact dedup -> corpus stats, composed",
    ),
    "decontaminate_ngram": Query(
        decontaminate_ngram,
        DECONTAM_ORACLE,
        "benchmark n-gram decontamination",
    ),
    "decontaminate_fuzzy": Query(
        decontaminate_fuzzy,
        DECONTAM_FUZZY_ORACLE,
        "MinHash-LSH fuzzy benchmark decontamination",
    ),
    "train_val_split": Query(
        train_val_split, TRAIN_VAL_SPLIT_ORACLE, "deterministic hash split"
    ),
    "split_leakage_check": Query(
        split_leakage_query,
        SPLIT_LEAKAGE_ORACLE,
        "cross-split fuzzy leakage audit (train vs eval near-dups)",
    ),
    "domain_mix_sample": Query(
        domain_mix_sample, DOMAIN_MIX_ORACLE, "per-source deterministic downsample"
    ),
    "text_pii_redact": Query(
        text_pii_redact, TEXT_PII_ORACLE, "PII detect + redact (email/phone/IP)"
    ),
    "doc_chunking": Query(
        doc_chunking, DOC_CHUNKING_ORACLE, "overlapping token-window chunking"
    ),
    "sequence_packing": Query(
        sequence_packing,
        SEQUENCE_PACKING_ORACLE,
        "fixed-length training-sequence packing (concat-and-chunk)",
    ),
    "text_repetition": Query(
        text_repetition,
        TEXT_REPETITION_ORACLE,
        "Gopher-style repetition signals (unique-token / dup-trigram / top-bigram)",
    ),
    "text_tfidf_topterms": Query(
        text_tfidf_topterms, TEXT_TFIDF_ORACLE, "per-doc top-k terms by TF-IDF"
    ),
    "quality_filter_funnel": Query(
        quality_filter_funnel,
        QUALITY_FUNNEL_ORACLE,
        "per-source survivor counts through cumulative quality rules",
    ),
}
