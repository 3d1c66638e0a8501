"""Product quantization (PQ) for embedding columns.

PQ (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) compresses a d-dim vector to M small codes: split
the vector into M subspaces of d/M dims, quantize each sub-vector to its
nearest of K sub-centroids, keep only the M code ids. At 10^9+ vectors
this is the difference between scanning 4*d bytes and M bytes per row
(32x for d=64, M=8, K=16) — the scan-side compression that makes wide
candidate sets affordable after coarse (IVF) pruning; `ivfpq_topk`
composes both, the FAISS-style IVFADC layout.

Scoring is ADC (asymmetric distance computation): the probe stays
uncompressed; per probe an (M*K)-entry table of per-subspace partial
squared-L2 distances is staged ONCE, and scoring a corpus row is M table
reads + M adds over its codes — no vector arithmetic per pair.

Codebooks default to a deterministic integer lattice scaled into the
data range (seedless, ANSI-SQL-reproducible — the oracle-checked path);
:func:`pq_train_codebooks` runs per-subspace Lloyd iterations for
deployments that train on the corpus (same driver-state posture as
similarity.kmeans_centroids: the driver only ever holds M*K*(d/M)
floats).

Parity notes (the repo-wide contract): every per-subspace dot rides the
single-fold multi-accumulator traversal (vectors.multi_dot_lit) whose
accumulators keep the 0.0-seeded index-ascending summation, so each dot
is bit-identical to DuckDB's independent ``list_sum(list_transform(...))``;
codebook self-squares are folded driver-side and embedded as literals in
BOTH engines; argmin tie-break is first-minimum on both
(array_position/list_position).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tower_parse_spark.functions.vectors import as_double, multi_dot_lit, norm
from tower_parse_spark.operators.similarity import (
    IVF_K,
    IVF_NPROBE,
    _cosine_rank,
    _explode_probe_cells,
    _with_centroid_scores,
    assign_cells,
    lattice_centroids,
)

#: subspaces (codes per vector) and sub-centroids per subspace
PQ_M = 8
PQ_K = 16

#: lattice scale — the raw ((..) % 17 - 8) lattice spans [-8, 8]; the
#: embedding fixtures (and typical normalized embeddings) live in ~[-1, 1],
#: so sub-centroids are scaled into the data range.
PQ_SCALE = 0.1


def pq_subcentroid(sub_dim: int, m: int, c: int) -> list[float]:
    """Deterministic sub-centroid c of subspace m: an integer lattice
    decorrelated from the IVF/LSH lattices ((i*41 + c*23 + m*13) mod 17
    - 8), scaled by PQ_SCALE. Seedless and reproducible in ANSI SQL.

    The modulus must exceed PQ_K: 23 is invertible mod 17, so the K=16
    codes of a subspace are pairwise-distinct sub-centroids (a modulus
    below K silently aliases codes — c*23 mod 11 collapsed 16 codes to
    11 in the first cut, caught by the round-trip test)."""
    return [
        float((i * 41 + c * 23 + m * 13) % 17 - 8) * PQ_SCALE
        for i in range(sub_dim)
    ]


def lattice_codebooks(
    dim: int, m_sub: int = PQ_M, k_codes: int = PQ_K
) -> list[list[list[float]]]:
    """codebooks[m][c] = sub-centroid vector (dim/m_sub long)."""
    if dim % m_sub != 0:
        # a truncating dim//m_sub would leave the trailing dims out of the
        # codes while qsq folds the full vector — silently biased ADC
        raise ValueError(
            f"PQ requires dim divisible by m_sub: dim={dim}, m_sub={m_sub}"
        )
    sd = dim // m_sub
    return [
        [pq_subcentroid(sd, m, c) for c in range(k_codes)]
        for m in range(m_sub)
    ]


def _subspace_dots(
    df: DataFrame,
    vec_colname: str,
    codebooks: list[list[list[float]]],
    with_self_sq: bool = False,
) -> DataFrame:
    """Stage per-subspace dot arrays ``_pqd0.._pqd{M-1}`` (each K wide;
    K+1 with the subspace self-square when *with_self_sq*): one
    K-accumulator fold per sliced sub-vector. A sliced fold's sums are
    bit-identical to a zero-padded full-dim fold (adding 0.0 is exact),
    but the plan literals shrink M-fold (1,024 vs 8,192 doubles at
    d=64/M=8/K=16) — eager per-withColumn analysis of the giant literal
    tree was ~70% of the query's driver time. All M staged columns land
    in ONE withColumns call (one analysis pass, not M)."""
    sd = len(codebooks[0][0])
    # SQL-text form of the sliced sub-vector -> multi_dot_lit's
    # one-parse fast path (r11): the M fold trees used to cost ~85 ms
    # of py4j each at every plan construction (~1.5 s of
    # ann_ivfpq_topk's driver time); as text the whole fold is one
    # memoized F.expr parse, node-identical to the Column form
    return df.withColumns(
        {
            f"_pqd{m}": multi_dot_lit(
                f"slice(`{vec_colname}`, {m * sd + 1}, {sd})",
                book,
                with_self_sq=with_self_sq,
            )
            for m, book in enumerate(codebooks)
        }
    )


def _csq(codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Driver-side sub-centroid squared norms, 0.0-seeded left fold —
    embedded as literals in both engines so parity is by construction."""
    out = []
    for book in codebooks:
        row = []
        for cent in book:
            acc = 0.0
            for x in cent:
                acc = acc + float(x) * float(x)
            row.append(acc)
        out.append(row)
    return out


def with_pq_codes(
    df: DataFrame,
    vec_colname: str,
    dim: int,
    codebooks: list[list[list[float]]] | None = None,
    out: str = "codes",
) -> DataFrame:
    """Encode: codes[m] = argmin_c L2^2(sub_v_m, codebook[m][c]), 0-based.

    The per-subspace self-square ||sub_v||^2 is constant across the K
    candidates, so the argmin only needs ||c||^2 - 2<sub_v, c> — no
    self-square fold at all. All M*K dots are ONE staged traversal; the
    per-subspace distance arrays are staged as named columns so the
    argmin's double reference (array_position + array_min) re-reads
    cheap slots, never re-runs the fold."""
    books = codebooks if codebooks is not None else lattice_codebooks(dim)
    m_sub, k_codes = len(books), len(books[0])
    csq = _csq(books)
    df = _subspace_dots(df, vec_colname, books)
    # the wide constant-minus-slot arrays enter the plan via ONE SQL
    # parse each (the lit_matrix lesson): building them element-wise
    # costs ~4 py4j round-trips per entry — ~1.5 s of driver time per
    # plan at M*K=128 — for bit-identical expressions
    df = df.withColumns(
        {
            f"_pqdist{m}": F.expr(
                "array("
                + ",".join(
                    f"CAST({csq[m][c]!r} AS DOUBLE) - 2.0D * _pqd{m}[{c}]"
                    for c in range(k_codes)
                )
                + ")"
            )
            for m in range(m_sub)
        }
    )
    codes = F.expr(
        "array("
        + ",".join(
            f"CAST(array_position(_pqdist{m}, array_min(_pqdist{m})) - 1"
            " AS INT)"
            for m in range(m_sub)
        )
        + ")"
    )
    return df.withColumn(out, codes).drop(
        *[f"_pqd{m}" for m in range(m_sub)],
        *[f"_pqdist{m}" for m in range(m_sub)],
    )


def with_adc_table(
    df: DataFrame,
    vec_colname: str,
    dim: int,
    codebooks: list[list[list[float]]] | None = None,
    out: str = "pt",
    out_qsq: str = "qsq",
) -> DataFrame:
    """Stage the probe's ADC lookup table: pt[m*K + c] = ||c||^2 -
    2<sub_q_m, c> (the code-dependent part of the squared L2), plus
    qsq = ||q||^2 as its own FULL-vector fold — not a sum of the
    per-subspace partials, which would group the additions differently
    from the oracle's single list_sum and break bit parity. True
    distance to a row with codes[] is then qsq + sum_m pt[...]."""
    books = codebooks if codebooks is not None else lattice_codebooks(dim)
    m_sub, k_codes = len(books), len(books[0])
    csq = _csq(books)
    df = _subspace_dots(df, vec_colname, books)
    # one SQL parse for the M*K-entry table (see with_pq_codes)
    pt = F.expr(
        "array("
        + ",".join(
            f"CAST({csq[m][c]!r} AS DOUBLE) - 2.0D * _pqd{m}[{c}]"
            for m in range(m_sub)
            for c in range(k_codes)
        )
        + ")"
    )
    qsq = F.aggregate(
        F.transform(F.col(vec_colname), lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return df.withColumns({out: pt, out_qsq: qsq}).drop(
        *[f"_pqd{m}" for m in range(m_sub)]
    )


def adc_distance(codes_col, pt_col, qsq_col, m_sub: int = PQ_M, k_codes: int = PQ_K):
    """Approximate squared L2 from codes + staged table: M element reads
    + M adds.

    Deliberately UNROLLED over the M (small, fixed) subspaces instead of
    a zip_with/aggregate fold: the interpreted HOF fold cost ~16 us per
    pair at the O(pairs) scoring stage — 40x the codegen'd flat sum
    (measured: the 1.6M-pair smoke dropped 43 s -> ~4 s). This is the
    inverse of the round-4 no-unrolling lesson, which applies to
    dim-wide (64+) folds whose unrolled trees blow up planning; M=8
    element reads stay tiny. The add order keeps the oracle's grouping:
    qsq + ((((0 + t_0) + t_1) + ...) — qsq OUTSIDE the 0.0-seeded
    ascending partial sum, exactly DuckDB's qsq + list_sum([...])."""
    s = F.lit(0.0)
    for m in range(m_sub):
        s = s + F.element_at(
            pt_col, F.lit(m * k_codes + 1) + codes_col[m]
        )
    return qsq_col + s


def with_cell_means(
    assigned: DataFrame,
    vec_colname: str,
    dim: int,
    cell_col: str = "cell",
    out: str = "mean_v",
) -> DataFrame:
    """Per-cell element-wise mean vectors, computed with 1e-4-quantized
    INTEGER sums: ``mean[i] = sum(round(v[i]*10^4)::long) / 10^4 / n``.
    Integer addition is associative, so the result is bit-identical
    across partitionings AND engines (the repo's quantize-then-sum
    parity rule) — unlike a double ``avg()``, whose partial-sum order
    would perturb the residuals and flip near-tie PQ argmins.

    One map-side-combined aggregation onto ~IVF_K rows; the output is
    broadcast-sized regardless of corpus size.

    ALL dim aggregate expressions enter the plan via ONE F.expr SQL
    parse — ``array(sum(...), sum(...), ...)`` as a single aggregate
    column — and the mean division is one ``transform`` over it (the
    lit_matrix lesson, finished in r12: a first application of it still
    parsed the dim sums as 64 SEPARATE F.expr calls at ~8 ms each,
    which profiling showed was ~0.5 s — the dominant remaining share of
    ann_ivfpq_topk's plan-construction time)."""
    v = vec_colname
    sums = F.expr(
        "array("
        + ",".join(
            f"sum(CAST(round({v}[{i}] * 10000) AS BIGINT))"
            for i in range(dim)
        )
        + ")"
    ).alias("_s")
    g = assigned.groupBy(cell_col).agg(F.expr("count(1)").alias("_n"), sums)
    mean = F.expr("transform(_s, s -> s / 10000.0D / _n)")
    return g.select(cell_col, mean.alias(out))


def with_residual(
    df: DataFrame,
    vec_colname: str,
    means: DataFrame,
    cell_col: str = "cell",
    out: str = "rv",
) -> DataFrame:
    """Attach the cell-relative residual ``out[i] = v[i] - mean_v[i]``
    via a broadcast join on the (tiny) per-cell mean table. LEFT join
    with a ZERO-MEAN fallback: a row whose cell has no mean entry keeps
    its RAW vector as the residual. Matters for a probe of a cell no
    corpus row fell in (each probe is exploded over its nprobe best
    cells, occupied or not): its ADC table would otherwise be NULL, and
    NULL distances rank FIRST (ascending) and displace real neighbors.
    ADC on such cells is plain (non-residual) PQ — consistent and
    deterministic."""
    return (
        df.join(F.broadcast(means), cell_col, "left")
        .withColumn(
            out,
            F.when(F.col("mean_v").isNull(), F.col(vec_colname)).otherwise(
                F.zip_with(
                    F.col(vec_colname), F.col("mean_v"), lambda a, b: a - b
                )
            ),
        )
        .drop("mean_v")
    )


def _normed(df: DataFrame, col: str) -> DataFrame:
    """L2-normalize an array column in place; zero/NULL vectors become
    NULL (the malformed-vector cell-0 path). The norm fold is STAGED
    once: referencing it from inside the per-element transform lambda
    re-reads a slot, never re-folds."""
    df = df.withColumn("_nrm", norm(F.col(col)))
    return df.withColumn(
        col,
        F.when(
            F.col("_nrm") > 0,
            F.transform(F.col(col), lambda x: x / F.col("_nrm")),
        ),
    ).drop("_nrm")


def encode_ivfpq(
    corpus: DataFrame,
    dim: int,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    residual: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """The IVF-PQ corpus side of :func:`ivfpq_topk`: (normalize ->)
    assign cells ->
    (residual vs cell means ->) PQ-encode. Returns ``(encoded, means)``
    where encoded = (id, cell, codes) behind a materialization barrier
    and means is the per-cell mean table (None when residual=False)."""
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("cv"))
    if normalize:
        c = _normed(c, "cv")
    c = assign_cells(c, "cv", centroids, out="cell")
    means = None
    if residual:
        # barrier BEFORE the means agg: the assigned corpus feeds two
        # consumers (the per-cell mean aggregation and the residual
        # encode), and without it the normalize + (k+1)-accumulator
        # assignment fold re-runs per consumer — measured 10.5 s -> 6.9 s
        # on the 256-probe 100k smoke. The means relation itself is also
        # checkpointed (~IVF_K rows) since both join sides reference it.
        c = c.localCheckpoint(eager=False)
        means = with_cell_means(c, "cv", dim).localCheckpoint(eager=False)
        c = with_residual(c, "cv", means)
    enc_col = "rv" if residual else "cv"
    # materialize the encoded corpus (id, cell, M codes — the compressed
    # index, a few bytes/row) BEFORE the join: broadcast-hash-join
    # codegen defers streamed-side column evaluation into the per-match
    # loop, so without the barrier the whole encode expression ran once
    # per PAIR instead of per row (measured 8-16x: 31 s -> 4 s on the
    # 256-probe 100k smoke).
    c = (
        with_pq_codes(c, enc_col, dim, codebooks=codebooks)
        .select(id_col, "cell", "codes")
        .localCheckpoint(eager=False)
    )
    return c, means


def probe_adc_tables(
    probes: DataFrame,
    dim: int,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
    nprobe: int = IVF_NPROBE,
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    residual: bool = True,
    means: DataFrame | None = None,
) -> DataFrame:
    """The IVF-PQ probe side of :func:`ivfpq_topk`: (normalize ->)
    score cells -> explode to
    probed cells -> stage the ADC table (per probe, or per (probe,
    probed cell) in residual mode). Returns (probe_id, cell, pt, qsq)."""
    p = probes.select(
        F.col(probe_id_col), as_double(F.col(vec_col)).alias("pv")
    )
    if normalize:
        p = _normed(p, "pv")
    p = _with_centroid_scores(p, "pv", centroids, out="sc0")
    if residual:
        # the ADC table depends on the probed cell's mean, so it is
        # staged AFTER the cell explode — one table per (probe, cell) row
        p = _explode_probe_cells(p, nprobe)
        p = with_residual(p, "pv", means)
        p = with_adc_table(p, "rv", dim, codebooks=codebooks).drop("pv", "rv")
    else:
        p = with_adc_table(p, "pv", dim, codebooks=codebooks).drop("pv")
        p = _explode_probe_cells(p, nprobe)
    return p


def _adc_rank(
    enc: DataFrame,
    p: DataFrame,
    k: int,
    books: list[list[list[float]]],
    id_col: str,
    probe_id_col: str,
) -> DataFrame:
    """ADC scoring + rank tail of :func:`ivfpq_topk`."""
    scored = enc.join(F.broadcast(p), "cell").select(
        probe_id_col,
        id_col,
        F.round(
            adc_distance(
                F.col("codes"), F.col("pt"), F.col("qsq"),
                len(books), len(books[0]),
            ),
            4,
        ).alias("adc_dist"),
    )
    # asc_nulls_last, defense in depth: a NULL distance (degenerate probe
    # or any future NULL leak) must never outrank a real neighbor —
    # Spark's plain asc is NULLS FIRST
    w = W.partitionBy(probe_id_col).orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    rerank: int | None = None,
    residual: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """IVF-PQ (FAISS IVFADC layout): coarse cells prune the candidate
    set, PQ codes compress what's scanned, ADC scores without touching
    raw vectors. The corpus side carries (id, cell, M codes) ONLY — the
    raw vector is dropped after encoding, so the join/shuffle payload is
    the compressed representation (at 10^9 vectors: the inverted lists
    store M bytes + id per entry, keyed by cell id).

    Returns (probe_id, id, adc_dist, rank) — rank ascending by the
    approximate squared L2 (deterministic id tie-break).

    *rerank*: the standard PQ deployment — ADC only shortlists; pass
    rerank=k' (k' > k) to exact-cosine re-rank the top-k' ADC survivors
    against their RAW vectors and return (probe_id, id, cos_sim, rank).
    The raw-vector fetch is a broadcast semi-join of the (|probes| x k')
    candidate ids against the corpus — the full corpus is still never
    scanned uncompressed, only the shortlist rows are. The oracle-checked
    registry query stays pure-ADC (rerank=None) so the oracle pins the
    ADC arithmetic itself; the recall gain of re-ranking is measured in
    tests/test_pq.py and SCALE.md.

    *residual* (default True — classic IVFADC, Jégou et al. 2011 §IV):
    codes quantize the RESIDUAL v - mean(cell) instead of the raw
    vector, and each probe's ADC table is built from q - mean(probed
    cell), per probed cell. Residuals are centered near zero, so the
    codebook's span covers them far more densely than raw vectors
    (pure-ADC recall measured in SCALE.md). The reproduction value is
    the per-cell DATA MEAN (:func:`with_cell_means` — the Lloyd update,
    optimal for L2), not the assignment centroid: the engine's cosine
    quantizer centroids are directions, not locations, and a trained
    kmeans centroid is the cell mean anyway. Cost: one extra map-side
    aggregation over the corpus onto IVF_K broadcast rows, and probe ADC
    tables are built per (probe, probed cell) instead of per probe —
    nprobe× more fold work on the tiny probe side only.
    ``residual=False`` keeps the r5 raw-vector behavior bit-identical.

    *normalize* (default True): L2-normalize corpus and probe vectors
    before encoding, making the ADC's squared-L2 ranking MONOTONE in
    cosine — the metric every other ANN operator in the engine ranks by.
    On unnormalized vectors the L2 order diverges from the cosine order
    wherever norms vary, which capped pure-ADC recall at ~0.48
    regardless of codebook size (measured, SCALE.md r6); a zero/NULL
    vector normalizes to NULL and follows the malformed-vector cell-0
    path. Cell assignment is cosine and thus unaffected."""
    if rerank is not None and rerank < k:
        raise ValueError(
            f"rerank={rerank} < k={k}: the ADC shortlist must be at least "
            "as large as the requested top-k or the result silently truncates"
        )
    cents = centroids if centroids is not None else lattice_centroids(dim, IVF_K)
    nprobe = min(nprobe, len(cents))
    c, means = encode_ivfpq(
        corpus, dim, cents, codebooks,
        id_col=id_col, vec_col=vec_col,
        normalize=normalize, residual=residual,
    )
    p = probe_adc_tables(
        probes, dim, cents, codebooks, nprobe,
        probe_id_col=probe_id_col, vec_col=vec_col,
        normalize=normalize, residual=residual, means=means,
    )
    books = codebooks if codebooks is not None else lattice_codebooks(dim)
    shortlist_k = rerank if rerank is not None else k
    ranked = _adc_rank(c, p, shortlist_k, books, id_col, probe_id_col)
    if rerank is None:
        return ranked
    # materialize the tiny shortlist (|probes| x k' id pairs) ONCE: it is
    # referenced by both the raw-vector semi-join and the pair attach, and
    # without the checkpoint each branch would re-run the whole
    # encode+ADC pipeline over the corpus
    cand = ranked.select(probe_id_col, id_col).localCheckpoint(eager=False)
    cv = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("cv"))
        .join(F.broadcast(cand.select(id_col).distinct()), id_col, "semi")
        .withColumn("cn", norm(F.col("cv")))
        .join(F.broadcast(cand), id_col)
    )
    pv = probes.select(
        F.col(probe_id_col), as_double(F.col(vec_col)).alias("pv")
    ).withColumn("pn", norm(F.col("pv")))
    # the pair set is already fixed by the shortlist: equi-joining the
    # candidate rows (carrying probe_id) with the probe vectors on
    # probe_id attaches pv/pn per pair, then the shared rank tail scores
    # exactly and cuts to k
    return _cosine_rank(cv, pv, k, id_col, probe_id_col, on=probe_id_col)


def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    iters: int = 5,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: per-subspace Lloyd's k-means, ALL subspaces
    in one distributed pass per iteration — encode with the current
    books, posexplode to (m, code, sub_vector), aggregate per-(m, code)
    component means. Driver holds M*K*(dim/M) floats; vectors never
    leave the executors. Deterministic: lattice init, no RNG; a code
    with no assignments keeps its previous centroid."""
    sd = dim // m_sub
    books = lattice_codebooks(dim, m_sub, k_codes)
    vecs = df.select(as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        enc = with_pq_codes(vecs, "v", dim, codebooks=books)
        sub = enc.select(
            F.posexplode("codes").alias("m", "code"),
            F.col("v"),
        ).select(
            "m",
            "code",
            F.slice(F.col("v"), F.col("m") * sd + 1, sd).alias("s"),
        )
        means = (
            sub.groupBy("m", "code")
            .agg(*[F.avg(F.col("s")[i]).alias(f"a{i}") for i in range(sd)])
            .collect()
        )
        new = [[list(c) for c in book] for book in books]
        for r in means:
            new[r["m"]][r["code"]] = [float(r[f"a{i}"]) for i in range(sd)]
        books = new
    return books
