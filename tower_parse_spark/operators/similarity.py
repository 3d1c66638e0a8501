"""Similarity search over embedding columns.

Two paths, per the standard ANN playbook:

- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  probe set against the corpus, score in-row with JVM array math, take
  top-k per probe with a window over (probe, score). Linear scan,
  perfectly parallel — the correct baseline and the verifier for any
  approximate index.
- :func:`hyperplane_lsh_topk` — random-hyperplane (sign) LSH: bucket =
  sign-bit string of dot products with H fixed hyperplanes; search only
  the probe's bucket. Recall is tunable via H (fewer planes = bigger
  buckets); multi-probe = also search buckets at Hamming distance 1.
  The hyperplanes are deterministic integer lattices (portable to the
  SQL oracle) rather than RNG Gaussians — same algorithm, seedless.

At 100 TB the corpus side stays columnar + partitioned; only (id, bucket,
vector) travels. The bucket join is an equi-join on a short string — the
shuffle the LSH exists to make cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tower_parse_spark.functions.vectors import (
    as_double,
    dot,
    lit_norm,
    multi_dot_lit,
    norm,
)

#: number of hyperplanes (sign bits) for the LSH bucket key
LSH_PLANES = 6

#: IVF coarse-quantizer cells and probe fan-out
IVF_K = 8
IVF_NPROBE = 2


def hyperplane(dim: int, j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j over R^dim: a fixed
    integer lattice ((i*31 + j*17) mod 13) - 6 — zero-mean, seedless,
    reproducible in ANSI SQL."""
    return [float((i * 31 + j * 17) % 13 - 6) for i in range(dim)]


def bucket_expr(vec_col, dim: int, planes: int = LSH_PLANES):
    """LSH bucket id = sum_j (dot(v, plane_j) >= 0) << j.

    All *planes* dots ride ONE array traversal (multi_dot_lit — the
    simhash single-fold pattern), and the fold result is referenced
    exactly once: the sign/weight mapping and the bit-sum are a
    zip_with + fold over the k-wide dot array, so the expensive
    traversal is never re-inlined. For well-formed vectors each dot is
    bit-identical to the separate-fold form, so bucket ids (and the
    DuckDB oracle's) agree.

    NULL semantics: a NULL dot (a NULL vector element, or a
    dim-mismatched vector whose zip_with pads with NULL) contributes
    bit 0 via the ``otherwise(0)`` branch, and a whole-NULL vector
    coalesces to bucket 0 — so every malformed row lands in a
    deterministic numeric bucket instead of a NULL bucket that would
    silently drop it from the equi-join. Both cases match the DuckDB
    oracle's ``CASE ... ELSE 0`` (whose per-bit ELSE yields 0 even when
    the whole vector is NULL).

    The coalesce also makes the bucket NON-NULLABLE, which is
    load-bearing for the plan: the bucket equi-join's inferred
    IsNotNull would otherwise be pushed below the staged projection and
    re-inline the multi-plane fold a second time per row (see
    assign_cells)."""
    dots = multi_dot_lit(vec_col, [hyperplane(dim, j) for j in range(planes)])
    powers = F.array(
        *[F.lit(1 << j).cast("long") for j in range(planes)]
    )
    bits = F.zip_with(
        dots,
        powers,
        lambda d, w: F.when(d >= 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.coalesce(
        F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b),
        F.lit(0).cast("long"),
    )


def _explode_multiprobe(
    p: DataFrame, planes: int, multiprobe: bool | int
) -> DataFrame:
    """Explode each probe row to its multiprobe bucket set.

    *multiprobe* is a Hamming radius (bool kept for back-compat:
    True == 1). Radius 0 returns the frame unchanged; radius 1 adds the
    single-bit flips (+planes rows/probe); radius 2 adds the two-bit
    flips (+planes*(planes-1)/2 rows/probe). Probe rows only — the
    corpus side never widens. Radii above 2 are refused: the bucket set
    grows as C(planes, r) and past distance 2 a wider-bucket (smaller
    planes) index is the better recall lever."""
    radius = int(multiprobe)
    if radius == 0:
        return p
    if radius > 2:
        raise ValueError(f"multiprobe radius {radius} not supported (max 2)")
    flips = [F.col("bucket")]
    flips += [
        F.col("bucket").bitwiseXOR(F.lit(1 << j).cast("long"))
        for j in range(planes)
    ]
    if radius >= 2:
        flips += [
            F.col("bucket").bitwiseXOR(
                F.lit((1 << j) | (1 << l)).cast("long")
            )
            for j in range(planes)
            for l in range(j + 1, planes)
        ]
    return p.withColumn("bucket", F.explode(F.array(*flips)))


def centroid(dim: int, j: int) -> list[float]:
    """Deterministic IVF centroid j: a fixed integer lattice decorrelated
    from the LSH hyperplanes ((i*37 + j*29) mod 15 - 7). The lattice
    keeps the oracle-checked query seedless and SQL-reproducible; it is
    also the k-means init (:func:`kmeans_centroids`) for deployments
    that train the quantizer."""
    return [float((i * 37 + j * 29) % 15 - 7) for i in range(dim)]


def lattice_centroids(dim: int, k: int = IVF_K) -> list[list[float]]:
    return [centroid(dim, j) for j in range(k)]


def kmeans_centroids(
    df: DataFrame,
    dim: int,
    k: int = IVF_K,
    iters: int = 5,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train the IVF coarse quantizer: Lloyd's k-means on the DataFrame.

    Spherical variant (cosine assignment, arithmetic-mean update) — the
    metric :func:`ivf_topk` searches with. Each iteration is ONE
    distributed pass: assign cell = argmax cosine against the current
    centroids (plan literals), then a k-row aggregate of per-component
    means. The driver only ever holds k x dim floats (same posture as
    pack offsets); the vectors never leave the executors. Deterministic:
    lattice init, no RNG. Empty cells reseed from the worst-covered
    vectors (lowest best-cosine) — the standard Lloyd fix that lets a
    dead cell capture an unclaimed cluster."""
    vecs = df.select(as_double(F.col(vec_col)).alias("v"))
    cents = lattice_centroids(dim, k)
    for _ in range(iters):
        assigned = _with_centroid_scores(vecs, "v", cents).select(
            "v",
            F.array_position(F.col("sc"), F.array_max(F.col("sc"))).alias(
                "cell"
            ),
            F.array_max(F.col("sc")).alias("best"),
        )
        means = (
            assigned.groupBy("cell")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new = [list(c) for c in cents]
        filled = set()
        for r in means:
            new[r["cell"] - 1] = [float(r[f"m{i}"]) for i in range(dim)]
            filled.add(r["cell"] - 1)
        empty = [j for j in range(k) if j not in filled]
        if empty:
            # reseed each dead cell with a distinct worst-covered vector
            worst = (
                assigned.orderBy(F.col("best").asc())
                .limit(len(empty))
                .collect()
            )
            for j, r in zip(empty, worst):
                new[j] = [float(x) for x in r["v"]]
        cents = new
    return cents


def _with_centroid_scores(
    df: DataFrame,
    vec_colname: str,
    centroids: list[list[float]],
    out: str = "sc",
    out_norm: str | None = None,
):
    """Stage the k-cosine score array as column *out* from ONE array
    traversal: a (k+1)-accumulator fold (k dots + the self-square, the
    simhash single-fold pattern) staged as its own column, with the k
    scores derived from cheap slot reads. Replaces 2k interpreted
    traversals per row (k dot folds + k vector-norm folds) with one.
    *out_norm* optionally also materializes the vector norm from the
    same fold. Values are bit-identical to a per-centroid
    ``dot(v, c) / (norm(v) * norm(c))``: each
    accumulator keeps the 0.0-seeded index-ascending summation, the
    constant centroid norms fold driver-side (lit_norm), and the
    division keeps the d / (vnorm * cnorm) grouping."""
    k = len(centroids)
    df = df.withColumn(
        "_scraw",
        # SQL-text vector ref -> multi_dot_lit's one-parse memoized
        # fast path (r11; node-identical to the Column form)
        multi_dot_lit(f"`{vec_colname}`", centroids, with_self_sq=True),
    )
    vnorm = F.sqrt(F.col("_scraw")[k])
    # try_divide, not /: a zero-norm (empty or all-zero) vector must
    # score NULL — DuckDB's x/0 semantics — and take the deterministic
    # cell-0 path, where ANSI `/` raises DIVIDE_BY_ZERO executor-side
    # (caught by the NULL-fixture robustness test, test_null_fixture.py)
    scores = F.array(
        *[
            F.try_divide(
                F.col("_scraw")[j], vnorm * F.lit(lit_norm(centroids[j]))
            )
            for j in range(k)
        ]
    )
    df = df.withColumn(out, scores)
    if out_norm is not None:
        df = df.withColumn(out_norm, vnorm)
    return df.drop("_scraw")


def assign_cells(
    df: DataFrame,
    vec_colname: str,
    centroids: list[list[float]],
    out: str = "cell",
    out_norm: str | None = None,
) -> DataFrame:
    """Assign each row its nearest-centroid cell id (1-based).

    The one cell-assignment implementation in the tree — ivf_topk's
    corpus side, IVF-PQ's encode and kmeans assignment checks all go
    through the same staged single-fold scoring
    (:func:`_with_centroid_scores`), so there is exactly one code path
    to keep the bit-parity tests over (VERDICT r4 item 7; the older
    per-centroid ``_centroid_cos_scores``/``ivf_cells`` expression form
    is gone). argmax via array_position(scores, array_max(scores)) —
    first maximum wins, the deterministic tie-break the DuckDB oracle
    shares."""
    df = _with_centroid_scores(
        df, vec_colname, centroids, out="_asc", out_norm=out_norm
    )
    # coalesce makes the cell column NON-NULLABLE (a NULL/malformed
    # vector lands in deterministic cell 0, the bucket_expr philosophy).
    # This is also a load-bearing plan property: the cell equi-join
    # infers IsNotNull(cell), and on a nullable cell the predicate
    # pushdown rebuilds that filter BELOW the staged projections,
    # re-inlining the whole k-accumulator scoring fold a second time
    # per corpus row (the text_repetition/decontam pushdown disease, via
    # the join key). Non-nullable folds the inferred filter to true —
    # measured 37 s -> 8 s on the 256-probe 100k-vector smoke.
    return df.withColumn(
        out,
        F.coalesce(
            F.array_position(F.col("_asc"), F.array_max(F.col("_asc"))),
            F.lit(0).cast("long"),
        ),
    ).drop("_asc")


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to their
    nearest coarse-quantizer cell (inverted list); each probe scans only
    its *nprobe* nearest cells. The cell join is an equi-join on a small
    int — at 10^9+ vectors the inverted lists are the partition key and
    only probed cells are read (partition pruning on cell id).

    *centroids*: pass :func:`kmeans_centroids` output for a trained
    quantizer; default is the seedless lattice (oracle-reproducible).

    The k-cosine score array and each masking level are STAGED as named
    columns (the round-1 lesson: an expression referenced N times is
    inlined N times by Catalyst — the nprobe masked-argmax embeds the
    score array recursively, so unstaged trees grow combinatorially in
    nprobe). Identical arithmetic, identical values.

    *nprobe* is clamped to the centroid count: once every slot is
    masked, each further argmax level would return position 1 and score
    duplicate (probe, corpus) pairs."""
    cents = centroids if centroids is not None else lattice_centroids(dim, IVF_K)
    nprobe = min(nprobe, len(cents))
    c = assign_cells(
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("cv")),
        "cv",
        cents,
        out="cell",
        out_norm="cn",
    )
    p = _with_centroid_scores(
        probes.select(
            F.col(probe_id_col), as_double(F.col(vec_col)).alias("pv")
        ),
        "pv",
        cents,
        out="sc0",
        out_norm="pn",
    )
    p = _explode_probe_cells(p, nprobe)
    return _cosine_rank(c, p, k, id_col, probe_id_col, on="cell")


def _explode_probe_cells(p: DataFrame, nprobe: int) -> DataFrame:
    """Explode a probe frame carrying the staged score array ``sc0`` to
    one row per probed cell: each masking level stages the previous
    level's array with the chosen slot masked out, then re-argmaxes —
    named columns per level, so the plan grows linearly in nprobe."""
    cell_cols = []
    for lvl in range(nprobe):
        best = F.array_position(
            F.col(f"sc{lvl}"), F.array_max(F.col(f"sc{lvl}"))
        )
        p = p.withColumn(f"cell{lvl}", best)
        if lvl + 1 < nprobe:

            def _mask(chosen):
                return lambda x, i: F.when(
                    i + 1 == chosen, F.lit(-9.0)
                ).otherwise(x)

            p = p.withColumn(
                f"sc{lvl + 1}",
                F.transform(F.col(f"sc{lvl}"), _mask(F.col(f"cell{lvl}"))),
            )
        cell_cols.append(F.col(f"cell{lvl}"))
    return (
        p.withColumn("cell", F.explode(F.array(*cell_cols)))
        .drop(*[f"sc{i}" for i in range(nprobe)])
        .drop(*[f"cell{i}" for i in range(nprobe)])
    )


def _cosine_rank(
    c: DataFrame,
    p: DataFrame,
    k: int,
    id_col: str,
    probe_id_col: str,
    on: str | None = None,
) -> DataFrame:
    """Shared scoring tail of every top-k path: broadcast the (small)
    probe frame against the corpus frame — equi-joined on *on* (LSH
    bucket / IVF cell) or a full nested loop for the exact baseline —
    score each pair with one dot fold + two staged norm reads, and rank
    with a per-probe window (WindowGroupLimit pushes the k cut below
    the sort). One implementation keeps the three public paths (brute,
    LSH, IVF) bit-identical."""
    joined = (
        c.join(F.broadcast(p), on) if on is not None else c.join(F.broadcast(p))
    )
    scored = joined.select(
        probe_id_col,
        id_col,
        # try_divide: zero-norm rows score NULL (DuckDB x/0 parity)
        # instead of raising ANSI DIVIDE_BY_ZERO
        F.round(
            F.try_divide(
                dot(F.col("cv"), F.col("pv")), F.col("cn") * F.col("pn")
            ),
            4,
        ).alias("cos_sim"),
    )
    w = W.partitionBy(probe_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact cosine top-k per probe (broadcast nested-loop + window).

    Norms are projected per ROW before the join: scoring a pair is then
    one dot-product fold + two scalar reads, not three array traversals
    — the same fold per row gives bit-identical values to an inline
    ``dot / (norm * norm)``, but the O(pairs) stage stops re-deriving
    O(rows) work.
    """
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    p = probes.select(
        F.col(probe_id_col), as_double(F.col(vec_col)).alias("pv")
    ).withColumn("pn", norm(F.col("pv")))
    return _cosine_rank(c, p, k, id_col, probe_id_col)


def hyperplane_lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    multiprobe: bool | int = False,
) -> DataFrame:
    """Approximate cosine top-k: score only the probe's LSH bucket.
    Norms projected per row pre-join (see brute_force_topk).

    *multiprobe*: Hamming multiprobe radius — additionally search every
    bucket within that Hamming distance of the probe's (flip sign-bit
    subsets) — the standard recall knob for near-boundary neighbors.
    ``False``/0 = exact bucket only, ``True``/1 = the 1+planes buckets
    at distance <=1, ``2`` = the 1+p+p(p-1)/2 buckets at distance <=2
    (recall headroom when planes is large enough that single-bit probing
    tops out — at planes=8 Hamming-1 plateaus near 0.63, SCALE.md). The
    probe side (tiny, broadcast) explodes; the corpus side is untouched,
    so the join stays a bucket equi-join with more probe rows, NOT a
    wider scan.
    """
    c = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("cv"))
        .withColumn("bucket", bucket_expr(F.col("cv"), dim, planes))
        .withColumn("cn", norm(F.col("cv")))
    )
    p = (
        probes.select(
            F.col(probe_id_col), as_double(F.col(vec_col)).alias("pv")
        )
        .withColumn("bucket", bucket_expr(F.col("pv"), dim, planes))
        .withColumn("pn", norm(F.col("pv")))
    )
    p = _explode_multiprobe(p, planes, multiprobe)
    return _cosine_rank(c, p, k, id_col, probe_id_col, on="bucket")
