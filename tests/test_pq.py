"""Product quantization: encode/ADC arithmetic, training, recall floors.

The oracle (queries/llm.py::ANN_IVFPQ_ORACLE) pins the ADC values
bit-for-bit; these tests pin the *semantics*: codes shape/range, exact
zero-distance round-trip, rerank == brute-force equivalence, trained
codebooks beating the lattice, and measured recall floors (numbers from
SCALE.md's r5 measurement — deterministic: lattice init, no RNG).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.functions.vectors import as_double
from tower_parse_spark.operators import pq as PQ
from tower_parse_spark.operators import similarity as S
from tower_parse_spark.session import load_table

SF = "/root/testdata/sf0.001"
DIM = 64


def _probes(emb):
    return emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def test_codes_shape_and_range(spark):
    emb = load_table(spark, SF, "embeddings")
    enc = PQ.with_pq_codes(
        emb.select("vec_id", as_double(F.col("embedding")).alias("v")), "v", DIM
    )
    rows = enc.select("codes").limit(50).collect()
    for r in rows:
        assert len(r["codes"]) == PQ.PQ_M
        assert all(0 <= c < PQ.PQ_K for c in r["codes"])


def test_codebook_vector_roundtrips_to_zero_distance(spark):
    """A vector that IS a concatenation of sub-centroids must encode to
    exactly those codes and ADC-score 0.0 against itself."""
    books = PQ.lattice_codebooks(DIM)
    chosen = [3, 0, 15, 7, 11, 1, 9, 4]
    vec = [x for m, c in enumerate(chosen) for x in books[m][c]]
    df = spark.createDataFrame([(1, vec)], "id long, v array<double>")
    enc = PQ.with_pq_codes(df, "v", DIM)
    probe = PQ.with_adc_table(df, "v", DIM)
    row = (
        enc.join(probe.select(F.col("id").alias("pid"), "pt", "qsq"), enc.id == F.col("pid"))
        .select(
            "codes",
            PQ.adc_distance(F.col("codes"), F.col("pt"), F.col("qsq")).alias("d"),
        )
        .first()
    )
    assert list(row["codes"]) == chosen
    assert abs(row["d"]) < 1e-9


def test_rerank_over_everything_equals_brute_force(spark):
    """rerank=|corpus| with all cells probed must reproduce the exact
    brute-force cosine top-k bit-for-bit (same _cosine_rank tail)."""
    emb = load_table(spark, SF, "embeddings")
    probes = _probes(emb)
    brute = sorted(
        map(tuple, S.brute_force_topk(emb, probes, k=5)
            .select("probe_id", "vec_id", "cos_sim", "rank").collect())
    )
    full = sorted(
        map(tuple, PQ.ivfpq_topk(
            emb, probes, dim=DIM, k=5, nprobe=S.IVF_K, rerank=emb.count()
        ).select("probe_id", "vec_id", "cos_sim", "rank").collect())
    )
    assert brute == full


def test_trained_codebooks_reduce_quantization_error(spark):
    """Per-subspace Lloyd training must cut the mean self-ADC distance
    (= quantization error) at least 2x vs the lattice init (measured
    ~7x at iters=3, SCALE.md)."""
    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))

    def self_err(books):
        c = PQ.with_pq_codes(vecs, "v", DIM, codebooks=books)
        p = PQ.with_adc_table(
            vecs.select(F.col("vec_id").alias("pid"), "v"), "v", DIM,
            codebooks=books,
        )
        return (
            c.join(p, c.vec_id == p.pid)
            .select(
                PQ.adc_distance(F.col("codes"), F.col("pt"), F.col("qsq")).alias("d")
            )
            .agg(F.avg("d"))
            .first()[0]
        )

    lattice_err = self_err(None)
    trained_err = self_err(PQ.pq_train_codebooks(emb, DIM, iters=2))
    assert trained_err >= 0.0
    assert trained_err < lattice_err / 2


@pytest.mark.slow
def test_ivfpq_recall_floors(spark):
    """Measured r5 floors (SCALE.md): pure-ADC lattice nprobe=2 recall
    0.264 -> floor 0.2; trained books + nprobe=4 + rerank=50 recall
    0.664 -> floor 0.55. Ground truth = exact cosine top-5 with the
    engine's own rounding/tie-break."""
    emb = load_table(spark, SF, "embeddings")
    probes = _probes(emb)
    truth: dict[int, set] = {}
    for r in S.brute_force_topk(emb, probes, k=5).select("probe_id", "vec_id").collect():
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])

    def recall(df):
        got = df.select("probe_id", "vec_id").collect()
        return sum(1 for r in got if r["vec_id"] in truth[r["probe_id"]]) / len(got)

    assert recall(PQ.ivfpq_topk(emb, probes, dim=DIM, k=5)) >= 0.2
    books = PQ.pq_train_codebooks(emb, DIM, iters=2)
    assert (
        recall(
            PQ.ivfpq_topk(
                emb, probes, dim=DIM, k=5, nprobe=4, codebooks=books, rerank=50
            )
        )
        >= 0.55
    )


@pytest.mark.slow
def test_residual_adc_recall_floor(spark):
    """VERDICT r5 item 5: residual (IVFADC) encoding must lift PURE-ADC
    recall — no re-rank — past 0.7 at nprobe=4. Measured 0.7975 on the
    deterministic clustered corpus (n=2000, dim=16, trained quantizer,
    residual-trained scalar-code books M=dim/K=16 — same bytes/vector
    as M=8/K=256); the raw-vector path with the SAME books measures
    0.65, so the floor also asserts residual > raw."""
    import random

    from tools.ann_recall import SEED, make_corpus_rows, recall_at_k

    n, dim, k = 2000, 16, 10
    rows = make_corpus_rows(n=n, dim=dim)
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    rng = random.Random(SEED + 1)
    probe_rows = [
        (10_000_000 + j, [x + rng.gauss(0.0, 0.1) for x in rows[j * 50][1]])
        for j in range(40)
    ]
    probes = spark.createDataFrame(
        probe_rows, "probe_id long, embedding array<double>"
    ).cache()
    truth: dict[int, set] = {}
    for r in (
        S.brute_force_topk(corpus, probes, k=k)
        .select("probe_id", "vec_id")
        .collect()
    ):
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])
    cents = S.kmeans_centroids(corpus, dim=dim, k=8, iters=4)
    # the operator's own zero-guarded normalizer + a barrier before the
    # means/residual fan-out (same pipeline tools/ann_recall.py uses)
    ncorpus = PQ._normed(
        corpus.select("vec_id", F.col("embedding").alias("cv")), "cv"
    )
    assigned = S.assign_cells(ncorpus, "cv", cents, out="cell").localCheckpoint(
        eager=False
    )
    means = PQ.with_cell_means(assigned, "cv", dim).localCheckpoint(eager=False)
    residuals = PQ.with_residual(assigned, "cv", means).select(
        F.col("rv").alias("embedding")
    )
    books = PQ.pq_train_codebooks(residuals, dim, m_sub=dim, k_codes=16, iters=3)
    resid = PQ.ivfpq_topk(
        corpus, probes, dim=dim, k=k, nprobe=4, centroids=cents, codebooks=books
    ).collect()
    raw = PQ.ivfpq_topk(
        corpus, probes, dim=dim, k=k, nprobe=4, centroids=cents,
        codebooks=books, residual=False, normalize=False,
    ).collect()
    r_resid = recall_at_k(resid, truth, k=k)
    r_raw = recall_at_k(raw, truth, k=k)
    assert r_resid >= 0.7
    assert r_resid > r_raw


def test_ivfpq_drops_degenerate_probes(spark):
    """A NULL/empty/zero probe is silently dropped (its cell is NULL),
    and the good probes' rows are exactly those of a run without it."""
    emb = load_table(spark, SF, "embeddings")
    good = _probes(emb)
    bad = spark.createDataFrame(
        [(9001, None), (9002, []), (9003, [0.0] * DIM)],
        "probe_id long, embedding array<double>",
    )
    rows = lambda df: sorted(  # noqa: E731
        (r["probe_id"], r["rank"], r["vec_id"]) for r in df.collect()
    )
    got = rows(PQ.ivfpq_topk(emb, good.unionAll(bad), dim=DIM, k=5))
    assert got == rows(PQ.ivfpq_topk(emb, good, dim=DIM, k=5))
    assert not {p for p, _, _ in got} & {9001, 9002, 9003}


def test_append_into_build_time_empty_cell(spark):
    """Probing cells that no corpus row fell in (the build left them
    empty) goes through ``with_residual``'s zero-mean fallback: the
    corpus is one cell's rows and every probe is exploded over every
    cell, yet no code is NULL, every probe's ADC table is real, and
    ``ivfpq_topk`` ranks by NULL-free distances — the all-NULL-codes /
    NULLS-FIRST regression."""
    emb = load_table(spark, SF, "embeddings")
    cents = S.lattice_centroids(DIM)
    enc_all, _ = PQ.encode_ivfpq(emb, DIM, cents)
    cells = [r["cell"] for r in enc_all.select("vec_id", "cell").collect()]
    top_cell = max(set(cells), key=cells.count)
    in_top = {
        r["vec_id"]
        for r in enc_all.filter(F.col("cell") == top_cell).collect()
    }
    corpus = emb.filter(F.col("vec_id").isin(list(in_top)))
    enc, means = PQ.encode_ivfpq(corpus, DIM, cents)
    # no NULL codes anywhere
    assert (
        enc.filter(
            F.exists(F.col("codes"), lambda c: c.isNull())
            | F.col("codes").isNull()
        ).count()
        == 0
    )
    # probes of the empty cells get real tables, not NULL ones
    probes = PQ.probe_adc_tables(
        _probes(emb), DIM, cents, nprobe=len(cents), means=means
    )
    tables = probes.select(
        "cell",
        (F.col("pt").isNull() | F.exists(F.col("pt"), lambda x: x.isNull()))
        .alias("null_pt"),
    ).collect()
    assert {r["cell"] for r in tables} - {r["cell"] for r in means.collect()}
    assert not any(r["null_pt"] for r in tables)
    out = PQ.ivfpq_topk(
        corpus, _probes(emb), DIM, k=5, nprobe=len(cents), centroids=cents
    ).collect()
    assert out and all(r["adc_dist"] is not None for r in out)
