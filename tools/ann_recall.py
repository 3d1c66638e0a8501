"""Measure ANN recall@k against the exact brute-force baseline.

Builds a deterministic clustered corpus (10k vectors, dim 16, 10
directional clusters with noise), computes exact top-k per probe with
``brute_force_topk``, then recall@k for:

- ``hyperplane_lsh_topk`` — planes sweep, multiprobe Hamming radius 0/1/2
- ``ivf_topk`` — trained k-means quantizer, nprobe sweep
- ``ivfpq_topk`` — trained PQ codebooks, pure-ADC and exact-rerank rows

Run: ``python tools/ann_recall.py`` — prints one JSON line. The pytest
floor assertions live in ``tests/test_similarity.py`` (recall section);
SCALE.md records the measured curve.
"""

from __future__ import annotations

import json
import os
import random
import sys

N_VECS = 10_000
N_PROBES = 40
DIM = 16
K = 10
N_CLUSTERS = 10
SEED = 42


def make_corpus_rows(
    n: int = N_VECS,
    dim: int = DIM,
    clusters: int = N_CLUSTERS,
    seed: int = SEED,
    spread: float = 0.35,
):
    """Deterministic clustered vectors: each row = unit-ish cluster
    direction + per-component noise. Clustered (not uniform) because
    that is the workload ANN indexes exist for — real embeddings
    concentrate; uniform vectors have no recoverable neighbors."""
    rng = random.Random(seed)
    dirs = []
    for _ in range(clusters):
        d = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = sum(x * x for x in d) ** 0.5
        dirs.append([x / nrm for x in d])
    rows = []
    for i in range(n):
        c = i % clusters
        rows.append(
            (
                i,
                [x + rng.gauss(0.0, spread) for x in dirs[c]],
            )
        )
    return rows


def recall_at_k(approx_rows, truth: dict[int, set[int]], k: int = K) -> float:
    got: dict[int, set[int]] = {}
    for r in approx_rows:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])
    per_probe = [
        len(got.get(p, set()) & ids) / len(ids) for p, ids in truth.items()
    ]
    return sum(per_probe) / len(per_probe)


def measure(
    spark,
    planes_list: tuple[int, ...] = (4, 6, 8),
    nprobes: tuple[int, ...] = (1, 2, 4),
    ivfpq: bool = True,
) -> dict[str, float]:
    from tower_parse_spark.operators import similarity as S

    rows = make_corpus_rows()
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    # probes = every 250th corpus vector re-noised (same cluster, new id)
    rng = random.Random(SEED + 1)
    probe_rows = [
        (10_000_000 + j, [x + rng.gauss(0.0, 0.1) for x in rows[j * 250][1]])
        for j in range(N_PROBES)
    ]
    probes = spark.createDataFrame(
        probe_rows, "probe_id long, embedding array<double>"
    ).cache()

    exact = S.brute_force_topk(corpus, probes, k=K).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])

    out: dict[str, float] = {}
    for planes in planes_list:
        for radius in (0, 1, 2):
            rows_a = S.hyperplane_lsh_topk(
                corpus, probes, dim=DIM, k=K, planes=planes, multiprobe=radius
            ).collect()
            key = f"lsh_p{planes}" + ("", "_multi", "_multi2")[radius]
            out[key] = round(recall_at_k(rows_a, truth), 4)

    cents = S.kmeans_centroids(corpus, dim=DIM, k=8, iters=5)
    for nprobe in nprobes:
        rows_a = S.ivf_topk(
            corpus, probes, dim=DIM, k=K, nprobe=nprobe, centroids=cents
        ).collect()
        out[f"ivf_np{nprobe}"] = round(recall_at_k(rows_a, truth), 4)
    # lattice (untrained, oracle-default) quantizer for comparison
    rows_a = S.ivf_topk(corpus, probes, dim=DIM, k=K, nprobe=2).collect()
    out["ivf_np2_lattice"] = round(recall_at_k(rows_a, truth), 4)

    if not ivfpq:
        return out
    # IVF-PQ: compressed-code ADC, then the standard shortlist+rerank
    # deployment (trained coarse quantizer + trained codebooks). r6:
    # residual (IVFADC) rows — codes quantize v - mean(cell); the
    # codebooks are trained on the residuals themselves (the matching
    # distribution), raw-vector rows kept for comparison.
    from pyspark.sql import functions as F

    from tower_parse_spark.operators import pq as PQ
    from tower_parse_spark.operators.similarity import assign_cells

    books_raw = PQ.pq_train_codebooks(corpus, DIM, iters=3)
    # residual codebooks are trained on the residuals themselves (the
    # matching distribution): normalize -> assign -> per-cell mean ->
    # v - mean, mirroring the operator's internal pipeline. Reuse the
    # operator's own zero-guarded normalizer (an unguarded x/n raises
    # ANSI DIVIDE_BY_ZERO on any zero/empty vector), and checkpoint the
    # assignment before it fans out to the means agg + residual encode.
    ncorpus = PQ._normed(
        corpus.select("vec_id", F.col("embedding").alias("cv")), "cv"
    )
    assigned = assign_cells(ncorpus, "cv", cents, out="cell").localCheckpoint(
        eager=False
    )
    means = PQ.with_cell_means(assigned, "cv", DIM).localCheckpoint(
        eager=False
    )
    residuals = PQ.with_residual(assigned, "cv", means).select(
        F.col("rv").alias("embedding")
    )
    books_r = PQ.pq_train_codebooks(residuals, DIM, iters=3)
    # the production scalar-code config: M=dim sub-dim-1 codes, 4 bits
    # per dim — same 8-byte/vector footprint as M=8/K=256, far easier to
    # train (1-dim Lloyd converges on ~5 samples/code where 2-dim does
    # not)
    books_r16 = PQ.pq_train_codebooks(
        residuals, DIM, m_sub=DIM, k_codes=16, iters=3
    )
    for nprobe in (2, 4):
        rows_a = PQ.ivfpq_topk(
            corpus, probes, dim=DIM, k=K, nprobe=nprobe,
            centroids=cents, codebooks=books_raw,
            residual=False, normalize=False,
        ).collect()
        out[f"ivfpq_np{nprobe}_adc_raw"] = round(
            recall_at_k(rows_a, truth), 4
        )
        rows_a = PQ.ivfpq_topk(
            corpus, probes, dim=DIM, k=K, nprobe=nprobe,
            centroids=cents, codebooks=books_r,
        ).collect()
        out[f"ivfpq_np{nprobe}_residual_adc"] = round(
            recall_at_k(rows_a, truth), 4
        )
        rows_a = PQ.ivfpq_topk(
            corpus, probes, dim=DIM, k=K, nprobe=nprobe,
            centroids=cents, codebooks=books_r16,
        ).collect()
        out[f"ivfpq_np{nprobe}_residual_adc_m{DIM}"] = round(
            recall_at_k(rows_a, truth), 4
        )
        rows_a = PQ.ivfpq_topk(
            corpus, probes, dim=DIM, k=K, nprobe=nprobe,
            centroids=cents, codebooks=books_r, rerank=10 * K,
        ).collect()
        out[f"ivfpq_np{nprobe}_rerank{10 * K}"] = round(
            recall_at_k(rows_a, truth), 4
        )
    return out


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tower_parse_spark.session import get_spark

    spark = get_spark("ann-recall", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    out = measure(spark)
    print(json.dumps({"recall_at_k": out, "k": K, "n": N_VECS, "dim": DIM}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
