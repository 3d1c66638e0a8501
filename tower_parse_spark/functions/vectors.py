"""Vector primitives over embedding columns (``array<float>``).

Everything is built from ``zip_with`` / ``aggregate`` higher-order
functions — JVM-side, no UDF — with a left-fold summation order identical
to the DuckDB oracle's ``list_sum(list_transform(...))`` so doubles agree
bit-for-bit in practice (results are rounded at the query edge anyway).

Scale posture: brute-force cosine top-k is a broadcast-join + per-row
array math — linear scan, embarrassingly parallel, the right baseline up
to ~10^8 vectors per query batch. The hyperplane-LSH variant cuts the
scan to one bucket per probe; see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


# ---- single-fold multi-accumulator variants -------------------------------
#
# HOF folds are interpreted per element, so k separate dot() calls cost k
# full array traversals. Carrying all k dot accumulators (plus optionally
# the self-square for the norm) through ONE traversal is the same trick
# the simhash fingerprint uses for its 32 bit counters (operators/
# dedup.py) — measured 4x there in round 3. Each accumulator's summation
# is still the identical 0.0-seeded, index-ascending left fold, so every
# dot/norm value is bit-for-bit what the one-at-a-time folds (and the
# DuckDB oracle's list_sum) produce.


_LIT_MATRIX_CACHE: dict[tuple, Column] = {}
_LIT_MATRIX_CACHE_MAX = 64


def lit_matrix(rows: list[list[float]]) -> Column:
    """Constant ``array<array<double>>`` literal via ONE SQL parse.

    Building it element-wise (``F.array(*[F.lit(x) ...])``) costs one
    py4j round-trip per element — ~2.8 s of driver time for a 64x65
    matrix, paid at every plan construction. A single ``F.expr`` over
    the rendered text is ~8x cheaper and bit-identical: each element is
    ``CAST('<repr(x)>' AS DOUBLE)`` and Python float repr round-trips
    exactly through the parser's decimal->double conversion (verified
    value-for-value against the per-lit form).

    The parsed Column is memoized per value matrix: a Column is an
    immutable expression wrapper, reusable across DataFrames/plans, and
    the PQ padded-codebook matrix alone is a ~300 KB SQL text whose
    parse would otherwise be re-paid on every plan construction (bench
    constructs each query plan twice). The cache is FIFO-bounded: the
    deterministic lattice matrices repeat forever, but TRAINED matrices
    (kmeans_centroids / pq_train_codebooks update their values every
    Lloyd iteration) are one-shot keys — without the bound a long-lived
    driver that retrains would accumulate key tuples and parsed JVM
    Column trees indefinitely."""
    key = tuple(tuple(float(x) for x in row) for row in rows)
    hit = _LIT_MATRIX_CACHE.get(key)
    if hit is not None:
        return hit
    col = F.expr(f"array({_matrix_sql_body(rows)})")
    if len(_LIT_MATRIX_CACHE) >= _LIT_MATRIX_CACHE_MAX:
        _LIT_MATRIX_CACHE.pop(next(iter(_LIT_MATRIX_CACHE)))
    _LIT_MATRIX_CACHE[key] = col
    return col


def _matrix_sql_body(rows: list[list[float]]) -> str:
    """The row-array elements of a constant matrix as SQL text (shared
    by lit_matrix and multi_dot_lit's one-parse fast path)."""
    return ",".join(
        "array(" + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row) + ")"
        for row in rows
    )


_MULTI_DOT_CACHE: dict[tuple, Column] = {}
_MULTI_DOT_CACHE_MAX = 64


def multi_dot_lit(
    a: Column | str, weights: list[list[float]], with_self_sq: bool = False
) -> Column:
    """``[dot(a, w_0), ..., dot(a, w_{k-1})]`` — plus ``sum(a[i]^2)`` as
    a final element when *with_self_sq* — in one array traversal.

    The caller must reference the result ONCE (or stage it as its own
    column): interpreted evaluation has no common-subexpression reuse,
    so every extra reference re-runs the fold.

    *a* as a STRING is the fast-construction path (r11): the text is a
    SQL expression for the vector, and the ENTIRE fold renders as one
    ``F.expr`` parse — the lit_matrix trick applied to the fold itself.
    Building the same tree through the Column API costs ~85 ms of py4j
    round-trips per call (measured: 18 calls = 1.5 s of ann_ivfpq_topk's
    plan construction); the one-parse form is a few ms and memoized on
    (a_sql, weights, with_self_sq), so bench's second plan construction
    is free. The rendered tree is NODE-IDENTICAL to the Column form
    (same zip_with/transform/aggregate shape, same 0.0-seeded
    index-ascending summation, double literals via the same CAST
    rendering lit_matrix uses), so values are bit-identical — pinned by
    test_vectors' equivalence case. Lambda variables use reserved-ish
    names (_mdl_*) so a real column named ``x``/``acc`` can't be
    shadowed."""
    k = len(weights)
    dim = len(weights[0])
    transposed = [[float(weights[j][i]) for j in range(k)] for i in range(dim)]
    width = k + 1 if with_self_sq else k
    if isinstance(a, str):
        key = (
            a,
            tuple(tuple(r) for r in transposed),
            with_self_sq,
        )
        hit = _MULTI_DOT_CACHE.get(key)
        if hit is not None:
            return hit
        mat = f"array({_matrix_sql_body(transposed)})"
        per = "transform(_mdl_w, _mdl_wi -> _mdl_x * _mdl_wi)"
        if with_self_sq:
            per = f"concat({per}, array(_mdl_x * _mdl_x))"
        init = "array(" + ",".join(["CAST(0.0 AS DOUBLE)"] * width) + ")"
        col = F.expr(
            f"aggregate(zip_with({a}, {mat}, (_mdl_x, _mdl_w) -> {per}), "
            f"{init}, "
            "(_mdl_acc, _mdl_p) -> zip_with(_mdl_acc, _mdl_p, "
            "(_mdl_s, _mdl_q) -> _mdl_s + _mdl_q))"
        )
        if len(_MULTI_DOT_CACHE) >= _MULTI_DOT_CACHE_MAX:
            _MULTI_DOT_CACHE.pop(next(iter(_MULTI_DOT_CACHE)))
        _MULTI_DOT_CACHE[key] = col
        return col
    wmat = lit_matrix(transposed)

    def _per_element(x, row):
        prods = F.transform(row, lambda w: x * w)
        return F.concat(prods, F.array(x * x)) if with_self_sq else prods

    return F.aggregate(
        F.zip_with(a, wmat, _per_element),
        F.array(*([F.lit(0.0)] * width)),
        lambda acc, p: F.zip_with(acc, p, lambda s, q: s + q),
    )


def lit_norm(weights: list[float]) -> float:
    """Norm of a constant vector, computed driver-side with the same
    0.0-seeded left fold as norm() — Python floats are IEEE doubles and
    math.sqrt is correctly rounded like JVM/DuckDB sqrt, so the value is
    bit-identical to the runtime fold over the same literals."""
    import math

    acc = 0.0
    for x in weights:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


# ---- SQL twins (DuckDB dialect); {a}/{b} are DOUBLE[] expressions ----------

SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"({SQL_DOT.format(a=a, b=b)}) / "
        f"(({SQL_NORM.format(a=a)}) * ({SQL_NORM.format(a=b)}))"
    )


SQL_AS_DOUBLE = "list_transform({v}, x -> CAST(x AS DOUBLE))"
