"""Count-based tumbling window ("pack") — the reference's one custom op.

The reference flushes a group's buffer every exactly-``pack_length`` rows
(``Buffer.full``, readport.py:277-289): 12000 rows ≈ 10 min of 20 Hz sonic
data per file (configs/readport_4001.conf:24-25). Spark has no native
"every N rows per key" window (SURVEY.md §4.3), so the engine provides:

- :func:`with_pack_id` — batch form, deterministic and oracle-checkable:
  ``pack_id = floor((row_number() OVER (PARTITION BY group
  ORDER BY time, tiebreak) - 1) / N)``. Tie-break on a unique id because
  processing timestamps are monotone per connection but not unique
  (tests/test_socket.py:219-220).
- :func:`with_pack_id_scalable` — the 100 TB path for *ungrouped* packs,
  where a single-partition global window would serialize the job: range-
  partition by the ordering key, compute per-partition local row numbers
  and combine with broadcast per-partition offsets (two-pass zip-index).
  Identical output, no single-task bottleneck.
- the streaming form with remainder carry lives in
  ``tower_parse_spark.streaming`` (applyInPandasWithState).

Grouped packs scale fine through the window form as long as group
cardinality ≫ 1 (partition-parallel); the scalable variant exists for the
degenerate single-group case the reference's sonic configs actually use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def with_pack_id(
    df: DataFrame,
    pack_length: int,
    group_col: str | None = None,
    order_cols: list[str] | None = None,
    ungrouped: str = "scalable",
) -> DataFrame:
    """Assign ``pack_id`` (0-based) and ``pack_seq`` (position in pack).

    Batch semantics of readport.py:277-289: consecutive runs of exactly
    *pack_length* rows per group, ordered by *order_cols* (default:
    ``time``). The trailing remainder (< pack_length rows) keeps the last
    pack_id — callers that need only-full packs filter on pack row counts
    (the reference never flushes partial packs except at shutdown loss,
    readport.py:409-419).

    With ``group_col=None`` — the reference's actual deployment shape
    (ungrouped sonic streams, configs/readport_4001.conf:24-25) — a bare
    global window would funnel every row through ONE task, the one latent
    scale-killer of this operator. The ungrouped case therefore
    auto-dispatches to :func:`with_pack_id_scalable` (identical output,
    partition-parallel). Pass ``ungrouped="window"`` to force the
    single-partition window form (tests / tiny inputs only).
    """
    order = order_cols or ["time"]
    if group_col is None and ungrouped == "scalable":
        if len(order) > 2:
            raise ValueError(
                "scalable ungrouped packs support at most (order, tiebreak)"
                f" ordering columns, got {order!r}"
            )
        return with_pack_id_scalable(
            df,
            pack_length,
            order_col=order[0],
            tiebreak_col=order[1] if len(order) > 1 else None,
        )
    w = (
        W.partitionBy(group_col).orderBy(*order)
        if group_col is not None
        else W.partitionBy().orderBy(*order)
    )
    rn = F.row_number().over(w) - 1
    return df.withColumn("pack_id", F.floor(rn / pack_length)).withColumn(
        "pack_seq", rn % pack_length
    )


def with_global_row_scalable(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str | None = None,
    num_buckets: int | None = None,
    reuse: str = "checkpoint",
    index_col: str = "_grow",
    total_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Global 0-based row index in (*order_col*, *tiebreak_col*) order
    WITHOUT a single-partition window — the engine's scalable
    global-order primitive (global rank / ntile / pack assignment all
    derive from it).

    ``df.withColumn(index_col, row_number().over(Window.orderBy(...)))``
    funnels every row through ONE task (Spark prints "Moving all data to
    a single partition"); this computes the identical index
    partition-parallel. With *total_col*, also attaches the total row
    count as a plan literal — rank arithmetic like exact ntile needs it
    (:func:`ntile_expr`) and pass 2 already has it for free.

    Value-based three-pass global indexing (never trusts physical
    partition ids, which are not stable across jobs):

    1. freeze approximate quantile boundaries of *order_col* as plan
       literals (one column-pruned partial-agg pass, tiny result);
    2. count rows per value-bucket (partial agg, ``num_buckets`` rows)
       and turn the counts into cumulative offsets on the driver;
    3. ``global_row = offset[bucket] + (row_number within bucket) - 1``,
       where the per-bucket window is partition-parallel because buckets
       are contiguous in the ordering.

    Bucket assignment is a pure function of the row's value, so all
    passes agree by construction. Skewed order keys degrade bucket
    balance, not correctness; raise *num_buckets* or pre-salt if a
    profile shows it.

    *descending* reverses the *order_col* direction (NULLS LAST, same as
    Spark's ``col.desc()``); the tiebreak stays ascending — the shape a
    ``ORDER BY price DESC, id`` global rank needs.

    *reuse* controls how the three passes share the input: "checkpoint"
    (default) materializes it once via localCheckpoint — right when the
    input is an expensive derivation (regex extraction) that would
    otherwise run 3x; "recompute" re-evaluates the plan per pass — right
    when the input is a cheap scan bigger than cluster storage headroom.
    """
    spark = df.sparkSession
    if reuse == "checkpoint":
        df = df.localCheckpoint(eager=True)
    order_exprs = [
        F.col(order_col).desc() if descending else F.col(order_col)
    ] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    parts = num_buckets or spark.sparkContext.defaultParallelism

    def _bucket_for(bounds: list) -> F.Column:
        if not bounds:
            return F.lit(0)
        barr = F.array(*[F.lit(b) for b in bounds])
        # coalesce: a NULL order value sorts FIRST ascending (bucket 0,
        # asc = NULLS FIRST) and LAST descending (bucket len(bounds),
        # desc = NULLS LAST) — the positions Spark's window form gives
        # it — and a non-NULL bucket keeps the driver-side offset sort
        # total (a NULL _bkt crashed it with a TypeError — r6 fixture).
        # Descending counts bounds ABOVE the value (sorted-asc bounds,
        # flipped comparison): max value -> bucket 0, monotone with the
        # reversed order, ties at a bound stay within one bucket.
        if descending:
            return F.aggregate(
                barr,
                F.lit(0),
                lambda acc, b: acc
                + F.coalesce((F.col(order_col) < b).cast("int"), F.lit(1)),
            )
        return F.aggregate(
            barr,
            F.lit(0),
            lambda acc, b: acc
            + F.coalesce((F.col(order_col) >= b).cast("int"), F.lit(0)),
        )

    # Pass 1: boundary literals (deterministic once collected). With a
    # single bucket there are no boundaries — skip the pass
    # (percentile_approx rejects an empty percentage array).
    if parts < 2:
        bounds: list = []
    else:
        qs = [i / parts for i in range(1, parts)]
        bounds = sorted(set(
            df.select(
                F.percentile_approx(order_col, qs, 10000).alias("b")
            ).collect()[0]["b"]
            or []
        ))
    bucketed = df.withColumn("_bkt", _bucket_for(bounds))

    # Pass 2: per-bucket counts -> cumulative offsets (tiny).
    offsets: dict[int, int] = {}
    running = 0
    for row in sorted(
        bucketed.groupBy("_bkt").count().collect(), key=lambda r: r["_bkt"]
    ):
        offsets[row["_bkt"]] = running
        running += row["count"]
    offset_col = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])

    # Pass 3: local row number within the bucket + frozen offset.
    w_local = W.partitionBy("_bkt").orderBy(*order_exprs)
    global_row = offset_col[F.col("_bkt")] + F.row_number().over(w_local) - 1
    out = bucketed.withColumn(index_col, global_row.cast("long")).drop("_bkt")
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(running).cast("long"))
    return out


def with_pack_id_scalable(
    df: DataFrame,
    pack_length: int,
    order_col: str = "time",
    tiebreak_col: str | None = None,
    num_buckets: int | None = None,
    reuse: str = "checkpoint",
) -> DataFrame:
    """Pack assignment without a single-partition window — the pack-shaped
    view of :func:`with_global_row_scalable` (identical output to
    :func:`with_pack_id`, partition-parallel; see that primitive for the
    three-pass mechanics and the *reuse* trade)."""
    indexed = with_global_row_scalable(
        df,
        order_col,
        tiebreak_col=tiebreak_col,
        num_buckets=num_buckets,
        reuse=reuse,
        index_col="_grow",
    )
    return (
        indexed.withColumn("pack_id", F.floor(F.col("_grow") / pack_length))
        .withColumn("pack_seq", F.col("_grow") % pack_length)
        .drop("_grow")
    )


def ntile_expr(row_1based: F.Column, total: F.Column, n: int) -> F.Column:
    """Exact ``ntile(n)`` from a global 1-based rank and the total count —
    the window-family companion of :func:`with_global_row_scalable`
    (``ntile(n).over(Window.orderBy(...))`` is the other global
    single-partition funnel, same fix).

    SQL ntile semantics: the first ``total % n`` buckets get
    ``total div n + 1`` rows, the rest ``total div n``. Pure long
    arithmetic on plan columns — no window, no extra pass. The
    ``greatest(base, 1)`` keeps the unused branch ANSI-safe when
    ``total < n`` (base = 0; every row then lands in the first branch,
    one bucket per row, matching ntile).

    Precision: the divisions go through IEEE double, which is exact
    here while both operands stay below 2^53 — integer quotients of
    exact doubles round to the exact integer, and non-integer
    quotients sit ≥ 1/divisor from the nearest integer, far above one
    ulp for any feasible row count (2^53 ≈ 9·10^15 rows; a 100 TB
    corpus is ~10^12). Swap to decimal(38,0) division before ever
    ranking >2^50 rows through this."""
    base = F.floor(total / n)
    rem = total % n
    pivot = rem * (base + F.lit(1))
    in_big = F.floor((row_1based - 1) / (base + 1)) + 1
    in_small = rem + F.floor((row_1based - pivot - 1) / F.greatest(base, F.lit(1))) + 1
    return F.when(row_1based <= pivot, in_big).otherwise(in_small)


def pack_stats(df_with_packs: DataFrame, group_col: str | None = None) -> DataFrame:
    """Per-pack row counts and time bounds — the flush-side view of a pack
    (what the reference writes as one ``.npz``, readport.py:392-405)."""
    keys = ([group_col] if group_col else []) + ["pack_id"]
    return df_with_packs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("time").alias("t_min"),
        F.max("time").alias("t_max"),
    )
