"""Count-based tumbling pack operator (A17) — batch forms.

Mirrors the reference's Buffer tests (tests/test_parser.py:124-177): exact
pack sizes, per-group independence, remainder behavior; plus equivalence of
the scalable (bucketed two-pass) form with the window form.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.operators.pack import (
    pack_stats,
    with_pack_id,
    with_pack_id_scalable,
)


@pytest.fixture()
def stream_df(spark):
    """73 rows across 2 groups with unique (time, id) ordering."""
    rows = [
        (i, float(1000 + i), 1 if i % 3 else 2)  # group 2 every 3rd row
        for i in range(73)
    ]
    return spark.createDataFrame(rows, "event_id long, time double, level int")


def test_grouped_packs_exact_n(stream_df):
    out = with_pack_id(stream_df, 10, "level", ["time", "event_id"])
    sizes = {
        (r["level"], r["pack_id"]): r["n_rows"]
        for r in pack_stats(out, "level").collect()
    }
    # group 1 has 48 rows -> 4 full packs of 10 + remainder 8
    g1 = sorted(v for (lvl, _), v in sizes.items() if lvl == 1)
    assert g1 == [8, 10, 10, 10, 10]
    # group 2 has 25 rows -> 2 full + remainder 5
    g2 = sorted(v for (lvl, _), v in sizes.items() if lvl == 2)
    assert g2 == [5, 10, 10]


def test_pack_seq_within_pack(stream_df):
    out = with_pack_id(stream_df, 10, "level", ["time", "event_id"])
    row0 = out.filter((F.col("level") == 1) & (F.col("pack_id") == 0)).orderBy(
        "pack_seq"
    )
    seqs = [r["pack_seq"] for r in row0.collect()]
    assert seqs == list(range(10))


def test_packs_ordered_by_time(stream_df):
    """Earlier rows land in earlier packs (Buffer append order analog)."""
    out = with_pack_id(stream_df, 10, "level", ["time", "event_id"])
    g1 = out.filter(F.col("level") == 1).orderBy("time").collect()
    pack_ids = [r["pack_id"] for r in g1]
    assert pack_ids == sorted(pack_ids)


def test_scalable_matches_window_form(spark):
    """The 100 TB path must produce bit-identical assignments to the
    single-window form on an ungrouped stream."""
    rows = [(i, float(i % 97) + i * 0.001) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, time double").repartition(7)
    a = with_pack_id(
        df, 37, None, ["time", "event_id"], ungrouped="window"
    ).select("event_id", "pack_id", "pack_seq")
    b = with_pack_id_scalable(
        df, 37, order_col="time", tiebreak_col="event_id", num_buckets=5
    ).select("event_id", "pack_id", "pack_seq")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_scalable_single_bucket_degenerate(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], "event_id long, time double")
    out = with_pack_id_scalable(df, 2, order_col="time", tiebreak_col="event_id")
    got = {r["event_id"]: (r["pack_id"], r["pack_seq"]) for r in out.collect()}
    assert got == {1: (0, 0), 2: (0, 1), 3: (1, 0)}


def test_scalable_explicit_num_buckets_1(spark):
    """num_buckets=1 must skip the quantile pass (empty percentage array
    fails analysis), not crash — ADVICE r1."""
    rows = [(i, float(i)) for i in range(7)]
    df = spark.createDataFrame(rows, "event_id long, time double")
    out = with_pack_id_scalable(
        df, 3, order_col="time", tiebreak_col="event_id", num_buckets=1
    )
    got = sorted(
        (r["event_id"], r["pack_id"], r["pack_seq"]) for r in out.collect()
    )
    assert got == [
        (0, 0, 0), (1, 0, 1), (2, 0, 2),
        (3, 1, 0), (4, 1, 1), (5, 1, 2),
        (6, 2, 0),
    ]


def test_ungrouped_auto_dispatch_no_single_partition_window(spark):
    """Ungrouped with_pack_id must not build a single-partition global
    window: the auto-dispatched plan matches the window form's output and
    contains no empty-partition-spec Window exchange."""
    rows = [(i, float(500 - i)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_id long, time double").repartition(5)
    out = with_pack_id(df, 7, None, ["time", "event_id"])
    ref = with_pack_id(df, 7, None, ["time", "event_id"], ungrouped="window")
    assert sorted(
        (r["event_id"], r["pack_id"], r["pack_seq"]) for r in out.collect()
    ) == sorted(
        (r["event_id"], r["pack_id"], r["pack_seq"]) for r in ref.collect()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scalable form partitions its window by the value bucket; a bare
    # "Window [...]" with SinglePartition exchange must not appear
    assert "SinglePartition" not in plan


def test_global_row_matches_window_rank_asc_and_desc(spark):
    """with_global_row_scalable ≡ row_number() over a global window, in
    both directions (desc: NULLS LAST + asc tiebreak, the ORDER BY
    price DESC, id shape), with ties and NULL order values present."""
    from pyspark.sql import Window as W

    from tower_parse_spark.operators.pack import with_global_row_scalable

    rows = [
        (i, None if i % 17 == 0 else float((i * 7) % 23)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "event_id long, v double").repartition(6)
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        ref = df.withColumn(
            "r", F.row_number().over(W.orderBy(order, "event_id")) - 1
        )
        got = with_global_row_scalable(
            df, "v", tiebreak_col="event_id", num_buckets=5,
            index_col="r", descending=desc,
        )
        assert sorted((x["event_id"], x["r"]) for x in got.collect()) == sorted(
            (x["event_id"], x["r"]) for x in ref.collect()
        ), f"descending={desc}"
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan


def test_global_row_total_col(spark):
    """total_col attaches the total row count as a plan literal — what
    exact ntile arithmetic needs."""
    from tower_parse_spark.operators.pack import with_global_row_scalable

    rows = [(i, float(i % 11)) for i in range(90)]
    df = spark.createDataFrame(rows, "event_id long, v double")
    got = with_global_row_scalable(
        df, "v", tiebreak_col="event_id", num_buckets=4,
        index_col="r", total_col="n",
    )
    assert {x["n"] for x in got.collect()} == {90}


@pytest.mark.parametrize("n_rows,k", [(1, 4), (3, 4), (10, 4), (97, 4), (12, 5), (100, 7)])
def test_ntile_expr_matches_builtin(spark, n_rows, k):
    """ntile_expr over the scalable global rank ≡ F.ntile over the
    single-partition window, across remainder shapes incl. N < k."""
    from pyspark.sql import Window as W

    from tower_parse_spark.operators.pack import (
        ntile_expr,
        with_global_row_scalable,
    )

    rows = [(i, float((i * 13) % 37)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "event_id long, v double")
    ref = df.select(
        "event_id",
        F.ntile(k).over(W.orderBy(F.col("v").desc(), "event_id")).alias("q"),
    )
    ranked = with_global_row_scalable(
        df, "v", tiebreak_col="event_id", num_buckets=3,
        descending=True, index_col="r", total_col="n",
    )
    got = ranked.select(
        "event_id",
        ntile_expr(F.col("r") + 1, F.col("n"), k).cast("int").alias("q"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
