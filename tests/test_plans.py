"""Physical-plan regression tests — lock in the SCALE.md audit claims.

These assert plan *shape*, not timings: broadcast joins where expected,
rank pushdown for top-k, the as-of join's single shuffle, zero
row-at-a-time Python UDFs anywhere in the registry, and partition
pruning on partitioned parquet reads.
"""

from __future__ import annotations

import pytest


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


SF_DIR = "/root/testdata/sf0.001"


def test_q3_broadcasts_dimensions(spark):
    from tower_parse_spark.queries.relational import q3_shipping_priority

    plan = plan_of(q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle at this SF


def test_top_customers_rank_pushdown(spark):
    from tower_parse_spark.queries.relational import top_customers_per_nation

    plan = plan_of(top_customers_per_nation(spark, SF_DIR))
    assert "WindowGroupLimit" in plan  # rank filter pruned before sort


def test_asof_join_single_shuffle(spark):
    """The as-of join is union + one Exchange on the key + one Window —
    an inequality-join row explosion would show extra joins/exchanges."""
    from tower_parse_spark.queries.temporal import events_asof_order

    plan = plan_of(events_asof_order(spark, SF_DIR))
    body = plan.split("TakeOrderedAndProject")[-1]  # ignore output sort
    assert body.count("Exchange") <= 2  # key exchange (+ AQE read)
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_no_nested_loop(spark):
    from tower_parse_spark.queries.temporal import events_order_range_join

    plan = plan_of(events_order_range_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_single_pass(spark):
    """The multi-resolution rollup must be ONE aggregation pass: an
    Expand over the grouping sets feeding a single agg exchange — not a
    scan/shuffle per resolution (output sort exchange aside)."""
    from tower_parse_spark.queries.temporal import events_time_rollup

    plan = plan_of(events_time_rollup(spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1
    body = plan.split("Sort")[-1]  # below the output sort
    assert body.count("Exchange") <= 2  # agg exchange (+ AQE read)


@pytest.mark.slow
def test_no_row_at_a_time_python_anywhere(spark):
    """Every registry query must stay JVM-side or Arrow-batched: the
    row-at-a-time Python UDF operator (BatchEvalPython) is banned, and
    the tools/plan_audit.py operator policy is locked in the same sweep:
    no CartesianProduct anywhere; BroadcastNestedLoopJoin only for the
    ANN brute-force baseline (broadcast cross join IS the exact scan)
    and the Q22 scalar-threshold shape (one-row broadcast aggregate)."""
    import __spark_entry__ as e
    from tools.plan_audit import (
        NESTED_LOOP_OK,
        SINGLE_PARTITION_OK,
        single_partition_funnels,
    )

    for name, fn in e.queries().items():
        plan = plan_of(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name not in NESTED_LOOP_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name
        if name not in SINGLE_PARTITION_OK:
            assert not single_partition_funnels(plan), name


def test_single_partition_funnel_rule(spark):
    """The audit blind spot that let order_gaps_quartiles' global ntile
    pass clean for 11 rounds (VERDICT r11 wrong #2): the funnel detector
    must go red on the old ntile-over-global-window shape, stay green on
    the re-planned query, and leave one-row final aggregates (a normal
    SinglePartition exchange consumer) alone."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tools.plan_audit import single_partition_funnels
    from tower_parse_spark.queries.relational_ext import order_gaps_quartiles
    from tower_parse_spark.session import load_table

    orders = load_table(spark, SF_DIR, "orders")
    old_shape = orders.select(
        "o_orderkey",
        F.ntile(4)
        .over(W.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("price_quartile"),
    )
    assert any("Window" in h for h in single_partition_funnels(plan_of(old_shape)))
    assert not single_partition_funnels(plan_of(order_gaps_quartiles(spark, SF_DIR)))
    one_row = orders.agg(F.sum("o_totalprice").alias("s"))
    assert not single_partition_funnels(plan_of(one_row))


def test_single_partition_funnel_rule_on_executed_aqe_plan(spark):
    """ADVICE r12 #2: an EXECUTED (AQE-materialized) plan inserts
    ShuffleQueryStage/AQEShuffleRead wrappers between an Exchange
    SinglePartition and its Sort/Window consumer; the ancestor walk
    must treat them as transparent so the detector stays correct on
    post-execution plan strings, and must still leave a one-row final
    aggregate (Exchange -> ShuffleQueryStage -> HashAggregate) alone."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tools.plan_audit import single_partition_funnels
    from tower_parse_spark.session import load_table

    orders = load_table(spark, SF_DIR, "orders")
    funnel = orders.select(
        "o_orderkey",
        F.ntile(4)
        .over(W.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("q"),
    )
    funnel.collect()  # materialize so the final plan carries the stages
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan  # the shape under test
    final = plan.split("== Initial Plan ==")[0]
    assert "QueryStage" in final  # wrappers actually present
    assert any("Window" in h for h in single_partition_funnels(final))

    one_row = orders.agg(F.sum("o_totalprice").alias("s"))
    one_row.collect()
    agg_plan = one_row._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" in agg_plan
    assert not single_partition_funnels(agg_plan)


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Key-in-path layout (A19) pays off at read time: a filter on the
    partition column prunes directories at planning, not post-scan."""
    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 5 AS INT) AS lvl")
    path = str(tmp_path / "part")
    df.write.partitionBy("lvl").parquet(path)
    read = spark.read.parquet(path).filter("lvl = 3")
    plan = plan_of(read)
    assert "PartitionFilters: [isnotnull(lvl" in plan
    # execute THIS dataframe's plan (count() would build a different one,
    # leaving these metrics at zero), then read the scan metrics
    assert len(read.collect()) == 200
    scan = read._jdf.queryExecution().executedPlan().collectLeaves().head()
    assert scan.metrics().apply("numPartitions").value() == 1


def test_semantic_dedup_block_keys_non_nullable(spark):
    """The (cell, blk) equi-join keys must stay non-nullable: a nullable
    key re-inlines the staged scoring fold below the inferred IsNotNull
    (the r5 pushdown disease). Also: no nested-loop join anywhere."""
    from tower_parse_spark.queries.curation import semantic_dedup

    df = semantic_dedup(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    from pyspark.sql import functions as F

    from tower_parse_spark.operators.semdedup import semantic_dedup_flags
    from tower_parse_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    staged = semantic_dedup_flags(emb, dim=64)
    cell_field = dict(
        (f.name, f) for f in staged.schema.fields
    )["cell"]
    assert not cell_field.nullable


def test_multimodal_near_dup_single_arrow_stage(spark):
    """Exactly ONE Python stage (the Arrow phash mapInPandas) in the
    whole pair pipeline — the band explode and bucket join must not
    drag extra Python stages in, and no per-row Python exists."""
    from tower_parse_spark.queries.curation import multimodal_near_dup

    plan = plan_of(multimodal_near_dup(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    # the checkpointed phash relation hides its MapInPandas behind the
    # RDD scan, so count Python stages in the pre-checkpoint plan
    from tower_parse_spark.operators import multimodal as M
    from tower_parse_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    ph_plan = plan_of(M.with_phash(M.with_payload(docs)))
    assert ph_plan.count("MapInPandas") == 1


def test_streaming_index_probe_partition_prunes(spark, tmp_path):
    """The epoch-N probe must read only batch < N partitions of the
    index — the PartitionFilters line is the exactly-once guarantee's
    other half (a replayed epoch never sees its own partial write)."""
    from pyspark.sql import functions as F

    from tower_parse_spark.streaming import neardup as ND

    idx, ver = str(tmp_path / "idx"), str(tmp_path / "ver")
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    ND.process_epoch(b0, 0, idx, ver)
    probe_view = ND._read_index(spark, idx, before_batch=1)
    plan = plan_of(probe_view)
    assert "PartitionFilters" in plan and "batch" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


@pytest.mark.slow
def test_streaming_epoch_audit_families_clean(spark):
    """VERDICT r12 #4: the plan audit must sweep the EXECUTED streaming
    epoch plans (foreachBatch bodies + the stateful pack), not only
    their batch twins: every family present, every family clean, and
    Arrow appearing exactly where it is designed to (pack_stateful)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_audit", "tools/plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    rows, bad = pa.audit_streaming(spark)
    assert bad == []
    by_name = {r[0]: r for r in rows}
    assert set(by_name) == {
        "stream:neardup_epoch",
        "stream:pack_epoch_writer",
        "stream:pack_stateful",
    }
    assert all(r[2] == "ok" for r in rows)
    # Arrow exactly where designed: the applyInPandasWithState operator
    assert "arrow:stateful" in by_name["stream:pack_stateful"][3]
    assert not any(
        "arrow" in r[3] for n, r in by_name.items() if n != "stream:pack_stateful"
    )
    # both epochs were captured: per epoch 3 localCheckpoints (batch,
    # banded signatures, verdicts) and 2 writes (verdicts, index)
    assert by_name["stream:neardup_epoch"][3].split(",")[0] == "plans=10"
