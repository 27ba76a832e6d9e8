"""Graph-ish operators for dedup pipelines: connected components over
near-duplicate pair edges, so each duplicate *cluster* keeps one
canonical representative (pairs alone can't dedup transitively:
A≈B, B≈C must collapse A, B, C together).

Iterative min-label propagation: every node repeatedly adopts the
smallest label among itself and its neighbors; converges in
O(component diameter) rounds (near-dup clusters are shallow — pairs
and small stars — so a handful of rounds closes them). Each round is
one join + one aggregate, both shuffling on node id; the previous
round unpersists, so memory stays one labels-table deep. The
convergence probe is a count() per round — the deliberate
driver-side action that bounds the loop.

Each round's labels are ``localCheckpoint``-ed, not merely persisted:
persist caches *data* but leaves the logical plan nested one level
deeper per round, and Catalyst re-analysis of the growing tree made
round cost GROW 1.8s → 3.8s → 10.7s on a 3-round toy graph.
Checkpointing truncates the plan to a leaf each round — cost per
round stays flat. (localCheckpoint stores partitions on executors;
on a cluster where executor loss mid-algorithm must be survivable,
switch to reliable ``checkpoint()`` with a checkpoint dir.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node appearing in the
    (id_a, id_b) ``edges``; cluster_id = the minimum node id in the
    component. Raises after 20 label-propagation rounds without
    convergence."""
    max_iter = 20
    sym = (
        edges.select(F.col("id_a").alias("n"), F.col("id_b").alias("m"))
        .unionByName(edges.select(F.col("id_b").alias("n"), F.col("id_a").alias("m")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select("n").distinct().withColumn("label", F.col("n")).localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = sym.join(
            labels.select(F.col("n").alias("m"), "label"), "m"
        ).select("n", "label")
        new_labels = (
            labels.unionByName(msgs).groupBy("n").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.join(
                labels.select("n", F.col("label").alias("__old")), "n"
            )
            .filter(F.col("label") != F.col("__old"))
            .count()
        )
        # NOTE: localCheckpoint blocks are NOT cache-manager entries,
        # so DataFrame.unpersist() would be a no-op; rebinding `labels`
        # drops the only reference and the ContextCleaner reclaims the
        # old round's blocks asynchronously — memory stays bounded at
        # a few rounds of labels tables, not the full history.
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a component's diameter exceeds it); returning partial "
            "labels would silently split real clusters"
        )
    sym.unpersist()
    return labels.select(F.col("n").alias("node"), F.col("label").alias("cluster_id"))


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-iteration weighted PageRank over (src, dst, w) edges:
    (node, pr) after exactly three power steps of
    ``pr' = (1-d)/N + d * Σ_in pr * w_norm`` (d = 0.85) with out-edge
    weights normalized per source.

    Replayable-by-construction: every checkpoint (normalized weights,
    initial rank, each iteration's rank) is rounded to 6 decimals, so an
    engine that unrolls the same iterations as SQL CTEs (the DuckDB
    oracle does) reproduces the values bit-for-bit — iterative ≠
    unverifiable.

    Scale shape: each step is one shuffle join (ranks ⋈ edges on src,
    both hash-partitioned) + one aggregate on dst; ranks stay one
    row per node. ``localCheckpoint`` per step keeps the plan flat
    (see module docstring — persist alone let Catalyst re-analysis
    grow per round). Nodes with no in-edges keep the teleport term
    via the left join; dangling-node mass is dropped identically on
    both sides rather than redistributed.
    """
    damping = 0.85
    e = edges.select("src", "dst", "w")
    from pyspark.sql import Window

    norm = e.select(
        "src",
        "dst",
        F.round(
            F.col("w") / F.sum("w").over(Window.partitionBy("src")), 6
        ).alias("wn"),
    ).persist()
    nodes = (
        norm.select(F.col("src").alias("node"))
        .unionByName(norm.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = nodes.crossJoin(
        F.broadcast(nodes.agg(F.count("*").alias("n_nodes")))
    ).persist()
    pr = base.select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 6).alias("pr")
    ).localCheckpoint()
    for _ in range(3):
        contrib = (
            pr.join(norm, pr.node == norm.src)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("wn")).alias("c"))
        )
        pr = (
            base.join(contrib, base.node == contrib.dst, "left")
            .select(
                "node",
                F.round(
                    (1 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("c"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    norm.unpersist()
    base.unpersist()
    return pr
