"""Iterative graph operators (PageRank; connected components lives in
dedup.py where it serves dup-cluster folding).

The reference cannot express iteration at all — one mapper/reducer pair
per job (``/root/reference/Master/master.py`` runs a single
map-shuffle-reduce pass) — so an iterative algorithm there means N
manual job submissions with intermediate files.  Here each power
iteration is a declarative join+agg and Catalyst/AQE plans every step.

Scale notes: the rank and degree relations are |nodes|-sized — tiny next
to |edges| — so both sides broadcast and an iteration costs ONE shuffle
(the groupBy(dst)).  Cache the edge list; it is reused every iteration.
Lineage stays shallow (a few iterations); for deep iteration counts add
``localCheckpoint`` every ~10 rounds as connected_components does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_cache


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    round_digits: int = 6,
    assume_distinct: bool = False,
    checkpoint_ranks: bool = True,
    checkpoint_interval: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list (``src``, ``dst``).

    Classic simplified formulation (as in the Spark examples): every node
    starts at rank 1.0; each iteration a node's rank splits evenly over
    its out-edges and ``new = (1-d) + d * sum(inbound)``.  Dangling-node
    mass is dropped (documented trade-off, not a bug).

    Ranks are rounded to ``round_digits`` after EVERY iteration so the
    fixpoint is bit-stable under double accumulation-order differences —
    required for the chained-CTE SQL oracle to match exactly.

    The |nodes|-sized rank and degree relations are broadcast (a
    map-side join) so an iteration costs ONE shuffle (the groupBy(dst)).
    That is the right plan while |nodes| fits the broadcast limit —
    dup-cluster graphs, entity graphs.

    ``checkpoint_ranks=True`` truncates the evolving rank lineage with
    ``localCheckpoint`` every ``checkpoint_interval`` iterations: the
    plan re-nests per round, so plan build + codegen grow superlinearly
    with UNBOUNDED iteration depth — but ``localCheckpoint`` is EAGER
    (it materializes and blocks), so truncating every round at shallow
    depth is a net loss.  Measured at sf0.1 / 3 iterations: every-round
    checkpointing of ranks+statics ran 3.65 s vs 1.67 s for the pure
    cached plan (round-5 bench, BASELINE.md "graph_pagerank r5
    regression") — hence the default interval of 10, which at ≤10
    iterations is exactly the cached plan, and at 100 iterations caps
    the nested-plan depth at 10 rounds.  The static relations (edges /
    deg / nodes) have FIXED lineage regardless of depth, so they are
    always ``cache()``-materialized (lazy, spillable), never eagerly
    checkpointed.
    """
    edges = edges.select("src", "dst")
    if not assume_distinct:
        edges = edges.distinct()
    # hash-partition once on the key every iteration reuses: the
    # groupBy(dst) under broadcast joins (which preserve partitioning)
    edges = edges.repartition("dst").transform(tracked_cache)
    # deg and nodes are static across iterations AND appear in every
    # iteration's lineage — materialize both or each re-nests per
    # iteration (the 1-shuffle distinct would re-plan 3x per round)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).transform(tracked_cache)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(tracked_cache)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iterations):
        contribs = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("inbound"))
        )
        # contribs is |nodes|-sized — broadcast it so the rank refresh
        # is map-only instead of a both-sides shuffle
        ranks = (
            nodes.join(F.broadcast(contribs), nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    F.lit(1 - damping) + F.lit(damping) * F.coalesce("inbound", F.lit(0.0)),
                    round_digits,
                ).alias("rank"),
            )
        )
        if (
            checkpoint_ranks
            and i < iterations - 1
            and (i + 1) % checkpoint_interval == 0
        ):
            ranks = ranks.localCheckpoint()
    return ranks
