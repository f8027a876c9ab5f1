"""Iterative graph algorithms: connected components by min-label
propagation, fixed-iteration PageRank (uniform or seeded restart) and
bitmask-OR reach rounds.

The dedup pipeline needs TRUE duplicate clusters: pairwise near-dup edges
(A~B, B~C) must collapse transitively even when A~C itself missed the
similarity threshold. That is connected components — an inherently
iterative algorithm, the one class SURVEY.md §2 has no single-plan Spark
expression for.

Scale shape: each iteration is one join + one aggregation (both hash-
partitioned on node id); lineage is truncated per iteration with a lazy
localCheckpoint — without it the plan tree doubles every round and the
driver dies planning iteration ~15 (the canonical iterative-Spark trap).
Iterations needed = graph diameter, which for dedup clusters (near-cliques
of near-identical docs) is 2-3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def undirected(e: DataFrame) -> DataFrame:
    """Every edge of the two-column edge list `e` in both directions, under
    e's own column names (UNION ALL: no dedup)."""
    a, b = e.columns
    return e.unionByName(e.select(F.col(b).alias(a), F.col(a).alias(b)))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; component is
    the minimum node id reachable via undirected edges.

    Min-label propagation: every node starts labeled with itself; each
    round nodes take the min of their own and their neighbors' labels;
    fixpoint when no label changes. Raises if max_iterations is hit —
    silent partial convergence would mislabel clusters."""
    # materialize the edge list before symmetrizing — the union references
    # `edges` twice and would compute its (possibly expensive) upstream,
    # e.g. a pairwise-similarity verification, twice
    edges = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    sym = undirected(edges).distinct().localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        neighbor_labels = sym.join(
            labels, sym["b"] == labels["node"]
        ).select(F.col("a").alias("node"), "label")
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.select("node", F.col("label").alias("old")), "node")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment for dedup: every row of `df` mapped to its
    duplicate-cluster representative (the min id in its component);
    rows with no near-dup edge are their own singleton cluster."""
    comp = connected_components(pairs, src="id_a", dst="id_b")
    out = df.join(comp, df[id_col] == comp["node"], "left")
    return out.withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("node")


# Rounds between rank-frame checkpoints on pagerank's single-consumer
# "leak" path: bounds the plan depth of any iteration count.
_LEAK_CHECKPOINT_EVERY = 8


def pagerank_fixed_iterations(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    dangling: str = "redistribute",
    seed: Column | None = None,
) -> DataFrame:
    """(node, pr) after a FIXED number of power iterations of PageRank over
    the directed edge list — the canonical iterative join-aggregate workload
    (each iteration: one shuffle-join of the rank vector against the edge
    list + one hash aggregation on the destination).

    All arithmetic is SCALED-INTEGER (ranks are bigints summing to ~`scale`,
    `div` floor division everywhere), so the result is bit-identical in any
    engine — no float summation-order drift — and the catalog entry gets a
    REAL cross-engine oracle (unrolled CTEs) instead of a rows-only check,
    unusual for an iterative algorithm. Callers pass a symmetrized edge list
    for undirected graphs.

    `dangling` picks the treatment of nodes with out-degree 0:
      * "redistribute" (default) — the standard formulation: each
        iteration sums the rank mass sitting on dangling nodes (one tiny
        aggregate, broadcast back) and spreads it uniformly, so total
        mass is conserved up to floor-division dust;
      * "leak" — dangling mass vanishes (the power-iteration-over-edges
        shortcut); only correct when the caller knows the graph has no
        dangling sources, so it is opt-in, not silently the default.

    `seed`, when given, is an aggregate over the node frame's `node`
    column that picks ONE restart node (e.g. ``F.min("node")``): the walk
    starts there with all `scale` mass and every teleport lands there —
    personalized PageRank / random walk with restart. Seeded runs take
    the "leak" path.

    Lineage discipline: on the "redistribute" path the rank frame is
    localCheckpointed per iteration (it feeds two consumers per round, so
    an un-truncated tree recomputes per consumer and doubles every
    round); on the "leak" path the rank chain has a single consumer per
    round, so it is checkpointed only every `_LEAK_CHECKPOINT_EVERY`
    iterations: a short loop builds ONE query over the checkpointed
    edge/node frames, and a long one never grows a plan deeper than
    that many rounds."""
    if dangling not in ("redistribute", "leak"):
        raise ValueError(f"dangling must be 'redistribute' or 'leak': {dangling!r}")
    if seed is not None and dangling != "leak":
        raise ValueError("a seeded restart runs on the 'leak' path")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    if dangling == "redistribute":
        # the per-iteration dangling-mass anti-join probes deg directly —
        # checkpoint it so the aggregation is not recomputed every round
        deg = deg.localCheckpoint(eager=False)
    # r9 plan-shape restructure (guide §2.4: remove shuffles/stages
    # outright; values bit-identical — every lane is bigint arithmetic):
    #   * the per-src degree is folded INTO the edge list ONCE (e2), so
    #     each iteration runs ONE join against the rank vector instead of
    #     an edge join followed by a degree join;
    #   * the node count (or the restart seed) rides as a constant column
    #     on a once-checkpointed node frame (nodes2) instead of being
    #     re-aggregated and re-broadcast inside every iteration's subtree.
    e2 = e.join(deg, "src").localCheckpoint(eager=False)
    if seed is None:
        const = nodes.agg(F.count(F.lit(1)).alias("__n"))
        start = F.expr(f"{scale}L div __n")
        teleport = F.expr(f"({100 - damping_pct} * {scale}L) div (100 * __n)")
    else:
        const = nodes.agg(seed.alias("__seed"))
        on_seed = F.col("node") == F.col("__seed")
        zero = F.lit(0).cast("long")
        start = F.when(on_seed, F.lit(scale).cast("long")).otherwise(zero)
        teleport = F.when(
            on_seed, F.expr(f"({100 - damping_pct} * {scale}L) div 100")
        ).otherwise(zero)
    nodes2 = nodes.crossJoin(F.broadcast(const)).localCheckpoint(eager=False)
    pr = nodes2.select("node", start.alias("pr"))
    for i in range(1, iterations + 1):
        summed = (
            e2.join(pr.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("pr div __deg").alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        if dangling == "redistribute":
            # mass sitting on out-degree-0 nodes this iteration: one tiny
            # aggregate (anti-join against the degree frame), broadcast
            # back and spread uniformly — conserves total mass
            dang = (
                pr.join(deg, pr["node"] == deg["src"], "left_anti")
                .agg(F.coalesce(F.sum("pr"), F.lit(0)).alias("__d"))
            )
            inflow = F.expr(
                f"({damping_pct} * (coalesce(__s, 0L) + __d div __n)) div 100"
            )
            base = nodes2.crossJoin(F.broadcast(dang))
        else:
            inflow = F.expr(f"({damping_pct} * coalesce(__s, 0L)) div 100")
            base = nodes2
        pr = base.join(summed, "node", "left").select(
            "node", (teleport + inflow).alias("pr")
        )
        if dangling == "redistribute" or i % _LEAK_CHECKPOINT_EVERY == 0:
            # the rank frame feeds TWO consumers next round (inflow join +
            # dangling aggregate) — checkpoint or both recompute it. On the
            # "leak" path pr is a SINGLE-consumer chain with no duplicated
            # subtree, so it skips the per-iteration checkpoint (and its
            # serialized AQE stage-materialization at build time) and is
            # cut only every _LEAK_CHECKPOINT_EVERY rounds.
            pr = pr.localCheckpoint(eager=False)
    return pr


def bitmask_reach_rounds(edges: DataFrame, rounds: int) -> list[DataFrame]:
    """Exact reach balls by bitmask OR over an edge list (a, b) whose node
    ids are in [0, 63]: frame r holds (v, ball), where ball has bit v'
    set iff v' is within r hops of v. Frame 0 is each node's own bit; each
    round ORs a node's ball with its out-neighbors' balls (one equi-join +
    one bit_or aggregate) and is checkpointed. Returns rounds + 1 frames."""
    nodes = edges.select(F.col("a").alias("v")).distinct()
    frames = [
        nodes.select(
            "v",
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), CAST(v AS INT)) AS BIGINT)"
            ).alias("ball"),
        ).localCheckpoint(eager=False)
    ]
    for _ in range(rounds):
        prev = frames[-1]
        frames.append(
            prev.join(edges, prev["v"] == edges["a"], "left")
            .join(
                prev.select(
                    F.col("v").alias("b"), F.col("ball").alias("nb_ball")
                ),
                "b",
                "left",
            )
            .groupBy(prev["v"].alias("v"))
            .agg(
                F.expr(
                    "CAST(coalesce(bit_or(nb_ball), 0) | max(ball)"
                    " AS BIGINT)"
                ).alias("ball")
            )
            .localCheckpoint(eager=False)
        )
    return frames
