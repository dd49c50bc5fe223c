"""Iterative graph analytics on edge DataFrames: fixed-iteration
PageRank.

Companion to connected components in ``operators/dedup.py``
(neardup_clusters: one-task union-find on small graphs, star rounds on
large ones): where that labels components, this powers importance
scoring over a relationship graph — e.g. ranking suppliers by how
central they are to high-degree customers, or domains by inbound links
in a crawl. Both bound lineage with the checkpoint generations of
``operators/_checkpoint.py``, which free each superseded generation.

Scale shape per iteration: one shuffle to aggregate contributions by
destination (sum is a partial agg — map-side combined), one join of
ranks onto edges on the source key. Ranks are O(nodes) rows, edges
are the big side and are never mutated or re-partitioned; with edges
pre-bucketed by ``src`` every iteration's join is shuffle-free on the
big side. Iterations are FIXED (not run-to-convergence) so the result
is a closed-form composition both engines can reproduce — the DuckDB
oracle chains one CTE per iteration.

Provenance: a §2C-class extension — the reference has no graph
abstraction at all (SURVEY §1.1: no streams/graphs/time-series; its
relational surface is delegated SQL, /root/reference/src/extract/
pg.rs:12-22); iterative analytics is Spark-native capability added on
the same edge-DataFrame model as the dedup clustering fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from skopje_spark.operators._checkpoint import checkpoint_generation

__all__ = ["pagerank"]


# Per-iteration node-space tables (rank/outdeg, then the inflow sums)
# are broadcast into the edge join only below this node count (~160 MB
# framed at 40 B/row) — small/medium graphs skip shuffling the edge
# list entirely per iteration; beyond it the joins fall back to the
# planner's shuffle strategies, which is the only correct shape when
# the rank table itself is cluster-sized.
_BROADCAST_NODES_MAX = 4_000_000


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping: float = 0.85,
    validate: bool = True,
    seeds: list | None = None,
    materialize_edges: bool = True,
    checkpoint_interval: int = 1,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Requires every node to have out-degree ≥ 1 (undirected graphs:
    emit both directions — then the requirement holds by
    construction and no dangling-mass redistribution term is needed,
    keeping the recurrence exactly
    ``r' = (1-d)/n + d·Σ_in r/outdeg``). Returns ``(node,
    norm_rank)`` with ranks normalized to mean 1 (multiplied by n) so
    magnitudes are scale-free.

    ``validate`` raises if a dangling node exists (silently wrong
    ranks are worse than a loud contract); callers whose edge
    construction guarantees the invariant — e.g. emitting both
    directions of an undirected graph — pass ``validate=False`` to
    skip the anti-join scan it costs.

    ``seeds`` switches to PERSONALIZED PageRank: the teleport
    distribution (and the initial ranks) become uniform over the seed
    set instead of over all nodes, so rank mass measures proximity to
    the seeds — the propagate-quality-from-trusted-pages signal
    (TrustRank-style) used to score crawl data from a vetted seed
    list. Recurrence: ``r' = (1-d)·p + d·Σ_in r/outdeg`` with
    ``p = 1/|seeds|`` on seeds, 0 elsewhere. Seeds must be existing
    nodes (raises otherwise: a silently-absent seed would renormalize
    the teleport mass). Execution cost is identical to the uniform
    variant — the teleport column is a codegen literal membership
    test, no extra join.

    ``symmetric=True`` declares that every edge's reverse is also
    present (e.g. an undirected graph emitted in both directions). In
    that case every node has in-degree >= 1, so the inflow aggregation
    already covers the whole node set and the per-iteration left join
    back onto ``nodes`` (plus its broadcast build) is skipped — ranks
    are read straight off the aggregation, bit-identically (the
    coalesce(0.0) arm is unreachable for symmetric graphs).

    ``checkpoint_interval`` bounds lineage: ranks are materialized
    every that-many iterations, keeping plan depth constant for long
    runs. Each checkpoint is also a driver-side barrier — one extra
    job submission + AQE replan per iteration — so for SHORT
    fixed-iteration runs a larger interval (or 0 = never) folds the
    whole recurrence into one job and removes the per-iteration
    scheduling gaps. Default 1 (checkpoint every iteration) is the
    safe long-run behavior.
    """
    # ONE materialization of the (possibly expensively derived) edge
    # list, then every iteration-invariant derived table — out-degree,
    # node set — is one cheap pass over the materialized edges and is
    # itself checkpointed (all O(nodes)). Every node has out-degree
    # >= 1 by contract, so the node set is exactly distinct(src); each
    # iteration then costs one edge join + one dst aggregation over
    # materialized inputs, nothing re-derived (same lineage-bounding
    # pattern as the clustering fixpoint in operators/dedup.py).
    # ``materialize_edges=False`` skips the edge checkpoint for callers
    # whose edge frame is already materialized upstream (or is a cheap
    # derivation of one — e.g. an explode over a checkpointed pair
    # list): re-deriving per pass is then cheaper than rewriting the
    # doubled edge rows into block storage.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if materialize_edges:
        e = e.localCheckpoint(eager=True)
    # the node count rides the outdeg materialization via observe() —
    # no separate count job (guide §2.6: cut driver-side job count)
    n_obs = Observation()
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    nodes = outdeg.select(
        F.col("src").alias("node")
    )  # distinct(src) for free: outdeg is already one row per src;
    # a lazy projection of outdeg's checkpoint — no second copy
    n = int(n_obs.get["n"] or 0)
    if n == 0:
        raise ValueError("pagerank: empty graph")
    if validate:
        dangling = (
            e.select(F.col("dst").alias("node"))
            .distinct()
            .join(nodes, "node", "left_anti")
            .limit(1)
            .count()
        )
        if dangling:
            raise ValueError(
                "pagerank: graph has nodes with out-degree 0; emit both edge "
                "directions (undirected) or add self-loops before calling"
            )

    if seeds is not None:
        if not seeds:
            raise ValueError("pagerank: empty seed list")
        seed_vals = [str(x) for x in seeds]
        n_found = nodes.filter(F.col("node").isin(seed_vals)).count()
        if n_found != len(set(seed_vals)):
            raise ValueError(
                f"pagerank: {len(set(seed_vals)) - n_found} seed(s) are not "
                "graph nodes"
            )
        pvec = F.when(
            F.col("node").isin(seed_vals), F.lit(1.0 / len(set(seed_vals)))
        ).otherwise(F.lit(0.0))
    else:
        pvec = F.lit(1.0 / n)

    ranks = nodes.withColumn("rank", pvec)
    teleport = F.lit(1.0 - damping) * pvec
    # the rank and out-degree tables are node-space; fold rank/outdeg
    # BEFORE touching the edge list so each iteration pays exactly ONE
    # edge-sized join (the old shape joined edges⋈outdeg and then
    # edges⋈ranks — two edge-sized joins, and with checkpointed inputs
    # carrying no size stats the planner sort-merge-shuffled the edge
    # list every iteration). Below _BROADCAST_NODES_MAX the folded
    # table is broadcast, so the edge list is never shuffled at all —
    # per-iteration cost collapses to one map-side join + the
    # map-side-combined inflow aggregation (bytes ∝ nodes, not edges).
    small_graph = n <= _BROADCAST_NODES_MAX
    rank_ids: set[int] = set()
    for it in range(iters):
        per_src = (
            ranks.join(
                outdeg.select(F.col("src").alias("node"), "outdeg"), "node"
            )
            .select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
        )
        contribs = (
            e.join(F.broadcast(per_src) if small_graph else per_src, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        if symmetric:
            # indeg >= 1 for every node: the aggregation output IS the
            # node set, no join-back needed
            ranks = contribs.select(
                "node",
                (teleport + F.lit(damping) * F.col("inflow")).alias("rank"),
            )
        else:
            ranks = nodes.join(
                F.broadcast(contribs) if small_graph else contribs,
                "node",
                "left",
            ).select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        # O(nodes) rows; truncating lineage every checkpoint_interval
        # iterations keeps plan depth constant regardless of iters, and
        # freeing the superseded generation keeps storage constant too
        # (skipped after the last iteration — the caller's action
        # materializes the final plan anyway)
        if (
            checkpoint_interval > 0
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < iters
        ):
            ranks, rank_ids = checkpoint_generation(ranks, rank_ids)
    return ranks.select("node", (F.col("rank") * F.lit(float(n))).alias("norm_rank"))
