"""Connected components over a pair list — duplicate-cluster assignment.

Near-dup pipelines need more than pairs: "keep one canonical doc per
duplicate CLUSTER" requires grouping transitively-linked pairs
((a,b),(b,c) -> {a,b,c}). This is min-label propagation: every node starts
labeled with itself; each round a node takes the minimum label among
itself and its neighbors; fixpoint = each component labeled by its minimum
member. Rounds needed = graph diameter, and duplicate clusters are
shallow (near-cliques from LSH/jaccard edges), so convergence is fast.

Scale notes: each round is one join on node + one min-aggregate — all
distributed, nothing on the driver except the scalar convergence check.
Lineage is cut every round with localCheckpoint so 10 rounds don't build a
10-deep replan. For planet-scale graphs swap in the large-star/small-star
variant (same primitives, fewer rounds on high-diameter graphs); for the
near-clique dup graphs this propagation is already within 1-2 rounds of
optimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components", "connected_components_star"]


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Return (node, cluster_id) for every node in ``pairs``, where
    cluster_id is the minimum node id of its connected component.

    ``max_iterations`` counts propagation rounds INCLUDING the fused first
    round; at least one looped round must remain to verify convergence.
    """
    if max_iterations < 2:
        raise ValueError("max_iterations must be >= 2 (one round to "
                         "propagate, one to verify convergence)")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # Fused first round: starting from self-labels, one propagation step
    # yields exactly least(node, min(neighbor)) — computable straight from
    # the edge list with a single min-aggregate, no label join needed.
    # (Every node appears as src because edges are symmetrized above.)
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_nbr"))
        .select("node", F.least(F.col("node"), F.col("_nbr")).alias("label"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iterations - 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the old label through the join so convergence is a cheap
        # filter+count over the ALREADY-MATERIALIZED checkpoint — one join
        # job per round, not two (a self-join convergence check would cost
        # a full extra join+shuffle per iteration).
        step = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left_outer")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = step.filter(F.col("label") != F.col("old_label")).count()
        labels = step.select("node", "label")
        if changed == 0:
            break
    if changed > 0:
        # Diameter exceeded max_iterations: labels are NOT component minima.
        # Observable failure beats silently-wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations for high-diameter graphs"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (lo, hi) pairs, self-loops dropped."""
    return (
        edges.select(
            F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
    exact_convergence: bool = True,
) -> DataFrame:
    """(node, cluster_id) via large-star/small-star alternation — the
    DIAMETER-INDEPENDENT sibling of ``connected_components`` (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14: converges
    in O(log^2 n) rounds regardless of diameter, vs diameter rounds for
    min-label propagation).

    Per round (all distributed — one groupBy-min + one join each phase,
    lineage cut per phase):
    - large-star: for every node u, hook each LARGER neighbor v > u onto
      m = min(N(u) + {u}).
    - small-star: direct edges toward the smaller endpoint, then hook each
      smaller-or-equal neighbor (and u itself) onto m.
    Fixpoint: the canonical undirected edge set stops changing; edges then
    form stars rooted at each component's minimum, read off as labels.

    Use this over ``connected_components`` when the graph may contain long
    chains (e.g. similarity graphs thresholded loosely enough to create
    transitive paths); for the near-clique graphs of dedup pipelines the
    propagation loop needs fewer total jobs. Same failure contract: loud
    RuntimeError if not converged within ``max_iterations``.

    Convergence detection: ``exact_convergence=True`` (default)
    compares edge sets exactly — count equality + an empty ``exceptAll`` —
    so correctness never rests on a hash. Opting into
    ``exact_convergence=False`` swaps in a (count, sum-of-xxhash64)
    fingerprint: one aggregate instead of an extra exceptAll shuffle per
    round, at ~2^-64 per-round collision odds — the scale path for graphs
    where the per-round exceptAll is material.
    """
    if max_iterations < 2:
        raise ValueError("max_iterations must be >= 2")
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .union(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = _canonical(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    ).localCheckpoint()

    def _fingerprint(e: DataFrame) -> tuple:
        # Order-insensitive set fingerprint: (count, sum of xxhash64(lo,hi)).
        # One aggregate, no join/shuffle beyond the final reduce; equal
        # fingerprints mean equal edge sets up to ~2^-64 collision odds per
        # round. The decimal cast keeps the sum exact (Spark 4 ANSI mode
        # would raise on long-sum overflow of 64-bit hash values).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("lo", "hi").cast("decimal(20,0)")).alias("s"),
        ).first()
        return (row["n"], row["s"])

    def _same_edge_set(prev: DataFrame, nxt: DataFrame, n_prev: int, n_next: int) -> bool:
        # Exact set equality on distinct canonical relations: equal counts
        # + empty difference. Both inputs are checkpointed, so this is one
        # exceptAll job, not a lineage replay.
        return n_prev == n_next and nxt.exceptAll(prev).isEmpty()

    fp_before = _fingerprint(edges) if not exact_convergence else None
    n_before = edges.count() if exact_convergence else None
    converged = False
    for _ in range(max_iterations):
        # large-star over the symmetrized adjacency
        sym = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).union(edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        lmin = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = _canonical(
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        ).localCheckpoint()
        # small-star over edges directed toward the smaller endpoint:
        # the canonical (lo, hi) form IS that orientation (hi -> lo).
        smin = large.groupBy(F.col("hi").alias("u")).agg(
            F.least(F.min("lo"), F.first("hi")).alias("m")
        )
        hooked = large.join(smin, large.hi == smin.u).select(
            F.col("lo").alias("u"), F.col("m").alias("v")
        )
        selfed = smin.select(F.col("u"), F.col("m").alias("v"))
        edges_next = _canonical(hooked.union(selfed)).localCheckpoint()
        if exact_convergence:
            n_after = edges_next.count()
            same = _same_edge_set(edges, edges_next, n_before, n_after)
            edges, n_before = edges_next, n_after
        else:
            fp_after = _fingerprint(edges_next)
            same = fp_after == fp_before
            edges, fp_before = edges_next, fp_after
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds; the edge set is still changing"
        )
    # Converged edges are stars (non-root hi -> root lo): a node's label is
    # its star root if it appears as hi, else itself (roots + singletons).
    roots = edges.groupBy(F.col("hi").alias("node")).agg(
        F.min("lo").alias("root")
    )
    return nodes.join(roots, "node", "left_outer").select(
        "node", F.coalesce("root", "node").alias("cluster_id")
    )
