"""Iterative graph operators and the one loop they all run through.

:func:`fixpoint` is the engine's only iteration mechanism.  Every
iterative builder — both connected-components forms below, PageRank
(fixed rounds and converged), k-hop reach, k-round Bellman–Ford and
k-core peeling — hands it a start state and a ``step``; the operator
owns what makes a driver-side loop of Spark jobs scale:

- lineage: each state that feeds another round is localCheckpointed,
  so round k plans one round, never k nested ones (without it the
  job DAG, and the work re-run per action, grows with every round);
- actions: at most one scalar action per round, never a collect of
  data;
- memory: a round's checkpoint blocks are released once the next
  round's blocks exist, so the resident state stays one round deep
  however many rounds run.

One rule picks the checkpoint, and it follows from whether a loop has
a per-round measure:

- with a ``measure``, the new state is checkpointed LAZILY and the
  measure (the round's one scalar action) is its first action, so
  the state's final stage materializes in the job that scans it: one
  job per round instead of materialize-then-scan.  With AQE on, a
  lazy localCheckpoint still runs the plan's shuffle stages when the
  frame is built (AQE materializes exchanges to finalize the plan),
  so the fold removes the separate job, not the shuffle work;
- without one, every state that feeds another round is checkpointed
  EAGERLY (nested lazy rounds would re-run round j once per later
  round), and the last state is not checkpointed at all: it is
  consumed once, by the caller's output action.

localCheckpoint blocks are evictable but not recomputable, so each
step should end in a shuffle (a join, an aggregate, a distinct): an
un-shuffled narrow union under a checkpoint lost blocks at the sf10
notch, post-shuffle blocks did not.

Near-dup *pairs* (any dedup tier) become duplicate *clusters* by
connected components; the canonical document of a cluster is its
minimum id.  :func:`connected_components` is min-label propagation,
O(diameter) rounds; :func:`connected_components_alternating` is
star contraction, O(log n) rounds.  Both run to their fixpoint:
labels only decrease, so it always comes.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_checkpoint


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int | None = None,
    measure: Callable[[DataFrame], Any] | None = None,
    converged: Callable[[Any, Any], bool] | None = None,
) -> tuple[DataFrame, int]:
    """Iterate ``state = step(state, i)`` for rounds ``i = 0, 1, …``;
    return the final state and the number of rounds built.

    With ``measure``, each new state is lazily checkpointed and
    ``measure(state)`` is the round's one scalar action; the loop
    stops after the first round where ``converged(previous, current)``
    holds (``previous`` is None in round 0) or after ``rounds``
    rounds, if given.  Without ``converged`` the loop stops once the
    measure stops changing: the input state is then measured first,
    as given, like a round 0 that built nothing, so a loop whose first
    round changes nothing stops there.  The operator does not
    checkpoint the input; a caller whose input is an expensive plan
    checkpoints it (lazily, after a shuffle) before the loop, so that
    measure materializes it.  Without ``measure``, exactly ``rounds``
    rounds run, each state but the last eagerly checkpointed.

    The operator releases every checkpoint it made once the next
    round's blocks exist, except the one the returned state reads.
    It never releases a frame the caller made: ``state`` as passed
    in, or anything a step reads besides the state (the caller's
    loop-invariant inputs)."""
    if measure is None and rounds is None:
        raise ValueError("fixpoint: a loop without a measure needs a round count")
    made = None  # the checkpoint ``state`` is, once this operator made one
    previous = None
    if measure is not None and converged is None:
        previous = measure(state)
        converged = operator.eq
    i = 0
    while rounds is None or i < rounds:
        nxt = step(state, i)
        i += 1
        if measure is not None:
            nxt = nxt.localCheckpoint(eager=False)
            current = measure(nxt)
        elif i < rounds:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            return nxt, i  # read once by the caller; it still reads ``made``
        if made is not None:
            release_checkpoint(made)
        state = made = nxt
        if measure is not None:
            if converged(previous, current):
                break
            previous = current
    return state, i


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from the node.

    Min-label propagation: ``label(v) ← min(label(v), min over
    neighbors u of label(u))`` until a round changes no label, in
    O(component diameter) rounds.  Each round is one join of the edge
    frame with the labels plus one node-keyed min-aggregate; the
    round's measure is the count of changed labels.  The symmetrized
    edge frame is built once and lazily checkpointed, so round 0's
    measure materializes it in the job that first scans it.  It is
    not pre-partitioned on the join key: under AQE a checkpoint keeps
    no partitioning, so a repartition before it only adds a shuffle.
    It runs to the fixpoint: labels only decrease, so it always comes."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("v").alias("node")).distinct()
    start = nodes.select("node", F.col("node").alias("label"), F.col("node").alias("prev"))

    def propagate(s: DataFrame, _: int) -> DataFrame:
        labels = s.select("node", "label")
        nbr = (
            e.join(labels, e.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            F.col("label").alias("prev"),
        )

    labels, _ = fixpoint(
        start,
        propagate,
        measure=lambda s: s.filter(F.col("label") < F.col("prev")).count(),
        converged=lambda _, changed: changed == 0,
    )
    return labels.select("node", F.col("label").alias("component"))


def edge_fingerprint(df: DataFrame) -> tuple:
    """Row-order-free change fingerprint of an (u, v) edge frame:
    (count, Σu, Σv, Σ(xxhash64(u,v) mod 2³¹)) — one bounded scalar
    action.  The hash term accumulates as exact BIGINT: a double sum
    loses low-order bits once the running total passes 2⁵³ (~4M
    edges of 2³¹-magnitude terms), silently weakening change
    detection at exactly the target scales (pinned by
    tests/test_insights.py::
    test_edge_fingerprint_exact_integer_accumulation)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum((F.xxhash64("u", "v") % F.lit(2**31)).cast("long")).alias("h"),
    ).collect()[0]
    return (row.n, row.su, row.sv, row.h)


def connected_components_alternating(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    edges_distinct: bool = False,
    edges_symmetric: bool = False,
) -> tuple[DataFrame, int]:
    """(node, component) via the alternating large-star/small-star
    algorithm (Kiveris et al., *Connected Components in MapReduce and
    Beyond*, SoCC'14): each round rewires every node toward the local
    minimum of its neighborhood, halving component radius per pass, so
    convergence takes O(log n) rounds instead of the O(diameter) of
    plain min-label propagation (`connected_components`).  On a
    100×-scaled chain-shaped graph that is the difference between ~8
    and ~80 scalar actions / lineage truncations.

    Per round: large-star (group the symmetrized adjacency by node,
    attach every LARGER neighbor to the neighborhood minimum) then
    small-star (attach node + smaller neighbors to their minimum).
    Both are one |E|-sized min-aggregate plus one join — no path
    materialization.  The round's measure is :func:`edge_fingerprint`
    (edge count + endpoint checksums) of the edge frame; the loop
    stops when it stops changing.

    Returns (labels, rounds): labels only covers nodes present in
    ``edges`` (join back to the full node frame for isolates, as the
    callers do); ``rounds`` is the number of alternating passes run.

    ``edges_distinct=True`` asserts the caller already deduplicated
    ``edges``, skipping a redundant |E| shuffle here.
    ``edges_symmetric=True`` asserts the caller's edge set already
    contains BOTH orientations of every edge, so round 0's
    symmetrizing union, which would double every directed pair, is
    skipped; later rounds always re-symmetrize because star output
    is oriented high→low.

    Two per-round exchanges are avoided by construction, both
    result-neutral:

    - the large-star output needs no re-orientation: every large edge
      is (v, m) with m ≤ u < v (m is a neighborhood min including u,
      and only neighbors v > u are re-pointed), so the frame is
      already strictly high→low oriented, and it is already distinct;
    - the small-star (u, m) "self" rows are exactly the rows of
      ``smins`` (one per node, distinct by construction), so the
      final distinct ingests |E| + |V| rows instead of 2·|E|.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node set BEFORE dropping self-loops: (n, n) still names node n
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    e = raw.filter(F.col("u") != F.col("v"))
    if not edges_distinct:
        # post-shuffle, so checkpoint it; the first fingerprint
        # materializes it.  A caller's distinct frame is measured as given.
        e = e.distinct().localCheckpoint(eager=False)

    def star(e: DataFrame, i: int) -> DataFrame:
        # large-star: symmetrize, take each node's neighborhood min
        # (incl. self), re-point every strictly-larger neighbor at it
        if i == 0 and edges_symmetric:
            bi = e
        else:
            bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )
        # every output edge (v, m) has m < v strictly (m ≤ u < v), so
        # the frame is born high→low oriented and self-loop-free
        large = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: each node u points at its smaller-neighborhood
        # min m, and so do its smaller neighbors v.  The (u, m) rows
        # ARE smins; only the (v, m) rows need the edge join.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small_self = smins.filter(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
        small_nbrs = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        return small_self.union(small_nbrs).distinct()

    e, rounds = fixpoint(e, star, measure=edge_fingerprint)
    final = (
        e.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("lbl"))
    )
    labels = all_nodes.join(final, "node", "left").select(
        "node",
        F.least(
            F.coalesce(F.col("lbl"), F.col("node")), F.col("node")
        ).alias("component"),
    )
    return labels, rounds


def dedup_cluster_assignments(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Cluster near-dup pairs; canonical id = min doc in the cluster.
    Returns (doc_id, canonical_id, is_canonical)."""
    cc = connected_components(pairs, src=a_col, dst=b_col)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
