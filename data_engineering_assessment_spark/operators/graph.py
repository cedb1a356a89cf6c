"""Iterative graph operators: connected components for dedup clustering.

Near-dup *pairs* (any dedup tier) become duplicate *clusters* by
connected components; the canonical document of a cluster is its
minimum id.  This is the one genuinely iterative algorithm in the
engine — expressed as a driver-controlled loop of joins + min-aggs
(label propagation), each iteration a bounded Spark job:

    label(v) ← min(label(v), min over neighbors u of label(u))

converges in O(component diameter) rounds.  Scale properties:

- state per round is one (node, label) table, hash-partitioned on
  node; each round is join(edges) + groupBy(min) — two shuffles over
  data proportional to |E| + |V|, never materializing paths;
- lineage is truncated with localCheckpoint every round, so plans
  stay O(1) deep regardless of iteration count (without it, round k
  re-plans k nested joins and the job DAG explodes);
- convergence check is a count of changed labels (a scalar action per
  round, not a collect of data).

Near-dup graphs have tiny diameters (duplicate cliques/chains), so
rounds ≈ 3-5 in practice; `max_iter` bounds the pathological case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from the node."""
    # undirected: symmetrize once
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min neighbor label per node, merged with own label
        nbr = (
            e.join(labels, e.v == labels.node)
            .select(F.col("u").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        # LAZY checkpoint scanned by the changed-count (the
        # alternating loop's r10 A/B discipline, −34% there; guide
        # §1.2/§2.4).  Measured nuance (r15): with AQE on, even a
        # lazy localCheckpoint executes the plan's SHUFFLE stages at
        # DataFrame-construction time (AQE must materialize exchanges
        # to finalize the plan), so the fold only moves the FINAL
        # result stage into the count's job — it removes the separate
        # materialize-then-scan job, not the shuffle work.  The frame
        # is post-shuffle (groupBy + join on node), so the blocks are
        # the reliable kind (ADVICE r10).
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("new_label") < F.col("label")).count()
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def edge_fingerprint(df: DataFrame) -> tuple:
    """Row-order-free change fingerprint of an (u, v) edge frame:
    (count, Σu, Σv, Σ(xxhash64(u,v) mod 2³¹)) — one bounded scalar
    action.  The hash term accumulates as exact BIGINT: a double sum
    loses low-order bits once the running total passes 2⁵³ (~4M
    edges of 2³¹-magnitude terms), silently weakening change
    detection at exactly the target scales (ADVICE r9 fix; pinned by
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
    max_iter: int = 20,
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
    small-star (orient edges high→low, attach node + smaller
    neighbors to their minimum).  Both are one |E|-sized min-aggregate
    plus one join — no path materialization.  Convergence is detected
    with a per-round fingerprint (edge count + endpoint checksums),
    ONE scalar action per round, and lineage is truncated per round
    with localCheckpoint, same discipline as the propagation loop.
    The round checkpoint is LAZY (eager=False), so the round's own
    fingerprint action folds the FINAL stage's materialization into
    the job that scans it (r10 A/B: best-of-5 6.07 → 4.02 s at sf0.1,
    −34%; output identical).  Measured nuance (r15): with AQE on, a
    lazy localCheckpoint still executes the plan's shuffle stages at
    DataFrame-construction time, so the fold removes the separate
    materialize-then-scan job rather than deferring the shuffles.

    Returns (labels, rounds): labels only covers nodes present in
    ``edges`` (join back to the full node frame for isolates, as the
    callers do); ``rounds`` is the number of alternating passes run.

    ``edges_distinct=True`` asserts the caller already deduplicated
    ``edges`` (every in-repo caller passes a post-``distinct()``,
    checkpointed frame), skipping a redundant |E| shuffle +
    re-checkpoint here (r15, guide §2.4 — remove the duplicate
    exchange outright).  ``edges_symmetric=True`` asserts the caller's
    edge set already contains BOTH orientations of every edge (the
    per-order pair explode emits ordered pairs both ways), so round
    1's symmetrizing union would double every directed pair — skipped
    (r16; later rounds always re-symmetrize because star output is
    oriented high→low).  Round-15 job-count trims (guide §1.2): the
    node set is LAZY (it is consumed exactly once, by the final
    labels join, which folds its computation into the output action
    instead of a dedicated upfront job), and the pre-loop edge frame
    is lazily checkpointed — the first fingerprint action
    materializes it in the same job, the same fold the round loop
    already used.

    Round-16 per-round exchange cuts (guide §2.4),
    both result-neutral by construction:

    - the old small-star re-orientation (``greatest/least`` +
      ``distinct``) was an IDENTITY over the large-star output: every
      large edge is (v, m) with m ≤ u < v (m is a neighborhood min
      including u, and only neighbors v > u are re-pointed), so the
      frame is already strictly high→low oriented, and it is already
      distinct — one |E| exchange + dedup per round, removed;
    - the small-star explode emitted (u, m) once per EDGE of u before
      deduplicating; the (u, m) "self" rows are exactly the rows of
      ``smins`` (one per node, distinct by construction), so the
      final distinct now ingests |E| + |V| rows instead of 2·|E|.
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
        # our own distinct: post-shuffle, so checkpoint it (lazily —
        # the fingerprint action below materializes it in-job)
        e = e.distinct().localCheckpoint(eager=False)
    # with edges_distinct=True the input is the caller's already-
    # materialized frame; the narrow self-loop filter is re-read from
    # its blocks (3 reads: fingerprint + the two union sides of round
    # 1) — cheaper than writing a second |E| copy of blocks

    prev = edge_fingerprint(e)
    rounds = 0
    symmetric = edges_symmetric
    for _ in range(max_iter):
        rounds += 1
        # large-star: symmetrize, take each node's neighborhood min
        # (incl. self), re-point every strictly-larger neighbor at it
        if symmetric:
            bi = e  # caller-guaranteed: both orientations present
            symmetric = False  # star output below is oriented
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
        # small-star over the (already-oriented, already-distinct)
        # large output: each node u points at its smaller-neighborhood
        # min m, and so do its smaller neighbors v.  The (u, m) rows
        # ARE smins (distinct per node); only the (v, m) rows need the
        # edge join.  Content is identical to the old explode form.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small_self = smins.filter(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
        small_nbrs = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        small = (
            small_self.union(small_nbrs)
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = edge_fingerprint(small)  # one scalar action per round
        e = small
        if cur == prev:
            break
        prev = cur
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
