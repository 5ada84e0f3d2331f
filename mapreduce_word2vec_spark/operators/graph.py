"""Iterative graph operators on DataFrames.

:func:`connected_components` — min-label propagation over an edge
list, the standard "duplicate clusters" step after near-dup pair
generation (MinHash/SimHash/Jaccard pairs → clusters → one canonical
doc per cluster).

Spark-first shape: each iteration is one join + one aggregation, all
Catalyst-planned. Loop inputs are persisted (released when the frame
a catalog query returns is dropped, see ``runtime.scoped_build``, or
when the loop rolls past them) and iteration counts are fixed or
bounded, so a released or lost cache block recomputes from a lineage
of bounded depth. Connected components converges in
O(diameter) rounds (not O(V)) because labels propagate through BOTH
edge directions each round; since that count depends on the data, each
round is re-rooted on its own RDD so the plan does not nest one
persisted round inside the next.

No fixed Spark primitive exists for this (GraphFrames is an external
package), so this is the documented composition — SURVEY's category
(b): a composition of existing DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.runtime import rerooted, tracked_persist


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Persisted symmetric (s, d) edge list — the shared first step of
    every iterative operator here. NULL endpoints are dropped: they
    carry no graph meaning, and a NULL node silently bypasses every
    equi-/anti-join downstream (NULL never equals NULL), e.g.
    re-emitting itself at every BFS level. Persisted because the edge
    list joins into EVERY iteration; without it each round re-evaluates
    the whole upstream pair-generation subtree (for near-dup edges:
    tokenize + shingle self-join — measured as one full re-scan per
    iteration in the physical plan).

    Both directions are emitted by ONE map-side explode (r9), not a
    union of two selects: each union branch re-evaluated the entire
    upstream pair-generation subtree (the near-dup case pays the
    shingle self-join + pair aggregation twice). Same rows — explode
    of [(s,d),(d,s)] ≡ UNION ALL of the two orientations — and the
    same trailing distinct."""
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
            F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
        )
    )
    return tracked_persist(
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(both.alias("e"))
        .select("e.s", "e.d")
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable (undirected).

    Each round reads the previous labels ONCE: every joined edge row
    sends s's label to d and back to s itself, so one min per node
    covers its own label and its neighbors'. The round's result is
    re-rooted on its own RDD (:func:`~mapreduce_word2vec_spark.runtime.rerooted`,
    so the plan stays one round deep), persisted, materialized by the
    convergence count, and the previous round's cache is released (the
    :func:`kcore` roll). A released or lost block recomputes through
    at most ``max_iterations`` rounds of RDD lineage."""
    sym = _symmetrize(edges, src, dst)
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    sent = F.explode(
        F.array(
            F.struct(F.col("d").alias("node"), F.lit(False).alias("own")),
            F.struct(F.col("s").alias("node"), F.lit(True).alias("own")),
        )
    )
    prev: DataFrame | None = None
    for _ in range(max_iterations):
        step = (
            sym.join(labels, sym.s == labels.node)
            .select(sent.alias("m"), "component")
            .groupBy(F.col("m.node").alias("node"))
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("m.own"), F.col("component"))).alias("_own"),
            )
            .select(
                "node", "component", (F.col("component") < F.col("_own")).alias("_changed")
            )
        )
        updated = tracked_persist(rerooted(step))
        n_changed = updated.where(F.col("_changed")).count()
        if prev is not None:
            prev.unpersist(blocking=False)
        prev = updated
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    return labels


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
) -> DataFrame:
    """(node, label) after a FIXED number of synchronous label
    propagation rounds (community detection): label'(v) = the most
    frequent label among v's neighbors, ties broken by the SMALLEST
    label. Labels start as node ids.

    Deterministic by construction (synchronous update + total
    tie-break), unlike classic asynchronous LPA — so the recurrence
    can be unrolled into SQL and oracle-checked, the same contract as
    :func:`pagerank`. Scale shape per iteration: ONE join of the
    label vector onto the symmetrized edge list, ONE (dst, label)
    count aggregation, ONE argmax fold per node (``max_by`` over a
    (count, -label) struct — no window, so the per-node state is one
    running pair, not the sorted neighbor-label list). All three
    hash-partition on node id; the plan grows linearly with the fixed
    iteration count."""
    sym = _symmetrize(edges, src, dst)
    labels = sym.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iterations):
        labels = (
            sym.join(labels, sym.s == labels.node)
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(
                F.expr("max_by(label, struct(cnt, -label))").alias("label")
            )
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, degree) for nodes surviving ``rounds`` synchronous
    k-core peels: each round drops every node whose CURRENT degree is
    < k, then recomputes degrees on the induced subgraph. Fixed round
    count (not to-convergence) keeps the result a deterministic
    function of the edge set — the same oracle contract as
    :func:`pagerank`; full coreness = loop until no node drops.

    Scale shape per round: one degree aggregation + two semi-joins
    filtering the edge list to surviving endpoints, all partitioned on
    node id. The edge list shrinks monotonically, so later rounds cost
    less, and each round's filtered edges are re-rooted and persisted
    while the next round's survivor set is derived from them (then
    released), as in :func:`connected_components`."""
    cur = _symmetrize(edges, src, dst)
    for _ in range(rounds):
        deg = cur.groupBy("s").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("s")
        nxt = tracked_persist(
            rerooted(
                cur.join(keep, "s", "left_semi").join(
                    keep.select(F.col("s").alias("d")), "d", "left_semi"
                )
            )
        )
        nxt.count()  # materialize before releasing the parent
        cur.unpersist(blocking=False)
        cur = nxt
    out = cur.groupBy(F.col("s").alias("node")).agg(
        F.count("*").alias("degree")
    )
    return out


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after a FIXED number of power iterations over the
    undirected edge list (both directions contribute): rank'(v) =
    (1-d)/N + d · Σ_{u~v} rank(u)/deg(u).

    Fixed iteration count (not convergence-tested) keeps the result a
    deterministic function of the edge set, so it can be oracle-checked
    against the same recurrence unrolled in SQL. Scale shape per
    iteration: ONE join of the rank vector onto the out-edge list and
    ONE aggregation back onto nodes — both hash-partitioned on node id,
    with a partial sum below each exchange; the plan grows linearly
    with the fixed iteration count. The node count N is a scalar
    subquery over the degree table, so building the frame runs no Spark
    job; the caller's action computes N once and reuses it in every
    iteration. Dangling nodes cannot occur (symmetrized edges give
    every node degree ≥ 1)."""
    # Persisted for the same reason as in connected_components: the
    # edge list and degree table feed every iteration; without the
    # persist each round re-runs the full upstream pair generation.
    sym = _symmetrize(edges, src, dst)
    deg = tracked_persist(sym.groupBy("s").agg(F.count("*").alias("deg")))
    # Degree folded INTO the persisted edge list: every iteration joins
    # the rank vector onto ONE table instead of re-joining sym⋈deg —
    # 5 iterations save 5 joins; rank/deg division is unchanged, so
    # the result stays bit-identical to the unrolled SQL oracle.
    sym_deg = tracked_persist(sym.join(deg, "s"))
    n = deg.select(F.count("*")).scalar()
    ranks = deg.select(F.col("s").alias("node"), (F.lit(1.0) / n).alias("rank"))
    base = F.lit(1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            sym_deg.join(ranks, F.col("s") == F.col("node"))
            .select(F.col("d").alias("node2"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy(F.col("node2").alias("node"))
            .agg(F.sum("c").alias("in_sum"))
            .select("node", (base + F.lit(damping) * F.col("in_sum")).alias("rank"))
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """(node, hops): minimal undirected hop distance from the seed
    set, bounded at ``max_hops`` (frontier BFS — one join+anti-join
    per level, O(diameter) rounds like connected_components).

    Isolated seeds are included at hops 0. The distance bound is the
    scale contract: each level's JOIN touches only the new frontier's
    edges; the visited check anti-joins against the LAST TWO levels
    only (sufficient on an undirected graph — a neighbor of a
    hop-``h`` node is at hop ≥ h-1, so older levels are unreachable),
    keeping the per-level anti-join bounded by the frontier
    neighborhood instead of re-scanning the whole accumulated ball.
    Each level is persisted exactly once (levels accumulate in a list
    and union at return — persisting a running union would cache every
    level O(max_hops) times)."""
    sym = _symmetrize(edges, src, dst)
    level0 = tracked_persist(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
    )
    levels = [level0]
    prev_nodes = level0.select("node").where(F.lit(False))  # empty frame
    frontier = level0.select("node")
    for h in range(1, max_hops + 1):
        nxt = tracked_persist(
            frontier.join(sym, frontier.node == sym.s)
            .select(F.col("d").alias("node"))
            .distinct()
            .join(frontier, "node", "left_anti")
            .join(prev_nodes, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint"))
        )
        if nxt.limit(1).count() == 0:
            nxt.unpersist(blocking=False)  # empty level: nothing to keep
            break
        levels.append(nxt)
        prev_nodes, frontier = frontier, nxt.select("node")
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out
