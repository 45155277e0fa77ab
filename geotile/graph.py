"""Distributed graph primitives for dedup-cluster resolution.

The reference engine has no graph surface at all (its only "graph" is
the per-cell posting list, GeoHash/common.h:58-98); this module exists
for the corpus-dedup pipeline the north rule's web-scale payload needs:
near-duplicate PAIRS (textops/simsearch) are only half the job — a
training-data pipeline must resolve pairs into CLUSTERS and keep one
canonical document per cluster.

Scale shape: connected components run over the *pair graph*, which for
dedup workloads is orders of magnitude smaller than the corpus (pairs
are the output of banded LSH candidate generation + verify, bounded by
band-bucket sizes — never all-pairs).  Large graphs run the alternating
large-star / small-star contraction of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC 2014): unlike label
propagation — which re-joins the FULL edge list against a label table
every round and needs O(diameter) rounds — star contraction rewrites
the edge set itself, so each round's shuffle shrinks as components
collapse, and the round count is O(log^2 n) worst-case (a handful in
practice, even for path/cycle-shaped components such as a DBSCAN core
graph snaking around the globe).  Small graphs — and large ones once
contraction has shrunk them — never pay that per-round job tax: at or
under ``LOCAL_CC_MAX_EDGES`` live edges the edge set is collected once
over Arrow and finished by a vectorized numpy union-find on the
driver.  Runs under the q61/q62 oracle gates.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import cache

# live-edge cutover for connected_components: at or under this many
# deduplicated edges (~16 MB of id pairs) the graph is finished on the
# driver by _union_find instead of more distributed rounds
LOCAL_CC_MAX_EDGES = 1_000_000


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b",
                         max_iter: int = 50) -> DataFrame:
    """Resolve an undirected edge list into connected components.

    Returns one row per node incident to at least one edge:
    ``(node, cluster_id)`` where ``cluster_id`` is the MINIMUM node id
    in the component (deterministic canonical representative).  Node
    ids must be orderable integers (BIGINT doc ids here, INT works
    too; both columns keep the ids' type); self-loops are dropped.

    Algorithm: the edges are oriented hi->lo and deduplicated, and one
    Arrow collect of at most ``LOCAL_CC_MAX_EDGES + 1`` of them sizes
    the graph.  When it fits under the cutover that collect is the
    whole graph, resolved on the driver by :func:`_union_find`: the
    result is a driver-local frame and nothing is left persisted or
    checkpointed.  Above it, rounds of alternating large-star /
    small-star (Kiveris et al. 2014) run distributed.  Large-star hooks
    every neighbor LARGER than a node to the minimum of its
    neighborhood; small-star hooks the smaller neighbors (and the node
    itself) to that minimum.  Both steps strictly shrink tree heights
    and keep every node and every component, so the edge set contracts
    toward a forest of min-rooted stars, and the unique fixpoint (edge
    set unchanged by a round) IS that star forest — each surviving edge
    reads ``(node, component min)``.  Every round is two groupBy/join
    shuffles over the CURRENT (shrinking) edge set, localCheckpoint-ed
    to truncate lineage (swap for checkpoint() on reliable storage at
    cluster scale), and makes one cheap action: the checkpointed edge
    count.  Once it is at or under the cutover the contracted edges are
    finished on the driver — exact, because contraction kept the nodes
    and the components.  The fixpoint test (``exceptAll`` emptiness)
    runs only when a round left the count unchanged.

    The result carries ``_geotile_rounds``: the number of distributed
    rounds run, 0 when the input starts at or under the cutover (for
    benchmarks and diagnostics — the O(log^2 n) claim is measurable,
    not asserted).
    """
    e0 = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .where(F.col("u") != F.col("v")))
    # canonical hi->lo orientation + dedup: (u, v) with u > v
    e = (e0.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
         .distinct())
    # one action sizes the graph and, when it fits, is the collect
    tbl = e.limit(LOCAL_CC_MAX_EDGES + 1).toArrow()
    rounds = 0
    if tbl.num_rows > LOCAL_CC_MAX_EDGES:
        e = e.localCheckpoint(eager=True)
        n = e.count()
        while True:
            if rounds == max_iter:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iter} rounds")
            rounds += 1
            e_ss = _star_round(e)
            n_ss = e_ss.count()
            if n_ss <= LOCAL_CC_MAX_EDGES:
                e, tbl = e_ss, e_ss.toArrow()
                break
            # fixpoint: the round left the edge set unchanged -> star forest
            if n_ss == n and e_ss.exceptAll(e).isEmpty():
                out = (e_ss.select(F.col("u").alias("node"),
                                   F.col("v").alias("cluster_id"))
                       .unionByName(e_ss.select(F.col("v").alias("node"),
                                                F.col("v").alias("cluster_id"))
                                    .distinct()))
                out._geotile_rounds = rounds  # type: ignore[attr-defined]
                return out
            e, n = e_ss, n_ss
    out = _local_components(e, tbl)
    out._geotile_rounds = rounds  # type: ignore[attr-defined]
    return out


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over hi->lo edges ``(u, v)``;
    returns the next edge set, checkpointed."""
    # LARGE-STAR: over the symmetric neighborhood of u, connect every
    # neighbor v > u to m = min(N(u) + {u}).  Output keeps hi->lo
    # orientation automatically (v > u >= m).
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lmin = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m")))
    e_ls = (sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())
    # SMALL-STAR: edges are hi->lo, so grouping by u collects the
    # smaller neighbors N; connect each of them and u itself to
    # m = min(N).
    smin = e_ls.groupBy("u").agg(F.min("v").alias("m"))
    return (e_ls.join(smin, "u")
            .select(F.col("v").alias("n"), F.col("m").alias("v"))
            .unionByName(smin.select(F.col("u").alias("n"), F.col("m").alias("v")))
            .where(F.col("n") != F.col("v"))
            .select(F.col("n").alias("u"), "v")
            .distinct()
            .localCheckpoint(eager=True))


def _local_components(e: DataFrame, tbl) -> DataFrame:
    """``(node, cluster_id)`` labels of the edges ``tbl`` (the Arrow
    collect of the edge frame ``e``) as a driver-local frame."""
    nodes, roots = _union_find(tbl.column("u").to_numpy(),
                               tbl.column("v").to_numpy())
    f = e.schema["u"]
    schema = StructType([StructField("node", f.dataType, f.nullable),
                         StructField("cluster_id", f.dataType, f.nullable)])
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "cluster_id": roots}), schema)


def _union_find(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find over edge arrays ``u``/``v``: returns the
    sorted distinct node ids and each one's component minimum.

    Nodes are renumbered densely in id order, so a smaller index is a
    smaller id.  Each pass hooks every root that has an edge to a
    smaller root onto the smallest such root (min-label hooking, one
    ``np.minimum.at``), then pointer-jumps ``lab = lab[lab]`` until the
    forest is stars again; edges whose ends now share a star are
    dropped.  A root left unhooked in one pass had every neighbor hook
    below it, so it hooks in the next: the root count at least halves
    every two passes, and a chain needs O(log n) numpy passes, not
    O(n)."""
    nodes = np.unique(np.concatenate([u, v]))
    a = np.searchsorted(nodes, u)
    b = np.searchsorted(nodes, v)
    lab = np.arange(nodes.size)
    while a.size:
        np.minimum.at(lab, np.maximum(a, b), np.minimum(a, b))
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        a, b = lab[a], lab[b]
        keep = a != b
        a, b = a[keep], b[keep]
    return nodes, nodes[lab]


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 5,
             node_col: str = "node", src: str = "src", dst: str = "dst",
             damping_pct: int = 85) -> DataFrame:
    """Fixed-point integer PageRank: ``iters`` synchronous rounds of

        r'(v) = (100 - d)% * 1e9 / n  +  d% * sum_{u->v} (r(u) DIV deg(u))

    with EVERY operation in 64-bit integer arithmetic (ranks are
    nano-units of probability mass, divisions are integer DIV, the
    damping multiply happens before its divide).  Integer semantics
    make the result exactly reproducible across engines and partition
    orders — no float summation-order drift — which is what puts a
    10-line-iterative graph algorithm under the exact SQL oracle gate
    (q69).  Dangling mass (nodes with no out-edges) and DIV round-down
    mass are deliberately dropped, so ranks sum to slightly under 1e9;
    the ORDERING (what PageRank is used for) is the classic one.

    Scale shape: the edge list is joined src-side to the rank table and
    aggregated dst-side — one hash shuffle per round, the textbook
    distributed PageRank plan.  Out-degrees are attached to the edges
    ONCE up front (``ed`` is persisted and re-read every round, so the
    join key partitioning is reused); ranks are localCheckpoint-ed per
    round to truncate lineage (swap for checkpoint() on reliable
    storage at cluster scale).  n comes from one count on the node
    table.  The reference has no graph surface (its only adjacency is
    the per-cell posting list, GeoHash/common.h:58-98)."""
    nd = nodes.select(F.col(node_col).alias("node"))
    n = nd.count()
    deg = edges.groupBy(F.col(src).alias("node")).agg(F.count("*").alias("deg"))
    ed = (edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"))
          .join(deg, "node")
          .persist())
    ed.count()
    base = (100 - damping_pct) * 10**9 // (100 * n)
    ranks = nd.withColumn("rank_nano", F.lit(10**9 // n).cast("long"))
    for _ in range(iters):
        sums = (ed.join(ranks, "node")
                .select(F.col("_dst").alias("node"),
                        F.expr("rank_nano DIV deg").alias("_c"))
                .groupBy("node").agg(F.sum("_c").alias("_s")))
        ranks = (nd.join(sums, "node", "left")
                 .select("node",
                         (F.lit(base) +
                          F.expr(f"({damping_pct} * coalesce(_s, 0)) DIV 100"))
                         .cast("long").alias("rank_nano"))
                 .localCheckpoint(eager=True))
    return cache.track(ranks, [ed])


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int = 15,
             src: str = "src", dst: str = "dst",
             source_col: str = "node") -> DataFrame:
    """Multi-source BFS: hop distance from the nearest source along
    directed edges.  Returns ``(node, hops)`` for every REACHED node
    (sources at 0); unreached nodes are absent — at web scale the
    reached set (e.g. pages within k clicks of a seed list) is the
    product, and emitting the unreached complement would be a full
    corpus scan for rows that carry no information.

    Scale shape: frontier-style Pregel iteration — each round joins
    the CURRENT frontier (new nodes only, never the full visited set)
    against the persisted edge list, then anti-joins the visited set
    to keep first-reach rows.  Shuffle per round is proportional to
    the frontier's out-edge count, the distributed-BFS minimum; round
    count is the graph diameter capped at ``max_hops``.  Lineage is
    truncated per round (localCheckpoint -> checkpoint() on a real
    cluster).  Hop counts are exact integers: deterministic across
    engines and partition orders (q71 gate)."""
    ed = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .persist())
    ed.count()
    # the frontier / visited sets are MICRO-frames next to the edge
    # list: coalesce every checkpointed round to a handful of
    # partitions so the per-round fixed job overhead (task launch x
    # partitions x hops) stays off the wall clock — at driver-style
    # oversubscribed local[32] that overhead dominated the whole query
    nparts = max(2, int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")) // 8)
    frontier = (sources.select(F.col(source_col).alias("node")).distinct()
                .withColumn("hops", F.lit(0))
                .coalesce(nparts)
                .localCheckpoint(eager=True))
    # the visited set is re-checkpointed per round: one compact frame
    # broadcasts into the anti-join cheaper than a lazy union of all
    # prior frontiers (measured — the union variant re-evaluates and
    # re-broadcasts every frame every round)
    dist = frontier
    for d in range(1, max_hops + 1):
        cand = (frontier.join(ed, frontier["node"] == ed["u"])
                .select(F.col("v").alias("node")).distinct())
        new = (cand.join(dist, "node", "left_anti")
               .withColumn("hops", F.lit(d))
               .coalesce(nparts)
               .localCheckpoint(eager=True))
        if new.isEmpty():
            break
        dist = (dist.unionByName(new).coalesce(nparts)
                .localCheckpoint(eager=True))
        frontier = new
    return cache.track(dist, [ed])


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    (possibly directed, possibly duplicated) edge list — the local
    clustering primitive (spam-farm / community detection features).

    Returns ``(node, n_tri)`` for every node in at least one triangle.

    Algorithm: canonicalize to low->high edges (u < v, distinct),
    enumerate wedges u-v-w with u < v < w by joining on the middle
    vertex, close each wedge against the edge set, then credit all
    three corners.  Two shuffle joins over the canonical edge list +
    one count — each triangle is found exactly once (ordered triple).
    At 100 TB the orientation should be by (degree, id) instead of id
    so the wedge join's per-key fan-out is bounded by the max
    LOW-degree (the standard heavy-hitter mitigation); id orientation
    keeps this SQL-oracle-exact and is the documented trade at gate
    scale.  The canonical edge set is persisted (three readers) and
    released via geotile.cache."""
    und = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                        F.greatest(F.col(src), F.col(dst)).alias("v"))
           .where(F.col("u") != F.col("v"))
           .distinct().persist())
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(e3, ["a", "c"])
    out = (tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("n_tri")))
    return cache.track(out, [und])


def triangle_counts_oriented(edges: DataFrame, src: str = "src",
                             dst: str = "dst") -> DataFrame:
    """Per-node triangle counts with DEGREE-ordered wedge orientation —
    the skew-robust 100-TB variant of ``triangle_counts`` (whose
    docstring names this exact upgrade).  Same contract: ``(node,
    n_tri)`` for every node in at least one triangle, identical values
    (the q98 gate runs it against the plain 3-way-join SQL oracle on a
    deliberately star-heavy graph).

    Why orientation matters: id-ordered wedges pivot every star at its
    lowest-ID vertex — a degree-d hub with a small id yields O(d^2)
    wedge rows in one join key (the web's link graph has d in the
    millions).  Here every edge is directed from its (degree, id)-
    smaller endpoint to the larger, and wedges pivot on the smallest-
    rank vertex, so a key's fan-out is its ORIENTED out-degree: a
    vertex of degree d only keeps neighbors of rank >= its own, and at
    most 2*sqrt(m) vertices have degree >= sqrt(m), which bounds every
    out-degree by O(sqrt(m)) regardless of skew (Suri & Vassilvitskii,
    WWW 2011, "Counting Triangles and the Curse of the Last Reducer").
    A star's hub ranks above all its leaves and generates ZERO wedges.

    Plan shape: one degree aggregation, two broadcast-or-shuffle joins
    to attach ranks, one wedge self-join on the pivot + one close join
    on the oriented (b, c) pair — the same two-shuffle-join core as the
    id-oriented version, with bounded keys.  The oriented edge list is
    persisted (three readers) and released via geotile.cache."""
    und = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                        F.greatest(F.col(src), F.col(dst)).alias("v"))
           .where(F.col("u") != F.col("v"))
           .distinct().persist())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lo_first = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) \
        < F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    orient = (ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("b"))
        .persist())
    w1 = orient.select("a", F.col("b").alias("x"))
    w2 = orient.select("a", F.col("b").alias("y"))
    wedges = (w1.join(w2, "a")
              .where(F.col("x") < F.col("y")))
    closing = orient.select(F.col("a").alias("xn"),
                            F.col("b.n").alias("yn"))
    tri = wedges.join(closing, (F.col("x.n") == F.col("xn"))
                      & (F.col("y.n") == F.col("yn")))
    out = (tri.select(F.explode(F.array(F.col("a"), F.col("xn"),
                                        F.col("yn"))).alias("node"))
           .groupBy("node").agg(F.count("*").alias("n_tri")))
    return cache.track(out, [und, orient])


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   max_rounds: int = 10, src: str = "src",
                   dst: str = "dst", weight: str = "w",
                   source_col: str = "node") -> DataFrame:
    """Multi-source WEIGHTED shortest paths (non-negative integer edge
    weights) by frontier-only Bellman-Ford relaxation — the weighted
    dual of :func:`bfs_hops`.  Returns ``(node, dist)`` for every
    reached node (sources at 0); after round r the table holds the
    exact minimum cost over paths of <= r edges, so a run capped at
    ``max_rounds`` is deterministic and SQL-gateable (q126's oracle is
    a recursive CTE bounded by the same hop count) whether or not it
    has converged; early exit when a round improves nothing (at which
    point the distances are the true shortest).

    Scale shape: each round joins only the IMPROVED frontier — nodes
    whose distance just dropped — against the persisted edge list
    (shuffle proportional to the frontier's out-edge count, never the
    visited set), takes the per-node min candidate map-side, and
    anti-join-replaces improved rows in the distance table.  Frontier /
    distance micro-frames are coalesced and lineage-truncated per round
    (the bfs_hops discipline).  Integer distances make every comparison
    exact.  At 100 TB the refinement is delta-stepping (Meyer &
    Sanders 2003): bucket the frontier by dist DIV delta so cheap
    edges settle within a bucket before expensive ones ship — same
    join shape, fewer rounds on weighted-diameter-heavy graphs."""
    ed = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                       F.col(weight).cast("long").alias("w"))
          .persist())
    ed.count()
    nparts = max(2, int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")) // 8)
    dist = (sources.select(F.col(source_col).alias("node")).distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .coalesce(nparts)
            .localCheckpoint(eager=True))
    frontier = dist
    for _ in range(max_rounds):
        cand = (frontier.join(ed, frontier["node"] == ed["u"])
                .select(F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("_d"))
                .groupBy("node").agg(F.min("_d").alias("_d")))
        improved = (cand.join(dist, "node", "left")
                    .where(F.col("dist").isNull() | (F.col("_d") < F.col("dist")))
                    .select("node", F.col("_d").alias("dist"))
                    .coalesce(nparts)
                    .localCheckpoint(eager=True))
        if improved.isEmpty():
            break
        dist = (dist.join(improved, "node", "left_anti")
                .unionByName(improved)
                .coalesce(nparts)
                .localCheckpoint(eager=True))
        frontier = improved
    return cache.track(dist, [ed])


def label_propagation(nodes: DataFrame, edges: DataFrame, iters: int = 3,
                      node_col: str = "node", src: str = "src",
                      dst: str = "dst") -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made
    exactly reproducible: labels start as node ids; each round every
    node adopts the most frequent label among its (symmetrized,
    deduped) neighbors with the deterministic ``(count desc, label
    asc)`` tie rule — the deterministic twin of the usual async
    random-order sweep, so the whole trajectory is SQL-replicable and
    an isolated
    node simply keeps its label.  Fixed ``iters`` rounds (community
    detection's usual 3-5 sweeps), no convergence test — the gate
    checks the exact trajectory, not a fixpoint.

    Scale shape: per round ONE neighbor-label join (edge-keyed) + one
    (node, label) vote aggregate + one argmin-struct pick — the same
    one-shuffle-per-round budget as pagerank/bfs; the symmetrized
    edge list is persisted once and re-read every round, labels are
    localCheckpoint-ed to truncate lineage (checkpoint() on reliable
    storage at cluster scale).  Returns ``(node, label)``."""
    nd = nodes.select(F.col(node_col).alias("node"))
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct().persist())
    und.count()
    labels = nd.withColumn("label", F.col("node"))
    for _ in range(iters):
        votes = (und.join(labels.withColumnRenamed("node", "b"), "b")
                 .groupBy("a", "label").agg(F.count("*").alias("_c")))
        pick = (votes.groupBy("a")
                .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                                    F.col("label").alias("l"))).alias("_m"))
                .select(F.col("a").alias("node"),
                        F.col("_m")["l"].alias("_new")))
        labels = (labels.join(pick, "node", "left")
                  .select("node", F.coalesce("_new", "label").alias("label"))
                  .localCheckpoint(eager=True))
    return cache.track(labels, [und])


def kcore_peel(nodes: DataFrame, edges: DataFrame, k: int = 5,
               rounds: int = 4, node_col: str = "node",
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded synchronous k-core peeling: ``rounds`` rounds of
    simultaneously removing every node whose degree in the SURVIVING
    subgraph is below ``k`` — the standard coreness screen (spam-farm
    and boilerplate-hub detection on link graphs).  A fixed round
    budget keeps the whole trajectory SQL-replicable (the
    label-propagation pattern) and IS the practical cluster form:
    each round costs one degree aggregate plus one semi-join, and the
    peel converges in few rounds on power-law graphs (survivors after
    convergence are exactly the k-core).

    Returns ``(node, peel_round)``: 0 = removed in the first round
    (degree < k in the input graph), r = removed in round r+1,
    ``rounds`` = survived the full budget.  Zero-degree and isolated
    nodes peel in round 0 (degree COALESCEs to 0, never NULL).

    Scale shape: the symmetrized edge list is persisted once; each
    round's degree aggregate partial-aggregates map-side and the
    shrinking alive set drives semi-joins — no round ever touches
    more than the surviving edges.  Alive sets are
    localCheckpoint-ed to truncate lineage (checkpoint() on reliable
    storage at cluster scale)."""
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct().persist())
    und.count()
    alive = nodes.select(F.col(node_col).alias("node"))
    outs = []
    for r in range(rounds):
        live_edges = (und
                      .join(alive.withColumnRenamed("node", "a"), "a")
                      .join(alive.withColumnRenamed("node", "b"), "b"))
        deg = live_edges.groupBy("a").agg(F.count("*").alias("_deg"))
        # one materialization per round feeds BOTH consumers (the dying
        # rows in the output union and the next round's alive set)
        scored = (alive.join(deg, alive["node"] == deg["a"], "left")
                  .select("node", F.coalesce("_deg", F.lit(0)).alias("_deg"))
                  .localCheckpoint(eager=True))
        outs.append(scored.where(F.col("_deg") < k).select(
            "node", F.lit(r).cast("long").alias("peel_round")))
        alive = scored.where(F.col("_deg") >= k).select("node")
    outs.append(alive.select(
        "node", F.lit(rounds).cast("long").alias("peel_round")))
    out = reduce(DataFrame.unionByName, outs)
    return cache.track(out, [und])


def pagerank_weighted(nodes: DataFrame, edges: DataFrame, iters: int = 5,
                      node_col: str = "node", src: str = "src",
                      dst: str = "dst", w: str = "w",
                      damping_pct: int = 85) -> DataFrame:
    """Weighted fixed-point integer PageRank: like :func:`pagerank`
    but each out-edge carries an integer weight and a node's mass
    splits PROPORTIONALLY —

        r'(v) = base + d% * sum_{u->v} ((r(u) * w_uv) DIV W_u)

    with W_u the node's total out-weight, every operation 64-bit
    integer (nano-unit ranks, the weight multiply BEFORE its divide,
    rank*weight < 1e9 * flow counts — far inside int64).  The flow-
    centrality form for OD graphs: a cell visited by heavy flows
    outranks one touched by many trickles.  Same one-shuffle-per-round
    plan as the unweighted version; out-weights attach to the edges
    once (persisted), ranks localCheckpoint per round."""
    nd = nodes.select(F.col(node_col).alias("node"))
    n = nd.count()
    tot = (edges.groupBy(F.col(src).alias("node"))
           .agg(F.sum(F.col(w)).alias("W")))
    ed = (edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"),
                       F.col(w).alias("_w"))
          .join(tot, "node")
          .persist())
    ed.count()
    base = (100 - damping_pct) * 10**9 // (100 * n)
    ranks = nd.withColumn("rank_nano", F.lit(10**9 // n).cast("long"))
    for _ in range(iters):
        sums = (ed.join(ranks, "node")
                .select(F.col("_dst").alias("node"),
                        F.expr("(rank_nano * _w) DIV W").alias("_c"))
                .groupBy("node").agg(F.sum("_c").alias("_s")))
        ranks = (nd.join(sums, "node", "left")
                 .select("node",
                         (F.lit(base) +
                          F.expr(f"({damping_pct} * coalesce(_s, 0)) DIV 100"))
                         .cast("long").alias("rank_nano"))
                 .localCheckpoint(eager=True))
    return cache.track(ranks, [ed])


def harmonic_centrality(nodes: DataFrame, edges: DataFrame,
                        max_hops: int = 3, node_col: str = "node",
                        src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-radius harmonic centrality: per node the exact count of
    nodes at undirected distances 1..``max_hops`` and the integer
    harmonic score ``sum_h n_h * (1e6 DIV h)`` — the locality-aware
    importance measure (reach discounted by distance) that PageRank's
    stationary mass does not express, truncated at a fixed radius the
    way every production centrality job truncates (full harmonic
    centrality is all-pairs shortest paths).

    Scale shape: hop h is ONE edge-keyed join from the hop-(h-1)
    frontier plus anti-joins against the seen set — per-node frontier
    growth is bounded by deg^h, the documented truncation rationale;
    frontiers localCheckpoint per hop.  Returns ``(node, n1..n{H},
    harmonic_micro)``; isolated nodes report zeros."""
    nd = nodes.select(F.col(node_col).alias("node"))
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct().persist())
    und.count()
    cur = und.select(F.col("a").alias("node"), F.col("b").alias("d"))
    seen = cur.unionByName(nd.select("node", F.col("node").alias("d")))
    hop_counts = [cur.groupBy("node").agg(F.count("*").alias("n1"))]
    for h in range(2, max_hops + 1):
        nxt = (cur.join(und, cur["d"] == und["a"])
               .select("node", F.col("b").alias("d"))
               .distinct()
               .join(seen, ["node", "d"], "left_anti")
               .localCheckpoint(eager=True))
        hop_counts.append(nxt.groupBy("node")
                          .agg(F.count("*").alias(f"n{h}")))
        seen = seen.unionByName(nxt)
        cur = nxt
    out = nd
    for h, hc in enumerate(hop_counts, start=1):
        out = (out.join(hc, "node", "left")
               .withColumn(f"n{h}", F.coalesce(f"n{h}", F.lit(0))
                           .cast("long")))
    score = None
    for h in range(1, max_hops + 1):
        term = F.col(f"n{h}") * F.lit(1000000 // h)
        score = term if score is None else score + term
    return cache.track(out.withColumn("harmonic_micro", score), [und])


def reciprocity_assortativity(edges: DataFrame, src: str = "src",
                              dst: str = "dst") -> DataFrame:
    """Directed-graph shape statistics in one row: RECIPROCITY (the
    exact micro fraction of directed edges whose reverse edge exists —
    link-farm rings score high, genuine citation graphs low) and
    DEGREE ASSORTATIVITY (Pearson correlation between the total
    degrees at the two ends of each undirected edge, q155's exact
    integer moments: emitted as the rational (num, den_x, den_y) plus
    a floored micro-r) — do hubs link hubs, the mixing pattern that
    separates social graphs (assortative) from the web (dis-).

    Scale shape: reciprocity is one self-equi-join on the reversed
    key; degrees are one aggregate joined to the undirected edge list
    twice (edge-keyed, no skew beyond the hubs the statistic is
    about); all moments are exact int64 sums.  Returns one row
    ``(n_edges, n_recip, recip_micro, n_und, corr_num, den_x, den_y,
    assort_micro)``."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct().persist())
    e.count()
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    nrec = e.join(rev, ["u", "v"]).count()
    ntot = e.count()
    und = (e.select(F.greatest("u", "v").alias("a"),
                    F.least("u", "v").alias("b")).distinct())
    deg = (e.select("u").unionByName(e.select(F.col("v").alias("u")))
           .groupBy("u").agg(F.count("*").alias("d")))
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("dy"))
    # each undirected edge contributes BOTH orientations to the moment
    # sums (the standard symmetrized assortativity), keeping Sx == Sy
    j = und.join(da, "a").join(db, "b")
    pts = (j.select(F.col("dx").alias("x"), F.col("dy").alias("y"))
           .unionByName(j.select(F.col("dy").alias("x"),
                                 F.col("dx").alias("y"))))
    m = pts.agg(F.count("*").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sx2"),
                F.sum(F.col("y") * F.col("y")).alias("sy2"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    out = (m.select(
        F.lit(ntot).cast("long").alias("n_edges"),
        F.lit(nrec).cast("long").alias("n_recip"),
        F.lit(nrec * 1000000 // ntot if ntot else 0).cast("long")
        .alias("recip_micro"),
        (F.col("n") / 2).cast("long").alias("n_und"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("corr_num"),
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
        .alias("den_x"),
        (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
        .alias("den_y"))
        .withColumn("assort_micro",
                    F.floor(F.col("corr_num") * F.lit(1000000)
                            / (F.sqrt(F.col("den_x"))
                               * F.sqrt(F.col("den_y")))).cast("long")))
    return cache.track(out, [e])


def clustering_coefficients(edges: DataFrame, src: str = "src",
                            dst: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient — triangles normalized by
    the wedge entitlement ``deg*(deg-1)/2``, the density feature that
    separates organic communities (high cc) from crawler artifacts and
    link farms (hubs with near-zero cc).  Completes the triangle
    family: :func:`triangle_counts` gives raw closures, this divides
    by opportunity.

    Returns ``(node, deg, n_tri, cc_micro)`` for every node of degree
    >= 2 (degree-1 nodes have no wedge entitlement and are excluded by
    definition), n_tri zero-filled, ``cc_micro = floor(1e6 * 2*n_tri /
    (deg*(deg-1)))`` derived in ONE fixed-shape double expression —
    the integer quantities are the gate, the coefficient one division
    away.

    Plan shape: the canonical low->high edge set is persisted once and
    shared by the degree aggregate and the two wedge/close joins (the
    same two-shuffle-join core as triangle_counts); the final join
    moves only the node-sized degree and triangle frames.  Skew note:
    the wedge join inherits triangle_counts' id orientation — swap in
    triangle_counts_oriented's (degree, id) pivot at web scale, as
    q98 gates."""
    und = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                        F.greatest(F.col(src), F.col(dst)).alias("v"))
           .where(F.col("u") != F.col("v"))
           .distinct().persist())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .select(F.explode(F.array("a", "b", "c")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("n_tri")))
    out = (deg.where(F.col("deg") >= 2)
           .join(tri, "node", "left")
           .select("node", "deg",
                   F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_tri"),
                   F.floor(F.lit(1000000.0)
                           * (F.lit(2.0) * F.coalesce("n_tri", F.lit(0))
                              .cast("double"))
                           / (F.col("deg").cast("double")
                              * (F.col("deg") - F.lit(1)).cast("double")))
                   .cast("long").alias("cc_micro")))
    return cache.track(out, [und])


def adamic_adar_topk(edges: DataFrame, k: int = 20,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Adamic–Adar link prediction: for node pairs NOT yet connected,
    score the likelihood of a future edge as ``sum over common
    neighbors w of 1/ln(deg(w))`` — the classic common-neighbor
    weighting (rare shared neighbors count more), the
    friend-of-friend / related-page recommender primitive.

    Exactness: each wedge contributes ``floor(1e6 / ln(deg_w))``
    BEFORE the per-pair sum (the engine-wide ln-floor discipline —
    only middles with deg >= 2 can form wedges, so ln is never 0);
    the top-k orders by (score desc, a asc, b asc), all integers.

    Scale shape: one degree aggregate; wedges come from the
    symmetric adjacency self-joined on the MIDDLE node (fan-out
    C(deg,2) per middle — the same per-key quadratic every
    common-neighbor operator has; at web scale cap hub middles with
    the df-cap discipline or pivot to the q98 (degree, id)
    orientation); existing edges leave via one anti-join on the slim
    canonical pair; the top-k is a TakeOrdered.  Returns ``(a, b,
    n_common, aa_micro)``."""
    und = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                        F.greatest(F.col(src), F.col(dst)).alias("v"))
           .where(F.col("u") != F.col("v"))
           .distinct().persist())
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    wmid = (sym.join(deg, "u")
            .where(F.col("deg") >= 2)  # deg-1 middles form no wedge;
            # guarded BEFORE the weight so ln(1)=0 never divides
            .select(F.col("u").alias("w"), F.col("v").alias("n"),
                    F.floor(F.lit(1000000.0)
                            / F.log(F.col("deg").cast("double")))
                    .cast("long").alias("wt")))
    a = wmid.select("w", F.col("n").alias("a"), "wt")
    b = wmid.select(F.col("w").alias("wb"), F.col("n").alias("b"))
    pairs = (a.join(b, a["w"] == b["wb"])
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").alias("n_common"),
                  F.sum("wt").alias("aa_micro")))
    fresh = pairs.join(und, (pairs["a"] == und["u"])
                       & (pairs["b"] == und["v"]), "left_anti")
    out = (fresh.orderBy(F.desc("aa_micro"), F.asc("a"), F.asc("b"))
           .limit(int(k)))
    return cache.track(out, [und])


def boruvka_mst(edges: DataFrame, src: str = "u", dst: str = "v",
                w: str = "w", max_rounds: int = 16) -> DataFrame:
    """Minimum spanning forest by BORUVKA's algorithm — the MST
    algorithm that parallelizes: every round each component picks its
    minimum outgoing edge (all components at once, one aggregation),
    the picked edges merge components, and the component count at
    least halves — O(log V) rounds, which is why Boruvka (not Prim,
    not Kruskal — both inherently sequential in their loop) is the
    distributed choice.

    Edges are undirected ``(src, dst, w)`` with ``src < dst``
    canonical ids; ties are broken by the TOTAL order ``(w, src,
    dst)``, which makes the MST unique and lets the oracle verify it
    edge-by-edge via the cut property (an edge is in the MST iff its
    endpoints are not connected by strictly smaller edges).

    Scale shape per round: two comp-label hash joins + one symmetric
    min-struct aggregation over the CURRENT cross-component edge set
    (shrinking every round), then component contraction via
    :func:`connected_components` on the picked edges only (a
    forest-sized frame); labels are localCheckpoint-ed per round.
    Returns the MST edge list ``(src, dst, w)``."""
    # the KMV-pair use sends a groups^2-sized edge list; coalesce the
    # micro-frames so the per-round jobs don't inherit
    # spark.sql.shuffle.partitions worth of empty tasks (the q70/q71
    # local[32] job-tax lesson) — swap for a real partitioning when
    # edges are data-sized
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                      F.col(w).alias("w"))
         .where(F.col("u") != F.col("v"))
         .coalesce(1).localCheckpoint(eager=True))
    comp = (e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("c"))
            .coalesce(1).localCheckpoint(eager=True))
    parts = []
    for _ in range(int(max_rounds)):
        cu = comp.select(F.col("node").alias("u"), F.col("c").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("c").alias("cv"))
        cross = (e.join(cu, "u").join(cv, "v")
                 .where(F.col("cu") != F.col("cv")))
        sym = (cross.select(F.col("cu").alias("cc"), "w", "u", "v")
               .unionByName(cross.select(F.col("cv").alias("cc"),
                                         "w", "u", "v")))
        sel = (sym.groupBy("cc")
               .agg(F.min(F.struct("w", "u", "v")).alias("m"))
               .select(F.col("m.u").alias("u"), F.col("m.v").alias("v"),
                       F.col("m.w").alias("w"))
               .distinct()
               .coalesce(1).localCheckpoint(eager=True))
        if sel.isEmpty():
            break
        parts.append(sel)
        selc = (sel.join(cu, "u").join(cv, "v")
                .select(F.col("cu").alias("a"), F.col("cv").alias("b")))
        cc = connected_components(selc)
        comp = (comp.join(cc.withColumnRenamed("node", "c0"),
                          comp["c"] == F.col("c0"), "left")
                .select("node",
                        F.coalesce(F.col("cluster_id"), F.col("c"))
                        .alias("c"))
                .coalesce(1).localCheckpoint(eager=True))
    if not parts:
        return e.where(F.lit(False)).select("u", "v", "w")
    out = reduce(DataFrame.unionByName, parts)
    return out.distinct()


def personalized_pagerank(edges: DataFrame, anchor_col: str = "anchor",
                          src: str = "u", dst: str = "v", w: str = "w",
                          rounds: int = 4, k: int = 20) -> DataFrame:
    """Personalized PageRank (random walk with restart, alpha = 1/2)
    from a single anchor node over a WEIGHTED directed graph — the
    "important relative to HERE" ranking global PageRank (q69)
    cannot give: mass starts at the anchor, each round half of every
    node's mass flows out along edge weights and half of the total
    teleports back to the anchor.

    Integer discipline: mass is integer picomass (anchor starts with
    1e12); each edge flow is ``(r_u * w_uv) DIV (2 * out_u)`` —
    floored BEFORE the destination sum, so partial-aggregation order
    cannot move a unit (floor leakage just decays stray mass, the
    standard trick everywhere in this engine).  ``rounds`` fixed
    rounds, unrolled identically by the oracle.

    Scale shape per round: one edge join on the current mass frame +
    one destination aggregate (both keyed on node ids), mass frames
    localCheckpoint-ed.  ``edges`` must carry an ``anchor_col``
    boolean marking the restart node.  Returns the top-``k``
    ``(node, mass)`` by final mass (ties to smaller node)."""
    out_w = edges.groupBy(src).agg(F.sum(w).alias("outw"))
    e = (edges.join(out_w, src)
         .select(F.col(src).alias("eu"), F.col(dst).alias("ev"),
                 F.col(w).alias("ew"), "outw")
         .localCheckpoint(eager=True))
    anchor = (edges.where(F.col(anchor_col))
              .select(F.col(src).alias("node")).distinct()
              .localCheckpoint(eager=True))
    teleport = anchor.select("node",
                             F.lit(500_000_000_000).alias("tp"))
    r = anchor.select("node", F.lit(1_000_000_000_000).alias("mass"))
    for _ in range(int(rounds)):
        flow = (e.join(r, e["eu"] == r["node"])
                .select("ev", F.expr("(mass * ew) DIV (2 * outw)")
                        .alias("f")))
        inflow = flow.groupBy("ev").agg(F.sum("f").alias("im"))
        r = (inflow.select(F.col("ev").alias("node"), "im")
             .join(teleport, "node", "full")
             .select("node", (F.coalesce(F.col("im"), F.lit(0))
                              + F.coalesce(F.col("tp"), F.lit(0)))
                     .cast("long").alias("mass"))
             .where(F.col("mass") > 0)
             .localCheckpoint(eager=True))
    wtop = Window.orderBy(F.desc("mass"), F.asc("node"))
    return (r.withColumn("rk", F.row_number().over(wtop))
            .where(F.col("rk") <= int(k)).drop("rk"))
