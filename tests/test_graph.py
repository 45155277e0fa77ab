"""Connected-components resolution (geotile/graph.py) — the pairs ->
clusters step of corpus dedup.  Verified against a local union-find
oracle on structured and randomized edge lists."""

import random

import pytest
from pyspark.sql import functions as F

from geotile import cache, graph


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _run(spark, edges, schema="a long, b long"):
    out = graph.connected_components(spark.createDataFrame(edges, schema))
    rows = {r["node"]: r["cluster_id"] for r in out.collect()}
    cache.release(out)
    return out, rows


def test_chain_clique_and_isolated_pair(spark):
    # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}; self-loop dropped
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (11, 12), (10, 12),
             (21, 20), (7, 7)]
    _, rows = _run(spark, edges)
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        edges = [e for e in edges if e[0] != e[1]]
        expect = _uf_components(edges)
        assert _run(spark, edges)[1] == expect


def test_long_chain_converges(spark):
    # worst-case diameter for min-propagation: a 30-node descending chain
    edges = [(i + 1, i) for i in range(30)]
    _, rows = _run(spark, edges)
    assert set(rows.values()) == {0}


def test_non_convergence_raises(spark, monkeypatch):
    # the max_iter guard belongs to the distributed rounds: force them
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
    df = spark.createDataFrame([(i + 1, i) for i in range(10)], "a long, b long")
    with pytest.raises(RuntimeError):
        graph.connected_components(df, max_iter=2)


@pytest.fixture(params=["distributed", "local"])
def cc_path(request, monkeypatch):
    """Force one side of the connected_components cutover: a constant
    of 0 runs distributed rounds until the fixpoint, a huge one
    finishes every graph on the driver."""
    limit = 0 if request.param == "distributed" else 10**9
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", limit)
    return request.param


def test_cutover_paths_match_union_find(spark, cc_path):
    rng = random.Random(17)
    for trial in range(3):
        n = 80
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        # duplicates, reversed copies and self-loops
        edges += edges[:10] + [(b, a) for a, b in edges[10:25]]
        edges += [(i, i) for i in range(0, n, 9)]
        out, rows = _run(spark, edges)
        assert rows == _uf_components([e for e in edges if e[0] != e[1]])
        assert (out._geotile_rounds > 0) == (cc_path == "distributed")


def test_cutover_paths_empty_edges(spark, cc_path):
    out, rows = _run(spark, [])
    assert rows == {}
    assert out.schema == _run(spark, [(2, 1)])[0].schema
    assert out.columns == ["node", "cluster_id"]
    assert out._geotile_rounds == 0


def test_cutover_paths_keep_int_ids(spark, cc_path):
    edges = [(5, 3), (3, 9), (9, 5), (40, 41), (41, 42)]
    out, rows = _run(spark, edges, "a int, b int")
    assert [f.dataType.simpleString() for f in out.schema] == ["int", "int"]
    assert rows == _uf_components(edges)
    out, _ = _run(spark, edges)
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]


def test_cutover_paths_shuffled_long_chain(spark, cc_path):
    # 100k-node chain with shuffled ids: worst case for min propagation
    import numpy as np
    import pandas as pd

    n = 100_000
    ids = np.random.default_rng(5).permutation(n).astype(np.int64) + 7
    out = graph.connected_components(
        spark.createDataFrame(pd.DataFrame({"a": ids[1:], "b": ids[:-1]})))
    stats = out.agg(F.count("*").alias("n"),
                    F.countDistinct("cluster_id").alias("k"),
                    F.min("cluster_id").alias("c")).first()
    assert (stats["n"], stats["k"], stats["c"]) == (n, 1, 7)


def test_cutover_crossed_between_rounds(spark, monkeypatch):
    """A constant between the input and contracted sizes: the first
    rounds run distributed, then the contracted edges finish locally —
    with the same labels as the union-find."""
    rng = random.Random(23)
    edges = [(i + 1, i) for i in range(200)]              # one long chain
    edges += [(rng.randrange(300, 700), rng.randrange(300, 700))
              for _ in range(400)]
    edges = [e for e in edges if e[0] != e[1]]
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
    full, _ = _run(spark, edges)
    n_in = len({(max(e), min(e)) for e in edges})
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", n_in - 1)
    out, rows = _run(spark, edges)
    assert rows == _uf_components(edges)
    assert 1 <= out._geotile_rounds < full._geotile_rounds


def _pr_local(n, edges, iters=5, damping_pct=85):
    """Pure-Python integer PageRank oracle (same fixed-point rules)."""
    from collections import defaultdict
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    base = (100 - damping_pct) * 10**9 // (100 * n)
    r = {v: 10**9 // n for v in range(n)}
    for _ in range(iters):
        s = defaultdict(int)
        for u, v in edges:
            s[v] += r[u] // deg[u]
        r = {v: base + damping_pct * s.get(v, 0) // 100 for v in range(n)}
    return r


def test_pagerank_matches_local_fixed_point(spark):
    rng = random.Random(11)
    n = 40
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(120)})
    edges = [e for e in edges if e[0] != e[1]]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    out = graph.pagerank(nodes, edf, iters=5)
    got = {r["node"]: r["rank_nano"] for r in out.collect()}
    cache.release(out)
    assert got == _pr_local(n, edges)


def _bfs_local(edges, sources, max_hops):
    """Pure-Python multi-source BFS oracle."""
    from collections import defaultdict, deque
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _run_bfs(spark, edges, sources, max_hops):
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sources], "node long")
    out = graph.bfs_hops(edf, sdf, max_hops=max_hops)
    rows = {r["node"]: r["hops"] for r in out.collect()}
    cache.release(out)
    return rows


def test_bfs_chain_directed_cap(spark):
    # directed chain 0->1->2->3->4, seed {0}, cap 2: nodes 3,4 unreached
    edges = [(i, i + 1) for i in range(4)]
    assert _run_bfs(spark, edges, [0], 2) == {0: 0, 1: 1, 2: 2}
    # edges point away from 4, so seeding at 4 reaches nothing new
    assert _run_bfs(spark, edges, [4], 3) == {4: 0}


def test_bfs_multi_source_takes_nearest_seed(spark):
    # chain 0->1->2->3->4->5 with seeds {0, 4}: node 5 is 1 hop (via 4)
    edges = [(i, i + 1) for i in range(5)]
    got = _run_bfs(spark, edges, [0, 4], 10)
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 0, 5: 1}


def test_bfs_cycle_terminates_before_cap(spark):
    # 4-cycle: BFS must stop when the frontier empties, not at the cap
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert _run_bfs(spark, edges, [0], 15) == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_matches_local_on_random_graphs(spark):
    rng = random.Random(13)
    for _ in range(3):
        n = 50
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(90)})
        edges = [e for e in edges if e[0] != e[1]]
        sources = [0, 17]
        expect = _bfs_local(edges, sources, 4)
        assert _run_bfs(spark, edges, sources, 4) == expect


def test_pagerank_sink_heavy_node_ranks_highest(spark):
    # everyone links to node 0; node 0 links to 1
    n = 8
    edges = [(i, 0) for i in range(1, n)] + [(0, 1)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    out = graph.pagerank(nodes, edf, iters=5)
    got = {r["node"]: r["rank_nano"] for r in out.collect()}
    cache.release(out)
    assert max(got, key=got.get) == 0
    assert got[1] > got[2] == got[3]


def test_triangle_counts_exact(spark):
    from geotile import cache, graph
    from pyspark.sql import functions as F

    # triangle 1-2-3 (with a duplicate reversed edge), square 4-5-6-7
    # (no triangles), K4 on 10..13 (4 triangles, each node in 3)
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 5), (5, 6), (6, 7), (7, 4)]
    edges += [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = graph.triangle_counts(e)
    got = sorted((r["node"], r["n_tri"]) for r in out.collect())
    cache.release(out)
    assert got == [(1, 1), (2, 1), (3, 1)] + [(n, 3) for n in range(10, 14)]


# --------------------------------------------------------------------------
# triangle counting: degree-oriented variant vs id-oriented baseline
# --------------------------------------------------------------------------


def _tri_counts(df):
    rows = {r["node"]: r["n_tri"] for r in df.collect()}
    cache.release(df)
    return rows


def test_oriented_triangles_match_on_random_graph(spark):
    rng = random.Random(98)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(250)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = _tri_counts(graph.triangle_counts(df))
    skew = _tri_counts(graph.triangle_counts_oriented(df))
    assert base == skew and base  # non-empty


def test_oriented_triangles_match_on_star_heavy_graph(spark):
    # hub 0 touches every node (the "last reducer" shape) + a clique
    # + a few chords closing hub triangles
    n = 120
    edges = [(0, i) for i in range(1, n)]
    edges += [(i, j) for i in range(1, 8) for j in range(i + 1, 8)]
    edges += [(50 + i, 51 + i) for i in range(0, 40, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = _tri_counts(graph.triangle_counts(df))
    skew = _tri_counts(graph.triangle_counts_oriented(df))
    assert base == skew
    # hub participates in every clique/chord triangle; sanity-pin one
    assert base[0] == (7 * 6) // 2 + 20


def test_oriented_star_alone_has_no_triangles(spark):
    df = spark.createDataFrame([(0, i) for i in range(1, 50)],
                               "src long, dst long")
    out = graph.triangle_counts_oriented(df)
    assert out.count() == 0
    cache.release(out)


def _run_sssp(spark, edges, sources, rounds):
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(s,) for s in sources], "node long")
    out = graph.shortest_paths(df, srcs, max_rounds=rounds)
    rows = {r["node"]: r["dist"] for r in out.collect()}
    cache.release(out)
    return rows


def _sssp_local(edges, sources, rounds):
    # Bellman-Ford bounded at `rounds` edges per path
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                nxt[v] = dist[u] + w
        if nxt == dist:
            break
        dist = nxt
    return dist


def test_sssp_prefers_cheap_long_path(spark):
    # 0->2 direct costs 10; 0->1->2 costs 3: weighted answer differs
    # from BFS hop counts
    edges = [(0, 2, 10), (0, 1, 1), (1, 2, 2)]
    assert _run_sssp(spark, edges, [0], 5) == {0: 0, 1: 1, 2: 3}


def test_sssp_round_cap_is_edge_count_bound(spark):
    # cheap path needs 3 edges; with cap 2 only the expensive 2-edge
    # path is admissible — dist must be the <=2-edge minimum (the
    # q126 oracle's recursion-depth semantics)
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 4, 5), (4, 3, 5)]
    assert _run_sssp(spark, edges, [0], 2)[3] == 10
    assert _run_sssp(spark, edges, [0], 3)[3] == 3


def test_sssp_multi_source_and_early_stop(spark):
    # 6-cycle with unit weights, seeds at 0 and 3: everything within
    # distance 1; a generous cap must early-exit, not loop
    edges = [(i, (i + 1) % 6, 1) for i in range(6)] + \
            [((i + 1) % 6, i, 1) for i in range(6)]
    got = _run_sssp(spark, edges, [0, 3], 50)
    assert got == {0: 0, 3: 0, 1: 1, 2: 1, 4: 1, 5: 1}


def test_sssp_matches_local_on_random_graphs(spark):
    rng = random.Random(29)
    for _ in range(3):
        n = 40
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(80)})
        edges = [(u, v, 1 + ((u * 7 + v) % 9)) for u, v in edges if u != v]
        expect = _sssp_local(edges, [0, 11], 5)
        assert _run_sssp(spark, edges, [0, 11], 5) == expect


def test_label_propagation_converges_on_cliques(spark):
    # two disjoint triangles + one isolated node
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)],
        "src long, dst long")
    nodes = spark.createDataFrame(
        [(v,) for v in (0, 1, 2, 10, 11, 12, 99)], "node long")
    out = graph.label_propagation(nodes, edges, iters=3)
    got = {r["node"]: r["label"] for r in out.collect()}
    from geotile import cache
    cache.release(out)
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10, 99: 99}


def test_kcore_peel_clique_and_chain(spark):
    from geotile import cache, graph

    # clique on 6 nodes (degree 5 each -> survives k=5 forever) plus a
    # chain 100-101-102 hanging off node 0 (peels from the tail in)
    clique = [(a, b) for a in range(6) for b in range(6) if a < b]
    chain = [(0, 100), (100, 101), (101, 102)]
    nodes = spark.createDataFrame([(i,) for i in range(6)]
                                  + [(100,), (101,), (102,)], "node long")
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    out = graph.kcore_peel(nodes, edges, k=5, rounds=4)
    got = {r["node"]: r["peel_round"] for r in out.collect()}
    cache.release(out)
    # chain nodes have degree <= 2 -> all peel in round 0
    assert got[100] == 0 and got[101] == 0 and got[102] == 0
    # node 0 has degree 6 in round 0; after the chain dies it has 5 -> survives
    assert all(got[i] == 4 for i in range(6))


def test_kcore_peel_cascades(spark):
    from geotile import cache, graph

    # a 4-chain under k=2: endpoints die round 0, then the middle pair
    # (degree 1 after the peel) dies round 1
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                  "src long, dst long")
    out = graph.kcore_peel(nodes, edges, k=2, rounds=3)
    got = {r["node"]: r["peel_round"] for r in out.collect()}
    cache.release(out)
    assert got == {0: 0, 3: 0, 1: 1, 2: 1}


def test_pagerank_weighted_proportional_split(spark):
    from geotile import cache, graph

    # A(0) splits 9:1 to B(1) and C(2); B and C sink back to A
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame([(0, 1, 9), (0, 2, 1), (1, 0, 1),
                                   (2, 0, 1)], "src long, dst long, w long")
    out = graph.pagerank_weighted(nodes, edges, iters=1)
    got = {r["node"]: r["rank_nano"] for r in out.collect()}
    cache.release(out)
    r0 = 10**9 // 3
    base = 15 * 10**9 // (100 * 3)
    assert got[1] == base + 85 * ((r0 * 9) // 10) // 100
    assert got[2] == base + 85 * ((r0 * 1) // 10) // 100
    assert got[0] == base + 85 * (r0 + r0) // 100
    # heavy edge dominates
    assert got[1] > 3 * got[2]


def test_harmonic_centrality_path_graph(spark):
    from geotile import cache, graph

    # path 0-1-2-3-4: node 2 sees (1,3) at d1, (0,4) at d2, nothing at
    # d3; node 0 sees 1 / 2 / 3 at d1/d2/d3
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  "src long, dst long")
    out = graph.harmonic_centrality(nodes, edges, max_hops=3)
    got = {r["node"]: r for r in out.collect()}
    cache.release(out)
    assert (got[2]["n1"], got[2]["n2"], got[2]["n3"]) == (2, 2, 0)
    assert got[2]["harmonic_micro"] == 2 * 1000000 + 2 * 500000
    assert (got[0]["n1"], got[0]["n2"], got[0]["n3"]) == (1, 1, 1)
    assert got[0]["harmonic_micro"] == 1000000 + 500000 + 333333
    # symmetry of the path: mirrored nodes score alike
    assert got[1]["harmonic_micro"] == got[3]["harmonic_micro"]


def test_harmonic_centrality_isolated_zero(spark):
    from geotile import cache, graph

    nodes = spark.createDataFrame([(0,), (1,), (9,)], "node long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    out = graph.harmonic_centrality(nodes, edges, max_hops=3)
    got = {r["node"]: r for r in out.collect()}
    cache.release(out)
    assert got[9]["harmonic_micro"] == 0
    assert got[0]["harmonic_micro"] == 1000000


def test_reciprocity_assortativity_hand_graph(spark):
    from geotile import cache, graph

    # edges: 0->1, 1->0 (reciprocal), 0->2, 2->3: reciprocity 2/4
    edges = spark.createDataFrame([(0, 1), (1, 0), (0, 2), (2, 3)],
                                  "src long, dst long")
    out = graph.reciprocity_assortativity(edges)
    r = out.collect()[0]
    cache.release(out)
    assert r["n_edges"] == 4 and r["n_recip"] == 2
    assert r["recip_micro"] == 500000
    assert r["n_und"] == 3
    # degrees (undirected multiplicity by directed count): deg 0=3,
    # 1=2... wait: degrees count directed incidences: 0:3, 1:2, 2:2, 3:1
    # und edges (1,0),(2,0),(3,2) -> pairs (2,3),(2,3),(1,2) symmetrized
    import math

    pts = [(2, 3), (3, 2), (2, 3), (3, 2), (1, 2), (2, 1)]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sx2 = sum(x * x for x, _ in pts); sy2 = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    num = n * sxy - sx * sy
    dx = n * sx2 - sx * sx
    dy = n * sy2 - sy * sy
    assert (r["corr_num"], r["den_x"], r["den_y"]) == (num, dx, dy)
    assert r["assort_micro"] == math.floor(
        num * 1000000 / (math.sqrt(dx) * math.sqrt(dy)))


def test_clustering_coefficients_triangle_and_star(spark):
    """K3 plus a pendant star: triangle corners have cc = 1 over their
    wedge share; the star hub closes nothing."""
    from geotile import cache, graph

    # triangle 1-2-3; star hub 10 -> leaves 11,12,13 (no closures)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (10, 12), (10, 13)],
        "src long, dst long")
    out = graph.clustering_coefficients(edges)
    rows = {r["node"]: r for r in out.collect()}
    cache.release(out)
    for n in (1, 2, 3):
        assert rows[n]["deg"] == 2 and rows[n]["n_tri"] == 1
        assert rows[n]["cc_micro"] == 1000000
    assert rows[10]["deg"] == 3 and rows[10]["n_tri"] == 0
    assert rows[10]["cc_micro"] == 0
    # degree-1 leaves excluded (no wedge entitlement)
    assert 11 not in rows and 12 not in rows and 13 not in rows


def test_adamic_adar_path_and_square(spark):
    """Path 1-2-3: pair (1,3) scores one wedge through the deg-2
    middle; square 1-2-3-4: both diagonals score two wedges."""
    import math

    from geotile import cache, graph

    w2 = math.floor(1000000.0 / math.log(2.0))
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = graph.adamic_adar_topk(path, k=5)
    rows = {(r["a"], r["b"]): r for r in out.collect()}
    cache.release(out)
    assert set(rows) == {(1, 3)}
    assert rows[(1, 3)]["n_common"] == 1
    assert rows[(1, 3)]["aa_micro"] == w2
    sq = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)],
                               "src long, dst long")
    out2 = graph.adamic_adar_topk(sq, k=5)
    rows2 = {(r["a"], r["b"]): r for r in out2.collect()}
    cache.release(out2)
    assert set(rows2) == {(1, 3), (2, 4)}
    for p in rows2.values():
        assert p["n_common"] == 2 and p["aa_micro"] == 2 * w2


def test_boruvka_mst_hand_graph_and_ties(spark):
    """Known MST on a 5-edge graph, plus the all-ties triangle where
    the (w, u, v) total order uniquely decides the tree."""
    from geotile import graph

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (1, 3, 3), (3, 4, 1), (2, 4, 5)],
        "u long, v long, w long")
    got = sorted((r["u"], r["v"], r["w"])
                 for r in graph.boruvka_mst(edges).collect())
    assert got == [(1, 2, 1), (2, 3, 2), (3, 4, 1)]

    tri = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 5)], "u long, v long, w long")
    got2 = sorted((r["u"], r["v"], r["w"])
                  for r in graph.boruvka_mst(tri).collect())
    assert got2 == [(1, 2, 5), (1, 3, 5)]


def test_personalized_pagerank_hand_graph(spark):
    """Three-node graph replayed by hand through all four integer
    rounds, including mass leaking at the sink node C."""
    from geotile import graph

    edges = spark.createDataFrame(
        [("A", "B", 2, True), ("A", "C", 2, True), ("B", "A", 1, False)],
        "u string, v string, w long, anchor boolean")
    got = {r["node"]: r["mass"]
           for r in graph.personalized_pagerank(edges).collect()}
    assert got == {"A": 578_125_000_000, "B": 140_625_000_000,
                   "C": 140_625_000_000}
