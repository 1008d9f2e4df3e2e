"""Iterative graph analytics vs independent Python references
(union-find, BFS, dense power iteration) and the graphified testdata."""

import pytest
from pyspark.sql import functions as F

from pidb_rdf_spark.analytics import (
    connected_components,
    near_dup_clusters,
    pagerank,
    shortest_hops,
)

EDGES = [
    (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21),
    (5, 1), (12, 10),  # cycle + extra link into component A / B
]


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    got = dict(map(tuple, connected_components(pairs).collect()))
    assert got == _union_find(EDGES)


def test_components_deterministic_canonical_is_min(spark):
    pairs = spark.createDataFrame([(7, 3), (3, 9), (9, 7)], ["src", "dst"])
    got = dict(map(tuple, connected_components(pairs).collect()))
    assert got == {3: 3, 7: 3, 9: 3}


def test_shortest_hops_directed_and_undirected(spark):
    e = spark.createDataFrame(EDGES, ["src", "dst"])
    s = spark.createDataFrame([(1,)], ["id"])
    directed = dict(map(tuple, shortest_hops(e, s).collect()))
    assert directed == {1: 0, 2: 1, 3: 2, 4: 3}
    undirected = dict(map(tuple, shortest_hops(e, s, directed=False).collect()))
    assert undirected == {1: 0, 2: 1, 5: 1, 3: 2, 4: 3}


def test_shortest_hops_multi_source_takes_nearest(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (9, 3)], ["src", "dst"])
    s = spark.createDataFrame([(1,), (9,)], ["id"])
    got = dict(map(tuple, shortest_hops(e, s).collect()))
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}


def test_pagerank_vs_dense_reference(spark):
    import numpy as np

    e = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    nodes = sorted({x for p in e for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n, d = len(nodes), 0.85
    M = np.zeros((n, n))
    for a, b in e:
        M[idx[b], idx[a]] += 1
    out = M.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        dangling = 0.0
        for j in range(n):
            if out[j]:
                contrib += d * (M[:, j] / out[j]) * r[j]
            else:
                dangling += r[j]
        r = (1 - d) / n + d * dangling / n + contrib
    got = dict(map(tuple, pagerank(spark.createDataFrame(e, ["src", "dst"])).collect()))
    for node in nodes:
        assert got[node] == pytest.approx(r[idx[node]], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0)


def test_components_on_containment_edges(graph):
    """Each region's containment tree is one component whose canonical
    is the region node (region ids occupy the lowest id band)."""
    cont = graph.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
    comp = connected_components(cont)
    by_comp = comp.groupBy("component").count().collect()
    assert len(by_comp) == 5  # one per region
    regions = {r.id for r in graph.find_nodes("Region").select("id").collect()}
    assert {r.component for r in by_comp} == regions


def test_near_dup_clusters_transitivity(spark):
    # a~b and b~c (a!~c directly) must share a cluster
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["doc_id"])
    got = dict(map(tuple, near_dup_clusters(pairs, ids).collect()))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_triangle_count(spark):
    # K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; node 5
    # hangs off one edge and is in none
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    from pidb_rdf_spark.analytics import triangle_count

    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(map(tuple, triangle_count(pairs).collect()))
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # duplicate + reversed edges must not inflate counts
    noisy = spark.createDataFrame(edges + [(2, 1), (3, 1)], ["src", "dst"])
    assert dict(map(tuple, triangle_count(noisy).collect())) == got


def test_star_components_long_path(spark):
    """A 40-node path: star rounds converge in O(log n), and the
    labeling matches min-label propagation on the worst diameter
    shape for the latter."""
    from pidb_rdf_spark.analytics import (
        connected_components,
        connected_components_star,
    )

    path = [(i, i + 1) for i in range(16)]
    df = spark.createDataFrame(path, "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(df).collect()
    }
    assert got == {(i, 0) for i in range(17)}
    ref = {
        (r["node"], r["component"]) for r in connected_components(df).collect()
    }
    assert got == ref


# ---------------------------------------------------------------------------
# Weighted SSSP (bounded Bellman-Ford)
# ---------------------------------------------------------------------------


def _sssp_map(spark, edge_rows, sources, directed=True, max_iter=20):
    from pidb_rdf_spark.analytics import sssp

    e = spark.createDataFrame(edge_rows, ["src", "dst", "weight"])
    s = spark.createDataFrame([(x,) for x in sources], ["node"])
    return {
        r["node"]: r["dist"]
        for r in sssp(e, s, directed=directed, max_iter=max_iter).collect()
    }


def test_sssp_prefers_cheap_long_path(spark):
    # direct a->d costs 10; a->b->c->d costs 3
    d = _sssp_map(
        spark,
        [("a", "d", 10), ("a", "b", 1), ("b", "c", 1), ("c", "d", 1)],
        ["a"],
    )
    assert d == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_sssp_undirected_and_multi_source(spark):
    d = _sssp_map(
        spark,
        [("a", "b", 2), ("c", "b", 1)],
        ["a", "c"],
        directed=False,
    )
    # b reached from c (cost 1), not a (cost 2)
    assert d == {"a": 0, "c": 0, "b": 1}


def test_sssp_unreachable_absent_and_bounded_rounds(spark):
    d = _sssp_map(
        spark, [("a", "b", 1), ("x", "y", 1)], ["a"], max_iter=1
    )
    # one round: only paths of <=1 edge; x/y unreachable -> absent
    assert d == {"a": 0, "b": 1}


def test_sssp_round_invariant_matches_naive(spark):
    """After i rounds dist == min cost over paths of <= i edges — the
    invariant the SQL oracle's unrolled rounds rely on."""
    edges = [("s", "m", 5), ("s", "a", 1), ("a", "b", 1), ("b", "m", 1)]
    d2 = _sssp_map(spark, edges, ["s"], max_iter=2)
    assert d2["m"] == 5  # 3-edge cheap path not yet visible
    d3 = _sssp_map(spark, edges, ["s"], max_iter=3)
    assert d3["m"] == 3


def test_sssp_rejects_fractional_weights_and_drops_null(spark):
    import pytest

    from pidb_rdf_spark.analytics import sssp

    s = spark.createDataFrame([("a",)], ["node"])
    frac = spark.createDataFrame([("a", "b", 1.6)], ["src", "dst", "weight"])
    with pytest.raises(ValueError, match="integral weights"):
        sssp(frac, s)
    # NULL weight = no edge; must not poison downstream distances
    withnull = spark.createDataFrame(
        [("a", "b", None), ("a", "b", 3), ("b", "c", 1)],
        "src string, dst string, weight int",
    )
    d = {r["node"]: r["dist"] for r in sssp(withnull, s).collect()}
    assert d == {"a": 0, "b": 3, "c": 4}


# ---------------------------------------------------------------------------
# k-core and label propagation (late-r8)
# ---------------------------------------------------------------------------


def test_kcore_peels_tail(spark):
    # triangle {1,2,3} with a tail 3-4-5
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    from pidb_rdf_spark.analytics import kcore

    got = sorted(r[0] for r in kcore(pairs, 2).collect())
    assert got == [1, 2, 3]
    assert kcore(pairs, 3).isEmpty()  # no 3-core anywhere
    assert sorted(r[0] for r in kcore(pairs, 1).collect()) == [1, 2, 3, 4, 5]


def test_kcore_k4_with_pendant(spark):
    k4 = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    pairs = spark.createDataFrame(k4 + [(13, 14)], ["src", "dst"])
    from pidb_rdf_spark.analytics import kcore

    got = sorted(r[0] for r in kcore(pairs, 3).collect())
    assert got == [10, 11, 12, 13]


def test_kcore_vs_python_reference(spark):
    """Peel order must not matter: compare against a sequential peel."""
    import itertools
    import random

    rng = random.Random(7)
    nodes = list(range(30))
    edges = [
        (a, b) for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.15
    ]

    def ref_kcore(edges, k):
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj.pop(n):
                        adj[m].discard(n)
                    changed = True
        return sorted(adj)

    from pidb_rdf_spark.analytics import kcore

    pairs = spark.createDataFrame(edges, ["src", "dst"])
    for k in (2, 3, 4):
        got = sorted(r[0] for r in kcore(pairs, k).collect())
        assert got == ref_kcore(edges, k), f"k={k}"


def test_label_propagation_two_cliques(spark):
    # two triangles joined by one weak edge -> two communities
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    from pidb_rdf_spark.analytics import label_propagation

    got = dict(map(tuple, label_propagation(pairs).collect()))
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_label_propagation_deterministic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    from pidb_rdf_spark.analytics import label_propagation

    a = sorted(map(tuple, label_propagation(pairs, n_iter=4).collect()))
    b = sorted(map(tuple, label_propagation(pairs, n_iter=4).collect()))
    assert a == b


def test_modularity_two_cliques(spark):
    """Hand-checked: two triangles + one bridge, perfect 2-community
    split. m=7; e_c=3 each; degrees: 2,2,3 | 3,2,2 -> d_c=7 each.
    Q = 2 * (3/7 - (7/14)^2) = 6/7 - 1/2 = 5/14."""
    from pidb_rdf_spark.analytics import modularity

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)],
        ["node", "community"],
    )
    assert modularity(pairs, asg) == pytest.approx(5 / 14)
    # everything in ONE community: Q = e/m - 1 = 0 by definition
    one = spark.createDataFrame([(i, 1) for i in range(1, 7)], ["node", "community"])
    assert modularity(pairs, one) == pytest.approx(0.0)
    # the LPA split of this graph should be the good split
    from pidb_rdf_spark.analytics import label_propagation

    lpa = label_propagation(pairs)
    assert modularity(pairs, lpa) == pytest.approx(5 / 14)


# ---------------------------------------------------------------------------
# strongly connected components (directed) vs a python Kosaraju oracle
# ---------------------------------------------------------------------------


def _py_scc(edges):
    """Kosaraju reference: node -> min id of its SCC."""
    from collections import defaultdict

    fwd, bwd = defaultdict(list), defaultdict(list)
    nodes = set()
    for a, b in edges:
        if a == b:
            nodes.add(a)
            continue
        fwd[a].append(b)
        bwd[b].append(a)
        nodes.update((a, b))
    order, seen = [], set()
    for s in nodes:
        if s in seen:
            continue
        stack = [(s, iter(fwd[s]))]
        seen.add(s)
        while stack:
            n, it = stack[-1]
            adv = False
            for m in it:
                if m not in seen:
                    seen.add(m)
                    stack.append((m, iter(fwd[m])))
                    adv = True
                    break
            if not adv:
                order.append(n)
                stack.pop()
    comp, assigned = {}, set()
    for s in reversed(order):
        if s in assigned:
            continue
        members, stack = [], [s]
        assigned.add(s)
        while stack:
            n = stack.pop()
            members.append(n)
            for m in bwd[n]:
                if m not in assigned:
                    assigned.add(m)
                    stack.append(m)
        mn = min(members)
        for n in members:
            comp[n] = mn
    return comp


def test_scc_basic_shapes(spark):
    from pidb_rdf_spark.analytics import strongly_connected_components

    # a 3-cycle, a 2-cycle reachable from it, and a dangling tail
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)]
    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(map(tuple, strongly_connected_components(pairs).collect()))
    assert got == _py_scc(edges)
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6


def test_scc_vs_python_reference_random(spark):
    import random

    rng = random.Random(11)
    edges = list({
        (rng.randrange(18), rng.randrange(18)) for _ in range(60)
    })
    edges = [(a, b) for a, b in edges if a != b]
    from pidb_rdf_spark.analytics import strongly_connected_components

    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(map(tuple, strongly_connected_components(pairs).collect()))
    assert got == _py_scc(edges)


def test_scc_dag_is_all_singletons(spark):
    from pidb_rdf_spark.analytics import strongly_connected_components

    edges = [(1, 2), (1, 3), (2, 4), (3, 4)]
    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(map(tuple, strongly_connected_components(pairs).collect()))
    assert got == {n: n for n in (1, 2, 3, 4)}


def _brute_betweenness(edges, directed=False):
    """Brute-force betweenness by shortest-path enumeration."""
    adj: dict = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        nodes.update((a, b))
        if not directed:
            adj.setdefault(b, set()).add(a)
    import itertools
    from collections import deque

    bc = dict.fromkeys(nodes, 0.0)
    for s, t in itertools.permutations(nodes, 2):
        # enumerate all shortest s->t paths by BFS layering
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        if t not in dist:
            continue
        paths = [[s]]
        full = []
        while paths:
            p = paths.pop()
            u = p[-1]
            if u == t:
                full.append(p)
                continue
            for v in adj.get(u, ()):
                if dist.get(v) == dist[u] + 1 and dist[v] <= dist[t]:
                    paths.append(p + [v])
        for p in full:
            for mid in p[1:-1]:
                bc[mid] += 1.0 / len(full)
    if not directed:
        bc = {n: v / 2 for n, v in bc.items()}
    return bc


def test_closeness_path_graph(spark):
    from pidb_rdf_spark.analytics import closeness_centrality

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    got = {
        r["node"]: (r["n_reached"], r["sum_hops"], r["closeness"], r["harmonic"])
        for r in closeness_centrality(pairs).collect()
    }
    assert got[1][:3] == (3, 6, 0.5)
    assert got[2][:3] == (3, 4, 0.75)
    assert got[1][3] == pytest.approx(1 + 0.5 + 1 / 3)
    assert got[2][3] == pytest.approx(1 + 1 + 0.5)


def test_closeness_sampled_sources_and_disconnected(spark):
    from pidb_rdf_spark.analytics import closeness_centrality

    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
    srcs = spark.createDataFrame([(1,)], ["node"])
    rows = closeness_centrality(pairs, sources=srcs).collect()
    assert len(rows) == 1  # only the sampled source
    assert rows[0]["n_reached"] == 1  # the other component is unreachable


def test_betweenness_matches_brute_force(spark):
    from pidb_rdf_spark.analytics import betweenness_centrality

    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (2, 5)]
    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(pairs).collect()
    }
    want = _brute_betweenness(edges)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n]), n


def test_betweenness_square_multipath(spark):
    """C4: two shortest paths between opposite corners — sigma
    splitting gives every node 0.5."""
    from pidb_rdf_spark.analytics import betweenness_centrality

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(pairs).collect()
    }
    assert got == {1: 0.5, 2: 0.5, 3: 0.5, 4: 0.5}


def test_betweenness_directed_chain(spark):
    from pidb_rdf_spark.analytics import betweenness_centrality

    edges = [(1, 2), (2, 3), (3, 4)]
    pairs = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(pairs, directed=True).collect()
    }
    want = _brute_betweenness(edges, directed=True)
    for n in want:
        assert got[n] == pytest.approx(want[n]), n


def test_betweenness_weighted_dijkstra_twin(spark):
    """Weighted betweenness matches a pure-python weighted Brandes
    (Dijkstra distances, DAG sigma in distance order, dependency
    accumulation in reverse); parallel edges take the CHEAPEST weight
    (the distance convention); all-1 integral weights reproduce the
    unweighted values; fractional weights RAISE (the sssp guard: the
    DAG test dist(u)+w == dist(v) needs exact arithmetic); the
    relaxation budget RAISES when exhausted mid-relax."""
    import heapq

    from pidb_rdf_spark.analytics import betweenness_centrality

    # the (1,4) shortcut is heavier than 1-2-3-4, so the weighted
    # shortest paths route through 2 and 3 where the unweighted ones
    # took the direct edge — betweenness must shift accordingly
    edges = [
        (1, 2, 1), (1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 4, 9),
        (2, 5, 2), (4, 5, 1), (6, 7, 3),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, wt long")

    wadj: dict = {}
    for s_, d_, w_ in edges:
        for a, b in ((s_, d_), (d_, s_)):  # undirected
            wadj.setdefault(a, {})
            wadj[a][b] = min(wadj[a].get(b, float("inf")), w_)
    nodes = sorted(wadj)

    def brandes_weighted():
        bc = {v: 0.0 for v in nodes}
        for s_ in nodes:
            dist = {s_: 0}
            pq = [(0, s_)]
            while pq:
                d, u = heapq.heappop(pq)
                if d > dist.get(u, float("inf")):
                    continue
                for v, w_ in wadj.get(u, {}).items():
                    nd = d + w_
                    if nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        heapq.heappush(pq, (nd, v))
            reached = sorted(dist, key=lambda x: dist[x])
            sigma = {u: 0.0 for u in reached}
            sigma[s_] = 1.0
            for u in reached:
                for v, w_ in wadj.get(u, {}).items():
                    if dist.get(v) == dist[u] + w_:
                        sigma[v] += sigma[u]
            delta = {u: 0.0 for u in reached}
            for u in reversed(reached):
                for v, w_ in wadj.get(u, {}).items():
                    if dist.get(v) == dist[u] + w_:
                        delta[u] += sigma[u] / sigma[v] * (1.0 + delta[v])
            for u in reached:
                if u != s_:
                    bc[u] += delta[u]
        return {v: b / 2 for v, b in bc.items()}

    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(df, weight="wt").collect()
    }
    want = brandes_weighted()
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n]), n
    # weighting must actually shift centrality onto the cheap route
    assert want[2] > 0.0 and want[3] > 0.0
    # all-1 weights == unweighted, value for value
    ones = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            df.withColumn("wt", F.lit(1).cast("long")), weight="wt"
        ).collect()
    }
    unw = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(df.select("src", "dst")).collect()
    }
    assert ones == unw
    with pytest.raises(ValueError, match="integral"):
        betweenness_centrality(
            df.withColumn("wt", F.col("wt").cast("double")), weight="wt"
        )
    with pytest.raises(RuntimeError, match="still relaxing"):
        betweenness_centrality(df, weight="wt", max_iter=1)


def test_betweenness_weighted_directed(spark):
    """Directed weighted chain with a heavy bypass: deltas are not
    halved, and the bypass edge carries no shortest path."""
    from pidb_rdf_spark.analytics import betweenness_centrality

    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 5)], "src long, dst long, wt long"
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            df, weight="wt", directed=True
        ).collect()
    }
    # only 1->2->3 routes through 2 (the 1->3 weight-5 edge loses)
    assert got == {1: 0.0, 2: 1.0, 3: 0.0}


def test_node_similarity_jaccard(spark):
    from pidb_rdf_spark.analytics import node_similarity

    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (1, 4), (2, 4), (2, 5)], ["src", "dst"]
    )
    got = {
        (r["a"], r["b"]): (r["n_common"], r["jaccard"])
        for r in node_similarity(pairs).collect()
    }
    assert got[(1, 2)] == (2, pytest.approx(2 / 3))
    assert got[(3, 4)] == (2, pytest.approx(1.0))
    assert got[(3, 5)] == (1, pytest.approx(0.5))
    assert got[(4, 5)] == (1, pytest.approx(0.5))


def test_node_similarity_max_degree_drops_hub_candidates(spark):
    from pidb_rdf_spark.analytics import node_similarity

    # hub node 9 links 1,2,3; private neighbor 8 links only 1,2
    pairs = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (1, 8), (2, 8)], ["src", "dst"]
    )
    got = node_similarity(pairs, max_degree=2).collect()
    keys = {(r["a"], r["b"]) for r in got}
    # pairs generated only through the degree-2 neighbor 8
    assert (1, 2) in keys
    assert (1, 3) not in keys and (2, 3) not in keys
    # surviving pairs are re-verified over the FULL neighbor set:
    # the hub 9 counts toward n_common even though it never generated
    row = {(r["a"], r["b"]): r for r in got}[(1, 2)]
    assert row["n_common"] == 2  # {8, 9}
    assert row["jaccard"] == pytest.approx(2 / (2 + 2 - 2))


def test_centrality_max_iter_exhaustion_raises(spark):
    """A frontier still growing at max_iter raises instead of
    silently truncating distances/dependencies."""
    from pidb_rdf_spark.analytics import (
        betweenness_centrality,
        closeness_centrality,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="max_iter"):
        closeness_centrality(chain, max_iter=2).collect()
    with pytest.raises(RuntimeError, match="max_iter"):
        betweenness_centrality(chain, max_iter=2).collect()


def test_hits_vs_dense_reference(spark):
    import numpy as np

    from pidb_rdf_spark.analytics import hits

    e = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1)]
    nodes = sorted({x for p in e for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in e:
        A[idx[a], idx[b]] = 1
    h = np.ones(len(nodes))
    a = np.ones(len(nodes))
    for _ in range(10):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(spark.createDataFrame(e, ["src", "dst"])).collect()
    }
    for n in nodes:
        assert got[n][0] == pytest.approx(h[idx[n]], rel=1e-9), n
        assert got[n][1] == pytest.approx(a[idx[n]], rel=1e-9), n


def test_hits_hub_authority_split(spark):
    """A pure bipartite pointer graph: sources are pure hubs (zero
    authority), sinks pure authorities (zero hub)."""
    from pidb_rdf_spark.analytics import hits

    e = [(1, 10), (1, 11), (2, 10), (2, 11)]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(spark.createDataFrame(e, ["src", "dst"])).collect()
    }
    for n in (1, 2):
        assert got[n][0] > 0 and got[n][1] == 0.0
    for n in (10, 11):
        assert got[n][0] == 0.0 and got[n][1] > 0


def test_ktruss_semantics(spark):
    """3-truss keeps exactly the edges in >=1 triangle; a clique
    minus nothing survives 4-truss while a lone triangle does not."""
    from pidb_rdf_spark.analytics import ktruss

    # K4 on 1-4, a triangle 5-6-7, and a dangling edge 7-8
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (5, 6), (5, 7), (6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    t3 = {(r["a"], r["b"]) for r in ktruss(df, 3).collect()}
    assert t3 == set(edges) - {(7, 8)}
    t4 = {(r["a"], r["b"]) for r in ktruss(df, 4).collect()}
    # the triangle's edges have support 1 < 2: only K4 survives
    assert t4 == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert ktruss(df, 5).count() == 0  # K4 edges have support 2 < 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 3"):
        ktruss(df, 2)


def test_ktruss_cascading_peel(spark):
    """Removing one edge can strip a whole chain of triangles: the
    triangle fan 0-(1,2),(2,3),(3,4) peels completely at k=4."""
    from pidb_rdf_spark.analytics import ktruss

    fan = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(fan, "src long, dst long")
    assert ktruss(df, 4).count() == 0
    t3 = {(r["a"], r["b"]) for r in ktruss(df, 3).collect()}
    assert t3 == set(fan)


def test_random_walks_deterministic_and_replayable(spark):
    import hashlib

    from pidb_rdf_spark.analytics import random_walks

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4)]  # 4 is a sink
    df = spark.createDataFrame(edges, "src long, dst long")
    got = random_walks(df, walk_len=4, n_walks=2).collect()
    walks = {}
    for r in got:
        walks.setdefault((r["start"], r["walk"]), {})[r["step"]] = r["node"]

    adj = {1: [2, 3], 2: [3], 3: [1, 4]}

    def replay(start, w):
        path = {0: start}
        cur = start
        for s in range(1, 5):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            h = int(
                hashlib.md5(f"walk:{start}:{w}:{s}".encode()).hexdigest()[:13],
                16,
            )
            cur = sorted(nbrs)[h % len(nbrs)]
            path[s] = cur
        return path

    for start in (1, 2, 3, 4):
        for w in (0, 1):
            assert walks[(start, w)] == replay(start, w), (start, w)
    # walks from the sink are just the start row
    assert walks[(4, 0)] == {0: 4}
    # stable under input repartitioning
    again = random_walks(df.repartition(7), walk_len=4, n_walks=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_modularity_table_decomposition(spark):
    """The per-community table behind Q: e_c/d_c/contribution for the
    two-triangle bridge graph, plus the empty-graph empty frame."""
    from pidb_rdf_spark.analytics import modularity_table

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)],
        ["node", "community"],
    )
    got = {
        r.community: (r.e_c, r.d_c, r.m, r.q_num, r.contribution)
        for r in modularity_table(pairs, asg).collect()
    }
    # m=7, each side: 3 intra edges, degree sum 7
    want_contrib = 3 / 7 - (7 / 14) ** 2
    assert set(got) == {1, 2}
    for c in (1, 2):
        assert got[c][0] == 3 and got[c][1] == 7
        assert got[c][2] == 7
        # exact integer numerator: 4*m*e_c - d_c^2 = 4*7*3 - 49 = 35
        assert got[c][3] == 35
        assert got[c][4] == pytest.approx(want_contrib)
        # the float IS q_num / 4m^2, bit-for-bit
        assert got[c][4] == 35 / (4 * 7 * 7)
    # a community with zero intra edges still gets its row (e_c=0)
    lonely = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 6)],
        ["node", "community"],
    )
    rows = modularity_table(pairs, lonely).collect()
    assert all(r.e_c == 0 for r in rows) and len(rows) == 6
    empty = spark.createDataFrame([], "src long, dst long")
    assert modularity_table(empty, asg).count() == 0


def test_modularity_weighted(spark):
    """Weighted Newman Q (weight sums replace counts): two heavy
    triangles joined by a light bridge, hand-computed; weight-1.0
    replays the unweighted values exactly; parallel edge weights sum;
    zero/negative weights drop; empty weighted graph -> empty frame."""
    from pidb_rdf_spark.analytics import modularity, modularity_table

    pairs = spark.createDataFrame(
        [
            (1, 2, 2.0), (2, 3, 2.0), (1, 3, 2.0),
            (4, 5, 2.0), (5, 6, 2.0), (4, 6, 2.0),
            (3, 4, 1.0),
        ],
        "src long, dst long, wt double",
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)],
        ["node", "community"],
    )
    # W=13, each side: intra weight 6, strength sum 13
    # Q = 2*(6/13 - (13/26)^2) = 11/26
    assert modularity(pairs, asg, weight="wt") == pytest.approx(11 / 26)
    got = {
        r.community: (r.e_c, r.d_c, r.m)
        for r in modularity_table(pairs, asg, weight="wt").collect()
    }
    assert got[1] == (6.0, 13.0, 13.0) and got[2] == (6.0, 13.0, 13.0)
    # weight 1.0 == unweighted, value for value
    ones = pairs.withColumn("wt", F.lit(1.0))
    w1 = {
        r.community: (float(r.e_c), float(r.d_c), float(r.m), r.contribution)
        for r in modularity_table(ones, asg, weight="wt").collect()
    }
    unw = {
        r.community: (float(r.e_c), float(r.d_c), float(r.m), r.contribution)
        for r in modularity_table(pairs, asg).collect()
    }
    assert w1 == unw
    # parallel edges sum; w <= 0 drops
    dup = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (2, 3, -5.0), (1, 3, 0.0)],
        "src long, dst long, wt double",
    )
    one = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 2.0)], "src long, dst long, wt double"
    )
    asg2 = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], ["node", "community"])
    assert modularity(dup, asg2, weight="wt") == modularity(
        one, asg2, weight="wt"
    )
    empty = spark.createDataFrame([], "src long, dst long, wt double")
    out = modularity_table(empty, asg, weight="wt")
    assert out.count() == 0 and dict(out.dtypes)["e_c"] == "double"


def test_skipgram_pairs_window(spark):
    """Skip-gram pairs from crafted walks vs a brute-force oracle:
    both directions, signed offsets, walk boundaries respected,
    short walks produce fewer pairs."""
    from pidb_rdf_spark.analytics import skipgram_pairs

    walks = [
        (1, 0, [10, 11, 12, 13]),
        (1, 1, [10, 12]),
        (2, 0, [20]),
    ]
    rows = [
        (s, w, i, n) for s, w, seq in walks for i, n in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "start long, walk long, step int, node long")
    got = sorted(
        (r.start, r.walk, r.center, r.context, r.offset)
        for r in skipgram_pairs(df, window=2).collect()
    )
    want = []
    for s, w, seq in walks:
        for i, ctr in enumerate(seq):
            for j, ctx in enumerate(seq):
                if i != j and abs(i - j) <= 2:
                    want.append((s, w, ctr, ctx, j - i))
    assert got == sorted(want)
    # single-node walk contributes nothing
    assert not [g for g in got if g[0] == 2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skipgram_pairs(df, window=0)


def test_louvain_ring_of_cliques(spark):
    """The canonical Louvain fixture: a ring of 4 5-cliques joined by
    single bridges — level-1 moves must recover exactly the cliques
    (4 cliques is far under the sqrt(2m) resolution limit, so level 2
    must NOT merge them), and the assignment scores the modularity of
    the known-optimal partition."""
    from pidb_rdf_spark.analytics import louvain, modularity

    edges = []
    for c in range(4):
        base = c * 5
        edges += [
            (base + i, base + j) for i in range(5) for j in range(i + 1, 5)
        ]
    edges += [(4, 5), (9, 10), (14, 15), (19, 0)]  # ring bridges
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community for r in louvain(df).collect()}
    assert len(got) == 20
    groups = {}
    for n, c in got.items():
        groups.setdefault(c, set()).add(n)
    assert sorted(map(tuple, map(sorted, groups.values()))) == [
        tuple(range(0, 5)),
        tuple(range(5, 10)),
        tuple(range(10, 15)),
        tuple(range(15, 20)),
    ]
    asg = spark.createDataFrame(
        [(n, c) for n, c in got.items()], "node long, community long"
    )
    q = modularity(df, asg)
    # exact: 4 communities, e_c=10, d_c=20 internal + 2 bridge ends
    assert q == pytest.approx(4 * (10 / 44 - (22 / 88) ** 2))
    # deterministic under repartitioning
    again = {
        r.node: r.community for r in louvain(df.repartition(7)).collect()
    }
    assert again == got


def test_louvain_two_cliques_and_empty(spark):
    """Bridge graph: the two triangles are the optimal partition;
    empty input yields an empty typed frame."""
    from pidb_rdf_spark.analytics import louvain

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    got = {r.node: r.community for r in louvain(pairs).collect()}
    assert {got[1], got[2], got[3]} == {1} and {got[4], got[5], got[6]} == {4}
    empty = spark.createDataFrame([], "src long, dst long")
    out = louvain(empty)
    assert out.columns == ["node", "community"] and out.count() == 0


def test_louvain_string_ids(spark):
    """String node ids are first-class (the LPA family contract):
    the tie-break argmax is min_by over (-gain, c) — negating the
    community id itself would crash on strings under ANSI — and the
    empty-input frame carries the INPUT id type."""
    from pidb_rdf_spark.analytics import louvain

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        ["src", "dst"],
    )
    got = {r.node: r.community for r in louvain(pairs).collect()}
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["x"], got["y"], got["z"]} == {"x"}
    empty = spark.createDataFrame([], "src string, dst string")
    out = louvain(empty)
    assert out.schema["community"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_label_propagation_weighted(spark):
    """Weighted LPA adopts the label with the largest incident weight
    sum: a path a-b-c where (a,b) is heavy pulls b to a's label even
    though counts tie; unweighted output is unchanged (sum of 1.0
    replays count exactly)."""
    from pidb_rdf_spark.analytics import label_propagation

    df = spark.createDataFrame(
        [(1, 2, 10.0), (2, 3, 1.0)], "src long, dst long, wt double"
    )
    got = {
        r.node: r.community
        for r in label_propagation(df, weight="wt", n_iter=1).collect()
    }
    assert got[2] == 1  # heavy edge wins over the count tie with 3
    unw = {
        r.node: r.community
        for r in label_propagation(df, n_iter=1).collect()
    }
    assert unw[2] == 1  # unweighted: count tie -> smallest label (1)
    # make the weights overturn the tie-break: heavy edge to node 3
    rev = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 10.0)], "src long, dst long, wt double"
    )
    got_rev = {
        r.node: r.community
        for r in label_propagation(rev, weight="wt", n_iter=1).collect()
    }
    assert got_rev[2] == 3  # weight beats the smallest-label tie rule
    plainw = {
        r.node: r.community
        for r in label_propagation(
            df.withColumn("wt", F.lit(1.0)), weight="wt"
        ).collect()
    }
    plain = {
        r.node: r.community for r in label_propagation(df).collect()
    }
    assert plainw == plain


def test_node2vec_walks_python_twin(spark):
    """Biased walks replay a pure-python node2vec twin exactly (same
    ranked adjacency, same md5 draws, same fixed-order float cumsum),
    across p/q settings and partitionings; p=q=1 still differs from
    random_walks only in draw mechanism, not in structural validity
    (every consecutive pair is an edge)."""
    import hashlib

    from pidb_rdf_spark.analytics import node2vec_walks

    edges = [
        (1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 1),
        (1, 4), (2, 4), (4, 2), (3, 5), (5, 3), (5, 6),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")

    adj = {}
    for s_, d_ in edges:
        if s_ != d_:
            adj.setdefault(s_, set()).add(d_)
    adj = {k: sorted(v) for k, v in adj.items()}

    def h52(key):
        return int(hashlib.md5(key.encode()).hexdigest()[:13], 16)

    def twin(p, q, walk_len, n_walks):
        rows = []
        nodes = sorted({n for s_, d_ in edges for n in (s_, d_)})
        for start in nodes:
            for w in range(n_walks):
                rows.append((start, w, 0, start))
                cur, prev = start, None
                for s_ in range(1, walk_len + 1):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break
                    if prev is None:
                        nxt = nbrs[h52(f"n2v:{start}:{w}:{s_}") % len(nbrs)]
                    else:
                        wts = []
                        for x in nbrs:
                            if x == prev:
                                wts.append(1.0 / p)
                            elif x in adj.get(prev, ()):
                                wts.append(1.0)
                            else:
                                wts.append(1.0 / q)
                        u = h52(f"n2v:{start}:{w}:{s_}") / float(1 << 52)
                        tot = 0.0
                        for wt in wts:
                            tot = tot + wt
                        cum, nxt = 0.0, None
                        for x, wt in zip(nbrs, wts):
                            lo = cum
                            cum = cum + wt
                            if cum > u * tot and lo <= u * tot:
                                nxt = x
                                break
                        assert nxt is not None
                    rows.append((start, w, s_, nxt))
                    prev, cur = cur, nxt
        return sorted(rows)

    for p, q in ((0.25, 4.0), (4.0, 0.25), (1.0, 1.0)):
        got = sorted(
            (r.start, r.walk, r.step, r.node)
            for r in node2vec_walks(
                df, walk_len=4, n_walks=2, p=p, q=q
            ).collect()
        )
        assert got == twin(p, q, 4, 2), (p, q)
    # partitioning-independence
    again = sorted(
        (r.start, r.walk, r.step, r.node)
        for r in node2vec_walks(
            df.repartition(7), walk_len=4, n_walks=2, p=0.25, q=4.0
        ).collect()
    )
    assert again == twin(0.25, 4.0, 4, 2)
    # structural validity: consecutive nodes are always edges
    walks = {}
    for st, w, s_, nd in again:
        walks.setdefault((st, w), {})[s_] = nd
    for steps in walks.values():
        for s_ in range(1, max(steps)):
            if s_ + 1 in steps:
                assert steps[s_ + 1] in adj[steps[s_]]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        node2vec_walks(df, p=0.0)


def test_pagerank_weighted_numpy_twin(spark):
    """Weighted PageRank vs a dense numpy power iteration (rank
    splits w/sum_w_out; dangling + teleport as in the uniform path);
    zero-weight edges are dropped, all-ones weights reproduce the
    unweighted ranks."""
    import numpy as np

    from pidb_rdf_spark.analytics import pagerank

    edges = [
        (1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0),
        (3, 4, 4.0), (4, 1, 0.0),  # zero weight -> dropped, 4 dangles
    ]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")
    got = {
        r.node: r.rank for r in pagerank(df, weight="wt", n_iter=10).collect()
    }

    ids = [1, 2, 3, 4]
    W = np.zeros((4, 4))
    for s, d, w in edges:
        if w > 0:
            W[ids.index(s), ids.index(d)] = w
    P = np.zeros_like(W)
    for i in range(4):
        tot = W[i].sum()
        if tot > 0:
            P[i] = W[i] / tot
    r = np.full(4, 0.25)
    for _ in range(10):
        dangling = r[P.sum(axis=1) == 0].sum()
        r = 0.15 / 4 + 0.85 * (dangling / 4 + P.T @ r)
    for i, nid in enumerate(ids):
        assert got[nid] == pytest.approx(r[i], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0)

    # all-ones weights over the SAME effective edge set (the zero-
    # weight row is dropped on both sides) reproduce unweighted ranks
    kept = [(s, d) for s, d, w in edges if w > 0]
    ones = spark.createDataFrame(
        [(s, d, 1.0) for s, d in kept], "src long, dst long, wt double"
    )
    w1 = {r_.node: r_.rank for r_ in pagerank(ones, weight="wt").collect()}
    plain = pagerank(
        spark.createDataFrame(kept, "src long, dst long")
    )
    w0 = {r_.node: r_.rank for r_ in plain.collect()}
    for k in w0:
        assert w1[k] == pytest.approx(w0[k], abs=1e-12)


def test_louvain_weighted(spark):
    """Edge weights steer the partition: a 6-cycle with two heavy
    antipodal triples splits on the weights where the unweighted
    graph has no preference; parallel edge weights sum."""
    from pidb_rdf_spark.analytics import louvain

    # cycle 1-2-3-4-5-6-1; heavy within {1,2,3} and {4,5,6},
    # feather-light on the two bridges (3,4) and (6,1)
    rows = [
        (1, 2, 10.0), (2, 3, 10.0), (4, 5, 10.0), (5, 6, 10.0),
        (3, 4, 0.1), (6, 1, 0.1),
        # a parallel copy of one heavy edge: weights must SUM
        (1, 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "src long, dst long, wt double")
    got = {r.node: r.community for r in louvain(df, weight="wt").collect()}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[4], got[5], got[6]} == {4}


# a w=1 triangle 1-2-3 with a second (w=0.5) edge 1-2 and a
# self-loop on 2, a second triangle 4-5-6 bridged at 3-4, and the
# edges the convention drops: 3-9 (w=0), 9-10 (w=-1), 10-11 (NULL)
CONVENTION_EDGES = [
    (1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 2, 0.5), (2, 2, 3.0),
    (4, 5, 1.0), (5, 6, 1.0), (6, 4, 1.0), (3, 4, 1.0),
    (3, 9, 0.0), (9, 10, -1.0), (10, 11, None),
]


@pytest.mark.parametrize(
    "op",
    [
        "label_propagation", "louvain", "eigenvector_centrality", "hits",
        "random_walks", "node2vec_walks",
    ],
)
def test_weighted_operators_share_the_edge_convention(spark, op):
    """Every weighted flow-style operator drops NULL and w <= 0 edges:
    its answer on the graph equals its answer on the graph's w > 0
    edges. With every weight 0, louvain returns the typed empty frame
    of an empty graph."""
    import pidb_rdf_spark.analytics as A

    g = spark.createDataFrame(CONVENTION_EDGES, "src long, dst long, w double")

    def rows(df):
        # the power iterations' float sums may differ in the last ulp
        # when the two inputs are laid out differently
        return sorted(
            tuple(round(v, 12) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    fn = getattr(A, op)
    assert rows(fn(g, weight="w")) == rows(fn(g.filter("w > 0"), weight="w"))
    if op == "louvain":
        out = fn(g.withColumn("w", F.lit(0.0)), weight="w")
        assert out.columns == ["node", "community"] and out.count() == 0


def test_link_prediction_python_twin(spark):
    """All four predictors vs a brute-force python replay on a mixed
    graph (hub + triangle + pendant), both with and without
    exclude_existing."""
    import math

    from pidb_rdf_spark.analytics import link_prediction

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6), (1, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    def twin(exclude):
        out = {}
        for a in adj:
            for b in adj:
                if a >= b or (exclude and b in adj[a]):
                    continue
                common = adj[a] & adj[b]
                if not common:
                    continue
                out[(a, b)] = (
                    len(common),
                    len(adj[a]) * len(adj[b]),
                    sum(1.0 / math.log(len(adj[z])) for z in common),
                    sum(1.0 / len(adj[z]) for z in common),
                )
        return out

    for exclude in (True, False):
        got = {
            (r.a, r.b): (
                r.n_common,
                r.pref_attachment,
                r.adamic_adar,
                r.resource_alloc,
            )
            for r in link_prediction(df, exclude_existing=exclude).collect()
        }
        want = twin(exclude)
        assert set(got) == set(want), exclude
        for k, (nc, pa, aa, ra) in want.items():
            assert got[k][0] == nc and got[k][1] == pa
            assert got[k][2] == pytest.approx(aa)
            assert got[k][3] == pytest.approx(ra)
    # existing edges are excluded by default: (1,2) share 3 but are adjacent
    got = {
        (r.a, r.b)
        for r in link_prediction(df).collect()
    }
    assert (1, 2) not in got and (2, 4) in got


def test_ranked_vocabulary_matches_naive_window(spark):
    """The two-pass range-partitioned rank equals the naive global
    window bit-for-bit, for any partition count, including ones that
    leave some range partitions empty."""
    from pyspark.sql import Window

    from pidb_rdf_spark.analytics import ranked_vocabulary

    vals = [(v,) for v in [17, 3, 99, 42, 8, 1, 56, 23, 77, 5, 61, 34]]
    nodes = spark.createDataFrame(vals, "__nn long").repartition(5)
    want = {
        (r["__nn"], r["__rk"])
        for r in nodes.select(
            "__nn",
            F.row_number().over(Window.orderBy("__nn")).alias("__rk"),
        ).collect()
    }
    for nparts in (1, 3, 32, 64):
        got = {
            (r["__nn"], r["__rk"])
            for r in ranked_vocabulary(nodes, n_partitions=nparts).collect()
        }
        assert got == want, nparts
    # empty input -> empty output with the rank column present
    empty = spark.createDataFrame([], "__nn long")
    out = ranked_vocabulary(empty)
    assert out.columns == ["__nn", "__rk"] and out.count() == 0


def test_negative_samples_deterministic_and_filtered(spark):
    """Negatives replay a hashlib twin (uniform rank draw over the
    sorted vocab), and the row's own center/context never appear."""
    import hashlib

    from pidb_rdf_spark.analytics import negative_samples, skipgram_pairs

    rows = [
        (s_, 0, i, 10 + (s_ * 3 + i) % 12)
        for s_ in range(1, 5)
        for i in range(4)
    ]
    walks = spark.createDataFrame(
        rows, "start long, walk long, step int, node long"
    )
    pairs = skipgram_pairs(walks, window=1)
    got = negative_samples(pairs, k=3, salt="t").collect()
    vocab = sorted({n for *_, n in rows})

    def draw(r, i):
        key = f"t:{r.start}:{r.walk}:{r.center}:{r.context}:{r.offset}:{i}"
        h = int(hashlib.md5(key.encode()).hexdigest()[:13], 16)
        return vocab[h % len(vocab)]

    by_row = {}
    for r in got:
        assert r.negative != r.center and r.negative != r.context
        assert r.negative == draw(r, r.neg_i)
        by_row.setdefault((r.start, r.walk, r.center, r.context, r.offset), 0)
        by_row[(r.start, r.walk, r.center, r.context, r.offset)] += 1
    # every pair row yielded at most k and at least k - collisions
    assert all(1 <= v <= 3 for v in by_row.values())
    # with a 12-node vocab, a full 3-draw wipe of a row is ~0.4%;
    # allow at most one wiped row out of 24
    assert len(by_row) >= pairs.count() - 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        negative_samples(pairs, k=0)


def test_personalized_pagerank_numpy_twin(spark):
    """PPR vs a dense numpy power iteration (teleport + dangling mass
    to the seed set): values agree to 1e-9, mass stays 1, non-seed
    teleport is zero, and seeds-only graphs rank seeds highest."""
    import numpy as np

    from pidb_rdf_spark.analytics import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)]  # 4 dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,), (99,)], "node long")  # 99 absent
    got = {r.node: r.rank for r in pagerank(df, n_iter=15, personalize=seeds).collect()}

    n = 6
    d = 0.85
    A = np.zeros((n, n))
    for s, t in edges:
        A[s, t] = 1.0
    deg = A.sum(axis=1)
    pref = np.zeros(n)
    pref[[0, 5]] = 0.5
    r = pref.copy()
    for _ in range(15):
        contrib = np.zeros(n)
        for s in range(n):
            if deg[s]:
                contrib += r[s] * A[s] / deg[s]
        dangling = r[deg == 0].sum()
        r = (1 - d) * pref + d * dangling * pref + d * contrib
    for node in range(n):
        assert got[node] == pytest.approx(r[node], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[0] > got[4]  # proximity to seeds dominates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seed"):
        pagerank(df, personalize=spark.createDataFrame([(99,)], "node long"))


def test_core_numbers(spark):
    """Coreness on hand-checkable fixtures: a path is all-1, a
    triangle with a tail splits 2/1, K4 with a pendant splits 3/1,
    and {coreness >= k} equals kcore(k) on a mixed graph — plus the
    isolated-by-peeling case (a node whose neighbors all peel must
    still get a row) and the empty graph."""
    from pidb_rdf_spark.analytics import core_numbers, kcore

    def run(edges):
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.coreness for r in core_numbers(df).collect()}

    assert run([(1, 2), (2, 3), (3, 4)]) == {1: 1, 2: 1, 3: 1, 4: 1}
    # triangle 1-2-3 with tail 3-4
    assert run([(1, 2), (2, 3), (1, 3), (3, 4)]) == {1: 2, 2: 2, 3: 2, 4: 1}
    # K4 {1,2,3,4} + pendant 5
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = run(k4 + [(4, 5)])
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1}
    # star: hub 1 with 5 leaves — everyone coreness 1 (leaves peel,
    # isolating the hub, which must still be assigned)
    assert run([(1, i) for i in range(2, 7)]) == {i: 1 for i in range(1, 7)}
    # consistency with kcore on a mixed graph
    mixed = k4 + [(4, 5), (5, 6), (6, 7), (2, 6)]
    df = spark.createDataFrame(mixed, ["src", "dst"])
    cn = {r.node: r.coreness for r in core_numbers(df).collect()}
    for k in (1, 2, 3):
        want = {r.node for r in kcore(df, k).collect()}
        assert {n for n, c in cn.items() if c >= k} == want
    empty = spark.createDataFrame([], "src long, dst long")
    out = core_numbers(empty)
    assert out.columns == ["node", "coreness"] and out.count() == 0


def test_core_numbers_dense_clique_within_default_budget(spark):
    """A dense near-clique region (degeneracy >> peel depth — the
    template-family shape the dup graph actually produces) completes
    inside the DEFAULT round budget: thresholds with no work JUMP to
    the surviving minimum degree instead of burning one round each,
    so a K60 costs O(1) peeling rounds, not 59."""
    import itertools

    from pidb_rdf_spark.analytics import core_numbers

    k60 = list(itertools.combinations(range(60), 2))
    chain = [(100 + i, 101 + i) for i in range(4)] + [(0, 100)]
    df = spark.createDataFrame(k60 + chain, ["src", "dst"])
    # max_rounds far below the degeneracy: only ~3 actual peel rounds
    # happen (chain peels at k=2, clique dissolves at k=60)
    got = {r.node: r.coreness for r in core_numbers(df, max_rounds=10).collect()}
    assert all(got[i] == 59 for i in range(60))
    assert all(got[100 + i] == 1 for i in range(5))


def test_node2vec_weighted_python_twin(spark):
    """Weighted node2vec (transition weight = w(cur,x) · bias)
    replays a pure-python twin bit-for-bit — including the
    w-proportional step-1 cumsum draw — while the UNWEIGHTED path's
    draws are untouched (its twin above pins that); parallel edge
    weights sum; heavy edges dominate the walk distribution."""
    import hashlib

    from pidb_rdf_spark.analytics import node2vec_walks

    edges = [
        (1, 2, 5.0), (2, 1, 5.0), (2, 3, 1.0), (3, 2, 1.0),
        (3, 4, 2.0), (4, 3, 2.0), (4, 1, 1.0), (1, 4, 1.0),
        (2, 4, 3.0), (4, 2, 3.0), (3, 5, 0.5), (5, 3, 0.5),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")

    wadj = {}
    for s_, d_, w_ in edges:
        if s_ != d_ and w_ > 0:
            wadj.setdefault(s_, {})
            wadj[s_][d_] = wadj[s_].get(d_, 0.0) + w_
    adj = {k: sorted(v) for k, v in wadj.items()}

    def h52(key):
        return int(hashlib.md5(key.encode()).hexdigest()[:13], 16)

    def pick(nbrs, wts, u):
        tot = 0.0
        for wt in wts:
            tot = tot + wt
        cum = 0.0
        for x, wt in zip(nbrs, wts):
            lo = cum
            cum = cum + wt
            if cum > u * tot and lo <= u * tot:
                return x
        raise AssertionError("no pick")

    def twin(p, q, walk_len, n_walks):
        rows = []
        nodes = sorted({n for s_, d_, _ in edges for n in (s_, d_)})
        for start in nodes:
            for w in range(n_walks):
                rows.append((start, w, 0, start))
                cur, prev = start, None
                for s_ in range(1, walk_len + 1):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break
                    u = h52(f"n2v:{start}:{w}:{s_}") / float(1 << 52)
                    if prev is None:
                        wts = [wadj[cur][x] for x in nbrs]
                    else:
                        wts = []
                        for x in nbrs:
                            if x == prev:
                                b = 1.0 / p
                            elif x in adj.get(prev, ()):
                                b = 1.0
                            else:
                                b = 1.0 / q
                            wts.append(wadj[cur][x] * b)
                    nxt = pick(nbrs, wts, u)
                    rows.append((start, w, s_, nxt))
                    prev, cur = cur, nxt
        return sorted(rows)

    for p, q in ((0.25, 4.0), (1.0, 1.0)):
        got = sorted(
            (r.start, r.walk, r.step, r.node)
            for r in node2vec_walks(
                df, walk_len=4, n_walks=2, p=p, q=q, weight="wt"
            ).collect()
        )
        assert got == twin(p, q, 4, 2), (p, q)
    # parallel edges sum: splitting an edge weight 5 into 2+3 is
    # draw-identical
    split = spark.createDataFrame(
        [(1, 2, 2.0), (1, 2, 3.0)]
        + [(s_, d_, w_) for s_, d_, w_ in edges if (s_, d_) != (1, 2)],
        "src long, dst long, wt double",
    )
    a = sorted(
        map(tuple, node2vec_walks(df, walk_len=3, weight="wt").collect())
    )
    b = sorted(
        map(tuple, node2vec_walks(split, walk_len=3, weight="wt").collect())
    )
    assert a == b


def test_random_walks_weighted_python_twin(spark):
    """Weight-proportional DeepWalk steps replay a pure-python twin
    (same md5 draws, same fixed-order cumsum); the unweighted draw
    (md5 mod degree) is a different, untouched mechanism — pinned by
    its own twin and oracle entry; parallel weights sum."""
    import hashlib

    from pidb_rdf_spark.analytics import random_walks

    edges = [
        (1, 2, 4.0), (2, 3, 1.0), (3, 1, 2.0), (1, 3, 1.0),
        (3, 4, 0.5), (4, 1, 1.0), (2, 4, 3.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")
    wadj = {}
    for s_, d_, w_ in edges:
        wadj.setdefault(s_, {})
        wadj[s_][d_] = wadj[s_].get(d_, 0.0) + w_
    adj = {k: sorted(v) for k, v in wadj.items()}

    def h52(key):
        return int(hashlib.md5(key.encode()).hexdigest()[:13], 16)

    def twin(walk_len, n_walks):
        rows = []
        nodes = sorted({n for s_, d_, _ in edges for n in (s_, d_)})
        for start in nodes:
            for w in range(n_walks):
                rows.append((start, w, 0, start))
                cur = start
                for s_ in range(1, walk_len + 1):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break
                    u = h52(f"walk:{start}:{w}:{s_}") / float(1 << 52)
                    tot = 0.0
                    for x in nbrs:
                        tot = tot + wadj[cur][x]
                    cum, nxt = 0.0, None
                    for x in nbrs:
                        lo = cum
                        cum = cum + wadj[cur][x]
                        if cum > u * tot and lo <= u * tot:
                            nxt = x
                            break
                    rows.append((start, w, s_, nxt))
                    cur = nxt
        return sorted(rows)

    got = sorted(
        (r.start, r.walk, r.step, r.node)
        for r in random_walks(df, walk_len=4, n_walks=3, weight="wt").collect()
    )
    assert got == twin(4, 3)
    # parallel-edge split is draw-identical
    split = spark.createDataFrame(
        [(1, 2, 1.0), (1, 2, 3.0)]
        + [(s_, d_, w_) for s_, d_, w_ in edges if (s_, d_) != (1, 2)],
        "src long, dst long, wt double",
    )
    a = sorted(map(tuple, random_walks(df, walk_len=3, weight="wt").collect()))
    b = sorted(map(tuple, random_walks(split, walk_len=3, weight="wt").collect()))
    assert a == b


def test_hits_weighted_numpy_twin(spark):
    """Weighted HITS matches a dense numpy power iteration (w-scaled
    adjacency, L2-normalized half-steps); weight-1.0 replays the
    unweighted values; parallel edge weights sum."""
    import numpy as np

    from pidb_rdf_spark.analytics import hits

    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (4, 2, 0.5), (3, 1, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")
    nodes = sorted({n for s_, d_, _ in edges for n in (s_, d_)})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s_, d_, w_ in edges:
        A[idx[s_], idx[d_]] += w_
    h = np.ones(len(nodes))
    # 5 rounds (r14): twin equality holds at any matched count
    for _ in range(5):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    got = {
        r.node: (r.hub, r.authority)
        for r in hits(df, weight="wt", n_iter=5).collect()
    }
    for n in nodes:
        assert got[n][0] == pytest.approx(h[idx[n]], abs=1e-9)
        assert got[n][1] == pytest.approx(a[idx[n]], abs=1e-9)
    # weight 1.0 == unweighted; parallel (2,3) weights 1+1 == one 2.0
    ones = {
        r.node: (r.hub, r.authority)
        for r in hits(
            df.withColumn("wt", F.lit(1.0)), weight="wt", n_iter=5
        ).collect()
    }
    unw = {
        r.node: (r.hub, r.authority) for r in hits(df, n_iter=5).collect()
    }
    assert ones == unw
    dup = spark.createDataFrame(
        [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 1.0), (2, 3, 1.0),
         (4, 2, 0.5), (3, 1, 1.0)],
        "src long, dst long, wt double",
    )
    a2 = {
        r.node: (r.hub, r.authority)
        for r in hits(dup, weight="wt", n_iter=5).collect()
    }
    b2 = {
        r.node: (r.hub, r.authority)
        for r in hits(df, weight="wt", n_iter=5).collect()
    }
    for n in nodes:
        assert a2[n] == pytest.approx(b2[n])


def test_closeness_weighted_dijkstra_twin(spark):
    """Weighted closeness/harmonic matches a pure-python Dijkstra per
    origin; parallel edges take the CHEAPEST weight (the distance
    convention); all-1.0 weights reproduce the BFS values; the
    relaxation budget RAISES when exhausted mid-relax."""
    import heapq

    from pidb_rdf_spark.analytics import closeness_centrality

    edges = [
        (1, 2, 4.0), (1, 2, 1.5), (2, 3, 1.0), (1, 3, 5.0),
        (3, 4, 2.0), (5, 6, 1.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")

    wadj = {}
    for s_, d_, w_ in edges:
        for a, b in ((s_, d_), (d_, s_)):  # undirected
            wadj.setdefault(a, {})
            wadj[a][b] = min(wadj[a].get(b, float("inf")), w_)

    def dijkstra(origin):
        dist = {origin: 0.0}
        pq = [(0.0, origin)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w_ in wadj.get(u, {}).items():
                nd = d + w_
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return {k: v for k, v in dist.items() if k != origin}

    got = {
        r.node: (r.n_reached, r.sum_hops, r.closeness, r.harmonic)
        for r in closeness_centrality(df, weight="wt").collect()
    }
    for origin in (1, 2, 3, 4, 5, 6):
        d = dijkstra(origin)
        assert got[origin][0] == len(d)
        assert got[origin][1] == pytest.approx(sum(d.values()))
        assert got[origin][2] == pytest.approx(len(d) / sum(d.values()))
        assert got[origin][3] == pytest.approx(sum(1.0 / v for v in d.values()))
    # parallel (1,2) pair: the 1.5 edge must win over the 4.0 one
    assert dijkstra(1)[2] == 1.5
    # all-weights-1.0 == unweighted BFS values
    ones = {
        r.node: (r.n_reached, float(r.sum_hops), r.harmonic)
        for r in closeness_centrality(
            df.withColumn("wt", F.lit(1.0)), weight="wt"
        ).collect()
    }
    bfs = {
        r.node: (r.n_reached, float(r.sum_hops), r.harmonic)
        for r in closeness_centrality(df).collect()
    }
    assert ones == bfs
    with pytest.raises(RuntimeError, match="still relaxing"):
        closeness_centrality(df, weight="wt", max_iter=1)


def test_eigenvector_centrality_numpy_twin(spark):
    """Eigenvector centrality matches a dense numpy power iteration
    (same round count, same L2-normalized half-steps), unweighted and
    weighted, directed and undirected; a sink-only node scores 0; the
    path graph's center dominates."""
    import numpy as np

    from pidb_rdf_spark.analytics import eigenvector_centrality

    edges = [(1, 2, 2.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 3.0), (1, 3, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, wt double")
    nodes = sorted({n for s_, d_, _ in edges for n in (s_, d_)})
    idx = {n: i for i, n in enumerate(nodes)}

    # n_iter=8 (r14): the twin matches the engine at ANY matched
    # round count; 8 rounds x 4 combos keeps the math pin at 40%% of
    # the suite cost of the default 20
    def twin(weighted, directed, n_iter=8):
        A = np.zeros((len(nodes), len(nodes)))
        for s_, d_, w_ in edges:
            w_ = w_ if weighted else 1.0
            A[idx[s_], idx[d_]] += w_
            if not directed:
                A[idx[d_], idx[s_]] += w_
        v = np.ones(len(nodes))
        for _ in range(n_iter):
            v = A.T @ v
            n = np.linalg.norm(v)
            v = v / n if n > 0 else v
        return v

    for weighted in (False, True):
        for directed in (False, True):
            kw = {"weight": "wt"} if weighted else {}
            got = {
                r.node: r.score
                for r in eigenvector_centrality(
                    df, directed=directed, n_iter=8, **kw
                ).collect()
            }
            want = twin(weighted, directed)
            for n in nodes:
                assert got[n] == pytest.approx(want[idx[n]], abs=1e-9), (
                    weighted, directed, n,
                )
    # directed: node 1 has no in-edges -> exactly 0
    d1 = {
        r.node: r.score
        for r in eigenvector_centrality(df, directed=True, n_iter=8).collect()
    }
    assert d1[1] == 0.0
    # undirected path center outranks the ends
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    u = {
        r.node: r.score
        for r in eigenvector_centrality(path, n_iter=8).collect()
    }
    assert u[3] > u[1] and u[3] > u[5]


def test_degree_assortativity(spark):
    """Star graph -> strongly disassortative (r = -1 for a pure
    star); a regular graph (cycle) -> NULL (zero degree variance);
    matches a numpy Pearson on a mixed fixture; duplicate/reversed
    edges don't change r."""
    import numpy as np

    from pidb_rdf_spark.analytics import degree_assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = degree_assortativity(star).first()
    assert r["n_edges"] == 5 and r["assortativity"] == pytest.approx(-1.0)
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
    )
    assert degree_assortativity(cycle).first()["assortativity"] is None
    mixed = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (3, 5)]
    df = spark.createDataFrame(mixed, "src long, dst long")
    deg = {}
    for a, b in mixed:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in mixed] + [deg[b] for a, b in mixed]
    ys = [deg[b] for a, b in mixed] + [deg[a] for a, b in mixed]
    want = float(np.corrcoef(xs, ys)[0, 1])
    got = degree_assortativity(df).first()
    assert got["n_edges"] == 6 and got["assortativity"] == pytest.approx(want)
    noisy = spark.createDataFrame(
        mixed + [(2, 1), (1, 2)], "src long, dst long"
    )
    assert degree_assortativity(noisy).first()["assortativity"] == (
        pytest.approx(want)
    )


def test_local_clustering(spark):
    """LCC on hand-checked graphs: K4 members are 1.0; the pendant's
    attachment node drops to 2·3/(4·3) = 0.5; a pendant (degree 1)
    is 0.0 but keeps its row; a path is all-0.0; duplicate/reversed
    edges don't inflate."""
    from pidb_rdf_spark.analytics import local_clustering

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(k4 + [(4, 5)], "src long, dst long")
    got = {r.node: (r.triangles, r.degree, r.lcc) for r in local_clustering(df).collect()}
    # nodes 1-3: degree 3 in K4, 3 triangles -> 2*3/(3*2) = 1.0
    for n in (1, 2, 3):
        assert got[n] == (3, 3, 1.0)
    # node 4: degree 4 (K4 + pendant), still 3 triangles -> 6/12 = 0.5
    assert got[4] == (3, 4, 0.5)
    # pendant: degree 1 -> 0.0, zero triangles, row present
    assert got[5] == (0, 1, 0.0)
    # path graph: middle node has both neighbors unconnected -> 0.0
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    p = {r.node: r.lcc for r in local_clustering(path).collect()}
    assert p == {1: 0.0, 2: 0.0, 3: 0.0}
    noisy = spark.createDataFrame(
        k4 + [(4, 5), (2, 1), (1, 2)], "src long, dst long"
    )
    assert {
        r.node: (r.triangles, r.degree, r.lcc)
        for r in local_clustering(noisy).collect()
    } == got


def test_neighborhood_function_exact_path(spark):
    """Exact ANF on a directed 10-path matches the closed form
    N(r) = sum_v min(r+1, 10-v); undirected doubles the reach;
    effective_diameter interpolates the 90% point."""
    from pidb_rdf_spark.analytics import (
        effective_diameter,
        neighborhood_function,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    nf = neighborhood_function(edges, tier="exact", max_radius=20)
    want = [
        (r, float(sum(min(r + 1, 10 - v) for v in range(10))))
        for r in range(10)
    ]
    assert nf == want
    # undirected: every ball reaches the whole path by radius 9
    nfu = neighborhood_function(
        edges, tier="exact", directed=False, max_radius=20
    )
    assert nfu[-1] == (9, 100.0)
    # hand-check the interpolation: target 0.9*55 = 49.5 between
    # N(6)=49 and N(7)=52 -> 6 + 0.5/3
    assert effective_diameter(nf) == pytest.approx(6 + 0.5 / 3)
    assert effective_diameter([(0, 5.0)]) == 0.0


def test_neighborhood_function_sketch_accuracy(spark):
    """HyperANF sketch tier: bit-deterministic reruns, converges in
    the same number of rounds as exact, and the final estimate lands
    within the m=64 HLL error band (rse 1.04/8 ~ 13%; assert 20%)."""
    from pidb_rdf_spark.analytics import neighborhood_function

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 120) for i in range(120)]
        + [(i, (i * 13 + 11) % 120) for i in range(120)],
        "src long, dst long",
    )
    exact = neighborhood_function(edges, tier="exact", max_radius=30)
    sk = neighborhood_function(edges, tier="sketch", max_radius=30)
    assert abs(sk[-1][1] - exact[-1][1]) / exact[-1][1] < 0.20
    sk2 = neighborhood_function(edges, tier="sketch", max_radius=30)
    assert sk == sk2  # register propagation is exact integer math
    with pytest.raises(ValueError, match="tier"):
        neighborhood_function(edges, tier="anf")
    with pytest.raises(ValueError, match="registers_log2"):
        neighborhood_function(edges, registers_log2=2)
