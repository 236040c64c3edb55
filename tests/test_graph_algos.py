"""Graph algorithm tests on the Romania road graph (AIMA fixture used by the
reference at test/vnet.cpp:17-80) and small synthetic graphs."""

import pytest
from pyspark.sql import functions as F

from gqlite_spark.operators.graph_algos import (connected_components, degrees,
                                                k_hop, pagerank, shortest_path,
                                                triangle_count)

# (src, dst, distance) — classic AIMA Romania map, undirected
ROMANIA = [
    (1, 2, 71), (2, 3, 75), (3, 4, 118), (4, 5, 111), (5, 6, 70), (6, 7, 75),
    (1, 8, 151), (3, 8, 140), (8, 9, 80), (9, 10, 146), (8, 11, 99),
    (9, 12, 97), (10, 12, 138), (11, 13, 211), (12, 13, 101), (13, 14, 90),
    (13, 17, 85), (17, 18, 142), (17, 19, 98), (18, 16, 92), (16, 15, 87),
    (19, 20, 86), (7, 10, 120),
]
ARAD, BUCHAREST, SIBIU, RV, PITESTI = 3, 13, 8, 9, 12


@pytest.fixture(scope="module")
def romania(spark):
    df = spark.createDataFrame(ROMANIA, "src long, dst long, distance long")
    return df.withColumn("direction", F.lit("--")).cache()


def test_shortest_path_weighted(romania):
    cost, path = shortest_path(romania, ARAD, BUCHAREST,
                               weight_col="distance", undirected=True)
    # expected route Arad→Sibiu→Rimnicu Vilcea→Pitesti→Bucharest, cost 418
    assert cost == 418.0
    assert path == [ARAD, SIBIU, RV, PITESTI, BUCHAREST]


def test_shortest_path_unweighted_hops(romania):
    cost, path = shortest_path(romania, ARAD, BUCHAREST, undirected=True)
    assert cost == 3.0  # Arad→Sibiu→Fagaras→Bucharest


def test_shortest_path_unreachable(spark):
    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    assert shortest_path(e, 2, 1) is None  # directed, wrong way


def test_k_hop(romania):
    one = {r["id"] for r in k_hop(romania, ARAD, 1).collect()}
    assert one == {2, 4, 8}
    two = {r["id"] for r in k_hop(romania, ARAD, 2).collect()}
    assert two == {2, 4, 8, 1, 5, 9, 11}


def test_degrees(romania):
    d = {r["id"]: r["degree"] for r in degrees(romania, undirected=True).collect()}
    assert d[BUCHAREST] == 4 and d[20] == 1


def test_connected_components(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long")
    cc = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[12] == 12


def test_pagerank_sums_to_n(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 2)],
                              "src long, dst long")
    pr = pagerank(e, iterations=15)
    ranks = {r["id"]: r["rank"] for r in pr.collect()}
    assert abs(sum(ranks.values()) - 3.0) < 1e-6
    assert ranks[2] > ranks[1]  # 2 has two in-links


def test_triangle_count(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                              "src long, dst long")
    t = {r["id"]: r["triangles"] for r in triangle_count(e).collect()}
    assert t == {1: 1, 2: 1, 3: 1}


def test_shortest_path_via_gql(db, spark):
    """Full surface parity: min('distance') path query through GQL
    (reference surface test/basketballplayer-2.X/query.gql:1-2)."""
    stmts = ["{create: 'romania', group: ['city', ['city', 'road', 'city']]};"]
    for s, d, w in ROMANIA:
        stmts.append(f"{{upset: 'road', edge: [{s}, --: {{distance: {w}}}, {d}]}};")
    for r in db.exec("".join(stmts)):
        assert r.error is None, r.error
    res = db.exec("{query: 'road', in: 'romania',"
                  " where: [3, ->: min('distance'), 13]};")[0]
    assert res.error is None
    cost, path = res.value
    assert cost == 418.0 and path == [3, 8, 9, 12, 13]


def test_connected_components_string_ids_long_diameter(spark):
    """ADVICE r1: sum(component) over string labels is NULL → the loop
    false-converged after one 3-step batch.  A string-keyed path graph of
    diameter 7 must still collapse to ONE component."""
    ids = [f"n{i:02d}" for i in range(8)]
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(7)], "src string, dst string")
    out = connected_components(e)
    comps = {r["component"] for r in out.collect()}
    assert comps == {"n00"}


def test_scc_string_ids_long_cycle(spark):
    from gqlite_spark.operators.graph_algos import \
        strongly_connected_components
    ids = [f"v{i:02d}" for i in range(8)]
    cyc = [(ids[i], ids[(i + 1) % 8]) for i in range(8)]
    e = spark.createDataFrame(cyc + [(ids[0], "tail")],
                              "src string, dst string")
    scc = {r["id"]: r["component"]
           for r in strongly_connected_components(e).collect()}
    assert all(scc[i] == "v00" for i in ids)
    assert scc["tail"] == "tail"


def test_shortest_path_equal_cost_tie_propagates(spark):
    """ADVICE r1: an equal-cost lexicographically-smaller path arriving in
    a later superstep must re-expand so downstream vertices adopt it."""
    from gqlite_spark.operators.graph_algos import shortest_path
    e = spark.createDataFrame(
        [(0, 5, 2.0), (5, 9, 1.0),            # [0,5,9] cost 3, 2 hops
         (0, 1, 1.0), (1, 2, 1.0), (2, 9, 1.0),  # [0,1,2,9] cost 3, 3 hops
         (9, 10, 1.0)],
        "src long, dst long, w double")
    cost, path = shortest_path(e, 0, 10, weight_col="w")
    assert cost == 4.0
    assert path == [0, 1, 2, 9, 10]


def test_k_core_pendant_cascade(spark):
    from gqlite_spark.operators.graph_algos import k_core
    # triangle 1-2-3 + pendant chain 3-4-5-6: 2-core strips the chain
    # node by node (three cascade rounds), keeps the triangle.
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src long, dst long")
    got = {(r["id"], r["core_degree"]) for r in k_core(e, 2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_keeps_whole_graph(spark):
    from gqlite_spark.operators.graph_algos import k_core
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    assert k_core(e, 2).count() == 3
    assert k_core(e, 3).count() == 0  # triangle has no 3-core


def test_label_propagation_two_cliques(spark):
    from gqlite_spark.operators.graph_algos import label_propagation
    # two K4 cliques joined by one bridge edge: labels converge to each
    # clique's min id; the bridge is too thin to flip either side.
    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    e = spark.createDataFrame(k4a + k4b + [(4, 10)], "src long, dst long")
    labels = {r["id"]: r["label"]
              for r in label_propagation(e, iterations=4).collect()}
    assert all(labels[v] == 1 for v in range(1, 5))
    assert all(labels[v] == 10 for v in range(10, 14))


def test_neighborhood_jaccard_known_values(spark):
    from gqlite_spark.operators.graph_algos import neighborhood_jaccard
    # K4 over {1,2,3,4} + pendant 4-5.
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long")
    j = {(r["src"], r["dst"]): r["jaccard"]
         for r in neighborhood_jaccard(e).collect()}
    # edge (1,2): N(1)={2,3,4}, N(2)={1,3,4} → common {3,4}, union 4 → 0.5
    assert j[(1, 2)] == 0.5
    # edge (3,4): N(3)={1,2,4}, N(4)={1,2,3,5} → common {1,2} / union 5
    assert j[(3, 4)] == 0.4
    # pendant edge (4,5): N(5)={4}, no common neighbors → 0.0
    assert j[(4, 5)] == 0.0


def test_clustering_coefficient_known(spark):
    from gqlite_spark.operators.graph_algos import clustering_coefficient
    # K4 over {1,2,3,4} + pendant 4-5: interior nodes are fully clustered
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long")
    c = {r["id"]: r for r in clustering_coefficient(e).collect()}
    assert c[1]["coefficient"] == 1.0          # 3 triangles / C(3,2)=3
    # node 4: degree 4, triangles 3, C(4,2)=6 → 0.5
    assert c[4]["degree"] == 4 and c[4]["triangles"] == 3
    assert c[4]["coefficient"] == 0.5
    assert c[5]["coefficient"] == 0.0 and c[5]["degree"] == 1


def test_closeness_centrality_path(spark):
    from gqlite_spark.operators.graph_algos import closeness_centrality
    # path 1-2-3: center has dist sum 2, ends 3
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    c = {r["id"]: r for r in closeness_centrality(e).collect()}
    assert c[2]["closeness"] == 1.0            # (3-1)/2
    assert c[1]["closeness"] == round(2 / 3, 4)
    assert c[1]["reachable"] == 3


def test_closeness_centrality_landmarks_and_components(spark):
    from gqlite_spark.operators.graph_algos import closeness_centrality
    # two components; landmark restriction computes only the asked rows
    e = spark.createDataFrame([(1, 2), (10, 11), (11, 12)],
                              "src long, dst long")
    all_rows = {r["id"]: r for r in closeness_centrality(e).collect()}
    assert all_rows[1]["reachable"] == 2 and all_rows[10]["reachable"] == 3
    lm = closeness_centrality(e, sources=[11]).collect()
    assert len(lm) == 1 and lm[0]["id"] == 11
    assert lm[0]["closeness"] == 1.0           # dist sum 2, reachable 3


def test_betweenness_path_graph(spark):
    from gqlite_spark.operators.graph_algos import betweenness_centrality
    # path 1-2-3-4-5: CB = i*(n-1-i) = 0,3,4,3,0
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)],
                              "src long, dst long")
    b = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(e).collect()}
    assert b == {1: 0.0, 2: 3.0, 3: 4.0, 4: 3.0, 5: 0.0}


def test_betweenness_diamond_splits_dependency(spark):
    from gqlite_spark.operators.graph_algos import betweenness_centrality
    # diamond 1-2-4, 1-3-4: two shortest paths per opposite pair → every
    # vertex carries exactly half a pair's dependency
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)],
                              "src long, dst long")
    b = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(e).collect()}
    assert b == {1: 0.5, 2: 0.5, 3: 0.5, 4: 0.5}


def test_betweenness_landmark_subset(spark):
    from gqlite_spark.operators.graph_algos import betweenness_centrality
    # contributions only from the chosen source: for s=1 on the path,
    # delta(2)=3, delta(3)=2, delta(4)=1 (halved by the undirected 1/2)
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)],
                              "src long, dst long")
    b = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(e, sources=[1]).collect()}
    assert b[2] == 1.5 and b[3] == 1.0 and b[4] == 0.5 and b[5] == 0.0


def test_all_sources_guard_auto_landmarks(spark):
    """sources=None above the vertex threshold must auto-select
    deterministic md5-ordered landmarks with a RuntimeWarning instead of
    building O(n^2) state; the result equals an explicit sources= call
    with the same landmarks (VERDICT r4 advisory #1)."""
    import warnings as _w

    from pyspark.sql import functions as SF

    from gqlite_spark.operators.graph_algos import (betweenness_centrality,
                                                    closeness_centrality)
    # 26-vertex cycle, threshold 20 → guard trips; n_landmarks=3
    n = 26
    e = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                              "src long, dst long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        auto = closeness_centrality(e, auto_landmark_threshold=20,
                                    n_landmarks=3,
                                    landmark_mode="md5").collect()
    assert any("auto-selected 3 deterministic md5-mode landmark" in
               str(w.message) for w in rec)
    assert len(auto) == 3                     # one row per landmark source
    expected = [r["id"] for r in
                spark.range(n).orderBy(SF.md5(SF.col("id").cast("string")),
                                       SF.col("id")).limit(3).collect()]
    explicit = closeness_centrality(e, sources=expected).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        bw = betweenness_centrality(e, auto_landmark_threshold=20,
                                    n_landmarks=3).collect()
    assert any("betweenness_centrality" in str(w.message) for w in rec)
    bw_explicit = betweenness_centrality(e, sources=expected).collect()
    assert sorted(map(tuple, bw)) == sorted(map(tuple, bw_explicit))


def test_all_sources_guard_quiet_below_threshold(spark):
    """Small graphs keep exact all-sources behavior, no warning."""
    import warnings as _w

    from gqlite_spark.operators.graph_algos import closeness_centrality
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        rows = closeness_centrality(e).collect()
    assert len(rows) == 3                     # exact: every vertex a source
    assert not [w for w in rec if "auto-selected" in str(w.message)]


def test_harmonic_closeness(spark):
    from gqlite_spark.operators.graph_algos import closeness_centrality
    # path 1-2-3: harmonic(2) = 1/1 + 1/1 = 2.0; harmonic(1) = 1 + 1/2
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    h = {r["id"]: r["closeness"]
         for r in closeness_centrality(e, harmonic=True).collect()}
    assert h[2] == 2.0 and h[1] == 1.5 and h[3] == 1.5


def test_weighted_closeness(spark):
    from gqlite_spark.operators.graph_algos import closeness_centrality
    # triangle 1-2 (w=1), 2-3 (w=1), 1-3 (w=5): dist(1,3)=2 via 2
    e = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0)],
                              "src long, dst long, cost double")
    c = {r["id"]: r for r in
         closeness_centrality(e, weight_col="cost").collect()}
    assert c[2]["closeness"] == 1.0            # (3-1)/(1+1)
    assert c[1]["closeness"] == round(2 / 3, 4)
    assert c[1]["reachable"] == 3


# -- mid-size stress: deterministic pseudo-random graph vs a pure-Python
# BFS/Brandes oracle.  The 4-5 node fixtures above pin the formulas; this
# catches layer-synchronization bugs (frontier dedup, anti-join scope,
# backward-accumulation ordering) that only appear with many overlapping
# BFS layers.  n=220/m=900 keeps the superstep count (~diameter 5) and
# runtime bounded while the (source, vertex) state is ~48 000 pairs.

def _pseudo_edges(n=220, m=900, seed=7):
    """LCG-generated undirected edge list — identical for Spark and the
    Python oracle, no RNG-module dependence."""
    x = seed
    out = []
    for _ in range(m):
        x = (1103515245 * x + 12345) % (2 ** 31)
        a = x % n
        x = (1103515245 * x + 12345) % (2 ** 31)
        b = x % n
        if a != b:
            out.append((a, b))
    return out


def _adjacency(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _bfs_dist(adj, s):
    from collections import deque
    dist = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_closeness_midsize_vs_python_oracle(spark):
    from gqlite_spark.operators.graph_algos import closeness_centrality
    edges = _pseudo_edges()
    adj = _adjacency(edges)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r for r in closeness_centrality(e).collect()}
    assert set(got) == set(adj)
    for v in adj:
        dist = _bfs_dist(adj, v)
        reach = len(dist)
        total = sum(dist.values())
        want = round((reach - 1) / total, 4) if total else 0.0
        assert got[v]["reachable"] == reach, v
        assert abs(got[v]["closeness"] - want) <= 1e-4, v


def test_betweenness_midsize_vs_python_oracle(spark):
    from collections import deque

    from gqlite_spark.operators.graph_algos import betweenness_centrality
    edges = _pseudo_edges()
    adj = _adjacency(edges)
    sources = sorted(adj)[::10]          # 22 landmark sources
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["betweenness"]
           for r in betweenness_centrality(e, sources=sources).collect()}

    # reference Brandes restricted to the same sources, halved like the
    # implementation (each unordered pair seen from both endpoints only
    # when both are sources; landmark mode halves uniformly — mirror it)
    bc = {v: 0.0 for v in adj}
    for s in sources:
        order, preds = [], {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        sigma[s] = 1
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
                    preds[w].append(u)
        delta = {v: 0.0 for v in adj}
        for w in reversed(order):
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    for v in adj:
        assert abs(got.get(v, 0.0) - round(bc[v] / 2, 4)) <= 1e-3, v


def test_weighted_betweenness_detour_square(spark):
    """Square with one heavy edge: 1-2(1), 2-3(1), 1-4(1), 4-3(3).
    Pair (1,3) routes via 2; pair (2,4) via 1; pair (3,4) TIES between
    the direct heavy edge and 3-2-1-4 (sigma split 1/2 each way) →
    bc(1) = bc(2) = 1.5, bc(3) = bc(4) = 0."""
    from gqlite_spark.operators.graph_algos import betweenness_centrality
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 4, 1.0), (4, 3, 3.0)],
        "src long, dst long, cost double")
    got = {r["id"]: r["betweenness"] for r in
           betweenness_centrality(e, weight_col="cost").collect()}
    assert got == {1: 1.5, 2: 1.5, 3: 0.0, 4: 0.0}


def test_weighted_betweenness_vs_python_dijkstra_brandes(spark):
    """Random integer-weighted graph vs an exact heap-Dijkstra Brandes
    reference — validates distances, co-optimal path counting, and the
    delta fixpoint together."""
    import heapq

    from gqlite_spark.operators.graph_algos import betweenness_centrality
    edges = [(a, b, float(1 + ((a * 7 + b * 13) % 4)))
             for a, b in _pseudo_edges(n=60, m=240, seed=3)]
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, {})
        adj.setdefault(b, {})
        # parallel edges keep the MIN weight (matches the operator)
        adj[a][b] = min(adj[a].get(b, w), w)
        adj[b][a] = min(adj[b].get(a, w), w)
    nodes = sorted(adj)
    bc = {v: 0.0 for v in nodes}
    for s in nodes:
        dist = {s: 0}
        sigma = {v: 0 for v in nodes}
        sigma[s] = 1
        preds = {v: [] for v in nodes}
        seen = []
        pq = [(0, s)]
        done = set()
        while pq:
            d, u = heapq.heappop(pq)
            if u in done:
                continue
            done.add(u)
            seen.append(u)
            for v, w in adj[u].items():
                nd = d + w
                if v not in dist or nd < dist[v]:
                    dist[v] = nd
                    sigma[v] = sigma[u]
                    preds[v] = [u]
                    heapq.heappush(pq, (nd, v))
                elif nd == dist[v] and u not in preds[v]:
                    sigma[v] += sigma[u]
                    preds[v].append(u)
        delta = {v: 0.0 for v in nodes}
        for w_ in reversed(seen):
            for u in preds[w_]:
                delta[u] += sigma[u] / sigma[w_] * (1 + delta[w_])
            if w_ != s:
                bc[w_] += delta[w_]
    df = spark.createDataFrame(edges, "src long, dst long, cost double")
    got = {r["id"]: r["betweenness"] for r in
           betweenness_centrality(df, weight_col="cost").collect()}
    for v in nodes:
        assert abs(got.get(v, 0.0) - round(bc[v] / 2, 4)) <= 1e-3, v


def test_personalized_pagerank_matches_reference_impl(spark):
    """Personalized PageRank vs a pure-Python power iteration with the
    identical update rule (teleport + dangling mass to the source set);
    proximity ordering must favour the sources' neighbourhood."""
    from gqlite_spark.operators.graph_algos import pagerank
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sources, d, iters = [1], 0.85, 8
    got = {r["id"]: r["rank"]
           for r in pagerank(df, iterations=iters, damping=d,
                             personalized_for=sources).collect()}

    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    tele = {v: (n / len(sources) if v in sources else 0.0) for v in verts}
    rank = dict(tele)
    for _ in range(iters):
        contrib = {v: 0.0 for v in verts}
        for s, ts in out.items():
            for t in ts:
                contrib[t] += rank[s] / len(ts)
        dang = sum(rank[v] for v in verts if v not in out)
        rank = {v: ((1 - d) + d * dang / n) * tele[v] + d * contrib[v]
                for v in verts}
    for v in verts:
        assert abs(got[v] - rank[v]) < 1e-9, v
    # mass is conserved (sums to N like the uniform variant), and the
    # teleport target outranks its own rank under uniform PageRank
    assert abs(sum(got.values()) - n) < 1e-6
    uni = {r["id"]: r["rank"]
           for r in pagerank(df, iterations=iters, damping=d).collect()}
    assert got[1] > uni[1]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pagerank(df, personalized_for=[])


def test_pagerank_dangling_mass_in_plan(spark):
    """Dangling-node graphs: (a) ranks match a pure-Python power
    iteration with the identical update rule, and (b) the superstep loop
    performs NO driver-side collect — the dangling-mass sum is folded
    into the plan as a broadcast 1-row aggregate, not collected on the
    driver per superstep (VERDICT r5 #5).  Asserted by counting
    DataFrame.collect calls made inside pagerank() itself."""
    edges = [(1, 2), (2, 3), (1, 3), (4, 3)]   # vertex 3 is dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    d, iters = 0.85, 7
    got = {r["id"]: r["rank"]
           for r in pagerank(df, iterations=iters, damping=d).collect()}
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {v: 1.0 for v in verts}
    for _ in range(iters):
        contrib = {v: 0.0 for v in verts}
        for s, ts in out.items():
            for t in ts:
                contrib[t] += rank[s] / len(ts)
        dang = sum(rank[v] for v in verts if v not in out)
        rank = {v: ((1 - d) + d * dang / n) + d * contrib[v]
                for v in verts}
    for v in verts:
        assert abs(got[v] - rank[v]) < 1e-9, v
    assert abs(sum(got.values()) - n) < 1e-6

    import pyspark.sql as psql
    calls = []
    orig = psql.DataFrame.collect

    def counting_collect(self):
        calls.append(1)
        return orig(self)

    psql.DataFrame.collect = counting_collect
    try:
        result = pagerank(df, iterations=6, damping=d)
        internal = len(calls)
    finally:
        psql.DataFrame.collect = orig
    # the loop itself must stay lazy: zero collects inside pagerank()
    # (count/take for setup are fine; the old code collected the dangling
    # mass every superstep)
    assert internal == 0, internal
    assert abs(sum(r["rank"] for r in result.collect()) - n) < 1e-6


def test_all_sources_guard_threshold_boundary(spark):
    """The guard trips strictly ABOVE the threshold: a graph with exactly
    `auto_landmark_threshold` vertices stays exact (no warning, one row
    per vertex); one more vertex switches to landmarks (VERDICT r5 #7)."""
    import warnings as _w

    from gqlite_spark.operators.graph_algos import closeness_centrality

    def cycle(n):
        return spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                                     "src long, dst long")

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        at = closeness_centrality(cycle(20), auto_landmark_threshold=20,
                                  n_landmarks=3).collect()
    assert len(at) == 20                       # exact at n == threshold
    assert not [w for w in rec if "auto-selected" in str(w.message)]

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        above = closeness_centrality(cycle(21), auto_landmark_threshold=20,
                                     n_landmarks=3).collect()
    assert len(above) == 3                     # landmarks at n == threshold+1
    assert [w for w in rec if "auto-selected" in str(w.message)]


def test_auto_landmark_count_sqrt_scaling():
    """n_landmarks=None scales with the measured O(1/sqrt(|S|)) accuracy
    curve (PLANS.md): max(64, sqrt(n)) capped at 1024."""
    from gqlite_spark.operators.graph_algos import _auto_landmark_count
    assert _auto_landmark_count(100) == 64
    assert _auto_landmark_count(4096) == 64
    assert _auto_landmark_count(20_000) == 141
    assert _auto_landmark_count(1_000_000) == 1000
    assert _auto_landmark_count(10_000_000) == 1024


def test_all_sources_guard_auto_landmark_default(spark):
    """With the default n_landmarks=None, a tripped guard picks the
    sqrt-scaled count (floored at 64 → all 26 vertices here, since
    limit(64) of a 26-vertex graph is everything — i.e. small graphs
    just past the threshold stay effectively exact)."""
    import warnings as _w

    from gqlite_spark.operators.graph_algos import closeness_centrality
    n = 26
    e = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                              "src long, dst long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        rows = closeness_centrality(e, auto_landmark_threshold=20).collect()
    assert len(rows) == 26            # 64-landmark floor covers the graph
    assert [w for w in rec if "auto-selected" in str(w.message)]


def test_connected_components_twophase_parity(spark):
    """Large-star/small-star CC equals HashMin CC on: the LCG stress
    graph, a high-diameter string-keyed chain (the shape where two-phase
    wins: O(log n) rounds vs O(diameter) supersteps), multi-component
    graphs with isolated self-loop vertices."""
    from gqlite_spark.operators.graph_algos import (
        connected_components, connected_components_twophase)

    def labels(fn, e):
        return {r["id"]: r["component"] for r in fn(e).collect()}

    # LCG pseudo-random graph
    e1 = spark.createDataFrame(_pseudo_edges(), "src long, dst long")
    assert labels(connected_components_twophase, e1) == \
        labels(connected_components, e1)
    # string-keyed chain of diameter 39 — converges well under the
    # 24-round cap (log2(40) ≈ 5.3 rounds), where HashMin needs ~39
    ids = [f"n{i:02d}" for i in range(40)]
    e2 = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)], "src string, dst string")
    got = labels(connected_components_twophase, e2)
    assert set(got.values()) == {"n00"} and len(got) == 40
    # disjoint components + isolated self-loop vertex
    e3 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long")
    cc = labels(connected_components_twophase, e3)
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[12] == 12


def _graph_warnings(fn):
    """(result of fn(), messages of the RuntimeWarnings it raised)."""
    import warnings as _w
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        out = fn()
    return out, [str(w.message) for w in rec
                 if issubclass(w.category, RuntimeWarning)]


def test_connected_components_warns_when_max_iter_truncates(spark):
    """A 50-vertex chain needs 49 label-propagation supersteps; the
    default max_iter=32 stops short and splits it into 17 components.
    That truncated answer must come with a RuntimeWarning, and enough
    supersteps give one component and no warning."""
    e = spark.createDataFrame([(i, i + 1) for i in range(49)],
                              "src long, dst long")
    rows, msgs = _graph_warnings(lambda: connected_components(e).collect())
    assert len({r["component"] for r in rows}) == 17
    assert any("connected_components" in m and "max_iter=32" in m
               for m in msgs)
    rows, msgs = _graph_warnings(
        lambda: connected_components(e, max_iter=60).collect())
    assert {r["component"] for r in rows} == {0} and not msgs


def test_shortest_path_warns_when_max_iter_truncates(spark):
    """An 11-hop path is out of reach in 8 supersteps: the None
    ("unreachable") answer must come with a RuntimeWarning.  k_hop's
    ``hops`` is the query's own bound, so stopping there never warns."""
    e = spark.createDataFrame([(i, i + 1, 1.0) for i in range(11)],
                              "src long, dst long, w double")
    res, msgs = _graph_warnings(
        lambda: shortest_path(e, 0, 11, weight_col="w", max_iter=8))
    assert res is None
    assert any("shortest_path" in m and "max_iter=8" in m for m in msgs)
    res, msgs = _graph_warnings(
        lambda: shortest_path(e, 0, 11, weight_col="w"))
    assert res == (11.0, list(range(12))) and not msgs
    rows, msgs = _graph_warnings(lambda: k_hop(e, 0, 3).collect())
    assert {r["id"] for r in rows} == {1, 2, 3} and not msgs


def test_landmark_mode_degree_covers_hubs(spark):
    """Degree-mode landmark selection (r7): half top-degree ∪ half md5
    sample, deterministic.  On a star-ish fixture the hub MUST be in the
    closeness output (uniform sampling misses it with high probability —
    measured 0/50 head coverage on the 20k PA fixture), and betweenness
    keeps the md5 default (see probe numbers in PLANS.md)."""
    import warnings

    from gqlite_spark.operators.graph_algos import (_guard_all_sources,
                                                    closeness_centrality)
    # hub 0 connects to everyone; plus a sparse ring
    edges = ([(0, i) for i in range(1, 120)]
             + [(i, i + 1) for i in range(1, 119)])
    e = spark.createDataFrame(edges, "src long, dst long")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        picked = _guard_all_sources(e, None, "t", 100, 16,
                                    landmark_mode="degree")
        picked2 = _guard_all_sources(e, None, "t", 100, 16,
                                     landmark_mode="degree")
    assert picked == picked2                  # deterministic
    assert 0 in picked[:8]                    # hub in the top-degree half
    assert len(picked) == len(set(picked)) == 16
    with pytest.raises(ValueError):
        _guard_all_sources(e, None, "t", 100, 16, landmark_mode="bogus")
    # default closeness landmark mode reports the hub's (exact) closeness
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rows = {r["id"]: r["closeness"]
                for r in closeness_centrality(
                    e, auto_landmark_threshold=100, n_landmarks=16)
                .collect()}
    assert 0 in rows
    assert rows[0] == max(rows.values())      # the hub tops the sample
