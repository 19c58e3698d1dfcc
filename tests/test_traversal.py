"""BFS hop distance, personalized PageRank and k-core vs sequential
numpy oracles (same posture as tests/test_graph_kernels.py)."""

from __future__ import annotations

import numpy as np

from citation_graph_spark.graph import bfs_distances, k_core, personalized_pagerank
from tests.conftest import edges_df, vertices_df
from tests.oracles import random_graph


def bfs_oracle(n, edges, seeds, directed, max_iter):
    adj = [[] for _ in range(n)]
    for s, d, _ in edges:
        adj[s].append(d)
        if not directed:
            adj[d].append(s)
    dist = {v: 0 for v in seeds}
    frontier = list(seeds)
    for it in range(1, max_iter + 1):
        nxt = []
        for v in frontier:
            for u in adj[v]:
                if u not in dist:
                    dist[u] = it
                    nxt.append(u)
        if not nxt:
            break
        frontier = nxt
    return dist


def ppr_oracle(n, edges, seeds, alpha, iters):
    wout = np.zeros(n)
    for s, d, w in edges:
        wout[s] += w
    sv = np.zeros(n)
    sv[list(seeds)] = 1.0 / len(seeds)
    r = sv.copy()
    for _ in range(iters):
        d_mass = r[wout == 0].sum()
        contrib = np.zeros(n)
        for s, d, w in edges:
            contrib[d] += r[s] * w / wout[s]
        r = (1 - alpha) * sv + alpha * (contrib + d_mass * sv)
    return r


def test_bfs_undirected_matches_oracle(spark):
    n = 200
    el = random_graph(n, 600, seed=7)
    seeds = [0, 50, 100]
    got = {
        row["vid"]: row["dist"]
        for row in bfs_distances(
            edges_df(spark, el), vertices_df(spark, n).filter("vid in (0,50,100)")
        ).collect()
    }
    want = bfs_oracle(n, el, seeds, directed=False, max_iter=30)
    assert got == want


def test_bfs_directed_and_round_cap(spark):
    # a directed chain: distances are exact up to the cap, absent beyond
    el = [(i, i + 1, 1.0) for i in range(20)]
    out = bfs_distances(
        edges_df(spark, el),
        vertices_df(spark, 21).filter("vid = 0"),
        max_iter=5,
        directed=True,
    )
    got = {row["vid"]: row["dist"] for row in out.collect()}
    assert got == {i: i for i in range(6)}


def test_ppr_matches_oracle_and_sums_to_one(spark):
    n = 150
    el = random_graph(n, 500, seed=9)
    # vertex 149 very likely dangling under the zipf dst skew; if not,
    # the oracle mirrors whatever the graph has — both paths covered
    seeds = [3, 77]
    out = (
        personalized_pagerank(
            edges_df(spark, el),
            vertices_df(spark, n).filter("vid in (3, 77)"),
            max_iter=25,
        )
        .orderBy("vid")
        .toPandas()
    )
    want = ppr_oracle(n, el, seeds, alpha=0.85, iters=25)
    got = np.zeros(n)
    got[out["vid"].to_numpy()] = out["score"].to_numpy()
    assert np.allclose(got, want, atol=1e-9, rtol=0)
    assert abs(got.sum() - 1.0) < 1e-9


def kcore_oracle(edges, k):
    """Classic sequential peel — order-independent fixpoint."""
    adj: dict[int, set[int]] = {}
    for s, d, _ in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    alive = set(adj)
    changed = True
    while changed:
        doomed = {v for v in alive if len(adj[v] & alive) < k}
        changed = bool(doomed)
        alive -= doomed
    return alive


def test_kcore_matches_sequential_peel(spark):
    n = 200
    el = random_graph(n, 900, seed=13)
    for k in (2, 3, 5):
        got = {
            row["vid"] for row in k_core(edges_df(spark, el), k=k).collect()
        }
        assert got == kcore_oracle(el, k), f"k={k}"


def test_kcore_of_clique_is_clique(spark):
    # K5 plus a pendant chain: 4-core is exactly the clique
    el = [(i, j, 1.0) for i in range(5) for j in range(i + 1, 5)]
    el += [(4, 5, 1.0), (5, 6, 1.0)]
    got = {row["vid"] for row in k_core(edges_df(spark, el), k=4).collect()}
    assert got == {0, 1, 2, 3, 4}


def hits_oracle(n, edges, iters):
    a = np.full(n, 1.0 / n)
    h = np.full(n, 1.0 / n)
    for _ in range(iters):
        a_raw = np.zeros(n)
        h_raw = np.zeros(n)
        for s, d, _ in edges:
            a_raw[d] += h[s]
            h_raw[s] += a[d]
        a = a_raw / a_raw.sum()
        h = h_raw / h_raw.sum()
    return a, h


def test_hits_matches_oracle(spark):
    from citation_graph_spark.graph import hits

    n = 150
    el = random_graph(n, 600, seed=21)
    out = (
        hits(edges_df(spark, el), vertices_df(spark, n), max_iter=12)
        .orderBy("vid")
        .toPandas()
    )
    # restrict the oracle to the same vertex universe (all n vertices)
    wa, wh = hits_oracle(n, el, iters=12)
    ga = np.zeros(n)
    gh = np.zeros(n)
    ga[out["vid"].to_numpy()] = out["authority"].to_numpy()
    gh[out["vid"].to_numpy()] = out["hub"].to_numpy()
    assert np.allclose(ga, wa, atol=1e-9, rtol=0)
    assert np.allclose(gh, wh, atol=1e-9, rtol=0)
    assert abs(ga.sum() - 1.0) < 1e-9 and abs(gh.sum() - 1.0) < 1e-9


def sssp_oracle(n, edges, seeds, max_iter, directed=False):
    """Synchronous Bellman-Ford, round-capped, integer weights."""
    adj: dict[int, list[tuple[int, int]]] = {i: [] for i in range(n)}
    for s, d, w in edges:
        adj[s].append((d, int(w)))
        if not directed:
            adj[d].append((s, int(w)))
    INF = float("inf")
    dist = {v: (0 if v in seeds else INF) for v in range(n)}
    for _ in range(max_iter):
        new = dict(dist)
        for u in range(n):
            if dist[u] == INF:
                continue
            for v, w in adj[u]:
                if dist[u] + w < new[v]:
                    new[v] = dist[u] + w
        if new == dist:
            break
        dist = new
    return {v: d for v, d in dist.items() if d != INF}


def test_sssp_weighted_matches_oracle(spark):
    from citation_graph_spark.graph import sssp

    n = 120
    rng = np.random.Generator(np.random.PCG64(17))
    el = random_graph(n, 400, seed=17)
    el = [(s, d, float(rng.integers(1, 9))) for s, d, _ in el]
    seeds = {0, 60}
    got = {
        r["vid"]: r["dist"]
        for r in sssp(
            edges_df(spark, el),
            vertices_df(spark, n).filter("vid in (0, 60)"),
            max_iter=30,
        ).collect()
    }
    assert got == sssp_oracle(n, el, seeds, max_iter=30)


def test_sssp_prefers_light_path_and_respects_cap(spark):
    from citation_graph_spark.graph import sssp

    # heavy shortcut 0->3 (w=10) vs light chain 0->1->2->3 (w=1 each)
    el = [(0, 3, 10.0), (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)]
    e = edges_df(spark, el)
    s = vertices_df(spark, 4).filter("vid = 0")
    full = {r["vid"]: r["dist"] for r in sssp(e, s, max_iter=10).collect()}
    assert full == {0: 0, 1: 1, 2: 2, 3: 3}
    # one round only: the 3-hop light path is not yet found
    capped = {r["vid"]: r["dist"] for r in sssp(e, s, max_iter=1).collect()}
    assert capped == {0: 0, 1: 1, 3: 10}


def test_bfs_per_source_matches_per_seed_oracle(spark):
    from citation_graph_spark.graph import bfs_per_source

    n = 150
    el = random_graph(n, 450, seed=29)
    seeds = [0, 75, 149]
    got = {
        (r["seed"], r["vid"]): r["dist"]
        for r in bfs_per_source(
            edges_df(spark, el),
            vertices_df(spark, n).filter("vid in (0, 75, 149)"),
            max_iter=30,
        ).collect()
    }
    want = {}
    for s in seeds:
        for v, d in bfs_oracle(n, el, [s], directed=False, max_iter=30).items():
            want[(s, v)] = d
    assert got == want


def weighted_lp_oracle(n, edges, max_iter):
    """Synchronous weighted LP: vote = summed edge weight, argmax with
    min-label tie-break (matches label_propagation(weighted=True))."""
    from collections import defaultdict

    wadj: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for s, d, w in edges:
        if s != d:
            wadj[s][d] += int(w)
            wadj[d][s] += int(w)
    labels = list(range(n))
    for _ in range(max_iter):
        new = list(labels)
        for v in range(n):
            if v not in wadj:
                continue
            votes: dict[int, int] = defaultdict(int)
            for u, w in wadj[v].items():
                votes[labels[u]] += w
            best = max(votes.values())
            new[v] = min(l for l, c in votes.items() if c == best)
        if new == labels:
            break
        labels = new
    return labels


def test_weighted_label_propagation_matches_oracle(spark):
    from citation_graph_spark.graph import label_propagation

    n = 120
    rng = np.random.Generator(np.random.PCG64(31))
    el = random_graph(n, 400, seed=31)
    el = [(s, d, float(rng.integers(1, 6))) for s, d, _ in el]
    got = (
        label_propagation(
            edges_df(spark, el), vertices_df(spark, n), max_iter=6, weighted=True
        )
        .orderBy("vid")
        .toPandas()["label"]
        .tolist()
    )
    assert got == weighted_lp_oracle(n, el, max_iter=6)


# ----------------------------------------------------------- widest paths
def _widest_oracle(n, el, seeds, max_iter, directed=False):
    """Synchronous max-min Bellman-Ford, round-capped, pure python."""
    INF = 4611686018427387904
    adj = {}
    for e in el:
        s, d, w = int(e[0]), int(e[1]), int(e[2]) if len(e) > 2 else 1
        adj.setdefault(s, []).append((d, w))
        if not directed:
            adj.setdefault(d, []).append((s, w))
    cap = {v: INF for v in seeds}
    for _ in range(max_iter):
        new = dict(cap)
        for u, c in cap.items():
            for v, w in adj.get(u, []):
                cand = min(c, w)
                if cand > new.get(v, -1):
                    new[v] = cand
        if new == cap:
            break
        cap = new
    return {v: (-1 if c == INF else c) for v, c in cap.items()}


def test_widest_hand_graph(spark):
    from citation_graph_spark.graph import widest_paths

    # 0 -5- 1 -2- 3 ; 0 -3- 2 -3- 3 : widest 0->3 is min(3,3)=3 not 2
    el = [(0, 1, 5.0), (1, 3, 2.0), (0, 2, 3.0), (2, 3, 3.0)]
    seeds = spark.createDataFrame([(0,)], "vid long")
    got = {
        r["vid"]: r["width"]
        for r in widest_paths(edges_df(spark, el), seeds).collect()
    }
    assert got == {0: -1, 1: 5, 2: 3, 3: 3}


def test_widest_matches_bruteforce_on_random(spark):
    from citation_graph_spark.graph import widest_paths

    el = [
        (s, d, float((s * 7 + d * 13) % 9 + 1))
        for s, d, _ in random_graph(60, 400, seed=5)
    ]
    seeds_l = [0, 17, 42]
    seeds = spark.createDataFrame([(v,) for v in seeds_l], "vid long")
    got = {
        r["vid"]: r["width"]
        for r in widest_paths(edges_df(spark, el), seeds, max_iter=12).collect()
    }
    assert got == _widest_oracle(60, el, seeds_l, 12)


def test_widest_round_cap_matches_synchronous_state(spark):
    from citation_graph_spark.graph import widest_paths

    el = [(i, i + 1, float(i % 4 + 1)) for i in range(20)]  # a path
    seeds = spark.createDataFrame([(0,)], "vid long")
    got = {
        r["vid"]: r["width"]
        for r in widest_paths(edges_df(spark, el), seeds, max_iter=3).collect()
    }
    assert got == _widest_oracle(21, el, [0], 3)


def test_ppr_of_no_seeds_is_empty(spark):
    el = random_graph(20, 40, seed=3)
    out = personalized_pagerank(
        edges_df(spark, el), vertices_df(spark, 20).filter("vid < 0")
    )
    assert out.count() == 0
    assert out.columns == ["vid", "score"]
