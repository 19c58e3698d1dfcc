"""Graph kernels vs single-node oracles: PageRank allclose(1e-6),
components / communities / triangles exact (north rule)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from citation_graph_spark.graph import (
    betweenness_sampled,
    bfs_distances,
    bfs_per_source,
    connected_components,
    densest_subgraph_rounds,
    densest_subgraph_vertices,
    deterministic_walks,
    edge_betweenness_sampled,
    eigenvector_centrality,
    exact_balls,
    fiedler_scores,
    four_clique_counts,
    greedy_coloring,
    hits,
    hyperball,
    k_core,
    k_truss,
    katz_centrality,
    label_propagation,
    louvain_local_moves,
    maximal_independent_set,
    maximal_matching,
    neighbor_sample,
    pagerank,
    personalized_pagerank,
    sssp,
    strongly_connected_components,
    triangle_counts,
    widest_paths,
    wl_refinement,
)
from citation_graph_spark.graph.csr import pagerank_csr
from citation_graph_spark.graph.louvain import louvain_local_moves_weighted
from citation_graph_spark.graph.msf import boruvka_msf
from citation_graph_spark.graph.spectral import refine_bisection
from citation_graph_spark.session import kernel, session_width, set_kernel_width
from citation_graph_spark.streaming.incremental import refresh_pagerank
from tests.conftest import edges_df, vertices_df
from tests.oracles import (
    MICRO_GRAPHS,
    components_oracle,
    label_propagation_oracle,
    pagerank_oracle,
    random_graph,
    triangles_oracle,
)

GRAPHS = dict(MICRO_GRAPHS)
GRAPHS["random_200"] = (200, [(s, d) for s, d, _ in random_graph(200, 800, seed=7)])
GRAPHS["random_500_skew"] = (
    500,
    [(s, d) for s, d, _ in random_graph(500, 3000, seed=11)],
)


def _weighted(edge_list):
    return [(s, d, 1.0) for s, d in edge_list]


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_matches_oracle(spark, name):
    n, el = GRAPHS[name]
    got = (
        pagerank(edges_df(spark, el), vertices_df(spark, n), tol=1e-6)
        .orderBy("vid")
        .toPandas()
    )
    want = pagerank_oracle(n, _weighted(el), tol=1e-6)
    assert got["vid"].tolist() == list(range(n))
    assert np.allclose(got["score"].to_numpy(), want, atol=1e-6, rtol=0)
    assert abs(got["score"].sum() - 1.0) < 1e-9


def test_pagerank_weighted(spark):
    el = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 2.0)]
    got = (
        pagerank(edges_df(spark, el), vertices_df(spark, 3), tol=1e-9)
        .orderBy("vid")
        .toPandas()
    )
    want = pagerank_oracle(3, el, tol=1e-9)
    assert np.allclose(got["score"].to_numpy(), want, atol=1e-8, rtol=0)


def test_pagerank_salted_equals_unsalted(spark):
    n, el = GRAPHS["random_500_skew"]
    base = (
        pagerank(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    salted = (
        pagerank(edges_df(spark, el), vertices_df(spark, n), salt_buckets=4)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert np.allclose(base, salted, atol=1e-9, rtol=0)


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_components_match_oracle(spark, name):
    n, el = GRAPHS[name]
    got = (
        connected_components(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()
    )
    want = components_oracle(n, el)
    assert got["component"].to_numpy().tolist() == want.tolist()


@pytest.mark.parametrize("name", ["cycle4_isolated", "two_cliques_bridge", "random_200"])
def test_distributed_components_match_local(
    spark, name, local_finish_rows
):
    """Both routes — the distributed kernel and the driver union-find
    local finish (the default on graphs this small) — must produce
    identical labels. A local-finish threshold of 0 forces the
    distributed kernel so it stays exercised on fixture-sized graphs."""
    n, el = GRAPHS[name]
    local = (
        connected_components(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    local_finish_rows(0)
    base = (
        connected_components(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    assert local == base


@pytest.mark.parametrize("ids", ["sorted", "shuffled"])
def test_distributed_components_take_logarithmic_rounds(
    spark, tmp_path, local_finish_rows, ids
):
    """A 1,024-vertex path on the distributed kernel: labels equal
    union-find within 2·log2(n) rounds, with sorted and with shuffled
    ids. Neighbour minimum alone needs n - 1 rounds here."""
    n = 1024
    order = np.arange(n)
    if ids == "shuffled":
        order = np.random.default_rng(3).permutation(n)
    el = [(int(order[i]), int(order[i + 1])) for i in range(n - 1)]
    local_finish_rows(0)
    log = tmp_path / "cc.jsonl"
    out = connected_components(
        edges_df(spark, el), vertices_df(spark, n), metrics_path=str(log)
    )
    got = out.orderBy("vid").toPandas()["component"].tolist()
    assert got == components_oracle(n, el).tolist()
    rounds = len(log.read_text().splitlines())
    assert rounds <= 2 * int(np.ceil(np.log2(n))), rounds
    # each round's checkpoint carries the planner's size estimate into
    # the next round; it must grow by a bounded factor per round, not
    # square itself (a doubling bit length stalls planning at scale).
    # Spark prints sizes past 1024 EiB as "<mantissa>E+<exponent> B".
    est = out._jdf.queryExecution().optimizedPlan().stats().simpleString()
    exponent = re.search(r"E\+(\d+) B", est)
    assert exponent is None or int(exponent.group(1)) <= 20 * rounds, est


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_label_propagation_matches_oracle(spark, name):
    n, el = GRAPHS[name]
    got = (
        label_propagation(edges_df(spark, el), vertices_df(spark, n), max_iter=10)
        .orderBy("vid")
        .toPandas()
    )
    want = label_propagation_oracle(n, el, max_iter=10)
    assert got["label"].to_numpy().tolist() == want.tolist()


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_triangles_match_oracle(spark, name):
    n, el = GRAPHS[name]
    got = (
        triangle_counts(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()
    )
    want = triangles_oracle(n, el)
    assert got["n_triangles"].to_numpy().tolist() == want.tolist()
    assert got["n_triangles"].sum() % 3 == 0


def test_triangle_known_values(spark):
    n, el = MICRO_GRAPHS["triangle_pendant"]
    got = (
        triangle_counts(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()["n_triangles"]
        .tolist()
    )
    assert got == [1, 1, 1, 0]


def test_star_graph_no_triangles(spark):
    n, el = MICRO_GRAPHS["star_k15"]
    got = triangle_counts(edges_df(spark, el), vertices_df(spark, n)).toPandas()
    assert got["n_triangles"].sum() == 0


def test_weighted_lp_rejects_fractional_weights(spark):
    """Integer-exact vote sums require integral weights; a fractional
    weight must fail loudly instead of silently truncating (0.7 → 0
    would erase the vote)."""
    edges = edges_df(spark, [(0, 1, 0.7), (1, 2, 1.0)])
    with pytest.raises(Exception, match="integral"):
        label_propagation(
            edges, vertices_df(spark, 3), max_iter=2, weighted=True
        ).collect()


def test_modularity_invariants(spark):
    """graph_part_modularity: Σ degree_sum = 2m, Σ intra ≤ m, and the
    global Q of a better-than-random community structure lies in
    (0, 1] (Newman-Girvan bounds are (-0.5, 1])."""
    from citation_graph_spark import operators

    operators.load_all()
    rows = operators.QUERIES["graph_part_modularity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    from citation_graph_spark.operators.graphq import part_graph_edges

    m = part_graph_edges(spark, "/root/testdata/sf0.001").count()
    assert sum(r["degree_sum"] for r in rows) == 2 * m
    assert sum(r["intra_edges"] for r in rows) <= m
    q = sum(r["q_nano"] for r in rows) / 1e9
    assert 0.0 < q <= 1.0, q


def ev_replay(el, iters, scale=1000000):
    """Python replay of the shifted integer power iteration."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in el:
        adj[s].add(d)
        adj[d].add(s)
    x = {v: scale for v in adj}
    for _ in range(iters):
        y = {v: x[v] + sum(x[u] for u in adj[v]) for v in adj}
        m = max(y.values())
        if m == 0:
            return {v: 0 for v in adj}
        x = {v: (y[v] * scale) // m for v in adj}
    return x


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_eigenvector_matches_replay(spark, name):
    from citation_graph_spark.graph import eigenvector_centrality

    n, el = GRAPHS[name]
    got = eigenvector_centrality(
        edges_df(spark, [(s, d, 1.0) for s, d in el]), max_iter=8
    ).toPandas()
    want = ev_replay(el, 8)
    assert {(r.vid, r.score_ppm) for r in got.itertuples()} == set(
        want.items()
    )


def test_eigenvector_path_converges_to_perron(spark):
    """P3's Perron vector is (1, sqrt(2), 1)/|.|: leaves must settle
    near 0.7071e6 of the center — pure (unshifted) power iteration
    oscillates between 0.5e6 and 1e6 forever on this bipartite graph,
    so this pins that the A + I shift actually converges."""
    from citation_graph_spark.graph import eigenvector_centrality

    got = {
        r.vid: r.score_ppm
        for r in eigenvector_centrality(
            edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0)]), max_iter=20
        ).collect()
    }
    assert got[1] == 1000000
    assert abs(got[0] - 707106) < 500 and got[0] == got[2]


def test_eigenvector_rejects_nothing_but_handles_isolated(spark):
    """A vertex with no edges never enters the edge table, so the
    kernel's vertex set is edge-derived; a two-component graph keeps
    both components alive and scales each to the global max."""
    from citation_graph_spark.graph import eigenvector_centrality

    el = [(0, 1), (1, 2), (0, 2), (10, 11)]  # triangle + lone edge
    got = {
        r.vid: r.score_ppm
        for r in eigenvector_centrality(
            edges_df(spark, [(s, d, 1.0) for s, d in el]), max_iter=10
        ).collect()
    }
    assert got[0] == got[1] == got[2] == 1000000  # symmetric triangle
    assert 0 < got[10] == got[11] < 1000000  # dominated, not dropped


# ---------------------------------------------------------------- 4-cliques
def _four_cliques_oracle(n, edge_list):
    """Edge-based enumeration (a<b<c<d, common-neighbor intersection):
    per-vertex 4-clique membership counts."""
    adj = [set() for _ in range(n)]
    for s, d in edge_list:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    counts = [0] * n
    for a in range(n):
        for b in (x for x in adj[a] if x > a):
            common_ab = adj[a] & adj[b]
            for c in (x for x in common_ab if x > b):
                for d in (x for x in common_ab & adj[c] if x > c):
                    for v in (a, b, c, d):
                        counts[v] += 1
    return counts


def test_four_cliques_k5(spark):
    """K5: C(5,4)=5 cliques, every vertex in C(4,3)=4 of them."""
    from citation_graph_spark.graph import four_clique_counts
    import itertools

    el = list(itertools.combinations(range(5), 2))
    got = (
        four_clique_counts(edges_df(spark, el), vertices_df(spark, 5))
        .orderBy("vid")
        .toPandas()["n_four_cliques"]
        .tolist()
    )
    assert got == [4, 4, 4, 4, 4]


def test_four_cliques_triangle_only_is_zero(spark):
    from citation_graph_spark.graph import four_clique_counts

    n, el = MICRO_GRAPHS["triangle_pendant"]
    got = four_clique_counts(edges_df(spark, el), vertices_df(spark, n)).toPandas()
    assert got["n_four_cliques"].sum() == 0


@pytest.mark.parametrize("name", ["random_200", "random_500_skew"])
def test_four_cliques_match_oracle(spark, name):
    from citation_graph_spark.graph import four_clique_counts

    n, el = GRAPHS[name]
    got = (
        four_clique_counts(edges_df(spark, el), vertices_df(spark, n))
        .orderBy("vid")
        .toPandas()["n_four_cliques"]
        .tolist()
    )
    assert got == _four_cliques_oracle(n, el)
    assert sum(got) % 4 == 0


# ------------------------------------------------------------- densest peel
def _densest_rounds_oracle(edge_list):
    """Sequential replay of the synchronous 2(1+0.1)-peel: per-round
    (V, E, density_micro) over the surviving symmetric edge set."""
    sym = set()
    for s, d in edge_list:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    rows = []
    it = 0
    while sym and it < 100:
        it += 1
        deg = {}
        for s, _ in sym:
            deg[s] = deg.get(s, 0) + 1
        nv, esym = len(deg), len(sym)
        rows.append((it, nv, esym // 2, 1_000_000 * (esym // 2) // nv))
        keep = {v for v, d in deg.items() if 10 * d * nv > 11 * esym}
        sym = {(s, d) for s, d in sym if s in keep and d in keep}
    best = max(r[3] for r in rows)
    br = min(r[0] for r in rows if r[3] == best)
    return [(r[0], r[1], r[2], r[3], 1 if r[0] == br else 0) for r in rows]


@pytest.mark.parametrize("name", ["random_200", "random_500_skew"])
def test_densest_rounds_match_sequential_replay(spark, name):
    from citation_graph_spark.graph import densest_subgraph_rounds

    n, el = GRAPHS[name]
    got = [
        tuple(r)
        for r in densest_subgraph_rounds(edges_df(spark, el))
        .orderBy("round")
        .collect()
    ]
    assert got == _densest_rounds_oracle(el)


def test_densest_vertices_find_planted_clique(spark):
    """K8 planted in a long path: the peel's best round must keep the
    clique and shed the path."""
    from citation_graph_spark.graph import densest_subgraph_vertices

    el = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    el += [(100 + i, 101 + i) for i in range(60)]  # path of 61
    el += [(0, 100)]  # connect them
    got = sorted(
        r["vid"]
        for r in densest_subgraph_vertices(edges_df(spark, el)).collect()
    )
    assert set(range(8)).issubset(got)
    assert all(v < 8 for v in got), got


def test_densest_rounds_of_no_edges_is_empty(spark):
    from citation_graph_spark.graph import densest_subgraph_rounds

    out = densest_subgraph_rounds(edges_df(spark, []))
    assert out.collect() == []
    assert out.columns == [
        "round", "n_vertices", "n_edges", "density_micro", "is_best"
    ]


def test_densest_vertices_of_no_edges_is_empty(spark):
    from citation_graph_spark.graph import densest_subgraph_vertices

    out = densest_subgraph_vertices(edges_df(spark, []))
    assert out.collect() == []
    assert out.dtypes == [("vid", "bigint")]


# ----------------------------------------------------------------- Luby MIS
def _mis_oracle(n, edge_list):
    """Sequential replay of the deterministic-priority Luby schedule."""
    P, M, S = 2147483647, 8388608, 1099511627776
    adj = [set() for _ in range(n)]
    for s, d in edge_list:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    verts = {v for v in range(n) if adj[v]}
    active = set(verts)
    mis_round = {}
    it = 0
    while active and it < 100:
        it += 1
        a, b = 48271 * it % P, 16807 * it % P
        q = {v: (v % P * a + b) % P % M * S + v for v in active}
        winners = {
            v
            for v in active
            if all(q[v] < q[u] for u in adj[v] & active)
        }
        for v in winners:
            mis_round[v] = it
        active -= winners | {u for v in winners for u in adj[v]}
    return {
        v: (1 if v in mis_round else 0, mis_round.get(v, 0)) for v in verts
    }


@pytest.mark.parametrize("name", ["random_200", "random_500_skew"])
def test_mis_matches_sequential_replay(spark, name):
    from citation_graph_spark.graph import maximal_independent_set

    n, el = GRAPHS[name]
    got = {
        r["vid"]: (r["in_mis"], r["mis_round"])
        for r in maximal_independent_set(edges_df(spark, el)).collect()
    }
    assert got == _mis_oracle(n, el)


def test_mis_independent_and_maximal(spark):
    from citation_graph_spark.graph import maximal_independent_set

    n, el = GRAPHS["random_200"]
    rows = maximal_independent_set(edges_df(spark, el)).collect()
    in_mis = {r["vid"] for r in rows if r["in_mis"] == 1}
    adj = {}
    for s, d in el:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    # independence: no edge inside the set
    assert all(not (adj.get(v, set()) & in_mis) for v in in_mis)
    # maximality: every non-member has a member neighbor
    out = {r["vid"] for r in rows if r["in_mis"] == 0}
    assert all(adj[v] & in_mis for v in out)


# ------------------------------------------------------- maximal matching
def _matching_oracle(edge_list, max_iter=100):
    """Sequential replay of the deterministic-priority matching
    schedule (graph/matching.py contract)."""
    P, EID_S = 2147483647, 2147483648
    act = sorted({(min(s, d), max(s, d)) for s, d in edge_list if s != d})
    verts = sorted({v for e in act for v in e})
    res = {}
    for it in range(1, max_iter + 1):
        if not act:
            break
        ar, br = 48271 * it % P, 16807 * it % P
        pri = {}
        for a, b in act:
            m = ((a % P) * 1000003 + b % P) % P
            pri[(a, b)] = ((m * ar + br) % P, a * EID_S + b)
        vmin = {}
        for e in act:
            for v in e:
                vmin[v] = min(vmin.get(v, (1 << 62, 1 << 62)), pri[e])
        winners = [
            e for e in act if pri[e] == vmin[e[0]] and pri[e] == vmin[e[1]]
        ]
        mv = {v for e in winners for v in e}
        for a, b in winners:
            res[a] = (b, it)
            res[b] = (a, it)
        act = [e for e in act if e[0] not in mv and e[1] not in mv]
    return {v: (*res.get(v, (-1, 0)),) for v in verts}


@pytest.mark.parametrize("lf", [None, 0], ids=["endgame", "distributed"])
@pytest.mark.parametrize("name", ["random_200", "random_500_skew"])
def test_matching_matches_sequential_replay(spark, name, lf, local_finish_rows):
    from citation_graph_spark.graph import maximal_matching

    if lf is not None:
        local_finish_rows(lf)
    n, el = GRAPHS[name]
    got = {
        r["vid"]: (r["mate"], r["match_round"])
        for r in maximal_matching(edges_df(spark, el)).collect()
    }
    assert got == _matching_oracle(el)


def test_matching_is_a_maximal_matching(spark):
    from citation_graph_spark.graph import maximal_matching

    n, el = GRAPHS["random_200"]
    rows = maximal_matching(edges_df(spark, el)).collect()
    mate = {r["vid"]: r["mate"] for r in rows}
    # symmetry + one-to-one: mate of my mate is me
    for v, m in mate.items():
        if m != -1:
            assert mate[m] == v
    # matched flag consistent
    assert all((r["mate"] != -1) == (r["matched"] == 1) for r in rows)
    # maximality: no edge joins two unmatched vertices
    un = {v for v, m in mate.items() if m == -1}
    assert not [
        (s, d) for s, d in el if s != d and s in un and d in un
    ]


def test_matching_vertex_cover_covers_every_edge(spark):
    from citation_graph_spark.graph import maximal_matching

    n, el = GRAPHS["two_cliques_bridge"]
    rows = maximal_matching(edges_df(spark, el)).collect()
    cover = {r["vid"] for r in rows if r["matched"] == 1}
    assert all(
        s in cover or d in cover for s, d in el if s != d
    )
    # 2-approx bound: |cover| = 2|M| <= 2 * |optimal cover| <= 2 * n
    assert len(cover) % 2 == 0


def test_matching_empty_and_single_edge(spark):
    from citation_graph_spark.graph import maximal_matching

    one = maximal_matching(edges_df(spark, [(0, 1)])).collect()
    assert {(r["vid"], r["mate"], r["matched"]) for r in one} == {
        (0, 1, 1),
        (1, 0, 1),
    }


# ----------------------------------------------------- greedy coloring
def _coloring_oracle(edge_list, max_iter=100):
    """Sequential replay of the Jones–Plassmann schedule with the MIS
    priority hash and greedy mex."""
    P, M, S = 2147483647, 8388608, 1099511627776

    def qq(v, r):
        a, b = 48271 * r % P, 16807 * r % P
        return ((v % P) * a + b) % P % M * S + v

    adj = {}
    for s, d in edge_list:
        s, d = int(s), int(d)
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    verts = sorted(adj)
    color, cround = {}, {}
    active = set(verts)
    for it in range(1, max_iter + 1):
        if not active:
            break
        winners = [
            v
            for v in active
            if all(qq(v, it) < qq(n, it) for n in adj[v] if n in active)
        ]
        for w in winners:
            used = sorted({color[n] for n in adj[w] if n in color})
            mex = 0
            for c in used:
                if c == mex:
                    mex += 1
            color[w] = mex
            cround[w] = it
        active -= set(winners)
    return {v: (color.get(v, -1), cround.get(v, 0)) for v in verts}


@pytest.mark.parametrize("lf", [None, 0], ids=["endgame", "distributed"])
@pytest.mark.parametrize("name", ["random_200", "random_500_skew"])
def test_coloring_matches_sequential_replay(spark, name, lf, local_finish_rows):
    from citation_graph_spark.graph import greedy_coloring

    if lf is not None:
        local_finish_rows(lf)
    n, el = GRAPHS[name]
    got = {
        r["vid"]: (r["color"], r["color_round"])
        for r in greedy_coloring(edges_df(spark, el)).collect()
    }
    assert got == _coloring_oracle(el)


def test_coloring_is_proper_and_bounded(spark):
    from citation_graph_spark.graph import greedy_coloring

    n, el = GRAPHS["two_cliques_bridge"]
    rows = greedy_coloring(edges_df(spark, el)).collect()
    cm = {r["vid"]: r["color"] for r in rows}
    deg = {}
    for s, d in el:
        if s != d:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
    # proper: no edge joins equal colors
    assert all(cm[s] != cm[d] for s, d in el if s != d)
    # greedy bound: color(v) <= deg(v)
    assert all(c <= deg[v] for v, c in cm.items())
    # every vertex colored at the fixpoint
    assert all(c >= 0 for c in cm.values())


def test_coloring_clique_uses_exactly_k_colors(spark):
    from citation_graph_spark.graph import greedy_coloring

    k = 7
    el = [(i, j) for i in range(k) for j in range(i + 1, k)]
    rows = greedy_coloring(edges_df(spark, el)).collect()
    assert sorted(r["color"] for r in rows) == list(range(k))


def test_coarsen_invariants(spark):
    """Matching-contraction conservation laws at sf0.001: every
    original edge is either internal to a matched pair or counted in
    exactly one quotient weight; supervertices = n − matched pairs;
    no self-loops survive."""
    from citation_graph_spark.operators.graphq import (
        graph_part_coarsen,
        part_graph_edges,
    )
    from citation_graph_spark.graph import maximal_matching

    sf = "/root/testdata/sf0.001"
    edges = part_graph_edges(spark, sf)
    n_edges = edges.count()
    m = {r["vid"]: (r["mate"], r["matched"]) for r in
         maximal_matching(edges, max_iter=100).collect()}
    pairs = {tuple(sorted((v, mt))) for v, (mt, ok) in m.items() if ok}
    internal = sum(
        1 for r in edges.collect()
        if tuple(sorted((r["src"], r["dst"]))) in pairs
    )
    q = graph_part_coarsen(spark, sf).collect()
    assert all(r["a"] < r["b"] for r in q)
    assert sum(r["w"] for r in q) + internal == n_edges
    sv = {min(v, mt) if ok else v for v, (mt, ok) in m.items()}
    assert {x for r in q for x in (r["a"], r["b"])} <= sv
    assert len(sv) == len(m) - len(pairs)


def test_louvain_two_level_modularity_monotone(spark):
    """The Louvain guarantees, checked with an exact python modularity:
    (1) contraction preserves Q (quotient Q of the induced singleton
    partition == original partition Q), and (2) the level-2 weighted
    moves never decrease Q of the projected partition."""
    from fractions import Fraction

    from citation_graph_spark.graph.louvain import louvain_local_moves
    from citation_graph_spark.operators.graphq import part_graph_edges
    from citation_graph_spark.operators.topology import (
        graph_part_louvain_two_level,
    )

    sf = "/root/testdata/sf0.001"
    el = [
        (r["src"], r["dst"])
        for r in part_graph_edges(spark, sf).select("src", "dst").collect()
    ]

    def modularity(part):
        m = len(el)
        deg: dict[int, int] = {}
        for a, b in el:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        intra: dict[int, int] = {}
        vol: dict[int, int] = {}
        for a, b in el:
            if part[a] == part[b]:
                intra[part[a]] = intra.get(part[a], 0) + 1
        for v, d in deg.items():
            vol[part[v]] = vol.get(part[v], 0) + d
        return sum(
            Fraction(intra.get(c, 0), m) - Fraction(vol[c], 2 * m) ** 2
            for c in vol
        )

    lab1 = {
        r["vid"]: r["community"]
        for r in louvain_local_moves(
            part_graph_edges(spark, sf).select("src", "dst"), rounds=2
        ).collect()
    }
    lab2 = {
        r["vid"]: r["community"]
        for r in graph_part_louvain_two_level(spark, sf).collect()
    }
    assert set(lab2) == set(lab1)
    q1, q2 = modularity(lab1), modularity(lab2)
    assert q2 >= q1  # weighted level-2 moves only ever ascend
    # and the refinement genuinely coarsens or keeps the partition
    assert len(set(lab2.values())) <= len(set(lab1.values()))


# --- the kernel execution policy (session.kernel) ---------------------------

AQE, WIDTH = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"

KERNELS = {
    "pagerank": lambda e, v: pagerank(e, v, tol=1e-6),
    "connected_components": lambda e, v: connected_components(e, v),
    "label_propagation": lambda e, v: label_propagation(e, v, max_iter=5),
    "triangle_counts": lambda e, v: triangle_counts(e, v),
    "refresh_pagerank": lambda e, v: refresh_pagerank(e, v, tol=1e-6),
    "katz_centrality": lambda e, v: katz_centrality(e, v, max_iter=3),
    "eigenvector_centrality": lambda e, v: eigenvector_centrality(e, max_iter=3),
    "louvain_local_moves": lambda e, v: louvain_local_moves(e, rounds=2),
    "hyperball": lambda e, v: hyperball(e, radius=2),
    "greedy_coloring": lambda e, v: greedy_coloring(e),
    "maximal_matching": lambda e, v: maximal_matching(e),
    "fiedler_scores": lambda e, v: fiedler_scores(e, max_iter=3),
    "betweenness_sampled": lambda e, v: betweenness_sampled(e, v.filter("vid < 3")),
    "edge_betweenness_sampled": (
        lambda e, v: edge_betweenness_sampled(e, v.filter("vid < 3"))
    ),
    "hits": lambda e, v: hits(e, v, max_iter=3),
    "k_core": lambda e, v: k_core(e, k=3),
    "k_truss": lambda e, v: k_truss(e, k=3),
    "maximal_independent_set": lambda e, v: maximal_independent_set(e),
    "strongly_connected_components": (
        lambda e, v: strongly_connected_components(e, v)
    ),
    "boruvka_msf": (
        lambda e, v: boruvka_msf(e.withColumnRenamed("weight", "w"), v)
    ),
    "bfs_distances": lambda e, v: bfs_distances(e, v.filter("vid < 3")),
    "bfs_per_source": lambda e, v: bfs_per_source(e, v.filter("vid < 3")),
    "sssp": lambda e, v: sssp(e, v.filter("vid < 3")),
    "widest_paths": lambda e, v: widest_paths(e, v.filter("vid < 3")),
    "personalized_pagerank": (
        lambda e, v: personalized_pagerank(e, v.filter("vid < 3"), max_iter=3)
    ),
    "wl_refinement": lambda e, v: wl_refinement(e, rounds=2),
    "deterministic_walks": (
        lambda e, v: deterministic_walks(e, v.filter("vid < 3"), steps=3)
    ),
    "neighbor_sample": (
        lambda e, v: neighbor_sample(e, v.filter("vid < 3"), fanouts=[2, 2])
    ),
    "densest_subgraph_rounds": lambda e, v: densest_subgraph_rounds(e),
    "densest_subgraph_vertices": lambda e, v: densest_subgraph_vertices(e),
    "louvain_local_moves_weighted": lambda e, v: louvain_local_moves_weighted(
        e.selectExpr("least(src, dst) as src", "greatest(src, dst) as dst", "1 as w")
        .filter("src < dst")
        .distinct()
    ),
    "refine_bisection": (
        lambda e, v: refine_bisection(e, v.selectExpr("vid", "vid % 2 as side"))
    ),
    "exact_balls": lambda e, v: exact_balls(e, radius=2),
    "four_clique_counts": lambda e, v: four_clique_counts(e, v),
    "pagerank_csr": lambda e, v: pagerank_csr(e, v, tol=1e-6),
}


def _conf(spark):
    return {k: spark.conf.get(k) for k in (AQE, WIDTH)}


def _no_cache(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _plan_nodes(df):
    """Node names of ``df``'s optimized plan."""
    plans, names = [df._jdf.queryExecution().optimizedPlan()], []
    while plans:
        plan = plans.pop()
        names.append(plan.nodeName())
        children = plan.children()
        plans.extend(children.apply(i) for i in range(children.size()))
    return names


# kernels that collect a shrunk graph to finish on the driver, and their
# Spark jobs per call on random_200 when they do
LOCAL_FINISH_JOBS = {
    "connected_components": 4,
    "greedy_coloring": 11,
    "maximal_matching": 8,
    "strongly_connected_components": 5,
    "boruvka_msf": 6,
}


@pytest.mark.parametrize("cached", [False, True], ids=["uncached", "cached"])
@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_policy(spark, name, cached):
    """The caller's cache state and session conf are unchanged after the
    call, the kernel leaves no cache of its own, and the result only
    reads computed rows (no aggregate, join or cache read left to run)."""
    _check_policy(spark, name, cached)


@pytest.mark.parametrize("cached", [False, True], ids=["uncached", "cached"])
@pytest.mark.parametrize("name", sorted(LOCAL_FINISH_JOBS))
def test_kernel_policy_without_local_finish(spark, name, cached, local_finish_rows):
    """The same policy holds on the distributed rounds."""
    local_finish_rows(0)
    _check_policy(spark, name, cached)


def _check_policy(spark, name, cached):
    spark.catalog.clearCache()
    n, el = GRAPHS["random_200"]
    edges = edges_df(spark, el)
    if cached:
        edges = edges.cache()
        edges.count()
    level, conf = edges.storageLevel, _conf(spark)
    out = KERNELS[name](edges, vertices_df(spark, n))
    assert edges.storageLevel == level
    assert _conf(spark) == conf
    assert set(_plan_nodes(out)) <= {
        "Project", "Filter", "Union", "LogicalRDD", "LocalRelation"
    }
    edges.unpersist()
    assert _no_cache(spark)


def test_weighted_lp_leaves_no_cache_when_it_raises(spark):
    spark.catalog.clearCache()
    edges = edges_df(spark, [(0, 1, 0.7), (1, 2, 1.0)])
    with pytest.raises(Exception, match="integral"):
        label_propagation(edges, vertices_df(spark, 3), weighted=True)
    assert _no_cache(spark)


def test_pagerank_of_no_vertices_leaves_no_cache(spark):
    spark.catalog.clearCache()
    edges = edges_df(spark, [(0, 1), (1, 2)])
    out = pagerank(edges, vertices_df(spark, 0))
    assert out.count() == 0
    assert _no_cache(spark)


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("cached", [False, True], ids=["uncached", "cached"])
@pytest.mark.parametrize("name", sorted(LOCAL_FINISH_JOBS))
def test_local_finish_jobs(spark, name, cached):
    """A kernel that finishes on the driver runs a fixed number of Spark
    jobs per call, whether or not the caller cached its edges."""
    n, el = GRAPHS["random_200"]
    edges = edges_df(spark, el)
    if cached:
        edges = edges.cache()
        edges.count()
    jobs = _jobs(
        spark,
        f"finish-{name}-{cached}",
        lambda: KERNELS[name](edges, vertices_df(spark, n)),
    )
    edges.unpersist()
    assert jobs == LOCAL_FINISH_JOBS[name]


# the four PageRank calls run one power iteration: their set-up's Spark
# jobs on random_200, then two jobs per round
PAGERANK_SETUP_JOBS = {
    "pagerank": 5,
    "pagerank_warm": 5,
    "pagerank_csr": 5,
    "personalized_pagerank": 6,
}


@pytest.mark.parametrize("name", sorted(PAGERANK_SETUP_JOBS))
def test_pagerank_jobs(spark, name):
    n, el = GRAPHS["random_200"]
    edges = edges_df(spark, el).cache()
    edges.count()
    verts = vertices_df(spark, n)
    prior = pagerank(edges, verts, max_iter=5)
    rounds = 20  # tol=0 runs every round
    calls = {
        "pagerank": lambda: pagerank(edges, verts, tol=0.0, max_iter=rounds),
        "pagerank_warm": lambda: pagerank(
            edges, verts, tol=0.0, max_iter=rounds, init_ranks=prior
        ),
        "pagerank_csr": lambda: pagerank_csr(edges, verts, tol=0.0, max_iter=rounds),
        "personalized_pagerank": lambda: personalized_pagerank(
            edges, verts.filter("vid < 3"), max_iter=rounds
        ),
    }
    jobs = _jobs(spark, f"pagerank-{name}", calls[name])
    edges.unpersist()
    assert jobs == PAGERANK_SETUP_JOBS[name] + 2 * rounds


# the four frontier-relaxation calls of KERNELS on random_200: two
# set-up jobs for the edge cache, then one job per round
TRAVERSAL_JOBS = {
    "bfs_distances": 5,
    "bfs_per_source": 6,
    "sssp": 5,
    "widest_paths": 5,
}


@pytest.mark.parametrize("cached", [False, True], ids=["uncached", "cached"])
@pytest.mark.parametrize("name", sorted(TRAVERSAL_JOBS))
def test_traversal_jobs(spark, name, cached):
    n, el = GRAPHS["random_200"]
    edges = edges_df(spark, el)
    if cached:
        edges = edges.cache()
        edges.count()
    jobs = _jobs(
        spark,
        f"traversal-{name}-{cached}",
        lambda: KERNELS[name](edges, vertices_df(spark, n)),
    )
    edges.unpersist()
    assert jobs == TRAVERSAL_JOBS[name]


def test_triangle_jobs_do_not_depend_on_an_earlier_pagerank(spark):
    assert spark.conf.get(AQE) == "true"
    n, el = GRAPHS["random_200"]
    edges = edges_df(spark, el).cache()
    edges.count()
    before = _jobs(spark, "tri-before", lambda: triangle_counts(edges).collect())
    pagerank(edges, vertices_df(spark, n), tol=1e-6)
    after = _jobs(spark, "tri-after", lambda: triangle_counts(edges).collect())
    edges.unpersist()
    assert before == after <= 8


def test_kernel_scope_restores_conf_on_error_and_nesting(spark):
    spark.catalog.clearCache()
    edges = edges_df(spark, [(0, 1), (1, 2), (2, 0)])
    session = _conf(spark)
    seen = {}

    @kernel
    def outer(e, fail=False):
        set_kernel_width(spark, 3)
        seen["inner"] = connected_components(e).count()
        seen["after_inner"] = _conf(spark)
        seen["session_width"] = session_width(spark)
        if fail:
            raise ValueError("boom")

    outer(edges)
    assert seen["inner"] == 3
    assert seen["after_inner"] == {AQE: "false", WIDTH: "3"}
    assert seen["session_width"] == int(session[WIDTH])
    assert _conf(spark) == session
    assert _no_cache(spark)
    with pytest.raises(ValueError, match="boom"):
        outer(edges, fail=True)
    assert _conf(spark) == session
    assert _no_cache(spark)
    fractional = edges_df(spark, [(0, 1, 0.5)])
    with pytest.raises(Exception, match="integral"):
        label_propagation(fractional, weighted=True)
    assert _conf(spark) == session
    assert _no_cache(spark)


def test_driver_young_generation_is_fixed(spark):
    """The driver's young generation starts at its ceiling, a third of
    the heap, so its peak RSS does not depend on how many collections a
    job ran."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    bean = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    hs = mx.getPlatformMXBean(bean)
    size = {
        k: int(hs.getVMOption(k).getValue())
        for k in ("NewSize", "MaxNewSize", "MaxHeapSize")
    }
    assert size["NewSize"] == size["MaxNewSize"]
    assert abs(3 * size["MaxNewSize"] - size["MaxHeapSize"]) <= 3 * 2**20
