"""Borůvka MSF vs sequential Kruskal with the identical (w, src, dst)
tie-break — under a strict total order the MSF is unique, so the edge
sets must be EQUAL, not merely equal-weight."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from citation_graph_spark.graph.msf import boruvka_msf


def kruskal(n: int, edges: list[tuple[int, int, int]]) -> set[tuple[int, int, int]]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for w, s, d in sorted((w, min(s, d), max(s, d)) for s, d, w in edges):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
            out.add((s, d, w))
    return out


def _random_graph(seed: int, n: int, m: int, wmax: int):
    rng = random.Random(seed)
    seen = set()
    edges = []
    while len(edges) < m:
        s, d = rng.randrange(n), rng.randrange(n)
        if s == d:
            continue
        key = (min(s, d), max(s, d))
        if key in seen:
            continue
        seen.add(key)
        # small wmax forces many weight ties — the tie-break contract
        edges.append((key[0], key[1], rng.randrange(1, wmax)))
    return edges


def _spark_msf(spark, n, edges, **kw):
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    got = boruvka_msf(
        e, vertices=spark.range(n).withColumnRenamed("id", "vid"), **kw
    )
    return {(r.src, r.dst, r.w) for r in got.collect()}


def test_msf_equals_kruskal_dense_ties(spark, local_finish_rows):
    # no local finish: the distributed Borůvka loop runs to
    # convergence — keeps the loop exercised on fixture-sized graphs
    n, edges = 40, _random_graph(seed=7, n=40, m=200, wmax=6)
    local_finish_rows(0)
    assert _spark_msf(spark, n, edges) == kruskal(n, edges)


def test_msf_local_tail_equals_distributed(spark, local_finish_rows):
    """The driver-Kruskal endgame (default when few components remain
    live) must return the same forest as running the Borůvka loop out,
    and both must equal reference Kruskal — including under heavy
    weight ties (the (w, src, dst) total-order contract)."""
    n, edges = 60, _random_graph(seed=21, n=60, m=300, wmax=5)
    want = kruskal(n, edges)
    assert _spark_msf(spark, n, edges) == want  # immediate local tail
    # one distributed round, then the tail: the 300 edge rows are not
    # below the threshold, the quotient of the <= 24 components left
    # after the round (<= 276 rows) is
    local_finish_rows(300)
    assert _spark_msf(spark, n, edges) == want


def test_msf_equals_kruskal_forest_with_isolates(spark):
    # two components + isolated vertices → a spanning FOREST
    left = _random_graph(seed=11, n=15, m=40, wmax=9)
    right = [(s + 20, d + 20, w) for s, d, w in _random_graph(seed=12, n=12, m=30, wmax=9)]
    edges = left + right
    n = 40  # vertices 32..39 isolated
    got = _spark_msf(spark, n, edges)
    # Kruskal-equality implies the forest invariants (acyclic, spanning
    # per component, isolates contribute nothing)
    assert got == kruskal(n, edges)


def test_msf_threshold_connectivity(spark):
    """The property density clustering leans on: components of
    forest≤t == components of graph≤t for EVERY threshold t."""
    n, edges = 30, _random_graph(seed=3, n=30, m=120, wmax=12)
    forest = _spark_msf(spark, n, edges)

    def comps(edge_iter, t):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d, w in edge_iter:
            if w <= t:
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[max(rs, rd)] = min(rs, rd)
        return tuple(find(i) for i in range(n))

    norm = [(min(s, d), max(s, d), w) for s, d, w in edges]
    for t in range(0, 13):
        assert comps(forest, t) == comps(norm, t), f"threshold {t}"


def test_msf_empty_and_parallel_edges(spark):
    e = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 3), (1, 2, 9), (3, 3, 1)], "src long, dst long, w long"
    )
    got = {(r.src, r.dst, r.w) for r in boruvka_msf(e).collect()}
    # parallel edges collapse to the cheapest; self-loops drop
    assert got == {(1, 2, 3)}

    empty = spark.createDataFrame([], "src long, dst long, w long")
    assert boruvka_msf(empty).count() == 0


def test_msf_oracle_generator_matches_kruskal():
    """The generated Borůvka-round SQL (the graph_part_msf oracle) is
    pinned against sequential Kruskal on random graphs — same md5
    48-bit weights, same (w, src, dst) total order. DuckDB-only: this
    guards the ORACLE side of the gate independently of Spark."""
    import hashlib
    import math
    import random

    import duckdb

    from citation_graph_spark.operators.graphq import _msf_oracle

    for seed in (1, 9, 42):
        rng = random.Random(seed)
        n = rng.choice([40, 150, 500])
        eset = {}
        for _ in range(rng.randint(n // 2, n * 3)):
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b:
                continue
            a, b = min(a, b), max(a, b)
            w = int(hashlib.md5(f"{a}-{b}".encode()).hexdigest()[:12], 16)
            eset[(a, b)] = w
        con = duckdb.connect()
        con.execute("CREATE TABLE rawe(src BIGINT, dst BIGINT)")
        con.executemany(
            "INSERT INTO rawe VALUES (?, ?)", sorted(eset)
        )
        cte = (
            "edges AS (SELECT src, dst FROM rawe),\n"
            "verts AS (SELECT DISTINCT src AS vid FROM "
            "(SELECT src FROM rawe UNION ALL SELECT dst FROM rawe))"
        )
        rounds = max(2, math.ceil(math.log2(n)) + 1)
        got = sorted(
            tuple(r) for r in con.execute(_msf_oracle(rounds, cte)).fetchall()
        )
        # sequential Kruskal with union-find, identical total order
        par = list(range(n))

        def find(x):
            while par[x] != x:
                par[x] = par[par[x]]
                x = par[x]
            return x

        want = []
        for w, a, b in sorted((w, a, b) for (a, b), w in eset.items()):
            ra, rb = find(a), find(b)
            if ra != rb:
                par[ra] = rb
                want.append((a, b, w))
        assert got == sorted(want), f"seed {seed}"
