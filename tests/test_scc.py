"""Strongly connected components vs an independent Tarjan oracle:
the distributed forward-backward coloring kernel and its numpy local
endgame must produce the identical (vid, scc=max-vid) partition
(graph/scc.py)."""

from __future__ import annotations

import pytest

from citation_graph_spark.graph import strongly_connected_components
from citation_graph_spark.graph.scc import _local_scc_arrays
from tests.conftest import edges_df, vertices_df
from tests.oracles import random_graph, scc_oracle

GRAPHS = {
    "two_2cycles_bridged": (5, [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2)]),
    "dag_chain": (4, [(0, 1), (1, 2), (2, 3)]),
    "cycle_with_tail": (5, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]),
    "nested_sccs": (
        7,
        # SCC {0,1,2} -> SCC {3,4} -> singleton 5; 6 isolated
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5)],
    ),
    "self_loops_only": (3, [(0, 0), (1, 1)]),
    "random_120": (
        120,
        [(s, d) for s, d, _ in random_graph(120, 700, seed=5)],
    ),
    "random_250_skew": (
        250,
        [(s, d) for s, d, _ in random_graph(250, 1800, seed=23)],
    ),
}


def _got(spark, n, el, **kw):
    return (
        strongly_connected_components(
            edges_df(spark, el), vertices_df(spark, n), **kw
        )
        .orderBy("vid")
        .toPandas()
    )


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_scc_local_endgame_matches_tarjan(spark, name):
    n, el = GRAPHS[name]
    got = _got(spark, n, el)  # all fixtures are under the local threshold
    assert got["vid"].tolist() == list(range(n))
    assert got["scc"].tolist() == scc_oracle(n, el)


@pytest.mark.parametrize("name", ["nested_sccs", "random_120"])
def test_scc_distributed_matches_local_and_tarjan(spark, name, local_finish_rows):
    n, el = GRAPHS[name]
    local_finish_rows(0)  # force distributed
    got = _got(spark, n, el)
    assert got["scc"].tolist() == scc_oracle(n, el)


def test_scc_numpy_kernel_direct():
    import numpy as np

    n, el = GRAPHS["random_250_skew"]
    src = np.array([s for s, d in el], dtype=np.int64)
    dst = np.array([d for s, d in el], dtype=np.int64)
    order, scc = _local_scc_arrays(src, dst, np.arange(n, dtype=np.int64))
    want = scc_oracle(n, el)
    assert order.tolist() == list(range(n))
    assert scc.tolist() == want


def test_scc_empty_and_isolated(spark):
    got = _got(spark, 4, [])
    assert got["scc"].tolist() == [0, 1, 2, 3]
