"""Resumability (north rule): kill at iteration k, relaunch, identical
final scores; converged checkpoints return without extra rounds; a
crashed save, a shorter re-run, or a manifest of another graph or
format never resumes into a wrong answer."""

from __future__ import annotations

import json

import numpy as np
import pytest

from citation_graph_spark.graph import connected_components, pagerank
from tests.conftest import edges_df, vertices_df
from tests.oracles import random_graph


def test_pagerank_kill_resume_identical(spark, tmp_path):
    el = random_graph(300, 1500, seed=3)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        pagerank(edges, verts).orderBy("vid").toPandas()["score"].to_numpy()
    )
    ck = str(tmp_path / "ck")
    pagerank(edges, verts, max_iter=6, checkpoint_dir=ck, checkpoint_interval=3)
    resumed = (
        pagerank(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert np.allclose(full, resumed, atol=1e-12, rtol=0)

    again = (
        pagerank(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_components_kill_resume_identical(spark, tmp_path):
    el = random_graph(300, 900, seed=5)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        connected_components(edges, verts)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    ck = str(tmp_path / "ck")
    connected_components(
        edges, verts, max_iter=2, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        connected_components(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    assert resumed == full


def test_katz_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.katz import katz_centrality

    el = random_graph(300, 1500, seed=7)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        katz_centrality(edges, verts, max_iter=6)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    ck = str(tmp_path / "ck")
    # "killed" run: only 3 of 6 rounds, durable snapshot at round 2 + 3
    katz_centrality(
        edges, verts, max_iter=3, checkpoint_dir=ck, checkpoint_interval=2
    )
    resumed = (
        katz_centrality(
            edges, verts, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    # doubles round-trip parquet exactly and the remaining schedule is
    # identical, so resume is bit-identical, not merely allclose
    assert (full == resumed).all()

    # manifest at max_iter: a second resume replays zero rounds
    again = (
        katz_centrality(
            edges, verts, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_hyperball_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.anf import hyperball

    el = random_graph(200, 800, seed=9)
    edges = edges_df(spark, el)

    full = (
        hyperball(edges, radius=4, log2m=6)
        .orderBy("vid", "r")
        .toPandas()
    )
    ck = str(tmp_path / "ck")
    hyperball(
        edges, radius=2, log2m=6, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        hyperball(
            edges, radius=4, log2m=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid", "r")
        .toPandas()
    )
    # registers are integers: the parquet round-trip is exact, so the
    # resumed estimates match the uninterrupted run row-for-row
    assert (full.to_numpy() == resumed.to_numpy()).all()


def test_louvain_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.louvain import louvain_local_moves

    el = random_graph(200, 900, seed=11)
    edges = edges_df(spark, el)

    full = (
        louvain_local_moves(edges, rounds=4)
        .orderBy("vid")
        .toPandas()["community"]
        .tolist()
    )
    ck = str(tmp_path / "ck")
    louvain_local_moves(
        edges, rounds=2, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        louvain_local_moves(edges, rounds=4, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["community"]
        .tolist()
    )
    # integer community ids round-trip exactly; the synchronous rounds
    # are deterministic, so the resumed fixpoint is bit-identical
    assert resumed == full


def test_eigenvector_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph import eigenvector_centrality

    el = random_graph(300, 1500, seed=7)
    edges = edges_df(spark, el)

    full = (
        eigenvector_centrality(edges, max_iter=6)
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    ck = str(tmp_path / "ck")
    eigenvector_centrality(
        edges, max_iter=3, checkpoint_dir=ck, checkpoint_interval=2
    )
    resumed = (
        eigenvector_centrality(
            edges, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    # int64 state round-trips parquet exactly; identical remaining
    # schedule => bit-identical, not merely allclose
    assert (full == resumed).all()

    again = (
        eigenvector_centrality(
            edges, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_coloring_kill_resume_identical(spark, tmp_path, local_finish_rows):
    from citation_graph_spark.graph import greedy_coloring

    el = random_graph(300, 1500, seed=9)
    edges = edges_df(spark, el)

    # no local finish: the distributed rounds run — the endgame would
    # otherwise finish round 1 before any checkpoint lands
    local_finish_rows(0)
    full = greedy_coloring(edges).orderBy("vid").collect()
    ck = str(tmp_path / "ck")
    # "kill" after 2 rounds (checkpoint every round), then resume
    greedy_coloring(
        edges,
        max_iter=2,
        checkpoint_dir=ck,
        checkpoint_interval=1,
    )
    resumed = (
        greedy_coloring(edges, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .collect()
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in resumed]


def test_matching_kill_resume_identical(spark, tmp_path, local_finish_rows):
    from citation_graph_spark.graph import maximal_matching

    el = random_graph(300, 1500, seed=10)
    edges = edges_df(spark, el)

    local_finish_rows(0)
    full = maximal_matching(edges).orderBy("vid").collect()
    ck = str(tmp_path / "ck")
    maximal_matching(
        edges,
        max_iter=2,
        checkpoint_dir=ck,
        checkpoint_interval=1,
    )
    resumed = (
        maximal_matching(edges, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .collect()
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in resumed]


def _scores(df, col="score"):
    return df.orderBy("vid").toPandas()[col].to_numpy()


def _first_round(metrics_path):
    with open(metrics_path) as f:
        return json.loads(f.readline())["iteration"]


def test_shorter_rerun_keeps_the_snapshot_its_manifest_names(spark, tmp_path):
    """A shorter re-run into the same checkpoint_dir saves an iteration
    below the snapshots already there; retention must keep the one its
    manifest names, so the next resume starts from it."""
    edges = edges_df(spark, random_graph(300, 1500, seed=3))
    verts = vertices_df(spark, 300)
    full = _scores(pagerank(edges, verts))
    ck = str(tmp_path / "ck")
    pagerank(edges, verts, max_iter=20, checkpoint_dir=ck, checkpoint_interval=10)
    pagerank(edges, verts, max_iter=5, checkpoint_dir=ck, checkpoint_interval=5)
    log = str(tmp_path / "resume.jsonl")
    resumed = _scores(
        pagerank(edges, verts, checkpoint_dir=ck, resume=True, metrics_path=log)
    )
    assert _first_round(log) == 6
    assert np.allclose(full, resumed, atol=1e-12, rtol=0)


def test_pagerank_refuses_a_checkpoint_of_another_graph(spark, tmp_path):
    el = random_graph(300, 1500, seed=3)
    a, b = edges_df(spark, el), edges_df(spark, el[:-50])
    verts = vertices_df(spark, 300)
    ck = str(tmp_path / "ck")
    pagerank(a, verts, checkpoint_dir=ck)  # a converged manifest of graph a
    cold = _scores(pagerank(b, verts))
    resumed = _scores(pagerank(b, verts, checkpoint_dir=ck, resume=True))
    assert np.allclose(cold, resumed, atol=1e-12, rtol=0)


def test_pagerank_refuses_a_checkpoint_of_another_alpha(spark, tmp_path):
    """A converged manifest written with alpha 0.85 is not the answer for
    alpha 0.5: the resume starts cold."""
    edges = edges_df(spark, random_graph(200, 800, seed=3))
    verts = vertices_df(spark, 200)
    ck = str(tmp_path / "ck")
    pagerank(edges, verts, alpha=0.85, checkpoint_dir=ck)
    cold = _scores(pagerank(edges, verts, alpha=0.5))
    resumed = _scores(
        pagerank(edges, verts, alpha=0.5, checkpoint_dir=ck, resume=True)
    )
    assert np.allclose(cold, resumed, atol=1e-12, rtol=0)


def test_hyperball_refuses_a_checkpoint_of_another_log2m(spark, tmp_path):
    """Registers written with log2m 6 are the wrong registers for log2m 8:
    the resume starts cold and equals an uninterrupted run."""
    from citation_graph_spark.graph.anf import hyperball

    edges = edges_df(spark, random_graph(200, 800, seed=9))
    ck = str(tmp_path / "ck")
    hyperball(edges, radius=2, log2m=6, checkpoint_dir=ck, checkpoint_interval=1)
    cold = hyperball(edges, radius=4, log2m=8).orderBy("vid", "r").toPandas()
    resumed = (
        hyperball(edges, radius=4, log2m=8, checkpoint_dir=ck, resume=True)
        .orderBy("vid", "r")
        .toPandas()
    )
    assert (cold.to_numpy() == resumed.to_numpy()).all()


@pytest.mark.parametrize("fault", ["torn_snapshot", "stale_tmp_manifest", "old_format"])
def test_katz_resume_after_a_fault(spark, tmp_path, fault):
    """A save killed mid-write leaves a snapshot no manifest names, or a
    temporary manifest never published: the resume continues from the
    last published manifest. A manifest of an older format starts cold.
    Either way the result equals the uninterrupted run."""
    from citation_graph_spark.graph.katz import katz_centrality

    edges = edges_df(spark, random_graph(300, 1500, seed=7))
    verts = vertices_df(spark, 300)
    full = _scores(katz_centrality(edges, verts, max_iter=6))
    ck = tmp_path / "ck"
    katz_centrality(
        edges, verts, max_iter=3, checkpoint_dir=str(ck), checkpoint_interval=3
    )
    root = ck / "katz"
    torn = root / "iter_000004_0badf00d"
    if fault == "torn_snapshot":
        torn.mkdir()
        (torn / "part-00000.parquet").write_bytes(b"PAR1")
    elif fault == "stale_tmp_manifest":
        (root / "manifest.json.tmp").write_text('{"format": 2, "iteration": 5, "pa')
    else:
        manifest = json.loads((root / "manifest.json").read_text())
        (root / "manifest.json").write_text(json.dumps({**manifest, "format": 1}))
    log = str(tmp_path / "resume.jsonl")
    resumed = _scores(
        katz_centrality(
            edges, verts, max_iter=6, checkpoint_dir=str(ck), resume=True,
            metrics_path=log,
        )
    )
    assert (full == resumed).all()
    assert _first_round(log) == (1 if fault == "old_format" else 4)
    assert not torn.exists()  # the resumed run's saves pruned it


def test_components_converged_manifest_returns_at_once(spark, tmp_path):
    edges = edges_df(spark, random_graph(300, 900, seed=5))
    verts = vertices_df(spark, 300)
    ck = str(tmp_path / "ck")
    full = _scores(connected_components(edges, verts, checkpoint_dir=ck), "component")
    log = tmp_path / "again.jsonl"
    again = _scores(
        connected_components(
            edges, verts, checkpoint_dir=ck, resume=True, metrics_path=str(log)
        ),
        "component",
    )
    assert (again == full).all()
    assert not log.exists()  # no round ran
