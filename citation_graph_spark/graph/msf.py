"""Distributed minimum spanning forest via Borůvka rounds.

The kernel behind the HDBSCAN-class density clustering
(operators/density.py): HDBSCAN is, at its core, an MST of the
mutual-reachability graph (reference: clustering/hdbscan.py:36-42
fits sklearn's HDBSCAN, whose fit is Prim/Borůvka over mutual
reachability).  Prim is inherently sequential; Borůvka is the
textbook distributed form — every component picks its minimum-weight
outgoing edge, the picked edges merge components, repeat.  Components
at least halve per round, so O(log n) rounds regardless of graph
diameter, each round a constant number of joins/aggregations — the
right shape for a 1000-executor cluster.

Determinism: ties are broken by the total order ``(w, src, dst)``.
Under any strict total order on edges the MSF is *unique* (the
classic distinct-weights argument applied to the lexicographic
perturbation), so Borůvka here returns exactly the same edge set as
sequential Kruskal with the same tie-break — pinned by
tests/test_msf.py — and is an MSF of the unperturbed weights.

The property density clustering leans on: for ANY threshold t, the
connected components of ``forest.filter(w <= t)`` equal the
components of ``edges.filter(w <= t)`` — a spanning forest preserves
connectivity at every weight level, which lets one MSF serve every
hierarchy cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from citation_graph_spark.graph.degrees import endpoints
from citation_graph_spark.session import finish_locally, kernel, size_kernel


@kernel
def boruvka_msf(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 40,
) -> DataFrame:
    """Minimum spanning forest of an undirected weighted graph.

    ``edges``: (src, dst, w) with integer-comparable weights; treated
    as undirected (one row per unordered pair is enough — symmetry is
    handled internally).  ``vertices``: optional (vid) frame; isolated
    vertices simply contribute no forest edges.  Returns the forest as
    (src, dst, w) — per connected component, |C|-1 edges.  Once
    ``finish_locally`` takes the rows of the collected quotient (the
    normalized edges before round one, at most C(n, 2) rows for n live
    components after it), the loop stops and one driver Kruskal
    computes the remaining forest; identical forest either way.
    """
    spark = edges.sparkSession
    e = normalize_edges(edges).localCheckpoint(eager=True)
    if vertices is None:
        vertices = endpoints(e)
    labels = vertices.select("vid", F.col("vid").alias("comp")).localCheckpoint(
        eager=True
    )

    n_edges = e.count()
    if finish_locally(n_edges):
        # the identity-labels quotient IS the normalized edge set — one
        # collect, one Kruskal, zero loop rounds
        return _local_kruskal_tail(e, labels)

    forest_parts: list[DataFrame] = []
    size_kernel(spark, n_edges)
    for _ in range(max_rounds):
        sel = nomination_lineage(e, labels).localCheckpoint(eager=True)
        n_live = sel.count()
        if n_live == 0:  # no cross-component edge left anywhere
            break
        if finish_locally(n_live * (n_live - 1) // 2):
            # n_live components bound the min-edge-per-pair quotient to
            # C(n_live, 2) rows — reduce distributedly, collect, and
            # finish the remaining forest in one driver Kruskal under
            # the same (w, src, dst) total order.  The quotient MSF
            # equals the MSF of the remaining contracted graph (cycle
            # property kills non-minimal parallel edges), so the result
            # is bit-identical to running the loop out.
            forest_parts.append(_local_kruskal_tail(e, labels))
            break
        forest_parts.append(sel.select("src", "dst", "w").distinct())

        # contract: components joined by nominated edges merge.  The
        # nomination map is functional with only 2-cycles (see
        # rooted_nominations), so pointer doubling resolves the merge
        # in O(log depth) one-join rounds — no general CC kernel needed.
        merged = contract_nominations(sel, max_rounds=max_rounds)
        labels = (
            labels.join(merged, "comp", "left")
            .select("vid", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"boruvka_msf did not converge in {max_rounds} rounds"
        )

    if not forest_parts:
        return spark.createDataFrame([], e.schema)
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def normalize_edges(edges: DataFrame) -> DataFrame:
    """Undirected-canonical (src<dst) edge lineage with parallel edges
    collapsed to their cheapest weight — the per-call preamble of the
    Borůvka loop, exposed unchecked-pointed so the plan-regression
    suite can pin its shape (one groupBy exchange, no joins)."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: cheapest wins
    )


def _local_kruskal_tail(e: DataFrame, labels: DataFrame) -> DataFrame:
    """Remaining-forest edges (src, dst, w) for a contracted graph with
    few live components: min-edge-per-pair quotient reduced
    distributedly, then exact Kruskal on the driver under the strict
    (w, src, dst) total order — the same edge order the distributed
    nomination uses, so the chosen forest is identical."""
    import pandas as pd

    spark = e.sparkSession
    live = cross_component_edges(e, labels)
    q = (
        live.select(
            F.least("cs", "cd").alias("a"),
            F.greatest("cs", "cd").alias("b"),
            F.struct("w", "src", "dst").alias("m"),
        )
        .groupBy("a", "b")
        .agg(F.min("m").alias("m"))
        .select("a", "b", "m.w", "m.src", "m.dst")
    )
    pdf = q.toPandas().sort_values(["w", "src", "dst"], kind="mergesort")
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    keep = []
    for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        keep.append(ra != rb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    chosen = pd.DataFrame(
        {
            c: pdf.loc[keep, c].to_numpy()
            for c in ("src", "dst", "w")
        }
    )
    # e's own schema (weights may be any integer-comparable type)
    return spark.createDataFrame(chosen, e.schema)


def cross_component_edges(e: DataFrame, labels: DataFrame) -> DataFrame:
    """Label both endpoints with their current component and keep only
    edges crossing components: (cs, cd, w, src, dst)."""
    ls = labels.select(F.col("vid").alias("src"), F.col("comp").alias("cs"))
    ld = labels.select(F.col("vid").alias("dst"), F.col("comp").alias("cd"))
    return e.join(ls, "src").join(ld, "dst").filter(F.col("cs") != F.col("cd"))


def nomination_lineage(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One Borůvka nomination as pure lineage: label both endpoints,
    keep cross-component edges, and let every component nominate its
    minimum outgoing edge under the strict total order (w, src, dst) —
    the determinism contract.  Returns (comp, w, src, dst, other).

    Exposed so tests/test_plan_regressions.py can pin the per-round
    plan (bounded exchanges, no cartesian product): the loop below
    runs exactly this lineage between localCheckpoints, so the pinned
    shape IS the per-round cost at any scale."""
    live = cross_component_edges(e, labels)
    sym = live.select(
        F.col("cs").alias("comp"), "w", "src", "dst", F.col("cd").alias("other")
    ).unionByName(
        live.select(
            F.col("cd").alias("comp"), "w", "src", "dst", F.col("cs").alias("other")
        )
    )
    win = Window.partitionBy("comp").orderBy("w", "src", "dst")
    return sym.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") == 1)


def rooted_nominations(sel: DataFrame) -> DataFrame:
    """Nomination rows (comp, other) → parent pointers (comp, p) with
    every 2-cycle broken at its smaller id.

    The nomination map is FUNCTIONAL (each live component nominates
    exactly one edge, and ``other`` is itself a live component), and
    under the strict total order (w, src, dst) every cycle has length
    exactly 2: around any nomination cycle the nominated edge orders
    are non-increasing, hence all equal, hence the same edge.  Rooting
    p(r) = r where p(p(r)) == r and r < p(r) therefore turns the
    pseudoforest into a forest whose roots are the mutual pairs'
    smaller ids.  Exposed uncheckpointed so the plan-regression
    suite can pin its shape (one self-join, no cartesian product)."""
    nom = sel.select("comp", F.col("other").alias("p"))
    return (
        nom.alias("a")
        .join(
            nom.select(F.col("comp").alias("p"), F.col("p").alias("pp")),
            "p",
        )
        .select(
            "comp",
            F.when(
                (F.col("pp") == F.col("comp")) & (F.col("comp") < F.col("p")),
                F.col("comp"),
            )
            .otherwise(F.col("p"))
            .alias("p"),
        )
    )


def contract_nominations(sel: DataFrame, max_rounds: int = 40) -> DataFrame:
    """(comp, …, other) nominations → (comp, newc) merged-component
    representatives via pointer doubling over the rooted nomination
    forest: p ← p∘p until fixpoint, O(log depth) rounds of one
    self-join each.  The representative is the mutual pair's smaller
    id — NOT necessarily the min comp id of the merged component, which
    is fine: nomination in the next Borůvka round partitions by the
    label and selects the min outgoing edge per *partition class*, a
    choice invariant under renaming the class (tests/test_msf.py pins
    forest == Kruskal either way).  This replaces a full min-label CC
    run per Borůvka round (O(chain-depth) rounds each, with its own
    persist/count preamble) with O(log depth) cheap rounds.

    Per-jump ``persist`` + count (instead of localCheckpoint) is a
    CORRECTNESS-OF-PLANNING requirement, not a caching nicety: a
    self-join SQUARES Catalyst's sizeInBytes estimate, and
    localCheckpoint PRESERVES the source plan's statistics through the
    LogicalRDD — so a checkpointed jump loop doubles the estimate's
    BigInteger bit-length every iteration until the driver spends
    minutes in BigInteger.multiply during planning (measured: round-3
    planning alone exceeded 100 s on a 2 000-vertex graph).  A
    materialized InMemoryRelation instead reports the REAL cached
    size, resetting the estimate every jump; lineage is truncated with
    an eager localCheckpoint every few jumps (its stale stats are
    immediately overlaid by the next persist)."""
    handles: list[DataFrame] = []

    def _pin(df: DataFrame) -> DataFrame:
        cached = df.persist()
        handles.append(cached)
        return cached

    # par's cache materializes as a dependency of jump0's count; its
    # one-join stats (2×bits(sel)) are bounded, so no eager count needed
    par = _pin(rooted_nominations(sel))
    for j in range(max_rounds):
        jumped = _pin(
            par.alias("a")
            .join(
                par.select(F.col("comp").alias("p"), F.col("p").alias("np")),
                "p",
            )
            .select("comp", F.col("np").alias("p"), F.col("p").alias("_prev"))
        )
        # one job: materializes jumped's cache AND counts convergence
        changed = jumped.filter(F.col("p") != F.col("_prev")).count()
        par = jumped.drop("_prev")
        if changed == 0:
            break
        if (j + 1) % 8 == 0:  # bound the logical-plan tree depth
            par = _pin(par.localCheckpoint(eager=True))
    else:
        raise RuntimeError(
            f"contract_nominations did not converge in {max_rounds} rounds"
        )
    out = par.select("comp", F.col("p").alias("newc")).localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out
