"""The benchmark's workloads: inputs, timed passes and correctness checks.

Each workload has three phases:

- ``prepare_inputs`` (set-up): generate the seeded corpus, write it to
  parquet and precompute every oracle;
- ``build`` and ``warm_up`` (set-up, once): state the timed part starts
  from, and a small run of the pass's code so the JVM has compiled it;
- ``run_pass`` (timed): the user-visible work, returning step seconds and
  the outputs that ``verify`` then compares with the oracles.

Spans go around every call into an engine module; with the untraced
``NullTracer`` they cost nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import host
import oracles
from citation_graph_spark.extraction import build_edges, extract_references
from citation_graph_spark.fixtures.corpus import expected_references, generate_documents
from citation_graph_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_counts,
)
from citation_graph_spark.graph.ids import build_vertices
from citation_graph_spark.streaming.incremental import (
    ingest_reference_stream,
    refresh_pagerank,
    resolve_edges,
)

REFRESH_TOL = 1e-8  # refresh_pagerank's default; the refresh converges to it
LPA_ITER = 10
CKPT_INTERVAL = 5
CKPT_MAX_ITER = 10


@dataclass
class Checks:
    """Counts engine operations and oracle checks; remembers failures."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(name)


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    nproc: int
    checks: Checks = field(default_factory=Checks)
    # per-layer counts the traced run reports, keyed "<layer>.<name>"
    counters: defaultdict = field(default_factory=lambda: defaultdict(float))
    # per-round records of every pagerank call the traced run made
    pagerank_rounds: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------- inputs


def write_docs(
    pdf: pd.DataFrame, out_dir: str, n_files: int, prefix: str = "part"
) -> None:
    """Write documents as ``n_files`` parquet files (one scan task each)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{prefix}-{i:04d}.parquet"))


def pad_documents(pdf: pd.DataFrame, seed: int, pad_bytes: int) -> pd.DataFrame:
    """Append seeded code lines to every document until it is about
    ``pad_bytes`` long. Each line carries a quoted literal that names no
    module, so extraction reads it and resolution drops it."""
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    pool = np.array(
        [
            f'    emit(buf, "pad/{h:08x}/{k}", {k});  // tmp {h % 997}\n'
            for k, h in enumerate(rng.integers(0, 2**32, 512))
        ]
    )
    per_doc = max(1, pad_bytes // int(np.mean([len(s) for s in pool])))
    picks = rng.integers(0, len(pool), (len(pdf), per_doc))
    out = pdf.copy()
    out["content"] = [c + "".join(pool[row]) for c, row in zip(pdf["content"], picks)]
    return out


@dataclass
class Graph:
    """The oracle's view of a corpus: dense vids in (repo, path) order,
    resolved edges from ``expected_references`` and content hashes."""

    paths: np.ndarray
    repos: np.ndarray
    sha: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray

    @property
    def n(self) -> int:
        return len(self.paths)


def oracle_graph(docs: pd.DataFrame) -> Graph:
    order = docs.sort_values(["repo", "path"]).reset_index(drop=True)
    vid_of_path = pd.Series(np.arange(len(order)), index=order["path"].to_numpy())
    module_keys = order["path"].str.rsplit(".", n=1).str[0].to_numpy()
    vid_of_key = pd.Series(np.arange(len(order)), index=module_keys)
    refs = expected_references(docs)
    src = vid_of_path.loc[refs["src_path"]].to_numpy(np.int64)
    dst = vid_of_key.loc[refs["dst_key"]].to_numpy(np.int64)
    keep = src != dst
    sha = np.array(
        [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in order["content"]]
    )
    return Graph(
        paths=order["path"].to_numpy(),
        repos=order["repo"].to_numpy(),
        sha=sha,
        src=src[keep],
        dst=dst[keep],
        weight=refs["n_refs"].to_numpy(np.float64)[keep],
    )


def graph_facts(g: Graph, docs: pd.DataFrame, wedges: int | None = None) -> dict:
    if wedges is None:
        wedges = oracles.triangles(g.n, g.src, g.dst)[1]
    und = oracles.undirected_pairs(g.src, g.dst)
    deg = np.bincount(und[:, 0], minlength=g.n)
    return {
        "documents": int(len(docs)),
        "content_bytes": int(docs["content"].str.len().sum()),
        "edges": int(len(g.src)),
        "max_degree": int(deg.max()) if g.n else 0,
        "wedges": int(wedges),
    }


# ---------------------------------------------------------------- checks


def check_vertices(ctx: Context, verts: pd.DataFrame, g: Graph, tag: str) -> None:
    v = verts.sort_values("vid")
    ctx.checks.check(
        f"{tag}: dense vids in (repo, path) order",
        np.array_equal(v["vid"].to_numpy(), np.arange(g.n))
        and np.array_equal(v["path"].to_numpy(), g.paths)
        and np.array_equal(v["repo"].to_numpy(), g.repos),
    )
    ctx.checks.check(
        f"{tag}: content_sha256 equals the source content's sha256",
        np.array_equal(v["content_sha256"].to_numpy(), g.sha),
    )


def check_edges(ctx: Context, edges: pd.DataFrame, g: Graph, tag: str) -> None:
    got = edges.sort_values(["src", "dst"])
    want = pd.DataFrame({"src": g.src, "dst": g.dst, "weight": g.weight}).sort_values(
        ["src", "dst"]
    )
    ctx.checks.check(
        f"{tag}: edges equal expected_references",
        len(got) == len(want)
        and all(
            np.array_equal(got[c].to_numpy(), want[c].to_numpy())
            for c in ("src", "dst", "weight")
        ),
    )


def check_scores(
    ctx: Context, scores: pd.DataFrame, want: np.ndarray, tag: str
) -> None:
    s = scores.sort_values("vid")
    ok = np.array_equal(s["vid"].to_numpy(), np.arange(len(want))) and np.allclose(
        s["score"].to_numpy(), want, rtol=0.0, atol=1e-6
    )
    ctx.checks.check(f"{tag}: allclose to numpy power iteration (1e-6)", ok)


def check_exact(
    ctx: Context, got: pd.DataFrame, col: str, want: np.ndarray, tag: str
) -> None:
    s = got.sort_values("vid")
    ctx.checks.check(
        f"{tag}: equals oracle",
        np.array_equal(s["vid"].to_numpy(), np.arange(len(want)))
        and np.array_equal(s[col].to_numpy(), want),
    )


def rounds_of(log: list[dict]) -> list[dict]:
    """The per-round records of a kernel's metrics log (not its summary)."""
    return [r for r in log if r.get("iteration", -1) >= 0 and "wall_s" in r]


def kernel_log(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


def reset(path: str) -> str:
    """Remove a previous file or directory at ``path``; return ``path``."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    return path


class Window:
    """The timed part of a pass: wall seconds, and CPU seconds of this
    process and the Spark processes below it."""

    def __init__(self):
        self.t0, self.cpu0 = time.perf_counter(), host.cpu_seconds()

    def lap(self) -> float:
        return time.perf_counter() - self.t0

    def close(self) -> dict:
        return {"wall_s": self.lap(), "cpu_s": host.cpu_seconds() - self.cpu0}


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def count_extraction(ctx: Context, refs: int, edges: pd.DataFrame) -> None:
    """Traced runs, outside the timed window: extracted reference rows,
    resolved edges and the reference multiplicity those edges carry."""
    c = ctx.counters
    c["extraction.refs"] += refs
    c["extraction.edges"] += len(edges)
    c["extraction.resolved"] += float(edges["weight"].sum())


# ---------------------------------------------------------------- ingest


class Ingest:
    name = "ingest"
    why = (
        "padded documents: extraction and id assignment do the work, the "
        "graph kernels none, so a kernel change should not move it"
    )
    step_names = ("ids_s", "edges_s")

    def __init__(self, tiny: bool):
        self.n_docs = 400 if tiny else 6000
        self.pad_bytes = 4096
        self.max_passes = 20

    def prepare_inputs(self, ctx: Context) -> None:
        pdf = pad_documents(
            generate_documents(self.n_docs, ctx.seed), ctx.seed, self.pad_bytes
        )
        write_docs(pdf, reset(ctx.path("docs")), 2 * ctx.nproc)
        self.graph = oracle_graph(pdf)
        self.facts = graph_facts(self.graph, pdf)

    def build(self, ctx: Context) -> None:
        pass

    def warm_up(self, ctx: Context) -> None:
        docs = ctx.spark.createDataFrame(generate_documents(64, ctx.seed))
        verts = build_vertices(docs).cache()
        build_edges(docs, verts).write.parquet(reset(ctx.path("warm_edges")))
        verts.unpersist()

    def run_pass(self, ctx: Context, k: int) -> tuple[dict, dict]:
        tr, spark = ctx.tracer, ctx.spark
        out_dir = reset(ctx.path(f"edges_{k}"))
        window = Window()
        docs = spark.read.parquet(ctx.path("docs"))
        with tr.span("ids", "build_vertices"):
            verts = build_vertices(docs).persist()
            verts.count()
        t_ids = window.lap()
        with tr.span("extraction", "build_edges"):
            edges = build_edges(docs, verts).persist()
            edges.count()
        with tr.span("extraction", "write"):
            edges.write.parquet(out_dir)
        timed_part = window.close()
        ctx.checks.op(2)
        edges.unpersist()
        outputs = {
            "verts": verts.toPandas(),
            "edges": spark.read.parquet(out_dir).toPandas(),
        }
        verts.unpersist()
        if tr.enabled:
            refs = extract_references(docs).count()
            count_extraction(ctx, refs, outputs["edges"])
        edges_s = timed_part["wall_s"] - t_ids
        return {**timed_part, "ids_s": t_ids, "edges_s": edges_s}, outputs

    def verify(self, ctx: Context, k: int, out: dict) -> None:
        check_vertices(ctx, out["verts"], self.graph, "ingest")
        check_edges(ctx, out["edges"], self.graph, "ingest")

    def headline(self, med: dict) -> dict:
        steps = {k: med[k] for k in self.step_names}
        return {"ingest_docs_per_s": self.n_docs / med["wall_s"], **steps}


# ---------------------------------------------------------------- analytics


class Analytics:
    name = "analytics"
    why = (
        "power-law corpus graph, edges cached once: components, label "
        "propagation and the triangle wedge join do the work; no extraction"
    )
    step_names = ("components_s", "lpa_s", "triangles_s")

    def __init__(self, tiny: bool):
        self.n_docs = 200 if tiny else 1500
        self.max_passes = 20

    def prepare_inputs(self, ctx: Context) -> None:
        pdf = generate_documents(self.n_docs, ctx.seed)
        g = oracle_graph(pdf)
        # the resolved graph as the engine's extraction writes it (the
        # refresh workload checks that stage against the same oracle)
        pq.write_table(
            pa.table({"src": g.src, "dst": g.dst, "weight": g.weight}),
            reset(ctx.path("edges.parquet")),
        )
        pq.write_table(
            pa.table({"vid": np.arange(g.n)}), reset(ctx.path("vertices.parquet"))
        )
        self.want_cc = oracles.components(g.n, g.src, g.dst)
        self.want_lpa, _ = oracles.label_propagation(g.n, g.src, g.dst, LPA_ITER)
        self.want_tri, self.wedges = oracles.triangles(g.n, g.src, g.dst)
        self.facts = graph_facts(g, pdf, self.wedges)

    def build(self, ctx: Context) -> None:
        """Load the edge table once and cache it."""
        spark = ctx.spark
        self.verts = spark.read.parquet(ctx.path("vertices.parquet")).cache()
        self.verts.count()
        self.edges = spark.read.parquet(ctx.path("edges.parquet")).cache()
        self.edges.count()

    def warm_up(self, ctx: Context) -> None:
        """None: caching the edge table in ``build`` runs the session's first
        jobs, and a kernel warm-up costs set-up time the run budget lacks."""

    def run_pass(self, ctx: Context, k: int) -> tuple[dict, dict]:
        tr = ctx.tracer
        vv = self.verts.select("vid")
        cc_log = reset(ctx.path(f"cc_{k}.jsonl"))
        lpa_log = reset(ctx.path(f"lpa_{k}.jsonl"))
        window = Window()
        with tr.span("components"):
            cc, t_cc = timed(
                lambda: connected_components(
                    self.edges, vv, metrics_path=cc_log
                ).toPandas()
            )
        with tr.span("communities"):
            lpa, t_lpa = timed(
                lambda: label_propagation(
                    self.edges, vv, max_iter=LPA_ITER, metrics_path=lpa_log
                ).toPandas()
            )
        with tr.span("triangles"):
            tri, t_tri = timed(lambda: triangle_counts(self.edges, vv).toPandas())
        timed_part = window.close()
        ctx.checks.op(3)
        c = ctx.counters
        c["components.rounds"] += len(rounds_of(kernel_log(cc_log)))
        c["communities.rounds"] += len(rounds_of(kernel_log(lpa_log)))
        c["triangles.wedges"] += self.wedges
        c["triangles.triangles"] += int(tri["n_triangles"].sum()) // 3
        steps = {"components_s": t_cc, "lpa_s": t_lpa, "triangles_s": t_tri}
        out = {"cc": cc, "lpa": lpa, "tri": tri}
        return {**timed_part, **steps}, out

    def verify(self, ctx: Context, k: int, out: dict) -> None:
        check_exact(ctx, out["cc"], "component", self.want_cc, "components")
        check_exact(ctx, out["lpa"], "label", self.want_lpa, "label propagation")
        check_exact(ctx, out["tri"], "n_triangles", self.want_tri, "triangles")

    def headline(self, med: dict) -> dict:
        return {k: med[k] for k in self.step_names}


# ---------------------------------------------------------------- refresh


class Refresh:
    name = "refresh"
    why = (
        "small delta streamed onto a base corpus: warm-started PageRank, "
        "durable checkpoints and resume; per-batch costs over little data"
    )
    step_names = ("refresh_s", "checkpoint_s", "resume_s")

    def __init__(self, tiny: bool):
        self.n_base = 300 if tiny else 1500
        self.n_delta = 30 if tiny else 150
        # the delta lands once; a second pass would refresh a larger graph
        self.max_passes = 1

    def prepare_inputs(self, ctx: Context) -> None:
        pdf = generate_documents(self.n_base + self.n_delta, ctx.seed)
        base = pdf.iloc[: self.n_base]
        write_docs(base, reset(ctx.path("source")), ctx.nproc, prefix="base")
        delta = pdf.iloc[self.n_base :]
        write_docs(delta, reset(ctx.path("staged")), 2, prefix="delta")
        b = oracle_graph(base)
        ranks, _ = oracles.pagerank(b.n, b.src, b.dst, b.weight, tol=REFRESH_TOL)
        # converged scores of the base graph, keyed by path: vids shift as
        # the corpus grows, so prior scores travel by the stable key
        self.prior = pd.DataFrame({"path": b.paths, "score": ranks})
        g = self.graph = oracle_graph(pdf)
        init = pd.Series(g.paths).map(self.prior.set_index("path")["score"])

        def pr(**kw):
            return oracles.pagerank(g.n, g.src, g.dst, g.weight, **kw)

        self.want_cold, self.cold_rounds = pr(tol=REFRESH_TOL)
        self.want_warm = pr(tol=REFRESH_TOL, init=init.to_numpy(float))[0]
        self.want_partial = pr(tol=REFRESH_TOL, max_iter=CKPT_MAX_ITER)[0]
        self.facts = graph_facts(g, pdf)

    def build(self, ctx: Context) -> None:
        """Stream-ingest the base corpus, as the refreshes before this one did."""
        ctx.checks.op()
        ingest_reference_stream(
            ctx.spark,
            ctx.path("source"),
            reset(ctx.path("refs")),
            reset(ctx.path("stream_ckpt")),
        )

    def warm_up(self, ctx: Context) -> None:
        """Warm-started, checkpointed and resumed pagerank, capped at a few
        rounds on a tiny graph (the base build already ran the stream)."""
        spark = ctx.spark
        rng = np.random.default_rng(ctx.seed)
        pairs = rng.integers(0, 64, (256, 2))
        edges = spark.createDataFrame(
            pd.DataFrame({"src": pairs[:, 0], "dst": pairs[:, 1], "weight": 1.0})
        ).cache()
        vv = spark.range(64).withColumnRenamed("id", "vid")
        prior = vv.select("vid", F.lit(1.0 / 64).alias("score"))
        ck = reset(ctx.path("warm_pr_ckpt"))
        pagerank(edges, vv, max_iter=2, init_ranks=prior, checkpoint_dir=ck,
                 checkpoint_interval=1).count()
        pagerank(edges, vv, checkpoint_dir=ck, resume=True, max_iter=3).count()
        edges.unpersist()

    def run_pass(self, ctx: Context, k: int) -> tuple[dict, dict]:
        spark, tr = ctx.spark, ctx.tracer
        logs = {
            n: reset(ctx.path(f"{n}_{k}.jsonl")) for n in ("refresh", "ckpt", "resume")
        }
        ckpt_dir = reset(ctx.path(f"pr_ckpt_{k}"))
        # the delta lands: new parquet files appear in the watched directory
        for f in sorted(os.listdir(ctx.path("staged"))):
            os.replace(ctx.path("staged", f), ctx.path("source", f))
        window = Window()
        with tr.span("incremental", "ingest_reference_stream") as s_ing:
            ingest_reference_stream(
                spark, ctx.path("source"), ctx.path("refs"), ctx.path("stream_ckpt")
            )
        with tr.span("ids", "build_vertices"):
            verts = build_vertices(spark.read.parquet(ctx.path("source"))).cache()
            verts.count()
        with tr.span("incremental", "resolve_edges"):
            edges = resolve_edges(spark, ctx.path("refs"), verts).cache()
            edges.count()
        vv = verts.select("vid")
        prior = spark.createDataFrame(self.prior).join(
            verts.select("vid", "path"), "path"
        )
        with tr.span("incremental", "refresh_pagerank"):
            warm = refresh_pagerank(
                edges, vv, prior_scores=prior, metrics_path=logs["refresh"]
            ).toPandas()
        t_refresh = window.lap()
        with tr.span("pagerank", "pagerank checkpointed"):
            partial, t_ckpt = timed(
                lambda: pagerank(
                    edges,
                    vv,
                    checkpoint_dir=ckpt_dir,
                    tol=REFRESH_TOL,
                    checkpoint_interval=CKPT_INTERVAL,
                    max_iter=CKPT_MAX_ITER,
                    metrics_path=logs["ckpt"],
                ).toPandas()
            )
        with tr.span("pagerank", "pagerank resume"):
            resumed, t_resume = timed(
                lambda: pagerank(
                    edges,
                    vv,
                    tol=REFRESH_TOL,
                    checkpoint_dir=ckpt_dir,
                    resume=True,
                    metrics_path=logs["resume"],
                ).toPandas()
            )
        timed_part = window.close()
        ctx.checks.op(6)
        out = {
            "verts": verts.toPandas(),
            "edges": edges.toPandas(),
            "warm": warm,
            "partial": partial,
            "resumed": resumed,
        }
        edges.unpersist()
        verts.unpersist()
        if tr.enabled:
            c = ctx.counters
            refs = spark.read.parquet(ctx.path("refs")).count()
            count_extraction(ctx, refs, out["edges"])
            c["incremental.ingest_s"] += s_ing["end"] - s_ing["start"]
            refresh_rounds = len(rounds_of(kernel_log(logs["refresh"])))
            c["incremental.refresh_rounds"] += refresh_rounds
            c["incremental.cold_rounds"] += self.cold_rounds
            for name in ("ckpt", "resume"):
                ctx.pagerank_rounds.extend(rounds_of(kernel_log(logs[name])))
        steps = {"refresh_s": t_refresh, "checkpoint_s": t_ckpt, "resume_s": t_resume}
        return {**timed_part, **steps}, out

    def verify(self, ctx: Context, k: int, out: dict) -> None:
        check_vertices(ctx, out["verts"], self.graph, "refresh")
        check_edges(ctx, out["edges"], self.graph, "refresh")
        check_scores(ctx, out["warm"], self.want_warm, "pagerank warm refresh")
        ctx.checks.check(
            "pagerank checkpointed run: equals as many numpy rounds (1e-9)",
            np.allclose(
                out["partial"].sort_values("vid")["score"].to_numpy(),
                self.want_partial,
                rtol=0.0,
                atol=1e-9,
            ),
        )
        check_scores(ctx, out["resumed"], self.want_cold, "pagerank resumed")

    def headline(self, med: dict) -> dict:
        return {k: med[k] for k in self.step_names}


WORKLOADS = {w.name: w for w in (Ingest, Analytics, Refresh)}
