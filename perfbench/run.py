"""Link-graph benchmark: ingest, analytics and refresh workloads.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Each run starts a ``local[nproc]`` Spark session, builds its seeded inputs
and oracles (set-up), then repeats the workload's pass until ``--seconds``
have passed (refresh's delta lands once, so it runs one pass), checking
every pass's outputs against the oracles. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (median pass wall and CPU
seconds, set-up time, peak RSS). ``--trace 1`` turns
the Spark UI on, records a span around every call into an engine module and
reports per-layer metrics instead; the spans and counters are written to
``perfbench/out/trace-<workload>-<seed>.json``. The line before the result
is a report with the workload's own step metrics, its size facts and the
host context.

``--tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument(
        "--workload", required=True, choices=["ingest", "analytics", "refresh"]
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    return p.parse_args(argv)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def start_session(nproc: int, traced: bool):
    from citation_graph_spark.session import get_spark
    from tracing import ui_conf

    conf = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        conf.update(ui_conf(free_port()))
    return get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def instrument_checkpointing(tracer, counters) -> None:
    """Traced runs only: spans and counts around CheckpointManager.save and
    .load, which pagerank reaches when given a checkpoint_dir.

    ``load`` reads only the manifest and the parquet schema; pagerank reads
    the checkpointed ranks in its next call, the eager ``localCheckpoint``
    of the loaded frame. That call is a span of the load too, and
    ``checkpointing.load_s`` covers both."""
    from pyspark.sql.classic.dataframe import DataFrame

    from citation_graph_spark.checkpointing import CheckpointManager

    save, load = CheckpointManager.save, CheckpointManager.load
    local_checkpoint = DataFrame.localCheckpoint
    unread = []  # loads whose data pagerank has not materialised yet

    def traced_save(self, df, iteration, meta=None):
        with tracer.span("checkpointing", "save"):
            path = save(self, df, iteration, meta)
        counters["checkpointing.saves"] += 1
        counters["checkpointing.bytes"] += sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
        )
        return path

    def traced_load(self, spark):
        with tracer.span("checkpointing", "load") as span:
            out = load(self, spark)
        counters["checkpointing.load_s"] += span["end"] - span["start"]
        if out is not None:
            unread.append(span)
        return out

    def traced_local_checkpoint(self, *args, **kwargs):
        if not unread:
            return local_checkpoint(self, *args, **kwargs)
        unread.pop()
        with tracer.span("checkpointing", "load: materialise") as span:
            out = local_checkpoint(self, *args, **kwargs)
        counters["checkpointing.load_s"] += span["end"] - span["start"]
        return out

    CheckpointManager.save, CheckpointManager.load = traced_save, traced_load
    DataFrame.localCheckpoint = traced_local_checkpoint


def median_steps(passes: list[dict]) -> dict:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def per_layer(ctx, tracer, trace_wall: float, session_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    from tracing import LAYERS, SPARK_COUNTERS

    c, self_s = ctx.counters, tracer.self_seconds()
    rounds = ctx.pagerank_rounds
    round_wall = sum(r["wall_s"] for r in rounds)
    m = {
        "session.start_s": session_s,
        "trace.wall_s": trace_wall,
        "ids.busy_s": self_s["ids"],
        "extraction.refs": c["extraction.refs"],
        "extraction.edges": c["extraction.edges"],
        "extraction.resolved_ratio": (
            c["extraction.resolved"] / c["extraction.refs"]
            if c["extraction.refs"]
            else 0.0
        ),
        "pagerank.busy_s": self_s["pagerank"],
        "pagerank.rounds": len(rounds),
        "pagerank.round_s_p50": (
            statistics.median(r["wall_s"] for r in rounds) if rounds else 0.0
        ),
        "pagerank.edge_rounds_per_s": (
            sum(r["edges"] for r in rounds) / round_wall if round_wall else 0.0
        ),
        "components.busy_s": self_s["components"],
        "components.rounds": c["components.rounds"],
        "communities.busy_s": self_s["communities"],
        "communities.rounds": c["communities.rounds"],
        "triangles.busy_s": self_s["triangles"],
        "triangles.wedges": c["triangles.wedges"],
        "triangles.triangles": c["triangles.triangles"],
        "checkpointing.saves": c["checkpointing.saves"],
        "checkpointing.bytes": c["checkpointing.bytes"],
        "checkpointing.load_s": c["checkpointing.load_s"],
        "incremental.ingest_s": c["incremental.ingest_s"],
        "incremental.refresh_rounds": c["incremental.refresh_rounds"],
        "incremental.warm_over_cold_rounds": (
            c["incremental.refresh_rounds"] / c["incremental.cold_rounds"]
            if c["incremental.cold_rounds"]
            else 0.0
        ),
    }
    counters = tracer.layer_counters()
    # starting the session runs no Spark job, and the gated workloads call
    # extraction only inside the incremental layer
    for layer in LAYERS:
        if layer in ("session", "extraction"):
            continue
        for name in SPARK_COUNTERS:
            m[f"{layer}.{name}"] = counters[layer][name]
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "citation_graph_spark")):
        print(f"perfbench: no citation_graph_spark under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import host
    from tracing import NullTracer, Tracer

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    n = host.nproc()
    # Spark and its Python workers inherit these: the package on the path,
    # and every temporary and shuffle file inside this checkout (the engine
    # defaults to /dev/shm and /tmp); the JVM flags are the engine's default
    # plus the temporary directory. The heap is capped at 2g, not the
    # engine's 8g: under 8g the JVM grows its heap on a schedule of its own
    # and peak RSS wandered by a third between runs of the same work.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-XX:+UseParallelGC -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    host_ctx = {"nproc": n, "membw_mb_s": host.membw_probe()}

    spark = None
    try:
        import workloads as wl

        tracer = Tracer() if args.trace else NullTracer()
        t0 = time.perf_counter()
        with tracer.span("session", "get_spark"):
            spark = start_session(n, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        ctx = wl.Context(
            spark=spark, tracer=NullTracer(), work=work, seed=args.seed, nproc=n
        )
        w = wl.WORKLOADS[args.workload](args.tiny)

        setup = {"session_s": session_s}
        for phase in ("prepare_inputs", "build", "warm_up"):
            t = time.perf_counter()
            getattr(w, phase)(ctx)
            setup[f"{phase}_s"] = time.perf_counter() - t
        setup_s = sum(setup.values())

        if args.trace:
            instrument_checkpointing(tracer, ctx.counters)
        ctx.tracer = tracer
        passes = []
        t_window = time.perf_counter()
        while True:
            k = len(passes)
            steps, out = w.run_pass(ctx, k)
            w.verify(ctx, k, out)
            passes.append(steps)
            elapsed = time.perf_counter() - t_window
            if elapsed >= args.seconds or len(passes) >= w.max_passes:
                break
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = host.peak_rss_mb(jvm_pid)

        med = median_steps(passes)
        checks = ctx.checks
        report = {
            "workload": w.name,
            "why": w.why,
            "seed": args.seed,
            "passes": len(passes),
            "sizes": w.facts,
            "host": host_ctx,
            "setup": setup,
            "metrics": {
                **w.headline(med),
                "wall_s": med["wall_s"],
                "cpu_s": med["cpu_s"],
                "setup_s": setup_s,
                "peak_rss_mb": rss,
                "failed_ratio": len(checks.failures) / checks.attempted,
            },
            "failures": checks.failures,
        }
        if args.trace:
            metrics = per_layer(ctx, tracer, med["wall_s"], session_s)
            report["trace_overhead_s"] = trace_overhead(w.name, med["wall_s"])
            tracer.dump(os.path.join(OUT, f"trace-{w.name}-{args.seed}.json"), metrics)
        else:
            metrics = {
                "wall_s": med["wall_s"],
                "cpu_s": med["cpu_s"],
                "setup_s": setup_s,
                "peak_rss_mb": rss,
            }
            if not args.tiny:
                with open(os.path.join(OUT, "untraced.jsonl"), "a") as f:
                    rec = {"workload": w.name, "wall_s": med["wall_s"]}
                    f.write(json.dumps(rec) + "\n")
        print(json.dumps({"report": report}), flush=True)
        result = {
            "correct": not checks.failures,
            "attempted": checks.attempted,
            "failed": len(checks.failures),
            "metrics": {
                k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
            },
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def trace_overhead(workload: str, traced_wall: float) -> float | None:
    """Traced minus untraced ``wall_s``, against the median of the untraced
    runs of this workload recorded in this checkout (None if there are none)."""
    path = os.path.join(OUT, "untraced.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [json.loads(line) for line in f]
    walls = [r["wall_s"] for r in walls if r["workload"] == workload]
    return traced_wall - statistics.median(walls) if walls else None


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_s") or "_s_" in last:
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last == "bytes":
        return "B"
    if last.endswith("ratio") or last.startswith("warm_over"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
