"""SparkSession factory and the one execution policy of the graph kernels.

Single place where engine-relevant Spark configuration lives so tests,
bench harness and spark-submit entry points agree. Session defaults are
tuned for correctness-at-scale first:

- AQE on (runtime re-planning, skew-join splitting) — power-law vertex
  degree is a first-class concern for link graphs.
- Arrow transport on for every pandas UDF (the extraction stage is a
  vectorized pandas UDF; per-row Python is banned by design).
- shuffle partitions sized to the parallelism level, not the 200
  default.
- the driver's young generation fixed at its ceiling from the start,
  so its resident memory follows the work, not the garbage
  collector's history (see ``get_spark``).

Every graph kernel runs under ``@kernel``, which owns the kernel policy:

- AQE is off for the kernel's duration. AQE re-plans every stage at
  runtime; on a fixpoint loop that is a per-round scheduling tax with
  nothing to re-plan (both join sides are cached with known sizes,
  partitioning is pinned by the kernel). Measured: 13% per-round win on
  the 346k-edge bench graph, and a triangle count over a cached
  200-vertex edge table ran 134 Spark jobs under AQE against 3 without.
- The kernel sets its shuffle width once, when it knows its size, so
  every groupBy/join inside its rounds shuffles at its own
  data-proportional width instead of paying a session-width task launch
  per tiny shuffle and an extra exchange per misaligned join. One rule,
  ``size_kernel``, sizes every kernel: one task per 50k rows, at least
  4, at most the session's width, because per-task overhead, not
  per-row work, dominates small rounds. ``pagerank(num_partitions=)``
  is the one explicit width, for scaling jobs that pin it.
- A kernel that joins its edge set every round caches it once through
  ``kernel_edges``: count, set the width from that count, hash-partition
  on the join key at that width, cache, and release the unpartitioned
  copy. Rounds that join vertex state partitioned on the same key at the
  same width then need no exchange on the edge side.
- The scope restores AQE and the width on return, on exception and
  when kernels nest; ``session_width`` stays the session's own value
  inside any kernel.
- The scope owns what the kernel cached and its result. A kernel
  caches through ``kernel_edges`` or ``kernel_cache``, which register
  what they persist with the open scope; a frame already cached (a
  caller's) is used as it is and never released. When the kernel
  returns a DataFrame whose optimized plan holds any node but
  ``Project``, ``Filter``, ``Union``, ``LogicalRDD`` or
  ``LocalRelation``, the scope ``localCheckpoint``s it eagerly, so the
  caller never re-runs the kernel's joins. Then, as on an exception, it
  unpersists what this scope registered. ``kernel_release`` frees a
  setup cache before the rounds.
- A kernel whose live graph shrinks (components, SCC, coloring,
  matching, Borůvka MSF) collects it and finishes on the driver once
  ``finish_locally`` says the rows it would collect are few enough.
  Each tail round is a whole Spark job over kilobytes, and per-job
  overhead, not per-row work, dominates such rounds; this is the
  "filtering" endgame of the MapReduce graph literature (Lattanzi et
  al., SPAA'11: shrink distributedly, finish locally once the live
  graph fits one machine). The driver replays the same algorithm, so
  the result is identical either way. 500k rows is a few MB through
  Arrow, safe for any driver.
"""

from __future__ import annotations

import functools
import os
import re
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_AQE = "spark.sql.adaptive.enabled"
_WIDTH = "spark.sql.shuffle.partitions"
# plan nodes that read rows already computed: a result made only of
# these is materialized
_MATERIALIZED = {"Project", "Filter", "Union", "LogicalRDD", "LocalRelation"}
# a kernel finishes on the driver below this many collected rows
_DRIVER_ROWS = 500_000


@dataclass
class _Scope:
    conf: dict[str, str]  # the confs to restore on exit
    cached: list[DataFrame] = field(default_factory=list)


# kernel scopes open now, outermost first; the confs are session-wide,
# so kernels on one session run one at a time
_open_scopes: list[_Scope] = []


@contextmanager
def kernel_scope(spark: SparkSession):
    """AQE off until exit; on exit AQE and the shuffle width are
    restored and the frames cached in this scope released. Used alone
    (as the plan audits do), it materializes nothing."""
    scope = _Scope({k: spark.conf.get(k) for k in (_AQE, _WIDTH)})
    _open_scopes.append(scope)
    spark.conf.set(_AQE, "false")
    try:
        yield
    finally:
        _open_scopes.pop()
        for k, v in scope.conf.items():
            spark.conf.set(k, v)
        for df in scope.cached:
            df.unpersist()


def kernel(fn):
    """Run ``fn`` under ``kernel_scope`` of the session of its first
    DataFrame argument and materialize a DataFrame it returns before the
    scope releases its caches (see the module docstring for the policy)."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        frame = next(
            a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)
        )
        with kernel_scope(frame.sparkSession):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame) and not _materialized(out):
                out = out.localCheckpoint(eager=True)
            return out

    return scoped


def _materialized(df: DataFrame) -> bool:
    """Whether ``df``'s optimized plan only reads computed rows."""
    plans = [df._jdf.queryExecution().optimizedPlan()]
    while plans:
        plan = plans.pop()
        if plan.nodeName() not in _MATERIALIZED:
            return False
        children = plan.children()
        plans.extend(children.apply(i) for i in range(children.size()))
    return True


def kernel_cache(df: DataFrame) -> DataFrame:
    """``df``, cached until the running kernel's scope exits. A frame
    cached already (a caller's) is neither persisted nor registered.
    Registering before any action means a count that raises leaves no
    cache behind."""
    if df.storageLevel == StorageLevel.NONE:
        _open_scopes[-1].cached.append(df.persist())
    return df


def kernel_release(df: DataFrame) -> None:
    """Release ``df`` before the kernel returns, if the running kernel
    cached it; a caller's frame is left alone."""
    if any(df is own for own in _open_scopes[-1].cached):
        df.unpersist()


def set_kernel_width(spark: SparkSession, width: int) -> None:
    """Set the running kernel's shuffle width; its scope restores it."""
    if not _open_scopes:
        raise RuntimeError("set_kernel_width called outside a kernel scope")
    spark.conf.set(_WIDTH, str(width))


def size_kernel(spark: SparkSession, n_rows: int, width: int | None = None) -> int:
    """Set the running kernel's shuffle width for ``n_rows`` rows (or to
    an explicit ``width``) and return it.

    A fixed ``spark.sql.shuffle.partitions`` is wrong at both ends: a
    20k-edge fixture graph over 32 partitions pays 32 task launches per
    round for microseconds of work each, while a 10^11-edge graph needs
    far more than the session default. So: one task per 50k rows, at
    least 4, capped at the session's width (the cluster's parallelism;
    not a running kernel's width)."""
    if width is None:
        width = max(4, min(session_width(spark), n_rows // 50_000 + 1))
    set_kernel_width(spark, width)
    return width


def kernel_edges(
    edges: DataFrame, key: str, n_rows: int | None = None
) -> tuple[DataFrame, int, int]:
    """``(cached, n_rows, width)``: the kernel's edge set cached once,
    hash-partitioned on ``key`` at the width ``size_kernel`` sets from
    its row count.

    ``edges`` is a lineage the kernel derived; it is cached and counted
    here, so the lineage runs once, and released once the partitioned
    copy is cached. A kernel that must count before it decides to
    partition at all passes its own ``kernel_cache`` with ``n_rows``.
    The scope releases ``cached``."""
    if n_rows is None:
        edges = kernel_cache(edges)
        n_rows = edges.count()
    width = size_kernel(edges.sparkSession, n_rows)
    cached = kernel_cache(edges.repartition(width, key))
    cached.count()
    kernel_release(edges)
    return cached, n_rows, width


def finish_locally(n_rows: int) -> bool:
    """Whether a kernel collects ``n_rows`` rows to finish on the driver
    (see the module docstring). Setting ``_DRIVER_ROWS`` to 0 sends every
    kernel through its distributed rounds."""
    return n_rows < _DRIVER_ROWS


def session_width(spark: SparkSession) -> int:
    """The session's shuffle width, not the width of a running kernel."""
    if _open_scopes:
        return int(_open_scopes[0].conf[_WIDTH])
    return int(spark.conf.get(_WIDTH))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _young_generation_mb(mem: str) -> int:
    """A third of a heap of ``mem`` (a Spark size such as "8g"; no unit
    means MiB), in MiB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        raise ValueError(f"unrecognised driver memory size: {mem!r}")
    mib = {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024**2}[m[2]]
    return int(int(m[1]) * mib) // 3


def get_spark(
    app_name: str = "citation-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    under ``spark-submit --py-files`` on a real cluster the master is
    inherited from the launch environment and ``master=None`` leaves it
    alone.
    """
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # The young generation is fixed at a third of the heap, ParallelGC's
    # own ceiling for it. Left to ParallelGC, it starts small and grows
    # from the collector's GC-time history, so a short job's peak RSS
    # depended on how many collections it happened to run: ten runs of
    # perfbench's analytics workload (2g heap, 4-core host) peaked at
    # 0.90-1.21 GB (interquartile range 152 MB); fourteen with the young
    # generation fixed peaked at 1.10-1.21 GB (IQR 54 MB). The old
    # generation still grows on demand, so a long-lived driver's RSS
    # follows its live data.
    # Nothing is pre-touched: on a host where pre-touched pages were
    # reclaimed behind the guest's back, first real writes re-faulted
    # through a slow path mid-job (an A/B, bench_out/extract_ab_jvm.json,
    # put the 32-thread extraction stage at 66-109 s with
    # -Xms24g+AlwaysPreTouch vs 18-19 s without). SPARK_GRAFT_JVM_OPTS
    # replaces the collector flag and comes after -Xmn, so it can
    # override the young generation too.
    java_opts = f"-Xmn{_young_generation_mb(mem)}m " + os.environ.get(
        "SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalescing collapses post-shuffle partitions to a 64MB
        # byte target that doesn't model Arrow/Python stage cost —
        # measured 2.9x extraction slowdown (86s -> 30s on the 300k-doc
        # corpus). Skew-join and runtime re-planning stay on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # iterative kernels re-join the same cached sides every round;
        # hash join skips SMJ's per-round re-sort of 10^7-row inputs
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
