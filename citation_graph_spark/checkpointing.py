"""Checkpoint and resume protocol for the iterative kernels.

Spark analog of the reference's file-based resume machinery
(src/citations/data_sources/utils.py:23-121 ``load_authors_state`` +
:234-269 ``save_checkpoint``; embed/openai.py:255-280 skip-done): a
killed job relaunches, reads the newest manifest and continues from
that iteration, and its final result is identical to an uninterrupted
run (north rule: "resumable from any checkpoint with per-partition
lineage and iteration metrics").

Two truncation mechanisms, used together:
- ``localCheckpoint(eager=True)`` every iteration cuts the logical plan
  so it does not grow O(iterations) (Catalyst has no fixpoint operator;
  unbounded lineage is the classic iterative-Spark failure).
- a durable parquet snapshot every ``interval`` rounds survives process
  death and enables resume.

A resumable kernel knows only its state's columns and key, and when it
is done. It gets its checkpoints from ``checkpoints(...)``:

    ckpt = checkpoints(checkpoint_dir, "pagerank", edge_count=n,
                       interval=checkpoint_interval, resume=resume,
                       params={"alpha": alpha, "tol": tol})
    state, start, meta = ckpt.restore(spark, width)
    ...
    for it in range(start + 1, max_iter + 1):
        ...
        ckpt.end_round(state, it, max_iter, done=converged)

Without a ``checkpoint_dir`` that is ``NO_CHECKPOINTS``: ``restore``
returns ``(None, 0, {})`` and ``end_round`` saves nothing. Everything
else lives in ``CheckpointManager``:

- Restore: with ``resume`` set, load the newest manifest and return its
  state repartitioned on ``key`` at the kernel's width and eagerly
  ``localCheckpoint``ed, the iteration to continue from, and the saved
  meta. A kernel that converges returns at once when ``meta["done"]``;
  a kernel with a fixed round count when the start iteration reaches
  its budget.
- When to save: after every ``interval``-th round and after the last
  one (``done``, or ``max_iter`` reached). A kernel calls ``end_round``
  once per round, so no iteration is saved twice. ``meta["done"]`` is
  the kernel's converged flag; kernels with a fixed round count never
  set it.
- Manifest ``<root>/<kernel>/manifest.json``, published atomically
  through ``manifest.json.tmp``. Fields: ``format`` (``FORMAT``),
  ``iteration``, ``edge_count`` (the edge count the kernel had before
  it resumed), ``params`` (the kernel parameters its state depends on:
  pagerank ``alpha`` and ``tol``, katz ``alpha`` and ``beta``,
  hyperball ``log2m``), ``path`` (the snapshot directory) and
  ``meta``. ``load`` refuses, with a logged reason, a manifest whose
  ``format``, ``edge_count`` or ``params`` differ from this run's or
  are missing, or whose snapshot is gone; the kernel then starts cold.
  Pagerank records ``tol`` because its done flag depends on it: a
  manifest converged at a looser tolerance is not done at a stricter
  one.
- Snapshots ``iter_<iteration>_<suffix>``: every save writes a new
  directory, so no save overwrites the snapshot the manifest names.
  Retention keeps the manifest's snapshot and the one it replaced and
  deletes every other ``iter_*`` directory, torn ones included.

``CheckpointManager.save(df, iteration, meta=None) -> path`` and
``CheckpointManager.load(spark) -> (df, manifest) | None`` keep these
signatures and are called through ``self``: the benchmark's traced runs
patch them on the class, and count the first ``localCheckpoint`` after
a successful ``load`` as the loaded frame's materialization.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

FORMAT = 3

log = logging.getLogger(__name__)


class NoCheckpoints:
    """A kernel run without a ``checkpoint_dir``: nothing to restore,
    nothing saved."""

    def restore(self, spark: SparkSession, width: int, key: str | None = "vid"):
        return None, 0, {}

    def end_round(
        self, df: DataFrame, iteration: int, max_iter: int, done: bool = False
    ):
        return None


NO_CHECKPOINTS = NoCheckpoints()


def checkpoints(
    checkpoint_dir: str | None,
    kernel: str,
    edge_count: int,
    interval: int,
    resume: bool,
    params: dict | None = None,
) -> CheckpointManager | NoCheckpoints:
    if checkpoint_dir is None:
        return NO_CHECKPOINTS
    return CheckpointManager(
        checkpoint_dir, kernel, edge_count, interval, resume, params
    )


class CheckpointManager:
    def __init__(
        self,
        root: str,
        kernel: str,
        edge_count: int,
        interval: int,
        resume: bool,
        params: dict | None = None,
    ):
        self.root = os.path.join(root, kernel)
        os.makedirs(self.root, exist_ok=True)
        self.edge_count = edge_count
        # as a manifest reads it back, so a loaded one compares equal
        self.params = json.loads(json.dumps(params or {}))
        self.interval = interval
        self.resume = resume

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def restore(
        self, spark: SparkSession, width: int, key: str | None = "vid"
    ) -> tuple[DataFrame | None, int, dict]:
        loaded = self.load(spark) if self.resume else None
        if loaded is None:
            return None, 0, {}
        df, manifest = loaded
        if key is not None:
            df = df.repartition(width, key)
        return df.localCheckpoint(eager=True), manifest["iteration"], manifest["meta"]

    def end_round(
        self, df: DataFrame, iteration: int, max_iter: int, done: bool = False
    ) -> str | None:
        """Saves ``df`` as round ``iteration``'s state when the protocol
        says so; returns the snapshot path, or None."""
        if iteration % self.interval and not (done or iteration >= max_iter):
            return None
        return self.save(df, iteration, {"done": done})

    def save(self, df: DataFrame, iteration: int, meta: dict | None = None) -> str:
        path = os.path.join(self.root, f"iter_{iteration:06d}_{uuid.uuid4().hex[:8]}")
        df.write.parquet(path)
        replaced = self.latest()
        manifest = {
            "format": FORMAT,
            "iteration": iteration,
            "edge_count": self.edge_count,
            "params": self.params,
            "path": path,
            "meta": meta or {},
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic publish
        keep = {path, replaced and replaced.get("path")}
        for d in os.listdir(self.root):
            if d.startswith("iter_") and os.path.join(self.root, d) not in keep:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return path

    def latest(self) -> dict | None:
        if not os.path.exists(self._manifest_path()):
            return None
        with open(self._manifest_path()) as f:
            return json.load(f)

    def load(self, spark: SparkSession) -> tuple[DataFrame, dict] | None:
        m = self.latest()
        if m is None:
            return None
        if m.get("format") != FORMAT:
            reason = f"format {m.get('format')}, this code writes {FORMAT}"
        elif m.get("edge_count") != self.edge_count:
            reason = (
                f"edge count {m.get('edge_count')}, this graph has {self.edge_count}"
            )
        elif m.get("params") != self.params:
            reason = f"parameters {m.get('params')}, this run has {self.params}"
        elif not os.path.exists(m["path"]):
            reason = f"snapshot {m['path']} is missing"
        else:
            return spark.read.parquet(m["path"]), m
        log.warning("not resuming from %s: %s", self._manifest_path(), reason)
        return None
