"""Physical-plan introspection shared by tools/explain_audit.py (which
writes PLANS.md) and tests/test_plan_regressions.py (which pins the
scale-relevant plan properties so a regression fails CI instead of
waiting for a bench diff)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

from citation_graph_spark.session import kernel_scope

# Plan audits read the static plan: adaptive planning defers physical
# decisions to runtime and hides codegen markers in pre-execution plans.
# The kernel scope turns AQE off and restores it on exit.
static_plans = kernel_scope


def plan_stats(df: DataFrame) -> dict:
    """Counts of the plan features that matter at 100 TB.

    exchanges — every one is a full shuffle of its input;
    broadcast/shuffled_hash/sort_merge joins; cartesian —
    CartesianProduct + BroadcastNestedLoopJoin occurrences (the
    quadratic shapes; 0 unless a query is an explicit all-pairs
    baseline); codegen_spans — distinct WholeStageCodegen regions;
    pushed — PushedFilters strings at the scans; read_schemas —
    ReadSchema strings (column pruning evidence)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    simple = io.StringIO()
    with redirect_stdout(simple):
        df.explain()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "cartesian": len(
            re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
        ),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", simple.getvalue()))),
        "pushed": [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p],
        "read_schemas": [r.strip() for r in re.findall(r"ReadSchema: ([^\n]*)", plan)],
        "formatted": plan,
    }
