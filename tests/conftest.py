from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from citation_graph_spark import session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = session.get_spark(
        app_name="cgs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    yield s


@pytest.fixture
def local_finish_rows(monkeypatch):
    """Set the row count below which kernels finish on the driver, for
    one test; 0 sends every kernel through its distributed rounds."""

    def set_rows(n_rows):
        monkeypatch.setattr(session, "_DRIVER_ROWS", n_rows)

    return set_rows


def edges_df(spark, edge_list):
    """[(src, dst[, weight])] → edges DataFrame."""
    rows = [
        (int(e[0]), int(e[1]), float(e[2]) if len(e) > 2 else 1.0)
        for e in edge_list
    ]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def vertices_df(spark, n):
    return spark.range(n).withColumnRenamed("id", "vid")
