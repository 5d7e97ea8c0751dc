"""``session.cpu_count``: the local-mode thread count, no Spark."""

from __future__ import annotations

import os

from imdb_top_250_etl_pipeline_spark import session


def test_cpu_count_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))


def test_cpu_count_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.cpu_count() == 3
