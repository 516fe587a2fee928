"""Session defaults that need no Spark session."""

from __future__ import annotations

import os

from ehr_ner_spark.session import default_cpus


def test_default_cpus_follows_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_star_means_every_core(monkeypatch):
    """``'*'`` (as in ``local[*]``) and other non-numbers resolve to the
    affinity count, so callers can use the value as a number."""
    for value in ("*", "all"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        assert default_cpus() == len(os.sched_getaffinity(0))
