"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

import eventlog  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402

LOG_DIR = os.path.join(HERE, "data", "eventlog")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_byte_identical_per_seed(name, tmp_path):
    w = workloads.WORKLOADS[name]

    def written(seed: int, sub: str) -> bytes:
        d = workloads.write_documents(
            workloads.make_documents(w, seed, n_docs=300), str(tmp_path / sub))
        with open(os.path.join(d, "documents.parquet"), "rb") as f:
            return f.read()

    assert written(7, "a") == written(7, "b")
    assert written(7, "a") != written(8, "c")


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_columns_and_no_truncation(name):
    from ehr_ner_spark.kernel.wordpiece import MAX_SEQ_LENGTH, tokenize_text, wp_split
    from ehr_ner_spark.queries_battery import QUERIES

    t = workloads.make_documents(workloads.WORKLOADS[name], 3, n_docs=400)
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    texts = t.column("text").to_pylist()
    assert t.column("n_chars").to_pylist() == [len(x) for x in texts]
    assert t.column("doc_id").to_pylist() == list(range(400))
    # no document is long enough for the scorer to truncate it
    q_max = max(sum(len(wp_split(tok)) for tok in tokenize_text(q))
                for q in QUERIES.values())
    pieces = max(sum(len(wp_split(tok)) for tok in tokenize_text(x)) for x in texts)
    assert pieces <= MAX_SEQ_LENGTH - q_max - 3


def test_link_pieces_are_roots_and_one_char_variants():
    import numpy as np

    pieces = workloads.piece_inventory(np.random.default_rng(0))
    assert 850 <= len(pieces) <= 900
    assert all(len(p) == 4 for p in pieces)


def test_rollup_on_recorded_log():
    groups = eventlog.rollup(eventlog.read_events(LOG_DIR))
    assert set(groups) == {"g1"}
    g = groups["g1"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (4, 4, 4, 0)
    assert g.executor_run_s == pytest.approx((315 + 626 + 2646 + 31) / 1e3)
    assert g.executor_cpu_s == pytest.approx(
        (45953154 + 608569256 + 549346409 + 22503452) / 1e9)
    assert g.shuffle_write_bytes == 25732 + 59
    assert g.shuffle_read_bytes == 25732 + 59
    assert g.python_worker_s == pytest.approx(2.230)
    assert g.python_rows_in == 50  # the 50 documents sent to the scorer
    assert g.input_records == 50
    assert g.spill_bytes == 0


def test_rollup_counts_failed_tasks_and_ungrouped_jobs():
    events = eventlog.read_events(LOG_DIR)
    events = copy.deepcopy(events)
    task_end = next(e for e in events if e["Event"] == "SparkListenerTaskEnd")
    task_end["Task End Reason"] = {"Reason": "ExceptionFailure"}
    job = next(e for e in events if e["Event"] == "SparkListenerJobStart")
    del job["Properties"][eventlog.GROUP_KEY]
    g = eventlog.rollup(events)["g1"]
    assert g.failed_tasks == 1
    assert g.jobs == 3


def test_wait_for_job_end(tmp_path):
    eventlog.wait_for_job_end(LOG_DIR, 3, timeout_s=1)
    with pytest.raises(TimeoutError):
        eventlog.wait_for_job_end(LOG_DIR, 4, timeout_s=0.2)


def _sample(digest: str, head: str = "h") -> harness.Sample:
    return harness.Sample(1.0, digest, 10.0, 5, head)


@pytest.fixture
def runs(monkeypatch):
    """A clock that advances one second per reading, so ``measure(..., n -
    0.5)`` makes exactly ``n`` runs whatever the machine's speed."""
    ticks = iter(range(1_000_000))
    monkeypatch.setattr(harness, "time",
                        types.SimpleNamespace(perf_counter=lambda: next(ticks)))
    return lambda n: n - 0.5


def _checks() -> harness.Checks:
    return harness.Checks(reference=_sample("d1"))


def test_digest_mismatch_counts_as_failure(runs):
    outputs = iter([_sample("d1"), _sample("bad"), _sample("d1"),
                    _sample("d1", head="other")])
    checks = _checks()
    samples = harness.measure(lambda: next(outputs), runs(4), checks)
    assert (checks.attempted, checks.failed) == (4, 2)
    assert [s.digest for s in samples] == ["d1", "d1"]


def test_single_run_is_checked_against_the_reference(runs):
    checks = _checks()
    assert harness.measure(lambda: _sample("bad"), runs(1), checks) == []
    assert (checks.attempted, checks.failed) == (1, 1)


def test_exception_counts_as_failure(runs):
    def boom():
        raise RuntimeError("injected")

    checks = _checks()
    assert harness.measure(boom, runs(2), checks) == []
    assert (checks.attempted, checks.failed) == (2, 2)


class _FakeContext:
    """The job-group calls a ``SparkContext`` gets from ``Tracer``."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, _description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_stage_spans_give_each_commit_its_own_job_group(monkeypatch):
    import tracing

    sc = _FakeContext()
    seen = []
    monkeypatch.setattr(tracing.IceTable, "write_stage",
                        lambda table, df, stage, **kw: seen.append((stage, sc.group)))
    stub = tracing.IceTable.write_stage
    tracer = tracing.Tracer(sc)
    with tracer.span("pipeline", "r"), tracer.stage_spans():
        tracing.IceTable.write_stage(None, None, "mentions", n_buckets=16)
        assert sc.group == "r:pipeline"
        tracing.IceTable.write_stage(None, None, "canon")
    assert seen == [("mentions", "r:stage.mentions"), ("canon", "r:stage.canon")]
    assert sc.group is None
    assert tracing.IceTable.write_stage is stub
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("stage.mentions", "pipeline"), ("stage.canon", "pipeline"), ("pipeline", None)]


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail_percentile(2) is None
    assert harness.tail_percentile(19) is None
    assert harness.tail_percentile(20) == 50.0
    assert harness.tail_percentile(100) == 90.0
    assert harness.tail_percentile(1000) == 99.0


def test_metric_names_and_units_match_benchmark_json():
    import tracing

    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == harness.END_TO_END_UNITS
    assert per_layer == tracing.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in [*e2e, *per_layer, *workloads.WORKLOADS]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
