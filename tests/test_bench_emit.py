"""The bench harness's command line, its scaling report, and its
incremental-emission contract (the fix for the r4 lost-artifact failure):
every _emit call prints ONE complete JSON line carrying everything
measured so far and atomically mirrors it to the partial file, so an
external kill at any point leaves the last line as a valid artifact."""

from __future__ import annotations

import io
import json
import sys


def test_emit_prints_complete_json_and_mirrors_file(tmp_path, monkeypatch):
    import bench

    partial = tmp_path / "partial.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PARTIAL", str(partial))
    out = {"metric": "m", "value": 1.5, "queries": {"q1": 1.5}}
    captured = io.StringIO()
    monkeypatch.setattr(sys, "stdout", captured)
    bench._emit(out)
    bench._emit(dict(out, value=2.0), final=True)
    lines = [ln for ln in captured.getvalue().splitlines() if ln.strip()]
    assert len(lines) == 2
    first, last = json.loads(lines[0]), json.loads(lines[1])
    # every line is complete, self-sufficient JSON; partial flag flips
    assert first["partial"] is True and first["queries"] == {"q1": 1.5}
    assert last["partial"] is False and last["value"] == 2.0
    # the mirror file holds exactly the newest line
    assert json.loads(partial.read_text()) == last
    # no temp residue from the atomic replace
    assert not (tmp_path / "partial.json.tmp").exists()


def test_emit_file_failure_never_loses_the_stdout_line(tmp_path, monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_PARTIAL",
                       str(tmp_path / "no_such_dir" / "p.json"))
    captured = io.StringIO()
    monkeypatch.setattr(sys, "stdout", captured)
    bench._emit({"metric": "m", "value": 1})  # must not raise
    assert json.loads(captured.getvalue().strip())["value"] == 1


def test_phases_without_value_is_a_usage_error(capsys):
    import pytest

    import bench

    with pytest.raises(SystemExit) as e:
        bench.main(["--phases"])
    assert e.value.code == 2
    assert "--phases" in capsys.readouterr().err


def test_scaling_phase_reports_one_1_to_4_pair(tmp_path, monkeypatch):
    import bench

    t1, t4 = 36.0, 10.0
    calls = []

    def fake_child(cores):
        calls.append(cores)
        return {1: t1, 4: t4}[cores], 120_000

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PARTIAL", str(tmp_path / "p.json"))
    monkeypatch.setattr(bench, "_scaling_child_run", fake_child)
    captured = io.StringIO()
    monkeypatch.setattr(sys, "stdout", captured)
    bench.main(["--phases", "scaling"])

    last = json.loads(captured.getvalue().strip().splitlines()[-1])
    sc = last["scaling"]
    assert calls == [1, 4]  # one try per level, no retries
    assert (sc["n_lo"], sc["n_hi"]) == (1, 4)
    assert sc["efficiency"] == (t1 / t4) / 4
    assert sc["bound"] == 0.8
    assert last["partial"] is False and last["phases_skipped"] == []
