"""Checkpoint/resume gate (north rule): kill mid-stage, resume, and the final
triples must be byte-identical to an uninterrupted run; already-committed
buckets must not be recomputed."""

from __future__ import annotations

import os

import pytest

from ehr_ner_spark.io.icetable import IceTable
from ehr_ner_spark.pipeline import run_pipeline


def _triples_set(df):
    return {
        (r.subj, r.pred, r.obj, r.start_pos, r.end_pos, r.content_sha)
        for r in df.collect()
    }


def test_kill_resume_identical(spark, sf_dir, tmp_path):
    clean_root = str(tmp_path / "clean")
    crash_root = str(tmp_path / "crash")

    golden = _triples_set(
        run_pipeline(spark, sf_dir, clean_root, n_buckets=8)
    )
    assert golden

    # crash after 3 of 8 mention buckets
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(
            spark, sf_dir, crash_root, n_buckets=8,
            fail_after={"mentions": 3},
        )
    t = IceTable(crash_root)
    committed = set(t.committed_buckets("mentions"))
    assert len(committed) == 3
    snap_seq_after_crash = t.current_snapshot()["seq"]

    # crash again later, in the canon stage
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(
            spark, sf_dir, crash_root, n_buckets=8,
            fail_after={"canon": 2},
        )
    t2 = IceTable(crash_root)
    assert len(t2.committed_buckets("mentions")) == 8
    assert len(t2.committed_buckets("canon")) == 2
    # the 3 pre-crash mention buckets were NOT rewritten: their manifest
    # entries (file lists) survive unchanged in the lineage chain
    assert set(t2.committed_buckets("mentions")) >= committed

    # final resume completes the run
    resumed = _triples_set(
        run_pipeline(spark, sf_dir, crash_root, n_buckets=8)
    )
    assert resumed == golden

    # lineage recorded one entry per (re)start of each stage
    lineage = IceTable(crash_root).current_snapshot()["lineage"]
    stages = [e["stage"] for e in lineage]
    assert stages.count("mentions") == 2  # partial + completion
    assert stages.count("canon") == 2
    assert all("rows" in e and "wall_ms" in e for e in lineage)
    assert IceTable(crash_root).current_snapshot()["seq"] > snap_seq_after_crash


def test_resume_scores_only_pending_buckets(spark, sf_dir, tmp_path, monkeypatch):
    """A fresh run commits at most one mentions file per bucket and exactly
    one canon file per bucket (the one-pass linker returns one partition);
    a resumed run sends the scorer exactly the pending buckets' documents."""
    from pyspark.sql import functions as F

    import ehr_ner_spark.pipeline as pipeline
    from ehr_ner_spark.corpus import corpus

    clean_root = str(tmp_path / "clean")
    golden = _triples_set(run_pipeline(spark, sf_dir, clean_root, n_buckets=8))
    buckets = IceTable(clean_root).committed_buckets("mentions")
    assert len(buckets) == 8
    assert all(len(b["files"]) <= 1 for b in buckets.values())
    canon = IceTable(clean_root).committed_buckets("canon")
    assert sorted(len(b["files"]) for b in canon.values()) == [1] * 8

    crash_root = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(
            spark, sf_dir, crash_root, n_buckets=8, fail_after={"mentions": 3}
        )
    done = IceTable(crash_root).committed_buckets("mentions")
    pending = [b for b in range(8) if b not in done]
    assert len(pending) == 5

    scored = []
    detect = pipeline.detect_mentions

    def capture(docs, **kw):
        scored.append(sorted(r.doc_id for r in docs.select("doc_id").collect()))
        return detect(docs, **kw)

    monkeypatch.setattr(pipeline, "detect_mentions", capture)
    resumed = _triples_set(run_pipeline(spark, sf_dir, crash_root, n_buckets=8))

    want = sorted(
        r.doc_id for r in corpus(spark, sf_dir)
        .where(F.pmod(F.xxhash64("doc_id"), F.lit(8)).isin(pending))
        .select("doc_id").collect()
    )
    assert want and scored == [want]
    assert resumed == golden


def test_main_commit_conflict_says_to_reinvoke(monkeypatch, tmp_path):
    """A commit conflict ends the spark-submit entrypoint with a message
    that tells the caller to re-invoke it to resume."""
    from pyspark.sql import SparkSession

    import ehr_ner_spark.pipeline as pipeline
    from ehr_ner_spark.io.icetable import CommitConflict

    class _Session:
        stopped = False

        def stop(self):
            self.stopped = True

    session = _Session()

    class _Builder:
        def appName(self, _name):
            return self

        def getOrCreate(self):
            return session

    def conflict(*_a, **_kw):
        raise CommitConflict("stage 'mentions' append lost the CAS race")

    monkeypatch.setattr(SparkSession, "builder", _Builder())
    monkeypatch.setattr(pipeline, "run_pipeline", conflict)
    with pytest.raises(SystemExit) as exc:
        pipeline.main(["--table-root", str(tmp_path / "kg")])
    msg = str(exc.value.code)
    assert "lost the CAS race" in msg and "re-invoke" in msg
    assert session.stopped


def test_rerun_is_noop(spark, sf_dir, tmp_path):
    root = str(tmp_path / "noop")
    first = run_pipeline(spark, sf_dir, root, n_buckets=4)
    seq1 = IceTable(root).current_snapshot()["seq"]
    second = run_pipeline(spark, sf_dir, root, n_buckets=4)
    seq2 = IceTable(root).current_snapshot()["seq"]
    assert seq1 == seq2  # nothing recomputed, no new snapshot
    assert _triples_set(first) == _triples_set(second)


def test_expire_and_gc_preserve_readability(spark, tmp_path):
    """Time travel works until expiry; GC reclaims exactly the
    unreferenced files; the compacted stage reads back byte-identical."""
    from ehr_ner_spark.io.icetable import IceTable

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .coalesce(1)
    )
    want = {(r.doc_id, r.text) for r in docs.collect()}

    tbl = IceTable(str(tmp_path / "tbl"))
    tbl.write_stage(docs, "docs")
    pre_files = tbl.data_files()
    tbl.compact_stage(spark, "docs")
    # before expiry: both file generations on disk, old ones referenced
    assert pre_files < tbl.data_files()
    assert pre_files <= tbl.referenced_files()
    got_compacted = {
        (r.doc_id, r.text)
        for r in tbl.read_stage(spark, "docs").collect()
    }
    assert got_compacted == want

    n_expired = tbl.expire_snapshots(keep_last=1)
    assert n_expired == 1
    n_orphans = tbl.gc_orphans()
    assert n_orphans == len(pre_files)
    assert tbl.data_files() == tbl.referenced_files()
    # still readable after GC
    got = {(r.doc_id, r.text) for r in tbl.read_stage(spark, "docs").collect()}
    assert got == want


def test_time_travel_read_at_snapshot(spark, tmp_path):
    """VERSION-AS-OF semantics: the partial-commit snapshot reads back
    exactly the rows committed then; the complete snapshot reads all;
    after expiry the old version raises."""
    import pytest

    from ehr_ner_spark.io.icetable import IceTable

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .coalesce(1)
    )
    tbl = IceTable(str(tmp_path / "tt"))
    tbl.write_stage(docs, "docs", fail_after_buckets=8)   # seq 0: partial
    tbl.write_stage(docs, "docs")                          # seq 1: complete

    full = {r.doc_id for r in docs.select("doc_id").collect()}
    at0 = {r.doc_id for r in
           tbl.read_stage_at(spark, "docs", 0).collect()}
    at1 = {r.doc_id for r in
           tbl.read_stage_at(spark, "docs", 1).collect()}
    assert at1 == full
    assert at0 < full and len(at0) > 0
    # the partial view is exactly the committed buckets' contents
    committed = tbl.snapshot_at(0)["stages"]["docs"]["buckets"]
    assert len(committed) == 8

    tbl.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        tbl.read_stage_at(spark, "docs", 0)
