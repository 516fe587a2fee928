"""Snapshot diff (CDC) and compaction planning (operators/lakehouse.py):
hand-checked change classification and bin-packing invariants, plus EWMA
hand cases for the timeseries addition (operators/timeseries.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from ehr_ner_spark.operators.lakehouse import (
    BIN_TARGET_BYTES,
    DEL_MOD,
    INS_MOD,
    UPD_MOD,
    compaction_plan,
    file_manifest,
    snapshot_diff,
)
from ehr_ner_spark.operators.timeseries import EWMA_SPAN, ewma_volume


def _orders(spark, keys, price=100.0):
    return spark.createDataFrame(
        [(k, 1, "O", price, dt.datetime(1995, 3, 1 + (k % 25)), "1-URGENT")
         for k in keys],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------

def test_snapshot_diff_classification(spark):
    # one representative key per class (and one unchanged key)
    ins = INS_MOD * UPD_MOD        # % INS_MOD == 0, % DEL_MOD != 0 -> insert
    dele = DEL_MOD                 # % DEL_MOD == 0, % INS_MOD != 0 -> delete
    upd = UPD_MOD                  # updated in place
    same = 1                       # untouched -> not emitted
    gone = INS_MOD * DEL_MOD       # absent from BOTH versions -> no row
    out = {r["o_orderkey"]: r for r in
           snapshot_diff(_orders(spark, [ins, dele, upd, same, gone]))
           .collect()}
    assert out[ins]["change"] == "insert" and out[ins]["old_price"] is None
    assert out[dele]["change"] == "delete" and out[dele]["new_price"] is None
    assert out[upd]["change"] == "update"
    assert out[upd]["new_price"] == out[upd]["old_price"] + 1.0
    assert same not in out and gone not in out


def test_snapshot_diff_emits_only_changes(spark):
    # keys coprime to every mod knob -> empty changelog
    keys = [k for k in range(1, 200)
            if k % INS_MOD and k % DEL_MOD and k % UPD_MOD]
    assert snapshot_diff(_orders(spark, keys)).count() == 0


# ---------------------------------------------------------------------------
# compaction plan
# ---------------------------------------------------------------------------

def test_compaction_bins_are_contiguous_and_bounded(spark):
    plan = compaction_plan(_orders(spark, range(1, 400))).collect()
    assert plan
    by_part: dict = {}
    max_file = max(r["size_bytes"] for r in plan)
    for r in plan:
        by_part.setdefault(r["part_month"], {}).setdefault(
            r["bin"], []).append(r)
    for part, bins in by_part.items():
        # bins are consecutive from 0
        assert sorted(bins) == list(range(len(bins)))
        for b, rows in bins.items():
            total = sum(r["size_bytes"] for r in rows)
            # every row carries its bin's totals
            assert all(r["bin_bytes"] == total for r in rows)
            assert all(r["bin_files"] == len(rows) for r in rows)
            # overfill bounded by one file
            assert total < BIN_TARGET_BYTES + max_file
            # every bin except the last is filled to the target
            if b < len(bins) - 1:
                assert total >= BIN_TARGET_BYTES - max_file + 1


def test_compaction_plan_partition_invariant(spark):
    """The plan is a pure function of the manifest, not of the input's
    physical partitioning."""
    o = _orders(spark, range(1, 200))
    a = sorted(map(tuple, compaction_plan(o).collect()))
    b = sorted(map(tuple, compaction_plan(o.repartition(13)).collect()))
    assert a == b


def test_manifest_sizes_match_group_sums(spark):
    o = _orders(spark, range(1, 60))
    man = {(r["part_month"], r["file_id"]): r["size_bytes"]
           for r in file_manifest(o).collect()}
    exact = {(r["part_month"], r["file_id"]): r["sz"] for r in
             o.groupBy(
                 (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
                 .cast("long").alias("part_month"),
                 (F.col("o_orderkey") % 50).alias("file_id"))
             .agg((F.count(F.lit(1)) * 512
                   + F.sum(F.length("o_orderpriority")))
                  .cast("long").alias("sz")).collect()}
    assert man == exact


# ---------------------------------------------------------------------------
# EWMA
# ---------------------------------------------------------------------------

def _ev(spark, rows):
    """rows: (event_id, day_offset, event_type) — one event per row."""
    return spark.createDataFrame(
        [(i, 1, dt.datetime(2024, 1, 1 + d, 12), t, 1.0)
         for i, d, t in rows],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )


def test_ewma_hand_case(spark):
    # day 0: 3 events, day 1: 1 event ->
    #   ewma(day0) = 3 * 2^15 / 2^16 = 1.5
    #   ewma(day1) = (1 * 2^15 + 3 * 2^14) / 2^16 = 1.25
    rows = ([(i, 0, "c") for i in range(3)] + [(9, 1, "c")])
    out = {r["day"]: r for r in ewma_volume(_ev(spark, rows)).collect()}
    d0 = min(out)
    assert out[d0]["n"] == 3 and out[d0]["ewma"] == 1.5
    assert out[d0 + 1]["n"] == 1 and out[d0 + 1]["ewma"] == 1.25


def test_ewma_truncates_at_span(spark):
    # a burst EWMA_SPAN days back contributes nothing to today
    rows = [(1, 0, "c"), (2, EWMA_SPAN, "c")]
    out = {r["day"]: r for r in ewma_volume(_ev(spark, rows)).collect()}
    late = max(out)
    # only the day's own count remains in the window
    assert out[late]["ewma"] == 0.5


def test_zone_maps_layout_contrast(spark):
    """write_order zones (shipdate uncorrelated with orderkey) are all
    partial; date_clustered zones split into skip / full / partial and
    both layouts account for the same matching rows."""
    from ehr_ner_spark.operators.lakehouse import zone_maps

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    rows = zone_maps(li).collect()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r.layout, []).append(r)

    wo = by_layout["write_order"]
    assert all(r.scan_class == "partial" for r in wo)

    dc = by_layout["date_clustered"]
    classes = {r.scan_class for r in dc}
    assert "skip" in classes and "full" in classes
    # class semantics: skip zones match nothing, full zones match all rows
    for r in dc:
        if r.scan_class == "skip":
            assert r.n_match == 0
        elif r.scan_class == "full":
            assert r.n_match == r.n_rows
    # both layouts partition the same rows -> same match total
    assert sum(r.n_match for r in wo) == sum(r.n_match for r in dc)
    assert sum(r.n_rows for r in wo) == sum(r.n_rows for r in dc)


def test_zone_maps_monthly_zone_bounds(spark):
    """Every date_clustered zone's min/max stay inside its month."""
    from ehr_ner_spark.operators.lakehouse import zone_maps

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for r in zone_maps(li).collect():
        if r.layout != "date_clustered":
            continue
        y, m = divmod(int(r.zone_id), 12)
        prefix = f"{y}-{m + 1:02d}-"
        assert r.min_ship.startswith(prefix) and r.max_ship.startswith(prefix)


def test_mor_deletes_time_travel_and_compaction_fold(spark, sf_dir, tmp_path):
    """The v2 delete lifecycle end to end: equality deletes apply at scan
    time without rewriting data; the PRE-delete snapshot still
    time-travels to the full table; compaction folds the deletes into
    rewritten files (new manifest carries none) and expiry+GC then
    reclaims the delete file itself."""
    from pyspark.sql import functions as F

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)
    seq_before = t.current_snapshot()["seq"]
    n_all = docs.count()
    n_kept = docs.where(F.col("doc_id") % 7 != 0).count()

    t.commit_equality_deletes(
        spark, "docs", "doc_id",
        docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
    )
    # merge-on-read sees the deletes; the plain file set is unchanged
    assert t.read_stage_mor(spark, "docs").count() == n_kept
    assert t.read_stage(spark, "docs").count() == n_all
    # pre-delete snapshot still reads the full table (time travel)
    assert t.read_stage_at(spark, "docs", seq_before).count() == n_all

    snap = t.compact_stage(spark, "docs")
    assert snap["stages"]["docs"]["delete_files"] == []
    assert snap["lineage"][-1]["folded_delete_files"] == 1
    # after folding, plain reads AND MoR reads agree
    assert t.read_stage(spark, "docs").count() == n_kept
    assert t.read_stage_mor(spark, "docs").count() == n_kept

    # expire history, GC: the delete file itself becomes an orphan
    import os

    deletes_dir = os.path.join(t.root, "deletes", "docs")
    n_delete_files = len(
        [f for f in os.listdir(deletes_dir) if f.endswith(".parquet")]
    )
    assert n_delete_files == 1
    t.expire_snapshots(keep_last=1)
    assert t.gc_orphans() > 0
    assert not [
        f for f in os.listdir(deletes_dir) if f.endswith(".parquet")
    ]
    assert t.read_stage(spark, "docs").count() == n_kept


def test_optimistic_commit_conflict_and_retry(spark, sf_dir, tmp_path):
    """Iceberg optimistic concurrency: a commit built against a stale
    parent must raise CommitConflict and change nothing; write_stage's
    retry loop merges disjoint concurrent appends so both writers' rows
    land."""
    import pytest as _pytest

    from ehr_ner_spark.io.icetable import CommitConflict, IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs.where("doc_id % 2 = 0"), "a",
                  bucket_key="doc_id", n_buckets=2)
    snap = t.current_snapshot()

    # a writer holding the OLD parent loses the race after another commit
    t.write_stage(docs.where("doc_id % 2 = 1"), "b",
                  bucket_key="doc_id", n_buckets=2)
    stale = dict(snap)
    stale["seq"] = snap["seq"] + 1
    stale["parent_seq"] = snap["seq"]
    with _pytest.raises(CommitConflict):
        t._commit(stale, expect_parent=snap["seq"])
    # nothing changed: CURRENT is still writer b's snapshot
    cur = t.current_snapshot()
    assert cur["seq"] == snap["seq"] + 1
    assert set(cur["stages"]) == {"a", "b"}

    # interleaved stage writers: simulate writer C starting from a stale
    # read by committing writer D in between — C's write_stage retry
    # must still land and PRESERVE D's stage
    t.write_stage(docs.limit(50), "c", bucket_key="doc_id", n_buckets=2)
    t.write_stage(docs.limit(60), "d", bucket_key="doc_id", n_buckets=2)
    final = t.current_snapshot()
    assert set(final.get("stages", {})) == {"a", "b", "c", "d"}


def test_dead_writers_lock_never_wedges_the_table(spark, sf_dir, tmp_path):
    """A writer that crashes while holding the commit lock must not wedge
    the table: the lock is a kernel flock, released the instant the
    holder's fd closes (SIGKILL included), so a leftover lock FILE from a
    dead process — even an ancient one — never blocks a commit and no
    staleness takeover (with its check-then-remove race) exists at all."""
    import os
    import time

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    lock = os.path.join(t.root, "COMMIT_LOCK")
    with open(lock, "w") as f:
        f.write("99999 0")  # dead pid's leftover lock file, unlocked fd
    old = time.time() - 3600
    os.utime(lock, (old, old))
    snap = t.write_stage(docs.limit(20), "s", bucket_key="doc_id",
                         n_buckets=2)
    assert snap["seq"] == 0


def test_live_lock_holder_blocks_then_commit_proceeds(spark, sf_dir, tmp_path):
    """A LIVE holder's flock makes a second writer wait (not dispossess);
    once released, the waiter commits.  A paused/GC-stalled holder is
    therefore never dispossessed mid-critical-section."""
    import fcntl
    import os
    import threading
    import time

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs.limit(20), "s", bucket_key="doc_id", n_buckets=2)
    lock = os.path.join(t.root, "COMMIT_LOCK")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)  # simulate a paused live holder
    released_at = [None]

    def release_soon():
        time.sleep(1.0)
        released_at[0] = time.time()
        os.close(fd)  # kernel releases the flock

    thr = threading.Thread(target=release_soon)
    thr.start()
    prev = t.current_snapshot()
    snap = dict(prev, seq=prev["seq"] + 1, parent_seq=prev["seq"])
    t._commit(snap, expect_parent=prev["seq"])  # blocks on the flock
    done_at = time.time()
    thr.join()
    assert t.current_snapshot()["seq"] == prev["seq"] + 1
    # the commit could only land after the holder released
    assert released_at[0] is not None and done_at >= released_at[0]


def test_time_travel_to_post_delete_snapshot_applies_deletes(
    spark, sf_dir, tmp_path
):
    """VERSION AS OF a post-delete, pre-compaction snapshot must NOT
    resurrect deleted rows (Iceberg v2 scan semantics are per-snapshot)."""
    from pyspark.sql import functions as F

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)
    n_all = docs.count()
    n_kept = docs.where(F.col("doc_id") % 7 != 0).count()
    seq_before = t.current_snapshot()["seq"]
    snap_del = t.commit_equality_deletes(
        spark, "docs", "doc_id",
        docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
    )
    t.compact_stage(spark, "docs")  # CURRENT moves past the delete snapshot
    assert t.read_stage_at(spark, "docs", seq_before).count() == n_all
    assert t.read_stage_at(spark, "docs", snap_del["seq"]).count() == n_kept


@pytest.mark.parametrize(
    "reader, args",
    [("read_stage", ()), ("read_stage_mor", ()), ("read_stage_at", (0,))],
)
def test_zero_file_stage_reads_empty_under_recorded_schema(
    spark, tmp_path, reader, args
):
    """A stage that committed buckets but no data file reads as an empty
    frame of its recorded schema through every reader, time travel
    included."""
    from ehr_ner_spark.io.icetable import IceTable

    empty = spark.createDataFrame([], "doc_id long, text string")
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(empty, "docs", bucket_key="doc_id", n_buckets=4)
    assert t.stage_complete("docs", 4)
    df = getattr(t, reader)(spark, "docs", *args)
    assert df.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("doc_id", "bigint"), ("text", "string")
    ]


def test_stage_reads_plan_without_a_spark_job(spark, tmp_path):
    """Every reader builds its frame from recorded schemas alone: with two
    equality-delete files committed, planning read_stage, read_stage_mor
    and read_stage_at runs no Spark job (no parquet schema inference),
    and compaction folds both delete files."""
    import uuid

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.range(200).selectExpr("id as doc_id", "concat('t', id) as text")
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)
    for lo in (0, 10):
        t.commit_equality_deletes(
            spark, "docs", "doc_id", spark.range(lo, lo + 5).selectExpr("id as doc_id")
        )
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "plan stage reads")
    try:
        frames = [t.read_stage(spark, "docs"), t.read_stage_mor(spark, "docs"),
                  t.read_stage_at(spark, "docs", 2)]
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [f.count() for f in frames] == [200, 190, 190]
    snap = t.compact_stage(spark, "docs")
    assert snap["lineage"][-1]["folded_delete_files"] == 2
    assert t.read_stage(spark, "docs").count() == 190


def test_added_column_reads_null_in_older_files(spark, sf_dir, tmp_path):
    """Add-column evolution without schema merging: a stage whose first
    buckets committed under (doc_id, lang) and whose later buckets
    committed under (doc_id, lang, n_chars) records the later schema, and
    the older files read NULL in the added column."""
    from ehr_ner_spark.io.icetable import IceTable, bucket_of

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs.select("doc_id", "lang"), "docs",
                  bucket_key="doc_id", n_buckets=4, fail_after_buckets=2)
    old = sorted(t.committed_buckets("docs"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)

    got = t.read_stage(spark, "docs")
    assert got.columns == ["doc_id", "lang", "n_chars"]
    tagged = got.withColumn("old", bucket_of("doc_id", 4).isin(old))
    stats = {
        r.old: (r.n, r.n_null)
        for r in tagged.groupBy("old").agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("n_chars").isNull(), 1)).alias("n_null"),
        ).collect()
    }
    n_old = docs.where(bucket_of("doc_id", 4).isin(old)).count()
    assert n_old > 0
    assert stats[True] == (n_old, n_old)
    assert stats[False] == (docs.count() - n_old, 0)


def test_same_bucket_concurrent_writers_conflict_not_clobber(
    spark, sf_dir, tmp_path
):
    """Two writers racing on the SAME (stage, bucket) must surface
    CommitConflict instead of last-write-winning on the bucket manifest."""
    import pytest as _pytest

    from ehr_ner_spark.io.icetable import CommitConflict, IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "s", bucket_key="doc_id", n_buckets=2)
    # writer whose pending-scan predates the commit above: force a stale
    # empty view of the committed buckets so it recomputes everything
    t2 = IceTable(str(tmp_path / "tbl"))
    t2.committed_buckets = lambda stage: {}
    with _pytest.raises(CommitConflict):
        t2.write_stage(docs, "s", bucket_key="doc_id", n_buckets=2)


def _racing_commit(table, other_table, other_docs):
    """Wrap table._commit so a concurrent writer lands a stage commit just
    before the FIRST CAS attempt — the deterministic replay of the
    read-rewrite-commit race window."""
    orig = table._commit
    state = {"raced": False}

    def wrapper(snapshot, expect_parent=None):
        if not state["raced"]:
            state["raced"] = True
            other_table.write_stage(other_docs, "concurrent",
                                    bucket_key="doc_id", n_buckets=2)
        return orig(snapshot, expect_parent=expect_parent)

    table._commit = wrapper
    return state


def test_compaction_survives_concurrent_append(spark, sf_dir, tmp_path):
    """Lost-update guard: a write_stage commit landing mid-compaction must
    survive — compact_stage's CAS fails, the rewrite re-runs against the
    new CURRENT, and BOTH the compaction and the concurrent stage land."""
    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)
    t2 = IceTable(str(tmp_path / "tbl"))
    state = _racing_commit(t, t2, docs.limit(30))
    snap = t.compact_stage(spark, "docs")
    assert state["raced"]
    assert set(snap["stages"]) == {"docs", "concurrent"}
    assert snap["lineage"][-1]["compacted"] is True
    assert t.read_stage(spark, "docs").count() == docs.count()


def test_equality_deletes_survive_concurrent_append(spark, sf_dir, tmp_path):
    """Same race window for commit_equality_deletes: the concurrent stage
    commit must survive and the delete must still apply."""
    from pyspark.sql import functions as F

    from ehr_ner_spark.io.icetable import IceTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = IceTable(str(tmp_path / "tbl"))
    t.write_stage(docs, "docs", bucket_key="doc_id", n_buckets=4)
    t2 = IceTable(str(tmp_path / "tbl"))
    state = _racing_commit(t, t2, docs.limit(30))
    snap = t.commit_equality_deletes(
        spark, "docs", "doc_id",
        docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
    )
    assert state["raced"]
    assert set(snap["stages"]) == {"docs", "concurrent"}
    n_kept = docs.where(F.col("doc_id") % 7 != 0).count()
    assert t.read_stage_mor(spark, "docs").count() == n_kept
