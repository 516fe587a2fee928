"""Minimal Iceberg-layout snapshot table (no Iceberg jar in the sandbox —
same on-disk concepts, swappable for real Iceberg where the runtime exists).

Layout::

    <root>/
      data/<stage>/bucket=<i>/part-*.parquet     (bucket-partitioned data)
      deletes/<stage>/eqdel-*.parquet            (equality-delete key files)
      snapshots/snap-<seq>.json                  (manifest: per stage, the
                                                  bucket map, its schema and
                                                  delete files; lineage)
      CURRENT                                    (name of live snapshot;
                                                  atomically replaced)

A stage's manifest entry maps each committed bucket to its ``files`` and
``rows`` and records the stage's Spark schema, written by its latest
commit.  Every read is one scan of the files a manifest lists under that
recorded schema: parquet inference is skipped, a stage that committed no
file reads as an empty frame, and a file written before a column was
added reads NULL in it (Iceberg's add-column evolution; old data files
never rewrite).  Each equality-delete file's entry records its key
schema the same way, so no read of the table infers a schema.

Reference analog: the FileLock-guarded feature cache keyed by stage
parameters (/root/reference/utils/feaproducer.py:57-99) and the
every-10-rows incremental sink (dataTransformer.py:130-132).  Here the unit
of commit is a *bucket* (hash(doc_id) % n_buckets): a stage that dies mid-run
resumes by recomputing only the buckets absent from the live manifest
(anti-join semantics on the bucket manifest), with full per-bucket lineage +
metrics retained across snapshots — the north rule's "resumable from
checkpoint with per-partition lineage + metrics".

Commit protocol (crash-safe + optimistic concurrency):
  1. job writes data files under data/<stage>/bucket=<i>/
  2. a new snapshot JSON (parent -> previous) is written to a temp name
  3. ``os.replace`` moves it into place, then CURRENT is atomically replaced
A reader only trusts files listed in the CURRENT manifest, so partially
written data from a crash is invisible until committed (Iceberg's core
invariant).  Concurrent writers use Iceberg's OPTIMISTIC protocol on ALL
commit paths (append, compaction, equality deletes): every commit asserts
its expected parent sequence against CURRENT under a kernel advisory
lock (``flock`` on a persistent lock file — the sandbox stand-in for the
catalog's atomic pointer CAS; the kernel releases it when the holder
dies, even on SIGKILL, so a crashed writer can never wedge the table and
no mtime-staleness takeover heuristic — with its check-then-remove race
— is needed); a loser gets :class:`CommitConflict` and retries —
disjoint-bucket appends and delete commits re-merge metadata-only,
compaction re-runs its rewrite against the new CURRENT, and two writers
racing on the SAME (stage, bucket) surface the conflict instead of
last-write-winning.  Writers never block each other's data writes; only
the metadata swap serializes.  Retries are bounded (no livelock under
sustained contention: metadata-only merges get many cheap attempts,
full-rewrite paths few expensive ones) and back off with jitter.
"""

from __future__ import annotations

import fcntl
import json
import os
import random
import shutil
import time
import uuid
from typing import Callable, Dict, Optional

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "icetable_bucket"


def bucket_of(key: str, n_buckets: int):
    """The bucket a row belongs to: ``pmod(xxhash64(key), n_buckets)``.
    :meth:`IceTable.write_stage` commits by it; a stage's producer can tag
    its input with it to compute only the pending buckets."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


class CommitConflict(RuntimeError):
    """Another writer advanced CURRENT past this commit's expected parent
    (Iceberg's optimistic-concurrency failure) — re-read and retry."""


class IceTable:
    #: a live writer holding the commit flock longer than this is stuck
    #: (the guarded section is a metadata swap, ms-scale) — waiters give
    #: up with TimeoutError rather than spin forever.  Crashed holders
    #: need no timeout at all: the kernel drops their flock on exit.
    LOCK_TIMEOUT_SEC = 60.0
    #: bounded optimistic retries: metadata-only merge paths (append,
    #: delete commit) get many cheap attempts; full-rewrite paths
    #: (compaction) get few expensive ones.  A busy table surfaces
    #: CommitConflict instead of livelocking.
    MAX_META_RETRIES = 64
    MAX_REWRITE_RETRIES = 5

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- snapshot plumbing --------------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def current_snapshot(self) -> Optional[dict]:
        cur = self._current_path()
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            name = f.read().strip()
        with open(os.path.join(self.root, "snapshots", name)) as f:
            return json.load(f)

    def _commit(self, snapshot: dict, expect_parent: Optional[int] = None) -> None:
        """Swap CURRENT to ``snapshot``.  With ``expect_parent`` set, the
        swap is a compare-and-set: it succeeds only if the live snapshot's
        seq still equals ``expect_parent`` (Iceberg's optimistic commit) —
        otherwise :class:`CommitConflict` is raised and NOTHING changes.

        The check-and-swap is serialized by a kernel advisory lock
        (``flock``) on a persistent lock file — the sandbox stand-in for
        the catalog's atomic pointer CAS.  ``flock`` is exactly the right
        primitive here: the lock dies with the holder's fd (SIGKILL
        included), so crash recovery needs no mtime-staleness takeover —
        the previous O_EXCL protocol's check-then-remove takeover was a
        TOCTOU where two waiters could both break one stale lock, the
        second waiter deleting the first's FRESH lock and letting two
        writers into the CAS section (lost update), and a live-but-paused
        holder (>30 s GC) could be dispossessed the same way.  With flock
        neither failure mode exists: a dead holder's lock is already
        released, a paused holder keeps it, and exactly one waiter at a
        time ever enters the critical section.  The timeout guards only
        against a live wedged holder and safely exceeds any plausible
        pause, because no waiter needs to win within a staleness window
        anymore."""
        seq = snapshot["seq"]
        name = f"snap-{seq:06d}-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.root, "snapshots", f".tmp-{name}")
        with open(tmp, "w") as f:
            json.dump(snapshot, f, indent=1, sort_keys=True)

        lock = os.path.join(self.root, "COMMIT_LOCK")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.time() + self.LOCK_TIMEOUT_SEC
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.time() > deadline:
                        os.remove(tmp)
                        raise TimeoutError("commit lock held too long")
                    time.sleep(0.005)
            # holder provenance, for humans inspecting a wedged table; the
            # content carries no protocol meaning (liveness is the fd's)
            os.ftruncate(fd, 0)
            os.pwrite(fd, f"{os.getpid()} {time.time()}".encode(), 0)
            if expect_parent is not None:
                cur = self.current_snapshot()
                live = cur["seq"] if cur else -1
                if live != expect_parent:
                    os.remove(tmp)
                    raise CommitConflict(
                        f"expected parent seq={expect_parent}, CURRENT is "
                        f"seq={live} — re-read, re-validate, retry"
                    )
            os.replace(tmp, os.path.join(self.root, "snapshots", name))
            tmp_cur = self._current_path() + ".tmp"
            with open(tmp_cur, "w") as f:
                f.write(name)
            os.replace(tmp_cur, self._current_path())
        finally:
            os.close(fd)  # releases the flock; the lock FILE persists

    @staticmethod
    def _successor(prev: dict, stage: str, st: dict, entry: dict) -> dict:
        """The snapshot after ``prev``: ``stage``'s manifest entry replaced
        by ``st`` and ``entry`` appended to the lineage."""
        return {
            "seq": prev["seq"] + 1,
            "parent_seq": prev["seq"],
            "stages": {**prev.get("stages", {}), stage: st},
            "lineage": (prev.get("lineage") or []) + [entry],
        }

    def _commit_meta(self, stage: str, merge: Callable[[dict], dict],
                     entry: dict, what: str) -> dict:
        """Optimistic metadata-only commit: ``merge`` maps the stage's live
        manifest entry to the new one, ``entry`` is appended to the
        lineage, and the result is CAS'd in against the parent it was
        built from.  On conflict (another writer advanced CURRENT
        meanwhile) the merge re-runs against the new CURRENT — this
        writer's files are already durable, so a retry rewrites only
        metadata (Iceberg's concurrent-append fast path).  Bounded +
        jittered backoff: under sustained contention the table surfaces
        an error instead of livelocking.  A :class:`CommitConflict`
        raised by ``merge`` itself propagates at once, unretried."""
        for attempt in range(self.MAX_META_RETRIES):
            prev = self.current_snapshot() or {"seq": -1, "stages": {}}
            st = merge(dict(prev.get("stages", {}).get(stage, {"buckets": {}})))
            snapshot = self._successor(prev, stage, st, entry)
            try:
                self._commit(snapshot, expect_parent=prev["seq"])
                return snapshot
            except CommitConflict:
                time.sleep(random.uniform(0, 0.002 * (1 + attempt)))
        raise CommitConflict(
            f"{what} on stage {stage!r} lost the CAS race "
            f"{self.MAX_META_RETRIES} times — table under sustained "
            "contention; its files are durable, re-invoke to retry the "
            "metadata merge"
        )

    def _write_one_file(self, df: DataFrame, dst_dir: str,
                        name: str) -> tuple[str, int]:
        """Write ``df`` as the ONE parquet file ``dst_dir/name``: a
        ``coalesce(1)`` job into a hidden temp dir, then an atomic rename.
        Returns the file's table-relative path and its row count."""
        tmp = os.path.join(dst_dir, f".job-{uuid.uuid4().hex[:8]}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = [fn for fn in os.listdir(tmp) if fn.endswith(".parquet")]
        fp = os.path.join(dst_dir, name)
        os.replace(os.path.join(tmp, part), fp)
        shutil.rmtree(tmp, ignore_errors=True)
        return os.path.relpath(fp, self.root), pq.ParquetFile(fp).metadata.num_rows

    def _read(self, spark: SparkSession, schema: str, files: list) -> DataFrame:
        """The one parquet read of table files: ``files`` (table-relative)
        under ``schema``, the JSON schema their manifest entry records.  No
        inference job runs, an empty ``files`` reads as an empty frame of
        that schema, and a column a file lacks reads NULL."""
        return spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(
            *(os.path.join(self.root, f) for f in files))

    def _scan(self, spark: SparkSession, snap: Optional[dict], stage: str,
              deletes: bool, bucket: Optional[str] = None) -> DataFrame:
        """The one read of a stage: the files ``snap``'s manifest lists
        (all buckets, or only ``bucket``) under the stage's recorded
        schema, anti-joined against every equality-delete file of the
        stage when ``deletes`` is set.  The delete frame is
        delete-batch-sized, so the anti-join broadcasts; the data side
        never rewrites or shuffles."""
        st = (snap or {}).get("stages", {}).get(stage)
        if st is None:
            raise FileNotFoundError(f"stage {stage} has no committed snapshot")
        metas = st["buckets"].values() if bucket is None else [st["buckets"][bucket]]
        df = self._read(spark, st["schema"], [f for m in metas for f in m["files"]])
        for d in (st.get("delete_files") or []) if deletes else []:
            keys = self._read(spark, d["schema"], [d["file"]])
            df = df.join(F.broadcast(keys), d["key_col"], "left_anti")
        return df

    # -- stage state --------------------------------------------------------
    def committed_buckets(self, stage: str) -> Dict[int, dict]:
        snap = self.current_snapshot()
        if not snap:
            return {}
        st = snap.get("stages", {}).get(stage, {})
        return {int(k): v for k, v in st.get("buckets", {}).items()}

    def stage_complete(self, stage: str, n_buckets: int) -> bool:
        return len(self.committed_buckets(stage)) == n_buckets

    def pending_buckets(self, stage: str, n_buckets: int) -> list:
        done = self.committed_buckets(stage)
        return [b for b in range(n_buckets) if b not in done]

    # -- write / read -------------------------------------------------------
    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        bucket_key: str = "doc_id",
        n_buckets: int = 16,
        fail_after_buckets: Optional[int] = None,
    ) -> dict:
        """Materialize ``df`` bucket-partitioned; resume-aware.

        Already-committed buckets are pruned from the input (the anti-join on
        the manifest) and never recomputed.  ``fail_after_buckets`` simulates
        a mid-stage crash after committing k buckets (test hook: commits a
        PARTIAL manifest, like a job that died between bucket commits).
        """
        t0 = time.time()
        pending = self.pending_buckets(stage, n_buckets)
        if not pending:
            return self.current_snapshot()

        stage_dir = os.path.join(self.root, "data", stage)
        schema = df.schema.json()  # the stage's read schema
        bucketed = df.withColumn(
            BUCKET_COL, bucket_of(bucket_key, n_buckets)
        ).where(F.col(BUCKET_COL).isin(pending))
        # one output dir per bucket; Spark writes buckets in parallel
        tmp_dir = os.path.join(stage_dir, f".job-{uuid.uuid4().hex[:8]}")
        bucketed.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(tmp_dir)
        wall_ms = int((time.time() - t0) * 1000)

        new_buckets: Dict[str, dict] = {}
        for b in pending:
            src = os.path.join(tmp_dir, f"{BUCKET_COL}={b}")
            dst = os.path.join(stage_dir, f"bucket={b}")
            os.makedirs(dst, exist_ok=True)
            files, rows = [], 0
            # an empty bucket has no src dir: still committed (zero rows)
            for fn in sorted(os.listdir(src)) if os.path.isdir(src) else []:
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(dst, fn)
                os.replace(os.path.join(src, fn), fp)
                rows += pq.ParquetFile(fp).metadata.num_rows
                files.append(os.path.relpath(fp, self.root))
            new_buckets[str(b)] = {"files": files, "rows": rows}
            if fail_after_buckets is not None and len(new_buckets) >= fail_after_buckets:
                break
        shutil.rmtree(tmp_dir, ignore_errors=True)

        def merge(st: dict) -> dict:
            buckets = st.get("buckets", {})
            # two writers racing on the SAME (stage, bucket) would
            # last-write-win on the manifest entry, silently dropping one
            # writer's files — that's duplicated work plus a lost update,
            # not a mergeable append.  Disjoint-bucket appends (the resume
            # and multi-stage cases) merge cleanly; overlap is an error.
            overlap = set(buckets) & set(new_buckets)
            if overlap:
                raise CommitConflict(
                    f"stage {stage!r} buckets {sorted(overlap)} were "
                    "committed concurrently by another writer — this "
                    "writer's recompute of them is redundant, not mergeable"
                )
            return {**st, "buckets": {**buckets, **new_buckets},
                    "n_buckets": n_buckets, "bucket_key": bucket_key,
                    "schema": schema}

        entry = {
            "stage": stage,
            "committed_buckets": sorted(map(int, new_buckets)),
            "rows": sum(v["rows"] for v in new_buckets.values()),
            "wall_ms": wall_ms,
        }
        return self._commit_meta(stage, merge, entry, "append")

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """Read only the files listed in the CURRENT manifest; a stage that
        committed no file reads as an empty frame of its recorded schema."""
        return self._scan(spark, self.current_snapshot(), stage, deletes=False)

    # -- maintenance: compaction, snapshot expiry, orphan GC ----------------
    def list_snapshots(self) -> list:
        """Snapshot JSON names sorted by sequence number."""
        snaps = [
            n for n in os.listdir(os.path.join(self.root, "snapshots"))
            if n.startswith("snap-") and n.endswith(".json")
        ]
        return sorted(snaps)

    def compact_stage(self, spark: SparkSession, stage: str) -> dict:
        """Rewrite every bucket of ``stage`` into ONE file (Iceberg's
        binpack rewrite at this table's scale) and commit a new snapshot
        whose manifest references ONLY the rewritten files — the old
        files stay on disk, referenced by older snapshots, until
        :meth:`expire_snapshots` + :meth:`gc_orphans` reclaim them
        (exactly Iceberg's rewrite/expire/delete-orphans lifecycle).

        The commit is optimistic (CAS on the parent seq): a concurrent
        write_stage landing mid-rewrite would otherwise be silently
        overwritten by this pre-rewrite view of the stage (lost update).
        On conflict the whole rewrite re-runs against the new CURRENT;
        the abandoned attempt's files are unreferenced and reclaimed by
        :meth:`gc_orphans`.  Retries are few and backed off — each one
        re-runs a full Spark rewrite, so a table under sustained append
        traffic surfaces the conflict instead of rewriting forever."""
        for attempt in range(self.MAX_REWRITE_RETRIES):
            try:
                return self._compact_stage_once(spark, stage)
            except CommitConflict:
                time.sleep(random.uniform(0.01, 0.05 * (1 + attempt)))
        raise CommitConflict(
            f"compaction of stage {stage!r} lost the CAS race "
            f"{self.MAX_REWRITE_RETRIES} times — retry when append "
            "traffic quiesces (attempt files are gc_orphans-reclaimable)"
        )

    def _compact_stage_once(self, spark: SparkSession, stage: str) -> dict:
        snap = self.current_snapshot()
        st = snap["stages"][stage]
        stage_dir = os.path.join(self.root, "data", stage)
        # compaction FOLDS any committed equality-delete files into the
        # rewritten data (Iceberg's rewrite_data_files with delete
        # compaction): after the rewrite the new manifest carries no
        # delete files and plain reads need no merge-on-read join
        new_buckets: Dict[str, dict] = {}
        for b, meta in sorted(st["buckets"].items(), key=lambda kv: int(kv[0])):
            if not meta["files"]:
                new_buckets[b] = dict(meta)
                continue
            rel, rows = self._write_one_file(
                self._scan(spark, snap, stage, deletes=True, bucket=b),
                os.path.join(stage_dir, f"bucket={b}"),
                f"compact-{snap['seq'] + 1:06d}-{uuid.uuid4().hex[:8]}.parquet",
            )
            new_buckets[b] = {"files": [rel], "rows": rows}
        snapshot = self._successor(
            snap, stage, {**st, "buckets": new_buckets, "delete_files": []},
            {"stage": stage, "compacted": True,
             "folded_delete_files": len(st.get("delete_files") or []),
             "rows": sum(v["rows"] for v in new_buckets.values())},
        )
        self._commit(snapshot, expect_parent=snap["seq"])
        return snapshot

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Delete all but the newest ``keep_last`` snapshot JSONs (the
        CURRENT pointer always survives).  Returns the number expired."""
        snaps = self.list_snapshots()
        expired = snaps[:-keep_last] if keep_last > 0 else snaps
        for name in expired:
            os.remove(os.path.join(self.root, "snapshots", name))
        return len(expired)

    def referenced_files(self) -> set:
        """Repo-relative data files referenced by ANY surviving snapshot."""
        refs = set()
        for name in self.list_snapshots():
            with open(os.path.join(self.root, "snapshots", name)) as f:
                snap = json.load(f)
            for st in snap.get("stages", {}).values():
                for b in st["buckets"].values():
                    refs.update(b["files"])
                for d in st.get("delete_files") or []:
                    refs.add(d["file"])
        return refs

    def data_files(self) -> set:
        """All parquet files physically present under data/."""
        out = set()
        for sub in ("data", "deletes"):
            sub_root = os.path.join(self.root, sub)
            if not os.path.isdir(sub_root):
                continue
            for root, _dirs, files in os.walk(sub_root):
                for fn in files:
                    if fn.endswith(".parquet"):
                        out.add(
                            os.path.relpath(os.path.join(root, fn), self.root)
                        )
        return out

    def gc_orphans(self) -> int:
        """Delete data files no surviving snapshot references (Iceberg's
        remove_orphan_files).  Returns the number deleted."""
        orphans = self.data_files() - self.referenced_files()
        for rel in orphans:
            os.remove(os.path.join(self.root, rel))
        return len(orphans)

    def snapshot_at(self, seq: int) -> dict:
        """Load the snapshot with sequence number ``seq`` (time travel —
        works until :meth:`expire_snapshots` removes it)."""
        for name in self.list_snapshots():
            with open(os.path.join(self.root, "snapshots", name)) as f:
                snap = json.load(f)
            if snap["seq"] == seq:
                return snap
        raise FileNotFoundError(f"snapshot seq={seq} not found (expired?)")

    def read_stage_at(self, spark: SparkSession, stage: str,
                      seq: int) -> DataFrame:
        """Time-travel read: the stage EXACTLY as snapshot ``seq`` saw it
        (Iceberg's VERSION AS OF), from the files that manifest lists —
        INCLUDING that snapshot's equality-delete files, applied as
        broadcast anti-joins like :meth:`read_stage_mor`.  Traveling to a
        post-delete, pre-compaction snapshot must not resurrect the
        deleted rows (Iceberg v2 scan semantics are per-snapshot)."""
        return self._scan(spark, self.snapshot_at(seq), stage, deletes=True)

    # -- merge-on-read equality deletes ---------------------------------------

    def commit_equality_deletes(
        self, spark: SparkSession, stage: str, key_col: str, keys: DataFrame
    ) -> dict:
        """Merge-on-read EQUALITY DELETES (Iceberg v2 delete files): the
        keys-to-delete are written as their own small parquet file and
        recorded in a new snapshot; NO data file is rewritten.  Readers
        apply the deletes with an anti-join at scan time
        (:meth:`read_stage_mor`); a later compaction folds them in.
        This is how a 100-TB table absorbs a GDPR erasure or a CDC delete
        batch in O(delete) instead of O(table)."""
        snap = self.current_snapshot()
        if not snap or stage not in snap.get("stages", {}):
            raise FileNotFoundError(f"stage {stage} has no committed snapshot")
        keys = keys.select(F.col(key_col))
        rel, n_keys = self._write_one_file(
            keys,
            os.path.join(self.root, "deletes", stage),
            f"eqdel-{snap['seq'] + 1:06d}-{uuid.uuid4().hex[:8]}.parquet",
        )
        spec = {"file": rel, "key_col": key_col, "n_keys": n_keys,
                "schema": keys.schema.json()}  # the key file's read schema
        # a concurrent write_stage commit is never lost: on conflict only
        # the manifest rebuilds against the new CURRENT
        return self._commit_meta(
            stage,
            lambda st: {**st, "delete_files": (st.get("delete_files") or []) + [spec]},
            {"stage": stage, "equality_deletes": spec},
            "equality-delete commit",
        )

    def read_stage_mor(self, spark: SparkSession, stage: str) -> DataFrame:
        """Merge-on-read scan: data files anti-joined against every
        committed equality-delete file of the stage."""
        return self._scan(spark, self.current_snapshot(), stage, deletes=True)
