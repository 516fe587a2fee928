"""Building blocks of the benchmark: checks, the timed loop, table
inspection, the Spark session and the pipeline runs."""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

N_BUCKETS = 16
RESUME_AFTER = 12   # mention buckets committed before the simulated crash
SAMPLE_DOCS = 250   # documents checked against the DuckDB oracle
STAGES = ("mentions", "canon", "triples")
MENTION_COLS = ["doc_id", "repo", "content_sha", "type", "start_pos", "end_pos",
                "text"]
TRIPLE_COLS = ["subj", "pred", "obj", "surface", "doc_id", "repo",
               "content_sha", "type", "start_pos", "end_pos"]

END_TO_END_UNITS = {"docs_per_s": "docs/s", "stored_bytes_per_triple": "B",
                    "setup_s": "s"}


@dataclass
class Checks:
    """Operations attempted and failed; a failure is an exception or an
    output that differs from its reference."""
    attempted: int = 0
    failed: int = 0
    # the untimed first full-corpus run, which every later one must reproduce
    reference: "Sample | None" = None

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def output(self, s: "Sample", what: str) -> bool:
        """Check one full-corpus run's triples and sample mentions against
        the reference run's."""
        return self.record(same_output(s, self.reference),
                           f"{what}: output {s.digest[:12]} differs from the "
                           f"reference {self.reference.digest[:12]}")


@dataclass
class Sample:
    wall_s: float
    digest: str               # all committed triples
    bytes_per_triple: float
    surfaces: int
    head_mentions: str        # mentions of the first SAMPLE_DOCS documents


def measure(iteration, seconds: float, checks: Checks) -> list:
    """Run ``iteration()`` back to back until ``seconds`` have passed (at
    least once).  Each run's output is checked against the reference run's
    (``Checks.output``); only passing runs are kept as samples."""
    samples = []
    end = time.perf_counter() + seconds
    while True:
        try:
            s = iteration()
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            checks.record(False, "pipeline run raised")
        else:
            if checks.output(s, "timed run"):
                samples.append(s)
        if time.perf_counter() >= end:
            return samples


def same_output(s: Sample, reference: Sample) -> bool:
    return (s.digest, s.head_mentions) == (reference.digest, reference.head_mentions)


def tail_percentile(n: int) -> float | None:
    """Highest reported percentile with at least ten samples beyond it."""
    for tenths in (999, 990, 950, 900, 750, 500):  # integer math: no rounding
        if n * (1000 - tenths) >= 10 * 1000:
            return tenths / 10
    return None


# -- table inspection (in this process, with pyarrow; never timed) -------------

def stage_files(root: str, stage: str) -> tuple[list[str], int]:
    from ehr_ner_spark.io.icetable import IceTable

    buckets = IceTable(root).committed_buckets(stage)
    files = [os.path.join(root, f) for b in buckets.values() for f in b["files"]]
    return files, sum(b["rows"] for b in buckets.values())


def read_stage(root: str, stage: str, columns: list[str]):
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, _ = stage_files(root, stage)
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


def frame_digest(t) -> str:
    """sha256 over an Arrow table's rows, sorted on every column."""
    import pandas as pd

    t = t.sort_by([(c, "ascending") for c in t.column_names])
    hashed = pd.util.hash_pandas_object(t.to_pandas(), index=False)
    return hashlib.sha256(hashed.to_numpy().tobytes()).hexdigest()


def inspect_table(root: str, wall_s: float) -> Sample:
    import pyarrow.compute as pc

    stored = 0
    for stage in STAGES:
        stored += sum(os.path.getsize(f) for f in stage_files(root, stage)[0])
    n_triples = stage_files(root, "triples")[1]
    if n_triples == 0:
        raise RuntimeError("pipeline committed no triples")
    mentions = read_stage(root, "mentions", MENTION_COLS)
    # mention detection is per document, so these rows must not depend on
    # the rest of the corpus: the sample run's must equal the full run's
    head = mentions.filter(pc.less(mentions["doc_id"], SAMPLE_DOCS))
    return Sample(wall_s, frame_digest(read_stage(root, "triples", TRIPLE_COLS)),
                  stored / n_triples, stage_files(root, "canon")[1],
                  frame_digest(head))


# -- Spark session ------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_dir: str | None):
    from ehr_ner_spark.session import get_spark

    cpus = nproc()
    extra = {
        "spark.driver.memory": "2g",
        "spark.sql.files.minPartitionNum": str(2 * cpus),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in /tmp; java.io.tmpdir inside the work dir.
        # C1 JIT only: under the default tiered JIT a process kept compiling
        # for five full runs (CPU per run fell by half), more warm-up than
        # the time budget holds; C1 is flat from the second run at about
        # the same wall time.  Its default 48 MB code cache fills within
        # four runs, after which the JVM stops compiling, so it is raised.
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=512m "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            # the default zstd codec needs the zstandard module
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir,
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # the process ended while being listed
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    (the Python workers) have exited; closing the gateway's stdin makes
    the JVM shut down."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    started = _descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in started:  # still running after 30 s
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# -- pipeline runs ------------------------------------------------------------

class Bench:
    def __init__(self, spark, work: str, sf_dir: str, n_docs: int):
        self.spark, self.work, self.sf_dir, self.n_docs = spark, work, sf_dir, n_docs
        self._n = 0

    def fresh_root(self) -> str:
        self._n += 1
        return os.path.join(self.work, "tables", f"t{self._n}")

    def run(self, root: str, sf_dir: str | None = None, **kw) -> float:
        from ehr_ner_spark.cache import release_all
        from ehr_ner_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        run_pipeline(self.spark, sf_dir or self.sf_dir, root, n_buckets=N_BUCKETS, **kw)
        wall = time.perf_counter() - t0
        release_all()
        return wall

    def iteration(self) -> Sample:
        """One timed pipeline run on a fresh table; the table is inspected
        (untimed), then removed."""
        root = self.fresh_root()
        try:
            return inspect_table(root, self.run(root))
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def crashed_table(self) -> str:
        """A table whose mentions stage crashed after RESUME_AFTER buckets."""
        root = self.fresh_root()
        try:
            self.run(root, fail_after={"mentions": RESUME_AFTER})
        except RuntimeError as e:
            if "simulated crash" not in str(e):
                raise
        else:
            raise RuntimeError("fail_after did not crash the run")
        from ehr_ner_spark.cache import release_all

        release_all()
        return root


def oracle_rows(sf_dir: str, sql: str, tmp: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")  # leave the cores to the warm-up runs
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(sf_dir, 'documents.parquet')}')")
        return sorted(con.execute(
            f"SELECT subj, pred, obj, surface FROM ({sql})").fetchall())
    finally:
        con.close()


def engine_rows(root: str) -> list[tuple]:
    t = read_stage(root, "triples", ["subj", "pred", "obj", "surface"])
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
