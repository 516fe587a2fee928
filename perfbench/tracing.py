"""Spans around the benchmark's calls into each pipeline layer.

A span records name, start, end, parent and run id, and tags every Spark
job started inside it with the job group ``<run_id>:<name>``, so the event
log's per-group rollup (``eventlog.rollup``) lines up with the spans.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import functions as F

from eventlog import GroupStats, read_events, rollup, wait_for_job_end
from harness import (
    HERE,
    N_BUCKETS,
    inspect_table,
    jvm_peak_rss_mb,
    stage_files,
)

from ehr_ner_spark.cache import release_all, tracked_persist
from ehr_ner_spark.corpus import corpus
from ehr_ner_spark.io.icetable import IceTable
from ehr_ner_spark.operators.linking import (
    candidate_pairs,
    canonical_triples,
    canonicalize,
    surface_signatures,
    verified_edges,
)
from ehr_ner_spark.operators.mention_detect import detect_mentions

STAGES = (("mentions", "doc_id"), ("canon", "text"), ("triples", "doc_id"))
KERNEL_DOCS = 500  # the kernel probe's fixed document sample


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.name}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run_id: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, run_id, parent.name if parent else None, time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    @contextmanager
    def stage_spans(self):
        """Open a span ``stage.<stage>`` around every ``IceTable.write_stage``
        call made inside the block, in the run of the enclosing span.  The
        frames ``run_pipeline`` builds are lazy, so a stage's compute runs in
        its commit: this gives each stage of a real, uninstrumented
        ``run_pipeline`` call a job group of its own."""
        original = IceTable.write_stage

        def write_stage(table, df, stage, *args, **kw):
            with self.span(f"stage.{stage}", self._stack[-1].run_id):
                return original(table, df, stage, *args, **kw)

        IceTable.write_stage = write_stage
        try:
            yield
        finally:
            IceTable.write_stage = original

    def find(self, run_id: str, name: str) -> Span | None:
        return next((s for s in self.spans
                     if s.run_id == run_id and s.name == name), None)

    def children_wall_s(self, run_id: str, parent: str) -> float:
        return sum(s.wall_s for s in self.spans
                   if s.run_id == run_id and s.parent == parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def real_run(tracer: Tracer, bench, root: str, run_id: str) -> float:
    """One real ``run_pipeline`` call (``Bench.run``) in the job group
    ``<run_id>:pipeline``, each stage's commit in ``<run_id>:stage.<stage>``;
    returns its wall seconds."""
    with tracer.span("pipeline", run_id), tracer.stage_spans():
        return bench.run(root)


def traced_pipeline(tracer: Tracer, spark, sf_dir: str, table_root: str,
                    run_id: str) -> None:
    """``pipeline.run_pipeline`` step by step, one span per layer call.

    Each stage's frame is persisted and counted inside its layer span, so
    the following ``write_stage`` span times only the commit of an already
    materialised frame."""
    layer = {"mentions": "mention_detect",
             "canon": "linking.canonicalize",
             "triples": "linking.canonical_triples"}
    with tracer.span("pipeline", run_id):
        t = IceTable(table_root)
        frames: dict = {}
        for stage, key in STAGES:
            if not t.stage_complete(stage, N_BUCKETS):
                with tracer.span(layer[stage], run_id) as s:
                    if stage == "mentions":
                        df = detect_mentions(corpus(spark, sf_dir))
                    elif stage == "canon":
                        df = canonicalize(frames["mentions"])
                    else:
                        df = canonical_triples(frames["mentions"], frames["canon"])
                    df = tracked_persist(df)
                    s.counts["rows_out"] = df.count()
                    s.counts["buckets_skipped"] = len(t.committed_buckets(stage))
                with tracer.span(f"icetable.write.{stage}", run_id):
                    t.write_stage(df, stage, bucket_key=key, n_buckets=N_BUCKETS)
            with tracer.span(f"icetable.read.{stage}", run_id):
                frames[stage] = t.read_stage(spark, stage)
    release_all()


def linking_counts(tracer: Tracer, spark, table_root: str, run_id: str) -> dict:
    """Traced-only counts of the linking layers over a committed mentions
    stage: surfaces, candidate pairs, verified edges and components.  Run
    in their own span so they do not inflate the canonicalize wall time."""
    with tracer.span("linking.counts", run_id):
        t = IceTable(table_root)
        mentions = t.read_stage(spark, "mentions")
        sigs = tracked_persist(surface_signatures(mentions))
        pairs = tracked_persist(candidate_pairs(sigs))
        out = {
            "surfaces": sigs.count(),
            "candidate_pairs": pairs.count(),
            "verified_edges": verified_edges(sigs, pairs).count(),
            "components": t.read_stage(spark, "canon")
            .agg(F.countDistinct("component")).first()[0],
        }
    release_all()
    return out


# -- the traced run -----------------------------------------------------------

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "session.jvm_peak_rss_mb": "MB",
    "workload.docs": "count", "workload.tokens": "count",
    "workload.distinct_pieces": "count", "workload.distinct_surfaces": "count",
    "kernel.tokenize_docs_per_s": "docs/s", "kernel.predict_docs_per_s": "docs/s",
    "kernel.pieces_per_doc": "count", "kernel.distinct_piece_ratio": "ratio",
    "kernel.spans_per_doc": "count",
    "mention_detect.wall_s": "s", "mention_detect.executor_cpu_s": "s",
    "mention_detect.python_worker_s": "s", "mention_detect.jobs": "count",
    "mention_detect.tasks": "count", "mention_detect.shuffle_write_bytes": "B",
    "mention_detect.rows_out": "count",
    "mention_detect.rows_scored_per_pending_doc": "ratio",
    "linking.canonicalize.wall_s": "s", "linking.canonicalize.jobs": "count",
    "linking.canonicalize.executor_cpu_s": "s",
    "linking.canonicalize.python_worker_s": "s",
    "linking.canonicalize.shuffle_bytes": "B", "linking.canonicalize.spill_bytes": "B",
    "linking.canonicalize.surfaces": "count",
    "linking.canonicalize.candidate_pairs": "count",
    "linking.canonicalize.verified_edges": "count",
    "linking.canonicalize.candidate_yield": "ratio",
    "linking.canonicalize.components": "count",
    "linking.canonical_triples.wall_s": "s",
    "linking.canonical_triples.shuffle_bytes": "B",
    "linking.canonical_triples.rows_out": "count",
    "icetable.write_s": "s", "icetable.read_stage_s": "s",
    "icetable.files_written": "count", "icetable.bytes_written": "B",
    "icetable.snapshots": "count", "icetable.buckets_skipped": "count",
    "pipeline.jobs_total": "count", "pipeline.overhead_s": "s",
    "pipeline.failed_tasks": "count",
    "resume.pipeline.wall_s": "s", "resume.mentions_stage.wall_s": "s",
    "resume.mention_detect.rows_scored_per_pending_doc": "ratio",
    "resume.icetable.buckets_skipped": "count",
    "trace.untraced_docs_per_s": "docs/s", "trace.traced_docs_per_s": "docs/s",
    "trace.overhead_ratio": "ratio",
}


def traced_metrics(args, st: dict, checks) -> dict:
    """Alternate real (untraced) and traced pipeline runs for
    ``args.seconds``, then count the linking layers, resume a crashed table
    with a real ``run_pipeline`` call, probe the kernel in a fresh process
    and roll up the event log.  Every table must reproduce the reference
    run's (``Checks.output``)."""
    spark, bench = st["spark"], st["bench"]
    sc = spark.sparkContext
    tracer = Tracer(sc)
    untraced, traced = [], []
    end = time.perf_counter() + args.seconds
    k = 0
    while True:
        k += 1
        root = bench.fresh_root()
        wall = real_run(tracer, bench, root, f"u{k}")
        checks.output(inspect_table(root, wall), "untraced run")
        untraced.append(wall)
        shutil.rmtree(root)

        root, run_id = bench.fresh_root(), f"t{k}"
        traced_pipeline(tracer, spark, st["full"], root, run_id)
        wall = tracer.find(run_id, "pipeline").wall_s
        checks.output(inspect_table(root, wall), "traced run")
        traced.append(wall)
        if time.perf_counter() >= end:
            break
        shutil.rmtree(root)

    counts = linking_counts(tracer, spark, root, run_id)
    files = [f for stage, _ in STAGES for f in stage_files(root, stage)[0]]
    table = {"icetable.files_written": len(files),
             "icetable.bytes_written": sum(map(os.path.getsize, files)),
             "icetable.snapshots": len(IceTable(root).list_snapshots())}
    shutil.rmtree(root)

    root = bench.crashed_table()
    done = IceTable(root).committed_buckets("mentions")
    pending = [b for b in range(N_BUCKETS) if b not in done]
    with tracer.span("resume.pending_docs", "resume"):
        pending_docs = corpus(spark, st["full"]).where(
            F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).isin(pending)).count()
    resume_wall = real_run(tracer, bench, root, "resume")
    checks.output(inspect_table(root, resume_wall), "resumed run")
    shutil.rmtree(root)

    last_job = max(j for sp in tracer.spans
                   for j in sc.statusTracker().getJobIdsForGroup(sp.group))
    wait_for_job_end(st["event_dir"], last_job)
    groups = rollup(read_events(st["event_dir"]))
    rss = jvm_peak_rss_mb(spark)

    probe = subprocess.run(
        [sys.executable, os.path.join(HERE, "kernel_probe.py"),
         os.path.join(st["full"], "documents.parquet"), str(KERNEL_DOCS)],
        stdout=subprocess.PIPE, text=True, check=True)
    kernel = json.loads(probe.stdout.strip().splitlines()[-1])

    def g(rid: str, name: str) -> GroupStats:
        return groups.get(f"{rid}:{name}", GroupStats())

    def wall(rid: str, name: str) -> float:
        return tracer.find(rid, name).wall_s

    def walls(rid: str, prefix: str) -> float:
        return sum(sp.wall_s for sp in tracer.spans
                   if sp.run_id == rid and sp.name.startswith(prefix))

    md, lc, lt = (g(run_id, n) for n in ("mention_detect", "linking.canonicalize",
                                         "linking.canonical_triples"))
    n_docs = bench.n_docs
    untraced_rate = n_docs / statistics.median(untraced)
    traced_rate = n_docs / statistics.median(traced)
    layer_spans = [tracer.find(run_id, n) for n in
                   ("mention_detect", "linking.canonicalize", "linking.canonical_triples")]
    values = {
        "session.start_s": st["session.start_s"],
        "session.warmup_s": st["session.warmup_s"],
        "session.jvm_peak_rss_mb": rss,
        **kernel,
        "workload.distinct_surfaces": checks.reference.surfaces,
        "mention_detect.wall_s": wall(run_id, "mention_detect"),
        "mention_detect.executor_cpu_s": md.executor_cpu_s,
        "mention_detect.python_worker_s": md.python_worker_s,
        "mention_detect.jobs": md.jobs,
        "mention_detect.tasks": md.tasks,
        "mention_detect.shuffle_write_bytes": md.shuffle_write_bytes,
        "mention_detect.rows_out": layer_spans[0].counts["rows_out"],
        # rows the real run sends to the scorer; on a fresh table every
        # document is pending
        "mention_detect.rows_scored_per_pending_doc":
            g(f"u{k}", "stage.mentions").python_rows_in / n_docs,
        "linking.canonicalize.wall_s": wall(run_id, "linking.canonicalize"),
        "linking.canonicalize.jobs": lc.jobs,
        "linking.canonicalize.executor_cpu_s": lc.executor_cpu_s,
        "linking.canonicalize.python_worker_s": lc.python_worker_s,
        "linking.canonicalize.shuffle_bytes": lc.shuffle_write_bytes,
        "linking.canonicalize.spill_bytes": lc.spill_bytes,
        **{f"linking.canonicalize.{k}": v for k, v in counts.items()},
        "linking.canonicalize.candidate_yield":
            counts["verified_edges"] / max(counts["candidate_pairs"], 1),
        "linking.canonical_triples.wall_s": wall(run_id, "linking.canonical_triples"),
        "linking.canonical_triples.shuffle_bytes": lt.shuffle_write_bytes,
        "linking.canonical_triples.rows_out": layer_spans[2].counts["rows_out"],
        "icetable.write_s": walls(run_id, "icetable.write."),
        "icetable.read_stage_s": walls(run_id, "icetable.read."),
        **table,
        "icetable.buckets_skipped": sum(sp.counts["buckets_skipped"] for sp in layer_spans),
        "pipeline.jobs_total":
            sum(s.jobs for grp, s in groups.items() if grp.startswith(f"u{k}:")),
        "pipeline.overhead_s":
            wall(run_id, "pipeline") - tracer.children_wall_s(run_id, "pipeline"),
        "pipeline.failed_tasks": sum(s.failed_tasks for s in groups.values()),
        "resume.pipeline.wall_s": resume_wall,
        "resume.mentions_stage.wall_s": wall("resume", "stage.mentions"),
        "resume.mention_detect.rows_scored_per_pending_doc":
            g("resume", "stage.mentions").python_rows_in / max(pending_docs, 1),
        "resume.icetable.buckets_skipped": len(done),
        "trace.untraced_docs_per_s": untraced_rate,
        "trace.traced_docs_per_s": traced_rate,
        "trace.overhead_ratio": untraced_rate / traced_rate,
    }
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json")
    tracer.dump(spans_path)
    print(f"  spans: {spans_path}; yield = {counts['verified_edges']} verified edges "
          f"/ {counts['candidate_pairs']} candidate pairs; resume: {len(pending)} "
          f"pending buckets, {pending_docs} pending docs; "
          f"traced {len(traced)} / untraced {len(untraced)} runs")
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
