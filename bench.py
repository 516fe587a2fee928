#!/usr/bin/env python
"""Benchmark harness for what ``perfbench/`` does not measure.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 data set) on
``local[session.default_cpus()]`` and prints the full result as ONE JSON
line after every phase::

    {"metric": "...", "value": <sum of the timings>, "unit": "sec",
     "queries": {...}, "sf": ..., "n_docs": ..., "docs_per_sec": ...,
     "scaling": {"n_lo": N, "n_hi": 4N, "efficiency": ..., "bound": 0.8},
     "partial": ..., "phases_skipped": [...], "queries_skipped": [...]}

Phases, in this order (``--phases headline,scaling,extended`` runs a
subset):

- ``headline``: ``docs_per_sec`` of one real ``pipeline.run_pipeline``
  call on a fresh table root (IceTable commits included), then the CORE
  queries, min-of-3 each.
- ``scaling``: the same scoring job (battery scoring + IOB2 decode over
  the corpus replicated ``SCALING_REP`` times) at ``local[N]`` and
  ``local[4N]``, ``N = cores // 4``, each level in its own child process,
  one try per level.  ``efficiency = (T_N / T_4N) / 4`` is reported next
  to the BASELINE bound; it is a report, not a gate.
- ``extended``: the EXTENDED coverage queries, min-of-1 each.

The whole harness runs under a wall-clock budget
(``SPARK_GRAFT_BENCH_BUDGET_SEC``, default 2700; 0 disables).  An
external kill must truncate the evidence, not erase it, so every emitted
line is complete JSON carrying everything measured so far, the newest
superseding the older ones, and it is also written atomically to
``SPARK_GRAFT_BENCH_PARTIAL`` (default ``BENCH/last_run_partial.json``).
Budget pressure drops query reps first, then phases and queries (recorded
in ``phases_skipped`` / ``queries_skipped``), never the write.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# CORE = the round-2 headline set, timed min-of-QUERY_REPS every round
# (the stable round-over-round comparison series); EXTENDED = everything
# added since, timed min-of-1 (coverage without blowing the budget).
CORE_QUERIES = [
    "rel_pricing_summary",
    "rel_top_customers",
    "rel_order_rank_window",
    "rel_events_tumbling",
    "kg_gold_mentions",
    "kg_priority_flat",
    "kg_metrics_micro",
    "kg_mentions_crf",
    "ds_exact_dedup",
    "ds_ngram_jaccard",
    "ds_token_stats",
    "ds_quality",
    "ds_fingerprint",
    "ds_cosine_topk",
    "ds_lsh_ann",
    "ds_simhash_pairs",
    "ds_lang_id",
    "ds_minhash_lsh_pairs",
    "ds_embedding_neardup",
]

EXTENDED_QUERIES = [
    "kg_train_tagger",
    "ds_kmeans",
    "ds_inverted_index",
    "ds_chunk_documents",
    "rel_funnel",
    "ds_heavy_hitters",
    "ds_hll_distinct",
    "ds_bloom_membership",
    "ds_bm25_topk",
    "ds_bigram_lm_score",
    "ds_substring_dedup",
    "ds_lm_buckets",
    "kg_fuzzy_aliases",
    "rel_snapshot_diff",
    "ds_golden_record",
    "rel_concurrency_profile",
    "rel_interval_join",
    "rel_skyline",
    "ds_weighted_reservoir",
    "rel_benford_audit",
    "ds_ngram_novelty",
    "rel_cusum_changepoint",
    "ds_embedding_gram",
    "ds_chi2_keywords",
    "rel_k_anonymity",
    "ds_distribution_drift",
    "ds_ks_drift",
    "ds_dsir_select",
    "ds_pca_outliers",
    "rel_column_stats",
    "ds_bootstrap_ci",
    "ds_prefix_pairs",
    "ds_rrf_fusion",
    "rel_zone_maps",
    "ds_cdc_chunks",
    "rel_multiple_regression",
    "rel_dynamic_pruning",
    "ds_sorted_neighborhood",
    "ds_hll_rollup",
    "ds_lsh_scurve",
]

PHASES = ("headline", "scaling", "extended")

#: min-of-N repetitions per CORE query: the min is the noise-robust
#: estimator of a plan's cost on a shared host
QUERY_REPS = 3
#: corpus replication of the scaling job (REP x the sf0.1 corpus).
#: Sized by measurement so the local[4] timed run lasts long enough that
#: its fixed cost (job scheduling, Arrow hand-off) is a small share.
SCALING_REP = 24
#: the BASELINE N -> 4N efficiency bound, reported next to the measurement
SCALING_BOUND = 0.8
#: the scaling phase is skipped when less than this is left of the budget
#: (two child sessions at local[1] and local[4]: 239 s measured on 4 vCPUs)
SCALING_EST_SEC = 300.0


def _sink(df) -> None:
    """Force full execution without driver materialization (noop sink)."""
    df.write.mode("overwrite").format("noop").save()


def _warm_workers(spark, c) -> None:
    """Spawn the Python workers and ship the pyfiles zip once, so a timed
    region measures steady-state throughput (a cluster's executors are
    long-lived; per-job worker spawn is not the workload)."""
    from ehr_ner_spark.operators.mention_detect import detect_mentions

    par = spark.sparkContext.defaultParallelism
    _sink(detect_mentions(c.limit(4 * par), num_partitions=par))


def _run_scoring(spark, sf_dir: str, rep: int) -> tuple[float, int]:
    """Throughput of the compute-bound stage (battery scoring + decode).
    ``rep`` replicates the corpus so core-time dwarfs fixed job overhead
    at both parallelism levels (same input, same rep at both levels ->
    same job)."""
    from pyspark.sql import functions as F

    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.operators.mention_detect import detect_mentions

    par = spark.sparkContext.defaultParallelism
    c = corpus(spark, sf_dir).select("doc_id", "repo", "content_sha", "content")
    # repartition the small corpus FIRST, replicate map-side after (the
    # broadcast cross join preserves partitioning): shuffling rep x content
    # would measure the local disk, not the engine
    big = (
        c.repartition(4 * par, "doc_id")
        .crossJoin(F.broadcast(spark.range(rep).select(F.col("id").alias("rep_id"))))
        .drop("rep_id")
    )
    n_rows = big.count()
    _warm_workers(spark, c)
    best = float("inf")
    for _ in range(2):  # min-of-2: shields against machine noise
        t0 = time.time()
        _sink(detect_mentions(big))
        best = min(best, time.time() - t0)
    return best, n_rows


def _run_pipeline(spark, sf_dir: str) -> float:
    """Wall time of one real ``run_pipeline`` on a fresh table root."""
    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.pipeline import run_pipeline

    _warm_workers(spark, corpus(spark, sf_dir))
    with tempfile.TemporaryDirectory(prefix="bench-kg-") as root:
        t0 = time.time()
        run_pipeline(spark, sf_dir, root)
        return time.time() - t0


def _scaling_child_run(cores: int) -> tuple[float, int]:
    """Run ``_run_scoring`` at ``local[cores]`` in a child process: one
    JVM per measurement (a stopped SparkContext leaves GC/daemon residue
    that pollutes the next session's timing in-process)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scaling-child",
         str(cores)],
        capture_output=True, text=True, check=True,
    )
    d = json.loads(proc.stdout.strip().splitlines()[-1])
    return d["sec"], d["n_rows"]


def _scaling_child(cores: int) -> None:
    from ehr_ner_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{cores}", master=f"local[{cores}]")
    sec, n_rows = _run_scoring(spark, SF_DIR, SCALING_REP)
    spark.stop()
    print(json.dumps({"sec": sec, "n_rows": n_rows}))


def _emit(out: dict, final: bool = False) -> None:
    """Print the full accumulated result as one JSON line and mirror it
    atomically to the partial file; a failed file write never loses the
    stdout line, which is the artifact of record."""
    out["partial"] = not final
    line = json.dumps(out)
    print(line, flush=True)
    try:
        path = os.environ.get(
            "SPARK_GRAFT_BENCH_PARTIAL",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH", "last_run_partial.json"),
        )
        with open(path + ".tmp", "w") as f:
            f.write(line)
        os.replace(path + ".tmp", path)
    except OSError:
        pass


def _phase_list(arg: str) -> set[str]:
    phases = {p.strip() for p in arg.split(",") if p.strip()}
    unknown = phases - set(PHASES)
    if unknown:
        raise argparse.ArgumentTypeError(
            f"unknown phase(s) {sorted(unknown)}; choose from {PHASES}")
    return phases


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--phases", type=_phase_list, default=set(PHASES),
                    help="comma-separated subset of " + ",".join(PHASES))
    ap.add_argument("--scaling-child", type=int, metavar="CORES",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.scaling_child:
        _scaling_child(args.scaling_child)
        return
    phases = args.phases

    from ehr_ner_spark.session import default_cpus

    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "2700"))
    if budget <= 0:
        budget = float("inf")
    t0_all = time.time()

    def left() -> float:
        return budget - (time.time() - t0_all)

    timings: dict[str, float] = {}
    out: dict = {
        "metric": "kg_pipeline+headline_queries wall-clock",
        "value": 0.0,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "n_docs": None,
        "bench_budget_sec": None if budget == float("inf") else budget,
        "phases_skipped": [],
        "queries_skipped": [],
    }

    def emit(final: bool = False) -> None:
        out["value"] = round(sum(timings.values()), 3)
        out["bench_elapsed_sec"] = round(time.time() - t0_all, 1)
        _emit(out, final)

    def session():
        from ehr_ner_spark.session import get_spark

        spark = get_spark(app_name="bench")
        if out["n_docs"] is None:
            out["n_docs"] = spark.read.parquet(
                f"{SF_DIR}/documents.parquet").count()
        return spark

    def time_queries(spark, names: list[str], reps: int) -> None:
        from ehr_ner_spark import entrypoints
        from ehr_ner_spark.cache import release_all

        for name in names:
            if left() < 60:
                out["queries_skipped"] += [q for q in names if q not in timings]
                break
            fn = entrypoints.QUERIES_REGISTRY[name]
            best = float("inf")
            for i in range(reps):
                # extra reps only while the budget is young: the phases
                # behind this one need the clock more
                if i and time.time() - t0_all > 0.20 * budget:
                    break
                t0 = time.time()
                _sink(fn(spark, SF_DIR))
                best = min(best, time.time() - t0)
                # tracked caches released between reps: every rep pays the
                # full plan and persisted frames never accumulate
                release_all()
            timings[name] = round(best, 3)
            emit()

    if "headline" in phases:
        spark = session()
        sec = _run_pipeline(spark, SF_DIR)
        timings["kg_pipeline"] = round(sec, 3)
        out["docs_per_sec"] = round(out["n_docs"] / sec, 2)
        emit()
        time_queries(spark, CORE_QUERIES, QUERY_REPS)
        spark.stop()

    if "scaling" in phases:
        if left() < SCALING_EST_SEC:
            out["phases_skipped"].append("scaling (budget)")
        else:
            n_lo = max(1, default_cpus() // 4)
            n_hi = 4 * n_lo
            scaling = out["scaling"] = {
                "stage": "battery scoring + IOB2 decode (mapInPandas)",
                "rep": SCALING_REP,
                "n_lo": n_lo,
                "n_hi": n_hi,
                "bound": SCALING_BOUND,
            }
            # a failed child must not kill the bench: everything measured
            # so far stays reportable
            try:
                t_lo, n_rows = _scaling_child_run(n_lo)
                t_hi, _ = _scaling_child_run(n_hi)
            except (subprocess.CalledProcessError, ValueError, IndexError) as e:
                scaling["error"] = repr(e)[:200]
            else:
                scaling.update({
                    "n_docs_scored": n_rows,
                    f"local{n_lo}_sec": round(t_lo, 3),
                    f"local{n_hi}_sec": round(t_hi, 3),
                    "efficiency": round((t_lo / t_hi) / 4.0, 3),
                })
        emit()

    if "extended" in phases:
        spark = session()
        time_queries(spark, EXTENDED_QUERIES, 1)
        spark.stop()

    emit(final=True)


if __name__ == "__main__":
    main()
