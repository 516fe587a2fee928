"""Benchmark of the resumable KG pipeline (``pipeline.run_pipeline``).

One closed-loop client runs one pipeline at a time on ``local[nproc]``:
detect -> canonicalize -> triples, every IceTable commit included.  Run
from the repository root::

    python3 perfbench/run.py --workload detect_heavy --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
runs the traced pass and reports the per-layer metrics.  Human-readable
lines come first; the last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  See
``perfbench/README.md`` for the workloads and the metric -> layer map.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()  # setup_s runs from here to the first timed run

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from harness import (  # noqa: E402
    END_TO_END_UNITS,
    HERE,
    SAMPLE_DOCS,
    Bench,
    Checks,
    engine_rows,
    inspect_table,
    measure,
    nproc,
    oracle_rows,
    start_session,
    stop_session,
    tail_percentile,
)

ROOT = os.path.dirname(HERE)


# -- the benchmark ------------------------------------------------------------

def setup(args, work: str, checks: Checks, st: dict) -> None:
    """Everything before the first timed run: inputs, session, the
    reference (warm-up) run and the sample oracle check.  Fills the run
    state ``st``; the session is in it as soon as it exists, so the caller
    can stop it."""
    from ehr_ner_spark.entrypoints import ORACLE_REGISTRY
    from workloads import WORKLOADS, make_documents, write_documents

    w = WORKLOADS[args.workload]
    docs = make_documents(w, args.seed)
    full = write_documents(docs, os.path.join(work, "full"))
    sample = write_documents(docs.slice(0, SAMPLE_DOCS), os.path.join(work, "sample"))
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    st.update(full=full, event_dir=event_dir)

    with ThreadPoolExecutor(max_workers=1) as pool:
        t0 = time.perf_counter()
        spark = st["spark"] = start_session(work, event_dir)
        st["session.start_s"] = time.perf_counter() - t0
        # the DuckDB twin runs while the engine warms up
        oracle = pool.submit(oracle_rows, sample,
                             ORACLE_REGISTRY["kg_canonical_triples"],
                             os.path.join(work, "tmp"))
        bench = Bench(spark, work, full, docs.num_rows)
        t0 = time.perf_counter()
        # the reference run is also the warm-up: the JVM, the Python workers
        # and the code caches pay their first-use cost here, untimed, on the
        # full corpus (a cold sample run left the first full run after it
        # 10-28% slower than the next); every later run must reproduce it
        ref = checks.reference = bench.iteration()
        phases = {"reference_run": ref.wall_s}
        sample_root = bench.fresh_root()
        phases["sample_run"] = bench.run(sample_root, sf_dir=sample)
        checks.record(inspect_table(sample_root, 0.0).head_mentions == ref.head_mentions,
                      "sample-run mentions differ from the full run's")
        t1 = time.perf_counter()
        try:
            ok = engine_rows(sample_root) == oracle.result()
        except Exception:  # noqa: BLE001 - an oracle error fails the check
            traceback.print_exc()
            ok = False
        phases["oracle_wait"] = time.perf_counter() - t1
        checks.record(ok, "sample triples differ from the DuckDB oracle")
        shutil.rmtree(sample_root, ignore_errors=True)
        st["session.warmup_s"] = time.perf_counter() - t0
    print("setup phases (s): session_start=%.2f " % st["session.start_s"]
          + " ".join(f"{k}={v:.2f}" for k, v in phases.items()),
          file=sys.stderr, flush=True)
    st["bench"] = bench


def end_to_end(args, st: dict, checks: Checks) -> dict:
    bench = st["bench"]
    samples = measure(bench.iteration, args.seconds, checks)
    from kernel_probe import corpus_props

    texts = _texts(st["full"])
    props = {**corpus_props(texts),
             "workload.distinct_surfaces": checks.reference.surfaces}
    walls = [s.wall_s for s in samples]
    metrics = {
        "docs_per_s": bench.n_docs / statistics.median(walls) if walls else 0.0,
        "stored_bytes_per_triple":
            statistics.median(s.bytes_per_triple for s in samples) if samples else 0.0,
        "setup_s": st["setup_s"],
    }
    tail = tail_percentile(len(walls))
    print(f"  docs_per_s: median of n={len(walls)} timed runs "
          f"(run walls {', '.join(f'{x:.2f}' for x in walls)} s); "
          + (f"p{tail:g} run wall {_pct(walls, tail):.3f} s" if tail else
             "no tail percentile: fewer than 10 samples beyond any"))
    print("  workload: " + " ".join(f"{k.split('.', 1)[1]}={v}" for k, v in props.items()))
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}


def _texts(sf_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()


def _pct(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * p / 100))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ehr_ner_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(ehr_ner_spark.__file__))) != ROOT:
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    for sub in ("tmp", "tables"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    checks = Checks()
    st: dict = {}
    try:
        setup(args, work, checks, st)
        st["setup_s"] = time.time() - PROCESS_START
        print(f"perfbench workload={args.workload} seed={args.seed} "
              f"trace={args.trace} docs={st['bench'].n_docs} nproc={nproc()}")
        if args.trace:
            from tracing import traced_metrics

            metrics = traced_metrics(args, st, checks)
        else:
            metrics = end_to_end(args, st, checks)
    finally:
        if "spark" in st:
            stop_session(st["spark"])
        shutil.rmtree(work, ignore_errors=True)
    for name, m in metrics.items():
        print(f"  {name:<48} {m['value']:>16.6g} {m['unit']}")
    print(f"  checks: failed/attempted = {checks.failed}/{checks.attempted}")
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}))
    return 0


def run_all(args, names: list[str]) -> int:
    """Run every workload in its own process and print each one's report."""
    rc = 0
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        print(out.stdout.rstrip(), flush=True)
        rc = rc or out.returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
