"""End-to-end KG-construction pipeline with per-stage Iceberg-layout
checkpoints (the Spark re-expression of the reference's dataPipeline chain,
/root/reference/data_process/dataPipeline.py:13-75, with the linking +
canonicalization stages the north rule adds).

Stages (each resumable at bucket granularity; a killed run re-runs only the
buckets missing from the CURRENT manifest):

  1. mentions   — query-battery mention detection   (bucket key: doc_id)
  2. canon      — surface canonicalization map      (bucket key: text)
  3. triples    — canonical graph materialization   (bucket key: doc_id)

The mentions stage scores only the documents of its pending buckets.  It
range-partitions the scorer's input on the bucket id into one task per
core (at most one per pending bucket; more, smaller tasks measured
slower, as each scorer task has a fixed cost): AQE does not coalesce a
repartition with an explicit count, so every core scores; a range split
balances whole buckets across the tasks, where hashing the few bucket
ids collides (16 buckets over 4 tasks hash to 6/4/3/3); and each bucket
lands in exactly one task, so it still commits as one parquet file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .corpus import corpus
from .io.icetable import CommitConflict, IceTable, bucket_of
from .operators.linking import canonical_triples, canonicalize
from .operators.mention_detect import detect_mentions


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    n_buckets: int = 16,
    fail_after: dict | None = None,
) -> DataFrame:
    """Run (or resume) the full pipeline; returns the triples DataFrame.

    ``fail_after``: optional {stage: k} test hook — commit only k buckets of
    that stage then raise (simulated crash).
    """
    fail_after = fail_after or {}
    t = IceTable(table_root)
    frames: dict = {}

    def detect() -> DataFrame:
        pending = t.pending_buckets("mentions", n_buckets)
        bucket = bucket_of("doc_id", n_buckets)
        tasks = min(len(pending), spark.sparkContext.defaultParallelism)
        docs = (
            corpus(spark, sf_dir)
            .where(bucket.isin(pending))
            .repartitionByRange(tasks, bucket)
        )
        return detect_mentions(docs)

    stages = (
        ("mentions", "doc_id", detect),
        ("canon", "text", lambda: canonicalize(frames["mentions"])),
        ("triples", "doc_id",
         lambda: canonical_triples(frames["mentions"], frames["canon"])),
    )
    for stage, bucket_key, build in stages:
        if not t.stage_complete(stage, n_buckets):
            t.write_stage(
                build(), stage, bucket_key=bucket_key, n_buckets=n_buckets,
                fail_after_buckets=fail_after.get(stage),
            )
            if stage in fail_after:
                raise RuntimeError(
                    f"simulated crash after partial {stage} commit"
                )
        frames[stage] = t.read_stage(spark, stage)
    return frames["triples"]


def main(argv: list[str] | None = None) -> None:
    """spark-submit entrypoint (north rule launch mode)::

        make dist    # builds dist/ehr_ner_spark.zip from the tree
        spark-submit --py-files dist/ehr_ner_spark.zip \
            -m … ehr_ner_spark/pipeline.py \
            --sf-dir /root/testdata/sf0.01 --table-root /tmp/kg --buckets 16

    Re-running after a crash resumes from the last committed bucket.
    """
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--table-root", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("ehr-ner-kg-pipeline").getOrCreate()
    try:
        triples = run_pipeline(
            spark, args.sf_dir, args.table_root, n_buckets=args.buckets
        )
        n = triples.count()
    except CommitConflict as e:
        # committed buckets are durable: a rerun skips them and retries
        # only what this run could not commit
        raise SystemExit(
            f"PIPELINE_CONFLICT {e}\nAnother writer committed to "
            f"{args.table_root} concurrently; re-invoke the same command "
            "to resume from the committed buckets."
        ) from e
    finally:
        spark.stop()
    print(f"PIPELINE_OK triples={n} table={args.table_root}")


if __name__ == "__main__":
    main()
