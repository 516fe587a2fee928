#!/usr/bin/env python
"""Volume/skew stress for the linking stage (VERDICT r2 follow-up: push the
round-2 10x run to 100x duplication).

Every sf document is replicated K times under distinct doc_ids with
IDENTICAL content — the adversarial case for entity linking: every surface
form is a head key, every LSH bucket is maximally loaded, and the
surface-form graph is as dense as the corpus allows.  The run must complete
with the structural guards holding:

* the mention->surface groupBy collapses the duplicated stream map-side;
* oversized LSH buckets emit O(n) chain pairs (PAIR_CAP guard), never
  O(n^2);
* connected components auto-selects its strategy by edge count.

Prints ONE JSON line with per-stage wall clock, throughput, and the guard
stats (max bucket size, oversized-bucket count, pairs/edges/components).

Usage:  python jobs/skew_stress.py [K] [sf_dir]       (default 100, sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.operators.linking import (
        PAIR_CAP,
        band_frame,
        candidate_pairs,
        canonical_triples,
        canonicalize,
        connected_components,
        surface_signatures,
        verified_edges,
    )
    from ehr_ner_spark.operators.mention_detect import detect_mentions
    from ehr_ner_spark.session import default_cpus, get_spark

    cpus = default_cpus()
    spark = get_spark(
        app_name=f"skew-stress-{k}x",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    par = spark.sparkContext.defaultParallelism

    zipf = os.environ.get("SPARK_GRAFT_SKEW_ZIPF", "0") == "1"
    c = corpus(spark, sf_dir)
    n_base = c.count()
    if zipf:
        # Zipf-head duplication: doc at popularity rank r (by doc_id hash,
        # deterministic) is replicated ~K/r times, so a few head documents
        # carry most of the duplicated mass — the adversarial profile for
        # the PAIR_CAP chain guard (uniform x K loads every bucket equally;
        # Zipf concentrates one bucket family) while the total volume stays
        # ~K * H(n)/n ... per-doc replication is computed as a column and
        # exploded, so the inflation never crosses a shuffle
        reps = F.greatest(
            F.lit(1),
            (F.lit(k) / (F.pmod(F.xxhash64("doc_id"), F.lit(1000)) + F.lit(1)))
            .cast("long"),
        )
        big = (
            c.repartition(4 * par, "doc_id")
            .withColumn("rep", F.explode(F.sequence(F.lit(0), reps - F.lit(1))))
            # rep < k, so doc_id * k + rep is distinct for every doc_id >= 0
            .withColumn("doc_id", F.col("doc_id") * F.lit(k) + F.col("rep"))
            .drop("rep")
        )
        n_docs = big.count()
    else:
        big = (
            c.repartition(4 * par, "doc_id")
            .crossJoin(
                F.broadcast(spark.range(k).select(F.col("id").alias("rep")))
            )
            # rep < k, so doc_id * k + rep is distinct for every doc_id >= 0
            .withColumn("doc_id", F.col("doc_id") * F.lit(k) + F.col("rep"))
            .drop("rep")
        )
        n_docs = n_base * k

    # warm the Python workers so stage timings are steady-state
    detect_mentions(c.limit(4 * par), num_partitions=par).write.mode(
        "overwrite"
    ).format("noop").save()

    t0 = time.time()
    m = detect_mentions(big, num_partitions=0).persist()
    n_mentions = m.count()
    t_detect = time.time() - t0

    t0 = time.time()
    canon = canonicalize(m)
    trip = canonical_triples(m, canon)
    trip.write.mode("overwrite").format("noop").save()
    t_link = time.time() - t0

    # --- guard statistics (diagnostic pass, not counted in throughput) ---
    sigs = surface_signatures(m).persist()
    n_surfaces = sigs.count()
    bands = band_frame(sigs)
    bstats = (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.max("sz").alias("max_bucket"),
            F.sum(F.when(F.col("sz") > PAIR_CAP, 1).otherwise(0)).alias(
                "oversized_buckets"
            ),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .collect()[0]
    )
    pairs = candidate_pairs(sigs).persist()
    n_pairs = pairs.count()
    edges = verified_edges(sigs, pairs, 0.5).persist()
    n_edges = edges.count()
    n_components = (
        connected_components(sigs.select("surface_id"), edges)
        .select("component").distinct().count()
    )

    out = {
        "metric": "skew-stress linking",
        "k": k,
        "zipf": zipf,
        "sf": sf_dir,
        "n_docs": n_docs,
        "n_mentions": n_mentions,
        "detect_sec": round(t_detect, 1),
        "link_sec": round(t_link, 1),
        "docs_per_sec": round(n_docs / (t_detect + t_link), 1),
        "guards": {
            "pair_cap": PAIR_CAP,
            "n_distinct_surfaces": n_surfaces,
            "n_band_buckets": int(bstats["n_buckets"]),
            "max_bucket_size": int(bstats["max_bucket"]),
            "oversized_buckets": int(bstats["oversized_buckets"]),
            "candidate_pairs": n_pairs,
            "verified_edges": n_edges,
            "components": n_components,
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
