#!/usr/bin/env python
"""One-shot graph-analytics report over the knowledge graph (user-facing
composition of the kg_* graph operators — VERDICT r3 follow-up #9)::

    make dist    # builds dist/ehr_ner_spark.zip from the tree
    spark-submit --py-files dist/ehr_ner_spark.zip jobs/graph_report.py \
        [sf_dir] [out_dir]

Defaults: sf_dir=/root/testdata/sf0.01, out_dir=/tmp/kg_graph_report.

Runs mention detection ONCE, derives the two graph views every analysis
shares — the undirected entity co-occurrence edge set and the directed
doc->entity triple set — persists them, and fans the analytics out over
the shared frames (the registry queries each re-detect mentions because
the driver times them in isolation; a production report amortizes the
scorer pass across all of them):

* pagerank        — influence ranking over the bipartite doc/entity graph
* hits            — hubs (docs) & authorities (entities)
* communities     — label-propagation entity communities + modularity
* k_core / k_truss— density backbones (node-level and edge-level bars)
* components      — connected components of the co-occurrence graph
* stress          — landmark-pair stress centrality (integer Brandes kin)
* link_prediction — common-neighbor top-k missing-edge candidates
* linkpred_auc    — held-out AUC audit of that scorer

Each section lands as parquet under ``<out_dir>/<section>/`` plus a
one-line JSON summary on stdout (row counts + wall clock per section) —
the shape a nightly cluster cron would ship to a dashboard.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/kg_graph_report"
    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.operators.communities import (
        entity_components,
        entity_edges,
        k_core,
        k_truss,
        label_propagation,
        modularity,
    )
    from ehr_ner_spark.operators.hits import hits
    from ehr_ner_spark.operators.linkpred import link_prediction, linkpred_auc
    from ehr_ner_spark.operators.mention_detect import (
        detect_mentions,
        mentions_as_triples,
    )
    from ehr_ner_spark.operators.pagerank import pagerank
    from ehr_ner_spark.operators.paths import stress_centrality
    from ehr_ner_spark.session import default_cpus, get_spark

    cpus = default_cpus()
    spark = get_spark(
        app_name="kg-graph-report",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )

    report: dict = {"metric": "kg graph-analytics report", "sf": sf_dir,
                    "out": out_dir, "sections": {}}

    t0 = time.time()
    # num_partitions=2*cpus: the scorer stage is this job's most expensive
    # pass, and a raw parquet scan of the small corpus may arrive in 1-2
    # tasks — repartition so the battery scoring actually uses the cores
    # (the default, None, would keep whatever the scan produced)
    mentions = detect_mentions(
        corpus(spark, sf_dir), num_partitions=2 * cpus
    ).persist()
    n_mentions = mentions.count()
    report["n_mentions"] = n_mentions
    report["detect_sec"] = round(time.time() - t0, 1)

    # the two shared graph views: every section below reads one of these
    edges = entity_edges(mentions).persist()
    triples = mentions_as_triples(mentions).persist()
    report["n_edges"] = edges.count()
    report["n_triples"] = triples.count()

    def section(name: str, df) -> None:
        t = time.time()
        path = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        report["sections"][name] = {"rows": n, "sec": round(time.time() - t, 1)}

    section("pagerank", pagerank(triples))
    section("hits", hits(triples))
    labels = label_propagation(edges).persist()
    section("communities", labels)
    section("modularity", modularity(edges, labels))
    section("k_core", k_core(edges))
    section("k_truss", k_truss(edges))
    section("components", entity_components(edges))
    section("stress", stress_centrality(edges))
    section("link_prediction", link_prediction(edges))
    section("linkpred_auc", linkpred_auc(edges))

    report["total_sec"] = round(time.time() - t0, 1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
