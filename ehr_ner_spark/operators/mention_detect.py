"""Flagship operator: query-battery mention detection (triple extraction
stage 1).

Reference semantics: ``predict_overall`` fans every passage out to the
31-query battery, scores each (query, passage) pair with BERT-QASL, decodes
IOB2 spans, and unions the per-type results so overlapping (nested) spans of
different types coexist (/root/reference/api/bert_qasl_predictor.py:38-48,
W8 overlay — no cross-type dedup).

Spark-first design, NOT a translation of the reference's per-query Python
loop:

* The battery is tiny (31 rows) and the scorer is query-conditioned, so the
  J1 docs x queries expansion is done **inside** the Arrow UDF with the
  battery as a broadcast variable.  This is strictly better at scale than a
  physical ``crossJoin(broadcast(queries))``: the x31 row amplification of
  the (large) ``content`` column never hits the shuffle or the Python
  channel — each document's content crosses Arrow exactly once, is tokenized
  exactly once, and only the (small) span rows are amplified.
* The scorer's input is repartitioned on document hash (the north rule's
  "explicit repartitioning on document hash").  Only an explicit
  ``num_partitions`` fixes the task count: a bare ``repartition(doc_id)``
  is coalesced by AQE, and a sub-MB corpus then scores in ONE task.
  ``num_partitions=0`` keeps the caller's partitioning —
  ``pipeline.run_pipeline`` partitions by IceTable bucket, so each bucket
  is scored, and committed, by exactly one task.
* The UDF is ``mapInPandas`` (iterator-of-batches), so the scorer is
  constructed once per Python worker, not once per row — the model-resident
  pattern the reference gets from a long-lived predictor object
  (bert_qasl_predictor.py:32-36).

Output: one row per detected mention,
``(doc_id, repo, content_sha, type, start_pos, end_pos, text)`` with
inclusive token positions over the document's ``passage_tokens``.
"""

from __future__ import annotations

from typing import Dict, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.predict import predict_battery
from ..kernel.scorer import DeterministicQAScorer
from ..kernel.wordpiece import tokenize_text
from ..queries_battery import QUERIES

MENTION_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("repo", StringType()),
        StructField("content_sha", StringType()),
        StructField("type", StringType()),
        StructField("start_pos", IntegerType()),
        StructField("end_pos", IntegerType()),
        StructField("text", StringType()),
    ]
)


def detect_mentions(
    corpus_df: DataFrame,
    queries: Optional[Dict[str, str]] = None,
    num_partitions: Optional[int] = None,
    max_seq_length: int = 512,
    scorer_factory=DeterministicQAScorer,
) -> DataFrame:
    """corpus (doc_id, repo, content, content_sha, ...) -> mentions.

    ``scorer_factory``: zero-arg picklable callable constructed ONCE per
    Python worker — the model plug point.  Any implementation passing
    ``kernel.scorer.verify_scorer_contract`` (e.g. a torch-backed HF
    checkpoint loader) drops in without touching the Spark plan."""
    queries = dict(queries or QUERIES)
    spark = corpus_df.sparkSession
    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)  # workers import the kernel from the shipped zip
    bc_queries = spark.sparkContext.broadcast(queries)

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = scorer_factory()  # once per worker/partition
        battery = [(tag, tokenize_text(q)) for tag, q in bc_queries.value.items()]
        for pdf in batches:
            rows: dict = {k: [] for k in
                          ("doc_id", "repo", "content_sha", "type",
                           "start_pos", "end_pos", "text")}
            for doc_id, repo, sha, content in zip(
                pdf["doc_id"], pdf["repo"], pdf["content_sha"], pdf["content"]
            ):
                passage_tokens = tokenize_text(content)
                for (_pid, typ, s, e, txt) in predict_battery(
                    scorer, battery, passage_tokens,
                    pid=int(doc_id), max_seq_length=max_seq_length,
                ):
                    rows["doc_id"].append(int(doc_id))
                    rows["repo"].append(repo)
                    rows["content_sha"].append(sha)
                    rows["type"].append(typ)
                    rows["start_pos"].append(s)
                    rows["end_pos"].append(e)
                    rows["text"].append(txt)
            yield pd.DataFrame(rows)

    inp = corpus_df.select("doc_id", "repo", "content_sha", "content")
    if num_partitions == 0:
        pass  # caller already partitioned the input; don't force a shuffle
    elif num_partitions:
        inp = inp.repartition(num_partitions, "doc_id")
    else:
        inp = inp.repartition("doc_id")
    return inp.mapInPandas(score_partition, MENTION_SCHEMA)


def mentions_as_triples(mentions: DataFrame) -> DataFrame:
    """Raw (pre-canonicalization) triples:
    ``(subj=doc:<id>, pred=hasEntityType:<type>, obj=surface text)``."""
    return mentions.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("hasEntityType:"), F.col("type")).alias("pred"),
        F.col("text").alias("obj"),
        "doc_id", "repo", "content_sha", "type", "start_pos", "end_pos",
    )
