"""Flagship operator: query-battery mention detection (triple extraction
stage 1), and the one Spark stage that every span-detection model family
runs.

Reference semantics: ``predict_overall`` fans every passage out to the
31-query battery, scores each (query, passage) pair with BERT-QASL, decodes
IOB2 spans, and unions the per-type results so overlapping (nested) spans of
different types coexist (/root/reference/api/bert_qasl_predictor.py:38-48,
W8 overlay — no cross-type dedup).

:func:`_detect_stage` is the whole Spark plan: an optional doc-hash
repartition, then one iterator-of-batches ``mapInPandas``.  A family
supplies only a zero-argument, picklable factory, called once per Python
worker, that returns ``decode(tokens, pid) -> spans``; its closure carries
the battery and builds the scorer, so the model stays resident per worker
(the reference's long-lived predictor, bert_qasl_predictor.py:32-36).  The
docs x queries expansion happens inside ``decode``, never as a physical
``crossJoin``: each document crosses Arrow and is tokenized exactly once,
and only the (small) span rows are amplified.  ``num_partitions=None``
keeps the caller's partitioning (``pipeline.run_pipeline`` range-partitions
by IceTable bucket, so each bucket is scored and committed by one task);
``n > 0`` runs ``repartition(n, "doc_id")``, which AQE does not coalesce.

Families: QASL softmax (:func:`detect_mentions`), QASL + BiLSTM-CRF
(:func:`detect_mentions_crf`), flat SL and SL + CRF (``sl_detect.py``) and
BERT-MRC (``mrc_detect.py``).  Output: one row per mention,
``(doc_id, repo, content_sha, type, start_pos, end_pos, text)`` with
inclusive token positions over the document's ``passage_tokens``.
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, Optional

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

from ..kernel.predict import predict_battery, predict_battery_crf
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


def _detect_stage(
    corpus_df: DataFrame,
    make_decode: Callable[[], Callable],
    num_partitions: Optional[int],
) -> DataFrame:
    """corpus -> mentions through ``make_decode()``'s
    ``decode(tokens, pid) -> [(pid, type, start, end, text), ...]``."""
    from ..pyfiles import ensure_shipped

    ensure_shipped(corpus_df.sparkSession)  # workers import the kernels

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = make_decode()  # once per worker
        for pdf in batches:
            rows = [
                (int(doc_id), repo, sha, typ, s, e, txt)
                for doc_id, repo, sha, content in zip(
                    pdf["doc_id"], pdf["repo"], pdf["content_sha"], pdf["content"]
                )
                for (_pid, typ, s, e, txt) in decode(
                    tokenize_text(content), int(doc_id)
                )
            ]
            yield pd.DataFrame(rows, columns=MENTION_SCHEMA.fieldNames())

    inp = corpus_df.select("doc_id", "repo", "content_sha", "content")
    if num_partitions:
        inp = inp.repartition(num_partitions, "doc_id")
    return inp.mapInPandas(run, MENTION_SCHEMA)


def _battery_decoder(predict, queries, max_seq_length, scorer_factory):
    """Per-worker factory for a whole-battery QASL decode kernel."""

    def make_decode():
        scorer = scorer_factory()
        battery = [(tag, tokenize_text(q)) for tag, q in queries.items()]
        return lambda toks, pid: predict(
            scorer, battery, toks, pid=pid, max_seq_length=max_seq_length
        )

    return make_decode


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
    make_decode = _battery_decoder(
        predict_battery, dict(queries or QUERIES), max_seq_length, scorer_factory
    )
    return _detect_stage(corpus_df, make_decode, num_partitions)


def detect_mentions_crf(
    corpus_df: DataFrame,
    queries: Optional[Dict[str, str]] = None,
    num_partitions: Optional[int] = None,
    max_seq_length: int = 512,
) -> DataFrame:
    """corpus -> CRF-decoded mentions (U3/W4/W6, the BertBiLSTMCRF-QASL
    family; models/bertbilstmcrf_qasl.py:16-92, models/crf_layer.py:264-340).
    Same plan as :func:`detect_mentions`; only the decode kernel differs
    (``kernel/predict.py::predict_battery_crf``, whose per-worker memo of
    the Viterbi prefixes is keyed by scorer and question)."""
    make_decode = _battery_decoder(
        predict_battery_crf, dict(queries or QUERIES), max_seq_length,
        DeterministicQAScorer,
    )
    return _detect_stage(corpus_df, make_decode, num_partitions)


def mentions_as_triples(mentions: DataFrame) -> DataFrame:
    """Raw (pre-canonicalization) triples:
    ``(subj=doc:<id>, pred=hasEntityType:<type>, obj=surface text)``."""
    return mentions.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("hasEntityType:"), F.col("type")).alias("pred"),
        F.col("text").alias("obj"),
        "doc_id", "repo", "content_sha", "type", "start_pos", "end_pos",
    )
