"""Flat-SL mention detection (model family #2, U2), its CRF variant (#4) and
the per-token SL label stream behind the reference's 4-model side-by-side
evaluation (results/evaluate.py:121-197).

Both detectors run ``mention_detect._detect_stage``; each supplies only
its per-worker decode kernel, whose closure carries the type list.
``num_partitions`` means what it means there: ``None`` keeps the caller's
partitioning, ``n > 0`` repartitions on ``doc_id`` into ``n`` tasks."""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame

from ..kernel.sl import DeterministicSLScorer, sl_merged_labels, sl_predict
from ..kernel.wordpiece import tokenize_text
from ..queries_battery import QUERIES
from .mention_detect import _detect_stage

TOKEN_LABEL_SCHEMA = "pid long, pos int, label string"


def detect_mentions_sl(
    corpus_df: DataFrame,
    types: Optional[Sequence[str]] = None,
    num_partitions: Optional[int] = None,
    max_seq_length: int = 512,
) -> DataFrame:
    """corpus -> flat (non-overlapping) mentions via the SL label space."""
    types = list(types or QUERIES.keys())

    def make_decode():
        scorer = DeterministicSLScorer(types)
        return lambda toks, pid: sl_predict(
            scorer, toks, pid=pid, max_seq_length=max_seq_length
        )

    return _detect_stage(corpus_df, make_decode, num_partitions)


def sl_token_label_stream(
    corpus_df: DataFrame,
    types: Optional[Sequence[str]] = None,
    num_partitions: Optional[int] = None,
    max_seq_length: int = 512,
) -> DataFrame:
    """Per-token SL label stream (pid, pos, label) — the y_pred of the
    reference's token metrics (eval.py:39-47, metrics_sl.py:243-270):
    merged wordpiece labels (head keeps label), specials stripped, BEFORE
    the span decode.  Same Arrow-batched shape as detect_mentions_sl; the
    DuckDB twin is mention_sql.sl_token_labels_ctes."""
    from ..pyfiles import ensure_shipped

    ensure_shipped(corpus_df.sparkSession)
    types = list(types or QUERIES.keys())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = DeterministicSLScorer(types)
        for pdf in batches:
            rows = [
                (int(doc_id), pos, lab)
                for doc_id, content in zip(pdf["doc_id"], pdf["content"])
                for pos, lab in enumerate(sl_merged_labels(
                    scorer, tokenize_text(content), max_seq_length
                )[1])
            ]
            yield pd.DataFrame(rows, columns=["pid", "pos", "label"])

    inp = corpus_df.select("doc_id", "content")
    if num_partitions:
        inp = inp.repartition(num_partitions, "doc_id")
    return inp.mapInPandas(run, TOKEN_LABEL_SCHEMA)


def detect_mentions_sl_crf(
    corpus_df: DataFrame,
    types: Optional[Sequence[str]] = None,
    num_partitions: Optional[int] = None,
    max_seq_length: int = 512,
) -> DataFrame:
    """Model family #4: flat SL + 65-label CRF decode
    (api/bert_sl_predictor.py:44-46 with_bilstmcrf=True; kernel/sl_crf.py).
    Same plan as detect_mentions_sl — only the decode kernel differs."""
    from ..kernel.scorer import DeterministicQAScorer
    from ..kernel.sl_crf import sl_crf_predict

    types = list(types or QUERIES.keys())

    def make_decode():
        scorer = DeterministicQAScorer()
        return lambda toks, pid: sl_crf_predict(
            scorer, types, toks, pid=pid, max_seq_length=max_seq_length
        )

    return _detect_stage(corpus_df, make_decode, num_partitions)
