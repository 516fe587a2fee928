"""Kernel layer (no Spark): tokenize, WordPiece split and battery scoring.

Run as a fresh process so the module memos (``wordpiece._WP_MEMO`` and the
scorer's token memo) start cold::

    python3 perfbench/kernel_probe.py <documents.parquet> <sample_docs>

Prints one JSON object: kernel rates over the first ``sample_docs``
documents, and token and piece counts over the whole corpus.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from ehr_ner_spark.kernel.predict import predict_battery  # noqa: E402
from ehr_ner_spark.kernel.scorer import DeterministicQAScorer  # noqa: E402
from ehr_ner_spark.kernel.wordpiece import tokenize_text, wp_split  # noqa: E402
from ehr_ner_spark.queries_battery import QUERIES  # noqa: E402


def kernel_rates(sample: list[str]) -> dict:
    """Tokenize and battery-scoring rates, cold memos, over ``sample``."""
    t0 = time.perf_counter()
    tokens = [tokenize_text(t) for t in sample]
    t1 = time.perf_counter()
    scorer = DeterministicQAScorer()
    battery = [(tag, tokenize_text(q)) for tag, q in QUERIES.items()]
    spans = sum(len(predict_battery(scorer, battery, toks, pid=i))
                for i, toks in enumerate(tokens))
    t2 = time.perf_counter()
    pieces = [p for toks in tokens for tok in toks for p in wp_split(tok)]
    n = len(sample)
    return {
        "kernel.tokenize_docs_per_s": n / (t1 - t0),
        "kernel.predict_docs_per_s": n / (t2 - t1),
        "kernel.pieces_per_doc": len(pieces) / n,
        "kernel.distinct_piece_ratio": len(set(pieces)) / len(pieces),
        "kernel.spans_per_doc": spans / n,
    }


def corpus_props(texts: list[str]) -> dict:
    """Documents, tokens and distinct WordPiece pieces of a whole corpus."""
    pieces: set = set()
    n_tokens = 0
    for text in texts:
        toks = tokenize_text(text)
        n_tokens += len(toks)
        for tok in toks:
            pieces.update(wp_split(tok))
    return {"workload.docs": len(texts), "workload.tokens": n_tokens,
            "workload.distinct_pieces": len(pieces)}


def main(argv: list[str]) -> None:
    path, sample_docs = argv[0], int(argv[1])
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    print(json.dumps({**kernel_rates(texts[:sample_docs]),
                      **corpus_props(texts)}))


if __name__ == "__main__":
    main(sys.argv[1:])
