"""CRF-path battery detection: fast-path parity, truncation, Spark operator."""

from __future__ import annotations

import random

import pytest

from ehr_ner_spark.kernel.predict import (
    predict_battery_crf,
    predict_one_query_crf,
)
from ehr_ner_spark.kernel.scorer import DeterministicQAScorer
from ehr_ner_spark.kernel.wordpiece import tokenize_text
from ehr_ner_spark.queries_battery import QUERIES

BATTERY = [(tag, tokenize_text(q)) for tag, q in QUERIES.items()]


def _rand_passage(rng: random.Random, n: int) -> str:
    vocab = ["病", "人", "於", "2019", "年", "3", "月", "入", "院", "x",
             "alpha", "beta", ",", ".", "109002", "天", "後"]
    return "".join(rng.choice(vocab) + (" " if rng.random() < 0.3 else "")
                   for _ in range(n))


@pytest.mark.parametrize("seed,n", [(1, 5), (2, 40), (3, 200), (4, 700)])
def test_battery_crf_matches_per_query_loop(seed, n):
    """The prefix-cached vectorized battery path == the naive per-query
    full-sequence Viterbi (bitwise span equality), including truncation
    (n=700 chars exceeds the 512 assembly limit)."""
    rng = random.Random(seed)
    passage = _rand_passage(rng, n)
    toks = tokenize_text(passage)
    scorer = DeterministicQAScorer()
    naive = []
    for tag, q_toks in BATTERY:
        naive.extend(predict_one_query_crf(scorer, tag, q_toks, toks, pid=7))
    fast = predict_battery_crf(scorer, BATTERY, toks, pid=7)
    assert sorted(naive) == sorted(fast)


@pytest.mark.parametrize("seed", [11, 12])
def test_battery_crf_matches_loop_short_maxseq(seed):
    """Same parity at max_seq_length=128 (the registry configuration)."""
    rng = random.Random(seed)
    toks = tokenize_text(_rand_passage(rng, 300))
    scorer = DeterministicQAScorer()
    naive = []
    for tag, q_toks in BATTERY:
        naive.extend(
            predict_one_query_crf(scorer, tag, q_toks, toks, pid=1,
                                  max_seq_length=128)
        )
    fast = predict_battery_crf(scorer, BATTERY, toks, pid=1, max_seq_length=128)
    assert sorted(naive) == sorted(fast)


def test_battery_crf_empty_and_degenerate():
    scorer = DeterministicQAScorer()
    assert predict_battery_crf(scorer, BATTERY, []) == []
    assert predict_battery_crf(scorer, BATTERY, ["x"]) is not None


def test_crf_differs_from_softmax_somewhere():
    """The CRF path is a genuinely different model family: on a large enough
    sample its output differs from softmax top-1 (transitions matter)."""
    from ehr_ner_spark.kernel.predict import predict_battery

    rng = random.Random(99)
    scorer = DeterministicQAScorer()
    diff = 0
    for i in range(20):
        toks = tokenize_text(_rand_passage(rng, 150))
        a = sorted(predict_battery(scorer, BATTERY, toks, pid=i))
        b = sorted(predict_battery_crf(scorer, BATTERY, toks, pid=i))
        diff += a != b
    assert diff > 0


def test_detect_mentions_crf_spark(spark, sf_dir):
    """Spark operator end-to-end + plan shape (single repartition, Arrow)."""
    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.operators.mention_detect import detect_mentions_crf

    c = corpus(spark, sf_dir).limit(30)
    out = detect_mentions_crf(c, num_partitions=4).collect()
    assert len(out) > 0
    # single-node oracle parity on the same docs
    scorer = DeterministicQAScorer()
    rows = c.select("doc_id", "content").collect()
    expected = []
    for r in rows:
        for (pid, typ, s, e, txt) in predict_battery_crf(
            scorer, BATTERY, tokenize_text(r.content), pid=int(r.doc_id)
        ):
            expected.append((pid, typ, s, e, txt))
    got = [(r.doc_id, r.type, r.start_pos, r.end_pos, r.text) for r in out]
    assert sorted(got) == sorted(expected)


def test_battery_crf_prefix_memo_is_scorer_aware():
    """Two different Scorer implementations decoded in one process must not
    share CRF forward prefixes through the module-level memo: the cached
    value is crf_forward_prefix(scorer.logits(...)), so a scorer-blind key
    would silently decode the second scorer's passages with the first
    scorer's question emissions (self-review finding, round 3)."""
    from ehr_ner_spark.kernel.scorer import BigramGateScorer

    rng = random.Random(11)
    toks = tokenize_text(_rand_passage(rng, 120))

    det, big = DeterministicQAScorer(), BigramGateScorer()
    # prime the shared module-level memo with the deterministic scorer,
    # then decode with the bigram scorer through the same default memo
    via_shared_memo = (
        predict_battery_crf(det, BATTERY, toks, pid=1),
        predict_battery_crf(big, BATTERY, toks, pid=1),
    )
    # ground truth: each scorer decoded with its own fresh, private memo
    fresh = (
        predict_battery_crf(det, BATTERY, toks, pid=1, _prefix_cache={}),
        predict_battery_crf(big, BATTERY, toks, pid=1, _prefix_cache={}),
    )
    assert via_shared_memo == fresh
    # and the two scorers genuinely disagree somewhere, else the test is
    # vacuous (emission families differ by construction)
    assert via_shared_memo[0] != via_shared_memo[1]
