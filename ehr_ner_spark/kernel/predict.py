"""End-to-end per-(document x query) prediction kernel.

Composition mirrors ``BertQASLPredictor.predict_for_one_query`` + ``refine``
(/root/reference/api/bert_qasl_predictor.py:50-116):

    assemble [CLS] Q [SEP] P [SEP] (truncate 512)
      -> score all positions (batched logits; softmax top-k)
      -> wordpiece merge (head keeps label)
      -> strip [CLS] Q [SEP] ... [SEP]
      -> IOB2 decode -> spans

and ``predict_overall`` (bert_qasl_predictor.py:38-48) is the union over the
query battery (the nested-NE overlay W8: overlapping spans of different types
coexist; no cross-type dedup).

This module is pure Python/NumPy — it is BOTH the body of the Spark Arrow UDF
and (driven by a plain loop) the single-node oracle the parity tests compare
against.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Sequence, Tuple

import numpy as np

from .iob2 import Span, decode_bio
from .scorer import ID2LABEL, DeterministicQAScorer
from .wordpiece import (
    assemble,
    merge_wordpieces,
    strip_specials,
    tokenize_text,
    wp_split_seq,
)


def predict_one_query(
    scorer: DeterministicQAScorer,
    query_tag: str,
    query_tokens: Sequence[str],
    passage_tokens: Sequence[str],
    pid: int = 0,
    max_seq_length: int = 512,
) -> List[Span]:
    seq = assemble(query_tokens, passage_tokens, max_seq_length)
    idx, _prob = scorer.predict_topk(query_tag, seq, top_k=1)
    labels = []
    for i in idx[:, 0].tolist():
        lp = ID2LABEL[i]
        labels.append(f"{lp}-{query_tag}" if lp != "O" else lp)
    m_tokens, m_labels = merge_wordpieces(seq, labels)
    p_tokens, p_labels = strip_specials(m_tokens, m_labels)
    return decode_bio(p_tokens, p_labels, pid=pid)


def _battery_plan(battery: Sequence[Tuple[str, Sequence[str]]]):
    """Per-battery constants of the battery fast paths: each query's
    WordPiece sub-tokens, the tags grouped by sub-token length (equal
    lengths share one truncation limit), the longest length and every tag.
    A worker scores every document against the same battery, so the plan
    is memoized on the battery's value."""
    return _battery_plan_of(tuple((tag, tuple(q)) for tag, q in battery))


@lru_cache(maxsize=32)
def _battery_plan_of(battery: Tuple[Tuple[str, Tuple[str, ...]], ...]):
    q_subs = [tuple(wp_split_seq(q)) for _tag, q in battery]
    by_len: dict = {}
    for (tag, _q), q_sub in zip(battery, q_subs):
        by_len.setdefault(len(q_sub), []).append(tag)
    max_qlen = max((len(q) for q in q_subs), default=0)
    # tuples: the plan is shared by every call, and the scorer keys its
    # memo on tuple(tags), which is then free
    by_len = {n: tuple(tags) for n, tags in by_len.items()}
    return q_subs, by_len, max_qlen, tuple(tag for tag, _q in battery)


def _merged_heads(pieces: Sequence[str]) -> Tuple[List[int], List[str]]:
    """WordPiece merge without the special tokens: the positions of the
    token heads (a head keeps the label, P8) and each merged token, the
    head plus its ``##`` continuations."""
    heads = [i for i, p in enumerate(pieces) if "##" not in p]
    merged: List[str] = []
    for j, hidx in enumerate(heads):
        stop = heads[j + 1] if j + 1 < len(heads) else len(pieces)
        merged.append(
            pieces[hidx] + "".join(p[2:] for p in pieces[hidx + 1 : stop])
        )
    return heads, merged


def predict_battery(
    scorer: DeterministicQAScorer,
    battery: Sequence[Tuple[str, Sequence[str]]],
    passage_tokens: Sequence[str],
    pid: int = 0,
    max_seq_length: int = 512,
) -> List[Span]:
    """Whole-battery fast path, numerically identical to looping
    :func:`predict_one_query` over the battery (the parity test in
    tests/test_mention_detect.py holds it to the sequential oracle):

    * only the passage region is scored.  In the full ``[CLS] Q [SEP] P
      [SEP]`` assembly the query/special positions are stripped before
      decode, and the scorer's only sequential term (the previous-token
      boost) sees ``[SEP]`` as the predecessor of the first passage piece —
      so scoring ``[SEP] + P_trunc`` yields byte-identical passage logits;
    * queries with equal sub-token length share one truncation limit, so the
      battery collapses into a few ``top1_tags_battery`` matrix calls;
    * WordPiece merge/strip reduces to indexing the precomputed head-piece
      positions (the head keeps the label, P8);
    * decode uses the uniform-type fast automaton (types all == q_tag).
    """
    from .iob2 import decode_bio_uniform_battery
    from .wordpiece import SEP

    p_sub = wp_split_seq(passage_tokens)
    # when NO tag truncates this passage (the overwhelmingly common case:
    # limits are ~495+ pieces), every group scores the identical sequence —
    # collapse to ONE whole-battery pass and skip the per-group overhead
    _q_subs, by_len, max_qlen, all_tags = _battery_plan(battery)
    if len(p_sub) <= max_seq_length - max_qlen - 3:
        by_len = {max_qlen: all_tags}

    out: List[Span] = []
    for qlen, tags in by_len.items():
        limit = max_seq_length - qlen - 3
        pieces = p_sub[:limit]
        scored = [SEP] + pieces
        tag_mat = scorer.top1_tags_battery(tags, scored)  # (Q, 1 + n_pieces)
        # merged (post-##) token heads and surface strings, shared by tags
        heads, merged = _merged_heads(pieces)
        if not heads:
            continue
        head_arr = 1 + np.asarray(heads, dtype=np.int64)  # skip the [SEP]
        # one vectorized decode over the whole (Q, n_heads) matrix
        out.extend(
            decode_bio_uniform_battery(merged, tag_mat[:, head_arr], tags, pid=pid)
        )
    return out


def predict_one_query_crf(
    scorer: DeterministicQAScorer,
    query_tag: str,
    query_tokens: Sequence[str],
    passage_tokens: Sequence[str],
    pid: int = 0,
    max_seq_length: int = 512,
) -> List[Span]:
    """CRF-decode variant of :func:`predict_one_query` — the BiLSTM-CRF QASL
    model family: ``crf.decode(emissions = logits * class_weights)`` over the
    full assembled sequence, then the same merge/strip/IOB2 pipeline
    (/root/reference/api/bert_qasl_predictor.py:62-71, 81-106;
    models/bertbilstmcrf_qasl.py:16-92)."""
    from .crf import viterbi_decode
    from .scorer import CLASS_WEIGHTS

    seq = assemble(query_tokens, passage_tokens, max_seq_length)
    em = scorer.logits(query_tag, seq)
    path = viterbi_decode(em, class_weights=CLASS_WEIGHTS)
    labels = []
    for i in path:
        lp = ID2LABEL[i]
        labels.append(f"{lp}-{query_tag}" if lp != "O" else lp)
    m_tokens, m_labels = merge_wordpieces(seq, labels)
    p_tokens, p_labels = strip_specials(m_tokens, m_labels)
    return decode_bio(p_tokens, p_labels, pid=pid)


def predict_battery_crf(
    scorer: DeterministicQAScorer,
    battery: Sequence[Tuple[str, Sequence[str]]],
    passage_tokens: Sequence[str],
    pid: int = 0,
    max_seq_length: int = 512,
    _prefix_cache: dict = {},  # noqa: B006 — intentional per-worker memo
) -> List[Span]:
    """Whole-battery CRF fast path, bitwise identical to looping
    :func:`predict_one_query_crf` (parity test in tests/test_crf_detect.py):

    * the Viterbi forward over the per-tag constant ``[CLS] Q [SEP]`` region
      is precomputed ONCE per (worker, tag) — ``crf_forward_prefix`` — and
      the per-document DP runs only over passage pieces + trailing [SEP];
    * emissions for the whole battery come from one ``logits_battery``
      matrix call (scored sequence ``[SEP] P [SEP]``: the previous-token
      term sees the mid [SEP] exactly as in the full assembly);
    * backtrace is vectorized across tags (``viterbi_battery``).
    """
    from .crf import crf_forward_prefix, viterbi_battery
    from .iob2 import decode_bio_uniform_battery
    from .scorer import CLASS_WEIGHTS
    from .wordpiece import CLS, SEP

    p_sub = wp_split_seq(passage_tokens)
    q_subs, by_len, max_qlen, all_tags = _battery_plan(battery)
    prefixes: dict = {}
    for (q_tag, _q), q_sub in zip(battery, q_subs):
        # memo key includes the question text AND the scorer's identity:
        # the cached prefix is crf_forward_prefix(scorer.logits(...)), so it
        # depends on the sub-token sequence (two batteries can map the same
        # tag to different phrasings) and on which scorer emitted it (two
        # Scorer implementations in one worker must not share prefixes).
        # Every shipped scorer's emissions are fully class-determined;
        # a stateful implementation (e.g. torch weights) must expose a
        # distinct ``cache_token`` attribute.
        memo_key = (getattr(scorer, "cache_token", type(scorer)), q_tag, q_sub)
        pref = _prefix_cache.get(memo_key)
        if pref is None:
            em_q = scorer.logits(q_tag, [CLS, *q_sub, SEP]) * CLASS_WEIGHTS
            pref = _prefix_cache[memo_key] = crf_forward_prefix(em_q)
        prefixes[q_tag] = pref
    if len(p_sub) <= max_seq_length - max_qlen - 3:
        by_len = {max_qlen: all_tags}

    out: List[Span] = []
    for qlen, tags in by_len.items():
        limit = max_seq_length - qlen - 3
        pieces = p_sub[:limit]
        if not pieces:
            continue
        scored = [SEP] + pieces + [SEP]
        em_w = scorer.logits_battery(tags, scored) * CLASS_WEIGHTS
        prefix = np.stack([prefixes[t] for t in tags])
        states = viterbi_battery(prefix, em_w[:, 1:-1], em_w[:, -1])
        heads, merged = _merged_heads(pieces)
        if not heads:
            continue
        head_arr = np.asarray(heads, dtype=np.int64)
        char_mat = np.array(["B", "I", "O"], dtype="U1")[states[:, head_arr]]
        out.extend(decode_bio_uniform_battery(merged, char_mat, tags, pid=pid))
    return out


def predict_overall(
    scorer: DeterministicQAScorer,
    queries: Dict[str, str],
    passage: str,
    pid: int = 0,
    max_seq_length: int = 512,
) -> List[Span]:
    """Battery fan-out union (predict_overall, bert_qasl_predictor.py:38-48)."""
    passage_tokens = tokenize_text(passage)
    out: List[Span] = []
    for q_tag, query in queries.items():
        q_tokens = tokenize_text(query)
        out.extend(
            predict_one_query(scorer, q_tag, q_tokens, passage_tokens, pid, max_seq_length)
        )
    return out
