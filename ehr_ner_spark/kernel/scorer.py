"""Pluggable batched QA-scorer kernel.

The reference scores each (query, passage) pair with a BERT-QASL forward pass
producing ``(seq_len, 3)`` logits over the ``{B, I, O}`` QASL label space
(/root/reference/models/bert_qasl.py:15-74), then softmax + top-k
(/root/reference/api/bert_qasl_predictor.py:73-77), re-attaching the query's
type at decode time via ``f"{lp}-{query_tag}"`` (bert_qasl_predictor.py:92-98).

This sandbox has no torch/transformers, so the default scorer is a
**deterministic NumPy QA-tagger** with the exact same interface and batch
shape: per-token 3-logit emissions derived from a 60-bit md5 hash of
``(query_tag, token)`` with a previous-token interaction term (so multi-token
B→I spans occur), softmax, top-k.  Because the kernel is pure and shared by
the Spark UDF and the single-node oracle, the P/R≥0.95 parity gate is exact.
The hash is md5-60bit specifically so the whole scoring pipeline is ALSO
expressible in ANSI SQL (DuckDB twin:
``('0x' || substr(md5(tag || '|' || token), 1, 15))::BIGINT`` — see
operators/mention_sql.py), giving the flagship mention-detection query a
strong external oracle.  A real HF checkpoint can replace
:class:`DeterministicQAScorer` unchanged — the Spark plan (Arrow-batched
iterator UDF) does not care what produces the logits.

Label space (QASL): ``id2label = {0: "B", 1: "I", 2: "O"}``; class weights
``[0.11, 1, 0.16]`` are carried as config for the CRF decode path parity
(bert_qasl_predictor.py:31,67) but — exactly like the reference's softmax
path — are NOT applied in softmax decoding.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np

from ..hashing import md5_60

ID2LABEL = {0: "B", 1: "I", 2: "O"}
CLASS_WEIGHTS = np.array([0.11, 1.0, 0.16])  # B, I, O (simqasl_config.json)


def hash60(query_tag: str, token: str) -> int:
    """Stable per-(query_tag, token) 60-bit hash — the shared md5-60
    discipline (ehr_ner_spark/hashing.py) over ``tag|token``."""
    return md5_60(query_tag + "|" + token)


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x - x.max(axis=axis, keepdims=True)
    e = np.exp(m)
    return e / e.sum(axis=axis, keepdims=True)


class DeterministicQAScorer:
    """Query-conditioned per-token 3-logit emitter (B, I, O).

    Emission design (arbitrary but fixed — it plays the role of trained
    weights): ``u1 = h % 997 / 997`` drives B, ``u2 = (h >> 10) % 991 / 991``
    drives I, O gets a constant bias.  I is additionally boosted when the
    *previous* token was B-favourable, so contiguous B I I ... runs (and
    hence multi-token entities) occur, like a real tagger's transitions.
    """

    B_GAIN, B_BIAS = 10.0, -9.0
    I_GAIN, I_BIAS = 10.0, -8.5
    I_PREV_BOOST = 4.0
    O_BIAS = 2.5

    _MEMO_CAP = 2_000_000  # per-(query_tag) token-hash memo bound

    def __init__(self) -> None:
        self._memo: dict[str, dict[str, int]] = {}
        # battery memo: token -> (Q,) uint64 hash vector per tag-tuple
        self._bmemo: dict[tuple, dict[str, np.ndarray]] = {}

    def _hashes(self, query_tag: str, tokens: Sequence[str]) -> np.ndarray:
        """Memoized per-(query_tag, token) md5-60bit (the model-weight lookup
        is the hot path at corpus scale; vocabularies are small relative to
        token streams, so memoization is a large constant-factor win and the
        md5-vs-crc32 cost difference vanishes)."""
        memo = self._memo.setdefault(query_tag, {})
        out = np.empty(len(tokens), dtype=np.uint64)
        get = memo.get
        for i, t in enumerate(tokens):
            h = get(t)
            if h is None:
                h = hash60(query_tag, t)
                if len(memo) < self._MEMO_CAP:
                    memo[t] = h
            out[i] = h
        return out

    def _hash_matrix(self, tags: tuple, tokens: Sequence[str]) -> np.ndarray:
        """(Q, n) hash matrix with ONE memo lookup per token: the memo maps
        token -> (Q,) vector for this tag tuple, so the battery pays 1/Q of
        the per-tag dict traffic (the dominant cost at corpus scale)."""
        memo = self._bmemo.setdefault(tags, {})
        get = memo.get
        cols = []
        for t in tokens:
            v = get(t)
            if v is None:
                v = np.fromiter(
                    (hash60(q, t) for q in tags), dtype=np.uint64, count=len(tags)
                )
                if len(memo) < self._MEMO_CAP:
                    memo[t] = v
            cols.append(v)
        return np.stack(cols, axis=1)

    def logits(self, query_tag: str, tokens: Sequence[str]) -> np.ndarray:
        n = len(tokens)
        if n == 0:
            return np.zeros((0, 3), dtype=np.float64)
        h = self._hashes(query_tag, tokens)
        u1 = (h % 997).astype(np.float64) / 997.0
        u2 = ((h >> 10) % 991).astype(np.float64) / 991.0
        l_b = self.B_GAIN * u1 + self.B_BIAS
        # previous token B-favourable -> boost I here (vectorized via shift)
        prev_hot = np.zeros(n, dtype=np.float64)
        hot = (u1 > 0.985) | (u2 > 0.93)
        prev_hot[1:] = hot[:-1].astype(np.float64)
        l_i = self.I_GAIN * u2 + self.I_BIAS + self.I_PREV_BOOST * prev_hot
        l_o = np.full(n, self.O_BIAS)
        return np.stack([l_b, l_i, l_o], axis=1)

    def logits_battery(
        self, query_tags: Sequence[str], tokens: Sequence[str]
    ) -> np.ndarray:
        """Vectorized battery logits of shape ``(Q, n, 3)`` — value-identical
        to stacking :meth:`logits` per tag (same elementwise float ops; the
        hash matrix is just gathered once per token instead of per tag).
        Feeds the CRF decode path, which needs raw emissions, not top-1."""
        n = len(tokens)
        q = len(query_tags)
        if n == 0 or q == 0:
            return np.zeros((q, n, 3), dtype=np.float64)
        h = self._hash_matrix(tuple(query_tags), tokens)  # (Q, n)
        u1 = (h % 997).astype(np.float64) / 997.0
        u2 = ((h >> 10) % 991).astype(np.float64) / 991.0
        l_b = self.B_GAIN * u1 + self.B_BIAS
        prev_hot = np.zeros((q, n), dtype=np.float64)
        hot = (u1 > 0.985) | (u2 > 0.93)
        prev_hot[:, 1:] = hot[:, :-1].astype(np.float64)
        l_i = self.I_GAIN * u2 + self.I_BIAS + self.I_PREV_BOOST * prev_hot
        return np.stack([l_b, l_i, np.full((q, n), self.O_BIAS)], axis=2)

    def top1_tags_battery(
        self, query_tags: Sequence[str], tokens: Sequence[str]
    ) -> np.ndarray:
        """Vectorized battery scoring: top-1 tag chars ('B'/'I'/'O') of
        shape ``(len(query_tags), len(tokens))`` — numerically identical to
        per-query ``predict_topk(..., top_k=1)`` (softmax is monotone, so
        top-1 of logits == top-1 of probs; ties break to the lowest label
        id in both paths)."""
        n = len(tokens)
        q = len(query_tags)
        if n == 0 or q == 0:
            return np.empty((q, n), dtype="U1")
        h = self._hash_matrix(tuple(query_tags), tokens)  # (Q, n)
        u1 = (h % 997).astype(np.float64) / 997.0
        u2 = ((h >> 10) % 991).astype(np.float64) / 991.0
        l_b = self.B_GAIN * u1 + self.B_BIAS
        prev_hot = np.zeros((q, n), dtype=np.float64)
        hot = (u1 > 0.985) | (u2 > 0.93)
        prev_hot[:, 1:] = hot[:, :-1].astype(np.float64)
        l_i = self.I_GAIN * u2 + self.I_BIAS + self.I_PREV_BOOST * prev_hot
        logits = np.stack([l_b, l_i, np.full((q, n), self.O_BIAS)], axis=2)
        ids = logits.argmax(axis=2)  # first-occurrence tie-break, like topk
        return np.array(["B", "I", "O"], dtype="U1")[ids]

    def predict_topk(
        self, query_tag: str, tokens: Sequence[str], top_k: int = 1
    ) -> Tuple[np.ndarray, np.ndarray]:
        """softmax + top-k per token (bert_qasl_predictor.py:73-77).

        Returns ``(indices, probs)`` of shape ``(n, top_k)``, ordered by
        descending probability.
        """
        probs = softmax(self.logits(query_tag, tokens))
        order = np.argsort(-probs, axis=1, kind="stable")[:, :top_k]
        return order, np.take_along_axis(probs, order, axis=1)

    def predict_labels(self, query_tag: str, tokens: Sequence[str]) -> List[str]:
        """Top-1 labels with the query type re-attached:
        ``f"{lp}-{query_tag}"`` unless O (bert_qasl_predictor.py:92-98)."""
        idx, _ = self.predict_topk(query_tag, tokens, top_k=1)
        out = []
        for i in idx[:, 0].tolist():
            lp = ID2LABEL[i]
            out.append(f"{lp}-{query_tag}" if lp != "O" else lp)
        return out


# ---------------------------------------------------------------------------
# The Scorer contract (the "real HF checkpoint drops in unchanged" claim,
# SURVEY §7.2, made checkable)
# ---------------------------------------------------------------------------

class ScorerBase:
    """Derived-method base for alternate Scorer implementations: subclasses
    implement only :meth:`logits`; every other contract method is derived
    from it in the contract-mandated way.  (``DeterministicQAScorer`` keeps
    its hand-vectorized overrides for the hot path — the contract checker
    verifies those agree with the derived definitions.)"""

    def logits(self, query_tag: str, tokens: Sequence[str]) -> np.ndarray:
        raise NotImplementedError

    def logits_battery(
        self, query_tags: Sequence[str], tokens: Sequence[str]
    ) -> np.ndarray:
        if len(query_tags) == 0 or len(tokens) == 0:
            return np.zeros((len(query_tags), len(tokens), 3), dtype=np.float64)
        return np.stack([self.logits(t, tokens) for t in query_tags])

    def top1_tags_battery(
        self, query_tags: Sequence[str], tokens: Sequence[str]
    ) -> np.ndarray:
        if len(query_tags) == 0 or len(tokens) == 0:
            return np.empty((len(query_tags), len(tokens)), dtype="U1")
        ids = self.logits_battery(query_tags, tokens).argmax(axis=2)
        return np.array(["B", "I", "O"], dtype="U1")[ids]

    def predict_topk(
        self, query_tag: str, tokens: Sequence[str], top_k: int = 1
    ) -> Tuple[np.ndarray, np.ndarray]:
        probs = softmax(self.logits(query_tag, tokens))
        order = np.argsort(-probs, axis=1, kind="stable")[:, :top_k]
        return order, np.take_along_axis(probs, order, axis=1)

    def predict_labels(self, query_tag: str, tokens: Sequence[str]) -> List[str]:
        idx, _ = self.predict_topk(query_tag, tokens, top_k=1)
        out = []
        for i in idx[:, 0].tolist():
            lp = ID2LABEL[i]
            out.append(f"{lp}-{query_tag}" if lp != "O" else lp)
        return out


class BigramGateScorer(ScorerBase):
    """Second deterministic Scorer implementation (different emission
    family: bigram-conditioned gates instead of unigram+prev-boost).  Exists
    to exercise the plug point — anything passing
    :func:`verify_scorer_contract` drops into ``detect_mentions`` unchanged."""

    def logits(self, query_tag: str, tokens: Sequence[str]) -> np.ndarray:
        n = len(tokens)
        if n == 0:
            return np.zeros((0, 3), dtype=np.float64)
        out = np.empty((n, 3), dtype=np.float64)
        prev = ""
        for i, t in enumerate(tokens):
            u_b = (md5_60(query_tag + "#b#" + t) % 1009) / 1009.0
            u_i = (md5_60(query_tag + "#i#" + prev + "#" + t) % 1013) / 1013.0
            out[i, 0] = 12.0 * u_b - 9.0   # beats O (1.8) when u_b > 0.9
            out[i, 1] = 12.0 * u_i - 8.8   # beats O when u_i > ~0.883
            out[i, 2] = 1.8
            prev = t
        return out


def verify_scorer_contract(scorer, query_tags: Sequence[str],
                           tokens: Sequence[str],
                           fresh_factory=None) -> None:
    """Assert the Scorer interface the Spark operators rely on.  A
    torch-backed implementation must pass this unchanged (CPU-deterministic
    mode) before being dropped into the pipeline.

    Contract (n = len(tokens), Q = len(query_tags)):

      1. ``logits(tag, tokens)`` -> float64 array of shape (n, 3), finite;
         shape (0, 3) for empty input.
      2. ``logits_battery(tags, tokens)`` -> (Q, n, 3), value-equal to
         stacking per-tag ``logits`` (the battery fast path collapses Q
         scoring calls into one; it must not change values).
      3. ``top1_tags_battery`` -> (Q, n) of 'B'/'I'/'O' == argmax of the
         battery logits with first-occurrence (lowest label id) tie-break.
      4. ``predict_topk(tag, tokens, k)`` -> (indices, probs), both (n, k);
         probs descending per row, equal to softmax(logits) gathered at
         indices; k=3 covers the full label space (rows sum to ~1).
      5. Determinism: a freshly constructed instance reproduces the same
         logits bit-for-bit (no hidden RNG/state).
      6. Context locality: logits at position i depend only on tokens
         i-1 and i — scoring a suffix that keeps the same predecessor
         yields identical logits.  predict_battery/predict_battery_crf
         score ``[SEP] + passage`` instead of the full assembly under
         exactly this assumption.
    """
    tags = list(query_tags)
    n, q = len(tokens), len(tags)
    assert n >= 4 and q >= 2, "need a non-trivial probe input"

    # 1: shapes/dtype/finiteness
    lg = scorer.logits(tags[0], tokens)
    assert lg.shape == (n, 3) and lg.dtype == np.float64, lg.shape
    assert np.isfinite(lg).all()
    assert scorer.logits(tags[0], []).shape == (0, 3)

    # 2: battery == stacked per-tag
    bat = scorer.logits_battery(tags, tokens)
    assert bat.shape == (q, n, 3)
    stacked = np.stack([scorer.logits(t, tokens) for t in tags])
    assert np.array_equal(bat, stacked), "battery logits != per-tag logits"

    # 3: top1 == argmax with first-occurrence tie-break
    top1 = scorer.top1_tags_battery(tags, tokens)
    assert top1.shape == (q, n)
    expect = np.array(["B", "I", "O"], dtype="U1")[bat.argmax(axis=2)]
    assert np.array_equal(top1, expect)
    assert set(np.unique(top1)) <= {"B", "I", "O"}

    # 4: softmax + stable top-k
    idx, probs = scorer.predict_topk(tags[0], tokens, top_k=3)
    assert idx.shape == (n, 3) and probs.shape == (n, 3)
    assert (np.diff(probs, axis=1) <= 1e-12).all(), "probs not descending"
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, atol=1e-9)
    full = softmax(scorer.logits(tags[0], tokens))
    np.testing.assert_array_equal(
        np.take_along_axis(full, idx, axis=1), probs
    )

    # 5: determinism across fresh instances
    fresh = (fresh_factory or type(scorer))()
    assert np.array_equal(fresh.logits(tags[0], tokens), lg)
    assert np.array_equal(fresh.logits_battery(tags, tokens), bat)

    # 6: context locality (the fast-path precondition)
    mid = n // 2
    suffix = list(tokens[mid - 1:])  # keeps position mid's predecessor
    lg_suffix = scorer.logits(tags[0], suffix)
    assert np.array_equal(lg_suffix[1:], lg[mid:]), (
        "logits are not (prev, cur)-local; the battery fast path "
        "(predict_battery scoring [SEP]+passage) would change values"
    )
