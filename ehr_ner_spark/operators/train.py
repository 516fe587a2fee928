"""U7 — distributed training loop (operators side).

Spark-first shape, NOT a translation of the reference's HF ``Trainer`` loop
(/root/reference/train/run_ner.py:319-374):

* **Stage the examples once.** One Arrow-batched ``mapInPandas`` pass over
  the corpus emits the teacher's per-piece labels (kernel/train.py
  ``teacher_arrays``) AND the memoized feature hashes — the md5 cost is
  proportional to the per-worker vocabulary, not the token stream, and the
  epoch input leaves the worker as THREE int64 columns ``(f_u, f_b, y)``
  (token strings never cross Arrow).  At 100 TB the staged, persisted
  frame is the only corpus-sized thing, and each epoch re-reads just 24
  bytes/example from cache.
* **Each epoch is pure Catalyst.** Current weights (<= dim x 3 doubles —
  independent of corpus size) are broadcast-joined onto the staged frame,
  the mistake filter and the 4-way update-delta explode run in codegen, and
  the only shuffle is a map-side-combined groupBy over at most ``9 * dim``
  tiny rows.  No Python in the loop at all.
* **Driver round-trip is O(dim) per epoch** — collect the integer delta
  counts, fold them into the int64 accumulator, derive the next weights.
  This is the classic broadcast-parameter iterative-ML pattern (MLlib's
  LogisticRegression does exactly this dance); with 1000 executors the
  per-epoch synchronization cost stays a few kilobytes.

Bit-exactness: updates are integer counts and weights are a fixed
three-term expression over them (kernel/train.py::combine_weights), so this
trainer equals the single-node NumPy reference EXACTLY (tests/test_train.py)
and the unrolled-epoch DuckDB oracle (operators/train_sql.py) hash-matches
through the round driver — a training loop with an ANSI-SQL twin.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernel.scorer import DeterministicQAScorer
from ..kernel.train import TRAIN_DIM, combine_weights, teacher_arrays
from ..kernel.wordpiece import tokenize_text, wp_split_seq
from ..queries_battery import QUERIES

# 4-tag training battery: deterministic subset (sorted prefix) of the
# reference's 31-query battery — enough tags for cross-tag feature sharing
# while keeping the driver's unrolled SQL oracle compact.
TRAIN_TAGS: Tuple[str, ...] = tuple(sorted(QUERIES))[:4]

_TRAIN_SCHEMA = StructType(
    [
        StructField("f_u", LongType()),
        StructField("f_b", LongType()),
        StructField("y", LongType()),
    ]
)

_FEAT_MEMO_CAP = 2_000_000  # per-worker feature-hash memo bound (vocab scale)


def tags_qlen(tags: Tuple[str, ...] = TRAIN_TAGS) -> Dict[str, int]:
    """Query sub-token lengths, computed with the same kernel functions the
    battery fast path uses (predict_battery's truncation limits)."""
    return {
        t: len(wp_split_seq(tokenize_text(QUERIES[t]))) for t in tags
    }


def training_frame(
    corpus_df: DataFrame,
    tags: Tuple[str, ...] = TRAIN_TAGS,
    max_seq_length: int = 128,
    dim: int = TRAIN_DIM,
    num_partitions: Optional[int] = 8,
) -> DataFrame:
    """corpus -> (f_u, f_b, y) int64 epoch input.

    The teacher (resident scorer, constructed once per worker) labels each
    passage wordpiece under each training tag; feature hashes are computed
    IN the same Arrow pass with a per-(tag, piece) memo — vocabularies are
    tiny relative to token streams, so the md5 cost is proportional to the
    vocabulary, not the corpus, and only three int64 columns ever cross
    Arrow (string columns never leave the worker — at 100 TB that is the
    difference between shipping token text twice and shipping 24
    bytes/example)."""
    spark = corpus_df.sparkSession
    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)
    tq = tags_qlen(tags)
    bc_tq = spark.sparkContext.broadcast(tq)

    def label_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.train import feat_b, feat_u

        scorer = DeterministicQAScorer()  # teacher: once per worker
        tqv = bc_tq.value
        memo_u: dict = {t: {} for t in tqv}  # piece -> f_u
        memo_b: dict = {t: {} for t in tqv}  # (prev, piece) -> f_b
        for pdf in batches:
            fu_all: list = []
            fb_all: list = []
            y_all: list = []
            for content in pdf["content"]:
                for tag, pieces, prevs, y in teacher_arrays(
                    scorer, tqv, tokenize_text(content), max_seq_length
                ):
                    mu, mb = memo_u[tag], memo_b[tag]
                    for p in pieces:
                        h = mu.get(p)
                        if h is None:
                            h = feat_u(tag, p, dim)
                            if len(mu) < _FEAT_MEMO_CAP:
                                mu[p] = h
                        fu_all.append(h)
                    for pv, p in zip(prevs, pieces):
                        key = (pv, p)
                        h = mb.get(key)
                        if h is None:
                            h = feat_b(tag, pv, p, dim)
                            if len(mb) < _FEAT_MEMO_CAP:
                                mb[key] = h
                        fb_all.append(h)
                    y_all.append(y)
            yield pd.DataFrame(
                {
                    "f_u": np.asarray(fu_all, dtype=np.int64),
                    "f_b": np.asarray(fb_all, dtype=np.int64),
                    "y": (
                        np.concatenate(y_all)
                        if y_all
                        else np.empty(0, dtype=np.int64)
                    ),
                }
            )

    inp = corpus_df.select("doc_id", "content")
    if num_partitions:  # None keeps the caller's partitioning
        inp = inp.repartition(num_partitions, "doc_id")
    return inp.mapInPandas(label_partition, _TRAIN_SCHEMA)


def _weights_df(spark: SparkSession, w: np.ndarray) -> DataFrame:
    """Nonzero weight rows (f, wB, wI, wO) — the broadcast side of the
    epoch join; size bounded by dim regardless of corpus size."""
    nz = np.flatnonzero(np.abs(w).sum(axis=1))
    rows = [
        (int(f), float(w[f, 0]), float(w[f, 1]), float(w[f, 2])) for f in nz
    ]
    schema = "f long, wB double, wI double, wO double"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


def _epoch_counts(
    train_df: DataFrame, w_df: DataFrame, dim: int = TRAIN_DIM
) -> Tuple[np.ndarray, int]:
    """One epoch = one Spark action: broadcast-join weights, predict, keep
    mistakes, explode the 4 update deltas, tiny groupBy, collect.

    Returns (delta accumulator (dim, 3, 3) int64, mistake count).  The
    mistake count falls out of the same aggregate — each mistake contributes
    +1 at (f, y, y) for BOTH features, so mistakes = sum(a | l == k) / 2 —
    no second job."""
    t = train_df
    u, b = w_df.alias("u"), w_df.alias("b")
    z = F.lit(0.0)
    joined = (
        t.join(F.broadcast(u), t["f_u"] == F.col("u.f"), "left")
        .join(F.broadcast(b), t["f_b"] == F.col("b.f"), "left")
        .select(
            "f_u", "f_b", "y",
            (F.coalesce(F.col("u.wB"), z) + F.coalesce(F.col("b.wB"), z)).alias("lb"),
            (F.coalesce(F.col("u.wI"), z) + F.coalesce(F.col("b.wI"), z)).alias("li"),
            (F.coalesce(F.col("u.wO"), z) + F.coalesce(F.col("b.wO"), z)).alias("lo"),
        )
        .withColumn(
            "yhat",
            F.when(
                (F.col("lb") >= F.col("li")) & (F.col("lb") >= F.col("lo")),
                F.lit(0).cast("long"),
            )
            .when(F.col("li") >= F.col("lo"), F.lit(1).cast("long"))
            .otherwise(F.lit(2).cast("long")),
        )
    )
    mis = joined.where(F.col("y") != F.col("yhat"))
    one, neg = F.lit(1).cast("long"), F.lit(-1).cast("long")
    delta = mis.select(
        F.explode(
            F.array(
                F.struct(F.col("f_u").alias("f"), F.col("y").alias("l"),
                         F.col("y").alias("k"), one.alias("d")),
                F.struct(F.col("f_u").alias("f"), F.col("yhat").alias("l"),
                         F.col("y").alias("k"), neg.alias("d")),
                F.struct(F.col("f_b").alias("f"), F.col("y").alias("l"),
                         F.col("y").alias("k"), one.alias("d")),
                F.struct(F.col("f_b").alias("f"), F.col("yhat").alias("l"),
                         F.col("y").alias("k"), neg.alias("d")),
            )
        ).alias("s")
    ).select("s.*")
    counts = (
        delta.groupBy("f", "l", "k").agg(F.sum("d").alias("a")).collect()
    )
    acc_delta = np.zeros((dim, 3, 3), dtype=np.int64)
    diag = 0
    for r in counts:
        acc_delta[r["f"], r["l"], r["k"]] = r["a"]
        if r["l"] == r["k"]:
            diag += r["a"]
    return acc_delta, diag // 2


def fit_tagger(
    train_df: DataFrame,
    epochs: int = 3,
    dim: int = TRAIN_DIM,
) -> Tuple[np.ndarray, List[int]]:
    """Distributed class-weighted batch perceptron: returns the final int64
    accumulator and per-epoch mistakes plus a final evaluation pass
    (exactly the shape of kernel.train.perceptron_train_local)."""
    spark = train_df.sparkSession
    if train_df.is_cached:  # caller already staged it (train_metrics)
        staged = train_df
    else:
        from ..cache import tracked_persist

        staged = tracked_persist(train_df)
    acc = np.zeros((dim, 3, 3), dtype=np.int64)
    mistakes: List[int] = []
    for _ in range(epochs):
        delta, m = _epoch_counts(
            staged, _weights_df(spark, combine_weights(acc)), dim
        )
        mistakes.append(m)
        acc += delta
    _, m_final = _epoch_counts(
        staged, _weights_df(spark, combine_weights(acc)), dim
    )
    mistakes.append(m_final)
    return acc, mistakes


def train_metrics(
    corpus_df: DataFrame,
    tags: Tuple[str, ...] = TRAIN_TAGS,
    max_seq_length: int = 128,
    epochs: int = 3,
    num_partitions: Optional[int] = 8,
) -> DataFrame:
    """The registered U7 surface: one row per epoch ``(epoch, mistakes,
    correct, total)`` — epochs 1..E are evaluated under the pre-update
    weights (epoch 1 sees W=0), row E+1 is the final-weights evaluation.
    All-integer output: hash-stable through the round driver."""
    spark = corpus_df.sparkSession
    from ..cache import tracked_persist

    staged = tracked_persist(
        training_frame(
            corpus_df, tags, max_seq_length, num_partitions=num_partitions
        )
    )
    total = staged.count()
    _, mistakes = fit_tagger(staged, epochs=epochs)
    rows = [
        (e + 1, int(m), int(total - m), int(total))
        for e, m in enumerate(mistakes)
    ]
    return spark.createDataFrame(
        rows, "epoch int, mistakes long, correct long, total long"
    )


def detect_mentions_trained(
    corpus_df: DataFrame,
    tags: Tuple[str, ...] = TRAIN_TAGS,
    max_seq_length: int = 128,
    epochs: int = 3,
    num_partitions: Optional[int] = 8,
) -> DataFrame:
    """The train -> deploy hand-off end to end: fit the tagger on this
    corpus, then run the UNCHANGED detection plan with the learned weights
    through the Scorer plug point (the reference's run_ner.py ->
    bert_qasl_predictor.py sequence).  The weight matrix (dim x 3 doubles)
    rides to workers inside the UDF closure — model-size is independent of
    corpus size, exactly like the resident-scorer path."""
    from ..kernel.train import TrainedPerceptronScorer
    from .mention_detect import detect_mentions

    staged = training_frame(
        corpus_df, tags, max_seq_length, num_partitions=num_partitions
    )
    acc, _mistakes = fit_tagger(staged, epochs=epochs)
    w = combine_weights(acc)

    def factory(w=w):
        return TrainedPerceptronScorer(w)

    queries = {t: QUERIES[t] for t in tags}
    return detect_mentions(
        corpus_df,
        queries=queries,
        num_partitions=num_partitions,
        max_seq_length=max_seq_length,
        scorer_factory=factory,
    )
