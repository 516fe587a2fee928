"""Query registry: every implemented operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable, each with a DuckDB-equivalent oracle
SQL string (the driver's correctness gate).  ALL 39 queries carry an
oracle: the md5-60bit hash discipline (kernel/scorer.py, operators/
mention_sql.py) makes even the scorer-driven pipelines and the LSH paths
exactly replayable in SQL.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name and hashes
values).  Float aggregates are rounded on both sides wherever summation
order is engine-dependent; everything integer-derived matches bit-for-bit.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import CORPUS_SQL, corpus
from .operators.mention_detect import detect_mentions, mentions_as_triples

QUERIES_REGISTRY: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE_FACTORIES: Dict[str, object] = {}
_ORACLE_CACHE: Dict[str, str] = {}


class _LazyOracles(dict):
    """Oracle SQL strings, built on first access: several twins embed the
    whole tokenized query battery / hyperplane literal tables, which should
    not be paid for by every ``import entrypoints``."""

    def __missing__(self, name: str) -> str:
        f = _ORACLE_FACTORIES[name]
        self[name] = f() if callable(f) else f
        return self[name]

    def __iter__(self):
        return iter(_ORACLE_FACTORIES)

    def __len__(self):
        return len(_ORACLE_FACTORIES)

    def __contains__(self, name):
        return name in _ORACLE_FACTORIES

    def keys(self):
        return _ORACLE_FACTORIES.keys()

    def items(self):
        return ((k, self[k]) for k in _ORACLE_FACTORIES)

    def values(self):
        return (self[k] for k in _ORACLE_FACTORIES)


ORACLE_REGISTRY: Dict[str, str] = _LazyOracles()


def _register(name: str, oracle=None):
    def deco(fn):
        QUERIES_REGISTRY[name] = fn
        if oracle is not None:
            _ORACLE_FACTORIES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus -> battery mention detection -> raw triples (driver smoke)."""
    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return mentions_as_triples(m)


# ---------------------------------------------------------------------------
# KG pipeline queries
# ---------------------------------------------------------------------------

@_register(
    "kg_corpus_sha",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT doc_id, repo, path, commit, lang, content_sha
    FROM corpus
    """,
)
def kg_corpus_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 scan + per-row sha256(content) invariant (BASELINE input_hint)."""
    return corpus(spark, sf_dir).select(
        "doc_id", "repo", "path", "commit", "lang", "content_sha"
    )


def _mentions_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql

    return mentions_oracle_sql(CORPUS_SQL)


@_register("kg_mentions", oracle=_mentions_oracle)
def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship W1+U6: battery mention detection (exploded span rows).
    The md5-60bit scorer makes the ENTIRE pipeline (tokenize -> wordpiece ->
    truncate -> query-conditioned score -> merge -> IOB2 decode) replayable
    in DuckDB SQL — see operators/mention_sql.py — so this is hash-checked
    externally, not just parity-tested in pytest."""
    return detect_mentions(corpus(spark, sf_dir), num_partitions=8).select(
        "doc_id", "type", "start_pos", "end_pos", "text"
    )


@_register("kg_mentions_stream", oracle=_mentions_oracle)
def kg_mentions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: the kg_mentions DAG run INCREMENTALLY under
    Structured Streaming (file source, maxFilesPerTrigger=1, availableNow,
    foreachBatch) over a deterministic 4-micro-batch schedule, accumulated
    sink hash-checked against the SAME mentions oracle as the batch plan —
    a green row proves stream==batch through the driver, not just pytest."""
    from .streaming.jobs import incremental_mentions

    return incremental_mentions(spark, sf_dir)


def _augment_oracle() -> str:
    from .operators.mention_sql import augment_oracle_sql

    return augment_oracle_sql(CORPUS_SQL, p_times=1.1)


@_register("kg_augment", oracle=_augment_oracle)
def kg_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/D3: top-2 'get-back' corpus augmentation (dataAugmentator.py);
    softmax top-2, the three mean-probability gates, and the NaN quirk are
    replayed in DuckDB (operators/mention_sql.py::augment_oracle_sql).
    score_ratio rounded to 6 digits on both sides (exp ulp tolerance)."""
    from .operators.augment import augment_corpus

    return augment_corpus(
        corpus(spark, sf_dir), p_times=1.1, num_partitions=8
    ).withColumn("score_ratio", F.round("score_ratio", 6))


_FEATURE_ARRAY_COLS = ("input_ids", "attention_mask", "token_type_ids", "label_ids")


def _featurize_oracle() -> str:
    from .operators.gold import gold_mentions_sql
    from .operators.mention_sql import featurize_oracle_sql

    inner = featurize_oracle_sql(gold_mentions_sql(CORPUS_SQL), max_seq_length=128)
    # comma-join the int arrays (identical to the engine's serialization):
    # the driver's canonicalizer sorts/hashes rows and cannot handle
    # list-typed columns — integer CSV strings are engine-exact either way
    cols = ",\n           ".join(
        f"array_to_string({c}, ',') AS {c}" for c in _FEATURE_ARRAY_COLS
    )
    return f"SELECT doc_id, q_tag,\n           {cols}\n    FROM ({inner})"


@_register("kg_featurize", oracle=_featurize_oracle)
def kg_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6: (doc x query) InputFeatures table; the md5 hash-vocab makes
    the whole featurizer (painting, wordpiece alignment, assembly,
    truncation, padding) a DuckDB list-expression twin.
    128 keeps the registry run light; tests cover the 512 contract.
    Array columns are serialized to integer-CSV strings in the REGISTERED
    output (both engines) so the driver's row canonicalizer can sort and
    hash them; ``featurize_corpus`` itself still emits real arrays."""
    from .operators.featurize import featurize_corpus
    from .operators.gold import gold_mentions

    c = corpus(spark, sf_dir)
    feat = featurize_corpus(c, gold_spans=gold_mentions(c), max_seq_length=128)
    return feat.select(
        "doc_id", "q_tag",
        *[
            F.array_join(F.transform(c_, lambda x: x.cast("string")), ",").alias(c_)
            for c_ in _FEATURE_ARRAY_COLS
        ],
    )


def _mrc_oracle() -> str:
    from .operators.mrc_detect import mrc_oracle_sql

    return mrc_oracle_sql(CORPUS_SQL)


@_register("kg_mrc_spans", oracle=_mrc_oracle)
def kg_mrc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: BERT-MRC span extraction (models/bert_mrc.py:13-61 — per-token
    binary start/end classifiers, nearest-end decode, nested across
    queries).  The reference's MRC hookup is a dead code path
    (train/run_ner.py:376-446); this operator supplies the inference
    surface so the fourth model formulation runs end to end."""
    from .operators.mrc_detect import detect_mentions_mrc

    return detect_mentions_mrc(corpus(spark, sf_dir), num_partitions=8).select(
        "doc_id", "type", "start_pos", "end_pos", "text"
    )


def _mentions_crf_oracle() -> str:
    from .operators.crf_sql import mentions_crf_oracle_sql

    return mentions_crf_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_mentions_crf", oracle=_mentions_crf_oracle)
def kg_mentions_crf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/W4/W6: battery mention detection through the CRF decode path
    (BertBiLSTMCRF-QASL family: crf.decode(logits * class_weights),
    bert_qasl_predictor.py:62-71).  The Viterbi DP is replayed in DuckDB as
    two linear recursive CTEs (forward scores + backpointers, then the
    backtrace walk) — operators/crf_sql.py.  max_seq_length=128 keeps the
    oracle recursion shallow; tests cover the 512 contract."""
    from .operators.mention_detect import detect_mentions_crf

    return detect_mentions_crf(
        corpus(spark, sf_dir), num_partitions=8, max_seq_length=128
    ).select("doc_id", "type", "start_pos", "end_pos", "text")


def _crf_confidence_oracle() -> str:
    from .operators.crf_confidence_sql import crf_confidence_oracle_sql

    return crf_confidence_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_crf_confidence", oracle=_crf_confidence_oracle)
def kg_crf_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+W5 inference-side: per-(doc, query) confidence of the decoded
    CRF path — score(path) - logZ, the sum-product forward algorithm
    (crf_layer.py:216-262) consumed as the reference's commented-out
    confidence line (bert_qasl_predictor.py:68).  Passage-local CRF window;
    the DuckDB twin runs the Viterbi AND the log-sum-exp forward as linear
    recursions (operators/crf_confidence_sql.py)."""
    from .operators.crf_confidence import crf_confidence

    return crf_confidence(
        corpus(spark, sf_dir), num_partitions=8, max_seq_length=128
    )


def _train_tagger_oracle() -> str:
    from .operators.train_sql import train_oracle_sql

    return train_oracle_sql(CORPUS_SQL, max_seq_length=128, epochs=3)


@_register("kg_train_tagger", oracle=_train_tagger_oracle)
def kg_train_tagger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7: the training loop (train/run_ner.py:319-374), re-expressed as
    distributed class-weighted batch perceptron over hashed (piece, prev)
    features — distilling the resident scorer's labels, the same
    class-weight vector the reference trains with (simqasl_config.json).
    Each epoch is pure Catalyst (broadcast weight join + tiny integer
    groupBy; operators/train.py); updates are integer mistake counts, so
    the unrolled-epoch DuckDB twin (operators/train_sql.py) hash-matches
    EXACTLY — U7 with a full external oracle.  Output: (epoch, mistakes,
    correct, total) per epoch, epoch 4 = final-weights evaluation.  The
    convergence evidence is the collapse from the all-wrong epoch 1 to a
    small final residual (batch perceptron oscillates between epochs —
    expected and asserted as such in tests/test_train.py)."""
    from .operators.train import train_metrics

    # num_partitions=None: keep the scan's partitioning (the trainer is
    # integer-exact, so the result is partitioning-independent by design)
    return train_metrics(
        corpus(spark, sf_dir), max_seq_length=128, epochs=3, num_partitions=None
    )


def _trained_mentions_oracle() -> str:
    from .operators.train_sql import trained_mentions_oracle_sql

    return trained_mentions_oracle_sql(CORPUS_SQL, max_seq_length=128, epochs=3)


@_register("kg_trained_mentions", oracle=_trained_mentions_oracle)
def kg_trained_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 end-to-end: train the tagger on this corpus, then run the
    UNCHANGED detection plan with the learned weights through the Scorer
    plug point (operators/train.py::detect_mentions_trained).  The oracle
    is ONE DuckDB query that replays training to its final weights AND the
    student's score -> merge -> IOB2 decode — the train -> deploy loop
    hash-checked externally."""
    from .operators.train import detect_mentions_trained

    return detect_mentions_trained(
        corpus(spark, sf_dir), max_seq_length=128, epochs=3, num_partitions=None
    ).select("doc_id", "type", "start_pos", "end_pos", "text")


def _sl_mentions_oracle() -> str:
    from .operators.mention_sql import sl_mentions_oracle_sql

    return sl_mentions_oracle_sql(CORPUS_SQL)


@_register("kg_sl_mentions", oracle=_sl_mentions_oracle)
def kg_sl_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: flat sequence-labeling mention detection (no overlaps); the
    65-label argmax + general typed IOB2 decode replayed in DuckDB SQL
    (operators/mention_sql.py::sl_mentions_oracle_sql)."""
    from .operators.sl_detect import detect_mentions_sl

    return detect_mentions_sl(corpus(spark, sf_dir), num_partitions=8).select(
        "doc_id", "type", "start_pos", "end_pos", "text"
    )


def _sl_crf_oracle() -> str:
    from .operators.sl_crf_sql import sl_crf_oracle_sql

    return sl_crf_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_sl_crf_mentions", oracle=_sl_crf_oracle)
def kg_sl_crf_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model family #4 (BertBiLSTMCRF-SL): 65-label CRF decode over the flat
    SL emissions (bert_sl_predictor.py:44-46, no class weights).  The
    type-tied transitions + max-product posterior decode make the 65-state
    DP expressible as two LIST-typed linear recursions in DuckDB
    (operators/sl_crf_sql.py)."""
    from .operators.sl_detect import detect_mentions_sl_crf

    return detect_mentions_sl_crf(
        corpus(spark, sf_dir), num_partitions=8, max_seq_length=128
    ).select("doc_id", "type", "start_pos", "end_pos", "text")


def _sl_vs_qasl_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql, sl_mentions_oracle_sql

    return (
        "WITH q_m AS ("
        + mentions_oracle_sql(CORPUS_SQL)
        + "),\ns_m AS ("
        + sl_mentions_oracle_sql(CORPUS_SQL)
        + """),
    g AS (SELECT DISTINCT doc_id, type, start_pos, end_pos, text FROM q_m WHERE type <> 'DIN'),
    p AS (SELECT DISTINCT doc_id, type, start_pos, end_pos, text FROM s_m WHERE type <> 'DIN'),
    c AS (SELECT * FROM p INTERSECT SELECT * FROM g),
    n AS (SELECT (SELECT COUNT(*) FROM c) AS nb_correct,
                 (SELECT COUNT(*) FROM p) AS nb_pred,
                 (SELECT COUNT(*) FROM g) AS nb_true)
    SELECT nb_correct, nb_pred, nb_true,
           ROUND(CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END, 6) AS precision,
           ROUND(CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END, 6) AS recall,
           ROUND(CASE WHEN (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END
                          + CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END) > 0
                 THEN 2 * (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
                        * (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END)
                        / ((CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
                         + (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END))
                 ELSE 0 END, 6) AS f1
    FROM n"""
    )


@_register("kg_sl_vs_qasl", oracle=_sl_vs_qasl_oracle)
def kg_sl_vs_qasl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-style side-by-side: micro P/R/F1 of flat SL against the nested
    QASL battery output (evaluate.py's model comparison), DIN excluded (P9,
    asserts.py:13-19)."""
    from .operators.metrics import micro_prf
    from .operators.mention_detect import detect_mentions
    from .operators.sl_detect import detect_mentions_sl

    c = corpus(spark, sf_dir)
    qasl = (
        detect_mentions(c, num_partitions=8)
        .where(F.col("type") != "DIN")
        .withColumnRenamed("doc_id", "pid")
    )
    sl = (
        detect_mentions_sl(c, num_partitions=8)
        .where(F.col("type") != "DIN")
        .withColumnRenamed("doc_id", "pid")
    )
    return micro_prf(qasl, sl)


def _model_matrix_oracle() -> str:
    from .operators.matrix_sql import model_matrix_oracle_sql

    return model_matrix_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_model_matrix", oracle=_model_matrix_oracle)
def kg_model_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the full 4-model comparison matrix of evaluate.py:160-197 —
    {BERT-SL, BertBiLSTMCRF-SL, BERT-QASL, BertBiLSTMCRF-QASL} x
    {flat, nested} answer sets, micro counts + P/R/F1 per cell.  Answers =
    the QASL battery output (nested) and its priority flat projection (D4,
    the reference PRIORITY table); DIN excluded everywhere (P9).  All four
    decode paths run at max_seq_length=128 (one consistent truncation; the
    512 contracts are pytest-covered), and every cell is hash-checked by
    ONE DuckDB query embedding all four oracle pipelines."""
    from .operators.mention_detect import detect_mentions_crf
    from .operators.metrics import micro_prf
    from .operators.priority import flat_projection
    from .operators.sl_detect import detect_mentions_sl, detect_mentions_sl_crf
    from .queries_battery import PRIORITY

    c = corpus(spark, sf_dir)

    def spans(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("type") != "DIN")
            .withColumnRenamed("doc_id", "pid")
            .select("pid", "type", "start_pos", "end_pos", "text")
        )

    # each span set feeds 2+ comparisons -> persist (scoring is the
    # expensive stage; the micro aggregations are trivial)
    from .cache import tracked_persist

    qasl = tracked_persist(spans(detect_mentions(c, num_partitions=8, max_seq_length=128)))
    models = [
        ("bert_sl",
         tracked_persist(spans(detect_mentions_sl(c, num_partitions=8, max_seq_length=128)))),
        ("bertbilstmcrf_sl",
         tracked_persist(spans(detect_mentions_sl_crf(c, num_partitions=8, max_seq_length=128)))),
        ("bert_qasl", qasl),
        ("bertbilstmcrf_qasl",
         tracked_persist(spans(detect_mentions_crf(c, num_partitions=8, max_seq_length=128)))),
    ]
    answer_sets = [
        ("flat", tracked_persist(flat_projection(qasl, PRIORITY))),
        ("nested", qasl),
    ]
    out = None
    for mname, m in models:
        for aname, a in answer_sets:
            row = micro_prf(a, m).select(
                F.lit(mname).alias("model"),
                F.lit(aname).alias("answers"),
                "nb_correct", "nb_pred", "nb_true",
                "precision", "recall", "f1",
            )
            out = row if out is None else out.unionByName(row)
    return out


def _canonical_triples_oracle() -> str:
    from .operators.mention_sql import canonical_triples_oracle_sql

    return canonical_triples_oracle_sql(CORPUS_SQL)


@_register("kg_canonical_triples", oracle=_canonical_triples_oracle)
def kg_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE north-rule pipeline, oracle-checked end to end: battery
    mention detection -> MinHash/LSH entity linking -> Jaccard verify ->
    connected components -> canonical election -> (subj, pred, obj) triples.
    The DuckDB twin replays every stage, including a recursive-CTE
    connected-components equivalent of the engine's min-propagation."""
    from .operators.linking import canonical_triples, canonicalize

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return canonical_triples(m, canonicalize(m)).select(
        "subj", "pred", "obj", "surface"
    )


def _purity_oracle() -> str:
    from .operators.purity import cluster_purity_sql

    return cluster_purity_sql(_canonical_triples_oracle())


@_register("kg_cluster_purity", oracle=_purity_oracle)
def kg_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-quality gate on the linking stage: per-canonical-entity type
    purity (majority-type share of mentions) — an impure cluster means
    canonicalization merged different entity types.  Two map-side-combined
    aggregations over the canonical triples; majority via the combinable
    min(struct(-cnt, type)) trick, NO window/sort; one snapped division
    (operators/purity.py)."""
    from .operators.linking import canonical_triples, canonicalize
    from .operators.purity import cluster_purity

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return cluster_purity(canonical_triples(m, canonicalize(m)))


def _triples_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql

    return (
        "WITH mentions AS ("
        + mentions_oracle_sql(CORPUS_SQL)
        + """)
    SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS subj,
           'hasEntityType:' || type          AS pred,
           text                              AS obj
    FROM mentions"""
    )


@_register("kg_triples", oracle=_triples_oracle)
def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship(spark, sf_dir).select("subj", "pred", "obj")


def _ntriples_oracle() -> str:
    from .io.formats import ntriples_lines_sql

    return ntriples_lines_sql(_triples_oracle())


@_register("kg_ntriples", oracle=_ntriples_oracle)
def kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C N-Triples export of the constructed KG — the RDF interchange
    sink: '<urn:doc:id> <urn:rel:hasEntityType:T> "escaped text" .' with
    the grammar's escape chain (backslash first, then quote/LF/CR/TAB)
    as shared replace() built-ins, byte-identical across engines.
    Map-only on top of the triples plan (io/formats.py::ntriples_lines)."""
    from .io.formats import ntriples_lines

    return ntriples_lines(flagship(spark, sf_dir).select("subj", "pred", "obj"))


def _pagerank_oracle() -> str:
    from .operators.pagerank import pagerank_oracle_sql

    return pagerank_oracle_sql(_canonical_triples_oracle())


@_register("kg_pagerank", oracle=_pagerank_oracle)
def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-importance PageRank over the engine's own canonical KG
    (undirected doc<->entity bipartite walk, 3 power iterations) — the
    graph-analytics consumer of kg_canonical_triples and the third
    iterative operator (after kg_train_tagger / ds_kmeans).  Each round is
    one equi-join + one map-side-combined groupBy, shuffle O(edges); ranks
    snap to the shared 1e-9 grid per round so the DuckDB twin (the
    canonical-triples oracle feeding unrolled power-iteration CTEs) tracks
    the exact trajectory."""
    from .operators.linking import canonical_triples, canonicalize
    from .operators.pagerank import pagerank

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return pagerank(canonical_triples(m, canonicalize(m)))


def _cooccur_oracle() -> str:
    from .operators.cooccur import entity_cooccurrence_sql
    from .operators.mention_sql import mentions_oracle_sql

    return entity_cooccurrence_sql(mentions_oracle_sql(CORPUS_SQL), CORPUS_SQL)


@_register("kg_entity_cooccur", oracle=_cooccur_oracle)
def kg_entity_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 entity pairs by lift over the detected-mention stream —
    corpus-level association mining (drug-drug / drug-disease candidates)
    on the same mentions the triples materialize.  Lift is the PMI ratio
    without the log, so every value is an exact integer product/quotient
    and the DuckDB twin is bit-identical (operators/cooccur.py)."""
    from .operators.cooccur import entity_cooccurrence

    c = corpus(spark, sf_dir)
    m = detect_mentions(c, num_partitions=8)
    return entity_cooccurrence(m, c.agg(F.count(F.lit(1)).alias("n_docs")))


def _communities_oracle() -> str:
    from .operators.communities import label_propagation_sql
    from .operators.mention_sql import mentions_oracle_sql

    return label_propagation_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_communities", oracle=_communities_oracle)
def kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the entity
    co-occurrence graph (4 rounds, self-vote, (votes DESC, label ASC)
    winner) — pure integer votes and string tie-breaks, so the
    unrolled-CTE DuckDB twin is exact with no float discipline
    (operators/communities.py).  Each round: one equi-join + one
    map-side-combined count + a node-partitioned window."""
    from .operators.communities import entity_edges, label_propagation

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return label_propagation(entity_edges(m))


def _modularity_oracle() -> str:
    from .operators.communities import modularity_trajectory_sql
    from .operators.mention_sql import mentions_oracle_sql

    return modularity_trajectory_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_modularity", oracle=_modularity_oracle)
def kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition after EACH round 0..4 over
    the entity co-occurrence graph — the over-merge diagnostic (round 0
    scores the negative null-model mass; a collapse to one community
    drives Q back to exactly 0) — in 4m^2-scaled integer form: num_c =
    4*m*e_c - d_c^2 per community, the only float being the final scaled
    division (operators/communities.py::modularity_trajectory)."""
    from .operators.communities import entity_edges, modularity_trajectory

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return modularity_trajectory(entity_edges(m))


def _entity_components_oracle() -> str:
    from .operators.communities import entity_components_sql
    from .operators.mention_sql import mentions_oracle_sql

    return entity_components_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_entity_components", oracle=_entity_components_oracle)
def kg_entity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components of the entity co-occurrence graph —
    the strategy-selected CC operator (Arrow min-root hooking /
    pointer jumping) exposed as its own driver-checked query rather than only
    embedded inside canonicalization; md5-60bit entity ids make the
    recursive-CTE DuckDB twin exact (operators/communities.py)."""
    from .operators.communities import entity_components, entity_edges

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return entity_components(entity_edges(m))


def _kcore_oracle() -> str:
    from .operators.communities import k_core_sql
    from .operators.mention_sql import mentions_oracle_sql

    return k_core_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_kcore", oracle=_kcore_oracle)
def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the entity co-occurrence graph via 4 synchronous peeling
    rounds (drop nodes with degree < k, drop incident edges) — the
    dense-subgraph filter separating structurally-supported entities from
    one-off co-occurrence noise.  Fixed round count keeps both engines on
    the same trajectory; per round ONE map-side-combined degree agg + two
    semi-joins + a lineage-truncating localCheckpoint, pure integers
    (operators/communities.py::k_core)."""
    from .operators.communities import entity_edges, k_core

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return k_core(entity_edges(m))


def _triangles_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.triangles import triangle_stats_sql

    return triangle_stats_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_triangles", oracle=_triangles_oracle)
def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts + local clustering coefficients over the
    entity co-occurrence graph via degree orientation (compact-forward) —
    the wedge join fans out from each edge's LOW-degree endpoint only, so
    hubs cannot amplify it (operators/triangles.py)."""
    from .operators.communities import entity_edges
    from .operators.triangles import triangle_stats

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return triangle_stats(entity_edges(m))


def _linkpred_oracle() -> str:
    from .operators.linkpred import link_prediction_sql
    from .operators.mention_sql import mentions_oracle_sql

    return link_prediction_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_link_prediction", oracle=_linkpred_oracle)
def kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor/Jaccard link prediction over the entity
    co-occurrence graph: top-50 non-adjacent pairs by Jaccard — the
    KG-completion candidate list.  Wedges generate only through spokes
    with degree <= 64 (a hub spoke would emit O(d^2) pairs), existing
    edges drop via LEFT ANTI, winners via TakeOrdered heaps
    (operators/linkpred.py)."""
    from .operators.communities import entity_edges
    from .operators.linkpred import link_prediction

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return link_prediction(entity_edges(m))


def _paths_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.paths import landmark_paths_sql

    return landmark_paths_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_shortest_paths", oracle=_paths_oracle)
def kg_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS from the 4 highest-degree entities over
    the co-occurrence graph — landmark distances for multi-hop KG
    reasoning.  Fixed 3 rounds, each ONE equi-join + map-side-combined
    MIN + a lineage-truncating localCheckpoint; pure integers so the
    unrolled-CTE twin is bit-exact (operators/paths.py)."""
    from .operators.communities import entity_edges
    from .operators.paths import landmark_paths

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return landmark_paths(entity_edges(m))


def _walks_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.walks import random_walks_sql

    return random_walks_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_random_walks", oracle=_walks_oracle)
def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the entity graph: one 4-step
    hash-greedy walk per node (next hop = md5-argmin neighbor, the
    deterministic stand-in for a uniform draw).  Each step is ONE
    equi-join + a combinable MIN over ``md5hex|dst`` keys — no window,
    no sort, walker frame bounded by node count (operators/walks.py)."""
    from .operators.communities import entity_edges
    from .operators.walks import random_walks

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return random_walks(entity_edges(m))


def _skipgrams_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.walks import walk_skipgrams_sql

    return walk_skipgrams_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_walk_skipgrams", oracle=_skipgrams_oracle)
def kg_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts windowed from the walk
    corpus — the word2vec-style training set for graph embeddings.  A
    walk-local self-join (|Δstep| <= 2, fan-out bounded by walk length)
    + one map-side-combined count (operators/walks.py)."""
    from .operators.communities import entity_edges
    from .operators.walks import random_walks, walk_skipgrams

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return walk_skipgrams(random_walks(entity_edges(m)))


def _negsample_oracle() -> str:
    from .operators.negsample import negative_samples_sql

    return negative_samples_sql(_canonical_triples_oracle())


@_register("kg_negative_samples", oracle=_negsample_oracle)
def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE-style negative sampling over the canonical triples: K=2
    deterministic object corruptions per positive via md5-indexed draws
    from a two-level-ranked entity dictionary (no global window, no RNG
    state — re-running regenerates byte-identical negatives, so training
    shards re-materialize independently; operators/negsample.py)."""
    from .operators.linking import canonical_triples, canonicalize
    from .operators.negsample import negative_samples

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return negative_samples(canonical_triples(m, canonicalize(m)))


def _incremental_oracle() -> str:
    from .operators.incremental import incremental_triples_oracle_sql

    return incremental_triples_oracle_sql(CORPUS_SQL)


@_register("kg_incremental_triples", oracle=_incremental_oracle)
def kg_incremental_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level incremental KG maintenance, driver-checked: snapshot v1
    (triples + (doc_id, content_sha) manifest), deterministically revise
    every 7th document, then produce v2 triples by running the scorer over
    the sha-diff ONLY (one left-anti join on the per-row sha256 invariant)
    and reusing stored triples for the rest.  The oracle is a FULL
    recompute over the v2 corpus — a green row proves incremental == full,
    byte for byte (operators/incremental.py; bucket-granular sibling:
    kg_triples_resumed)."""
    import shutil
    import tempfile

    from .corpus import load_documents
    from .operators.incremental import incremental_triples, revise_documents

    docs = load_documents(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="kg_incremental_")
    try:
        out = incremental_triples(
            spark, docs, revise_documents(docs), root, num_partitions=8
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register("kg_triples_resumed", oracle=_canonical_triples_oracle)
def kg_triples_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 resume evidence through the driver (not just pytest): run the
    checkpointed pipeline (pipeline.run_pipeline over io/icetable.py),
    simulate a crash after 3 of 8 committed mention buckets, then resume.
    The resumed run recomputes ONLY the missing buckets (anti-join on the
    CURRENT manifest) and the emitted canonical-triples frame is
    hash-checked against the SAME oracle as kg_canonical_triples — a green
    row is a driver-verified kill/resume byte-equality proof (reference
    analog: the FileLock feature cache, utils/feaproducer.py:57-99).

    The frame is localCheckpoint-materialized so the temp table root can be
    removed before the driver collects (evidence surface; production runs
    point table_root at durable storage and skip the copy)."""
    import shutil
    import tempfile

    from .pipeline import run_pipeline

    root = tempfile.mkdtemp(prefix="kg_triples_resumed_")
    try:
        try:
            run_pipeline(
                spark, sf_dir, root, n_buckets=8, fail_after={"mentions": 3}
            )
            raise AssertionError("simulated crash did not fire")
        except RuntimeError:
            pass  # mid-stage death: 3 of 8 mention buckets committed
        from .io.icetable import IceTable

        committed = IceTable(root).committed_buckets("mentions")
        if len(committed) != 3:
            raise AssertionError(
                f"expected 3 committed buckets after crash, saw {len(committed)}"
            )
        trip = run_pipeline(spark, sf_dir, root, n_buckets=8)
        return trip.select("subj", "pred", "obj", "surface").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Span algebra on the SQL-expressible gold annotator (D1/D2/D4/D5, J2, A1/A2)
# ---------------------------------------------------------------------------

def _gold_prelude() -> str:
    from .operators.gold import gold_mentions_sql

    return gold_mentions_sql(CORPUS_SQL)


def _gold_prio_case() -> str:
    from .operators.gold import GOLD_PRIORITY

    whens = " ".join(
        f"WHEN '{t}' THEN {p}" for t, p in GOLD_PRIORITY.items()
    )
    return f"CASE type {whens} ELSE -1.0 END"


_FLAT_SQL_BODY = """
dedup AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM gold),
ranked AS (
  SELECT pid, type, start_pos, end_pos, text,
         ROW_NUMBER() OVER (PARTITION BY pid, start_pos, end_pos
                            ORDER BY {prio} DESC, type ASC) AS rk
  FROM dedup),
flat AS (SELECT pid, type, start_pos, end_pos, text FROM ranked WHERE rk = 1)
"""


def _spans_long(df: DataFrame) -> DataFrame:
    return df.select(
        "pid", "type",
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("end_pos").cast("long").alias("end_pos"),
        "text",
    )


@_register(
    "kg_gold_mentions",
    oracle=lambda: _gold_prelude()
    + "SELECT pid, type, start_pos, end_pos, text FROM gold",
)
def kg_gold_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/W2 analog: token-class annotator -> exploded span rows."""
    from .operators.gold import gold_mentions

    return _spans_long(gold_mentions(corpus(spark, sf_dir)))


@_register(
    "kg_priority_flat",
    oracle=lambda: _gold_prelude().rstrip()
    + ",\n"
    + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
    + "SELECT pid, type, start_pos, end_pos, text FROM flat",
)
def kg_priority_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 dedup + D4 priority overlap resolution (window rank)."""
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.priority import flat_projection

    return _spans_long(
        flat_projection(gold_mentions(corpus(spark, sf_dir)), GOLD_PRIORITY)
    )


@_register(
    "kg_nested_minus_flat",
    oracle=lambda: _gold_prelude().rstrip()
    + ",\n"
    + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
    + """
SELECT pid, type, start_pos, end_pos, text
FROM (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM gold)
EXCEPT
SELECT pid, type, start_pos, end_pos, text FROM flat""",
)
def kg_nested_minus_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: nested − flat set difference (left_anti join)."""
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.priority import flat_projection, nested_minus_flat

    from .cache import tracked_persist

    g = tracked_persist(gold_mentions(corpus(spark, sf_dir)))
    return _spans_long(nested_minus_flat(g, flat_projection(g, GOLD_PRIORITY)))


@_register(
    "kg_metrics_micro",
    oracle=lambda: _gold_prelude().rstrip()
    + ",\n"
    + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
    + """,
g AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM gold),
p AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM flat),
c AS (SELECT * FROM p INTERSECT SELECT * FROM g),
n AS (SELECT (SELECT COUNT(*) FROM c) AS nb_correct,
             (SELECT COUNT(*) FROM p) AS nb_pred,
             (SELECT COUNT(*) FROM g) AS nb_true)
SELECT nb_correct, nb_pred, nb_true,
       ROUND(CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END, 6) AS precision,
       ROUND(CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END, 6) AS recall,
       ROUND(CASE WHEN (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END
                      + CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END) > 0
             THEN 2 * (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
                    * (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END)
                    / ((CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
                     + (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END))
             ELSE 0 END, 6) AS f1
FROM n""",
)
def kg_metrics_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: seqeval micro P/R/F1 of the flat projection vs the nested gold."""
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.metrics import micro_prf
    from .operators.priority import flat_projection

    from .cache import tracked_persist

    # gold feeds four consumers (flat projection + the three count
    # branches); persist so the tokenize/paint pipeline runs once
    g = tracked_persist(gold_mentions(corpus(spark, sf_dir)))
    return micro_prf(g, flat_projection(g, GOLD_PRIORITY))


@_register(
    "kg_review_sheet",
    oracle=lambda: _gold_prelude()
    + r"""
    SELECT pid,
           string_agg('[' || type || '][' || text || '][' ||
                      CAST(start_pos AS VARCHAR) || '-' ||
                      CAST(end_pos AS VARCHAR) || ']',
                      ',' || chr(10)
                      ORDER BY start_pos, end_pos, type, text) AS flat_ne_answers
    FROM gold GROUP BY pid
    """,
)
def kg_review_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: the human-review serialization (squad2df,
    dataTransformer.py:105-128) — one row per passage with the
    ",\\n"-joined [TYPE][text][s-e] answers cell, canonically ordered.  The
    parse direction (df2squad's greedy regex) is io/review.py::
    review_to_spans, round-trip-tested in tests/test_review.py."""
    from .operators.gold import gold_mentions
    from .io.review import spans_to_review

    return spans_to_review(gold_mentions(corpus(spark, sf_dir)))


@_register(
    "kg_type_report",
    oracle=lambda: _gold_prelude().rstrip()
    + ",\n"
    + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
    + """,
g AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM gold),
p AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM flat),
c AS (SELECT * FROM p INTERSECT SELECT * FROM g),
per AS (
  SELECT t.type,
         COALESCE(tc.n, 0) AS nb_true,
         COALESCE(pc.n, 0) AS nb_pred,
         COALESCE(cc.n, 0) AS nb_correct
  FROM (SELECT type FROM g UNION SELECT type FROM p) t
  LEFT JOIN (SELECT type, COUNT(*) n FROM g GROUP BY 1) tc USING (type)
  LEFT JOIN (SELECT type, COUNT(*) n FROM p GROUP BY 1) pc USING (type)
  LEFT JOIN (SELECT type, COUNT(*) n FROM c GROUP BY 1) cc USING (type)),
scored AS (
  SELECT type, nb_true, nb_pred, nb_correct,
         CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END AS p_raw,
         CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END AS r_raw
  FROM per),
scored2 AS (
  SELECT *, CASE WHEN p_raw + r_raw > 0 THEN 2 * p_raw * r_raw / (p_raw + r_raw) ELSE 0 END AS f_raw
  FROM scored)
SELECT type AS label, ROUND(p_raw, 6) AS precision, ROUND(r_raw, 6) AS recall,
       ROUND(f_raw, 6) AS f1, nb_true AS support
FROM scored2
UNION ALL
SELECT 'micro avg',
       ROUND(CASE WHEN SUM(nb_pred) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_pred) AS DOUBLE) ELSE 0 END, 6),
       ROUND(CASE WHEN SUM(nb_true) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_true) AS DOUBLE) ELSE 0 END, 6),
       ROUND(CASE WHEN (CASE WHEN SUM(nb_pred) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_pred) AS DOUBLE) ELSE 0 END
                      + CASE WHEN SUM(nb_true) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_true) AS DOUBLE) ELSE 0 END) > 0
             THEN 2 * (CASE WHEN SUM(nb_pred) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_pred) AS DOUBLE) ELSE 0 END)
                    * (CASE WHEN SUM(nb_true) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_true) AS DOUBLE) ELSE 0 END)
                    / ((CASE WHEN SUM(nb_pred) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_pred) AS DOUBLE) ELSE 0 END)
                     + (CASE WHEN SUM(nb_true) > 0 THEN SUM(nb_correct) / CAST(SUM(nb_true) AS DOUBLE) ELSE 0 END))
             ELSE 0 END, 6),
       CAST(SUM(nb_true) AS BIGINT)
FROM scored2
UNION ALL
SELECT 'macro avg', ROUND(AVG(p_raw), 6), ROUND(AVG(r_raw), 6), ROUND(AVG(f_raw), 6),
       CAST(SUM(nb_true) AS BIGINT)
FROM scored2""",
)
def kg_type_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-type classification report with micro/macro rollup rows."""
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.metrics import classification_report
    from .operators.priority import flat_projection

    from .cache import tracked_persist

    g = tracked_persist(gold_mentions(corpus(spark, sf_dir)))
    return classification_report(g, flat_projection(g, GOLD_PRIORITY))


def _sl_gold_ctes(max_seq_length: int = 512) -> str:
    """Shared oracle prelude for the token-level eval surface: the SL
    model's per-token label stream (``pred``) plus the gold annotation and
    its flat projection (``gtoks``/``gold``/``flat`` — renamed so the gold
    tokenization does not collide with the SL twin's ``toks`` CTE)."""
    from .operators.gold import GOLD_VOCAB
    from .operators.mention_sql import sl_token_labels_ctes

    unions = "\n      UNION ALL\n      ".join(
        f"SELECT pid, '{typ}' AS type, start_pos, start_pos AS end_pos, text"
        f"\n      FROM gtoks WHERE text IN ({', '.join(repr(v) for v in vocab)})"
        for typ, vocab in GOLD_VOCAB.items()
    )
    flat_body = _FLAT_SQL_BODY.format(prio=_gold_prio_case()).strip()
    return sl_token_labels_ctes(CORPUS_SQL, max_seq_length=max_seq_length) + f""",
    gtoks AS (
      SELECT doc_id AS pid,
             unnest(range(len(string_split(content, ' ')))) AS start_pos,
             unnest(string_split(content, ' '))             AS text
      FROM corpus),
    gold AS (
      {unions}),
    {flat_body}"""


def _token_metrics_oracle() -> str:
    return _sl_gold_ctes() + """,
    painted AS (
      SELECT p.pid, p.pos,
             COALESCE(CASE WHEN p.pos = f.start_pos THEN 'B-' || f.type
                           ELSE 'I-' || f.type END, 'O') AS label
      FROM pred p LEFT JOIN flat f
        ON p.pid = f.pid AND p.pos BETWEEN f.start_pos AND f.end_pos)
    SELECT SUM(CASE WHEN g.label = p.label AND (g.label <> 'O' OR p.label <> 'O')
               THEN 1 ELSE 0 END)::BIGINT AS "TP",
           SUM(CASE WHEN g.label <> p.label AND p.label <> 'O'
               THEN 1 ELSE 0 END)::BIGINT AS "FP",
           SUM(CASE WHEN g.label <> 'O' AND p.label = 'O'
               THEN 1 ELSE 0 END)::BIGINT AS "FN",
           SUM(CASE WHEN g.label = 'O' AND p.label = 'O'
               THEN 1 ELSE 0 END)::BIGINT AS "TN",
           ROUND(AVG(CASE WHEN g.label = p.label THEN 1.0 ELSE 0.0 END), 6)
             AS accuracy,
           COUNT(*)::BIGINT AS nb_tokens
    FROM painted g JOIN pred p ON g.pid = p.pid AND g.pos = p.pos"""


def _label_vocab_oracle() -> str:
    from .kernel.features import get_labels
    from .queries_battery import QUERIES

    labs, _ = get_labels(
        [f"{p}-{t}" for t in QUERIES for p in ("B", "I")]
    )
    values = ",\n        ".join(f"({i}, '{l}')" for i, l in enumerate(labs))
    return f"""
    SELECT CAST(label_id AS BIGINT) AS label_id, label FROM (VALUES
        {values}) v(label_id, label)"""


@_register("kg_label_vocab", oracle=_label_vocab_oracle)
def kg_label_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 driver evidence: the engine's label vocabulary — the SL model's
    65-label space [O] + [B-t, I-t] per battery type, with the reference's
    'prepend O if absent' rule (feaproducer.py:353-360 via
    kernel/features.py::get_labels).  The id order IS load-bearing: the
    65-state CRF transition layout and the SL argmax tie-break both index
    into it, so a green hash row pins the contract every decode path
    assumes."""
    from .kernel.features import get_labels
    from .queries_battery import QUERIES

    labs, lab2id = get_labels(
        [f"{p}-{t}" for t in QUERIES for p in ("B", "I")]
    )
    return spark.createDataFrame(
        [(lab2id[l], l) for l in labs], "label_id long, label string"
    )


@_register("kg_token_metrics", oracle=_token_metrics_oracle)
def kg_token_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4 driver evidence: token-level accuracy (eval.py:39-47) and
    TP/FP/FN/TN confusion (metrics_sl.py:243-270 ``performance_measure``)
    of the SL model's merged label stream against the gold annotation
    painted as BIO over the same token positions.  Both streams are
    replayed in DuckDB (the SL twin minus its decode tail; painting as a
    span BETWEEN join), so the whole reference eval surface is value-hashed
    through the driver, not just pytest-golden."""
    from .cache import tracked_persist
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.metrics import (
        paint_flat_labels,
        token_accuracy,
        token_confusion,
    )
    from .operators.priority import flat_projection
    from .operators.sl_detect import sl_token_label_stream

    c = corpus(spark, sf_dir)
    pred = tracked_persist(sl_token_label_stream(c, num_partitions=8))
    flat = flat_projection(gold_mentions(c), GOLD_PRIORITY)
    gold = paint_flat_labels(pred.select("pid", "pos"), flat)
    return token_confusion(gold, pred).crossJoin(token_accuracy(gold, pred))


_CORR_KEY_SQL = (
    "('0x' || substr(md5('corr:' || CAST(pid AS VARCHAR) || ':' || type"
    " || ':' || CAST(start_pos AS VARCHAR) || ':'"
    " || CAST(end_pos AS VARCHAR)), 1, 15))::BIGINT % 7"
)


def _corrections_merge_oracle() -> str:
    return (
        _gold_prelude().rstrip()
        + ",\n"
        + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
        + f""",
corr AS (
  SELECT pid, type, start_pos, end_pos,
         CASE WHEN {_CORR_KEY_SQL} = 0 THEN 'drop'
              WHEN {_CORR_KEY_SQL} = 1 THEN 'retype' END AS action,
         CASE WHEN {_CORR_KEY_SQL} = 1 THEN 'REV_' || type END AS new_type
  FROM flat
  WHERE {_CORR_KEY_SQL} IN (0, 1))
SELECT f.pid,
       CASE WHEN c.action = 'retype' THEN c.new_type ELSE f.type END AS type,
       CAST(f.start_pos AS BIGINT) AS start_pos,
       CAST(f.end_pos AS BIGINT) AS end_pos,
       f.text
FROM flat f
LEFT JOIN corr c
  ON f.pid = c.pid AND f.type = c.type
 AND f.start_pos = c.start_pos AND f.end_pos = c.end_pos
WHERE c.action IS NULL OR c.action <> 'drop'"""
    )


@_register("kg_corrections_merge", oracle=_corrections_merge_oracle)
def kg_corrections_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 driver evidence: the pid-keyed human-corrections merge
    (df2qasl.py:36-58 / qasl2df.py:23-45 round-trip semantics) applied to
    the flat gold projection with a DETERMINISTIC reviewer: spans whose
    md5-60 correction key lands on 0 are dropped, on 1 retyped to
    ``REV_<type>`` — both engines derive the same corrections frame from
    the same hash, so the merged output is value-hashed end to end."""
    from .hashing import md5_60_expr
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.priority import apply_corrections, flat_projection

    flat = flat_projection(gold_mentions(corpus(spark, sf_dir)), GOLD_PRIORITY)
    key = md5_60_expr(
        F.concat(
            F.lit("corr:"), F.col("pid").cast("string"), F.lit(":"),
            F.col("type"), F.lit(":"),
            F.col("start_pos").cast("string"), F.lit(":"),
            F.col("end_pos").cast("string"),
        )
    ) % 7
    corr = (
        flat.select(
            "pid", "type", "start_pos", "end_pos",
            F.when(key == 0, F.lit("drop"))
            .when(key == 1, F.lit("retype"))
            .alias("action"),
            F.when(key == 1, F.concat(F.lit("REV_"), F.col("type")))
            .alias("new_type"),
        )
        .where(F.col("action").isNotNull())
    )
    return _spans_long(apply_corrections(flat, corr))


def _prediction_lines_oracle() -> str:
    # max_seq_length=64: the driver corpus has no >510-subword doc, so the
    # S9 padding quirk would be dead at 512 — a short cap makes truncation
    # (and the 'no prediction' lines) live at sf0.01; tests pin the 512
    # contract (same precedent as kg_featurize's 128)
    return _sl_gold_ctes(max_seq_length=64) + """,
    glabels AS (
      SELECT g.pid, g.start_pos AS pos, g.text AS token,
             COALESCE(CASE WHEN g.start_pos = f.start_pos
                           THEN 'B-' || f.type
                           ELSE 'I-' || f.type END, 'O') AS label
      FROM gtoks g LEFT JOIN flat f
        ON g.pid = f.pid AND g.start_pos BETWEEN f.start_pos AND f.end_pos)
    SELECT g.pid, g.pos,
           g.token || ' ' || g.label || ' ' ||
           COALESCE(p.label, 'no prediction') AS value
    FROM glabels g LEFT JOIN pred p ON g.pid = p.pid AND g.pos = p.pos"""


@_register("kg_prediction_lines", oracle=_prediction_lines_oracle)
def kg_prediction_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 driver evidence: the predictions text sink's exact serialization
    (feaproducer.py:335-349) as a value-hashed frame — ``token gold pred``
    per position over ALL gold token positions, with the reference's
    ``"no prediction"`` padding live on every position past the SL model's
    512-subword truncation (the file itself is written by
    io/tagfiles.py::write_predictions from this same frame)."""
    from .cache import tracked_persist
    from .io.tagfiles import prediction_lines
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.metrics import paint_flat_labels
    from .operators.priority import flat_projection
    from .operators.sl_detect import sl_token_label_stream

    c = corpus(spark, sf_dir)
    toks = c.select(
        F.col("doc_id").alias("pid"),
        F.posexplode(F.split(F.col("content"), " ")).alias("pos", "token"),
    )
    flat = flat_projection(gold_mentions(c), GOLD_PRIORITY)
    gold_stream = paint_flat_labels(toks, flat)
    pred = tracked_persist(
        sl_token_label_stream(c, num_partitions=8, max_seq_length=64)
    )
    return prediction_lines(gold_stream, pred)


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / text analysis / similarity / mm)
# ---------------------------------------------------------------------------

@_register(
    "ds_exact_dedup",
    oracle="""
    SELECT d.doc_id, g.canonical_doc_id, g.group_size
    FROM documents d
    JOIN (SELECT text, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS group_size
          FROM documents GROUP BY text) g USING (text)
    """,
)
def ds_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@_register(
    "ds_ngram_jaccard",
    # same hot-shingle document-frequency cap (> 64 docs -> dropped) as the
    # engine, applied to intersections AND set sizes -> exact Jaccard over
    # the capped shingle space on both sides
    oracle="""
    WITH sh0 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(len(string_split(text, ' ')) - 2),
                 i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3], ' ')
               )) AS shingle
        FROM documents)),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 64),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT src, dst,
           ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = src
    JOIN sizes sb ON sb.doc_id = dst
    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def ds_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.5)


@_register(
    "ds_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+'))                       AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           length(text)                                                     AS n_chars
    FROM documents
    """,
)
def ds_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import token_stats

    return token_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _quality_oracle() -> str:
    from .operators.textops import QUALITY_SQL

    return QUALITY_SQL


@_register(
    "ds_quality",
    oracle=_quality_oracle,
)
def ds_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents")).withColumn(
        "n_words", F.col("n_words").cast("long")
    )


def _quantiles_oracle() -> str:
    from .operators.quantiles import length_quantiles_sql

    return length_quantiles_sql()


@_register("ds_length_quantiles", oracle=_quantiles_oracle)
def ds_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length/word-count quantiles (p50/p90/p99/max)
    via value histograms — one map-side-combined agg compresses the
    corpus to its distinct metric values, the cumulative fold + ceil
    pick run on that tiny frame; pure integers end to end
    (operators/quantiles.py)."""
    from .operators.quantiles import length_quantiles

    return length_quantiles(_t(spark, sf_dir, "documents"))


def _tfidf_oracle() -> str:
    from .operators.textops import tfidf_topk_sql

    return tfidf_topk_sql()


@_register("ds_tfidf_topk", oracle=_tfidf_oracle)
def ds_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 tf-idf keywords (rational idf — see
    operators/textops.py::tfidf_topk for why no log) over the documents
    table; explode -> two map-side-combined aggs -> 1:1 df join ->
    doc-local window top-k."""
    from .operators.textops import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"))


def _boilerplate_oracle() -> str:
    from .operators.textops import boilerplate_ngrams_sql

    return boilerplate_ngrams_sql()


def _inverted_index_oracle() -> str:
    from .operators.textops import inverted_index_sql

    # comma-join the posting list (identical to the engine's
    # serialization): the driver's canonicalizer sorts/hashes rows and
    # cannot handle list-typed columns — the doc-id CSV is engine-exact
    return (
        "SELECT term, df, rnk, array_to_string(postings, ',') AS postings"
        f"\n    FROM ({inverted_index_sql()})"
    )


@_register("ds_inverted_index", oracle=_inverted_index_oracle)
def ds_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-retrieval index build: top-100 terms by document frequency
    with capped sorted posting lists.  Winner selection is orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, no single-partition
    window) and postings truncate via a broadcast semi-join BEFORE any
    list materializes, so Zipf head terms never collect full postings
    (operators/textops.py::inverted_index).  The postings column is
    serialized to a doc-id CSV string in the REGISTERED output (both
    engines) so the driver's row canonicalizer can sort and hash it;
    ``inverted_index`` itself still emits a real array."""
    from .operators.textops import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents")).select(
        "term", "df", "rnk",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


def _chunk_oracle() -> str:
    from .operators.textops import chunk_documents_sql

    return chunk_documents_sql()


@_register("ds_chunk_documents", oracle=_chunk_oracle)
def ds_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200-char windows every 150 — the
    RAG / long-context prep op).  Chunk OFFSETS explode before the
    substring is cut, so no row ever materializes a full chunk array; no
    shuffle anywhere (operators/textops.py::chunk_documents)."""
    from .operators.textops import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


def _count_min_oracle() -> str:
    from .operators.sketches import count_min_topk_sql

    return count_min_topk_sql()


@_register("ds_heavy_hitters", oracle=_count_min_oracle)
def ds_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the token stream: exact top-50
    terms graded against their 4x1024 sketch estimate.  The sketch is a
    fixed 4096-cell integer state (map-side combinable, broadcast to the
    probe), the winner pick is TakeOrdered heaps — at 100 TB the sketch
    build shuffles kilobytes per partition regardless of token volume
    (operators/sketches.py::count_min_topk)."""
    from .operators.sketches import count_min_topk

    return count_min_topk(_t(spark, sf_dir, "documents"))


def _hll_oracle() -> str:
    from .operators.sketches import hll_distinct_sql

    return hll_distinct_sql()


@_register("ds_hll_distinct", oracle=_hll_oracle)
def ds_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog per-language distinct-term estimate next
    to the exact count — 256 integer registers per group, md5-60bit
    hashing, bin()-based ranks, the harmonic sum folded into an exact
    BIGINT so the only float op is the final division
    (operators/sketches.py::hll_distinct)."""
    from .operators.sketches import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "documents"))


def _bloom_oracle() -> str:
    from .operators.sketches import bloom_membership_sql

    return bloom_membership_sql()


@_register("ds_bloom_membership", oracle=_bloom_oracle)
def ds_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter: build 1024 OR-aggregated 62-bit
    words over English terms, probe every other language, and emit the
    one-row confusion summary (false negatives structurally 0, checked).
    The filter broadcasts; the exact join exists only to grade it
    (operators/sketches.py::bloom_membership)."""
    from .operators.sketches import bloom_membership

    return bloom_membership(_t(spark, sf_dir, "documents"))


@_register("ds_boilerplate_ngrams", oracle=_boilerplate_oracle)
def ds_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate mining: top-20 word 5-grams by document
    frequency (DISTINCT per doc), the phrase table a C4-style cleaner
    strips before training."""
    from .operators.textops import boilerplate_ngrams

    return boilerplate_ngrams(_t(spark, sf_dir, "documents"))


@_register(
    "ds_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS md5_fp
    FROM documents
    """,
)
def ds_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "md5_fp")


def _pii_oracle() -> str:
    from .operators.textops import PII_PATTERNS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = "text"
    for _name, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT doc_id,
           {clean} AS clean_text,
           {counts}
    FROM documents
    """


@_register("ds_pii_redact", oracle=_pii_oracle)
def ds_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / phone shapes / IPv4 -> typed placeholders)
    with per-class audit counts — pure built-ins, patterns shared
    Java-regex/RE2 syntax so both engines see identical semantics."""
    from .operators.textops import redact_pii

    return redact_pii(_t(spark, sf_dir, "documents"))


@_register(
    "ds_repetition",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct,
             unnest(CASE WHEN len(w) >= 2
                    THEN list_transform(range(len(w) - 1),
                                        i -> w[i + 1] || ' ' || w[i + 2])
                    ELSE [''] END) AS gram
      FROM w),
    pg AS (SELECT doc_id, n_words, n_distinct, gram, COUNT(*) AS c
           FROM g GROUP BY 1, 2, 3, 4)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_bigram_ratio,
           ROUND(n_distinct / CAST(n_words AS DOUBLE), 6) AS distinct_word_ratio
    FROM pg GROUP BY doc_id, n_words, n_distinct
    """,
)
def ds_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filter signals: most-frequent-bigram
    fraction + distinct-word ratio (boilerplate detector)."""
    from .operators.textops import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


_ANN_QUERY_IDS = list(range(10))


@_register(
    "ds_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.q_emb AS DOUBLE[])) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, rank, vec_id, ROUND(cos, 3) AS score
    FROM ranked WHERE rank <= 5
    """,
)
def ds_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import brute_force_topk

    return brute_force_topk(
        _t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ds_embedding_neardup",
    # FLOOR(x*1000 + 0.5)/1000 = the engine's shared round_half_away_3 —
    # the SAME rounding function on both sides (np.round's half-to-even
    # would disagree with SQL ROUND at .0005 boundaries)
    oracle="""
    WITH sc AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             FLOOR(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))
                   * 1000 + 0.5) / 1000 AS score
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT src, dst, score FROM sc WHERE score >= 0.4
    """,
)
def ds_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact all-pairs via the distributed
    block-pair decomposition (no driver collect in the plan; see
    operators/similarity.py::embedding_neardup)."""
    from .operators.similarity import embedding_neardup

    return embedding_neardup(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _lsh_ann_oracle() -> str:
    from .operators.mention_sql import lsh_ann_oracle_sql

    return lsh_ann_oracle_sql(_ANN_QUERY_IDS, k=5)


@_register("ds_lsh_ann", oracle=_lsh_ann_oracle)
def ds_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN; deterministic, so even the 'approximate'
    path has an exact DuckDB twin (planes embedded as float64 literals).
    Recall-vs-brute-force gate lives in pytest."""
    from .operators.similarity import lsh_ann_topk

    return lsh_ann_topk(_t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5)


@_register(
    "ds_ivf_ann",
    # exact twin: deterministic centroid seeding (vec_id % stride = 0),
    # argmax-cosine assignment, nprobe-cell probing, exact rerank
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS c_emb
      FROM embeddings WHERE vec_id % 25 = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ass AS (
      SELECT vec_id, emb, cent_id AS cell FROM (
        SELECT e.vec_id, e.emb, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.emb, c.c_emb) DESC,
                           c.cent_id) AS crk
        FROM e CROSS JOIN cents c) WHERE crk = 1),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
          WHERE vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})),
    probes AS (
      SELECT query_id, q_emb, cent_id AS cell FROM (
        SELECT q.query_id, q.q_emb, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                  ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC,
                           c.cent_id) AS prk
        FROM q CROSS JOIN cents c) WHERE prk <= 4),
    cand AS (
      SELECT p.query_id, p.q_emb, a.vec_id, a.emb
      FROM ass a JOIN probes p USING (cell)
      WHERE a.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             list_cosine_similarity(emb, q_emb) AS cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY list_cosine_similarity(emb, q_emb) DESC, vec_id) AS rank
      FROM cand)
    SELECT query_id, rank, vec_id, ROUND(cos, 3) AS score
    FROM ranked WHERE rank <= 5
    """,
)
def ds_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse cells (every 25th vector), broadcast
    argmax-cosine assignment, nprobe=4 probing, exact rerank on candidates —
    the inverted-file scale path next to ds_lsh_ann's hash-bucket path."""
    from .operators.similarity import ivf_ann_topk

    return ivf_ann_topk(_t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5)


def _curation_oracle() -> str:
    from .operators.curation import curation_funnel_oracle_sql

    return curation_funnel_oracle_sql()


@_register("ds_curation_pipeline", oracle=_curation_oracle)
def ds_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation funnel (lang-ID -> quality -> exact dedup ->
    MinHash/LSH near-dup -> benchmark holdout -> decontamination) as ONE
    query: every stage lands as a boolean flag on one frame and all seven
    cumulative survivor counts come from a single map-side-combined
    aggregation (operators/curation.py).  The oracle composes the SAME SQL
    the individual ds_* queries register — the composition capstone,
    mirroring kg_canonical_triples on the KG side."""
    from .operators.curation import curation_funnel

    return curation_funnel(_t(spark, sf_dir, "documents"))


def _kmeans_oracle() -> str:
    from .operators.kmeans import kmeans_oracle_sql

    return kmeans_oracle_sql()


@_register("ds_kmeans", oracle=_kmeans_oracle)
def ds_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding column (Lloyd, 2 rounds,
    deterministic first-k init) — the topic-clustering stage of a curation
    pipeline, and the second iterative-ML operator after kg_train_tagger:
    broadcast centroids, argmin window, map-side-combined (cluster, dim)
    re-estimation, O(k*dim) driver sync per round.  Centroids snap to the
    shared floor(x*1e6+0.5)/1e6 grid each round so the unrolled-iteration
    DuckDB twin (operators/kmeans.py::kmeans_oracle_sql) stays on the same
    trajectory; output (cluster, n_points, inertia@round3)."""
    from .operators.kmeans import kmeans_clusters

    return kmeans_clusters(_t(spark, sf_dir, "embeddings")).withColumn(
        "cluster", F.col("cluster").cast("long")
    )


def _minhash_dedup_oracle() -> str:
    from .operators.mention_sql import minhash_dedup_oracle_sql

    return minhash_dedup_oracle_sql(threshold=0.6)


@_register("ds_minhash_dedup", oracle=_minhash_dedup_oracle)
def ds_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level near-dup clustering via the linking LSH stack; the DuckDB
    twin replays MinHash banding, Jaccard verify and recursive-CTE
    connected components over the same md5-60bit constants."""
    from .operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(_t(spark, sf_dir, "documents"), threshold=0.6)


def _minhash_sig_oracle() -> str:
    from .operators.dedup import minhash_sig_sql

    return minhash_sig_sql() + "SELECT doc_id, perm, minhash FROM sig"


@_register("ds_minhash_sig", oracle=_minhash_sig_oracle)
def ds_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with JVM built-ins only (md5-60bit min per perm);
    exact DuckDB twin — the strong-oracle check of the MinHash kernel."""
    from .operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"))


_MINHASH_PAIRS_THRESHOLD = 0.4  # ONE constant threads engine + oracle


def _minhash_pairs_oracle() -> str:
    from .operators.dedup import minhash_pairs_sql

    return minhash_pairs_sql(threshold=_MINHASH_PAIRS_THRESHOLD)


@_register("ds_minhash_lsh_pairs", oracle=_minhash_pairs_oracle)
def ds_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash LSH near-dup: signatures -> band buckets ->
    candidate join -> exact Jaccard verify, all built-ins, oracle-checked."""
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=_MINHASH_PAIRS_THRESHOLD
    )


def _simhash_oracle() -> str:
    from .operators.dedup import SIMHASH_SQL

    # brute-force DuckDB twin: at Hamming<=3 the engine's 4x15-bit band
    # blocking is provably lossless (pigeonhole), so exact pairs == blocked
    return (
        SIMHASH_SQL
        + """
    SELECT a.doc_id AS src, b.doc_id AS dst,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM allsh a JOIN allsh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """
    )


@_register("ds_simhash_pairs", oracle=_simhash_oracle)
def ds_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs; Hamming<=3 makes band blocking exact, so the
    LSH-blocked engine output equals the O(n^2) DuckDB brute force."""
    from .operators.dedup import simhash_dedup

    return simhash_dedup(_t(spark, sf_dir, "documents"), max_hamming=3)


def _lang_id_oracle() -> str:
    from .operators.textops import lang_id_sql

    return lang_id_sql()


@_register("ds_lang_id", oracle=_lang_id_oracle)
def ds_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/char-class language-ID heuristic (pure built-ins, codegen)."""
    from .operators.textops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


# Per-language sampling rates (ppm) for the stratified-sample evidence
# query: up-weight the head language, down-weight the rest — the standard
# pre-training data-mixture reweighting shape.
SAMPLE_RATES_PPM = {"en": 600000, "zh": 500000, "de": 400000,
                    "es": 300000, "fr": 250000}


def _stratified_sample_oracle() -> str:
    from .operators.sampling import stratified_sample_sql

    return stratified_sample_sql(SAMPLE_RATES_PPM, default_ppm=100000)


@_register("ds_stratified_sample", oracle=_stratified_sample_oracle)
def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sampling (per-language data
    mixture): kept iff md5_60('sample:'||doc_id) % 1e6 < rate_ppm(lang).
    No RNG state -> reproducible across runs/resumes/cluster sizes; pure
    map-side projection — no keyed shuffle (only fan_out's round-robin
    widening when the input arrives under-partitioned)."""
    from .operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), SAMPLE_RATES_PPM, default_ppm=100000
    )


def _pack_sequences_oracle() -> str:
    from .operators.sampling import pack_sequences_sql

    return pack_sequences_sql(chunk=2048)


@_register("ds_pack_sequences", oracle=_pack_sequences_oracle)
def ds_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk packing layout: per-doc global token
    offset (distributed two-level prefix sum — the only global window runs
    over the tiny per-bucket totals, never the corpus) + the 2048-token
    training sequences the doc spans.  Oracle = the single-window
    ORDER BY prefix sum the distributed plan must equal."""
    from .operators.sampling import pack_sequences

    p = pack_sequences(_t(spark, sf_dir, "documents"), chunk=2048)
    return p.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "start_tok", "seq_first", "seq_last",
    )


def _decontaminate_oracle() -> str:
    from .operators.dedup import decontaminate_sql

    return decontaminate_sql(n=3, min_hits=2)


@_register("ds_decontaminate", oracle=_decontaminate_oracle)
def ds_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 2 distinct word
    3-gram shingles with the held-out benchmark slice (doc_id % 97 == 0).
    Benchmark shingle vocab is broadcast (eval sets are fixed-size), so the
    corpus side never shuffles on shingle."""
    from .operators.dedup import decontaminate

    return decontaminate(_t(spark, sf_dir, "documents"), n=3, min_hits=2)


@_register(
    "mm_features",
    # DuckDB twin: md5-byte-stream pixels; every feature is an exact
    # integer pixel sum / exact count, so float64 results are bit-identical
    # in any summation order — no rounding tolerance anywhere
    oracle="""
    WITH m AS (
      SELECT i AS media_id,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             32 + i % 64 AS w, 24 + i % 48 AS h,
             repeat(sha256('media' || i::VARCHAR), 8) AS hexp
      FROM range(48) t(i)),
    px AS (
      SELECT media_id, kind, w, h, j.range AS j,
             ('0x' || substr(md5(hexp || '|' || (j.range // 16)::VARCHAR),
                             (j.range % 16)::INT * 2 + 1, 2))::INT AS v
      FROM m CROSS JOIN range(20448) j
      WHERE j.range < h * w * 3),
    coords AS (
      SELECT media_id, kind, w, h, v,
             j // (w * 3) AS y, (j % (w * 3)) // 3 AS x
      FROM px),
    by_b AS (
      SELECT media_id, r.range AS bi,
             (r.range * h) // 8 AS y0, ((r.range + 1) * h) // 8 AS y1
      FROM m CROSS JOIN range(8) r),
    bx_b AS (
      SELECT media_id, r.range AS bj,
             (r.range * w) // 8 AS x0, ((r.range + 1) * w) // 8 AS x1
      FROM m CROSS JOIN range(8) r),
    colm AS (
      SELECT c.media_id, x.bj, SUM(c.v) / COUNT(*)::DOUBLE AS v
      FROM coords c
      JOIN bx_b x ON x.media_id = c.media_id AND c.x >= x.x0 AND c.x < x.x1
      GROUP BY 1, 2),
    rowm AS (
      SELECT c.media_id, y.bi, SUM(c.v) / COUNT(*)::DOUBLE AS v
      FROM coords c
      JOIN by_b y ON y.media_id = c.media_id AND c.y >= y.y0 AND c.y < y.y1
      GROUP BY 1, 2),
    luma AS (
      SELECT media_id, SUM(v) / COUNT(*)::DOUBLE AS mean_luma
      FROM coords GROUP BY 1),
    dims AS (SELECT media_id, r.range AS dim FROM m CROSS JOIN range(16) r),
    dvals AS (
      SELECT media_id, bj AS dim, v FROM colm
      UNION ALL
      SELECT media_id, 8 + bi AS dim, v FROM rowm)
    SELECT m.media_id, m.kind, l.mean_luma, d.dim::INTEGER AS dim,
           COALESCE(dv.v, 0.0) AS feat_v
    FROM m JOIN luma l USING (media_id)
    JOIN dims d USING (media_id)
    LEFT JOIN dvals dv ON dv.media_id = d.media_id AND dv.dim = d.dim
    """,
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode -> mean-pool resize -> pooled feature over binary media
    columns (stub decode = md5 byte stream; real Spark plumbing).
    The REGISTERED output explodes the 16-dim feature into (dim, feat_v)
    rows — the driver's canonicalizer cannot sort/hash list columns, and
    the per-dim doubles are bit-exact across engines (integer-sum / count);
    ``extract_features`` itself still emits the array column."""
    from .operators.multimodal import extract_features, synth_media

    return extract_features(synth_media(spark, 48)).select(
        "media_id", "kind", "mean_luma",
        F.posexplode("feat").alias("dim", "feat_v"),
    )


@_register(
    "mm_frames",
    # DuckDB twin reconstructs the deterministic synth-media table with
    # range() and replays the stub frame fingerprint (sha256 over hex
    # payload + ts) — exact check of the UDTF-shaped frame-sampling plumbing
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 1000 + 100 * i AS duration_ms,
             repeat(sha256('media' || i::VARCHAR), 8) AS hexp
      FROM range(48) t(i) WHERE i % 3 = 2),
    f AS (
      SELECT media_id, ts.range AS ts_ms, (ts.range // 500)::INT AS frame_idx, hexp
      FROM m CROSS JOIN range(0, 10000, 500) ts
      WHERE ts.range < duration_ms)
    SELECT media_id, frame_idx, ts_ms::INT AS ts_ms,
           sha256(hexp || ts_ms::VARCHAR) AS frame_sha
    FROM f
    """,
)
def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over binary media columns (stub decode; the
    Spark plumbing — schema, batching, UDTF explode — is real)."""
    from .operators.multimodal import sample_frames, synth_media

    return sample_frames(synth_media(spark, 48))


# ---------------------------------------------------------------------------
# Relational core (classic operators the reference lacks; Spark built-ins)
# ---------------------------------------------------------------------------

@_register(
    "rel_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                              AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                         AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)                              AS avg_qty,
           ROUND(AVG(l_discount), 4)                              AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A6-style grouped aggregation (TPC-H Q1 shape): partial+final agg,
    predicate pushdown to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "rel_top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           COUNT(*)                      AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 50
    """,
)
def rel_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-style equi-joins + agg + global top-k; nation is broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.where(F.col("o_orderstatus") != "F")
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(50)
    )


@_register(
    "rel_order_rank_window",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) t
    WHERE rk <= 3
    """,
)
def rel_order_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-shaped window computation: per-key ranking, top-3 per customer."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rk"),
        ).where(F.col("rk") <= 3)
    )


def _retention_oracle() -> str:
    from .operators.retention import cohort_retention_sql

    return cohort_retention_sql()


@_register("rel_cohort_retention", oracle=_retention_oracle)
def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event log: users grouped by
    first-activity week, fraction active N weeks later.  Weeks are
    integer epoch_day div 7 (no engine-dependent date_trunc); one MIN per
    user + one distinct (user, week) + two combinable counts — the
    shuffle carries user x active-week, never raw events; no window
    (operators/retention.py)."""
    from .operators.retention import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


@_register(
    "rel_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, c.ts, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference; union+window implementation —
    one shuffle, no range-condition blow-up): each click gets the user's
    latest prior-or-equal purchase value."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", probe_ts="ts", ref_ts="ts",
        payload_cols=["purchase_value"],
    ).select("event_id", "user_id", "ts", "purchase_value")


@_register(
    "rel_range_join",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           COUNT(p.ts)                           AS n_in_window,
           ROUND(COALESCE(SUM(p.value), 0.0), 2) AS sum_in_window
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts <= c.ts AND p.ts > c.ts - INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (interval theta-join made scale-safe): per click,
    count/sum of the user's purchases in the trailing hour.  The engine
    buckets time into window-width bands and replicates the small side to
    its two candidate buckets -> plain equi-join + exact residual filter
    instead of a BroadcastNestedLoopJoin (operators/rangejoin.py)."""
    from .operators.rangejoin import range_join_count

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return range_join_count(
        clicks, purchases, key="user_id", probe_ts="ts", ref_ts="ts",
        window_sec=3600, agg_col="value",
    )


@_register(
    "rel_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*)                       AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grouping-sets family; the A2 micro/macro shape
    generalized)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_register(
    "rel_anti_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                THEN 1 ELSE 0 END AS has_orders
    FROM customer c
    WHERE c.c_acctbal > 9000
    """,
)
def rel_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join flags (resume-manifest anti-join is the same shape)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    withf = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.lit(1).alias("has_orders")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.lit(0).alias("has_orders")
    )
    return withf.unionByName(without)


@_register(
    "rel_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(MIN(o_totalprice), 4)                AS mn,
           ROUND(MAX(o_totalprice), 4)                AS mx
    FROM orders GROUP BY o_orderpriority
    """,
)
def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (numeric statistics family)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.min("o_totalprice"), 4).alias("mn"),
            F.round(F.max("o_totalprice"), 4).alias("mx"),
        )
    )


@_register(
    "rel_salted_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def rel_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct per key (two-phase salted collect_set);
    result provably equal to a plain COUNT(DISTINCT)."""
    from .operators.skew import salted_collect_set

    return salted_collect_set(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", n_salts=8
    ).select("event_type", F.col("n_distinct").cast("long").alias("n_distinct"))


@_register(
    "rel_sql_api",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_cust, ROUND(AVG(c.c_acctbal), 4) AS avg_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING COUNT(*) > 10
    """,
)
def rel_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: temp views + spark.sql (Catalyst parses and
    plans the same logical plan the DataFrame API builds)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_cust, ROUND(AVG(c.c_acctbal), 4) AS avg_bal
        FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        HAVING COUNT(*) > 10
        """
    )


def _sessionize_oracle() -> str:
    from .streaming.sessionize import SESSIONIZE_SQL

    return SESSIONIZE_SQL


@_register("rel_sessionize", oracle=_sessionize_oracle)
def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch form of the stateful-streaming
    operator in streaming/sessionize.py)."""
    from .streaming.sessionize import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events")).withColumn(
        "n_events", F.col("n_events").cast("long")
    )


@_register(
    "rel_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*)::BIGINT                AS n,
           ROUND(SUM(l_quantity), 2)       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)  AS sum_price,
           GROUPING(l_returnflag)::BIGINT  AS g_flag,
           GROUPING(l_linestatus)::BIGINT  AS g_status
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional CUBE aggregation with grouping indicators — all
    2^2 grouping sets in one pass (Spark expands the sets map-side and
    partially aggregates each before the single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
    )


@_register(
    "rel_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT AS n_f,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)::BIGINT AS n_o,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END)::BIGINT AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (a deterministic output schema —
    no discovery pass over the data) — compiles to one hash aggregate of
    conditional counts, no extra shuffle versus a plain groupBy."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )
    )


@_register(
    "rel_events_hopping",
    oracle="""
    SELECT window_start, event_type,
           COUNT(*)::BIGINT     AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT UNNEST([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
             event_type, value
      FROM events)
    GROUP BY window_start, event_type
    """,
)
def rel_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation: 2-hour windows every hour,
    each event contributing to exactly two windows — the batch view of
    the Structured-Streaming sliding-window plan.  Spark's window()
    replicates rows map-side (size/slide = 2 copies), then one partial+
    final aggregation; the oracle unnests the same two aligned starts."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


@_register(
    "rel_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS mv
      FROM events),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND mv < ts
                    THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS mc
      FROM s1)
    SELECT COUNT(DISTINCT CASE WHEN event_type = 'view'
                          THEN user_id END)::BIGINT AS n_view,
           COUNT(DISTINCT CASE WHEN event_type = 'click' AND mv < ts
                          THEN user_id END)::BIGINT AS n_click,
           COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND mc < ts
                          THEN user_id END)::BIGINT AS n_purchase
    FROM s2
    """,
)
def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view -> click -> purchase per user): two
    running conditional MINs over ONE user-partitioned sort (Spark reuses
    the exchange+sort for both Window operators), then a single global
    aggregation — two shuffles total at any scale.  The step predicates
    compare VALUES strictly (`first view ts < click ts`), so ties in the
    row order cannot flip a row in or out on either engine."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s1 = e.select(
        "user_id", "event_type", "ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        .alias("mv"),
    )
    s2 = s1.select(
        "*",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("mv") < F.col("ts")),
                F.col("ts"),
            )
        ).over(w).alias("mc"),
    )
    return s2.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_view"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "click") & (F.col("mv") < F.col("ts")),
                F.col("user_id"),
            )
        ).alias("n_click"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("mc") < F.col("ts")),
                F.col("user_id"),
            )
        ).alias("n_purchase"),
    )


@_register(
    "rel_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*)::BIGINT                               AS n,
           SUM(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           COUNT(CASE WHEN json_extract_string(props, '$.k')::BIGINT > 50
                 THEN 1 END)::BIGINT                      AS n_big
    FROM events
    GROUP BY event_type
    """,
)
def rel_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    props column with the JVM-side JSON path built-in (no Python, stays
    in codegen) and aggregate it — integer sums, exact on both engines."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, F.lit(1))).alias("n_big"),
    )


@_register(
    "rel_events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts)       AS window_start,
           event_type,
           COUNT(*)                     AS n_events,
           ROUND(SUM(value), 2)         AS sum_value,
           COUNT(DISTINCT user_id)      AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def rel_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream table (batch view of
    the Structured-Streaming plan in streaming/)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 session-5 additions: retrieval scoring, LM quality, OLAP grouping
# sets, SCD2 dimension versioning
# ---------------------------------------------------------------------------


def _bm25_oracle() -> str:
    from .operators.retrieval import bm25_topk_sql

    return bm25_topk_sql()


@_register("ds_bm25_topk", oracle=_bm25_oracle)
def ds_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a broadcast 4-query battery over
    the documents table — the ranking stage on top of ds_inverted_index.
    Pre-log Robertson idf + per-term integer micro-scores keep both
    engines bit-identical; candidate restriction happens via broadcast
    joins BEFORE any score shuffles, and the per-query top-k compiles to
    a partial map-side WindowGroupLimit heap below the exchange —
    see operators/retrieval.py::bm25_topk."""
    from .operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"))


def _train_langid_oracle() -> str:
    from .operators.langtrain import train_langid_sql

    return train_langid_sql()


@_register("ds_train_langid", oracle=_train_langid_oracle)
def ds_train_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND trained model family (the trainer generalizes beyond the
    QASL tagger): multiclass batch perceptron over hashed char-trigram
    counts vs the documents language labels — all-integer scores and
    mistake-count weights, (score DESC, lang ASC) argmax, per-epoch
    localCheckpoint.  Output = the falling mistake curve; the oracle
    unrolls the epochs as CTEs bit-exactly
    (operators/langtrain.py::train_langid)."""
    from .operators.langtrain import train_langid

    return train_langid(_t(spark, sf_dir, "documents"))


def _fk_discovery_oracle() -> str:
    from .operators.dataquality import fk_discovery_sql

    return fk_discovery_sql()


@_register("rel_fk_discovery", oracle=_fk_discovery_oracle)
def rel_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (FK) discovery over a 9-candidate lattice
    (the 7 true TPC-H FKs plus 2 deliberate negatives): each side
    reduces to its distinct key frame before a bounded anti-join — never
    a raw-table join — with exact orphan counts and floor-grid
    containment (operators/dataquality.py::fk_discovery)."""
    from .operators.dataquality import FK_CANDIDATES, fk_discovery

    names = {t for c in FK_CANDIDATES for t in (c[0], c[2])}
    tables = {t: _t(spark, sf_dir, t) for t in names}
    return fk_discovery(tables)


@_register(
    "rel_snapshot_expire",
    # lifecycle constants are structural (16 one-file buckets written by a
    # single-partition job, rewritten once): 3 snapshots (partial commit,
    # resume, compaction), 2 expired, 16+16 files on disk pre-GC, 16
    # orphans reclaimed; rows survive the whole lifecycle
    oracle="""
    SELECT 3::BIGINT AS n_snapshots_before,
           2::BIGINT AS n_snapshots_expired,
           32::BIGINT AS n_files_before_gc,
           16::BIGINT AS n_orphans_deleted,
           16::BIGINT AS n_files_after,
           (SELECT COUNT(*) FROM documents)::BIGINT AS rows_after
    """,
)
def rel_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg's full maintenance lifecycle on the engine's snapshot
    table format: partial commit (simulated crash after 8 buckets) ->
    resume -> binpack compaction rewrite -> expire_snapshots(keep 1) ->
    remove_orphan_files.  The audit proves the core invariants: old
    files stay readable until expiry (time travel), GC reclaims EXACTLY
    the files no surviving snapshot references, and the row count is
    unchanged across the whole lifecycle (io/icetable.py::IceTable
    {compact_stage, expire_snapshots, gc_orphans})."""
    import tempfile

    from .io.icetable import IceTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").coalesce(1)
    with tempfile.TemporaryDirectory(prefix="rel_snap_expire_") as root:
        tbl = IceTable(root)
        tbl.write_stage(docs, "docs", fail_after_buckets=8)
        tbl.write_stage(docs, "docs")
        tbl.compact_stage(spark, "docs")
        n_before = len(tbl.list_snapshots())
        files_before = len(tbl.data_files())
        n_expired = tbl.expire_snapshots(keep_last=1)
        n_orphans = tbl.gc_orphans()
        files_after = len(tbl.data_files())
        rows_after = tbl.read_stage(spark, "docs").count()
    return spark.createDataFrame(
        [(n_before, n_expired, files_before, n_orphans, files_after,
          rows_after)],
        "n_snapshots_before long, n_snapshots_expired long,"
        " n_files_before_gc long, n_orphans_deleted long,"
        " n_files_after long, rows_after long",
    )


def _bloom_join_oracle() -> str:
    from .operators.sketches import bloom_prefilter_join_sql

    return bloom_prefilter_join_sql()


@_register("rel_bloom_join", oracle=_bloom_join_oracle)
def rel_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join audit: a 1024-word bit_or Bloom filter
    over the selective build side (expensive orders) broadcasts to
    lineitem and drops definitely-unmatched rows BEFORE the shuffle;
    the one-row audit quantifies keys passed, false-positive keys (pure
    wasted shuffle — no false negatives, so the join is exact) and the
    row-level shuffle reduction
    (operators/sketches.py::bloom_prefilter_join)."""
    from .operators.sketches import bloom_prefilter_join

    return bloom_prefilter_join(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def _rank_corr_oracle() -> str:
    from .operators.retrieval import rank_correlation_sql

    return rank_correlation_sql()


@_register("ds_rank_correlation", oracle=_rank_corr_oracle)
def ds_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between the BM25 and dense-MIPS rankings over each
    query's shared top-10 — the ranker-agreement statistic that says
    whether RRF fusion is load-bearing.  Integer concordance counts; the
    only float is the final scaled division; pair join bounded by k^2
    per query (operators/retrieval.py::rank_correlation)."""
    from .operators.retrieval import rank_correlation

    return rank_correlation(_t(spark, sf_dir, "documents"))


def _acf_oracle() -> str:
    from .operators.timeseries import autocorrelation_sql

    return autocorrelation_sql()


@_register("rel_autocorrelation", oracle=_acf_oracle)
def rel_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily event volume at lags 1..7 (the weekly-seasonality
    probe): centered terms are n-scaled BIGINTs so both sums are
    order-free integer sums; the only float is the final scaled division
    of identical integers.  ONE raw-event shuffle (daily counts,
    map-side combined); the lag self-join runs on the days-sized frame
    (operators/timeseries.py::autocorrelation)."""
    from .operators.timeseries import autocorrelation

    return autocorrelation(_t(spark, sf_dir, "events"))


def _scene_cuts_oracle() -> str:
    from .operators.multimodal import scene_cuts_sql

    return scene_cuts_sql(n=48)


@_register("mm_scene_cuts", oracle=_scene_cuts_oracle)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary detection: the Arrow UDF only decodes (stub
    md5 per-frame luma, 2^6-sample exact means); the temporal reasoning
    is a video-keyed lag window JVM-side — a cut wherever consecutive
    sampled frames step by more than 12 luma units.  Exact IEEE
    arithmetic end to end (operators/multimodal.py::scene_cuts)."""
    from .operators.multimodal import scene_cuts, synth_media

    return scene_cuts(synth_media(spark, 48))


def _join_card_oracle() -> str:
    from .operators.colstats import join_cardinality_sql

    return join_cardinality_sql()


@_register("rel_join_cardinality", oracle=_join_card_oracle)
def rel_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation (the cost-based-planner statistic):
    exact |orders JOIN lineitem| as sum(df_o * df_l) over keys — computed
    from two map-side-combined per-key aggregates and one 1:1 key join,
    never the joined rows — next to the 1-in-16 deterministic KEY-sample
    estimate a planner would use (key sampling keeps the estimator
    unbiased for keyed joins; row sampling would not be), with the
    relative error on the 1e-6 floor grid
    (operators/colstats.py::join_cardinality)."""
    from .operators.colstats import join_cardinality

    return join_cardinality(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def _bbit_oracle() -> str:
    from .operators.dedup import bbit_minhash_audit_sql

    return bbit_minhash_audit_sql(threshold=_MINHASH_PAIRS_THRESHOLD)


@_register("ds_bbit_minhash", oracle=_bbit_oracle)
def ds_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit MinHash compression audit (Li & Koenig 2010): lowest bit of
    each of the 16 permutation minima — a 64x smaller sketch — with the
    debiased estimator max(0, 2*agree/16 - 1) reported next to the exact
    verified Jaccard for every LSH pair: what sketch compression costs in
    estimator variance before shipping 2-byte signatures through a
    100-TB exchange (operators/dedup.py::bbit_minhash_audit)."""
    from .operators.dedup import bbit_minhash_audit

    return bbit_minhash_audit(
        _t(spark, sf_dir, "documents"), threshold=_MINHASH_PAIRS_THRESHOLD
    )


def _cdc_chunks_oracle() -> str:
    from .operators.dedup import cdc_chunks_sql

    return cdc_chunks_sql()


@_register("ds_cdc_chunks", oracle=_cdc_chunks_oracle)
def ds_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin/gear CDC at word granularity):
    boundaries where the rolling 3-gram md5-60 hash % 8 == 0, so chunk
    cuts are a pure function of LOCAL content — inserting words early in
    a document shifts only the chunks up to the next surviving boundary
    and every later chunk still dedups corpus-wide (shift-robustness
    fixed segments lack; property-tested).  Doc-keyed lag/running-sum
    windows only (no global sort); corpus copy counts keyed by the
    cryptographic chunk sha (operators/dedup.py::cdc_chunks)."""
    from .operators.dedup import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


def _prefix_pairs_oracle() -> str:
    from .operators.dedup import prefix_filter_pairs_sql

    return prefix_filter_pairs_sql(threshold=0.5)


@_register("ds_prefix_pairs", oracle=_prefix_pairs_oracle)
def ds_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtering set-similarity join: shingles
    globally ordered by ascending document frequency; only each doc's
    first ``|s| - ceil(t|s|) + 1`` (rarest) shingles enter the candidate
    self-join, with a length filter in the join condition; exact Jaccard
    verify over candidates only.  The oracle is EXACT all-pairs Jaccard
    with no prefix/length pruning anywhere — the losslessness theorem is
    driver-verified, not assumed
    (operators/dedup.py::prefix_filter_pairs)."""
    from .operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(_t(spark, sf_dir, "documents"), n=3,
                               threshold=0.5)


def _rrf_oracle() -> str:
    from .operators.retrieval import rrf_fusion_sql

    return rrf_fusion_sql()


@_register("ds_rrf_fusion", oracle=_rrf_oracle)
def ds_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval: BM25 top-10 and hashed-embedding
    inner-product top-10 (all-integer MIPS leg) fused per query with
    reciprocal-rank fusion 1/(60+rank).  Both legs end rank-bounded, so
    fusion joins battery_size x k rows regardless of corpus size; rank
    reciprocals are IEEE-identical across engines and the score snaps to
    the 1e-8 grid (operators/retrieval.py::rrf_fusion)."""
    from .operators.retrieval import rrf_fusion

    return rrf_fusion(_t(spark, sf_dir, "documents"))


def _bigram_lm_oracle() -> str:
    from .operators.retrieval import bigram_lm_score_sql

    return bigram_lm_score_sql()


@_register("ds_bigram_lm_score", oracle=_bigram_lm_oracle)
def ds_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional probability under the
    corpus's own bigram LM — the perplexity-style fluency signal for
    quality filtering, with zero external model.  Bigram assembly is a
    codegen transform over the token array (no shuffle); three map-side
    combined aggs + two equi-joins; exact integer micro-prob sums
    (operators/retrieval.py::bigram_lm_score)."""
    from .operators.retrieval import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"))


_GROUPING_SETS_SQL = """
    SELECT c_mktsegment, o_orderpriority,
           COUNT(*)                             AS n,
           ROUND(SUM(o_totalprice), 2)          AS sum_price,
           CAST(GROUPING(c_mktsegment) AS {i})  AS g_seg,
           CAST(GROUPING(o_orderpriority) AS {i}) AS g_pri
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment),
                            (o_orderpriority),
                            (c_mktsegment, o_orderpriority))
"""


@_register(
    "rel_grouping_sets",
    oracle=_GROUPING_SETS_SQL.format(i="BIGINT"),
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rel_cube/rel_rollup):
    three chosen grouping sets over the orders->customer join, with
    GROUPING() indicators disambiguating the NULL roll-up rows.  Spark
    expands the sets map-side and partially aggregates each before the
    single exchange; the customer side joins on the shuffle the agg
    already needs."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_GROUPING_SETS_SQL.format(i="BIGINT"))


@_register(
    "rel_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
           ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id)::BIGINT
             AS version,
           (LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL)
             AS is_current
    FROM changes
    """,
)
def rel_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the event log: collapse
    per-user consecutive repeats of the tracked attribute (event_type),
    then derive [valid_from, valid_to) validity intervals, version
    numbers, and the is_current flag.  One user-keyed sort serves the
    change detection; the interval derivation re-sorts only the collapsed
    change rows (a strict subset).  Ties on ts break by event_id on both
    engines, so the history is deterministic."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev"),
        )
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"),
                "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id", "event_type", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def _containment_oracle() -> str:
    from .operators.dedup import containment_pairs_sql

    return containment_pairs_sql()


@_register("ds_minhash_containment", oracle=_containment_oracle)
def ds_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (|A∩B|/|A| and /|B|) over the same
    banded LSH candidates as ds_minhash_lsh_pairs — the doc-inclusion /
    quote-subsumption signal Jaccard under-scores.  Shares the persisted
    shingle frame and overlap counts with the Jaccard path; one extra 1:1
    join, no new corpus pass (operators/dedup.py::containment_pairs)."""
    from .operators.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"))


def _semdedup_oracle() -> str:
    from .operators.similarity import semantic_dedup_sql

    return semantic_dedup_sql()


@_register("ds_semantic_dedup", oracle=_semdedup_oracle)
def ds_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: deterministic IVF cells ->
    within-cell snapped-cosine pairs (the quadratic step is bounded per
    cell, never corpus-wide) -> connected components -> min-id
    representative per cluster.  Output has one row per vector with its
    cluster, cluster size, and keep flag
    (operators/similarity.py::semantic_dedup)."""
    from .operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"))


_SNIPPET_W = 5


def _snippets_oracle() -> str:
    from .operators.mention_sql import TOKEN_RE, mentions_oracle_sql

    return f"""
    WITH m AS ({mentions_oracle_sql(CORPUS_SQL)}),
    toks AS (
      SELECT doc_id, regexp_extract_all(content, '{TOKEN_RE}') AS toks
      FROM ({CORPUS_SQL}))
    SELECT m.doc_id, m.type, m.start_pos, m.end_pos, m.text,
           array_to_string(
             t.toks[GREATEST(1, m.start_pos + 1 - {_SNIPPET_W})
                    : LEAST(len(t.toks), m.end_pos + 1 + {_SNIPPET_W})],
             '') AS snippet,
           GREATEST(0, m.start_pos - {_SNIPPET_W})::BIGINT AS ctx_start
    FROM m JOIN toks t USING (doc_id)
    """


@_register("kg_mention_snippets", oracle=_snippets_oracle)
def kg_mention_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reviewer context windows: every detected mention with the
    surrounding ±5 passage tokens — the snippet column a human review
    sheet (S8) or an active-learning sampler reads next to the bare span.
    The mention stream joins BACK to the document store on doc_id (the
    natural at-scale plan: mentions are the small side after detection,
    content never crosses the scorer boundary twice); token slicing is
    pure codegen built-ins with the kernel's exact tokenizer regex."""
    from .operators.mention_sql import TOKEN_RE

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8).select(
        "doc_id", "type", "start_pos", "end_pos", "text"
    )
    toks = corpus(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract_all(F.col("content"), F.lit(TOKEN_RE), 0).alias("toks"),
    )
    b0 = F.greatest(F.lit(0), F.col("start_pos") - F.lit(_SNIPPET_W))
    e0 = F.least(F.size("toks"), F.col("end_pos") + F.lit(1 + _SNIPPET_W))
    return m.join(toks, "doc_id").select(
        "doc_id", "type", "start_pos", "end_pos", "text",
        F.array_join(F.slice("toks", b0 + 1, e0 - b0), "").alias("snippet"),
        b0.cast("long").alias("ctx_start"),
    )


def _feature_hash_oracle() -> str:
    from .operators.featurehash import feature_hash_embed_sql

    # integer-CSV serialization of the vector (both engines): the
    # driver's canonicalizer cannot sort/hash LIST-typed columns
    return (
        "SELECT doc_id, array_to_string(embedding, ',') AS embedding"
        f"\n    FROM ({feature_hash_embed_sql()})"
    )


@_register("ds_feature_hash_embed", oracle=_feature_hash_oracle)
def ds_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) document embeddings: dim-16 signed
    token-count vectors with NO learned vocabulary — every shard of a
    100-TB corpus embeds independently, zero coordination.  Pure integer
    arithmetic end to end (md5-60 bucket + sign, map-side-combined sums,
    codegen dense fill), so the array compare is bit-exact; the REGISTERED
    output serializes the vector to an integer-CSV string (both engines)
    for the driver's row canonicalizer
    (operators/featurehash.py::feature_hash_embed)."""
    from .operators.featurehash import feature_hash_embed

    return feature_hash_embed(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_join(
            F.transform("embedding", lambda x: x.cast("string")), ","
        ).alias("embedding"),
    )


_INCR_AGG_KEYS = "event_type, date_trunc('hour', ts) AS hour"


@_register(
    "rel_incremental_agg",
    # the oracle is the FULL recompute over all events — a green row
    # proves merged partials == full aggregation (the IVM contract)
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS hour,
           COUNT(*)::BIGINT AS n,
           SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))::BIGINT AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def rel_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for an additive
    aggregate: the standing snapshot (event_id % 10 != 0) and the new
    delta batch (event_id % 10 = 0) are aggregated SEPARATELY and merged
    by summing partial states — COUNT and an exact integer cent-sum are
    both self-mergeable, which is precisely why they're the IVM-safe
    aggregate choices.  The oracle recomputes from scratch, so the green
    driver row proves merged-incremental == full, the same evidence
    pattern as kg_incremental_triples."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("sum_cents"),
        )

    snapshot = partial(e.where(F.col("event_id") % 10 != 0))
    delta = partial(e.where(F.col("event_id") % 10 == 0))
    return (
        snapshot.unionByName(delta)
        .groupBy("event_type", "hour")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


_UNCERTAIN_K = 20


def _uncertainty_oracle() -> str:
    from .operators.crf_confidence_sql import crf_confidence_oracle_sql

    return f"""
    WITH conf AS ({crf_confidence_oracle_sql(CORPUS_SQL, max_seq_length=128)})
    SELECT doc_id, type, n_pieces, confidence, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY type ORDER BY confidence ASC, doc_id ASC) AS rnk
      FROM conf)
    WHERE rnk <= {_UNCERTAIN_K}
    """


@_register("kg_uncertainty_sample", oracle=_uncertainty_oracle)
def kg_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection: the 20 LOWEST-confidence (doc,
    query) pairs per type under the CRF path confidence — the rows a
    human annotator should label next.  Rides the kg_crf_confidence
    pipeline unchanged; the per-type top-k compiles to the partial
    WindowGroupLimit heap, so at corpus scale only k rows per type per
    map task ever shuffle."""
    from pyspark.sql.window import Window

    from .operators.crf_confidence import crf_confidence

    conf = crf_confidence(
        corpus(spark, sf_dir), num_partitions=8, max_seq_length=128
    )
    w = Window.partitionBy("type").orderBy(
        F.asc("confidence"), F.asc("doc_id")
    )
    return (
        conf.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _UNCERTAIN_K)
    )


def _ensemble_oracle() -> str:
    from .operators.matrix_sql import ensemble_oracle_sql

    return ensemble_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_ensemble_mentions", oracle=_ensemble_oracle)
def kg_ensemble_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision majority vote across all four model families
    ({BERT, BertBiLSTMCRF} x {SL, QASL}): a span survives when >= 2
    models emit the exact same (pid, type, start, end, text) — the
    label-model consensus a distillation/bootstrap pipeline trains on.
    Reuses the four detect pipelines of kg_model_matrix (each span set
    DISTINCT + DIN-excluded, P9), then ONE union + map-side-combined
    vote count; the oracle embeds all four decode twins in one query."""
    from .operators.mention_detect import detect_mentions_crf
    from .operators.sl_detect import detect_mentions_sl, detect_mentions_sl_crf

    c = corpus(spark, sf_dir)

    def spans(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("type") != "DIN")
            .withColumnRenamed("doc_id", "pid")
            .select("pid", "type", "start_pos", "end_pos", "text")
            .distinct()
        )

    union = (
        spans(detect_mentions(c, num_partitions=8, max_seq_length=128))
        .unionByName(spans(detect_mentions_sl(c, num_partitions=8, max_seq_length=128)))
        .unionByName(spans(detect_mentions_sl_crf(c, num_partitions=8, max_seq_length=128)))
        .unionByName(spans(detect_mentions_crf(c, num_partitions=8, max_seq_length=128)))
    )
    return (
        union.groupBy("pid", "type", "start_pos", "end_pos", "text")
        .agg(F.count(F.lit(1)).alias("votes"))
        .where(F.col("votes") >= 2)
    )


def _agreement_oracle() -> str:
    from .operators.matrix_sql import agreement_oracle_sql

    return agreement_oracle_sql(CORPUS_SQL, max_seq_length=128)


@_register("kg_model_agreement", oracle=_agreement_oracle)
def kg_model_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-model agreement matrix: every unordered pair of the
    four model families scored with exact-span intersection size and
    integer micro-Jaccard — the annotator-agreement / ensemble-diversity
    audit (kg_model_matrix scores each model against an answer set; this
    scores the models against EACH OTHER, which is what tells you whether
    a majority vote adds information or just replays one model thrice).
    Each span set is tagged and unioned once; the pairwise intersection
    is ONE equi-join on the exact span key (never a cross join — the key
    carries all five span columns), and the 4x4 scaffold is a broadcast
    of the 4-row sizes frame against itself, so nothing here scales with
    the corpus except the already-audited detect pipelines."""
    from .operators.mention_detect import detect_mentions_crf
    from .operators.sl_detect import detect_mentions_sl, detect_mentions_sl_crf

    c = corpus(spark, sf_dir)
    kw = dict(num_partitions=8, max_seq_length=128)
    families = [
        ("bert_sl", detect_mentions_sl(c, **kw)),
        ("bertbilstmcrf_sl", detect_mentions_sl_crf(c, **kw)),
        ("bert_qasl", detect_mentions(c, **kw)),
        ("bertbilstmcrf_qasl", detect_mentions_crf(c, **kw)),
    ]
    key = ["pid", "type", "start_pos", "end_pos", "text"]

    def spans(name: str, df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("type") != "DIN")
            .withColumnRenamed("doc_id", "pid")
            .select(*key)
            .distinct()
            .withColumn("model", F.lit(name))
        )

    from .cache import tracked_persist

    u = tracked_persist(
        reduce(
            lambda x, y: x.unionByName(y),
            [spans(name, df) for name, df in families],
        )
    )
    sizes = u.groupBy("model").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        u.alias("a")
        .join(u.alias("b"), key)
        .where(F.col("a.model") < F.col("b.model"))
        .groupBy(
            F.col("a.model").alias("model_a"),
            F.col("b.model").alias("model_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("model").alias("model_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("model").alias("model_b"), F.col("n").alias("n_b"))
    scaffold = F.broadcast(sa).crossJoin(F.broadcast(sb)).where(
        F.col("model_a") < F.col("model_b")
    )
    return (
        scaffold.join(F.broadcast(inter), ["model_a", "model_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .select(
            "model_a", "model_b", "n_a", "n_b", "n_inter",
            F.expr(
                "(1000000 * n_inter) div (n_a + n_b - n_inter)"
            ).alias("jaccard_micro"),
        )
    )


_BUCKETED_WAREHOUSE = "/tmp/ehr_ner_spark_bucketed"


@_register(
    "rel_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*)::BIGINT            AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100-TB pattern for a join both
    sides of which are too big to broadcast: write each side ONCE
    bucketed (and sorted) by the join key, then every subsequent join on
    that key runs with ZERO exchange on either side (the bucketed scan
    already satisfies the join's required distribution; plan-asserted in
    test_plans.py).  The oracle joins the raw parquet — bucketing is a
    physical layout choice and must never change the answer."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for name, df, key in (
        ("b_orders", o, "o_custkey"),
        ("b_customer", c, "c_custkey"),
    ):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", f"{_BUCKETED_WAREHOUSE}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    bo, bc = spark.table("b_orders"), spark.table("b_customer")
    return (
        bo.join(bc, bo["o_custkey"] == bc["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def _substring_spans_oracle() -> str:
    from .operators.substring import substring_spans_sql

    return substring_spans_sql()


@_register("ds_substring_dedup", oracle=_substring_spans_oracle)
def ds_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022 re-expressed): maximal
    shared runs of >= 8 tokens between document pairs, found by hashing
    every 8-token window (md5-60bit), capping hot windows (document
    frequency > 16, broadcast anti-join — the boilerplate guard), one
    window-hash equi-join, then gaps-and-islands merging on the
    (pair, ia - ib) diagonal so a long verbatim quote is ONE span row
    (operators/substring.py::substring_spans)."""
    from .operators.substring import substring_spans

    return substring_spans(_t(spark, sf_dir, "documents"))


def _phrase_search_oracle() -> str:
    from .operators.substring import phrase_search_sql

    return phrase_search_sql()


@_register("ds_phrase_search", oracle=_phrase_search_oracle)
def ds_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query ('slow hash batch'): every term filters the
    token stream FIRST, then the postings chain-join on (doc_id, aligned
    start) — the execution shape of a positional inverted-index lookup;
    all joins narrow equi-joins, no term ever fans out
    (operators/substring.py::phrase_search)."""
    from .operators.substring import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"))


_QUOTAS = {"en": 60, "zh": 25, "es": 25, "de": 20, "fr": 15}


def _quota_oracle() -> str:
    from .operators.sampling import quota_sample_sql

    return quota_sample_sql(_QUOTAS)


@_register("ds_quota_sample", oracle=_quota_oracle)
def ds_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count mixture sampling (data mixing): top-quota docs per
    language by the deterministic md5 sample key (doc_id tiebreak — keys
    collide at corpus scale).  The constant-rank filter precedes the
    per-stratum quota so WindowGroupLimit installs map-side top-k heaps
    below the exchange; only ~quota rows per stratum ever shuffle
    (operators/sampling.py::quota_sample)."""
    from .operators.sampling import quota_sample

    return quota_sample(_t(spark, sf_dir, "documents"), _QUOTAS)


def _hits_oracle() -> str:
    from .operators.hits import hits_oracle_sql

    return hits_oracle_sql(_triples_oracle())


@_register("kg_hits", oracle=_hits_oracle)
def kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed doc->entity triple graph
    (2 rounds, L-infinity normalization): docs score as hubs, entity
    surfaces as authorities.  Each half-round is one equi-join + one
    map-side-combined groupBy (shuffle O(edges)); the rescale divides by a
    broadcast 1-row MAX; scores snap to the 1e-9 grid per step so the
    unrolled-CTE twin tracks the exact trajectory
    (operators/hits.py::hits)."""
    from .operators.hits import hits

    return hits(flagship(spark, sf_dir))


@_register(
    "rel_merge_upsert",
    oracle="""
    WITH delta AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, 'upd' AS action
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'N',
             o_totalprice, 'ins'
      FROM orders WHERE o_orderkey % 97 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, action
    FROM delta
    UNION ALL
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
           'keep' AS action
    FROM orders o
    WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    """,
)
def rel_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (CDC upsert): a deterministic change batch —
    updates for keys % 7 == 0, inserts above the key space for % 97 == 0 —
    merges into the orders snapshot: matched rows take the delta version,
    unmatched keep the base row.  The survivor pick is a BROADCAST
    left-anti join on the (small) delta key set — the CDC-batch shape; a
    delta too big to broadcast rides the bucketed layout of
    rel_bucketed_join instead.  Doubles pass through untouched (+100.0 is
    IEEE-exact on both engines) so the row set is bit-exact."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit("upd").alias("action"),
    )
    ins = o.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(10000000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        F.lit("ins").alias("action"),
    )
    delta = upd.unionByName(ins)
    keep = o.join(
        F.broadcast(delta.select("o_orderkey")), "o_orderkey", "left_anti"
    ).withColumn("action", F.lit("keep"))
    return delta.unionByName(keep).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "action"
    )


SLIDE_MICROS = 600_000_000  # 10-minute trailing window


@_register(
    "rel_sliding_window",
    oracle=f"""
    SELECT event_id, user_id,
           COUNT(*) OVER w                                        AS n_10m,
           (SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w)::BIGINT AS cents_10m
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN {SLIDE_MICROS} PRECEDING AND CURRENT ROW)
    """,
)
def rel_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing RANGE-frame window: per user, the event count and exact
    cent-sum of the last 10 minutes at every event — the rate-limit /
    rolling-feature query.  The frame is a value-range over epoch-micros
    (peer-inclusive, so timestamp ties cannot flip results), partitioned
    by user_id — a key-local sort, never a global one; integer counts and
    cent-sums keep both engines bit-exact.  Epoch-micros come from a
    timezone-free timestampdiff (ts is TIMESTAMP_NTZ; unix_micros would
    demand a session-timezone cast)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-SLIDE_MICROS, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cents_10m"),
    )


@_register(
    "rel_event_deltas",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events)
    SELECT user_id,
           COUNT(*)::BIGINT                          AS n_events,
           COUNT(prev_us)::BIGINT                    AS n_gaps,
           MIN(us - prev_us)                         AS min_gap_us,
           MAX(us - prev_us)                         AS max_gap_us,
           MAX(us) - MIN(us)                         AS span_us,
           COALESCE(SUM(us - prev_us) // NULLIF(COUNT(prev_us), 0), 0)::BIGINT
                                                     AS mean_gap_us
    FROM seq GROUP BY user_id
    """,
)
def rel_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile via LAG: gap count, min/max/mean gap
    and total activity span in integer microseconds — the sessionization
    precursor and bot-detection feature every event pipeline computes.
    ONE user-keyed exchange feeds both the LAG window and the final
    aggregate (key-local sort, never global); ties on ts are broken by
    event_id so the delta sequence is deterministic on both engines, and
    all arithmetic is integer epoch-micros (timezone-free timestampdiff —
    ts is TIMESTAMP_NTZ)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        micros.alias("us"),
        F.lag(micros).over(w).alias("prev_us"),
    )
    gap = F.col("us") - F.col("prev_us")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("prev_us").alias("n_gaps"),
        F.min(gap).alias("min_gap_us"),
        F.max(gap).alias("max_gap_us"),
        (F.max("us") - F.min("us")).alias("span_us"),
        F.coalesce(
            F.expr("sum(us - prev_us) div nullif(count(prev_us), 0)"),
            F.lit(0),
        ).alias("mean_gap_us"),
    )


_PART_WAREHOUSE = "/tmp/ehr_ner_spark_partitioned"


@_register(
    "rel_partitioned_scan",
    oracle="""
    SELECT event_type,
           COUNT(*)::BIGINT                               AS n,
           SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS cents
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-02'
    GROUP BY event_type
    """,
)
def rel_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning — the mechanism that turns a 100-TB time-range
    query into a one-day scan: the event log is laid out ONCE partitioned
    by event_date, and a single-day predicate resolves against the
    directory listing (PartitionFilters in the scan, plan-asserted) so
    non-matching days are never opened, let alone read.  The oracle scans
    the raw table with the same day filter — layout must never change the
    answer."""
    ev = _t(spark, sf_dir, "events")
    path = f"{_PART_WAREHOUSE}/events_by_day"
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    pe = spark.read.parquet(path)
    return (
        pe.where(F.col("event_date") == F.lit("2024-01-02").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )


def _rp_oracle() -> str:
    from .operators.similarity import random_projection_sql

    # unnest to (vec_id, label, j, proj) rows: the driver's canonicalizer
    # cannot sort/hash LIST columns, and per-coordinate DOUBLE rows keep
    # its float discipline (repr(round(x, 9))) instead of inventing a
    # string float format that would have to match across engines
    return f"""
    SELECT vec_id, label, j - 1 AS j, proj[j] AS proj
    FROM ({random_projection_sql()}),
         UNNEST(generate_series(1, len(proj))) AS t(j)
    """


@_register("ds_random_projection", oracle=_rp_oracle)
def ds_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (64 -> 16 dims): the
    dimensionality-reduction stage that cuts downstream ANN/dedup cost.
    The +-1 matrix is a pure function of (j, i) via the md5 discipline —
    no RNG state, identical on every worker/engine — and each coordinate
    is a literal cast-and-add chain, so the projection is zero-shuffle
    codegen and BIT-exact against its twin.  The REGISTERED output
    unnests the vector to per-coordinate (vec_id, label, j, proj) rows
    so no ARRAY column reaches the driver's canonicalizer; the operator
    itself still emits real arrays
    (operators/similarity.py::random_projection)."""
    from .operators.similarity import random_projection

    proj = random_projection(_t(spark, sf_dir, "embeddings"))
    return proj.select(
        "vec_id", "label", F.posexplode("proj").alias("j", "proj")
    ).select("vec_id", "label", F.col("j").cast("long").alias("j"), "proj")


def _knn_oracle() -> str:
    from .operators.similarity import knn_accuracy_sql

    return knn_accuracy_sql()


@_register("ds_knn_accuracy", oracle=_knn_oracle)
def ds_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: 50 query vectors classified by majority
    vote of their 5 exact-cosine neighbors, reported as per-true-label
    accuracy.  The vote winner is a combinable MIN over (-votes, label)
    structs — map-side reducible, no per-query window; integers plus one
    snapped division (operators/similarity.py::knn_accuracy)."""
    from .operators.similarity import knn_accuracy

    return knn_accuracy(_t(spark, sf_dir, "embeddings"))


def _bpe_oracle() -> str:
    from .operators.bpe import bpe_merges_sql

    return bpe_merges_sql()


@_register("ds_bpe_merges", oracle=_bpe_oracle)
def ds_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich 2016): 6 learned merges over the
    corpus.  The only corpus-sized pass is the wordcount; every round is
    a combinable pair-count + a combinable struct-MIN winner + a 1-row
    broadcast + a codegen framed-replace rewrite — no Python, no windows,
    no collect (operators/bpe.py::bpe_merges).  Integer counts -> the
    unrolled-CTE DuckDB twin matches bit-for-bit."""
    from .operators.bpe import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"))


def _bpe_encode_oracle() -> str:
    from .operators.bpe import BPE_EOW, BPE_FIXED_MERGES

    expr = "'|' || array_to_string(list_append(string_split(word, ''), " \
           f"'{BPE_EOW}'), '||') || '|'"
    for lhs, rhs in BPE_FIXED_MERGES:
        expr = f"replace({expr}, '|{lhs}||{rhs}|', '|{lhs}{rhs}|')"
    return f"""
    SELECT doc_id, COUNT(*)::BIGINT AS n_words,
           SUM(len(string_split(substr(e, 2, length(e) - 2), '||')))::BIGINT
             AS n_tokens
    FROM (
      SELECT doc_id, {expr} AS e FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$'))
    GROUP BY doc_id
    """


@_register("ds_bpe_encode", oracle=_bpe_encode_oracle)
def ds_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment half of the tokenizer: apply a FIXED learned merge
    list (the 6 merges ds_bpe_merges learns at sf0.001, frozen as
    literals so the query is a pure function of its input) to every
    document; emit per-doc word and BPE-token counts.  Applying merges
    sequentially in learned order equals the priority-queue algorithm —
    a later merge can never create an earlier merge's pair, because the
    earlier pair would have needed the later symbol during training
    (operators/bpe.py::bpe_encode)."""
    from .operators.bpe import BPE_FIXED_MERGES, bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), BPE_FIXED_MERGES)


def _simhash_clusters_oracle() -> str:
    from .operators.dedup import simhash_clusters_sql

    return simhash_clusters_sql()


@_register("ds_simhash_clusters", oracle=_simhash_clusters_oracle)
def ds_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployable form of SimHash dedup: Hamming<=3 band-blocked pairs
    -> connected components -> (doc_id, cluster_id, n_members, keep), one
    row per document.  Completes the dedup family's group-level outputs
    (exact, MinHash, semantic, SimHash all now emit keep-flagged clusters,
    not just pairs).  The edge list entering CC is the verified near-dup
    graph — tiny vs the corpus — and CC is strategy-selected, so the
    operator's cost profile is the pair stage's, already plan-audited
    (operators/dedup.py::simhash_clusters)."""
    from .operators.dedup import simhash_clusters

    return simhash_clusters(_t(spark, sf_dir, "documents"), max_hamming=3)


def _crossval_oracle() -> str:
    from .operators.sampling import crossval_split_sql

    return crossval_split_sql()


@_register("ds_crossval_split", oracle=_crossval_oracle)
def ds_crossval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment keyed on
    md5_60('cv:' || doc_id) % 100 — reproducible across engines and STABLE
    UNDER APPEND (a new shard never reassigns an existing row, unlike
    row-number folds).  Pure map-side projection: zero shuffles at any
    scale (operators/sampling.py::crossval_split)."""
    from .operators.sampling import crossval_split

    return crossval_split(_t(spark, sf_dir, "documents"))


@_register(
    "rel_set_ops",
    oracle="""
    WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
    low AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '5-LOW')
    SELECT 'both' AS segment, o_custkey AS custkey FROM (
      SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM low)
    UNION ALL
    SELECT 'urgent_only' AS segment, o_custkey AS custkey FROM (
      SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM low)
    UNION ALL
    SELECT 'low_only' AS segment, o_custkey AS custkey FROM (
      SELECT o_custkey FROM low EXCEPT SELECT o_custkey FROM urgent)
    """,
)
def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over customer segments: buyers with urgent orders vs
    buyers with low-priority orders, partitioned into INTERSECT /
    EXCEPT / reverse-EXCEPT classes in one frame.  ``intersect`` and
    ``except`` lower to hash aggregates + shuffles on the SAME key
    (o_custkey), so AQE reuses one exchange per side across the three
    branches; no sort, no window, no driver-side set math."""
    o = _t(spark, sf_dir, "orders")
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey")).distinct()
    )
    low = (
        o.where(F.col("o_orderpriority") == "5-LOW")
        .select(F.col("o_custkey").alias("custkey")).distinct()
    )
    return (
        urgent.intersect(low).select(F.lit("both").alias("segment"), "custkey")
        .unionByName(
            urgent.subtract(low)
            .select(F.lit("urgent_only").alias("segment"), "custkey"))
        .unionByName(
            low.subtract(urgent)
            .select(F.lit("low_only").alias("segment"), "custkey"))
    )


_GAP_SEGMENT = "BUILDING"


@_register(
    "rel_gap_fill",
    oracle=f"""
    WITH seg AS (SELECT c_custkey FROM customer
                 WHERE c_mktsegment = '{_GAP_SEGMENT}'),
    m AS (
      SELECT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS month_idx,
             COUNT(*)::BIGINT AS n_orders
      FROM orders JOIN seg ON o_custkey = c_custkey
      GROUP BY 1, 2),
    b AS (SELECT o_custkey, MIN(month_idx) AS lo, MAX(month_idx) AS hi
          FROM m GROUP BY 1),
    cal AS (SELECT o_custkey, unnest(generate_series(lo, hi)) AS month_idx
            FROM b)
    SELECT cal.o_custkey AS custkey, cal.month_idx,
           COALESCE(m.n_orders, 0)::BIGINT AS n_orders
    FROM cal LEFT JOIN m USING (o_custkey, month_idx)
    """,
)
def rel_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap fill (time-series densification): per BUILDING-segment
    customer, the monthly order count with every silent month between the
    customer's first and last active month materialized as an explicit
    zero — the shape gap-tolerant downstream models (retention,
    forecasting) need.  Months are integer epoch-month indices
    (year*12+month — no engine-dependent date truncation); the calendar is
    ``sequence()`` + explode per customer (bounded by the span, never a
    global calendar cross-join); the segment filter broadcasts; counts
    rejoin on (custkey, month) — every shuffle is on the customer key."""
    seg = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == _GAP_SEGMENT)
        .select(F.col("c_custkey").alias("custkey"))
    )
    o = _t(spark, sf_dir, "orders").join(
        F.broadcast(seg), F.col("o_custkey") == F.col("custkey")
    )
    m = o.groupBy(
        "custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("month_idx"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    cal = (
        m.groupBy("custkey")
        .agg(F.min("month_idx").alias("lo"), F.max("month_idx").alias("hi"))
        .select(
            "custkey",
            F.explode(F.sequence("lo", "hi")).alias("month_idx"),
        )
    )
    return cal.join(m, ["custkey", "month_idx"], "left").select(
        "custkey", "month_idx",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


def _vocab_coverage_oracle() -> str:
    from .operators.textops import vocab_coverage_sql

    return vocab_coverage_sql()


@_register("ds_vocab_coverage", oracle=_vocab_coverage_oracle)
def ds_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV-rate report vs a corpus-learned top-100 vocab: the
    freeze-the-tokenizer gate.  One corpus-sized map-combined count
    shuffle; the vocab itself is TakeOrdered over the tiny distinct-token
    frame and broadcasts back; all-integer output
    (operators/textops.py::vocab_coverage)."""
    from .operators.textops import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"))


def _relation_cardinality_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT DISTINCT subj, pred, obj FROM ({_triples_oracle()})),
    h AS (SELECT pred, subj, COUNT(*)::BIGINT AS c FROM t GROUP BY 1, 2),
    ta AS (SELECT pred, obj, COUNT(*)::BIGINT AS c FROM t GROUP BY 1, 2),
    agg AS (
      SELECT pred, COUNT(*)::BIGINT AS n_triples FROM t GROUP BY pred),
    hs AS (SELECT pred, COUNT(*)::BIGINT AS n_subj,
                  MAX(c) AS max_obj_per_subj FROM h GROUP BY pred),
    ts AS (SELECT pred, COUNT(*)::BIGINT AS n_obj,
                  MAX(c) AS max_subj_per_obj FROM ta GROUP BY pred)
    SELECT agg.pred, agg.n_triples, hs.n_subj, ts.n_obj,
           hs.max_obj_per_subj, ts.max_subj_per_obj,
           CASE WHEN hs.max_obj_per_subj > 1 AND ts.max_subj_per_obj > 1
                THEN 'N-N'
                WHEN hs.max_obj_per_subj > 1 THEN '1-N'
                WHEN ts.max_subj_per_obj > 1 THEN 'N-1'
                ELSE '1-1' END AS card_class
    FROM agg JOIN hs USING (pred) JOIN ts USING (pred)
    """


@_register("kg_relation_cardinality", oracle=_relation_cardinality_oracle)
def kg_relation_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality profile of the emitted triple graph —
    the 1-1 / 1-N / N-1 / N-N classification TransE-family negative
    samplers and schema validators read (Bordes 2013 §4).  Distinct
    triples -> two key-local count aggs (subject side, object side) ->
    per-predicate maxima -> a 16-row join.  Every shuffle after the
    detector is on (pred, subj) or (pred, obj); the final frame is
    predicate-sized (tiny at any corpus scale)."""
    from .cache import tracked_persist

    t = tracked_persist(
        flagship(spark, sf_dir).select("subj", "pred", "obj").distinct()
    )
    h = t.groupBy("pred", "subj").agg(F.count(F.lit(1)).alias("c"))
    ta = t.groupBy("pred", "obj").agg(F.count(F.lit(1)).alias("c"))
    agg = t.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))
    hs = h.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_subj"),
        F.max("c").alias("max_obj_per_subj"),
    )
    ts = ta.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_obj"),
        F.max("c").alias("max_subj_per_obj"),
    )
    cls = (
        F.when(
            (F.col("max_obj_per_subj") > 1) & (F.col("max_subj_per_obj") > 1),
            "N-N",
        )
        .when(F.col("max_obj_per_subj") > 1, "1-N")
        .when(F.col("max_subj_per_obj") > 1, "N-1")
        .otherwise("1-1")
    )
    return (
        agg.join(hs, "pred").join(ts, "pred")
        .select(
            "pred", "n_triples", "n_subj", "n_obj",
            "max_obj_per_subj", "max_subj_per_obj",
            cls.alias("card_class"),
        )
    )


def _iqr_oracle() -> str:
    from .operators.quantiles import iqr_classify_sql

    return iqr_classify_sql()


@_register("ds_iqr_classify", oracle=_iqr_oracle)
def ds_iqr_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence length gate: per-language exact Q1/Q3 via the
    value-histogram quantile trick, every doc classified lo/in/hi against
    the integer k=1 IQR fences.  The histogram agg is the only
    corpus-sized shuffle; fences broadcast back
    (operators/quantiles.py::iqr_classify)."""
    from .operators.quantiles import iqr_classify

    return iqr_classify(_t(spark, sf_dir, "documents"))


def _span_conflicts_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql

    return f"""
    WITH m AS (
      SELECT DISTINCT doc_id, type, start_pos, end_pos
      FROM ({mentions_oracle_sql(CORPUS_SQL)}))
    SELECT a.doc_id,
           a.type AS type_a, a.start_pos AS start_a, a.end_pos AS end_a,
           b.type AS type_b, b.start_pos AS start_b, b.end_pos AS end_b,
           (LEAST(a.end_pos, b.end_pos)
            - GREATEST(a.start_pos, b.start_pos) + 1)::BIGINT AS overlap_len
    FROM m a JOIN m b
      ON a.doc_id = b.doc_id AND a.type < b.type
     AND a.start_pos <= b.end_pos AND b.start_pos <= a.end_pos
    """


@_register("kg_span_conflicts", oracle=_span_conflicts_oracle)
def kg_span_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type overlap report: every pair of DIFFERENT-typed mentions
    whose token spans intersect — the nested-NER surface a flat schema
    silently drops and the W8 overlay keeps; reviewers and ontology
    mappers triage exactly this frame.  Distinct spans self-equi-join on
    doc_id (per-doc mention counts are battery-bounded, so the join fans
    out locally, never corpus-quadratically); type_a < type_b
    de-duplicates pairs; all columns integer/string."""
    m = (
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
        .select("doc_id", "type", "start_pos", "end_pos")
        .distinct()
    )
    from .cache import tracked_persist

    m = tracked_persist(m)
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.type") < F.col("b.type"))
            & (F.col("a.start_pos") <= F.col("b.end_pos"))
            & (F.col("b.start_pos") <= F.col("a.end_pos")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.type").alias("type_a"),
            F.col("a.start_pos").alias("start_a"),
            F.col("a.end_pos").alias("end_a"),
            F.col("b.type").alias("type_b"),
            F.col("b.start_pos").alias("start_b"),
            F.col("b.end_pos").alias("end_b"),
            (
                F.least("a.end_pos", "b.end_pos")
                - F.greatest("a.start_pos", "b.start_pos")
                + F.lit(1)
            ).cast("long").alias("overlap_len"),
        )
    )


def _lm_buckets_oracle() -> str:
    from .operators.retrieval import lm_quality_buckets_sql

    return lm_quality_buckets_sql()


@_register("ds_lm_buckets", oracle=_lm_buckets_oracle)
def ds_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality split: per-language exact
    terciles of the integer bigram-LM fluency key, cut points via the
    value-histogram quantile trick, broadcast back — the keep-the-head
    pretraining filter with zero float discipline anywhere
    (operators/retrieval.py::lm_quality_buckets)."""
    from .operators.retrieval import lm_quality_buckets

    return lm_quality_buckets(_t(spark, sf_dir, "documents"))


_RECALL_T = 0.5  # shared truth/LSH threshold for the recall audit


def _lsh_recall_oracle() -> str:
    from .operators.dedup import minhash_pairs_sql

    exact = ORACLE_REGISTRY["ds_ngram_jaccard"]
    return f"""
    SELECT e.src, e.dst, (l.src IS NOT NULL) AS caught
    FROM ({exact}) e
    LEFT JOIN ({minhash_pairs_sql(threshold=_RECALL_T)}) l
      ON e.src = l.src AND e.dst = l.dst
    """


@_register("ds_lsh_recall_eval", oracle=_lsh_recall_oracle)
def ds_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the production near-dup path: every exact n-gram
    Jaccard >= 0.5 pair (the truth set, hot-shingle-capped) labeled with
    whether the MinHash-LSH pipeline at the same threshold catches it —
    the measured banding miss rate that sizes (bands, rows) before a
    100-TB dedup run.  Truth and candidate sets are each the
    already-plan-audited operators; the audit itself is one equi-join on
    the (src, dst) pair key."""
    from .operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, n=3, threshold=_RECALL_T).select(
        "src", "dst"
    )
    lsh = minhash_lsh_pairs(docs, threshold=_RECALL_T).select(
        "src", "dst", F.lit(True).alias("_c")
    )
    return exact.join(lsh, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("_c", F.lit(False)).alias("caught")
    )


def _ego_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.walks import ego_networks_sql

    return ego_networks_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_ego_networks", oracle=_ego_oracle)
def kg_ego_networks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop ego networks around a deterministic ~5% entity seed set —
    the GNN-training neighborhood sampler over the co-occurrence graph.
    Hop-1 is a hash-filtered slice of the doubled adjacency; hop-2 is one
    frontier equi-join + a seed-keyed anti-join dedup; nodes carry their
    minimum hop (operators/walks.py::ego_networks)."""
    from .operators.communities import entity_edges
    from .operators.walks import ego_networks

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return ego_networks(entity_edges(m))


def _alias_dict_oracle() -> str:
    from .operators.mention_sql import alias_dictionary_oracle_sql

    return alias_dictionary_oracle_sql(CORPUS_SQL)


@_register("kg_alias_dictionary", oracle=_alias_dict_oracle)
def kg_alias_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surface-form dictionary the linking stage learns: every
    canonical entity that absorbed >= 2 distinct surfaces, expanded to one
    row per alias with its mention count, cluster size, and representative
    flag — the lookup table downstream normalizers and the review UI load.
    Pure reuse of canonicalize() (persisted signature/edge frames inside);
    the only additions are a component-keyed size agg and a 1:1 join."""
    from .operators.linking import canonicalize

    cmap = canonicalize(detect_mentions(corpus(spark, sf_dir), num_partitions=8))
    sized = cmap.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_aliases")
    )
    return (
        cmap.join(sized, "component")
        .where(F.col("n_aliases") >= 2)
        .select(
            F.col("canonical_text").alias("canonical"),
            F.col("text").alias("alias"),
            "n_mentions", "n_aliases",
            (F.col("text") == F.col("canonical_text")).alias("is_canonical"),
        )
    )


def _fertility_oracle() -> str:
    enc = ORACLE_REGISTRY["ds_bpe_encode"]
    return f"""
    WITH enc AS ({enc})
    SELECT d.lang,
           SUM(enc.n_words)::BIGINT  AS n_words,
           SUM(enc.n_tokens)::BIGINT AS n_tokens,
           ((1000000 * SUM(enc.n_tokens)) // SUM(enc.n_words))::BIGINT AS fert_micro
    FROM enc JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@_register("ds_tokenizer_fertility", oracle=_fertility_oracle)
def ds_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (tokens emitted per word) under
    the frozen BPE merge list — the fairness metric multilingual
    pretraining audits before committing a vocabulary (a language with
    2x fertility pays 2x context window).  Rides ds_bpe_encode unchanged;
    one lang-keyed map-combined agg; the ratio stays integer
    (micro-fertility via BIGINT floor division)."""
    from .operators.bpe import BPE_FIXED_MERGES, bpe_encode

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, BPE_FIXED_MERGES)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "lang", "n_words", "n_tokens",
            F.expr("(1000000 * n_tokens) div n_words").alias("fert_micro"),
        )
    )


def _dup_stats_oracle() -> str:
    from .operators.dedup import simhash_clusters_sql
    from .operators.mention_sql import minhash_dedup_oracle_sql
    from .operators.similarity import semantic_dedup_sql

    return f"""
    SELECT 'exact' AS family, n AS n_members, COUNT(*)::BIGINT AS n_clusters
    FROM (SELECT COUNT(*)::BIGINT AS n FROM documents GROUP BY text)
    GROUP BY n
    UNION ALL
    SELECT 'minhash', n, COUNT(*)::BIGINT FROM (
      SELECT COUNT(*)::BIGINT AS n
      FROM ({minhash_dedup_oracle_sql(threshold=0.6)})
      GROUP BY component)
    GROUP BY n
    UNION ALL
    SELECT 'simhash', n_members, COUNT(*)::BIGINT FROM (
      SELECT DISTINCT cluster_id, n_members
      FROM ({simhash_clusters_sql()}))
    GROUP BY n_members
    UNION ALL
    SELECT 'semantic', n_members, COUNT(*)::BIGINT FROM (
      SELECT DISTINCT cluster_id, n_members
      FROM ({semantic_dedup_sql()}))
    GROUP BY n_members
    """


@_register("ds_dup_cluster_stats", oracle=_dup_stats_oracle)
def ds_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report card: cluster-size histograms of all four
    duplicate-group families (exact text, MinHash/LSH text, SimHash text,
    semantic embedding) in one frame — what a corpus drop's duplication
    profile looks like before choosing a keep policy.  Each branch is the
    already-audited operator reduced to its (cluster, size) skeleton; the
    histograms are tiny key-local aggs; the union is plan-parallel (the
    four stacks share no shuffle)."""
    from .operators.dedup import (
        exact_dedup,
        minhash_lsh_dedup,
        simhash_clusters,
    )
    from .operators.similarity import semantic_dedup

    docs = _t(spark, sf_dir, "documents")
    ex = (
        exact_dedup(docs)
        .select("canonical_doc_id", F.col("group_size").alias("n_members"))
        .distinct()
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.lit("exact").alias("family"), "n_members", "n_clusters")
    )
    mh = (
        minhash_lsh_dedup(docs, threshold=0.6)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.lit("minhash").alias("family"), "n_members", "n_clusters")
    )
    sh = (
        simhash_clusters(docs)
        .select("cluster_id", "n_members")
        .distinct()
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.lit("simhash").alias("family"), "n_members", "n_clusters")
    )
    se = (
        semantic_dedup(_t(spark, sf_dir, "embeddings"))
        .select("cluster_id", "n_members")
        .distinct()
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.lit("semantic").alias("family"), "n_members", "n_clusters")
    )
    return ex.unionByName(mh).unionByName(sh).unionByName(se)


def _temperature_oracle() -> str:
    from .operators.sampling import temperature_mixture_sql

    return temperature_mixture_sql()


@_register("ds_temperature_mixture", oracle=_temperature_oracle)
def ds_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature-scaled data mixing (alpha = 0.5): stratum
    shares proportional to sqrt(n), BIGINT floor allocation of a fixed
    budget, deterministic md5 rank selection with the constant-budget
    WindowGroupLimit heap below the exchange
    (operators/sampling.py::temperature_mixture)."""
    from .operators.sampling import temperature_mixture

    return temperature_mixture(_t(spark, sf_dir, "documents"))


def _degree_dist_oracle() -> str:
    from .operators.graph_sql import edges_prelude
    from .operators.mention_sql import mentions_oracle_sql

    return edges_prelude(mentions_oracle_sql(CORPUS_SQL)) + """
    SELECT degree, COUNT(*)::BIGINT AS n_nodes FROM (
      SELECT src, COUNT(*)::BIGINT AS degree FROM bidir GROUP BY src)
    GROUP BY degree
    """


@_register("kg_degree_distribution", oracle=_degree_dist_oracle)
def kg_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the entity co-occurrence graph — the
    one-glance skew check (a heavy-tailed degree curve is what turns the
    downstream wedge/frontier joins quadratic, so this report is the
    go/no-go before the graph family runs at a new scale).  Two map-side
    combinable count aggs over the doubled adjacency; output is bounded
    by the number of DISTINCT degrees."""
    from .operators.communities import entity_edges

    edges = entity_edges(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    )
    bidir = edges.select(F.col("ent_a").alias("src")).unionByName(
        edges.select(F.col("ent_b").alias("src"))
    )
    return (
        bidir.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def _adjacency_csr_oracle() -> str:
    from .operators.csr import adjacency_csr_sql
    from .operators.mention_sql import mentions_oracle_sql

    # '|'-join the sorted neighbor list (both engines): the driver's
    # canonicalizer cannot sort/hash LIST-typed columns
    return (
        "SELECT node, degree, csr_offset,"
        " array_to_string(neighbors, '|') AS neighbors\n    FROM ("
        + adjacency_csr_sql(mentions_oracle_sql(CORPUS_SQL))
        + ")"
    )


@_register("kg_adjacency_csr", oracle=_adjacency_csr_oracle)
def kg_adjacency_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR export of the entity co-occurrence graph: per node its degree,
    sorted neighbor array, and the exclusive global prefix sum of degrees
    (the CSR row-pointer a graph store / GNN loader ingests).  The prefix
    sum uses the two-level distributed decomposition — range-partitioned
    local running totals plus a partition-count-sized base window — so NO
    global single-task window ever touches a data-sized frame; offsets
    are a pure function of the data at any parallelism; the REGISTERED
    output '|'-joins the neighbor array (both engines) for the driver's
    row canonicalizer (operators/csr.py)."""
    from .operators.communities import entity_edges
    from .operators.csr import adjacency_csr

    return adjacency_csr(
        entity_edges(detect_mentions(corpus(spark, sf_dir), num_partitions=8))
    ).select(
        "node", "degree", "csr_offset",
        F.array_join("neighbors", "|").alias("neighbors"),
    )


@_register(
    "ds_dataset_card",
    oracle="""
    WITH tot AS (SELECT COUNT(*)::BIGINT AS total_docs FROM documents)
    SELECT source, lang,
           COUNT(*)::BIGINT                          AS n_docs,
           SUM(n_chars)::BIGINT                      AS sum_chars,
           SUM(n_chars)::BIGINT // COUNT(*)          AS mean_chars,
           (10000 * COUNT(*)::BIGINT) // MAX(tot.total_docs) AS share_bp
    FROM documents, tot
    GROUP BY source, lang
    """,
)
def ds_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-(source, language) composition table every
    corpus release ships — document counts, byte mass, mean length and
    corpus share in integer basis points.  One map-combinable agg plus a
    broadcast of the single-row total; output bounded by |sources|x|langs|,
    so the report is identical at any scale."""
    d = _t(spark, sf_dir, "documents")
    tot = d.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "lang", "n_docs", "sum_chars",
            F.expr("sum_chars div n_docs").alias("mean_chars"),
            F.expr("(10000 * n_docs) div total_docs").alias("share_bp"),
        )
    )


def _graph_summary_oracle() -> str:
    from .operators.graph_sql import edges_prelude
    from .operators.mention_sql import mentions_oracle_sql

    return edges_prelude(mentions_oracle_sql(CORPUS_SQL)) + """,
    deg AS (SELECT src, COUNT(*)::BIGINT AS degree FROM bidir GROUP BY src)
    SELECT
      (SELECT COUNT(DISTINCT text) FROM mentions)::BIGINT AS n_entities,
      (SELECT COUNT(*) FROM deg)::BIGINT                  AS n_connected,
      (SELECT COUNT(*) FROM ed)::BIGINT                   AS n_edges,
      (SELECT MAX(degree) FROM deg)                       AS max_degree,
      (SELECT ((1000000 * SUM(degree)) // COUNT(*))::BIGINT FROM deg)
                                                          AS avg_degree_micro
    """


@_register("kg_graph_summary", oracle=_graph_summary_oracle)
def kg_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph card for the entity co-occurrence graph: entity and
    connected-node counts, undirected edge count, max degree and mean
    degree in integer micro units — the first thing an operator reads
    before pointing the graph family at a new corpus (max_degree is the
    wedge-join blow-up predictor; n_edges/n_connected sizes the CC and
    LPA frontiers).  All branches are map-combinable aggregates over
    frames the graph stack already builds; the four scalars meet in
    broadcast cross-joins of one-row frames."""
    from .operators.communities import entity_edges
    from .cache import tracked_persist

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    m = tracked_persist(m.select("doc_id", "text").distinct())
    edges = tracked_persist(entity_edges(m))
    bidir = edges.select(F.col("ent_a").alias("src")).unionByName(
        edges.select(F.col("ent_b").alias("src"))
    )
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    n_entities = m.agg(
        F.countDistinct("text").alias("n_entities")
    )
    deg_card = deg.agg(
        F.count(F.lit(1)).alias("n_connected"),
        F.max("degree").alias("max_degree"),
        F.expr("(1000000 * sum(degree)) div count(*)").alias(
            "avg_degree_micro"
        ),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_entities.crossJoin(F.broadcast(deg_card))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_entities", "n_connected", "n_edges",
            "max_degree", "avg_degree_micro",
        )
    )


def _type_graph_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql

    return f"""
    WITH mentions AS ({mentions_oracle_sql(CORPUS_SQL)}),
    ents AS (SELECT DISTINCT doc_id, type, text FROM mentions),
    pairs AS (
      SELECT DISTINCT a.type AS type_a, a.text AS text_a,
                      b.type AS type_b, b.text AS text_b
      FROM ents a JOIN ents b
        ON a.doc_id = b.doc_id
       AND (a.type < b.type OR (a.type = b.type AND a.text < b.text)))
    SELECT type_a, type_b, COUNT(*)::BIGINT AS n_pairs
    FROM pairs GROUP BY type_a, type_b
    """


@_register("kg_type_graph", oracle=_type_graph_oracle)
def kg_type_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-induction view: the entity-type co-occurrence graph —
    distinct cross-type entity pairs sharing a document, rolled up per
    (type_a, type_b).  This is the KG-schema summary an ontology mapper
    reads before writing relation extractors (which type pairs actually
    co-occur, and how richly).  Same doc-keyed battery-bounded self-join
    discipline as kg_span_conflicts; output bounded by |types|^2."""
    from .cache import tracked_persist

    ents = tracked_persist(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
        .select("doc_id", "type", "text")
        .distinct()
    )
    a, b = ents.alias("a"), ents.alias("b")
    order_ok = (F.col("a.type") < F.col("b.type")) | (
        (F.col("a.type") == F.col("b.type")) & (F.col("a.text") < F.col("b.text"))
    )
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & order_ok)
        .select(
            F.col("a.type").alias("type_a"),
            F.col("a.text").alias("text_a"),
            F.col("b.type").alias("type_b"),
            F.col("b.text").alias("text_b"),
        )
        .distinct()
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _entity_sources_oracle() -> str:
    from .operators.mention_sql import _linking_ctes

    base = _linking_ctes(CORPUS_SQL) + """,
    mm AS (
      SELECT COALESCE(c.canonical_text, m.text) AS canonical,
             d.repo, m.doc_id
      FROM m_spans m LEFT JOIN cmap c ON c.text = m.text
      JOIN corpus d ON m.doc_id = d.doc_id),
    per_src AS (
      SELECT canonical, repo, COUNT(*)::BIGINT AS n
      FROM mm GROUP BY 1, 2),
    top AS (
      SELECT canonical, repo AS top_source, n AS top_source_n FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical
                                     ORDER BY n DESC, repo ASC) AS rk
        FROM per_src) WHERE rk = 1),
    card AS (
      SELECT canonical, SUM(n)::BIGINT AS n_mentions,
             COUNT(*)::BIGINT AS n_sources
      FROM per_src GROUP BY canonical),
    docs AS (
      SELECT canonical, COUNT(*)::BIGINT AS n_docs
      FROM (SELECT DISTINCT canonical, doc_id FROM mm) GROUP BY canonical)
    SELECT c.canonical, c.n_mentions, d.n_docs, c.n_sources,
           t.top_source, t.top_source_n
    FROM card c JOIN docs d USING (canonical) JOIN top t USING (canonical)
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


@_register("kg_entity_sources", oracle=_entity_sources_oracle)
def kg_entity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance profile per canonical entity: mention mass, distinct
    documents, distinct sources, and the dominant source (count desc,
    name asc — a COMBINABLE min(struct(-n, repo)) argmax, never a
    data-sized window).  This is the trust table a KG consumer reads
    before believing an edge: an entity attested by one repo is a
    different animal from one attested by fifty.  Reuses the audited
    linking stack; three key-local aggregates meet on the canonical
    key."""
    from .operators.linking import canonicalize
    from .cache import tracked_persist

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    cmap = canonicalize(m).select("text", "canonical_text")
    mm = tracked_persist(
        m.select("text", "repo", "doc_id")
        .join(cmap, "text", "left")
        .select(
            F.coalesce("canonical_text", "text").alias("canonical"),
            "repo", "doc_id",
        )
    )
    per_src = tracked_persist(
        mm.groupBy("canonical", "repo").agg(F.count(F.lit(1)).alias("n"))
    )
    top = per_src.groupBy("canonical").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("repo").alias("r"))
        ).alias("t")
    ).select(
        "canonical",
        F.col("t.r").alias("top_source"),
        (-F.col("t.neg")).alias("top_source_n"),
    )
    card = per_src.groupBy("canonical").agg(
        F.sum("n").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    docs = (
        mm.select("canonical", "doc_id").distinct()
        .groupBy("canonical").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        card.join(docs, "canonical").join(top, "canonical")
        .select("canonical", "n_mentions", "n_docs", "n_sources",
                "top_source", "top_source_n")
    )


def _ivf_recall_oracle() -> str:
    return f"""
    WITH exact_tk AS ({ORACLE_REGISTRY["ds_cosine_topk"]}),
    ivf_tk AS ({ORACLE_REGISTRY["ds_ivf_ann"]})
    SELECT e.query_id, e.rank, e.vec_id,
           (i.vec_id IS NOT NULL) AS caught
    FROM exact_tk e LEFT JOIN ivf_tk i
      ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    """


@_register("ds_ivf_recall_eval", oracle=_ivf_recall_oracle)
def ds_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall audit: every exact-cosine top-5 neighbor labeled
    caught/missed by the nprobe=4 IVF path — the measured recall that
    sizes (n_cells, nprobe) before an ANN index ships, completing the
    audit family next to ds_lsh_recall_eval's MinHash-banding audit.
    Both stacks are the already-audited operators; the verdict is ONE
    (query_id, vec_id) equi-join."""
    from .operators.similarity import brute_force_topk, ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    exact_tk = brute_force_topk(e, _ANN_QUERY_IDS, k=5).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id"
    )
    ivf_tk = (
        ivf_ann_topk(e, _ANN_QUERY_IDS, k=5)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(True))
    )
    return exact_tk.join(ivf_tk, ["query_id", "vec_id"], "left").select(
        "query_id", "rank", "vec_id",
        F.coalesce("_hit", F.lit(False)).alias("caught"),
    )


@_register(
    "rel_rolling_distinct",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    cand AS (
      SELECT DISTINCT user_id, d + CAST(x.range AS INTEGER) AS wend
      FROM ud, range(0, 7) x)
    SELECT CAST(c.wend AS VARCHAR) AS day, COUNT(*)::BIGINT AS users_7d
    FROM cand c JOIN days ON c.wend = days.d
    GROUP BY 1
    """,
)
def rel_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per active day — the DAU/WAU surface.
    Distinct-count over a sliding window has NO combinable aggregate, so
    the scalable form is the replicate-to-windows decomposition: each
    (user, day) fact fans out map-side to the <=7 window-ends it can
    serve, one distinct, one count — all key-local shuffles, never a
    per-day scan of trailing history.  Window-ends are restricted to
    observed days so the report has no synthetic calendar rows."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select(F.col("d").alias("day")).distinct()
    cand = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("off")).alias("day"))
        .distinct()
    )
    return (
        cand.join(days, "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("users_7d"))
        # day as ISO string: Spark DateType and DuckDB DATE reach pandas
        # as different dtypes (object-of-date vs datetime64), which breaks
        # a strict value-hash even though the dates are equal
        .select(F.col("day").cast("string").alias("day"), "users_7d")
    )


def _blocking_stats_oracle() -> str:
    from .operators.linking import PAIR_CAP
    from .operators.mention_sql import _linking_ctes

    base = _linking_ctes(CORPUS_SQL) + f"""
    SELECT band::BIGINT AS band,
           SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_singleton_buckets,
           SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_multi_buckets,
           MAX(n)::BIGINT AS max_bucket,
           SUM(CASE WHEN n > {PAIR_CAP} THEN 1 ELSE 0 END)::BIGINT
             AS n_capped,
           SUM(CASE WHEN n <= 1 THEN 0
                    WHEN n <= {PAIR_CAP} THEN (n * (n - 1)) // 2
                    ELSE n - 1 END)::BIGINT AS pairs_emitted
    FROM bsize GROUP BY 1
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


def _band_filter_recall_oracle() -> str:
    from .operators.mention_sql import _linking_ctes

    # extend the shared linking chain with the UNFILTERED pair->verify leg
    # (pairsm/ssh/sizes are in scope); filtered edges are a subset, so the
    # recall division is exact.  GREATEST guards the empty-corpus case.
    base = _linking_ctes(CORPUS_SQL) + """,
    pairs_all AS (SELECT src, dst FROM pairsm),
    inter_all AS (
      SELECT p.src, p.dst, COUNT(*) AS n_common
      FROM pairs_all p
      JOIN ssh a ON a.surface_id = p.src
      JOIN ssh b ON b.surface_id = p.dst AND b.h = a.h
      GROUP BY 1, 2),
    edges_all AS (
      SELECT i.src, i.dst FROM inter_all i
      JOIN sizes sa ON sa.surface_id = i.src
      JOIN sizes sb ON sb.surface_id = i.dst
      WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5)
    SELECT (SELECT COUNT(*) FROM pairs)::BIGINT     AS n_cand_filtered,
           (SELECT COUNT(*) FROM pairs_all)::BIGINT AS n_cand_all,
           (SELECT COUNT(*) FROM edges)::BIGINT     AS n_edges_filtered,
           (SELECT COUNT(*) FROM edges_all)::BIGINT AS n_edges_all,
           ((1000000 * (SELECT COUNT(*) FROM edges))
             // GREATEST((SELECT COUNT(*) FROM edges_all), 1))::BIGINT
             AS edge_recall_micro
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


@_register("kg_band_filter_recall", oracle=_band_filter_recall_oracle)
def kg_band_filter_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honesty audit for the linking LSH's MIN_BAND_HITS candidate
    filter: the candidate+verify chain with and without the >=2-band
    frequency rule, reported as candidate/edge counts and exact edge
    recall in integer micro-units — the same ships-with-its-own-audit
    discipline as ds_lsh_recall_eval
    (operators/linking.py::band_filter_recall)."""
    from .operators.linking import band_filter_recall

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return band_filter_recall(m)


@_register("kg_blocking_stats", oracle=_blocking_stats_oracle)
def kg_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH blocking audit for the linking stage: bucket-size
    profile, the largest bucket (the verify-join fan-out predictor), how
    many buckets tripped the PAIR_CAP chain-pair skew guard, and exactly
    how many candidate pairs the guard admits — the driver-visible form
    of the skew-guard evidence the stress runs log
    (operators/linking.py::blocking_stats)."""
    from .operators.linking import blocking_stats, surface_signatures

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return blocking_stats(surface_signatures(m))


def _skew_guard_oracle() -> str:
    from .operators.linking import PAIR_CAP, SKEW_GUARD_K
    from .operators.mention_sql import _linking_ctes

    # the twin computes BASE-corpus guard stats: the engine runs the
    # k-fold-duplicated stream, and the map-side-collapse invariant says
    # the two must match exactly (mentions scale by k, surfaces don't)
    base = _linking_ctes(CORPUS_SQL) + f""",
    bucket_stats AS (
      SELECT COUNT(*)::BIGINT AS n_band_buckets,
             MAX(n)::BIGINT AS max_bucket_size,
             SUM(CASE WHEN n > {PAIR_CAP} THEN 1 ELSE 0 END)::BIGINT
               AS oversized_buckets
      FROM bsize),
    pair_stats AS (SELECT COUNT(*)::BIGINT AS candidate_pairs FROM pairs),
    edge_stats AS (SELECT COUNT(*)::BIGINT AS verified_edges FROM edges),
    comp_stats AS (SELECT COUNT(DISTINCT component)::BIGINT AS n_components
                   FROM slabeled),
    surf_stats AS (
      SELECT COUNT(*)::BIGINT AS n_surfaces,
             (SUM(n_mentions) * {SKEW_GUARD_K})::BIGINT AS n_mentions
      FROM surfaces)
    SELECT {SKEW_GUARD_K}::BIGINT AS k, s.n_mentions, s.n_surfaces,
           b.n_band_buckets, b.max_bucket_size, b.oversized_buckets,
           p.candidate_pairs, e.verified_edges, c.n_components
    FROM surf_stats s, bucket_stats b, pair_stats p, edge_stats e,
         comp_stats c
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


@_register("kg_skew_guard_stats", oracle=_skew_guard_oracle)
def kg_skew_guard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-stress guard report as a driver row (VERDICT r4 ask #4): the
    mention stream duplicated SKEW_GUARD_K x under distinct doc_ids runs
    through the real linking operators; every surface-level guard
    statistic must collapse to the base corpus's exact values (and
    n_mentions to exactly k x base), proving duplication skew dies
    map-side before any shuffle
    (operators/linking.py::skew_guard_stats)."""
    from .operators.linking import skew_guard_stats

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return skew_guard_stats(m)


@_register(
    "ds_normalize_text",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g'))                       AS norm_text,
           length(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')))::BIGINT              AS n_chars_norm
    FROM documents
    """,
)
def ds_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the stage every dedup/fingerprint
    family assumes upstream): lowercase, non-alphanumerics to spaces,
    whitespace collapsed, trimmed.  Pure JVM built-ins in one codegen
    stage — a map-only op with zero shuffles at any scale; the regexes
    use only character classes so Java and RE2 semantics agree."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            r" +", " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
    )


def _lang_confusion_oracle() -> str:
    from .operators.textops import lang_id_sql

    return f"""
    WITH pred AS ({lang_id_sql()})
    SELECT d.lang AS lang_true, p.lang_pred,
           COUNT(*)::BIGINT AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    """


@_register("ds_lang_confusion", oracle=_lang_confusion_oracle)
def ds_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit: the confusion matrix of the lang_id classifier
    against the source-declared language — the drift monitor a crawl
    pipeline reads before trusting per-language routing downstream.
    Classifier and truth join 1:1 on doc_id; the matrix is one map-side
    combinable count agg, output bounded by |langs|^2."""
    from .operators.textops import lang_id

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id(docs)
    return (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred.select("doc_id", "lang_pred"), "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _minhash_est_oracle() -> str:
    from .operators.dedup import minhash_pairs_sql, minhash_sig_sql

    sig = minhash_sig_sql() + "SELECT doc_id, perm, minhash FROM sig"
    return f"""
    SELECT p.src, p.dst, COUNT(sa.perm)::BIGINT AS est_16
    FROM ({minhash_pairs_sql(threshold=_MINHASH_PAIRS_THRESHOLD)}) p
    JOIN ({sig}) sa ON sa.doc_id = p.src
    JOIN ({sig}) sb ON sb.doc_id = p.dst
      AND sb.perm = sa.perm AND sb.minhash = sa.minhash
    GROUP BY p.src, p.dst
    """


@_register("ds_minhash_estimate", oracle=_minhash_est_oracle)
def ds_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-bias audit of the MinHash kernel: for every verified
    near-dup pair, the number of agreeing permutations out of 16 — the
    signature's own Jaccard estimate (est_16/16) next to the exact verify
    the pipeline already computed.  Companion to ds_lsh_recall_eval: that
    one measures banding recall, this one measures signature fidelity.
    The signature frame joins twice on doc_id (n_docs x 16 longs — tiny
    vs the corpus); the agree-count is one map-combinable agg."""
    from .cache import tracked_persist as _persist
    from .operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, threshold=_MINHASH_PAIRS_THRESHOLD
    ).select("src", "dst")
    sig = _persist(minhash_signatures(docs))
    sa = sig.select(
        F.col("doc_id").alias("src"), "perm",
        F.col("minhash").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("dst"), "perm",
        F.col("minhash").alias("mh_b"),
    )
    return (
        pairs.join(sa, "src")
        .join(sb, ["dst", "perm"])
        .where(F.col("mh_a") == F.col("mh_b"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("est_16"))
    )


def _confident_triples_oracle() -> str:
    from .operators.crf_confidence_sql import crf_confidence_oracle_sql
    from .operators.mention_sql import mentions_oracle_sql

    return f"""
    WITH m AS ({mentions_oracle_sql(CORPUS_SQL)}),
    conf AS ({crf_confidence_oracle_sql(CORPUS_SQL, max_seq_length=128)})
    SELECT 'doc:' || CAST(m.doc_id AS VARCHAR) AS subj,
           'hasEntityType:' || m.type          AS pred,
           m.text                              AS obj,
           c.confidence
    FROM m JOIN conf c ON c.doc_id = m.doc_id AND c.type = m.type
    """


@_register("kg_confident_triples", oracle=_confident_triples_oracle)
def kg_confident_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-weighted triples: every emitted (subj, pred, obj) carries
    the CRF path confidence of its (doc, query) decode — the trust score a
    downstream KG consumer thresholds on before accepting an edge (the
    reference computes exactly this score and comments it out;
    bert_qasl_predictor.py:68).  Two already-audited stacks joined 1:N on
    the (doc_id, type) key; no new corpus pass."""
    from .operators.crf_confidence import crf_confidence

    c = corpus(spark, sf_dir)
    t = mentions_as_triples(detect_mentions(c, num_partitions=8)).select(
        "subj", "pred", "obj", "doc_id", "type"
    )
    conf = crf_confidence(c, num_partitions=8, max_seq_length=128).select(
        "doc_id", "type", "confidence"
    )
    return t.join(conf, ["doc_id", "type"]).select(
        "subj", "pred", "obj", "confidence"
    )


@_register(
    "ds_keep_policy",
    oracle="""
    WITH g AS (
      SELECT text, MIN(doc_id) AS group_id, COUNT(*)::BIGINT AS group_size
      FROM documents GROUP BY text),
    member AS (
      SELECT d.doc_id, d.n_chars, g.group_id, g.group_size
      FROM documents d JOIN g ON d.text = g.text),
    win AS (
      SELECT group_id,
             MAX(n_chars * 10000000000 - doc_id) AS wkey
      FROM member GROUP BY group_id)
    SELECT m.doc_id, m.group_id, m.group_size,
           (m.n_chars * 10000000000 - m.doc_id = w.wkey) AS keep
    FROM member m JOIN win w USING (group_id)
    """,
)
def ds_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keep policy (the C4 'keep the longest' rule):
    within each exact-duplicate group the longest document survives,
    doc_id breaking ties — unlike min-id keep, the survivor is the best
    artifact, not an arbitrary one.  The winner is a COMBINABLE integer
    MAX over the packed (n_chars, -doc_id) key — map-side reducible, no
    per-group window or sort anywhere; the winner key broadcasts back via
    a group-keyed 1:1 join.  (Packing is safe: doc_id < 1e10 by the
    synthesizer's contract, so the key orders by length first, then by
    smaller id.)"""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    g = d.groupBy("text").agg(
        F.min("doc_id").alias("group_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    member = d.join(g, "text").select(
        "doc_id", "n_chars", "group_id", "group_size"
    )
    wkey = (F.col("n_chars") * F.lit(10000000000) - F.col("doc_id"))
    win = member.groupBy("group_id").agg(F.max(wkey).alias("wkey"))
    return member.join(win, "group_id").select(
        "doc_id", "group_id", "group_size",
        (wkey == F.col("wkey")).alias("keep"),
    )


N_SHARDS = 16


@_register(
    "ds_shard_manifest",
    oracle=f"""
    SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT % {N_SHARDS}                  AS shard,
           COUNT(*)::BIGINT                         AS n_docs,
           SUM(n_chars)::BIGINT                     AS sum_chars,
           SUM(doc_id)::BIGINT                      AS id_checksum,
           MIN(doc_id)                              AS min_doc_id,
           MAX(doc_id)                              AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def ds_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export manifest: documents hash-assigned to 16
    shards by the md5 discipline, with per-shard row counts, byte mass
    and id checksums — what a resumable distributed writer records before
    and verifies after an export (the same evidence contract as the
    icetable snapshot layer, expressed as a query).  One map-combinable
    agg; shard assignment is a pure row function, so the manifest is
    identical at any parallelism."""
    from .hashing import md5_60_expr

    d = _t(spark, sf_dir, "documents")
    shard = F.pmod(
        md5_60_expr(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
        F.lit(N_SHARDS),
    )
    return d.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# time-series / layout / data-quality / fuzzy-linking batch (session 9)
# ---------------------------------------------------------------------------


def _ohlc_oracle() -> str:
    from .operators.timeseries import ohlc_bars_sql

    return ohlc_bars_sql()


@_register("rel_ohlc_bars", oracle=_ohlc_oracle)
def rel_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling bars per event type — ONE map-side-
    combined aggregation; open/close are min_by/max_by over a unique
    zero-padded (micros, event_id) key so the pick is deterministic on
    any partitioning; volume sums half-away-snapped integer micros
    (order-independent BIGINT), divided once (operators/timeseries.py)."""
    from .operators.timeseries import ohlc_bars

    return ohlc_bars(_t(spark, sf_dir, "events"))


def _markov_oracle() -> str:
    from .operators.timeseries import markov_transitions_sql

    return markov_transitions_sql()


@_register("rel_markov_transitions", oracle=_markov_oracle)
def rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over each user's
    time-ordered sequence: a user-partitioned LEAD window (millions of
    small partitions — the natural key, no global sort) into one
    combinable count per (from, to) cell; output is |types|^2 rows at
    any input scale (operators/timeseries.py)."""
    from .operators.timeseries import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))


def _anomaly_oracle() -> str:
    from .operators.timeseries import anomaly_zscore_sql

    return anomaly_zscore_sql()


@_register("ds_anomaly_zscore", oracle=_anomaly_oracle)
def ds_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags per event type: z-scores of the daily
    counts against that type's own distribution, derived from exact
    BIGINT moments (sum, sum-of-squares) through one fixed chain of IEEE
    double ops, snapped to the shared 1e-6 grid; two combinable aggs +
    one tiny broadcast-scale join back (operators/timeseries.py)."""
    from .operators.timeseries import anomaly_zscore

    return anomaly_zscore(_t(spark, sf_dir, "events"))


def _zorder_oracle() -> str:
    from .operators.layout import zorder_layout_sql

    return zorder_layout_sql()


@_register("rel_zorder_layout", oracle=_zorder_oracle)
def rel_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics over orders clustered on
    (o_custkey, orderdate): the bit interleave is a pure integer column
    expression (codegen, no UDF), buckets are z-prefixes, and the
    per-bucket min/max frame IS the footer stats a reader prunes on —
    probe_overlaps counts the buckets a 2-D predicate box actually scans
    (operators/layout.py)."""
    from .operators.layout import zorder_layout

    return zorder_layout(_t(spark, sf_dir, "orders"))


def _fd_oracle() -> str:
    from .operators.dataquality import fd_violations_sql

    return fd_violations_sql()


@_register("rel_fd_violations", oracle=_fd_oracle)
def rel_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (g3 error + key/row violation counts)
    for three candidate FDs across customer/orders/events — the
    data-quality gate before trusting a column as a canonicalization
    key; per FD: two map-side-combined aggregations, shuffle carries the
    (X, Y) group frame, never raw rows (operators/dataquality.py)."""
    from .operators.dataquality import fd_violations

    return fd_violations({
        "customer": _t(spark, sf_dir, "customer"),
        "orders": _t(spark, sf_dir, "orders"),
        "events": _t(spark, sf_dir, "events"),
    })


def _fuzzy_oracle() -> str:
    from .operators.fuzzy import fuzzy_alias_sql
    from .operators.mention_sql import mentions_oracle_sql

    return fuzzy_alias_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_fuzzy_aliases", oracle=_fuzzy_oracle)
def kg_fuzzy_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance alias candidates (levenshtein <= 2) over the
    detected-mention surface vocabulary — the record-linkage recall
    booster for short typo'd aliases the MinHash linker cannot see;
    blocking keys (first char, length..length+2) make the candidate join
    an equi-join that is lossless within the distance budget for
    same-first-char pairs (operators/fuzzy.py)."""
    from .operators.fuzzy import fuzzy_alias_pairs

    return fuzzy_alias_pairs(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    )


def _assertions_oracle() -> str:
    from .operators.assertions import mention_assertions_sql

    return mention_assertions_sql(_gold_prelude())


@_register("kg_mention_assertions", oracle=_assertions_oracle)
def kg_mention_assertions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NegEx-style assertion detection: each gold mention flagged negated
    when a cue token occurs in the 3 tokens before it.  The naive range
    join is rewritten as a constant map-side cue explosion + one doc-keyed
    EQUI-join — skew-free, codegen to the join
    (operators/assertions.py)."""
    from .operators.assertions import mention_assertions

    return mention_assertions(corpus(spark, sf_dir))


_PRF_CASE = """
  ROUND(CASE WHEN nb_pred > 0
        THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END, 6) AS precision,
  ROUND(CASE WHEN nb_true > 0
        THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END, 6) AS recall,
  ROUND(CASE WHEN (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END
                 + CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END) > 0
        THEN 2 * (CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
               * (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END)
               / ((CASE WHEN nb_pred > 0 THEN nb_correct / CAST(nb_pred AS DOUBLE) ELSE 0 END)
                + (CASE WHEN nb_true > 0 THEN nb_correct / CAST(nb_true AS DOUBLE) ELSE 0 END))
        ELSE 0 END, 6) AS f1"""


def _metrics_by_source_oracle() -> str:
    return (
        _gold_prelude().rstrip()
        + ",\n"
        + _FLAT_SQL_BODY.format(prio=_gold_prio_case())
        + f""",
gmap AS (SELECT doc_id AS pid, repo FROM corpus),
g AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM gold),
p AS (SELECT DISTINCT pid, type, start_pos, end_pos, text FROM flat),
c AS (SELECT * FROM p INTERSECT SELECT * FROM g),
nt AS (SELECT repo, COUNT(*) AS nb_true
       FROM g JOIN gmap USING (pid) GROUP BY repo),
np AS (SELECT repo, COUNT(*) AS nb_pred
       FROM p JOIN gmap USING (pid) GROUP BY repo),
nc AS (SELECT repo, COUNT(*) AS nb_correct
       FROM c JOIN gmap USING (pid) GROUP BY repo),
base AS (
  SELECT COALESCE(nt.repo, np.repo, nc.repo) AS repo,
         COALESCE(nb_correct, 0)::BIGINT AS nb_correct,
         COALESCE(nb_pred, 0)::BIGINT AS nb_pred,
         COALESCE(nb_true, 0)::BIGINT AS nb_true
  FROM nt
  FULL JOIN np ON np.repo = nt.repo
  FULL JOIN nc ON nc.repo = COALESCE(nt.repo, np.repo))
SELECT repo, nb_correct, nb_pred, nb_true,{_PRF_CASE}
FROM base"""
    )


@_register("kg_metrics_by_source", oracle=_metrics_by_source_oracle)
def kg_metrics_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced evaluation: A1 micro P/R/F1 stratified per source repo — the
    slice-based error analysis that a single corpus micro hides (a 0.95
    aggregate can mask a 0.50 slice).  Three map-side-combined per-repo
    counts over pid-keyed joins with the doc->repo map; output is
    |repos| rows at any corpus scale (operators/metrics.py)."""
    from .operators.gold import GOLD_PRIORITY, gold_mentions
    from .operators.metrics import micro_prf_by_group
    from .operators.priority import flat_projection

    c = corpus(spark, sf_dir)
    g = gold_mentions(c)
    out = micro_prf_by_group(
        g,
        flat_projection(g, GOLD_PRIORITY),
        c.select(F.col("doc_id").alias("pid"), F.col("repo").alias("grp")),
    )
    return out.withColumnRenamed("grp", "repo")


def _related_docs_oracle() -> str:
    from .operators.cooccur import related_docs_sql
    from .operators.mention_sql import mentions_oracle_sql

    return related_docs_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_related_docs", oracle=_related_docs_oracle)
def kg_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related documents by shared entity vocabulary — the doc-side
    mirror of kg_entity_cooccur (corpus navigation / "similar notes").
    Hub entities (document frequency > 64) are excluded via a broadcast
    anti-join BEFORE the entity-keyed self-join, the same quadratic-
    fan-out guard as the n-gram hot-shingle cap; top-50 winners via
    TakeOrdered heaps (operators/cooccur.py::related_docs)."""
    from .operators.cooccur import related_docs

    return related_docs(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    )


# ---------------------------------------------------------------------------
# lakehouse-maintenance / smoothing batch (session 10)
# ---------------------------------------------------------------------------


def _snapshot_diff_oracle() -> str:
    from .operators.lakehouse import snapshot_diff_sql

    return snapshot_diff_sql()


@_register("rel_snapshot_diff", oracle=_snapshot_diff_oracle)
def rel_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog (CDC) between two snapshot versions of the orders table:
    every key classified insert / delete / update by ONE full-outer
    equi-join on the table key, unchanged rows never emitted.  The two
    versions are synthesized deterministically (mod-key inserts/deletes,
    +1.0 price updates) so the diff is oracle-checkable; on a real
    Iceberg catalog the inputs would be manifest-diff-pruned changed-file
    scans feeding this exact query shape
    (operators/lakehouse.py::snapshot_diff)."""
    from .operators.lakehouse import snapshot_diff

    return snapshot_diff(_t(spark, sf_dir, "orders"))


def _compaction_oracle() -> str:
    from .operators.lakehouse import compaction_plan_sql

    return compaction_plan_sql()


@_register("rel_compaction_plan", oracle=_compaction_oracle)
def rel_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the planning half of Iceberg's
    binpack rewrite): a manifest-shaped frame (one row per file with an
    integer byte size) is cut into ~16 KiB bins per partition by running
    byte mass over a (size DESC, file_id) order — per-bin overfill
    bounded by one file, all windows keyed by the partition column, no
    global sort.  At 10^12 files the manifest frame is itself big data,
    which is why the planner is a distributed query
    (operators/lakehouse.py::compaction_plan)."""
    from .operators.lakehouse import compaction_plan

    return compaction_plan(_t(spark, sf_dir, "orders"))


def _ewma_oracle() -> str:
    from .operators.timeseries import ewma_volume_sql

    return ewma_volume_sql()


@_register("rel_ewma_volume", oracle=_ewma_oracle)
def rel_ewma_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA trend line of the per-type daily event volume (alpha = 1/2,
    16-day truncation).  The fixed alpha makes the whole computation
    integer — weights are shifted BIGINTs, the numerator a combinable
    SUM, the final division by 2^16 exact in doubles — and the sliding
    window is decomposed replicate-to-window-ends (each daily fact fans
    map-side to the <=16 window-ends it serves), so every shuffle is
    key-local and nothing rescans trailing history
    (operators/timeseries.py::ewma_volume)."""
    from .operators.timeseries import ewma_volume

    return ewma_volume(_t(spark, sf_dir, "events"))


def _entity_churn_oracle() -> str:
    from .operators.lakehouse import DEL_MOD, INS_MOD
    from .operators.mention_sql import _linking_ctes

    base = _linking_ctes(CORPUS_SQL) + f""",
    mm AS (
      SELECT COALESCE(c.canonical_text, m.text) AS canonical, m.doc_id
      FROM m_spans m LEFT JOIN cmap c ON c.text = m.text),
    pv AS (
      SELECT canonical,
             SUM(CASE WHEN doc_id % {INS_MOD} <> 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_v1,
             SUM(CASE WHEN doc_id % {DEL_MOD} <> 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_v2
      FROM mm GROUP BY 1)
    SELECT canonical,
           CASE WHEN n_v1 = 0 THEN 'appeared'
                ELSE 'disappeared' END AS status,
           n_v1, n_v2
    FROM pv WHERE (n_v1 = 0) <> (n_v2 = 0)
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


@_register("kg_entity_churn", oracle=_entity_churn_oracle)
def kg_entity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-entity churn between the two corpus snapshot versions
    (the same mod-key versioning as rel_snapshot_diff): which entities
    APPEARED (no attesting mention in any v1 document) or DISAPPEARED
    (none left in v2) — the KG-side answer to "what did this ingest
    batch change", read before republishing downstream edges.  ONE
    scorer pass over the full corpus and one canonical map serve both
    versions: per-version attestation counts are conditional sums in a
    single canonical-keyed aggregate, so version membership never forks
    the pipeline.  Unchanged entities are not emitted (CDC contract)."""
    from .operators.lakehouse import DEL_MOD, INS_MOD
    from .operators.linking import canonicalize
    from .cache import tracked_persist

    m = tracked_persist(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
        .select("text", "doc_id")
    )
    cmap = canonicalize(m).select("text", "canonical_text")
    mm = m.join(cmap, "text", "left").select(
        F.coalesce("canonical_text", "text").alias("canonical"), "doc_id"
    )
    pv = mm.groupBy("canonical").agg(
        F.sum(
            F.when(F.col("doc_id") % INS_MOD != 0, 1).otherwise(0)
        ).cast("long").alias("n_v1"),
        F.sum(
            F.when(F.col("doc_id") % DEL_MOD != 0, 1).otherwise(0)
        ).cast("long").alias("n_v2"),
    )
    status = F.when(F.col("n_v1") == 0, F.lit("appeared")).otherwise(
        F.lit("disappeared")
    )
    return pv.where(
        (F.col("n_v1") == 0) != (F.col("n_v2") == 0)
    ).select("canonical", status.alias("status"), "n_v1", "n_v2")


def _grouped_corr_oracle() -> str:
    from .operators.stats import grouped_corr_sql

    return grouped_corr_sql("SELECT * FROM lineitem")


@_register("rel_grouped_corr", oracle=_grouped_corr_oracle)
def rel_grouped_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation / covariance / OLS slope of
    extendedprice (cents) on quantity, from six exact BIGINT moments in ONE
    combinable aggregate — the profiling statistic behind join-selectivity
    and anomaly models, computed without corr()'s engine-dependent float
    summation order (operators/stats.py)."""
    from .operators.stats import grouped_corr

    return grouped_corr(_t(spark, sf_dir, "lineitem"))


def _histogram_oracle() -> str:
    from .operators.stats import equiwidth_histogram_sql

    return equiwidth_histogram_sql("SELECT * FROM lineitem")


@_register("rel_histogram", oracle=_histogram_oracle)
def rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram with the bucket id as pure integer DIV on
    cents — codegen arithmetic, no window, one key-local count/sum
    aggregate whose exchange carries at most n_partitions x n_buckets rows
    (operators/stats.py)."""
    from .operators.stats import equiwidth_histogram

    return equiwidth_histogram(_t(spark, sf_dir, "lineitem"))


def _char_entropy_oracle() -> str:
    from .operators.textops import char_entropy_sql

    return char_entropy_sql()


@_register("ds_char_entropy", oracle=_char_entropy_oracle)
def ds_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate (gibberish / binary-blob detection):
    per-doc char histogram built map-side with higher-order array functions
    (NO char-explode row amplification, no shuffle), entropy from the
    integer-count identity (ln n - sum c ln c / n)/ln 2
    (operators/textops.py)."""
    from .operators.textops import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def _mime_sniff_oracle() -> str:
    from .operators.multimodal import sniff_mime_sql

    return sniff_mime_sql(48)


@_register("mm_mime_sniff", oracle=_mime_sniff_oracle)
def mm_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME detection over opaque binary payloads (REAL PNG /
    JPEG / RIFF-WAVE / mp4-ftyp signatures): map-only hex-prefix CASE in
    whole-stage codegen, no UDF.  Catches headerless and mislabelled assets
    before any decoder runs (operators/multimodal.py)."""
    from .operators.multimodal import sniff_mime, synth_media_magic

    return sniff_mime(synth_media_magic(spark, 48))


@_register(
    "rel_stream_stream_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, c.click_id, p.purchase_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 7200 SECONDS
    """,
)
def rel_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: Spark's NATIVE stream-stream interval join
    (click -> purchase attribution, both sides watermarked, event-time
    range condition so join state is evicted as the watermark advances)
    over a deterministic event-time-ordered micro-batch schedule; the
    accumulated append sink is hash-checked against the plain batch range
    join (streaming/jobs.py::stream_stream_attribution)."""
    from .streaming.jobs import stream_stream_attribution

    return stream_stream_attribution(spark, sf_dir)


def _segment_dedup_oracle() -> str:
    from .operators.dedup import segment_dedup_sql

    return segment_dedup_sql()


@_register("ds_segment_dedup", oracle=_segment_dedup_oracle)
def ds_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level segment dedup: keep the globally-first
    occurrence of every distinct 8-word segment and rebuild the cleaned
    documents.  The first-occurrence winner is a combinable MIN over a
    packed (doc_id, seg_idx) key — map-side partials, never a window over
    the hot segment key (operators/dedup.py::segment_dedup)."""
    from .operators.dedup import segment_dedup

    return segment_dedup(_t(spark, sf_dir, "documents"))


def _payload_dedup_oracle() -> str:
    from .operators.multimodal import payload_dedup_sql

    return payload_dedup_sql(48)


@_register("mm_payload_dedup", oracle=_payload_dedup_oracle)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-asset dedup: sha256 over the opaque payload (JVM-side
    sha2(hex(payload)) built-in, no UDF), one map-side-combined aggregate
    on the digest — catches the same asset uploaded twice under different
    metadata (operators/multimodal.py::payload_dedup)."""
    from .operators.multimodal import payload_dedup, synth_media_dups

    return payload_dedup(synth_media_dups(spark, 48))


def _thumbnails_oracle() -> str:
    from .operators.multimodal import resize_thumbnails_sql

    return resize_thumbnails_sql(48)


@_register("mm_thumbnails", oracle=_thumbnails_oracle)
def mm_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image thumbnail stage: aspect-preserving INTEGER-exact target dims
    + Arrow-batched mapInPandas over the binary payload (real 100-TB
    plumbing; the pixel resample is a clearly-marked deterministic stub a
    Pillow decoder drops into) (operators/multimodal.py::resize_thumbnails)."""
    from .operators.multimodal import resize_thumbnails, synth_media

    return resize_thumbnails(synth_media(spark, 48))


def _audio_windows_oracle() -> str:
    from .operators.multimodal import audio_windows_sql

    return audio_windows_sql(n=48)


@_register("mm_audio_windows", oracle=_audio_windows_oracle)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis-window framing: each binary audio clip decodes (stub
    md5 PCM stream) and explodes into overlapping 400 ms / 200 ms-hop
    frames with exact integer-sum mean amplitude and integer peak — the
    front end of every audio feature extractor.  Window sums come from ONE
    cumulative sum per clip; Arrow-batched mapInPandas
    (operators/multimodal.py::audio_windows)."""
    from .operators.multimodal import audio_windows, synth_media

    return audio_windows(synth_media(spark, 48))


def _image_ahash_oracle() -> str:
    from .operators.multimodal import image_ahash_pairs_sql

    return image_ahash_pairs_sql(n=288)


@_register("mm_image_ahash", oracle=_image_ahash_oracle)
def mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup via average-hash: stub decode -> 16 pooled
    band means -> mean-threshold bits packed JVM-side (higher-order
    ``transform``/``aggregate``, codegen) -> 4-band Hamming blocking ->
    exact ``bit_count(xor)`` verify.  Blocking is LOSSLESS at Hamming <= 3
    by pigeonhole, and the oracle checks ALL image pairs — so a blocking
    bug that loses a pair fails the hash, not just a verify bug
    (operators/multimodal.py::image_ahash_pairs)."""
    from .operators.multimodal import image_ahash_pairs, synth_media

    return image_ahash_pairs(synth_media(spark, 288))


def _zone_maps_oracle() -> str:
    from .operators.lakehouse import zone_maps_sql

    return zone_maps_sql()


@_register("rel_zone_maps", oracle=_zone_maps_oracle)
def rel_zone_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) audit: orderkey-range zones carry
    footer min/max ``l_shipdate`` stats; a date-range predicate classifies
    every zone skip / full / partial, with exact ``n_match`` quantifying
    false-scan cost — the read-side primitive whose write-side companion
    is ``rel_zorder_layout``.  ONE map-side-combined aggregate keyed by
    zone; output bounded by zone count
    (operators/lakehouse.py::zone_maps)."""
    from .operators.lakehouse import zone_maps

    return zone_maps(_t(spark, sf_dir, "lineitem"))


@_register(
    "rel_stream_upsert",
    oracle="""
    WITH corr AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
             value + 1000.0 AS value
      FROM events WHERE event_id % 5 = 0),
    u AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      UNION ALL SELECT * FROM corr),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_id ORDER BY ts DESC, value DESC) AS rn
      FROM u)
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM r WHERE rn = 1
    """,
)
def rel_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: foreachBatch IDEMPOTENT MERGE — the
    production exactly-once keyed sink: base feed, then a correction
    feed, then the SAME correction feed REPLAYED; the per-batch merge
    keeps max-(ts, value) per event_id, so the replay changes nothing
    and the final table equals the last-version-per-key SQL
    (streaming/jobs.py::stream_upsert)."""
    from .streaming.jobs import stream_upsert

    return stream_upsert(spark, sf_dir)


@_register(
    "rel_stream_static_join",
    oracle="""
    SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id, e.event_type,
           c.c_mktsegment AS segment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def rel_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: STREAM-STATIC JOIN — the streaming event
    feed enriched with the static customer dimension per micro-batch
    (broadcast, no state store), fed a deterministic 3-chunk file
    schedule under availableNow; the accumulated append sink is
    hash-checked against the batch equi-join
    (streaming/jobs.py::stream_static_enrich)."""
    from .streaming.jobs import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


@_register(
    "rel_stream_dedup",
    oracle="""
    SELECT DISTINCT event_id, epoch_us(ts) AS ts_us, user_id, event_type
    FROM events
    """,
)
def rel_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: watermarked STREAMING DEDUPLICATION —
    dropDuplicates on (event_id, ts) with the event-time column in the
    subset so seen-key state is EVICTED as the watermark advances, fed a
    file stream where every chunk arrives twice (at-least-once delivery);
    the accumulated append sink is hash-checked against SELECT DISTINCT
    over the same table (streaming/jobs.py::stream_dedup)."""
    from .streaming.jobs import stream_dedup

    return stream_dedup(spark, sf_dir)


@_register(
    "rel_watermark_late",
    # the watermark's late-data DROP, expressed in SQL: per-window counts
    # over the non-straggler rows only (the stragglers arrive after the
    # watermark passed their windows), restricted to windows closed by the
    # final watermark (max event time in FLOORED MILLISECONDS minus the
    # 12.5 h delay — Spark's event-time stats are ms-resolution)
    oracle="""
    WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
    b AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
    p AS (SELECT lo + ((hi - lo) * 3) // 5 AS strag_cut,
                 (hi // 1000 - 45000000) * 1000 AS wm FROM b)
    SELECT (us // 21600000000) * 21600000000 AS window_start_us,
           (us // 21600000000) * 21600000000 + 21600000000 AS window_end_us,
           COUNT(*) AS n_events
    FROM ev, p
    WHERE NOT (event_id % 17 = 0 AND us < p.strag_cut)
      AND (us // 21600000000) * 21600000000 + 21600000000 <= p.wm
    GROUP BY 1, 2
    """,
)
def rel_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence that the watermark DROPS late data: 6 h
    tumbling counts in append mode over a deterministic out-of-order
    schedule — early stragglers (event_id % 17 == 0 below the 60%-range
    cut) delivered after the global max timestamp.  The run itself asserts
    numRowsDroppedByWatermark == the distinct straggler-window count; the
    oracle replays the drop + append finalization + ms-floored watermark
    arithmetic in SQL (streaming/jobs.py::watermark_late_audit)."""
    from .streaming.jobs import watermark_late_audit

    return watermark_late_audit(spark, sf_dir)


def _type_rollup_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.ontology import type_rollup_sql

    return type_rollup_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_type_hierarchy_closure", oracle=_type_rollup_oracle)
def kg_type_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology rollup: mention counts aggregated up the type hierarchy
    (leaf code -> clinical category -> kind -> root; the taxonomy implicit
    in the reference's df2qasl.py priority bands made first-class).  The
    transitive closure is computed DIM-SIDE in plain Python (a hierarchy is
    a dimension — it never grows with the corpus) and broadcast; the fact
    stream is collapsed map-side to <=31 per-type rows BEFORE the join, so
    no iterative join ever touches the mention stream.  DuckDB twin proves
    the closure against WITH RECURSIVE (operators/ontology.py)."""
    from .operators.ontology import type_rollup

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return type_rollup(spark, m)


def _assortativity_oracle() -> str:
    from .operators.graphstats import degree_assortativity_sql
    from .operators.mention_sql import mentions_oracle_sql

    return degree_assortativity_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_assortativity", oracle=_assortativity_oracle)
def kg_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the entity co-occurrence graph — the
    hub-attachment statistic read next to kg_degree_distribution before
    the graph family runs at a new scale.  Exact BIGINT degree moments
    over the doubled adjacency, two hash equi-joins, ONE output row; the
    only float math is the final Pearson ratio, snapped to the shared
    half-away 1e-6 grid on both engines (operators/graphstats.py)."""
    from .operators.communities import entity_edges
    from .operators.graphstats import degree_assortativity

    edges = entity_edges(
        detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    )
    return degree_assortativity(edges)


def _readability_oracle() -> str:
    from .operators.textops import readability_sql

    return readability_sql()


@_register("ds_readability", oracle=_readability_oracle)
def ds_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease gate over the documents table: exact integer
    word / sentence-mark / vowel-group counts from codegen regex built-ins,
    one float formula snapped to the half-away 1e-3 grid, banded into
    reading-difficulty classes — a pure per-row projection (NO shuffle)
    composable with the other ds_* quality signals
    (operators/textops.py::readability)."""
    from .operators.textops import readability

    return readability(_t(spark, sf_dir, "documents"))


_UNPIVOT_MEASURES = ("quantity", "extendedprice", "discount", "tax")


@_register(
    "rel_unpivot",
    oracle="""
    WITH long AS (
      SELECT 'quantity' AS measure,
             ROUND(l_quantity * 100)::BIGINT AS cents FROM lineitem
      UNION ALL
      SELECT 'extendedprice', ROUND(l_extendedprice * 100)::BIGINT
      FROM lineitem
      UNION ALL
      SELECT 'discount', ROUND(l_discount * 100)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'tax', ROUND(l_tax * 100)::BIGINT FROM lineitem)
    SELECT measure,
           COUNT(*)::BIGINT AS n,
           SUM(cents)::BIGINT AS sum_cents,
           FLOOR((SUM(cents)::DOUBLE / COUNT(*)::DOUBLE) * 1e6 + 0.5) / 1e6
             AS avg_cents
    FROM long GROUP BY measure
    """,
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long UNPIVOT of the four lineitem measures via stack()
    (codegen generator, NO join/union re-scan: Spark reads the table ONCE
    and emits 4 rows per input row, vs the naive 4x UNION ALL re-scan the
    oracle spells out), then a map-side-combined per-measure profile in
    exact cents with one snapped division."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = ", ".join(
        f"'{m}', CAST(ROUND(l_{m} * 100) AS BIGINT)"
        for m in _UNPIVOT_MEASURES
    )
    long = li.selectExpr(
        f"stack({len(_UNPIVOT_MEASURES)}, {pairs}) AS (measure, cents)"
    )
    avg = (
        F.floor(
            (F.col("sum_cents").cast("double") / F.col("n").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select("measure", "n", "sum_cents", avg.alias("avg_cents"))
    )


def _golden_record_oracle() -> str:
    from .operators.mention_sql import minhash_dedup_oracle_sql
    from .operators.survivorship import golden_records_sql

    return golden_records_sql(minhash_dedup_oracle_sql(threshold=0.6))


@_register("ds_golden_record", oracle=_golden_record_oracle)
def ds_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship over the engine's OWN MinHash/LSH near-dup
    clusters: one merged golden row per cluster with per-field rules
    (canonical id = min, content = longest text with min-id tiebreak via
    the combinable min-of-struct vote, metadata = majority lang) — two
    map-side-combined groupBy passes, NO window/sort anywhere
    (operators/survivorship.py)."""
    from .operators.dedup import minhash_lsh_dedup
    from .operators.survivorship import golden_records

    docs = _t(spark, sf_dir, "documents")
    return golden_records(docs, minhash_lsh_dedup(docs, threshold=0.6))


def _concurrency_oracle() -> str:
    from .operators.sweepline import concurrency_profile_sql

    return concurrency_profile_sql()


@_register("rel_concurrency_profile", oracle=_concurrency_oracle)
def rel_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line max-concurrency per hour (each event holds a 5-minute
    session open) — the distributed TWO-PHASE PREFIX SUM instead of the
    naive single-task globally-ordered running sum: marks netted per
    (hour, t) map-side, intra-hour running sum partitioned by hour, and
    the cross-hour carry an exclusive prefix over the one-row-per-hour
    totals frame that does not grow with the corpus
    (operators/sweepline.py)."""
    from .operators.sweepline import concurrency_profile

    return concurrency_profile(_t(spark, sf_dir, "events"))


def _silhouette_oracle() -> str:
    from .operators.silhouette import silhouette_sql

    return silhouette_sql()


@_register("ds_silhouette", oracle=_silhouette_oracle)
def ds_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid) silhouette per label — the linear-time
    cluster-coherence gate for embedding-space curation: snapped per-dim
    centroid means (L×D groups at any scale), an n×L broadcast nested
    loop of deterministic JVM distance folds, and a per-label mean taken
    as an EXACT BIGINT sum of snapped micro-units so no float
    accumulation order reaches the output (operators/silhouette.py)."""
    from .operators.silhouette import silhouette_by_label

    return silhouette_by_label(_t(spark, sf_dir, "embeddings"))


def _incremental_dedup_oracle() -> str:
    from .operators.mention_sql import incremental_dedup_oracle_sql

    return incremental_dedup_oracle_sql(threshold=0.6)


@_register("ds_incremental_dedup", oracle=_incremental_dedup_oracle)
def ds_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: which batch documents (doc_id % 10 == 0) near-
    duplicate something ALREADY in the indexed corpus.  The candidate join
    is ASYMMETRIC — the small batch band frame is broadcast and PROBES the
    corpus band frame in place (the 100-TB corpus is never self-joined or
    re-shuffled, exactly like querying an LSH index); hot base buckets are
    capped (PAIR_CAP broadcast anti-join); exact Jaccard verifies every
    survivor; best match elected by (max jaccard, min base id)
    (operators/dedup.py::incremental_dedup)."""
    from .operators.dedup import incremental_dedup

    return incremental_dedup(_t(spark, sf_dir, "documents"), threshold=0.6)


def _entity_trend_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.trend import entity_trend_sql

    return entity_trend_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_entity_trend", oracle=_entity_trend_oracle)
def kg_entity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rising/falling entities across ingest batches: exact OLS slope of
    per-surface mention counts over 8 equal-width doc-id buckets — dense
    zero-filled grid via a broadcast cross join against the CONSTANT-size
    bucket dim, BIGINT moments map-side combined, ONE snapped division
    (operators/trend.py)."""
    from .operators.trend import entity_trend

    return entity_trend(detect_mentions(corpus(spark, sf_dir),
                                        num_partitions=8))


def _interval_join_oracle() -> str:
    from .operators.intervals import interval_join_sql

    return interval_join_sql()


@_register("rel_interval_join", oracle=_interval_join_oracle)
def rel_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (sessions × incident windows) — the
    theta join Catalyst can only nested-loop, rewritten as a banded hash
    join: both interval sets explode to the fixed-width time bands they
    cover, equi-join on the band, exact residual overlap predicate, and
    each pair survives exactly once via the first-shared-band condition
    (band == greatest(s_start, i_start) DIV W) — no distinct, no nested
    loop, shuffle volume tuned by W (operators/intervals.py)."""
    from .operators.intervals import interval_join

    return interval_join(_t(spark, sf_dir, "events"))


def _entity_intervals_oracle() -> str:
    from .operators.intervals import entity_intervals_sql
    from .operators.mention_sql import mentions_oracle_sql

    return entity_intervals_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_entity_intervals", oracle=_entity_intervals_oracle)
def kg_entity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-KG validity intervals: per mention surface, maximal runs
    of consecutive attested ingest buckets (gaps-and-islands on the
    kg_entity_trend doc-id time axis) — per-bucket counts map-side
    combined, the island window keyed by surface over <= N_BUCKETS rows
    per key (constant-bounded at any corpus size)
    (operators/intervals.py)."""
    from .operators.intervals import entity_intervals

    return entity_intervals(detect_mentions(corpus(spark, sf_dir),
                                            num_partitions=8))


def _jsonl_ingest_oracle() -> str:
    from .io.formats import jsonl_ingest_audit_sql

    return jsonl_ingest_audit_sql()


@_register("ds_jsonl_ingest", oracle=_jsonl_ingest_oracle)
def ds_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source with PERMISSIVE corrupt-record auditing: the corpus
    serialized to JSONL with every 10th line truncated (guaranteed-invalid
    JSON), read back with an EXPLICIT schema (no inference scan) so
    malformed lines land in _corrupt_record instead of failing the job;
    emits the per-language parse audit.  The oracle predicts the audit
    straight from the documents view — the round-trip-identity claim
    (io/formats.py::jsonl_ingest_audit)."""
    from .io.formats import jsonl_ingest_audit

    return jsonl_ingest_audit(_t(spark, sf_dir, "documents"))


def _orc_roundtrip_oracle() -> str:
    from .io.formats import orc_roundtrip_sql

    return orc_roundtrip_sql()


@_register("rel_orc_roundtrip", oracle=_orc_roundtrip_oracle)
def rel_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip: a lineitem projection written as ORC,
    read back, profiled in exact cents — Spark's second native columnar
    format behaves identically to parquet under the engine's integer-cents
    discipline (io/formats.py::orc_roundtrip)."""
    from .io.formats import orc_roundtrip

    return orc_roundtrip(_t(spark, sf_dir, "lineitem"))


def _skyline_oracle() -> str:
    from .operators.skyline import skyline_price_size_sql

    return skyline_price_size_sql()


@_register("rel_skyline", oracle=_skyline_oracle)
def rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 2-D skyline (Pareto frontier) on part: minimize
    price_cents, maximize p_size.  Engine = per-price max aggregate + the
    house two-phase banded prefix-MAX (no data-sized global window);
    oracle = the quadratic NOT-EXISTS dominance formulation, so both
    engines reach the frontier through independent algorithms
    (operators/skyline.py)."""
    from .operators.skyline import skyline_price_size

    return skyline_price_size(_t(spark, sf_dir, "part"))


def _weighted_reservoir_oracle() -> str:
    from .operators.sampling import weighted_reservoir_sql

    return weighted_reservoir_sql()


@_register("ds_weighted_reservoir", oracle=_weighted_reservoir_oracle)
def ds_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement: top-k
    docs per language ranked by u^(1/w) with w = token count and u the
    deterministic md5_60 hash mapped into (0,1] — length-weighted corpus
    subsampling with no RNG state.  Two-phase top-k (per-(stratum, salt)
    slice ranks with a WindowGroupLimit heap, then the bounded survivor
    frame takes the stratum-wide rank) so no stratum is ever fully sorted
    (operators/sampling.py::weighted_reservoir)."""
    from .operators.sampling import weighted_reservoir

    return weighted_reservoir(_t(spark, sf_dir, "documents"))


def _benford_oracle() -> str:
    from .operators.dataquality import benford_audit_sql

    return benford_audit_sql()


@_register("rel_benford_audit", oracle=_benford_oracle)
def rel_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order amounts — the
    fraud / synthetic-data screen: observed vs expected digit shares in
    integer basis points (the log10 expectations are pre-computed integer
    literals; no engine takes a log at query time).  One map-only digit
    projection + a 9-group aggregate + a broadcast one-row total
    (operators/dataquality.py::benford_audit)."""
    from .operators.dataquality import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"))


def _split_leakage_oracle() -> str:
    from .operators.dataquality import split_leakage_sql

    return split_leakage_sql()


@_register("ds_split_leakage", oracle=_split_leakage_oracle)
def ds_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: MinHash/LSH near-dup pairs that straddle
    the deterministic train/val/test split.  Because the split is a pure
    hash of the doc id, both fold labels are map-only expressions over
    the pairs frame — the corpus is never joined back, so the audit costs
    nothing beyond the pair generation it audits
    (operators/dataquality.py::split_leakage)."""
    from .operators.dataquality import split_leakage

    return split_leakage(_t(spark, sf_dir, "documents"))


def _ngram_novelty_oracle() -> str:
    from .operators.textops import ngram_novelty_sql

    return ngram_novelty_sql()


@_register("ds_ngram_novelty", oracle=_ngram_novelty_oracle)
def ds_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per equal-width doc-id ingest bucket, the
    basis-point share of its word-trigram vocabulary never seen in any
    earlier bucket — the diminishing-returns monitor for a growing
    corpus.  First-seen bucket per gram is a combinable MIN (map-side
    partials, never a window over the hot gram key)
    (operators/textops.py::ngram_novelty)."""
    from .operators.textops import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


def _cusum_oracle() -> str:
    from .operators.timeseries import cusum_changepoint_sql

    return cusum_changepoint_sql()


@_register("rel_cusum_changepoint", oracle=_cusum_oracle)
def rel_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over the daily event-volume series, integer-exact
    via the n-scaled statistic G_k = n*prefix_k - k*S (no float mean, no
    summation-order hazard); one map-side-combined daily aggregate, then
    every window runs on the one-row-per-day frame
    (operators/timeseries.py::cusum_changepoint)."""
    from .operators.timeseries import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


def _calibration_oracle() -> str:
    from .operators.crf_confidence_sql import crf_confidence_oracle_sql
    from .operators.metrics import confidence_calibration_sql

    return confidence_calibration_sql(
        crf_confidence_oracle_sql(CORPUS_SQL, max_seq_length=128),
        _gold_prelude() + "SELECT DISTINCT pid, type FROM gold",
    )


@_register("kg_calibration", oracle=_calibration_oracle)
def kg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the W4/W5 CRF path confidence: per
    1-log-unit confidence bin, the basis-point rate at which the doc
    really contains a gold mention of the queried type — the calibration
    evidence behind confidence-gated triage (operators/metrics.py::
    confidence_calibration)."""
    from .operators.crf_confidence import crf_confidence
    from .operators.gold import gold_mentions
    from .operators.metrics import confidence_calibration

    return confidence_calibration(
        crf_confidence(corpus(spark, sf_dir), num_partitions=8,
                       max_seq_length=128),
        gold_mentions(corpus(spark, sf_dir)),
    )


def _gram_oracle() -> str:
    from .operators.gram import embedding_gram_sql

    return embedding_gram_sql()


@_register("ds_embedding_gram", oracle=_gram_oracle)
def ds_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding corpus — the
    second-moment primitive behind covariance/PCA/whitening.  All work is
    map-side (one exact BLAS rank-k update per Arrow chunk on the shared
    micro-grid); the only exchange carries D(D+1)/2 = 2,080 rows per
    partition regardless of corpus size, and the result is driver-sized
    by construction (operators/gram.py::embedding_gram)."""
    from .operators.gram import embedding_gram

    return embedding_gram(_t(spark, sf_dir, "embeddings"))


def _chi2_oracle() -> str:
    from .operators.chisq import chi2_keywords_sql

    return chi2_keywords_sql()


@_register("ds_chi2_keywords", oracle=_chi2_oracle)
def ds_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term-language association: top-20 terms per language by
    document-presence dependence (supervised keyword / feature selection).
    One presence-dedup shuffle feeds everything; the per-term total is a
    window over the aggregated (lang, term) frame — <= n_langs rows per
    key; chi2 is rational in exact integer counts (no logs), evaluated as
    the identical double expression tree on both engines
    (operators/chisq.py::chi2_keywords)."""
    from .operators.chisq import chi2_keywords

    return chi2_keywords(_t(spark, sf_dir, "documents"))


def _k_anon_oracle() -> str:
    from .operators.privacy import k_anonymity_sql

    return k_anonymity_sql()


@_register("rel_k_anonymity", oracle=_k_anon_oracle)
def rel_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification audit: k-anonymity + l-diversity over the
    (nation, segment, balance-bucket) quasi-identifier classes, with the
    sensitive attribute drawn cross-table from order priorities.  Orders
    dedup to (custkey, priority) BEFORE any join; every post-dedup frame
    is bounded by |classes| x n_priorities and the class <- sensitive
    join broadcasts (operators/privacy.py::k_anonymity)."""
    from .operators.privacy import k_anonymity

    return k_anonymity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def _drift_oracle() -> str:
    from .operators.dataquality import distribution_drift_sql

    return distribution_drift_sql()


@_register("ds_distribution_drift", oracle=_drift_oracle)
def ds_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two hash folds of the corpus:
    doc-length histogram total-variation distance in integer basis points
    (the log-free PSI stand-in — exact on both engines).  Fold and bucket
    are map-only expressions; one map-side-combined aggregate; everything
    after runs on the <= 20-row bucket frame with totals broadcast
    (operators/dataquality.py::distribution_drift)."""
    from .operators.dataquality import distribution_drift

    return distribution_drift(_t(spark, sf_dir, "documents"))


def _ks_drift_oracle() -> str:
    from .operators.dataquality import ks_drift_sql

    return ks_drift_sql()


@_register("ds_ks_drift", oracle=_ks_drift_oracle)
def ds_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift between the doc-length
    distributions of two pure-hash corpus folds — the binless companion
    to ds_distribution_drift (a shift hiding inside one TVD bucket cannot
    hide from the sup-CDF gap).  One map-side-combined aggregate reduces
    the corpus to <= |length domain| rows; the cumulative window, argmax
    and totals all run on that aggregated frame
    (operators/dataquality.py::ks_drift)."""
    from .operators.dataquality import ks_drift

    return ks_drift(_t(spark, sf_dir, "documents"))


def _dsir_oracle() -> str:
    from .operators.dsir import dsir_select_sql

    return dsir_select_sql()


@_register("ds_dsir_select", oracle=_dsir_oracle)
def ds_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-targeted data selection via hashed-ngram importance weights
    (the DSIR recipe, log-free): per-bucket add-one likelihood-ratio
    scores between the target-language slice and the raw corpus, snapped
    to the 1e-6 grid BEFORE the per-doc sum so document weights are
    order-free integer sums; ranking by weight-per-token is a distributed
    top-K.  Bucket counts are one map-side-combined aggregate to <= 512
    rows; the score table broadcasts back onto the token stream
    (operators/dsir.py::dsir_select)."""
    from .operators.dsir import dsir_select

    return dsir_select(_t(spark, sf_dir, "documents"))


def _pca_power_oracle() -> str:
    from .operators.pca import pca_power_sql

    return pca_power_sql()


@_register("ds_pca_power", oracle=_pca_power_oracle)
def ds_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding Gram matrix by max-norm
    power iteration: the corpus reduces to the D x D Gram map-side
    (ds_embedding_gram), then every round is one equi-join + map-side
    SUM on frames bounded by D^2 rows at any corpus scale, re-snapped to
    the 1e-9 grid each round (the kmeans/pagerank discipline) so the
    unrolled-CTE twin agrees (operators/pca.py::pca_power)."""
    from .operators.pca import pca_power

    return pca_power(_t(spark, sf_dir, "embeddings"))


def _pca_outliers_oracle() -> str:
    from .operators.pca import pca_outliers_sql

    return pca_outliers_sql()


@_register("ds_pca_outliers", oracle=_pca_outliers_oracle)
def ds_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most extreme vectors along the corpus's dominant principal axis:
    the snapped eigenvector broadcasts onto the exploded embedding
    stream, the per-vector dot product is an order-free BIGINT sum of
    bounded micro-grid products (exact on both engines — no float
    discipline), and the ranking is a distributed TakeOrdered
    (operators/pca.py::pca_outliers)."""
    from .operators.pca import pca_outliers

    return pca_outliers(_t(spark, sf_dir, "embeddings"))


def _closeness_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.paths import harmonic_closeness_sql

    return harmonic_closeness_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_harmonic_closeness", oracle=_closeness_oracle)
def kg_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of the landmark hubs — the
    disconnected-graph-safe closeness variant, with the reciprocal
    DEFINED in integer micro units (1000000 DIV dist) so the sum is an
    order-free BIGINT fold over the bounded landmark-distance frame
    (operators/paths.py::harmonic_closeness)."""
    from .operators.communities import entity_edges
    from .operators.paths import harmonic_closeness

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return harmonic_closeness(entity_edges(m))


def _colstats_oracle() -> str:
    from .operators.colstats import column_stats_sql

    return column_stats_sql()


@_register("rel_column_stats", oracle=_colstats_oracle)
def rel_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-grade column statistics (exact NDV, nulls, native
    min/max, average rendered width) for the CBO / table-maintenance
    path: ONE single-pass aggregate computes every statistic for every
    audited column (count-distincts expand via Catalyst's standard
    two-phase plan), then the one-row result unpivots driver-sized; the
    average width is an exact overflow-safe integer micro division
    (operators/colstats.py::column_stats)."""
    from .operators.colstats import column_stats

    return column_stats(_t(spark, sf_dir, "lineitem"))


def _bootstrap_oracle() -> str:
    from .operators.bootstrap import bootstrap_ci_sql

    return bootstrap_ci_sql()


@_register("ds_bootstrap_ci", oracle=_bootstrap_oracle)
def ds_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer-weight bootstrap: a 95% confidence band for
    the corpus mean doc length from 32 hash-weighted replicas computed
    as 64 conditional-sum columns of ONE map-side-combined aggregate —
    no row amplification, one corpus scan, BIGINT end to end; the band
    is order statistics of the replica means
    (operators/bootstrap.py::bootstrap_ci)."""
    from .operators.bootstrap import bootstrap_ci

    return bootstrap_ci(_t(spark, sf_dir, "documents"))


def _sessionize_closed_oracle() -> str:
    from .streaming.sessionize import SESSIONIZE_SQL

    return f"""
    WITH sess AS ({SESSIONIZE_SQL}),
    marked AS (
      SELECT *, MAX(session_start) OVER (PARTITION BY user_id) AS mx
      FROM sess)
    SELECT user_id, session_start, session_end,
           n_events::BIGINT AS n_events, sum_value
    FROM marked WHERE session_start < mx
    """


@_register("rel_sessionize_stream", oracle=_sessionize_closed_oracle)
def rel_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STATEFUL streaming driver evidence: the
    applyInPandasWithState sessionizer run over a deterministic
    time-ordered micro-batch schedule (file source, maxFilesPerTrigger=1,
    availableNow); the closed sessions the state store emits are
    hash-checked against the batch sessionization SQL minus each user's
    final (still-open) session — proving the keyed-state operator itself,
    not a batch re-derivation, matches SQL semantics
    (streaming/jobs.py::sessionize_stream_closed)."""
    from .streaming.jobs import sessionize_stream_closed

    return sessionize_stream_closed(spark, sf_dir)


def _mreg_oracle() -> str:
    from .operators.regression import multiple_regression_sql

    return multiple_regression_sql()


@_register("rel_multiple_regression", oracle=_mreg_oracle)
def rel_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 2-feature OLS (price ~ quantity + discount per return
    flag) solved in closed form from ten exact BIGINT moments: one
    map-side-combined groupBy, then the centered normal equations as
    per-group Cramer column arithmetic — no iteration, no collect, no
    float accumulation anywhere (operators/regression.py)."""
    from .operators.regression import multiple_regression

    return multiple_regression(_t(spark, sf_dir, "lineitem"))


@_register(
    "rel_dynamic_pruning",
    oracle="""
    WITH by_day AS (
      SELECT CAST(ts AS DATE) AS event_date, COUNT(*)::BIGINT AS n_day
      FROM events GROUP BY 1),
    tot AS (
      SELECT SUM(n_day)::BIGINT AS total, COUNT(*)::BIGINT AS days
      FROM by_day),
    busy_days AS (
      SELECT event_date FROM by_day, tot
      WHERE n_day * days > total)
    SELECT event_type,
           COUNT(*)::BIGINT                                AS n,
           SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS cents
    FROM events
    WHERE CAST(ts AS DATE) IN (SELECT event_date FROM busy_days)
    GROUP BY event_type
    """,
)
def rel_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the other half of the pruning story
    (rel_partitioned_scan covers static pruning): the dim side is the
    set of busy days (volume strictly above the daily mean — exact
    integer inequality ``n_day*days > total``, non-empty at every SF), a DATA-DEPENDENT set no
    static filter can infer, so the only thing keeping the fact scan
    from reading all 30 day partitions is Catalyst's DPP subquery
    (dynamicpruningexpression in the scan's PartitionFilters,
    plan-asserted in test_plans.py — DPP requires a selective dim-side
    Filter, which this inequality supplies).  At 100 TB this is the
    difference between scanning the whole event log and scanning the
    handful of partitions a broadcast result chose at runtime."""
    ev = _t(spark, sf_dir, "events")
    path = f"{_PART_WAREHOUSE}/events_by_day_dpp"
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    by_day = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_day")
    )
    # one-row planning-time statistic (like AQE's size stats): folding the
    # threshold to a literal is what lets PartitionPruning see a selective
    # attribute-vs-literal Filter on the dim side (a Filter above a
    # cross-joined scalar frame does NOT trigger DPP — probed empirically)
    total, days = by_day.agg(F.sum("n_day"), F.count(F.lit(1))).first()
    dim = by_day.where(
        F.col("n_day") * F.lit(int(days)) > F.lit(int(total))
    ).select("event_date")
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )


def _snm_oracle() -> str:
    from .operators.sortedblocking import snm_pairs_sql

    return snm_pairs_sql()


@_register("ds_sorted_neighborhood", oracle=_snm_oracle)
def ds_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking (SIGMOD'95) over part-name
    surfaces: two cheap sorted passes (surface, reversed surface) pair
    each surface with its w=3 neighbors inside per-prefix partitioned
    Windows — candidates linear in the surface count by construction —
    then exact trigram-Jaccard verifies candidates only
    (operators/sortedblocking.py)."""
    from .operators.sortedblocking import snm_pairs

    return snm_pairs(_t(spark, sf_dir, "part"))


def _hll_rollup_oracle() -> str:
    from .operators.sketches import hll_rollup_sql

    return hll_rollup_sql()


@_register("ds_hll_rollup", oracle=_hll_rollup_oracle)
def ds_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch hierarchy rollup: the per-language HLL registers
    of ds_hll_distinct merged into a corpus-level sketch by register-wise
    MAX — the rollup never re-reads the token stream, which is why sketch
    dashboards are O(registers), not O(data), at 100 TB; exact distinct
    counts sit beside every estimate and pytest asserts the merged
    registers equal a direct build over the union
    (operators/sketches.py::hll_rollup)."""
    from .operators.sketches import hll_rollup

    return hll_rollup(_t(spark, sf_dir, "documents"))


def _audio_match_oracle() -> str:
    from .operators.multimodal import audio_match_pairs_sql

    return audio_match_pairs_sql(40)


@_register("mm_audio_match", oracle=_audio_match_oracle)
def mm_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark audio fingerprint matching (Shazam-style): window-peak
    landmarks hashed md5-60, inverted-index equi-join on the fingerprint
    with a hot-fingerprint df cap, offset-consistency grouping — catches
    the same stream re-tagged/re-truncated under different payload bytes,
    which exact payload-hash dedup (mm_payload_dedup) structurally
    misses (operators/multimodal.py::audio_match_pairs)."""
    from .operators.multimodal import audio_match_pairs, synth_media_streams

    return audio_match_pairs(synth_media_streams(spark, 40))


def _scurve_oracle() -> str:
    from .operators.dedup import lsh_scurve_sql

    return lsh_scurve_sql()


@_register("ds_lsh_scurve", oracle=_scurve_oracle)
def ds_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve audit: per exact-Jaccard decile, the empirical
    band-capture rate of the production MinHash banding next to the
    theoretical 1-(1-s^4)^4 at the bucket midpoint — ground truth and
    signatures over the SAME hot-capped shingle space, so a curve/theory
    mismatch means broken hashing, not sampling luck
    (operators/dedup.py::lsh_scurve)."""
    from .operators.dedup import lsh_scurve

    return lsh_scurve(_t(spark, sf_dir, "documents"))


def _ktruss_oracle() -> str:
    from .operators.communities import k_truss_sql
    from .operators.mention_sql import mentions_oracle_sql

    return k_truss_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_ktruss", oracle=_ktruss_oracle)
def kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the entity co-occurrence graph via 3 synchronous
    support-peeling rounds: an edge survives only while its endpoints
    share >= 2 common neighbors — the EDGE-level density bar (stronger
    than kg_kcore's degree bar) that peels loosely-attached spokes and
    keeps the triangle-reinforced relation backbone.  Per round one
    oriented triangle enumeration + one map-side support count + one
    semi-join peel (operators/communities.py::k_truss)."""
    from .operators.communities import entity_edges, k_truss

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return k_truss(entity_edges(m))


def _stress_oracle() -> str:
    from .operators.mention_sql import mentions_oracle_sql
    from .operators.paths import stress_centrality_sql

    return stress_centrality_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_stress_centrality", oracle=_stress_oracle)
def kg_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-pair stress centrality (Shimbel 1953) over the entity
    co-occurrence graph — the all-INTEGER sibling of betweenness
    (Brandes' float dependency sums are order-dependent; stress is a
    BIGINT product sum, bit-exact on any engine): per-entity count of
    landmark-pair geodesics through it, from a level-synchronous BFS
    that also counts shortest paths
    (operators/paths.py::stress_centrality)."""
    from .operators.communities import entity_edges
    from .operators.paths import stress_centrality

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return stress_centrality(entity_edges(m))


def _lineage_oracle() -> str:
    from .operators.mention_sql import _linking_ctes

    base = _linking_ctes(CORPUS_SQL) + """
    SELECT 'mentions' AS stage, 2::BIGINT AS n_commits, 8::BIGINT AS n_buckets,
           (SELECT COUNT(*) FROM m_spans)::BIGINT AS n_rows
    UNION ALL
    SELECT 'canon', 1::BIGINT, 8::BIGINT, (SELECT COUNT(*) FROM cmap)::BIGINT
    UNION ALL
    SELECT 'triples', 1::BIGINT, 8::BIGINT,
           (SELECT COUNT(*) FROM m_spans)::BIGINT
    """
    return base.replace("WITH corpus AS", "WITH RECURSIVE corpus AS", 1)


@_register("kg_checkpoint_lineage", oracle=_lineage_oracle)
def kg_checkpoint_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 lineage/metrics evidence through the driver (north rule:
    "checkpoint per-partition with full lineage + metrics"): run the
    checkpointed pipeline with a simulated crash after 3 of 8 mention
    buckets, resume, then emit the FINAL SNAPSHOT'S per-stage lineage
    ledger — commit count, committed buckets, row totals.  The oracle
    derives the expected row accounting from the SAME SQL chain that
    checks the data itself (kg_canonical_triples), so a green row proves
    the manifests' bookkeeping agrees with the data the driver already
    hash-checks: mentions committed across TWO commits (3-bucket partial
    + 5-bucket resume), canon and triples in one commit each."""
    import shutil
    import tempfile

    from .io.icetable import IceTable
    from .pipeline import run_pipeline

    root = tempfile.mkdtemp(prefix="kg_lineage_")
    try:
        try:
            run_pipeline(
                spark, sf_dir, root, n_buckets=8, fail_after={"mentions": 3}
            )
            raise AssertionError("simulated crash did not fire")
        except RuntimeError:
            pass
        run_pipeline(spark, sf_dir, root, n_buckets=8)
        lineage = IceTable(root).current_snapshot()["lineage"]
        agg: dict = {}
        for entry in lineage:
            st = agg.setdefault(
                entry["stage"], {"n_commits": 0, "n_buckets": 0, "n_rows": 0}
            )
            st["n_commits"] += 1
            st["n_buckets"] += len(entry["committed_buckets"])
            st["n_rows"] += entry["rows"]
        rows = [
            (stage, v["n_commits"], v["n_buckets"], v["n_rows"])
            for stage, v in agg.items()
        ]
        return spark.createDataFrame(
            rows, "stage string, n_commits long, n_buckets long, n_rows long"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _session_native_oracle() -> str:
    from .streaming.sessionize import SESSIONIZE_SQL

    return SESSIONIZE_SQL


@_register("rel_session_window_native", oracle=_session_native_oracle)
def rel_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window operator vs the window-function
    sessionization SQL: the native gap-merge aggregation (the operator
    Structured Streaming uses for streaming session aggs, here in batch
    mode) must reproduce the LAG/cumulative-flag twin row for row — the
    'use the built-in when Spark has one' evidence next to the
    applyInPandasWithState custom sessionizer (rel_sessionize /
    rel_sessionize_stream).  Boundary note: the built-in opens a new
    session at gap >= 30min vs the SQL's strict >; event timestamps are
    microsecond-continuous, so an exact-equality gap cannot occur in
    this data (same tie argument as the stateful twin)."""
    from .streaming.sessionize import GAP_MINUTES

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{GAP_MINUTES} minutes").alias("w"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events",
                "sum_value")
    )


@_register(
    "rel_incremental_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def rel_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (the delta-join algebra behind
    every streaming/CDC materialized join):
    ``V1 = V0 UNION (dO JOIN L0) UNION (O0 JOIN dL) UNION (dO JOIN dL)``
    — the engine maintains the view from the three DELTA terms and the
    result must equal a full recompute (the oracle's plain join).  At
    100 TB the deltas are micro-batch-sized, so every delta term is a
    BROADCAST probe into the big base side and V0 itself is never
    re-joined — incremental cost scales with the delta, not the view
    (rel_incremental_agg is the aggregation half of IVM; this is the
    join half).  Split membership is deterministic (orderkey mod), so
    the four quadrants partition the full join exactly."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o0 = o.where(F.col("o_orderkey") % 10 != 0)
    do_ = o.where(F.col("o_orderkey") % 10 == 0)
    l0 = li.where(F.col("l_orderkey") % 7 != 0)
    dl = li.where(F.col("l_orderkey") % 7 == 0)
    cond = F.col("l_orderkey") == F.col("o_orderkey")
    cols = [
        F.col("l_orderkey"), F.col("l_linenumber"), F.col("o_custkey"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    ]
    v0 = l0.join(o0, cond).select(*cols)
    t1 = l0.join(F.broadcast(do_), cond).select(*cols)
    t2 = dl.join(o0, cond).select(*cols)          # dl broadcast-sized too,
    t3 = dl.join(F.broadcast(do_), cond).select(*cols)  # AQE picks BHJ
    return v0.unionByName(t1).unionByName(t2).unionByName(t3)


@_register(
    "rel_schema_evolution",
    oracle="""
    SELECT lang,
           COUNT(*)::BIGINT                                   AS n_docs,
           SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                                                              AS n_with_chars,
           SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)::BIGINT
                                                              AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def rel_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg add-column schema evolution on the engine's snapshot
    table: half the corpus commits under schema v1 (doc_id, lang), the
    other half under v2 (+ n_chars); the evolved stage records the v2
    schema, and reading under it surfaces the new column with NULLs for
    pre-evolution files — NO old data file is rewritten, which is the
    property that makes adding a column to a 100-TB table a metadata
    operation (io/icetable.py::IceTable.read_stage)."""
    import shutil
    import tempfile

    from .io.icetable import IceTable

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="rel_schema_evo_")
    try:
        t = IceTable(root)
        t.write_stage(
            docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang"),
            "docs", bucket_key="doc_id", n_buckets=4,
        )
        t.write_stage(
            docs.where(F.col("doc_id") % 2 == 1)
            .select("doc_id", "lang", "n_chars"),
            "docs_v2", bucket_key="doc_id", n_buckets=4,
        )
        # one stage, two schema generations: the two manifests' files
        # under the evolved (v2) table schema
        snap = t.current_snapshot()
        merged_stage = dict(snap["stages"]["docs"])
        v2 = snap["stages"]["docs_v2"]
        merged_buckets = dict(merged_stage["buckets"])
        for b, meta in v2["buckets"].items():
            m = dict(merged_buckets.get(b, {"files": [], "rows": 0}))
            m["files"] = m["files"] + meta["files"]
            m["rows"] = m.get("rows", 0) + meta["rows"]
            merged_buckets[b] = m
        snap["stages"]["evolved"] = {
            **merged_stage, "buckets": merged_buckets, "schema": v2["schema"],
        }
        snap["seq"] += 1
        t._commit(snap)
        out = (
            t.read_stage(spark, "evolved")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("n_chars").alias("n_with_chars"),
                F.sum(F.coalesce("n_chars", F.lit(0))).alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "rel_mor_deletes",
    oracle="""
    SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
    FROM documents
    WHERE doc_id % 7 <> 0
    GROUP BY lang
    """,
)
def rel_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read EQUALITY DELETES on the engine's snapshot
    table: a GDPR-style erasure batch (doc_id % 7 = 0) commits as a small
    delete FILE in a new snapshot — no data file rewritten, O(delete) not
    O(table) — and the scan applies it as a broadcast anti-join; the
    pre-delete snapshot still time-travels to the full data
    (io/icetable.py::commit_equality_deletes / read_stage_mor).  pytest
    additionally asserts the time-travel read and that compaction later
    folds the deletes in."""
    import shutil
    import tempfile

    from .io.icetable import IceTable

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="rel_mor_del_")
    try:
        t = IceTable(root)
        t.write_stage(
            docs.select("doc_id", "lang", "n_chars"), "docs",
            bucket_key="doc_id", n_buckets=4,
        )
        t.commit_equality_deletes(
            spark, "docs", "doc_id",
            docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
        )
        return (
            t.read_stage_mor(spark, "docs")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _linkpred_auc_oracle() -> str:
    from .operators.linkpred import linkpred_auc_sql
    from .operators.mention_sql import mentions_oracle_sql

    return linkpred_auc_sql(mentions_oracle_sql(CORPUS_SQL))


@_register("kg_linkpred_auc", oracle=_linkpred_auc_oracle)
def kg_linkpred_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out AUC of the common-neighbor link scorer as an EXACT
    integer Mann-Whitney U: every 5th edge (pair-hash) is removed and
    re-predicted against a hash-uniform non-edge negative sample; the U
    statistic folds the two score HISTOGRAMS with integer products only
    — no float summation anywhere, auc_micro is one integer division
    (operators/linkpred.py::linkpred_auc)."""
    from .operators.communities import entity_edges
    from .operators.linkpred import linkpred_auc

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=8)
    return linkpred_auc(entity_edges(m))
