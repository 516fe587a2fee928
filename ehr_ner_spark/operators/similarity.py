"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: broadcast the (small) query set,
  JVM-side dot product via zip_with/aggregate (no Python in the hot path),
  per-query window top-k.  The baseline the ANN path is measured against.
* lsh_ann_topk     — random-hyperplane sign-LSH bucketing: queries only score
  candidates sharing a bucket (multi-probe via several independent tables),
  then exact rerank.  The 100-TB path: candidate generation is a bucket
  equi-join instead of a full cross product.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_DIM = 64
# The driver's synthetic embeddings are isotropic (top-5 neighbor cosine
# ~0.32, i.e. theta/pi ~ 0.39 — LSH's worst case).  5 planes x 12 tables
# gives ~0.64 expected recall@5 there with ~2.7x candidate pruning; on real
# clustered embeddings the same table count yields far higher recall, and
# bucket width should scale with corpus size via n_planes.
_N_PLANES = 5
_N_TABLES = 12
_rng = np.random.RandomState(777)
_PLANES = [_rng.standard_normal((_N_PLANES, _DIM)) for _ in range(_N_TABLES)]


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (excluding self).
    Output: (query_id, rank, vec_id, score)."""
    q = embeddings.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    joined = embeddings.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id", "vec_id", _cosine(F.col("q_emb"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cos", 3).alias("score"))
    )


def round_half_away_3(x: np.ndarray) -> np.ndarray:
    """Shared engine/oracle rounding: 3 decimals, half away from zero for
    the positive scores that can pass a positive threshold.  The DuckDB twin
    is literally ``FLOOR(x * 1000 + 0.5) / 1000`` — the SAME function on
    both sides, unlike np.round (half-to-even) vs SQL ROUND (half-away),
    which genuinely disagree at .0005 boundaries."""
    return np.floor(x * 1000.0 + 0.5) / 1000.0


ROUND_HALF_AWAY_3_SQL = "FLOOR(({x}) * 1000 + 0.5) / 1000"


def embedding_neardup(
    embeddings: DataFrame, threshold: float = 0.4,
    id_col: str = "vec_id", emb_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (src, dst, score) with src < dst and
    rounded cosine >= threshold.  Exact all-pairs, FULLY DISTRIBUTED — no
    driver-side collect anywhere in the plan.

    Block-pair decomposition (the classic distributed nested-loop): every
    vector lands in block ``b = xxhash64(id) mod B``; each of the
    B*(B+1)/2 unordered block pairs (bi <= bj) is one task, and a vector in
    block k is map-side replicated to exactly the B tasks containing k (an
    ``explode`` — shuffle volume n*B rows).  Each task gathers its two
    blocks via ``applyInPandas`` and computes the cross-block cosine matrix
    as ONE float64 BLAS matmul, emitting each unordered pair exactly once.
    O(n^2) work is inherent to the exact operator, but it is spread over
    B*(B+1)/2 independent tasks with (n/B)-row operands — size ``n_blocks``
    so a block fits executor memory (B grows with sqrt(n); no single node
    ever sees the whole table, unlike a broadcast/collect design).  At
    corpus scale, when approximate recall suffices, block with
    :func:`lsh_buckets` instead and verify only bucket-colliding pairs.

    Zero-norm embeddings are guarded explicitly: their unit vector is the
    zero vector, so every cosine involving them is 0.0 and (for a positive
    threshold) they are excluded — no NaN rows, matching the oracle where
    NaN fails the >= comparison."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..pyfiles import ensure_shipped

    spark = embeddings.sparkSession
    ensure_shipped(spark)
    schema = StructType(
        [
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("score", DoubleType()),
        ]
    )
    B = int(n_blocks)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).cast("int"))
    replicated = e.withColumn(
        "task",
        F.explode(
            F.expr(
                f"transform(sequence(0, {B - 1}),"
                " j -> struct(least(blk, j) AS bi, greatest(blk, j) AS bj))"
            )
        ),
    ).select(F.col("task.bi").alias("bi"), F.col("task.bj").alias("bj"),
             "vec_id", "embedding", "blk")

    def _unit(mat: np.ndarray) -> np.ndarray:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero-norm guard: unit stays all-zero
        return mat / norms

    def pairs_of_task(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"src": [], "dst": [], "score": []}
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        if bi == bj:
            U = _unit(mat)
            cos = round_half_away_3(U @ U.T)
            mask = (ids[:, None] < ids[None, :]) & (cos >= threshold)
            r, c = np.nonzero(mask)
            a_ids, b_ids, sc = ids[r], ids[c], cos[r, c]
        else:
            ka = pdf["blk"].to_numpy() == bi
            Ua, Ub = _unit(mat[ka]), _unit(mat[~ka])
            ia, ib = ids[ka], ids[~ka]
            cos = round_half_away_3(Ua @ Ub.T)
            r, c = np.nonzero(cos >= threshold)
            a_ids, b_ids, sc = ia[r], ib[c], cos[r, c]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return pd.DataFrame({"src": lo, "dst": hi, "score": sc})

    return replicated.groupBy("bi", "bj").applyInPandas(pairs_of_task, schema)


_PLANES_MAT = np.concatenate(_PLANES, axis=0)  # (T * P, DIM)


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding, table, bucket) — multi-table sign-LSH index.

    All T x P hyperplane dot products per vector are ONE numpy matmul inside
    an Arrow-batched UDF (the expression-tree equivalent is 60 nested
    ``aggregate``/``zip_with`` calls per row — codegen chokes on it; batched
    BLAS is the right tool for dense linear algebra, exactly like the
    scorer)."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..pyfiles import ensure_shipped

    ensure_shipped(embeddings.sparkSession)
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("table", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )
    weights = 1 << np.arange(_N_PLANES, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (B, D)
            bits = (E @ _PLANES_MAT.T) >= 0  # (B, T*P)
            buckets = (
                bits.reshape(len(pdf), _N_TABLES, _N_PLANES) * weights
            ).sum(axis=2).astype(np.int32)  # (B, T)
            b = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), _N_TABLES),
                    "embedding": [
                        e for e in pdf["embedding"].to_numpy()
                        for _ in range(_N_TABLES)
                    ],
                    "table": np.tile(np.arange(_N_TABLES, dtype=np.int32), b),
                    "bucket": buckets.reshape(-1),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(run, schema)


IVF_CENTROID_STRIDE = 25  # every 25th vec_id seeds a coarse cell
IVF_NPROBE = 4


def ivf_assign(
    embeddings: DataFrame,
    centroid_stride: int = IVF_CENTROID_STRIDE,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) — IVF coarse quantization, built-ins only.

    Centroids are the vectors whose id is a multiple of ``centroid_stride``
    (deterministic + SQL-expressible; a trained k-means would drop in the
    same way — the index structure, not the centroid fitting, is the
    operator).  Assignment = argmax cosine over the broadcast centroid set
    (ties -> min centroid id), i.e. a map-side broadcast nested loop + one
    window rank: no shuffle of the big side beyond the rank's cell
    partitioning.  At corpus scale the assigned table is written partitioned
    BY cell, so a probe touches only nprobe directories."""
    cents = embeddings.where(
        F.col("vec_id") % centroid_stride == 0
    ).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    scored = embeddings.crossJoin(F.broadcast(cents)).select(
        "vec_id", "embedding", "cent_id",
        _cosine(F.col("embedding"), F.col("c_emb")).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )
    return cents, assigned


def ivf_ann_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5,
    centroid_stride: int = IVF_CENTROID_STRIDE, nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    coarse cells and scores only the vectors assigned there — the inverted-
    file counterpart of :func:`lsh_ann_topk` (candidate generation is a
    cell equi-join instead of an all-pairs scan).
    Output: (query_id, rank, vec_id, score)."""
    cents, assigned = ivf_assign(embeddings, centroid_stride)
    q = embeddings.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qscored = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "q_emb", "cent_id",
        _cosine(F.col("q_emb"), F.col("c_emb")).alias("c_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    probes = (
        qscored.withColumn("prk", F.row_number().over(wq))
        .where(F.col("prk") <= nprobe)
        .select("query_id", "q_emb", F.col("cent_id").alias("cell"))
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "vec_id", "embedding")
    )
    scored = cand.select(
        "query_id", "vec_id",
        _cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cos", 3).alias("score"))
    )


def lsh_ann_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing any (table, bucket)
    with the query; exact cosine rerank on candidates only."""
    idx = lsh_buckets(embeddings)
    # bucket the tiny query set separately (pushdown: only |Q| vectors run
    # through the UDF) instead of filtering the full index twice
    q = lsh_buckets(embeddings.where(F.col("vec_id").isin(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "table", "bucket",
    )
    cand = (
        idx.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id", "vec_id", _cosine(F.col("q_emb"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cos", 3).alias("score"))
    )


SEMDEDUP_THRESHOLD = 0.4


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    centroid_stride: int = IVF_CENTROID_STRIDE,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster-then-compare over the embedding table.

    1. coarse cells via :func:`ivf_assign` (deterministic centroids,
       broadcast argmax assignment — the k-means stand-in);
    2. candidate pairs = WITHIN-CELL self-join with snapped cosine >=
       ``threshold`` (the whole point of the method: the quadratic
       comparison is bounded per cell, never corpus-wide — cross-cell
       near-dups are out of scope by design, exactly as in the paper);
    3. connected components over the pair graph (strategy-selected:
       Arrow min-root hooking small, pointer jumping large) — a duplicate
       GROUP, not just pairs;
    4. representative = min vec_id per cluster (``keep`` flag).

    Cosines snap to the 1e-3 grid (floor(x*1000+0.5)/1000) before the
    threshold test on BOTH engines, same as ds_embedding_neardup.
    Output: (vec_id, cluster_id, n_members, keep) — one row per vector;
    singletons are their own cluster.
    """
    from .linking import connected_components

    from ..cache import tracked_persist

    _, assigned = ivf_assign(embeddings, centroid_stride)
    assigned = tracked_persist(assigned)
    a, b = assigned.alias("a"), assigned.alias("b")
    snapped = F.floor(
        _cosine(F.col("a.embedding"), F.col("b.embedding")) * F.lit(1000.0)
        + F.lit(0.5)
    ) / F.lit(1000.0)
    pairs = (
        a.join(b, "cell")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .where(snapped >= threshold)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )
    verts = assigned.select(F.col("vec_id").alias("surface_id"))
    # comp feeds both the output rows and the cluster-size aggregation —
    # persist or the CC stage executes twice
    comp = tracked_persist(connected_components(verts, pairs))
    clustered = comp.select(
        F.col("surface_id").alias("vec_id"),
        F.col("component").alias("cluster_id"),
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return clustered.join(sizes, "cluster_id").select(
        "vec_id", "cluster_id", "n_members",
        (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
    )


def semantic_dedup_sql(
    threshold: float = SEMDEDUP_THRESHOLD,
    centroid_stride: int = IVF_CENTROID_STRIDE,
) -> str:
    """DuckDB twin of :func:`semantic_dedup`: same deterministic cells,
    same snapped within-cell pairs, min-reachable-id components via a
    recursive CTE."""
    return f"""
    WITH RECURSIVE cents AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS c_emb
      FROM embeddings WHERE vec_id % {centroid_stride} = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ass AS MATERIALIZED (
      SELECT vec_id, emb, cent_id AS cell FROM (
        SELECT e.vec_id, e.emb, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.emb, c.c_emb) DESC,
                           c.cent_id) AS crk
        FROM e CROSS JOIN cents c) WHERE crk = 1),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM ass a JOIN ass b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE FLOOR(list_cosine_similarity(a.emb, b.emb) * 1000.0 + 0.5)
            / 1000.0 >= {threshold}),
    ebi AS MATERIALIZED (
      SELECT src, dst FROM pairs
      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    reach(node, comp) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT eb.dst, r.comp FROM reach r JOIN ebi eb ON eb.src = r.node),
    comps AS (
      SELECT node AS vec_id, MIN(comp) AS cluster_id FROM reach GROUP BY node),
    sizes AS (
      SELECT cluster_id, COUNT(*)::BIGINT AS n_members
      FROM comps GROUP BY cluster_id)
    SELECT c.vec_id, c.cluster_id, s.n_members,
           (c.vec_id = c.cluster_id) AS keep
    FROM comps c JOIN sizes s USING (cluster_id)
    """


# ---------------------------------------------------------------------------
# Deterministic random projection (Johnson-Lindenstrauss sign sketch)
# ---------------------------------------------------------------------------

RP_OUT_DIM = 16


def _rp_sign(j: int, i: int) -> int:
    """The shared +-1 projection matrix entry: parity of md5_60('rp:j:i').
    Achlioptas (2001) sign matrices satisfy the JL lemma; deriving them
    from the engine's md5 discipline makes the matrix a pure function of
    (j, i) — no RNG state, identical on every worker, every engine, every
    rerun."""
    from ..hashing import md5_60

    return 1 if md5_60(f"rp:{j}:{i}") % 2 == 0 else -1


def random_projection(
    embeddings: DataFrame, out_dim: int = RP_OUT_DIM, in_dim: int = _DIM,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Project dim-``in_dim`` float vectors to dim-``out_dim`` with the
    deterministic sign matrix — the JL dimensionality-reduction stage that
    cuts ANN/dedup cost 4x at 100 TB.  Pure map-side codegen projection:
    zero shuffle, zero Python; each output coordinate is a fixed +-chain
    of casts, so the fold order is literal in the plan and the DuckDB twin
    (the identical textual chain) is BIT-exact."""
    def coord(j: int):
        acc = None
        for i in range(in_dim):
            x = F.col(emb_col)[i].cast("double")
            if acc is None:
                acc = x if _rp_sign(j, i) > 0 else -x
            else:
                acc = (acc + x) if _rp_sign(j, i) > 0 else (acc - x)
        return acc

    return embeddings.select(
        id_col,
        "label",
        F.array(*[coord(j) for j in range(out_dim)]).alias("proj"),
    )


def random_projection_sql(
    out_dim: int = RP_OUT_DIM, in_dim: int = _DIM,
    table: str = "embeddings", id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`random_projection` — the same literal
    +-chain per coordinate (left-associative adds in the same order)."""
    coords = []
    for j in range(out_dim):
        terms = []
        for i in range(in_dim):
            op = "+" if _rp_sign(j, i) > 0 else "-"
            e = f"{emb_col}[{i + 1}]::DOUBLE"
            terms.append(e if not terms and op == "+"
                         else (f"-{e}" if not terms else f" {op} {e}"))
        coords.append("".join(terms))
    arr = ",\n             ".join(coords)
    return f"""
    SELECT {id_col}, label,
           [{arr}] AS proj
    FROM {table}
    """


# ---------------------------------------------------------------------------
# kNN label-vote accuracy (embedding-quality eval)
# ---------------------------------------------------------------------------

KNN_QUERY_IDS = list(range(50))
KNN_K = 5


def knn_accuracy(
    embeddings: DataFrame, query_ids: list[int] | None = None, k: int = KNN_K
) -> DataFrame:
    """Embedding-quality benchmark: each query vector's label is predicted
    by majority vote of its k exact-cosine neighbors (self excluded); the
    output is per-true-label (label, n, n_correct, acc).

    Vote-winner selection is a combinable MIN over (-votes, label)
    structs — no per-query window, so the reduction combines map-side at
    any scale (the LPA winner discipline); the only doubles are the
    neighbor cosines already proven rank-stable in ds_cosine_topk and one
    snapped division at the end."""
    ids = KNN_QUERY_IDS if query_ids is None else query_ids
    nbrs = brute_force_topk(embeddings, ids, k=k)
    lbl = embeddings.select("vec_id", "label")
    votes = (
        nbrs.join(lbl, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(F.min(F.struct((-F.col("votes")).alias("nv"),
                            F.col("label").alias("label"))).alias("w"))
        .select("query_id", F.col("w.label").alias("pred"))
    )
    truth = lbl.withColumnRenamed("vec_id", "query_id")
    return (
        pred.join(truth, "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("pred") == F.col("label")).cast("long")).alias("n_correct"),
        )
        .select(
            "label", "n", "n_correct",
            (F.floor(F.col("n_correct") / F.col("n") * 1e6 + F.lit(0.5)) / 1e6)
            .alias("acc"),
        )
    )


def knn_accuracy_sql(
    query_ids: list[int] | None = None, k: int = KNN_K,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_accuracy` (same neighbor ranking as the
    ds_cosine_topk twin, same struct-min vote tie-break: most votes, then
    smallest label)."""
    ids = KNN_QUERY_IDS if query_ids is None else query_ids
    idlist = ", ".join(map(str, ids))
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb FROM {table}
      WHERE vec_id IN ({idlist})),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.q_emb AS DOUBLE[])) DESC,
               vec_id) AS rank
      FROM {table} e, q WHERE e.vec_id <> q.query_id),
    votes AS (
      SELECT r.query_id, l.label, COUNT(*) AS votes
      FROM ranked r JOIN {table} l ON l.vec_id = r.vec_id
      WHERE r.rank <= {k} GROUP BY 1, 2),
    pred AS (
      SELECT query_id, label AS pred FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, label) AS vrk
        FROM votes) WHERE vrk = 1)
    SELECT t.label, COUNT(*)::BIGINT AS n,
           SUM((p.pred = t.label)::BIGINT)::BIGINT AS n_correct,
           FLOOR(SUM((p.pred = t.label)::BIGINT)::DOUBLE / COUNT(*)::DOUBLE
                 * 1000000 + 0.5) / 1000000 AS acc
    FROM pred p JOIN {table} t ON t.vec_id = p.query_id
    GROUP BY t.label
    """
