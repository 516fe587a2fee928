"""Entity linking: mentions -> (text, canonical_text, component, n_mentions).

Each surface form (distinct mention text) is linked to its near-duplicates:

  1. surface id: md5-60 of the text (``hashing.md5_60``): stable across
     runs and cluster sizes, and SQL-computable for the DuckDB twins;
  2. shingles: the distinct character 3-grams (NUL-padded below 3
     chars), each hashed with md5-60;
  3. MinHash: K=32 permutations (a*x + b) mod 2^31-1 of the shingle
     hashes (``universal_coeffs("lh", i)``), min per permutation;
  4. LSH: 16 bands of 2 minhashes, each packed into one BIGINT key;
  5. candidates: every id-ordered pair of a (band, key) bucket of at most
     PAIR_CAP members, only the chain of consecutive members in a larger
     one (the skew guard); a small-bucket pair needs MIN_BAND_HITS
     distinct bands, chain pairs are exempt;
  6. verify: exact Jaccard of the shingle-hash sets >= the threshold;
  7. components: each surface gets the min surface id of its component;
  8. election: the canonical text is the member with the most mentions,
     ties to the smaller text (a total order: partition-independent).

``canonicalize`` has two strategies with identical rows.  A bounded probe
collects at most T + 1 rows of the (text, n_mentions) frame to the driver,
T = ``ONE_PASS_MAX_SURFACES``:

* **one pass** (at most T rows): the driver runs steps 1-8 in NumPy over
  that frame (``_link_surfaces``): one hash per distinct shingle,
  array-at-a-time pair emission and band-hit counting, min-label
  propagation with pointer jumping; three Spark jobs in all;
* **distributed** (above T): ``surface_signatures`` (an Arrow UDF over
  the same ``_minhash`` kernel) -> ``candidate_pairs`` ->
  ``verified_edges`` -> ``connected_components`` -> a window election,
  about twenty Spark jobs.  It is the only path for inputs too large for
  one process; its operators also back ``blocking_stats``,
  ``band_filter_recall``, ``skew_guard_stats`` and ``dedup.py``.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_K = 32
# b=16, r=2: S-curve midpoint (1/b)^(1/r) ~= 0.25, well under the 0.5-0.8
# verify thresholds -> near-certain recall for true near-dups; the exact
# Jaccard verification join discards the extra low-similarity candidates
LSH_BANDS = 16
LSH_ROWS = 2  # MINHASH_K == LSH_BANDS * LSH_ROWS
SHINGLE_N = 3
PAIR_CAP = 64  # buckets beyond this emit chain pairs (skew guard)
# a candidate pair must collide in >= this many DISTINCT small-bucket
# bands (chain pairs are exempt: they carry connectivity, not evidence).
# r=2 lets J~0.03 background pairs through at p ~ 1e-2 each, O(n^2)
# spurious candidates (0.9M of 46k surfaces), all discarded by verify; a
# second band hit squares that noise (~200x fewer) while J=0.5 near-dups
# lose ~5%, which the components partly re-bridge (frequency-threshold
# multi-probe LSH)
MIN_BAND_HITS = 2
#: T: ``canonicalize`` links at most this many distinct surfaces in one
#: pass on the driver, more on the distributed path (measured in CHANGES.md)
ONE_PASS_MAX_SURFACES = 100_000
# Mersenne prime 2^31-1: a*x fits int64 AND the modulo wraps (a prime whose
# products cannot wrap would be order-preserving; see hashing.py)
from ..hashing import P31 as _P31
from ..hashing import md5_60, md5_60_expr, universal_coeffs


def _lh_coeffs(i: int) -> tuple:
    return universal_coeffs("lh", i)


_COEF = np.array([_lh_coeffs(i) for i in range(MINHASH_K)], dtype=np.int64)
_A, _B = _COEF[:, 0], _COEF[:, 1]
_SIG_CHUNK = 8192  # texts per min-reduce: bounds the gathered (rows, K) block


def shingles(text: str, n: int = SHINGLE_N) -> List[str]:
    t = text if len(text) >= n else text + "\x00" * (n - len(text))
    return list({t[i : i + n] for i in range(len(t) - n + 1)})


def _perm_matrix(x: np.ndarray) -> np.ndarray:
    """(n_shingles, K) permuted hashes: (a * (x mod P31) + b) mod P31 —
    fits int64, genuinely wraps, expressible verbatim in SQL."""
    x31 = (x % _P31)[:, None]
    return (_A[None, :] * x31 + _B[None, :]) % _P31


def _minhash(texts: List[str]):
    """The MinHash kernel of both strategies, over a batch of texts.

    Returns ``(sig, owner, hashes)``: the (len(texts), K) signatures and
    every text's sorted distinct shingle hashes, text ``i``'s being the
    run ``hashes[owner == i]`` (``owner`` is non-decreasing).  Each
    distinct shingle is hashed once; a signature is one min-reduce over
    rows of the per-distinct-shingle permutation matrix."""
    sh = [shingles(t) for t in texts]
    ids: dict = {}
    flat = np.fromiter((ids.setdefault(s, len(ids)) for r in sh for s in r), np.int64)
    lens = np.fromiter(map(len, sh), np.int64, len(sh))
    hashes = np.fromiter(map(md5_60, ids), np.int64, len(ids))
    perm, offs = _perm_matrix(hashes), np.concatenate(([0], np.cumsum(lens)))
    sig = np.empty((len(sh), MINHASH_K), np.int64)
    for a in range(0, len(sh), _SIG_CHUNK):
        b = min(a + _SIG_CHUNK, len(sh))
        sig[a:b] = np.minimum.reduceat(
            perm[flat[offs[a] : offs[b]]], offs[a:b] - offs[a], axis=0
        )
    owner, h = np.repeat(np.arange(len(sh)), lens), hashes[flat]
    o = np.lexsort((h, owner))
    owner, h = owner[o], h[o]
    keep = np.ones(len(h), bool)
    keep[1:] = (owner[1:] != owner[:-1]) | (h[1:] != h[:-1])
    return sig, owner[keep], h[keep]


_SIG_SCHEMA = (
    "surface_id long, text string, n_mentions long, sig array<long>, "
    "shingle_hashes array<long>"
)


def surface_signatures(mentions: DataFrame) -> DataFrame:
    """Distinct surfaces with frequency, MinHash signature, shingle set."""
    from ..pyfiles import ensure_shipped

    ensure_shipped(mentions.sparkSession)

    surfaces = (
        _surfaces(mentions)
        .withColumn("surface_id", md5_60_expr(F.col("text")))
        # explicit width: the frame is byte-small but CPU-heavy per byte,
        # and AQE would size-coalesce the groupBy output to 1-2 partitions,
        # serializing the whole stage; AQE respects an explicit repartition
        .repartition(
            2 * mentions.sparkSession.sparkContext.defaultParallelism,
            "surface_id",
        )
    )

    def add_sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sig, owner, h = _minhash(pdf["text"].tolist())
            bounds = np.searchsorted(owner, np.arange(len(pdf) + 1))
            yield pd.DataFrame(
                {
                    "surface_id": pdf["surface_id"],
                    "text": pdf["text"],
                    "n_mentions": pdf["n_mentions"],
                    "sig": sig.tolist(),
                    "shingle_hashes": [
                        h[a:b].tolist() for a, b in zip(bounds, bounds[1:])
                    ],
                }
            )

    return surfaces.mapInPandas(add_sig, _SIG_SCHEMA)


def _surfaces(mentions: DataFrame) -> DataFrame:
    """(text, n_mentions): the distinct surface forms and their counts."""
    return mentions.groupBy("text").agg(F.count(F.lit(1)).alias("n_mentions"))


def band_frame(sigs: DataFrame) -> DataFrame:
    """One row per (surface_id, band) with the band's identity, shared by
    pair emission and the blocking-stats audit.  The identity is the
    band's two minhashes PACKED into one BIGINT (``mh0 * 2^31 + mh1``):
    both are < 2^31 - 1, so it is collision-free and fits int64, keeps
    the band groupBy in codegen, and the SQL twins compute the same
    arithmetic.  r=2-specific: a third 31-bit value would overflow."""
    assert LSH_ROWS == 2, "packed band identity requires r=2"
    sig = F.col("sig")
    keys = [sig[b * LSH_ROWS] * F.lit(2_147_483_648) + sig[b * LSH_ROWS + 1]
            for b in range(LSH_BANDS)]
    return sigs.select(
        "surface_id", F.posexplode(F.array(*keys)).alias("band", "band_hash")
    )


def blocking_stats(sigs: DataFrame) -> DataFrame:
    """Per-band blocking audit, exactly LSH_BANDS rows: singleton/multi
    bucket counts, the largest bucket (predicts the verify fan-out), how
    many buckets tripped the PAIR_CAP chain guard, and the pairs emitted."""
    b = band_frame(sigs).groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    pair_cases = F.expr(
        f"CASE WHEN n <= 1 THEN 0 WHEN n <= {PAIR_CAP} "
        f"THEN (n * (n - 1)) div 2 ELSE n - 1 END"
    )
    return b.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_singleton_buckets"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_multi_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > PAIR_CAP, 1).otherwise(0)).alias("n_capped"),
        F.sum(pair_cases).alias("pairs_emitted"),
    )


#: duplication factor of the skew-guard row: an un-collapsed duplicate
#: stream would visibly distort every statistic, yet sf0.01 stays cheap
SKEW_GUARD_K = 16


def skew_guard_stats(mentions: DataFrame, k: int = SKEW_GUARD_K) -> DataFrame:
    """One-row guard stats of the distributed linking operators under
    ``k``-fold duplication (the driver-visible form of
    jobs/skew_stress.py): the mentions are replicated ``k`` x under
    distinct doc_ids with identical content, every surface a head key.

    The surface groupBy collapses duplication map-side, so every
    surface-level statistic must equal the base corpus's exactly and the
    mentions must be exactly k x base; the DuckDB twin computes the base
    values, so a hash match proves duplication never reaches a shuffle."""
    from ..cache import tracked_persist

    spark = mentions.sparkSession
    big = (
        mentions.crossJoin(
            F.broadcast(spark.range(k).select(F.col("id").alias("rep")))
        )
        # doc_id * k + rep: distinct for every non-negative doc_id
        .withColumn("doc_id", F.col("doc_id") * F.lit(k) + F.col("rep"))
        .drop("rep")
    )
    # sigs feeds five consumers (bucket stats, pairs, verify, CC, surface
    # totals) — persist or Catalyst re-runs the k-fold groupBy per branch
    sigs = tracked_persist(surface_signatures(big))
    bucket_stats = (
        band_frame(sigs)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_band_buckets"),
            F.max("n").alias("max_bucket_size"),
            F.sum(F.when(F.col("n") > PAIR_CAP, 1).otherwise(0)).alias("oversized_buckets"),
        )
    )
    pairs = tracked_persist(candidate_pairs(sigs))
    edges = tracked_persist(verified_edges(sigs, pairs, 0.5))
    comp_count = connected_components(sigs.select("surface_id"), edges).agg(
        F.countDistinct("component").alias("n_components")
    )
    surf_stats = sigs.agg(
        F.count(F.lit(1)).alias("n_surfaces"),
        F.sum("n_mentions").alias("n_mentions"),
    )
    pair_count = pairs.agg(F.count(F.lit(1)).alias("candidate_pairs"))
    edge_count = edges.agg(F.count(F.lit(1)).alias("verified_edges"))
    # every frame here is one row: the crossJoins are one-row merges
    return (
        surf_stats.withColumn("k", F.lit(k).cast("long"))
        .crossJoin(bucket_stats)
        .crossJoin(pair_count)
        .crossJoin(edge_count)
        .crossJoin(comp_count)
        .select(
            "k", "n_mentions", "n_surfaces", "n_band_buckets",
            "max_bucket_size", "oversized_buckets", "candidate_pairs",
            "verified_edges", "n_components",
        )
    )


def candidate_pairs(sigs: DataFrame, min_hits: int | None = None) -> DataFrame:
    """LSH buckets -> skew-capped pair emission -> band-hit filter: a pair
    survives if it collided in >= ``min_hits`` (default MIN_BAND_HITS)
    distinct small-bucket bands OR rode a capped bucket's chain.
    ``min_hits=1`` disables the filter (kg_band_filter_recall's baseline)."""
    if min_hits is None:
        min_hits = MIN_BAND_HITS
    bands = band_frame(sigs)
    grouped = bands.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_set("surface_id")).alias("members")
    ).where(F.size("members") > 1)

    # small buckets: all pairs; oversized ones: consecutive chain pairs.
    # ONE conditional expression consumes the band groupBy once (a
    # filter/union would re-run the shuffle per branch)
    chain_expr = F.zip_with(
        F.slice("members", 1, F.size("members") - 1),
        F.slice("members", 2, F.size("members") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b"), F.lit(1).alias("c")),
    )
    pair_expr = F.when(F.size("members") <= PAIR_CAP, _pairs_expr()).otherwise(
        chain_expr
    )
    # the (src, dst) groupBy dedups AND counts the small-bucket band votes
    return (
        grouped.select(F.explode(pair_expr).alias("pr"))
        .select(
            F.col("pr.a").alias("src"),
            F.col("pr.b").alias("dst"),
            F.col("pr.c").alias("chained"),
        )
        .groupBy("src", "dst")
        .agg(
            F.max("chained").alias("chained"),
            F.sum(F.lit(1) - F.col("chained")).alias("n_small"),
        )
        .where((F.col("chained") == 1) | (F.col("n_small") >= min_hits))
        .select("src", "dst")
    )


def _pairs_expr():
    # all i<j pairs from the sorted members array, as SQL higher-order fns
    # ('c' = 0: a small-bucket hit, counted toward MIN_BAND_HITS)
    return F.expr(
        """
        flatten(transform(members, (x, i) ->
          transform(slice(members, i + 2, size(members)), y ->
            named_struct('a', x, 'b', y, 'c', 0))))
        """
    )


def band_filter_recall(mentions: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Audit of the MIN_BAND_HITS filter against ``min_hits=1``: one row
    (n_cand_filtered, n_cand_all, n_edges_filtered, n_edges_all,
    edge_recall_micro).  Filtered edges are a subset of the unfiltered
    ones, so the recall is exact set containment, not an estimate."""
    from ..cache import tracked_persist

    sigs = tracked_persist(surface_signatures(mentions))
    filt = tracked_persist(candidate_pairs(sigs))
    allp = tracked_persist(candidate_pairs(sigs, min_hits=1))
    e_f = verified_edges(sigs, filt, threshold)
    e_a = verified_edges(sigs, allp, threshold)
    counts = (
        filt.agg(F.count(F.lit(1)).alias("n_cand_filtered"))
        .crossJoin(allp.agg(F.count(F.lit(1)).alias("n_cand_all")))
        .crossJoin(e_f.agg(F.count(F.lit(1)).alias("n_edges_filtered")))
        .crossJoin(e_a.agg(F.count(F.lit(1)).alias("n_edges_all")))
    )
    return counts.select(
        "n_cand_filtered", "n_cand_all", "n_edges_filtered", "n_edges_all",
        F.expr(
            "(1000000 * n_edges_filtered) DIV GREATEST(n_edges_all, 1)"
        ).alias("edge_recall_micro"),
    )


def verified_edges(sigs: DataFrame, pairs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over shingle-hash sets for candidate pairs (J2-style
    equi-joins; the shingle arrays ride along, no re-tokenization)."""
    # un-hinted: the filtered pair frame is usually the small side and AQE
    # broadcasts it, so the shingle arrays never shuffle; a huge pair
    # frame falls back to a shuffled join instead of OOMing a broadcast
    s = sigs.select("surface_id", "shingle_hashes")
    j = (
        pairs.join(s.withColumnRenamed("surface_id", "src").withColumnRenamed("shingle_hashes", "sh_a"), "src")
        .join(s.withColumnRenamed("surface_id", "dst").withColumnRenamed("shingle_hashes", "sh_b"), "dst")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 8,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components, strategy-selected by size:

    * **small graph** (<= ``small_graph_edges``): one shuffle into a
      single partition and ``_min_labels`` over the ids' dense indices
      in an Arrow UDF (row-order-independent, so deterministic);
    * **large graph**: iterative min-id propagation with pointer jumping
      (O(log diameter) rounds, localCheckpoint bounds lineage).

    vertices: (surface_id); edges: (src, dst) undirected.
    Returns (surface_id, component = min surface_id of the cluster).
    """
    # bounded probe: reads at most small_graph_edges + 1 rows
    probe = edges.limit(small_graph_edges + 1).count()
    if probe <= small_graph_edges:
        return _cc_single_pass(vertices, edges)
    return _cc_iterative(vertices, edges, max_iter)


def _min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Connected components of the undirected graph on dense indices
    ``0..n-1`` with edges (src, dst): each round hooks every edge's larger
    root onto its smaller one, then jumps pointers until every index
    points at a root.  Roots only ever hook onto smaller roots, so the
    fixed point labels every index with the min index of its component.
    Hooking roots rather than endpoints keeps the rounds few even on a
    long path with shuffled ids, where propagating the min label between
    endpoints needs rounds on the order of the path's length."""
    lab = np.arange(n)
    while True:
        ls, ld = lab[src], lab[dst]
        new, m = lab.copy(), np.minimum(ls, ld)
        np.minimum.at(new, ls, m)
        np.minimum.at(new, ld, m)
        jumped = new[new]
        while (jumped != new).any():
            new, jumped = jumped, jumped[jumped]
        if (new == lab).all():
            return lab
        lab = new


def _cc_single_pass(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    # vertices ride along as SELF-edges: both columns stay non-nullable
    # int64 (a nullable long reaches pandas as float64 and loses ids)
    combined = vertices.select(
        F.col("surface_id").alias("src"),
        F.col("surface_id").alias("dst"),
    ).unionByName(edges.select("src", "dst")).repartition(1)

    schema = StructType(
        [StructField("surface_id", LongType()), StructField("component", LongType())]
    )

    def components(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = list(batches)
        src, dst = (
            np.concatenate([np.empty(0, np.int64)]
                           + [p[c].to_numpy(np.int64) for p in pdfs])
            for c in ("src", "dst")
        )
        # dense indices in id order: the min index is the min surface id
        ids, idx = np.unique(np.r_[src, dst], return_inverse=True)
        lab = _min_labels(idx[: len(src)], idx[len(src):], len(ids))
        yield pd.DataFrame({"surface_id": ids, "component": ids[lab]})

    return combined.mapInPandas(components, schema)


def _cc_iterative(vertices: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    spark = vertices.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 2)
    bidir = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(p, "src")
        .persist()
    )
    labels = (
        vertices.select("surface_id", F.col("surface_id").alias("component"))
        .repartition(p, "surface_id")
        .localCheckpoint(eager=True)
    )

    for it in range(max_iter):
        neighbor_min = (
            bidir.join(labels, bidir.src == labels.surface_id, "inner")
            .groupBy(F.col("dst").alias("surface_id"))
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = labels.alias("l").join(neighbor_min, "surface_id", "left").select(
            "surface_id",
            F.least(
                F.col("component"), F.coalesce("n_comp", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component <- component's component (halves chain depth)
        ptr = stepped.select(
            F.col("surface_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        # lazy checkpoint: cuts lineage without an extra eager job a round
        new_labels = (
            stepped.join(ptr, stepped.component == ptr.p_id, "left")
            .select(
                "surface_id",
                F.coalesce("p_comp", F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # convergence probe every 2nd round: half the serial probe jobs for
        # at most one extra propagation round
        if it % 2 == 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "surface_id")
                .where(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    bidir.unpersist()
    return labels


def canonicalize(
    mentions: DataFrame,
    jaccard_threshold: float = 0.5,
    min_band_hits: int | None = None,
) -> DataFrame:
    """Full linking stage: mentions -> (text, canonical_text, component,
    n_mentions), on the one-pass or the distributed strategy (module
    docstring); both give the same rows.

    ``min_band_hits`` is the per-job dial on the MIN_BAND_HITS filter
    (default 2).  The filter trades ~3-5% of border edges (96.7% edge
    recall on sf0.01, ~95% on a border-heavy adversarial corpus; see
    kg_band_filter_recall) for an order of magnitude fewer candidates;
    pass 1 when a job values recall over throughput."""
    # bounded probe: at most T + 1 surface rows reach the driver
    surf = _surfaces(mentions).limit(ONE_PASS_MAX_SURFACES + 1).toPandas()
    if len(surf) <= ONE_PASS_MAX_SURFACES:
        hits = MIN_BAND_HITS if min_band_hits is None else min_band_hits
        out = _link_surfaces(surf, jaccard_threshold, hits)
        # one partition: each canon bucket is committed as one file
        return mentions.sparkSession.createDataFrame(out, _CANON_SCHEMA).coalesce(1)
    # persist the multi-consumer frames, or the groupBy re-runs per consumer
    from ..cache import tracked_persist

    sigs = tracked_persist(surface_signatures(mentions))
    pairs = candidate_pairs(sigs, min_hits=min_band_hits)
    edges = tracked_persist(verified_edges(sigs, pairs, jaccard_threshold))
    # CC over the edge endpoints only: the left join below gives every
    # unlinked surface its own id
    endpoints = (
        edges.select(F.col("src").alias("surface_id"))
        .unionByName(edges.select(F.col("dst").alias("surface_id")))
        .distinct()
    )
    comps = connected_components(endpoints, edges)

    # labeled feeds the election window AND the final join
    labeled = tracked_persist(
        sigs.select("surface_id", "text", "n_mentions").join(
            comps, "surface_id", "left"
        ).withColumn("component", F.coalesce("component", F.col("surface_id")))
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(F.desc("n_mentions"), F.asc("text"))
    canon = (
        labeled.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(F.col("component"), F.col("text").alias("canonical_text"))
    )
    return labeled.join(canon, "component").select(
        "text", "canonical_text", "component", "n_mentions"
    )


_CANON_SCHEMA = "text string, canonical_text string, component long, n_mentions long"


def _runs(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The concatenated ranges ``arange(s, s + l)`` over (starts, lens)."""
    return np.repeat(starts - np.cumsum(lens) + lens, lens) + np.arange(lens.sum())


def _link_surfaces(pdf: pd.DataFrame, threshold: float, min_hits: int) -> pd.DataFrame:
    """Steps 1-8 of the module docstring in NumPy over a (text, n_mentions)
    frame.  Surfaces get dense indices in surface-id order, so a smaller
    index is a smaller id throughout: sorted bucket members, src < dst
    and the min-index component root all match the distributed path."""
    if not len(pdf):
        return pd.DataFrame(columns=["text", "canonical_text", "component", "n_mentions"])
    ids = np.fromiter(map(md5_60, pdf["text"]), np.int64, len(pdf))
    o = np.argsort(ids, kind="stable")
    ids, n = ids[o], len(ids)
    texts = pdf["text"].to_numpy(object)[o]
    nm = pdf["n_mentions"].to_numpy(np.int64)[o]
    sig, owner, h = _minhash(texts.tolist())

    # bands -> buckets: per band a stable sort of the packed keys puts
    # each bucket's members in one run, in index order; pairs pack as i*n+j
    keys = sig[:, 0::LSH_ROWS] * 2_147_483_648 + sig[:, 1::LSH_ROWS]
    small, chain = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for band in range(LSH_BANDS):
        order = np.argsort(keys[:, band], kind="stable")
        k = keys[order, band]
        starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
        sizes = np.diff(np.r_[starts, n])
        for s in np.unique(sizes[sizes > 1]):
            st = starts[sizes == s][:, None]
            if s <= PAIR_CAP:
                a, b = np.triu_indices(s, 1)
                small.append((order[st + a] * n + order[st + b]).ravel())
            else:
                a = np.arange(s - 1)
                chain.append((order[st + a] * n + order[st + a + 1]).ravel())
    hit, n_hits = np.unique(np.concatenate(small), return_counts=True)
    cand = np.union1d(hit[n_hits >= min_hits], np.concatenate(chain))
    src, dst = cand // n, cand % n

    # exact Jaccard over (pair, shingle) rows: a shingle both sides share
    # is the one duplicated row of its pair
    start = np.searchsorted(owner, np.arange(n + 1))
    size = np.diff(start)
    hid = np.unique(h, return_inverse=True)[1].astype(np.int64)
    p = np.arange(len(cand))
    pair = np.r_[np.repeat(p, size[src]), np.repeat(p, size[dst])]
    rows = np.r_[_runs(start[src], size[src]), _runs(start[dst], size[dst])]
    key = np.sort(pair * (len(h) + 1) + hid[rows])
    dup = key[1:][key[1:] == key[:-1]] // (len(h) + 1)
    inter = np.bincount(dup, minlength=len(cand))
    linked = inter / (size[src] + size[dst] - inter) >= threshold
    src, dst = src[linked], dst[linked]

    # components (step 7): each surface gets its component's min index
    lab = _min_labels(src, dst, n)

    # election: the first row of each component under (component,
    # -n_mentions, text)
    rank = np.empty(n, np.int64)
    rank[np.argsort(texts, kind="stable")] = np.arange(n)
    o = np.lexsort((rank, -nm, lab))
    first = o[np.r_[True, lab[o][1:] != lab[o][:-1]]]
    canon = np.empty(n, np.int64)
    canon[lab[first]] = first
    return pd.DataFrame({"text": texts, "canonical_text": texts[canon[lab]],
                         "component": ids[lab], "n_mentions": nm})


def canonical_triples(mentions: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Graph materialization: (doc:<id>, hasEntityType:<type>, canonical)."""
    m = mentions.join(canon_map.select("text", "canonical_text"), "text", "left")
    return m.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("hasEntityType:"), F.col("type")).alias("pred"),
        F.coalesce("canonical_text", "text").alias("obj"),
        "doc_id", "repo", "content_sha", "type", "start_pos", "end_pos",
        F.col("text").alias("surface"),
    )
