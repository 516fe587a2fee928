"""Entity linking + LSH canonicalization (north-rule stages on top of the
reference's mention stream).

Reference analogs (SURVEY.md §2.10): exact-dup merge = D1
(dataAugmentator.py:59-69); cross-source conflict resolution = D4; canonical
naming = the demo's code->name projection (demo/app.py:86-92).  The
similarity machinery itself is new design, built Spark-first:

  mentions
    -> distinct surface forms + frequency            (groupBy, map-side combine)
    -> char 3-gram shingles -> MinHash signatures    (Arrow-batched pandas UDF;
                                                      k=32 universal hashes over
                                                      crc32(shingle))
    -> LSH bands (b=8, r=4) -> posexplode            (band bucket key)
    -> per-bucket candidate pairs                    (groupBy band key;
                                                      **skew-safe**: buckets up
                                                      to PAIR_CAP emit all
                                                      pairs, oversized buckets
                                                      emit a sorted chain of
                                                      consecutive pairs — O(n)
                                                      edges that preserve
                                                      connectivity for the
                                                      connected-components pass,
                                                      instead of O(n^2) pair
                                                      blow-up on head surfaces)
    -> Jaccard verification join (>= threshold)      (array_intersect/union on
                                                      exact shingle sets)
    -> connected components                          (iterative min-component
                                                      propagation, bounded)
    -> canonical election                            (max mention count, then
                                                      lexicographically min
                                                      surface — total order, so
                                                      partition-order
                                                      independent)

Surface ids are md5-60bit of the surface text (stable across runs and cluster sizes —
``monotonically_increasing_id`` would NOT be resume-safe).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

MINHASH_K = 32
# b=16, r=2: S-curve midpoint (1/b)^(1/r) ~= 0.25, well under the 0.5-0.8
# verify thresholds -> near-certain recall for true near-dups; the exact
# Jaccard verification join discards the extra low-similarity candidates
LSH_BANDS = 16
LSH_ROWS = 2  # MINHASH_K == LSH_BANDS * LSH_ROWS
SHINGLE_N = 3
PAIR_CAP = 64  # buckets beyond this emit chain pairs (skew guard)
# a pair becomes a candidate only if it collides in >= this many DISTINCT
# small-bucket bands (chain pairs from capped buckets are exempt — they
# exist to preserve connectivity, not similarity evidence).  r=2 banding
# keeps J=0.5 recall at 0.99 but lets J~0.03 background pairs through at
# p ~ 1e-2 per corpus pair — at n surfaces that is O(n^2)*1e-2 spurious
# candidates (measured: 0.9M of 46k surfaces), ALL discarded by the
# verify join.  Requiring a second independent band hit squares the
# noise rate (~200x fewer false candidates) while true near-dups at the
# 0.5 verify threshold lose only ~5% (P[exactly 1 of 16 bands | >=1] at
# J=0.5), which the downstream connected components partly re-bridge.
# This is the frequency-threshold variant of multi-probe LSH — the
# standard steepening of the S-curve when n makes r=2 noise quadratic.
MIN_BAND_HITS = 2
# Mersenne prime 2^31-1: a*x fits int64 AND the modulo genuinely wraps, so
# (a*x + b) mod P is an actual permutation-like universal hash.  (A larger
# prime whose products can't wrap in int64 would be ORDER-PRESERVING — every
# "permutation" then picks the same min shingle and LSH banding loses all
# of its amplification.)
from ..hashing import P31 as _P31
from ..hashing import md5_60, md5_60_expr, universal_coeffs


def _lh_coeffs(i: int) -> tuple:
    return universal_coeffs("lh", i)


_COEF = np.array([_lh_coeffs(i) for i in range(MINHASH_K)], dtype=np.int64)
_A, _B = _COEF[:, 0], _COEF[:, 1]


def shingle_hash60(s: str) -> int:
    """Shared engine/oracle shingle hash (hashing.md5_60)."""
    return md5_60(s)


def shingles(text: str, n: int = SHINGLE_N) -> List[str]:
    t = text if len(text) >= n else text + "\x00" * (n - len(text))
    return list({t[i : i + n] for i in range(len(t) - n + 1)})


def _perm_matrix(x: np.ndarray) -> np.ndarray:
    """(n_shingles, K) permuted hashes: (a * (x mod P31) + b) mod P31 —
    fits int64, genuinely wraps, expressible verbatim in SQL."""
    x31 = (x % _P31)[:, None]
    return (_A[None, :] * x31 + _B[None, :]) % _P31


def minhash_signature(text: str) -> np.ndarray:
    sh = shingles(text)
    x = np.fromiter(
        (shingle_hash60(s) for s in sh), dtype=np.int64, count=len(sh)
    )
    return _perm_matrix(x).min(axis=0)


_SIG_SCHEMA = StructType(
    [
        StructField("surface_id", LongType()),
        StructField("text", StringType()),
        StructField("n_mentions", LongType()),
        StructField("sig", ArrayType(LongType())),
        StructField("shingle_hashes", ArrayType(LongType())),
    ]
)


def surface_signatures(mentions: DataFrame) -> DataFrame:
    """Distinct surfaces with frequency, MinHash signature, shingle set."""
    from ..pyfiles import ensure_shipped

    ensure_shipped(mentions.sparkSession)

    surfaces = (
        mentions.groupBy("text")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        # md5-60bit surface id (SQL-computable, unlike xxhash64) — the
        # component ids downstream are min surface_ids, so the whole
        # canonicalization output is DuckDB-oracle-checkable
        .withColumn("surface_id", md5_60_expr(F.col("text")))
        # explicit width: the surface frame is small in BYTES but every
        # downstream stage is CPU-heavy per byte (minhash UDF, x16 band
        # explode, collect_set partials), so letting AQE size-coalesce the
        # groupBy output (64 MB advisory -> 1-2 partitions) serializes the
        # whole linking stage on a handful of cores.  An explicit
        # repartition is respected by AQE and pins the cached partitioning
        # every consumer inherits.
        .repartition(
            2 * mentions.sparkSession.sparkContext.defaultParallelism,
            "surface_id",
        )
    )

    def add_sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs, shs = [], []
            for t in pdf["text"]:
                sh = shingles(t)
                x = np.fromiter(
                    (shingle_hash60(s) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                sigs.append(_perm_matrix(x).min(axis=0).tolist())
                shs.append(sorted(int(v) for v in set(x.tolist())))
            yield pd.DataFrame(
                {
                    "surface_id": pdf["surface_id"],
                    "text": pdf["text"],
                    "n_mentions": pdf["n_mentions"],
                    "sig": sigs,
                    "shingle_hashes": shs,
                }
            )

    return surfaces.mapInPandas(add_sig, _SIG_SCHEMA)


def band_frame(sigs: DataFrame) -> DataFrame:
    """One row per (surface_id, band) with the band's identity — the
    shared blocking stage behind pair emission AND the blocking-stats
    audit.

    The identity is the band's two minhashes PACKED into one BIGINT
    (``mh0 * 2^31 + mh1``): both values are < P31 = 2^31 - 1, so the
    packing is collision-free and fits int64 exactly ((2^31-1)*2^31 +
    2^31-1 = 2^62-1).  A fixed-width numeric key keeps the band groupBy
    inside codegen with cheap hashing — the former comma-joined STRING
    identity allocated and hashed ~30 bytes per band row, pure CPU tax
    on a 16-rows-per-surface explode.  SQL-expressible verbatim (the
    twins compute the same arithmetic).  r=2-specific: a third 31-bit
    value would overflow int64."""
    assert LSH_ROWS == 2, "packed band identity requires r=2"
    return sigs.select(
        "surface_id",
        F.posexplode(
            F.array(
                *[
                    (
                        F.col("sig")[b * LSH_ROWS] * F.lit(2_147_483_648)
                        + F.col("sig")[b * LSH_ROWS + 1]
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )


def blocking_stats(sigs: DataFrame) -> DataFrame:
    """Per-band blocking audit: singleton/multi bucket counts, the largest
    bucket, how many buckets tripped the PAIR_CAP chain-pair guard, and
    exactly how many candidate pairs the guard lets through — the
    operational go/no-go read BEFORE pointing the linker at a new corpus
    (max_bucket predicts the verify-join fan-out; n_capped > 0 means the
    skew guard is live, pairs_emitted is its O(n) bound doing its job).
    Two key-local count aggregations; output is exactly LSH_BANDS rows."""
    b = band_frame(sigs).groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    pair_cases = F.expr(
        f"CASE WHEN n <= 1 THEN 0 WHEN n <= {PAIR_CAP} "
        f"THEN (n * (n - 1)) div 2 ELSE n - 1 END"
    )
    return b.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
            "n_singleton_buckets"
        ),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_multi_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > PAIR_CAP, 1).otherwise(0)).alias("n_capped"),
        F.sum(pair_cases).alias("pairs_emitted"),
    )


#: duplication factor for the driver-visible skew-guard row — big enough
#: that an un-collapsed duplicate stream would visibly distort every
#: downstream statistic, small enough that the row stays cheap at sf0.01
SKEW_GUARD_K = 16


def skew_guard_stats(mentions: DataFrame, k: int = SKEW_GUARD_K) -> DataFrame:
    """One-row guard-stats report of the linking stage under ``k``-fold
    corpus duplication — the driver-visible form of the skew stress
    (jobs/skew_stress.py): the mention stream is replicated ``k`` x under
    distinct doc_ids with IDENTICAL content (every surface form a head
    key, the adversarial profile for entity linking) and pushed through
    the REAL surface/banding/pair/verify/CC operators.

    The invariant this row pins: the mention->surface groupBy collapses
    duplication MAP-SIDE, so every surface-level statistic (band buckets,
    max bucket, oversized-bucket count, candidate pairs, verified edges,
    components) of the k-fold stream must equal the base corpus's
    EXACTLY, and total mentions must equal exactly k x base.  The DuckDB
    twin computes those base-corpus values, so a hash match IS the proof
    that duplication skew never reaches a shuffle — the stress jobs'
    byte-identical-guards claim as a driver-checkable row instead of
    BENCH prose.  All columns are exact integers."""
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
            F.sum(F.when(F.col("n") > PAIR_CAP, 1).otherwise(0)).alias(
                "oversized_buckets"
            ),
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
    # single-row folds: every frame here is exactly one row, so the
    # crossJoins are broadcast one-row merges, not cartesian blowups
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
    """LSH banding -> (band, band_hash) buckets -> skew-capped pair
    emission -> ``MIN_BAND_HITS`` frequency filter.

    A pair survives only if it collided in >= ``min_hits`` (default
    ``MIN_BAND_HITS``) distinct small-bucket bands OR rode a capped
    bucket's connectivity chain (see the constant's rationale: one r=2
    band hit is weak evidence, and its false-candidate mass grows O(n^2)
    with corpus size).  ``min_hits=1`` disables the filter — the
    kg_band_filter_recall audit measures what the default costs against
    that unfiltered baseline."""
    if min_hits is None:
        min_hits = MIN_BAND_HITS
    bands = band_frame(sigs)
    grouped = bands.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_set("surface_id")).alias("members")
    ).where(F.size("members") > 1)

    # small buckets: all pairs; oversized buckets: consecutive chain pairs
    # (connectivity-preserving O(n) fallback for skewed head buckets).
    # Both branches emit from ONE conditional expression so the band
    # groupBy above is consumed exactly once — a filter/union formulation
    # would re-execute the shuffle per branch (two stages + a union), pure
    # fixed latency that the whole-job N->4N pair pays at both levels.
    chain_expr = F.zip_with(
        F.slice("members", 1, F.size("members") - 1),
        F.slice("members", 2, F.size("members") - 1),
        lambda a, b: F.struct(
            a.alias("a"), b.alias("b"), F.lit(1).alias("c")
        ),
    )
    pair_expr = F.when(F.size("members") <= PAIR_CAP, _pairs_expr()).otherwise(
        chain_expr
    )
    # the hit-count groupBy replaces the old dropDuplicates — same shuffle
    # (src, dst) key, but the aggregate carries the evidence the filter
    # needs: how many independent small-bucket bands voted for the pair
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
        .where(
            (F.col("chained") == 1) | (F.col("n_small") >= min_hits)
        )
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
    """Honesty audit for the MIN_BAND_HITS candidate filter (the same
    discipline as ds_lsh_recall_eval / ds_ivf_recall_eval: every
    approximation ships with a query that measures it against the exact
    baseline).  Runs the linking candidate+verify chain twice — with the
    frequency filter and with ``min_hits=1`` (unfiltered) — and reports
    the candidate counts, verified-edge counts, and the edge recall in
    integer micro-units.  Filtered edges are a subset of unfiltered by
    construction, so recall is exact set containment, not an estimate.

    One row: (n_cand_filtered, n_cand_all, n_edges_filtered, n_edges_all,
    edge_recall_micro)."""
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
    # join strategy is AQE's runtime call, deliberately un-hinted: since
    # the MIN_BAND_HITS filter, the pair frame is usually the SMALL side
    # (tens of KB per million surfaces) and AQE broadcasts it — the heavy
    # signature side (shingle arrays) then never shuffles at all.  When a
    # pathological corpus makes pairs big, AQE's runtime sizes fall back
    # to a shuffled join instead of OOMing a forced broadcast; either
    # way sort-merge's double sort of array payloads is avoided for
    # whichever side stays hash-built.  (The previous forced shuffle_hash
    # hint was sized for the pre-filter regime where candidates were
    # ~20x the surface count; it pinned TWO shuffles of the array-heavy
    # signature frame on every run.)
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
    """Connected components over the surface-form graph, strategy-selected
    by size (like Spark's own broadcast-join threshold):

    * **small graph** (≤ ``small_graph_edges``, the common case — the graph
      is over DISTINCT surfaces, orders of magnitude smaller than the
      mention stream): one shuffle into a single partition + a one-pass
      union-find inside an Arrow UDF.  Min-root union-find is
      row-order-independent, so the result is deterministic.
    * **large graph**: iterative min-id propagation with pointer jumping
      (O(log diameter) rounds, localCheckpoint bounds lineage) — the
      fully-distributed path.

    vertices: (surface_id); edges: (src, dst) undirected.
    Returns (surface_id, component = min surface_id of the cluster).
    """
    # bounded strategy probe: LIMIT threshold+1 then count — cost capped
    # by the threshold regardless of graph size (a full count() would be
    # an O(edges) driver barrier spent only to pick a strategy; the edge
    # frame is persisted by the caller, so this reads at most
    # ``small_graph_edges + 1`` cached rows)
    probe = edges.limit(small_graph_edges + 1).count()
    if probe <= small_graph_edges:
        return _cc_single_pass(vertices, edges)
    return _cc_iterative(vertices, edges, max_iter)


def _cc_single_pass(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    # vertices ride along as SELF-edges (src == dst): keeps both columns
    # non-nullable int64 end-to-end.  A nullable long would surface in
    # pandas as float64 and silently destroy 64-bit hash ids (53-bit
    # mantissa) — precision loss that mislinks clusters.
    combined = vertices.select(
        F.col("surface_id").alias("src"),
        F.col("surface_id").alias("dst"),
    ).unionByName(edges.select("src", "dst")).repartition(1)

    schema = StructType(
        [StructField("surface_id", LongType()), StructField("component", LongType())]
    )

    def uf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for pdf in batches:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                s, d = int(s), int(d)
                nodes.add(s)
                nodes.add(d)
                if s != d:
                    rs, rd = find(s), find(d)
                    if rs != rd:  # min root wins -> order-independent
                        if rs < rd:
                            parent[rd] = rs
                        else:
                            parent[rs] = rd
        out_ids = sorted(nodes)
        yield pd.DataFrame(
            {"surface_id": out_ids, "component": [find(i) for i in out_ids]}
        )

    return combined.mapInPandas(uf, schema)


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
        # lazy checkpoint: lineage is cut but materialization rides the
        # NEXT action instead of an extra eager per-round job — each
        # driver-synchronized round is a fixed serial term that more
        # cores cannot shrink (the whole-job N->4N Amdahl tail)
        new_labels = (
            stepped.join(ptr, stepped.component == ptr.p_id, "left")
            .select(
                "surface_id",
                F.coalesce("p_comp", F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # convergence probe every 2nd round (and never on round 0): with
        # pointer jumping, rounds needed ~ log2(diameter), so probing per
        # round costs one driver-synchronized job each to save at most
        # one — probing half as often halves the serial probe count at
        # the price of at most ONE extra propagation round after quiesce
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
    """Full linking stage: mentions -> (text, canonical_text, component).

    Canonical election is a total order (mention count desc, surface asc) so
    the result is independent of partitioning and cluster size.

    ``min_band_hits`` is the per-job dial on the MIN_BAND_HITS candidate
    filter (default: the module constant, 2).  The filter trades ~3-5% of
    border edges (Jaccard just above the threshold — measured 96.7% edge
    recall on the synthetic sf0.01 corpus and ~95% on a deliberately
    border-heavy adversarial corpus, see kg_band_filter_recall and
    tests/test_linking.py) for an order-of-magnitude fewer candidates.
    Pass 1 to disable it when a job values recall over throughput; the
    kg_band_filter_recall audit measures exactly what the default costs
    on any given corpus."""
    # sigs feeds four consumers (pairs, verify, components, labeling) and
    # edges feeds two — persist the small per-surface frames or the
    # mention-stream groupBy re-executes once per consumer
    from ..cache import tracked_persist

    sigs = tracked_persist(surface_signatures(mentions))
    pairs = candidate_pairs(sigs, min_hits=min_band_hits)
    edges = tracked_persist(verified_edges(sigs, pairs, jaccard_threshold))
    # CC over the EDGE ENDPOINTS only: the left join below coalesces
    # every unlinked surface to its own id, so isolated vertices never
    # need to ride through the union-find — the component frame shrinks
    # from |surfaces| to |linked surfaces| (orders of magnitude at
    # corpus scale, where most surfaces join nothing), the single-pass
    # path's one-partition shuffle carries edges only, and the join back
    # broadcasts
    endpoints = (
        edges.select(F.col("src").alias("surface_id"))
        .unionByName(edges.select(F.col("dst").alias("surface_id")))
        .distinct()
    )
    comps = connected_components(endpoints, edges)

    # labeled feeds TWO consumers (the canonical-election window and the
    # final label join): unpersisted, the component computation — incl.
    # the union-find pass — would execute once per consumer
    labeled = tracked_persist(
        sigs.select("surface_id", "text", "n_mentions").join(
            comps, "surface_id", "left"
        ).withColumn("component", F.coalesce("component", F.col("surface_id")))
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(
        F.desc("n_mentions"), F.asc("text")
    )
    canon = (
        labeled.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(F.col("component"), F.col("text").alias("canonical_text"))
    )
    return labeled.join(canon, "component").select(
        "text", "canonical_text", "component", "n_mentions"
    )


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
