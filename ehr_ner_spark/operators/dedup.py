"""Document-level deduplication family for large-scale training-data
pipelines (first-class engine components; the reference's D1 exact span
dedup, dataAugmentator.py:59-69, is the semantic seed — these scale it to
corpus level).

* exact_dedup        — hash-groupBy on content (canonical representative =
                       min doc_id; pure built-ins, one shuffle)
* minhash_lsh_dedup  — char-shingle MinHash + LSH banding + Jaccard verify +
                       connected components (reuses the linking machinery —
                       identical math, different key)
* simhash_dedup      — 60-bit md5-derived SimHash over word features;
                       Hamming<=k matching via 4x15-bit band buckets
                       (pigeonhole: any pair within Hamming 3 shares at least
                       one exact band); SQL-oracle-checkable (SIMHASH_SQL)
* ngram_jaccard_pairs— word n-gram Jaccard similarity pairs, fully
                       SQL-expressible (the DuckDB-oracle-checkable variant)
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..cache import tracked_persist
from ..hashing import P31, md5_60, md5_60_expr, universal_coeffs
from .parallelism import fan_out
from .linking import candidate_pairs, connected_components, verified_edges
from .parallelism import fan_out as _fan_out


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keep min id per identical content.
    Output: (doc_id, canonical_doc_id, group_size)."""
    groups = docs.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        docs.select(id_col, text_col)
        .join(groups, text_col)
        .select(id_col, "canonical_doc_id", "group_size")
    )


def minhash_lsh_dedup(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.8) -> DataFrame:
    """Near-dup clusters via the linking LSH stack keyed by document text.
    Output: (doc_id, component) — component = cluster id over doc contents."""
    pseudo_mentions = docs.select(F.col(text_col).alias("text"), F.col(id_col))
    from .linking import surface_signatures

    # sigs feeds three consumers (pairs, verify, components) and edges two
    # (verify output + the CC strategy probe's eager count) — persist the
    # small per-surface frames, like canonicalize() does, so the signature
    # stage runs ONCE instead of once per consumer
    sigs = tracked_persist(surface_signatures(pseudo_mentions))
    pairs = candidate_pairs(sigs)
    edges = tracked_persist(verified_edges(sigs, pairs, threshold))
    # endpoints only — the left join below coalesces unlinked docs to
    # their own surface_id (same contract as canonicalize)
    endpoints = (
        edges.select(F.col("src").alias("surface_id"))
        .unionByName(edges.select(F.col("dst").alias("surface_id")))
        .distinct()
    )
    comps = connected_components(endpoints, edges)
    return (
        pseudo_mentions.withColumn("surface_id", md5_60_expr(F.col("text")))
        .join(comps, "surface_id", "left")
        .select(
            id_col,
            F.coalesce("component", F.col("surface_id")).alias("component"),
        )
    )


_SIMHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("simhash", LongType())]
)

SIMHASH_BITS = 60  # 60-bit md5-derived word hashes: SQL-expressible in both
SIMHASH_BANDS = 4  # 4 x 15-bit bands; Hamming<=3 => >=1 exact band (pigeonhole)
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def word_hash60(w: str) -> int:
    """The engine/oracle-shared feature hash (hashing.md5_60)."""
    return md5_60(w)


# RE2's \s set exactly ([ \t\n\r\f]); Python's ASCII \s would add \x0b
_ASCII_WS = re.compile(r"[ \t\n\r\f]+")


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over whitespace-token features (Arrow-batched; per-word
    md5 hashes memoized per batch so repeated tokens hash once).  Tokens are
    split on the explicit RE2 whitespace class ([ \\t\\n\\r\\f]) so the
    DuckDB twin's RE2 ``string_split_regex(text, '\\s+')`` sees the same
    tokens — Python's ``str.split()`` would additionally split on Unicode
    spaces like NBSP, and Python's ASCII ``\\s`` on vertical tab."""
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.arange(SIMHASH_BITS, dtype=np.uint64)
        for pdf in batches:
            out = []
            memo: dict[str, int] = {}

            def mh(w: str) -> int:
                v = memo.get(w)
                if v is None:
                    v = memo[w] = word_hash60(w)
                return v

            for t in pdf[text_col]:
                toks = [w for w in _ASCII_WS.split(t) if w]
                if not toks:
                    out.append(0)
                    continue
                h = np.fromiter(
                    (mh(w) for w in toks), dtype=np.uint64, count=len(toks)
                )
                bitmat = ((h[:, None] >> bits[None, :]) & 1).astype(np.int64)
                v = (2 * bitmat - 1).sum(axis=0)
                out.append(int(((v > 0).astype(np.uint64) << bits).sum()))
            yield pd.DataFrame({"doc_id": pdf[id_col], "simhash": out})

    from ..pyfiles import ensure_shipped

    ensure_shipped(docs.sparkSession)
    return _fan_out(docs.select(id_col, text_col)).mapInPandas(
        compute, _SIMHASH_SCHEMA
    )


SIMHASH_SQL = """
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
      FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv
      FROM words WHERE w <> ''),
    bitsum AS (
      SELECT doc_id, b.range AS b,
             SUM(CASE WHEN (hv >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(60) b
      GROUP BY 1, 2),
    sh AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS simhash
      FROM bitsum GROUP BY doc_id),
    allsh AS (
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sh s USING (doc_id))
"""


def simhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k via 15-bit band blocking
    (4 bands over the 60-bit hash; Hamming<=3 guarantees an exact band
    match), then exact popcount verification.  Output: (src, dst, hamming),
    src < dst."""
    sh = simhash(docs, text_col, id_col)
    mask = (1 << _BAND_BITS) - 1
    bands = sh.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), b * _BAND_BITS).bitwiseAND(F.lit(mask))
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["src", "dst"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("src", "dst", "hamming")
    )


def simhash_clusters(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup GROUPS (the deployable form of
    :func:`simhash_dedup`): band-blocked pairs -> connected components ->
    min-id representative, mirroring semantic_dedup's output contract.
    Output: (doc_id, cluster_id, n_members, keep) — one row per document,
    singletons are their own cluster.

    Scale shape: the quadratic risk lives entirely inside simhash_dedup's
    15-bit band buckets; the component stage sees only the verified
    Hamming<=k edge list (tiny vs the corpus), and CC itself is
    strategy-selected (single-pass NumPy min-root hooking small, pointer
    jumping large).  Pairs are persisted because connected_components consumes the
    edge frame twice (strategy probe count + the join rounds)."""
    from ..cache import tracked_persist
    from .linking import connected_components

    pairs = tracked_persist(
        simhash_dedup(docs, text_col, id_col, max_hamming).select("src", "dst")
    )
    verts = docs.select(F.col(id_col).alias("surface_id"))
    comp = tracked_persist(connected_components(verts, pairs))
    clustered = comp.select(
        F.col("surface_id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return clustered.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "n_members",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


SIMHASH_CLUSTERS_SQL_TAIL = """,
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM allsh a JOIN allsh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
    ebi AS MATERIALIZED (
      SELECT src, dst FROM pairs
      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT eb.dst, r.comp FROM reach r JOIN ebi eb ON eb.src = r.node),
    comps AS (
      SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node),
    sizes AS (
      SELECT cluster_id, COUNT(*)::BIGINT AS n_members
      FROM comps GROUP BY cluster_id)
    SELECT c.doc_id, c.cluster_id, s.n_members,
           (c.doc_id = c.cluster_id) AS keep
    FROM comps c JOIN sizes s USING (cluster_id)
"""


def simhash_clusters_sql() -> str:
    """DuckDB twin of :func:`simhash_clusters`: brute-force Hamming pairs
    (lossless vs banding at Hamming<=3) + min-reachable-id recursive CTE."""
    return (
        SIMHASH_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
        + SIMHASH_CLUSTERS_SQL_TAIL
    )


N_MINHASH_PERMS = 16
MINHASH_BAND_PERMS = 4  # 4 bands x 4 permutations


def _word_shingles(text_col: str, n: int = 3):
    """Distinct word n-gram shingles as an array column (built-ins only;
    same shingle definition as ngram_jaccard_pairs / the DuckDB oracles).
    NOTE: ``text_col`` should be an already-materialized WORD ARRAY column
    (see :func:`shingle_rows`) — passing a raw split(...) expression inlines
    the split into the per-element lambda and re-tokenizes the document
    once per shingle (O(words^2) per doc)."""
    words = F.col(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.when(F.size(words) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded word-n-gram frame with the word array
    staged through its own projection so the split is computed ONCE per
    row — not once per shingle inside the transform lambda (Catalyst
    inlines unnamed expressions at every use site)."""
    return _fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    ).select("doc_id", F.explode(_word_shingles("_w", n)).alias("shingle"))


def _md5_60(col):
    return md5_60_expr(col)


_MH_PRIME = P31  # see hashing.py for why the modulus must wrap


def _perm_coeffs(p: int) -> tuple[int, int]:
    return universal_coeffs("perm", p)


def _perm_hash_expr(h, p: int):
    """(a * (h mod P31) + b) mod P31 — pure integer JVM ops."""
    a, b = _perm_coeffs(p)
    return (F.lit(a) * (h % F.lit(_MH_PRIME)) + F.lit(b)) % F.lit(_MH_PRIME)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       n_perms: int = N_MINHASH_PERMS, n: int = 3) -> DataFrame:
    """MinHash signatures entirely with JVM built-ins — no Python in the
    plan.  Each shingle is md5-hashed ONCE; the n_perms permutations are a
    universal-hash family over that 60-bit value (integer ops only), and
    each permutation is one min-aggregate column instead of a x n_perms row
    blowup: all hashes are computed map-side and partial-min-combined before
    the shuffle, so the exchange carries n_docs x n_perms longs, not
    n_shingles x n_perms rows.  Output: (doc_id, perm, minhash) — exactly
    SQL-oracle-checkable."""
    return signatures_from_shingles(
        shingle_rows(docs, text_col, id_col, n), n_perms
    )


def signatures_from_shingles(sh_frame: DataFrame,
                             n_perms: int = N_MINHASH_PERMS) -> DataFrame:
    """Signature aggregation over an (already materialized) (doc_id,
    shingle) frame — lets callers that ALSO need the shingles for exact
    verification (minhash_lsh_pairs) tokenize/explode the corpus ONCE."""
    sh = sh_frame.select("doc_id", _md5_60(F.col("shingle")).alias("h"))
    sig_wide = sh.groupBy("doc_id").agg(
        *[
            F.min(_perm_hash_expr(F.col("h"), p)).alias(f"mh{p}")
            for p in range(n_perms)
        ]
    )
    stack = ", ".join(f"'{p}', mh{p}" for p in range(n_perms))
    return sig_wide.selectExpr(
        "doc_id", f"stack({n_perms}, {stack}) AS (perm, minhash)"
    ).select("doc_id", F.col("perm").cast("long").alias("perm"), "minhash")


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.4,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """End-to-end MinHash LSH near-dup pairs, built-ins only: signatures ->
    band buckets (band signature = perm-ordered minhash concat) -> candidate
    self-join -> exact Jaccard verify restricted to candidates (the 100-TB
    order: the expensive intersection join touches only candidate pairs).
    Output: (src, dst, jaccard) with src < dst, jaccard >= threshold."""
    # ONE tokenize/explode pass: the persisted shingle frame feeds the
    # signature aggregation AND the three verify consumers (sizes + both
    # sides of the intersection join) — previously the corpus was
    # re-shingled separately for each role.  At sf0.1 this is neutral (the
    # second corpus scan was free out of page cache); at warehouse scale
    # one corpus read replacing two is the dominant term — the equivalent
    # there is materializing the shingle table once, bucketed by shingle
    sh = tracked_persist(shingle_rows(docs, text_col, id_col))
    inter, sizes = _lsh_overlap_counts(sh)
    jac = F.col("n_common") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(sizes.alias("na"), F.col("src") == F.col("na.doc_id"))
        .join(sizes.alias("nb"), F.col("dst") == F.col("nb.doc_id"))
        .where(jac >= threshold)
        .select("src", "dst", F.round(jac, 6).alias("jaccard"))
    )


def _lsh_overlap_counts(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared LSH verify stage: band buckets -> candidate self-join ->
    exact shingle-overlap counts.  Returns ``(inter, sizes)`` where
    ``inter`` is (src, dst, n_common) over candidate pairs and ``sizes``
    is (doc_id, n_sh) — the inputs every similarity/containment measure
    needs.  ``sh`` must be the (persisted) shingle frame so the explode
    runs once across the signature and verify consumers."""
    sig = signatures_from_shingles(sh)
    band = (
        sig.groupBy("doc_id", F.floor(F.col("perm") / MINHASH_BAND_PERMS).alias("band"))
        .agg(F.array_sort(F.collect_list(F.struct("perm", "minhash"))).alias("s"))
        .select(
            "doc_id", "band",
            F.array_join(
                F.transform("s", lambda x: x["minhash"].cast("string")), ","
            ).alias("band_sig"),
        )
    )
    a, b = band.alias("a"), band.alias("b")
    cand = (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.alias("sa"), F.col("src") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("dst") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter, sizes


CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Asymmetric shingle containment over the SAME LSH candidate pairs as
    :func:`minhash_lsh_pairs`: ``c_src = |A∩B| / |A|`` and
    ``c_dst = |A∩B| / |B|``.  Containment catches the inclusion case
    Jaccard structurally under-scores — a short document quoted wholesale
    inside a much longer one has Jaccard ≈ |A|/|B| (tiny) but c_src ≈ 1 —
    the quote/boilerplate-subsumption signal a dedup pipeline wants next
    to the symmetric measure.

    Candidate generation, shingle frame and overlap counts are shared with
    the Jaccard path (:func:`_lsh_overlap_counts`), so at scale this adds
    ONE extra 1:1 join over the already-banded candidates, not a new
    corpus pass.  Both containments snap to the shared
    ``floor(x*1e6+0.5)/1e6`` grid; a pair survives when EITHER direction
    clears ``threshold``.  Output: (src, dst, n_common, c_src, c_dst).
    """
    sh = tracked_persist(shingle_rows(docs, text_col, id_col))
    inter, sizes = _lsh_overlap_counts(sh)
    snap = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    c_src = snap(F.col("n_common").cast("double") / F.col("na.n_sh").cast("double"))
    c_dst = snap(F.col("n_common").cast("double") / F.col("nb.n_sh").cast("double"))
    return (
        inter.join(sizes.alias("na"), F.col("src") == F.col("na.doc_id"))
        .join(sizes.alias("nb"), F.col("dst") == F.col("nb.doc_id"))
        .select(
            "src", "dst", "n_common",
            c_src.alias("c_src"), c_dst.alias("c_dst"),
        )
        .where(F.greatest(F.col("c_src"), F.col("c_dst")) >= threshold)
    )


def containment_pairs_sql(threshold: float = CONTAINMENT_THRESHOLD) -> str:
    """DuckDB twin of :func:`containment_pairs` — same signature prelude,
    band candidates, overlap counts, 1e-6 snap and either-direction
    threshold."""
    return minhash_sig_sql() + f""",
    bands AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS band_sig
      FROM sig GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT c.src, c.dst, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.src
      JOIN sh b ON b.doc_id = c.dst AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT src, dst, n_common,
           FLOOR((n_common::DOUBLE / na.n_sh::DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS c_src,
           FLOOR((n_common::DOUBLE / nb.n_sh::DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS c_dst
    FROM inter
    JOIN sizes na ON na.doc_id = inter.src
    JOIN sizes nb ON nb.doc_id = inter.dst
    WHERE GREATEST(
        FLOOR((n_common::DOUBLE / na.n_sh::DOUBLE) * 1000000.0 + 0.5) / 1000000.0,
        FLOOR((n_common::DOUBLE / nb.n_sh::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    ) >= {threshold}
    """


def minhash_sig_sql() -> str:
    """DuckDB twin of minhash_signatures (shared prelude for the sig/pairs
    oracles): one md5 per distinct shingle, then the same universal-hash
    permutation family as literal coefficients."""
    coef_rows = ",\n        ".join(
        "({}, {}, {})".format(p, *_perm_coeffs(p))
        for p in range(N_MINHASH_PERMS)
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(len(w) - 2),
                      i -> array_to_string(w[i + 1 : i + 3], ' '))) AS shingle
        FROM w)),
    hsh AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
      FROM sh),
    coef AS (SELECT * FROM (VALUES
        {coef_rows}) v(perm, a, b)),
    sig AS (
      SELECT doc_id, perm,
             MIN((a * (h % {_MH_PRIME}) + b) % {_MH_PRIME}) AS minhash
      FROM hsh CROSS JOIN coef
      GROUP BY 1, 2)
"""


def minhash_pairs_sql(threshold: float = 0.4) -> str:
    """DuckDB twin of ``minhash_lsh_pairs(docs, threshold)`` — the threshold
    is a parameter on BOTH sides so engine and oracle can never silently
    desynchronize."""
    return minhash_sig_sql() + f""",
    bands AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS band_sig
      FROM sig GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT c.src, c.dst, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.src
      JOIN sh b ON b.doc_id = c.dst AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT src, dst,
           ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = src
    JOIN sizes sb ON sb.doc_id = dst
    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {threshold}
"""


DECON_MOD = 97  # benchmark membership: doc_id % 97 == 0 (deterministic)


def decontaminate(docs: DataFrame, n: int = 3, min_hits: int = 2,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination — the standard pre-training hygiene pass:
    flag training documents sharing >= ``min_hits`` distinct word n-gram
    shingles with ANY held-out benchmark document.  (Production runs use
    13-grams against real eval sets; the synthetic benchmark here is the
    deterministic membership ``doc_id % DECON_MOD == 0`` so the DuckDB twin
    is exact and the test data needs no side files.)

    Scale shape: the benchmark shingle vocabulary is tiny relative to the
    corpus (eval sets are fixed-size while training data grows), so the
    match is a BROADCAST semi-join onto the exploded training shingles —
    the corpus-sized side never shuffles on shingle; the only big-side
    shuffle is the per-doc hit count (map-side combinable).
    Output: (doc_id, n_hits) for contaminated training docs."""
    sh = shingle_rows(docs, text_col, id_col, n)
    bench_sh = (
        sh.where(F.col("doc_id") % DECON_MOD == 0).select("shingle").distinct()
    )
    train_sh = sh.where(F.col("doc_id") % DECON_MOD != 0)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )


def decontaminate_sql(n: int = 3, min_hits: int = 2) -> str:
    """DuckDB twin of :func:`decontaminate` (same shingle space as the
    minhash/ngram oracles)."""
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(len(w) - {n - 1}),
                      i -> array_to_string(w[i + 1 : i + {n}], ' '))) AS shingle
        FROM w)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0)
    SELECT s.doc_id, COUNT(*) AS n_hits
    FROM sh s JOIN bench b USING (shingle)
    WHERE s.doc_id % {DECON_MOD} <> 0
    GROUP BY s.doc_id
    HAVING COUNT(*) >= {min_hits}
    """


NGRAM_DF_CAP = 64  # shingles in more docs than this are dropped (skew guard)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs, expressed entirely with built-in
    relational algebra (shuffle on shingle, then on pair) so it is
    SQL-oracle-checkable and Catalyst-optimizable end to end.
    Output: (src, dst, jaccard) with src < dst, jaccard >= threshold.

    Hot-shingle guard (standard winnowing practice): a shingle appearing in
    k documents emits k^2/2 candidate rows from the self-join, so head
    shingles make the join quadratic.  Shingles with document frequency
    > ``df_cap`` are dropped from the shingle space BEFORE the join — from
    both the intersections and the set sizes, so the emitted value is the
    exact Jaccard over the capped shingle space (the DuckDB oracle applies
    the identical cap; the two engines stay bit-equal).  Consequence: a pair
    whose overlap consists ONLY of corpus-frequent shingles is not recalled
    — by design: such overlap is boilerplate, not near-duplication.  The
    hot set is tiny (heavy hitters), so the filter is a broadcast anti-join,
    map-side, no extra shuffle on the big side."""
    # row-local array_distinct == distinct (doc_id, shingle) but map-side:
    # no dedup shuffle before the shingle join (and guarded for <n-word docs)
    sh_all = shingle_rows(docs, text_col, id_col, n)
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    # the filtered shingle frame feeds THREE consumers (sizes + both join
    # sides); persist it or the explode + anti-join re-executes per consumer
    # (Catalyst does not reuse the exchange across the self-join aliases).
    # At petabyte scale the equivalent is materializing the shingle table
    # once (bucketed by shingle) before the join.
    sh = tracked_persist(sh_all.join(F.broadcast(hot), "shingle", "left_anti"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "src").withColumnRenamed("n_sh", "sz_a"), "src")
        .join(sizes.withColumnRenamed("doc_id", "dst").withColumnRenamed("n_sh", "sz_b"), "dst")
        .withColumn(
            "jac_raw",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        # threshold on the RAW value (like the oracle), round only for output
        .where(F.col("jac_raw") >= threshold)
        .select("src", "dst", F.round("jac_raw", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# C4-style corpus-level segment dedup (keep the globally-first occurrence)
# ---------------------------------------------------------------------------

SEG_WORDS = 8            # dedup unit: fixed 8-word segments
SEG_IDX_BITS = 20        # first-key packing: doc_id * 2^20 + seg_idx


def segment_dedup(docs_in: DataFrame, seg_words: int = SEG_WORDS,
                  text_col: str = "text") -> DataFrame:
    """C4-style corpus-level segment dedup: cut every document into fixed
    ``seg_words``-word segments, keep only the GLOBALLY-FIRST occurrence of
    each distinct segment (C4 drops every later occurrence of a repeated
    line across the whole corpus), and rebuild the cleaned document.

    Spark-first shape, 100-TB story:

    * the first-occurrence winner per segment is a **combinable MIN
      aggregate** over the packed key ``doc_id * 2^SEG_IDX_BITS + seg_idx``
      — NOT a window over the segment key: partial mins combine map-side,
      so a boilerplate segment repeated 10^9 times crosses the exchange as
      one row per map partition (a window would haul every occurrence to
      one reducer);
    * the keep-filter join back on ``seg`` is 1:1 against the winner frame
      (hot segments inflate one probe partition's INPUT, not its output —
      AQE skew-split handles the imbalance);
    * document rebuild is one doc-keyed aggregate; segment order is
      restored by sorting the collected (seg_idx, seg) structs, so no
      global sort is ever issued.

    seg_idx fits ``SEG_IDX_BITS`` when documents stay under
    ``2^20 * seg_words`` words (~8M words/doc at the default) — validated
    cheaply since the packed key would collide only past that bound.
    Output: (doc_id, n_segs, n_kept, text_dedup).
    Reference contact: corpus curation extension (SURVEY §2.6 family); the
    reference operates on already-clean EHR text (dataPipeline.py) and has
    no analog.
    """
    docs = fan_out(docs_in).where(F.length(text_col) > 0)
    ws = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(ws).cast("double") / F.lit(float(seg_words))).cast(
        "long"
    )
    base = docs.select("doc_id", ws.alias("_ws"), n_segs.alias("n_segs"))
    segs = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_segs") - 1)).alias("seg_idx"),
        F.col("_ws"),
    ).select(
        "doc_id",
        "seg_idx",
        F.array_join(
            F.slice(
                "_ws",
                (F.col("seg_idx") * seg_words + 1).cast("int"),
                seg_words,
            ),
            " ",
        ).alias("seg"),
        (
            F.col("doc_id") * F.lit(1 << SEG_IDX_BITS) + F.col("seg_idx")
        ).alias("_k"),
    )
    segs = tracked_persist(segs)
    firsts = segs.groupBy("seg").agg(F.min("_k").alias("_first"))
    kept = (
        segs.join(firsts, "seg")
        .where(F.col("_k") == F.col("_first"))
        .select("doc_id", "seg_idx", "seg")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    return (
        base.select("doc_id", "n_segs")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


def segment_dedup_sql(table: str = "documents", seg_words: int = SEG_WORDS,
                      text_col: str = "text") -> str:
    """DuckDB twin of :func:`segment_dedup` — same packed first-key MIN,
    same slice/join segmentation, same ORDER BY seg_idx rebuild."""
    return f"""
    WITH w AS (
      SELECT doc_id, string_split({text_col}, ' ') AS ws
      FROM {table} WHERE length({text_col}) > 0),
    base AS (
      SELECT doc_id, ws,
             CEIL(len(ws)::DOUBLE / {seg_words})::BIGINT AS n_segs
      FROM w),
    seg AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(
               ws[(i * {seg_words} + 1)::INT : (i * {seg_words}
                   + {seg_words})::INT], ' ') AS seg,
             doc_id * {1 << SEG_IDX_BITS} + i AS k
      FROM base, LATERAL UNNEST(range(0, n_segs)) AS u(i)),
    f AS (SELECT seg, MIN(k) AS first_k FROM seg GROUP BY seg),
    kept AS (
      SELECT s.doc_id, s.seg_idx, s.seg
      FROM seg s JOIN f USING (seg) WHERE s.k = f.first_k),
    agg AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.n_segs,
           COALESCE(a.n_kept, 0)::BIGINT AS n_kept,
           COALESCE(a.text_dedup, '') AS text_dedup
    FROM base b LEFT JOIN agg a USING (doc_id)
    """


BATCH_MOD = 10  # doc_id % BATCH_MOD == 0 -> "today's ingest batch"


def incremental_dedup(docs: DataFrame, threshold: float = 0.6,
                      batch_mod: int = BATCH_MOD) -> DataFrame:
    """Incremental (ingest-batch vs indexed-corpus) near-dup detection:
    which documents of today's batch near-duplicate something ALREADY in
    the corpus.  Output one row per duplicated batch doc:
    ``(doc_id, n_matches, dup_of, jaccard)`` — dup_of = the best base
    match (max Jaccard, ties -> min base doc_id).

    This is the daily-ingest shape of dedup, and its scale story is the
    point: the candidate join is ASYMMETRIC — the small batch side's band
    frame is broadcast against the corpus band frame, so the 100-TB corpus
    is never self-joined and never re-shuffled; it is probed in place,
    exactly like querying an LSH index.  A hot-bucket cap (base-side band
    buckets larger than PAIR_CAP are dropped, the ngram_jaccard DF-cap
    discipline) bounds the worst boilerplate bucket; exact Jaccard over
    shingle sets verifies every surviving candidate.
    """
    from .linking import (
        PAIR_CAP,
        band_frame,
        surface_signatures,
        verified_edges,
    )

    pseudo = docs.select(F.col("text"), F.col("doc_id"))
    sigs = tracked_persist(surface_signatures(pseudo))
    sdocs = tracked_persist(
        docs.select(
            "doc_id",
            md5_60_expr(F.col("text")).alias("surface_id"),
            (F.col("doc_id") % batch_mod == 0).alias("is_batch"),
        )
    )
    bands = tracked_persist(band_frame(sigs))
    batch_bands = bands.join(
        sdocs.where(F.col("is_batch")).select("surface_id").distinct(),
        "surface_id",
    ).select(F.col("surface_id").alias("src"), "band", "band_hash")
    base_bands = bands.join(
        sdocs.where(~F.col("is_batch")).select("surface_id").distinct(),
        "surface_id",
    ).select(F.col("surface_id").alias("dst"), "band", "band_hash")
    # hot-bucket cap: drop base buckets larger than PAIR_CAP (tiny frame,
    # broadcast anti-join — the boilerplate guard)
    hot = (
        base_bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > PAIR_CAP)
        .select("band", "band_hash")
    )
    base_bands = base_bands.join(
        F.broadcast(hot), ["band", "band_hash"], "left_anti"
    )
    cand = (
        F.broadcast(batch_bands)
        .join(base_bands, ["band", "band_hash"])
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    edges = verified_edges(sigs, cand, threshold)
    bdocs = sdocs.where(F.col("is_batch")).select(
        F.col("doc_id").alias("batch_doc"), F.col("surface_id").alias("src")
    )
    basedocs = sdocs.where(~F.col("is_batch")).select(
        F.col("doc_id").alias("base_doc"), F.col("surface_id").alias("dst")
    )
    pairs = edges.join(bdocs, "src").join(basedocs, "dst")
    return (
        pairs.groupBy(F.col("batch_doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("nj"),
                    F.col("base_doc").alias("base_doc"),
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            "n_matches",
            F.col("w.base_doc").alias("dup_of"),
            (-F.col("w.nj")).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (AllPairs/PPJoin candidate scheme)
# ---------------------------------------------------------------------------

def prefix_filter_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Word n-gram Jaccard >= ``threshold`` pairs via PREFIX FILTERING
    (the AllPairs/PPJoin candidate scheme, Bayardo et al. WWW'07 / Xiao et
    al. WWW'08) — the third candidate-generation strategy in the dedup
    family, complementing MinHash-LSH (probabilistic) and the DF-capped
    inverted index (lossy on boilerplate-only overlap):

    1. every doc's shingle set is ordered by GLOBAL document frequency
       ascending (rarest first; ties by shingle) — the canonical total
       order that makes short prefixes selective;
    2. only each doc's first ``|s| - ceil(t*|s|) + 1`` shingles (its
       *prefix*) enter the candidate self-join — LOSSLESS for Jaccard
       >= t: two qualifying sets must share a prefix token under any
       total order (pigeonhole over the required overlap);
    3. a length filter (``t*|a| <= |b| <= |a|/t``) prunes candidates in
       the join condition before they materialize;
    4. exact Jaccard verify runs only over surviving candidates.

    100-TB shape: the join key is a PREFIX shingle — by construction the
    rarest tokens of each set — so bucket sizes are bounded by the df of
    rare tokens (the frequency-ordering is itself the skew guard; compare
    the df cap the inverted-index variant needs).  The expensive
    verify join touches candidates only.  The DuckDB oracle computes
    EXACT all-pairs Jaccard with no prefix anywhere, so any pair lost by
    the prefix/length scheme fails the hash check — the losslessness
    theorem is driver-verified, not assumed.

    Output: (src, dst, n_common, jaccard) with src < dst.
    """
    from pyspark.sql.window import Window

    from ..cache import tracked_persist

    t = threshold
    sh = tracked_persist(shingle_rows(docs, text_col, id_col, n))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_sz = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle")
        .select(
            "doc_id", "shingle",
            F.row_number().over(w_rank).alias("rnk"),
            F.count(F.lit(1)).over(w_sz).alias("sz"),
        )
    )
    pref = ranked.where(
        F.col("rnk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select("doc_id", "shingle", "sz")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: |b| in [t*|a|, |a|/t] (order-free: applied
            # symmetrically since either side may be the larger set)
            & (F.col("b.sz") >= F.ceil(F.lit(t) * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(F.lit(t) * F.col("b.sz"))),
        )
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .dropDuplicates(["src", "dst"])
    )
    inter = (
        cand.join(sh.alias("sa"), F.col("src") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("dst") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("src", "dst", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac_raw = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.withColumn("jac_raw", jac_raw)
        .where(F.col("jac_raw") >= t)
        .select("src", "dst", "n_common",
                F.round("jac_raw", 6).alias("jaccard"))
    )


def prefix_filter_pairs_sql(threshold: float = 0.5) -> str:
    """DuckDB twin: EXACT all-pairs word-3-gram Jaccard — no prefix, no
    length filter, no df cap — so the engine's prefix/length pruning is
    verified lossless, not replayed."""
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(len(string_split(text, ' ')) - 2),
                 i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3], ' ')
               )) AS shingle
        FROM documents)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT src, dst, n_common::BIGINT AS n_common,
           ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = src
    JOIN sizes sb ON sb.doc_id = dst
    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
          >= {threshold}
    """


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash boundaries, CDC)
# ---------------------------------------------------------------------------

CDC_DIVISOR = 8     # P(boundary) = 1/D per position -> ~D-word chunks
CDC_GRAM = 3        # rolling window width (words)


def cdc_chunks(docs: DataFrame, divisor: int = CDC_DIVISOR,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking: cut every document where the rolling hash
    of the trailing 3-word gram satisfies ``md5_60(gram) % divisor == 0``
    — the CDC principle (Rabin/gear chunking, LBFS/restic lineage) applied
    at word granularity.  Unlike fixed-width segments
    (:func:`segment_dedup`), CDC boundaries are a pure function of LOCAL
    content, so inserting or deleting words early in a document shifts
    only the chunks up to the next surviving boundary — every later chunk
    re-aligns and still dedups against the corpus (the shift-robustness
    fixed segmentation structurally lacks; property-tested).

    Spark-first shape: word positions via ``posexplode``; the rolling gram
    is two ``lag`` windows KEYED BY doc (key-local exchange, no global
    sort); the chunk index is a doc-local running sum of boundary flags
    strictly BEFORE the current word; chunk assembly is one doc-keyed
    aggregate with order restored by sorting collected (pos, word) structs
    — the :func:`segment_dedup` discipline.  Corpus-wide copy counts are a
    combinable count keyed by the chunk sha (cryptographic key — cannot
    skew).  Output: (doc_id, chunk_idx, n_words, chunk_sha, n_copies).
    """
    from pyspark.sql.window import Window

    words = _fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.lag("word", 2).over(w_doc), F.lag("word", 1).over(w_doc),
        F.col("word"),
    )
    flagged = words.withColumn(
        "boundary",
        (F.col("pos") >= CDC_GRAM - 1)
        & ((md5_60_expr(gram) % divisor) == 0),
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.withColumn(
        "chunk_idx",
        F.coalesce(
            F.sum(F.col("boundary").cast("long")).over(w_prev), F.lit(0)
        ),
    )
    chunks = (
        assigned.groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sha2(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "word"))
                        ),
                        lambda s: s["word"],
                    ),
                    " ",
                ),
                256,
            ).alias("chunk_sha"),
        )
    )
    copies = chunks.groupBy("chunk_sha").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return chunks.join(copies, "chunk_sha").select(
        "doc_id", "chunk_idx", "n_words", "chunk_sha", "n_copies"
    )


def cdc_chunks_sql(divisor: int = CDC_DIVISOR) -> str:
    """DuckDB twin: same lag-gram rolling hash, boundary rule, running-sum
    chunk assignment and sha256 chunk fingerprint."""
    return f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    w AS (
      SELECT doc_id,
             generate_subscripts(words, 1) - 1 AS pos,
             unnest(words) AS word
      FROM ws),
    g AS (
      SELECT doc_id, pos, word,
             pos >= {CDC_GRAM - 1} AND
             ('0x' || substr(md5(
                lag(word, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                || ' ' ||
                lag(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                || ' ' || word), 1, 15))::BIGINT % {divisor} = 0
               AS boundary
      FROM w),
    a AS (
      SELECT doc_id, pos, word,
             COALESCE(SUM(CASE WHEN boundary THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS chunk_idx
      FROM g),
    chunks AS (
      SELECT doc_id, chunk_idx,
             COUNT(*)::BIGINT AS n_words,
             sha256(string_agg(word, ' ' ORDER BY pos)) AS chunk_sha
      FROM a GROUP BY 1, 2)
    SELECT doc_id, chunk_idx, n_words, chunk_sha,
           COUNT(*) OVER (PARTITION BY chunk_sha)::BIGINT AS n_copies
    FROM chunks
    """


# ---------------------------------------------------------------------------
# b-bit MinHash (Li & Koenig 2010) — sketch compression audit
# ---------------------------------------------------------------------------

def bbit_minhash_audit(docs: DataFrame, threshold: float = 0.4,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """1-bit MinHash compression audit (Li & Koenig, WWW 2010): keep only
    the LOWEST BIT of each of the 16 permutation minima — a 64x smaller
    sketch (2 bytes/doc instead of 128) — and report, for every verified
    near-dup pair, the bit-agreement count and the b=1 unbiased estimator

        ``est_1bit = max(0, 2 * agree/16 - 1)``

    (for b=1 a non-matching pair still agrees with probability 1/2, so
    the raw agreement rate is debiased by 2x-1) next to the exact
    verified Jaccard — the audit that tells a 100-TB operator what
    signature-compression costs in estimator variance before they commit
    to shipping 2-byte sketches through the exchange.  Estimator values
    are exact multiples of 1/8 (binary-exact doubles), so no rounding
    discipline is needed.

    Scale shape: pairs come from the banded LSH path (never all-pairs);
    the signature frame is n_docs x 16 longs; the agreement count is one
    map-combinable aggregate over pair-joined signatures.
    Output: (src, dst, agree_1bit, est_1bit, jaccard)."""
    from ..cache import tracked_persist

    pairs = minhash_lsh_pairs(docs, threshold, text_col, id_col)
    sig = tracked_persist(
        minhash_signatures(docs, text_col, id_col).select(
            "doc_id", "perm", (F.col("minhash") % 2).alias("bit")
        )
    )
    sa = sig.select(F.col("doc_id").alias("src"), "perm",
                    F.col("bit").alias("bit_a"))
    sb = sig.select(F.col("doc_id").alias("dst"), "perm",
                    F.col("bit").alias("bit_b"))
    agree = (
        pairs.join(sa, "src")
        .join(sb, ["dst", "perm"])
        .groupBy("src", "dst", "jaccard")
        .agg(
            F.sum((F.col("bit_a") == F.col("bit_b")).cast("long"))
            .alias("agree_1bit")
        )
    )
    est = F.greatest(
        F.lit(0.0),
        F.lit(2.0) * F.col("agree_1bit") / F.lit(16.0) - F.lit(1.0),
    )
    return agree.select(
        "src", "dst", "agree_1bit", est.alias("est_1bit"), "jaccard"
    )


def bbit_minhash_audit_sql(threshold: float = 0.4) -> str:
    """DuckDB twin: same LSH pair set, same lowest-bit sketch, same
    debiased estimator."""
    return f"""
    WITH pairs AS ({minhash_pairs_sql(threshold)}),
    bits AS (
      SELECT doc_id, perm, minhash % 2 AS bit FROM (
        {minhash_sig_sql()} SELECT doc_id, perm, minhash FROM sig))
    SELECT p.src, p.dst,
           SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END)::BIGINT
             AS agree_1bit,
           GREATEST(0.0,
             2.0 * SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END) / 16.0
             - 1.0) AS est_1bit,
           p.jaccard
    FROM pairs p
    JOIN bits ba ON ba.doc_id = p.src
    JOIN bits bb ON bb.doc_id = p.dst AND bb.perm = ba.perm
    GROUP BY p.src, p.dst, p.jaccard
    """


# ---------------------------------------------------------------------------
# LSH S-curve audit: empirical capture rate vs banding theory, per sim bucket
# ---------------------------------------------------------------------------

def lsh_scurve(docs: DataFrame, n: int = 3, df_cap: int = NGRAM_DF_CAP,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The (bands, rows) tuning audit behind every LSH deployment: for each
    exact-Jaccard decile, the fraction of true overlap pairs the band
    blocking actually captured next to the theoretical capture probability
    ``1 - (1 - s^r)^b`` at the bucket midpoint (r = 4 perms/band, b = 4
    bands).  This is the measured S-curve that decides whether the
    production banding is sharp enough BEFORE a 100-TB dedup run commits
    to it — ds_lsh_recall_eval answers "did we miss pairs at the
    threshold"; this answers "is the whole curve shaped as theory says"
    (a mismatch means broken hashing/banding, not bad luck).

    Everything is computed over the SAME hot-capped shingle space —
    ground truth AND signatures — so empirics and theory talk about one
    similarity measure.  The ground-truth overlap join is the audit's
    cost (quadratic in df_cap per shingle, the documented cap bound); at
    production scale this runs on a deterministic corpus sample, never
    the full table.

    Output: (bucket, n_pairs, n_captured, capture_rate, theory_mid) —
    counts exact BIGINT, rates snapped to the 1e-6 grid, theory as an
    explicit multiply chain (no libm pow: bit-parity across engines).
    """
    sh_all = shingle_rows(docs, text_col, id_col, n)
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = tracked_persist(
        sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    exact = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("src"),
                 F.col("b.doc_id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.withColumnRenamed("doc_id", "src")
              .withColumnRenamed("n_sh", "sz_a"), "src")
        .join(sizes.withColumnRenamed("doc_id", "dst")
              .withColumnRenamed("n_sh", "sz_b"), "dst")
        .select(
            "src", "dst",
            (F.col("n_common")
             / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
             ).alias("jac_raw"),
        )
    )
    sig = signatures_from_shingles(sh)
    band = (
        sig.groupBy(
            "doc_id",
            F.floor(F.col("perm") / MINHASH_BAND_PERMS).alias("band"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("perm", "minhash")))
             .alias("s"))
        .select(
            "doc_id", "band",
            F.array_join(
                F.transform("s", lambda x: x["minhash"].cast("string")), ","
            ).alias("band_sig"),
        )
    )
    ba, bb = band.alias("ba"), band.alias("bb")
    captured = (
        ba.join(bb, ["band", "band_sig"])
        .where(F.col("ba.doc_id") < F.col("bb.doc_id"))
        .select(F.col("ba.doc_id").alias("src"),
                F.col("bb.doc_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .withColumn("_caught", F.lit(1))
    )
    bucket = F.least(F.floor(F.col("jac_raw") * 10).cast("int"), F.lit(9))
    mid = (F.col("bucket").cast("double") + F.lit(0.5)) / F.lit(10.0)
    m2 = mid * mid
    s4 = m2 * m2
    q = F.lit(1.0) - s4
    q2 = q * q
    q4 = q2 * q2
    snap = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return (
        exact.join(captured, ["src", "dst"], "left")
        .select(bucket.alias("bucket"), F.col("_caught"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("_caught"), F.lit(0))).alias("n_captured"),
        )
        .select(
            "bucket", "n_pairs", "n_captured",
            snap(F.col("n_captured").cast("double")
                 / F.col("n_pairs").cast("double")).alias("capture_rate"),
            snap(F.lit(1.0) - q4).alias("theory_mid"),
        )
    )


def lsh_scurve_sql(df_cap: int = NGRAM_DF_CAP) -> str:
    """DuckDB twin of :func:`lsh_scurve` — identical capped shingle space,
    identical literal permutation family over it, identical bucket and
    multiply-chain theory arithmetic."""
    coef_rows = ",\n        ".join(
        "({}, {}, {})".format(p, *_perm_coeffs(p))
        for p in range(N_MINHASH_PERMS)
    )
    return f"""
    WITH sh0 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(len(string_split(text, ' ')) - 2),
                 i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3], ' ')
               )) AS shingle
        FROM documents)),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {df_cap}),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    exact AS (
      SELECT i.src, i.dst,
             i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE)
               AS jac_raw
      FROM (
        SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS n_common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2) i
      JOIN sizes sa ON sa.doc_id = i.src
      JOIN sizes sb ON sb.doc_id = i.dst),
    hsh AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
      FROM sh),
    coef AS (SELECT * FROM (VALUES
        {coef_rows}) v(perm, a, b)),
    sig AS (
      SELECT doc_id, perm,
             MIN((a * (h % {_MH_PRIME}) + b) % {_MH_PRIME}) AS minhash
      FROM hsh CROSS JOIN coef
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, perm // {MINHASH_BAND_PERMS} AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS band_sig
      FROM sig GROUP BY 1, 2),
    captured AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id),
    bucketed AS (
      SELECT LEAST(FLOOR(e.jac_raw * 10)::INT, 9) AS bucket,
             (c.src IS NOT NULL)::INT AS caught
      FROM exact e LEFT JOIN captured c
        ON e.src = c.src AND e.dst = c.dst),
    grouped AS (
      SELECT bucket, COUNT(*)::BIGINT AS n_pairs,
             SUM(caught)::BIGINT AS n_captured
      FROM bucketed GROUP BY bucket)
    SELECT bucket, n_pairs, n_captured,
           FLOOR(n_captured::DOUBLE / n_pairs::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS capture_rate,
           FLOOR((1.0 - (((1.0 - (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))
                                 * (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0)))
                           * (1.0 - (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))
                                 * (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))))
                          * ((1.0 - (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))
                                 * (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0)))
                           * (1.0 - (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))
                                 * (((bucket::DOUBLE + 0.5) / 10.0)
                                  * ((bucket::DOUBLE + 0.5) / 10.0))))))
                 * 1000000.0 + 0.5) / 1000000.0 AS theory_mid
    FROM grouped
    """
