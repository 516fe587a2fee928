"""Entity linking + canonicalization tests: recall of the LSH blocking vs a
brute-force oracle, determinism under different partitioning, and canonical
election total-ordering."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from ehr_ner_spark.operators.linking import (
    canonical_triples,
    canonicalize,
    candidate_pairs,
    connected_components,
    shingles,
    surface_signatures,
    verified_edges,
)


def _mentions_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, repo string, content_sha string, type string,"
        " start_pos int, end_pos int, text string"
    )


SURFACES = [
    # alias cluster 1: shared long prefix -> high jaccard
    "aspirin100mg", "aspirin100mgx", "aspirin100m",
    # alias cluster 2
    "chemotherapy", "chemotherapyy",
    # singletons
    "sort", "window", "value",
]


@pytest.fixture(scope="module")
def mentions(spark):
    rows = []
    for i, s in enumerate(SURFACES):
        # vary frequency: earlier surfaces more frequent
        for k in range(len(SURFACES) - i):
            rows.append((100 + k, "repo_1", "sha", "DTN", i, i, s))
    return _mentions_df(spark, rows)


def _uf_clusters(surfaces, threshold=0.5):
    parent = {s: s for s in surfaces}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    def jac(a, b):
        sa, sb = set(shingles(a)), set(shingles(b))
        return len(sa & sb) / len(sa | sb)

    for a, b in itertools.combinations(surfaces, 2):
        if jac(a, b) >= threshold:
            union(a, b)
    out = {}
    for s in surfaces:
        out.setdefault(find(s), set()).add(s)
    return {frozenset(v) for v in out.values()}


def test_canonicalize_matches_bruteforce(spark, mentions):
    canon = canonicalize(mentions).collect()
    got = {}
    for r in canon:
        got.setdefault(r.component, set()).add(r.text)
    got_clusters = {frozenset(v) for v in got.values()}
    expected = _uf_clusters(SURFACES)
    assert got_clusters == expected


def test_canonical_is_most_frequent_then_lexmin(spark, mentions):
    canon = {r.text: r.canonical_text for r in canonicalize(mentions).collect()}
    # cluster 1: 'aspirin100mg' is the most frequent member
    assert canon["aspirin100mgx"] == "aspirin100mg"
    assert canon["aspirin100m"] == "aspirin100mg"
    assert canon["chemotherapyy"] == "chemotherapy"
    assert canon["sort"] == "sort"


def test_determinism_across_partitioning(spark, mentions):
    a = sorted(
        (r.text, r.canonical_text)
        for r in canonicalize(mentions.repartition(1)).collect()
    )
    b = sorted(
        (r.text, r.canonical_text)
        for r in canonicalize(mentions.repartition(7, "text")).collect()
    )
    assert a == b


def test_minhash_lsh_recall():
    """Identical signatures for identical strings; near-dups collide in at
    least one band with overwhelming probability at J>=0.8.  The batched
    kernel equals the per-text definition: min over the permuted md5-60
    hashes of the text's shingles."""
    import numpy as np

    from ehr_ner_spark.hashing import md5_60
    from ehr_ner_spark.operators.linking import _minhash, _perm_matrix

    texts = ["aspirin100mg", "aspirin100mg", "aspirin100mgx", "", "ab"]
    sig, owner, hashes = _minhash(texts)
    a, b, c = sig[:3]
    assert (a == b).all()
    agree = float((a == c).mean())
    assert agree > 0.5  # J(a, c) ~ 11/13
    for i, t in enumerate(texts):
        x = np.array(sorted({md5_60(s) for s in shingles(t)}), dtype=np.int64)
        assert (hashes[owner == i] == x).all()
        assert (sig[i] == _perm_matrix(x).min(axis=0)).all()


def test_connected_components_chain(spark):
    v = spark.createDataFrame([(i,) for i in range(6)], "surface_id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src long, dst long"
    )
    comps = {r.surface_id: r.component for r in connected_components(v, e).collect()}
    assert comps[0] == comps[1] == comps[2] == 0
    assert comps[3] == comps[4] == 3
    assert comps[5] == 5


def test_connected_components_strategies_agree(spark):
    """Single-pass union-find (small-graph path) == iterative pointer-jump
    propagation (large-graph path), incl. 64-bit hash-sized ids."""
    import random

    rng = random.Random(7)
    ids = [rng.getrandbits(63) - (1 << 62) for _ in range(80)]
    v = spark.createDataFrame([(i,) for i in ids], "surface_id long")
    e = spark.createDataFrame(
        [(ids[rng.randrange(80)], ids[rng.randrange(80)]) for _ in range(60)],
        "src long, dst long",
    )
    small = {r.surface_id: r.component
             for r in connected_components(v, e).collect()}
    large = {r.surface_id: r.component
             for r in connected_components(v, e, small_graph_edges=0).collect()}
    assert small == large


def test_canonical_triples_shape(spark, mentions):
    cm = canonicalize(mentions)
    t = canonical_triples(mentions, cm)
    rows = t.collect()
    assert len(rows) == mentions.count()
    assert all(r.subj.startswith("doc:") for r in rows)
    assert all(r.pred == "hasEntityType:DTN" for r in rows)
    m = {r.surface: r.obj for r in rows}
    assert m["aspirin100m"] == "aspirin100mg"


def test_alias_dictionary_cluster_invariants(spark, sf_dir):
    from ehr_ner_spark.entrypoints import QUERIES_REGISTRY

    rows = QUERIES_REGISTRY["kg_alias_dictionary"](spark, sf_dir).collect()
    assert rows, "fixture produced no multi-surface clusters"
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r.canonical, []).append(r)
    for canon, members in by_canon.items():
        # exactly one representative, and it is the canonical surface
        reps = [m for m in members if m.is_canonical]
        assert len(reps) == 1 and reps[0].alias == canon
        assert all(m.n_aliases == len(members) for m in members)
        assert len(members) >= 2
        # election order: representative has the max mention count
        # (ties broken by text asc, which the alias sort can't see here)
        assert reps[0].n_mentions == max(m.n_mentions for m in members) or \
            reps[0].alias < min(
                m.alias for m in members
                if m.n_mentions == max(x.n_mentions for x in members)
            )


def test_min_band_hits_filter_semantics(spark):
    """A candidate needs >=MIN_BAND_HITS distinct small-bucket band
    collisions; capped-bucket chain pairs bypass the filter (they carry
    connectivity, not similarity evidence).  Signatures are PLANTED so
    band collisions are exact by construction."""
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from ehr_ner_spark.operators.linking import (
        LSH_BANDS, LSH_ROWS, MIN_BAND_HITS, PAIR_CAP,
    )

    assert MIN_BAND_HITS == 2  # the planted cases below encode K=2

    def sig(*band_vals):
        # band b's identity = sig[2b:2b+2]; distinct filler guarantees no
        # accidental collisions outside the planted bands
        out = []
        for b in range(LSH_BANDS):
            out.extend(band_vals[b])
        return out

    uniq = itertools.count(1000)

    def filler():
        return (next(uniq), next(uniq))

    # s1/s2 collide in bands 0 AND 1 (-> kept); s3 collides with s1 only
    # in band 0 (-> dropped); s4 shares nothing (control)
    shared0, shared1 = (7, 7), (9, 9)
    rows = [
        (1, "s1", 1, sig(shared0, shared1, *[filler() for _ in range(LSH_BANDS - 2)]), [1]),
        (2, "s2", 1, sig(shared0, shared1, *[filler() for _ in range(LSH_BANDS - 2)]), [2]),
        (3, "s3", 1, sig(shared0, *[filler() for _ in range(LSH_BANDS - 1)]), [3]),
        (4, "s4", 1, sig(*[filler() for _ in range(LSH_BANDS)]), [4]),
    ]
    schema = StructType([
        StructField("surface_id", LongType()),
        StructField("text", StringType()),
        StructField("n_mentions", LongType()),
        StructField("sig", ArrayType(LongType())),
        StructField("shingle_hashes", ArrayType(LongType())),
    ])
    sigs = spark.createDataFrame(rows, schema)
    got = {(r["src"], r["dst"]) for r in candidate_pairs(sigs).collect()}
    assert got == {(1, 2)}, got

    # chain exemption: an oversized band-0 bucket emits consecutive chain
    # pairs, each seen in only ONE band — they must survive the filter
    big = [
        (i, f"c{i}", 1,
         sig(shared0, *[filler() for _ in range(LSH_BANDS - 1)]), [i])
        for i in range(1, PAIR_CAP + 3)
    ]
    sigs_big = spark.createDataFrame(big, schema)
    chain = {(r["src"], r["dst"]) for r in candidate_pairs(sigs_big).collect()}
    ids = sorted(r[0] for r in big)
    assert chain == {(a, b) for a, b in zip(ids, ids[1:])}


def test_band_filter_recall_counts(spark, sf_dir):
    """The audit row's invariants: filtered candidates/edges are subsets
    of the unfiltered ones, and the micro recall is the exact integer
    division of the two edge counts."""
    from ehr_ner_spark.corpus import corpus
    from ehr_ner_spark.operators.linking import band_filter_recall
    from ehr_ner_spark.operators.mention_detect import detect_mentions

    m = detect_mentions(corpus(spark, sf_dir), num_partitions=4)
    row = band_filter_recall(m).collect()[0]
    assert 0 < row["n_cand_filtered"] <= row["n_cand_all"]
    assert 0 < row["n_edges_filtered"] <= row["n_edges_all"]
    assert row["edge_recall_micro"] == (
        1_000_000 * row["n_edges_filtered"] // max(row["n_edges_all"], 1)
    )


def test_skew_guard_stats_duplication_invariance(spark, mentions):
    """The driver row's core claim: k-fold duplicated mentions produce
    IDENTICAL surface-level guard stats to the base stream (the groupBy
    collapses duplication map-side), with only n_mentions scaling by k."""
    from ehr_ner_spark.operators.linking import skew_guard_stats

    base = skew_guard_stats(mentions, k=1).collect()[0].asDict()
    dup = skew_guard_stats(mentions, k=7).collect()[0].asDict()
    assert dup["n_mentions"] == 7 * base["n_mentions"]
    for col in ("n_surfaces", "n_band_buckets", "max_bucket_size",
                "oversized_buckets", "candidate_pairs", "verified_edges",
                "n_components"):
        assert dup[col] == base[col], f"{col} not duplication-invariant"
    assert dup["k"] == 7


def _hexstr(seed: str, n: int) -> str:
    import hashlib

    out, i = "", 0
    while len(out) < n:
        out += hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        i += 1
    return out[:n]


def test_band_filter_recall_border_adversarial(spark):
    """MIN_BAND_HITS recall on a deliberately border-heavy corpus: every
    engineered pair sits at Jaccard just above the 0.5 verify threshold —
    exactly where the r=2 S-curve is weakest and the >=2-band frequency
    filter loses the most (the sf0.01 measurement of 96.7% could in
    principle have been propped up by easy high-J pairs; this corpus has
    none).  Analytic expectation at J~0.51-0.57 with b=16/r=2:
    P(>=2 band hits) ~ 0.94-0.98, so recall must still clear 0.85.

    Pairs are built by prefix-sharing: partner = first k chars of base +
    novel suffix, giving shared-shingle count s ~ k-2 and J = s/(2n-s);
    md5-hex alphabet keeps cross-pair shingle collisions negligible.
    Sub-threshold decoys (J ~ 0.49) are mixed in to keep the candidate
    stage honest (they may band-collide but must never become edges)."""
    from ehr_ner_spark.operators.linking import band_filter_recall

    rows = []
    did = 0

    def add(text):
        nonlocal did
        rows.append((did, "r", "s", "DTN", 0, 0, text))
        did += 1

    for i in range(120):
        # L=31 (n~29 shingles): prefix 22 -> s~20, J ~ 20/38 = 0.526
        a = _hexstr(f"b31:{i}", 31)
        add(a)
        add(a[:22] + _hexstr(f"p31:{i}", 9))
    for i in range(120):
        # L=61 (n~59 shingles): prefix 42 -> s~40, J ~ 40/78 = 0.513
        a = _hexstr(f"b61:{i}", 61)
        add(a)
        add(a[:42] + _hexstr(f"p61:{i}", 19))
    for i in range(60):
        # sub-threshold decoys: prefix 20 of 31 -> J ~ 18/40 = 0.45
        a = _hexstr(f"d31:{i}", 31)
        add(a)
        add(a[:20] + _hexstr(f"q31:{i}", 11))

    r = band_filter_recall(_mentions_df(spark, rows)).collect()[0].asDict()
    # enough true border edges that the recall ratio is meaningful
    assert r["n_edges_all"] >= 100, r
    # the filter must actually be filtering (candidates strictly fewer)
    assert r["n_cand_filtered"] < r["n_cand_all"], r
    recall = r["n_edges_filtered"] / r["n_edges_all"]
    assert recall >= 0.85, (
        f"border-adversarial recall {recall:.3f} below floor; "
        f"stats={r} — consider min_band_hits=1 (canonicalize dial)"
    )


def test_canonicalize_min_band_hits_dial(spark, mentions):
    """min_band_hits=1 (filter off) must link at least as much as the
    default: every default cluster edge survives, so component count can
    only stay equal or shrink (more merges)."""
    from ehr_ner_spark.operators.linking import canonicalize

    base = canonicalize(mentions)
    loose = canonicalize(mentions, min_band_hits=1)
    n_base = base.select("component").distinct().count()
    n_loose = loose.select("component").distinct().count()
    assert n_loose <= n_base


# degenerate and skewed surfaces: empty, whitespace, 1-2 characters, CJK,
# near-duplicates with tied counts; 100 border pairs at J ~ 0.53, some of
# which collide in one band only (the MIN_BAND_HITS filter decides them);
# and 150 surfaces sharing a 60-char prefix (J ~ 0.9): nearly every band
# puts them in one bucket larger than PAIR_CAP, so they link by chain pairs
CHAIN_PREFIX = _hexstr("chain", 60)
PARITY_SURFACES = (
    ["", " ", "  \t", "a", "b", "ab", "ba", "é", "阿司匹林", "阿司匹林片",
     "阿司匹林肠溶片", "布洛芬", "2型糖尿病", "aspirin100mg", "aspirin100mgx",
     "aspirin100m", "chemotherapy", "chemotherapyy"]
    + [t for i in range(100) for t in (
        _hexstr(f"b31:{i}", 31),
        _hexstr(f"b31:{i}", 22) + _hexstr(f"p31:{i}", 9))]
    + [CHAIN_PREFIX + "%03d" % i for i in range(150)]
)


@pytest.mark.parametrize("min_band_hits", [None, 1])
def test_canonicalize_strategies_agree(spark, monkeypatch, min_band_hits):
    """The one-pass strategy and the distributed one give identical rows.
    T = -1 forces the distributed path even for empty input (a probe
    count of 0 is never <= -1); T above the input size forces one pass."""
    from ehr_ner_spark.operators import linking
    from ehr_ner_spark.operators.linking import blocking_stats

    rows = [
        (i * 10 + k, "r", "s", "DTN", 0, len(t), t)
        for i, t in enumerate(PARITY_SURFACES)
        for k in range(1 + i % 3)
    ]
    m = _mentions_df(spark, rows)
    empty = _mentions_df(spark, [])
    stats = blocking_stats(surface_signatures(m)).agg(F.sum("n_capped")).first()
    assert stats[0] > 0, "no band bucket exceeds PAIR_CAP"

    one_pass = []
    real = linking._link_surfaces
    monkeypatch.setattr(
        linking, "_link_surfaces", lambda *a: one_pass.append(1) or real(*a)
    )
    got = {}
    for t in (-1, len(PARITY_SURFACES) + 1):
        monkeypatch.setattr(linking, "ONE_PASS_MAX_SURFACES", t)
        got[t] = [
            sorted(tuple(r) for r in
                   canonicalize(df, min_band_hits=min_band_hits).collect())
            for df in (m, empty)
        ]
    assert len(one_pass) == 2  # only the T above the input size
    dist, one = got.values()
    assert dist == one
    assert len(one[0]) == len(PARITY_SURFACES) and one[1] == []
    # the 150-surface block links through its chain pairs
    assert len({r[2] for r in one[0] if r[0].startswith(CHAIN_PREFIX)}) == 1
