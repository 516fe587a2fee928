"""Column statistics, bootstrap CI and harmonic closeness: hand-computed
semantics on tiny frames (oracle parity runs in tests/driver_compare.py;
plan shape is asserted in tests/test_plans.py)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row

from ehr_ner_spark.hashing import md5_60
from ehr_ner_spark.operators.bootstrap import (
    BOOT_HI_RANK,
    BOOT_LO_RANK,
    BOOT_REPLICAS,
    BOOT_SALT,
    bootstrap_ci,
)
from ehr_ner_spark.operators.paths import harmonic_closeness


def test_column_stats_hand_values(spark):
    from ehr_ner_spark.operators import colstats

    df = spark.createDataFrame(
        [
            (1, None, "A", "O"),
            (2, None, "A", None),
            (10, None, "R", "FF"),
        ],
        "l_orderkey BIGINT, l_shipdate TIMESTAMP, l_returnflag STRING,"
        " l_linestatus STRING",
    )
    out = {r["column"]: r for r in colstats.column_stats(df).collect()}
    ok = out["l_orderkey"]
    assert (ok["n_rows"], ok["n_null"], ok["ndv"]) == (3, 0, 3)
    # NATIVE numeric order: min 1, max 10 (lexicographic would say "10" < "9")
    assert (ok["min_v"], ok["max_v"]) == ("1", "10")
    # widths "1","2","10" -> 4 chars / 3 rows
    assert ok["avg_width_micro"] == (4 * 1_000_000) // 3 + 0  # 1333333
    ls = out["l_linestatus"]
    assert (ls["n_null"], ls["ndv"]) == (1, 2)
    assert (ls["min_v"], ls["max_v"]) == ("FF", "O")
    # widths "O","FF" over 2 non-null rows -> 1.5 chars
    assert ls["avg_width_micro"] == 1_500_000
    sd = out["l_shipdate"]
    # all-null column: ndv 0, no min/max, zero width by definition
    assert (sd["n_null"], sd["ndv"]) == (3, 0)
    assert sd["min_v"] is None and sd["max_v"] is None
    assert sd["avg_width_micro"] == 0


def test_column_stats_empty_input_matches_oracle(spark):
    """An empty table yields the DuckDB twin's rows: zero rows and zero
    width, not NULLs."""
    import duckdb

    from ehr_ner_spark.operators import colstats

    cols = ("l_orderkey BIGINT, l_shipdate DATE, l_returnflag STRING,"
            " l_linestatus STRING")
    got = sorted(
        tuple(r) for r in colstats.column_stats(
            spark.createDataFrame([], cols)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE TABLE lineitem ({cols})")
    want = sorted(con.execute(colstats.column_stats_sql()).fetchall())
    assert got == want
    assert [(r[1], r[-1]) for r in got] == [(0, 0)] * len(colstats.STAT_COLS)


def test_bootstrap_ci_matches_python_replication(spark):
    vals = {i: 50 + 7 * (i % 13) for i in range(120)}
    docs = spark.createDataFrame(
        [Row(doc_id=i, n_chars=v) for i, v in vals.items()]
    )
    means = []
    for b in range(BOOT_REPLICAS):
        s = c = 0
        for i, v in vals.items():
            w = md5_60(f"{BOOT_SALT}:{b}:{i}") % 3
            s += w * v
            c += w
        mu = 1_000_000
        means.append(0 if c == 0 else (s // c) * mu + ((s % c) * mu) // c)
    means.sort()
    tot = sum(vals.values())
    n = len(vals)
    exp_mean = (tot // n) * 1_000_000 + ((tot % n) * 1_000_000) // n
    r = bootstrap_ci(docs).collect()[0]
    assert r["n_docs"] == n and r["n_replicas"] == BOOT_REPLICAS
    assert r["mean_micro"] == exp_mean
    assert r["ci_lo_micro"] == means[BOOT_LO_RANK]
    assert r["ci_hi_micro"] == means[BOOT_HI_RANK]
    assert r["ci_lo_micro"] <= r["mean_micro"] <= r["ci_hi_micro"]


def test_bootstrap_ci_constant_column_degenerate(spark):
    """A constant column has zero sampling variance: every replica mean
    equals the true mean, so the band collapses onto it."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, n_chars=42) for i in range(50)]
    )
    r = bootstrap_ci(docs).collect()[0]
    assert r["mean_micro"] == 42_000_000
    assert r["ci_lo_micro"] == 42_000_000 and r["ci_hi_micro"] == 42_000_000


def test_harmonic_closeness_star_graph(spark):
    """Hub h connects to 6 leaves; leaves also chain a-b.  The hub's
    harmonic score is reached*1e6 at dist 1 plus the 2-hop corrections;
    recompute by hand via BFS."""
    leaves = [f"l{i}" for i in range(6)]
    edges = [Row(ent_a="hub", ent_b=x) for x in leaves]
    edges += [Row(ent_a="l0", ent_b="l1")]
    df = spark.createDataFrame(edges)
    out = {r["landmark"]: r for r in
           harmonic_closeness(df, n_landmarks=1).collect()}
    assert set(out) == {"hub"}  # highest degree
    r = out["hub"]
    # dist 1 to all six leaves, nothing further
    assert r["n_reached"] == 6 and r["sum_dist"] == 6
    assert r["harmonic_micro"] == 6 * 1_000_000


def test_harmonic_closeness_counts_partial_reciprocals(spark):
    """A path graph a-b-c-d from landmark a (degree ties broken by name):
    dist 1,2,3 -> harmonic = 1e6 + 5e5 + 333333."""
    df = spark.createDataFrame(
        [Row(ent_a="a", ent_b="b"), Row(ent_a="b", ent_b="c"),
         Row(ent_a="c", ent_b="d")]
    )
    out = {r["landmark"]: r for r in
           harmonic_closeness(df, n_landmarks=1).collect()}
    # degrees: b=2, c=2, a=1, d=1 -> landmark is "b" (deg DESC, name ASC)
    assert set(out) == {"b"}
    r = out["b"]
    # from b: a=1, c=1, d=2
    assert r["n_reached"] == 3 and r["sum_dist"] == 4
    assert r["harmonic_micro"] == 2 * 1_000_000 + 500_000


def test_join_cardinality_exact_and_sampled(spark):
    """actual = sum df_o*df_l without materializing the join; the key
    sample keeps both sides of a key together so the estimate scales the
    sampled key mass by the modulus."""
    from ehr_ner_spark.operators.colstats import join_cardinality

    orders = spark.createDataFrame(
        [(k, "x") for k in range(64) for _ in range(1 + k % 3)],
        "o_orderkey long, pad string",
    )
    lineitem = spark.createDataFrame(
        [(k, 1.0) for k in range(64) for _ in range(2)],
        "l_orderkey long, v double",
    )
    row = join_cardinality(orders, lineitem, sample_mod=4).collect()[0]
    actual = sum((1 + k % 3) * 2 for k in range(64))
    est = 4 * sum((1 + k % 3) * 2 for k in range(64) if k % 4 == 0)
    assert row.actual_rows == actual
    assert row.est_rows == est
    import math

    assert row.rel_err_micro == math.floor(
        abs(est - actual) / actual * 1e6
    )
