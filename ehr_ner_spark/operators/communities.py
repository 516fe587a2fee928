"""Community detection over the entity co-occurrence graph: synchronous
label propagation (LPA), the classic near-linear community algorithm for
KG enrichment — groups drugs/diseases/treatments that keep appearing in
the same clinical notes into candidate "topic" communities.

Spark-first shape, fourth iterative graph operator in the family (after
connected components, k-means, PageRank) — fully declarative, no driver
round-trip at all:

* edges are the distinct per-doc entity pairs with support >= ``min_pair``
  (the same doc-keyed a<b self-join as operators/cooccur.py — fan-out
  bounded by a document-local constant), deduplicated once and persisted;
* each round is ONE equi-join of the label frame onto the doubled edge
  frame + a map-side-combined (node, label) count + a combinable
  min(struct(-votes, label)) winner aggregation — no window, no sort;
  shuffle volume O(edges) per round at any scale;
* the label vector stays distributed end to end.

Determinism (why this oracle is exact with zero float discipline):
synchronous updates, every node votes its own current label once plus one
vote per neighbor, and the winner is (max votes, then LEXICOGRAPHICALLY
SMALLEST label) — pure integer counts and string comparisons, so the
unrolled-CTE DuckDB twin matches bit-for-bit.  Asynchronous/randomized
LPA (the Raghavan et al. 2007 original) trades determinism for faster
convergence; a fixed small round count with the self-vote is the standard
deterministic variant (GraphFrames' labelPropagation uses the same
synchronous shape).

Reference contact: the reference surfaces per-document mention lists only
(ner_api.py); corpus-level graph analytics is an engine extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LPA_ITERS = 4
LPA_MIN_PAIR = 2


def entity_edges(mentions: DataFrame, min_pair: int = LPA_MIN_PAIR) -> DataFrame:
    """(doc_id, text) mentions -> undirected distinct entity edges
    (ent_a < ent_b) with co-occurrence support >= ``min_pair``."""
    ents = mentions.select("doc_id", "text").distinct()
    a = ents.select("doc_id", F.col("text").alias("ent_a"))
    b = ents.select("doc_id", F.col("text").alias("ent_b"))
    return (
        a.join(b, "doc_id")
        .where(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair)
        .select("ent_a", "ent_b")
    )


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS,
                      checkpoint: bool = True) -> DataFrame:
    """Undirected (ent_a, ent_b) edges -> (entity, community, n_members)
    after ``iters`` synchronous LPA rounds seeded with label = own name.

    The winner rule (votes DESC, label ASC) is evaluated as
    ``min(struct(-votes, label))`` — a map-side-combinable aggregation
    instead of a node-partitioned window, so each round is two partial
    aggregations and one join with NO sort anywhere."""
    from ..cache import tracked_persist

    bidir = tracked_persist(
        edges.select(F.col("ent_a").alias("src"), F.col("ent_b").alias("dst"))
        .unionByName(
            edges.select(F.col("ent_b").alias("src"), F.col("ent_a").alias("dst"))
        )
    )
    # the label frame is consumed TWICE per round (neighbor join + the
    # self-vote union) and again as the next round's input — without
    # per-round lineage truncation the plan doubles every round (2^iters
    # re-executions of round 1, and the logical tree itself explodes).
    # localCheckpoint is the standard iterative-loop discipline: the frame
    # is ONE ROW PER NODE, materialized once, and the next round starts
    # from a flat leaf.  iters is a fixed small constant, so the per-round
    # driver sync is bounded and trivial next to the round's shuffle.
    _ckpt = ((lambda df: df.localCheckpoint(eager=True)) if checkpoint
             else (lambda df: df))
    labels = _ckpt(
        bidir.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
    )
    for _ in range(iters):
        nbr = bidir.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        votes = (
            nbr.unionByName(labels)
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = _ckpt(
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"),
                        F.col("label").alias("label"),
                    )
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("entity"),
        F.col("label").alias("community"),
        "n_members",
    )


def _lpa_cte_parts(
    mentions_sql: str,
    iters: int = LPA_ITERS,
    min_pair: int = LPA_MIN_PAIR,
) -> list:
    """The unrolled LPA CTE chain (shared by the communities oracle and
    the modularity-trajectory oracle)."""
    parts = [f"""
    WITH mentions AS ({mentions_sql}),
    ents AS (SELECT DISTINCT doc_id, text FROM mentions),
    ed AS MATERIALIZED (
      SELECT a.text AS ent_a, b.text AS ent_b
      FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.text < b.text
      GROUP BY a.text, b.text
      HAVING COUNT(*) >= {min_pair}),
    bidir AS MATERIALIZED (
      SELECT ent_a AS src, ent_b AS dst FROM ed
      UNION ALL SELECT ent_b AS src, ent_a AS dst FROM ed),
    l0 AS MATERIALIZED (
      SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM bidir))"""]
    for it in range(1, iters + 1):
        parts.append(f""",
    v{it} AS MATERIALIZED (
      SELECT node, label, COUNT(*) AS votes FROM (
        SELECT e.dst AS node, l.label FROM bidir e
        JOIN l{it - 1} l ON l.node = e.src
        UNION ALL SELECT node, label FROM l{it - 1})
      GROUP BY node, label),
    l{it} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
        FROM v{it})
      WHERE rn = 1)""")
    return parts


def label_propagation_sql(
    mentions_sql: str,
    iters: int = LPA_ITERS,
    min_pair: int = LPA_MIN_PAIR,
) -> str:
    """DuckDB twin: same edges, same synchronous rounds unrolled as
    materialized CTEs, same (votes DESC, label ASC) winner rule."""
    parts = list(_lpa_cte_parts(mentions_sql, iters, min_pair))
    parts.append(f""",
    sizes AS (SELECT label, COUNT(*) AS n_members FROM l{iters} GROUP BY label)
    SELECT l.node AS entity, l.label AS community, s.n_members
    FROM l{iters} l JOIN sizes s ON s.label = l.label""")
    return "".join(parts)


def entity_components(edges: DataFrame) -> DataFrame:
    """Weakly connected components of the entity co-occurrence graph,
    driven through the engine's strategy-selected CC operator
    (operators/linking.py::connected_components: single-pass Arrow
    NumPy min-root hooking under 2M edges, distributed pointer jumping above).

    Entities get 60-bit ids from the shared md5-hex discipline (exactly
    replayable in DuckDB as ('0x'||substr(md5(ent),1,15))::BIGINT); the
    component label maps back to the member entity with the MINIMUM id, so
    the output is pure strings + exact integers.  Returns
    (entity, component, n_members).
    """
    from ..cache import tracked_persist
    from .linking import connected_components

    ids = tracked_persist(
        edges.select(F.col("ent_a").alias("ent"))
        .unionByName(edges.select(F.col("ent_b").alias("ent")))
        .distinct()
        .select(
            "ent",
            F.conv(F.substring(F.md5(F.col("ent")), 1, 15), 16, 10)
            .cast("long")
            .alias("id"),
        )
    )
    eid = (
        edges.join(ids.select(F.col("ent").alias("ent_a"),
                              F.col("id").alias("src")), "ent_a")
        .join(ids.select(F.col("ent").alias("ent_b"),
                         F.col("id").alias("dst")), "ent_b")
        .select("src", "dst")
    )
    cc = connected_components(
        ids.select(F.col("id").alias("surface_id")), eid
    )
    named = (
        cc.join(ids.select(F.col("id").alias("surface_id"),
                           F.col("ent").alias("entity")), "surface_id")
        .join(ids.select(F.col("id").alias("component"),
                         F.col("ent").alias("comp_entity")), "component")
        .select("entity", F.col("comp_entity").alias("component"))
    )
    sizes = named.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return named.join(sizes, "component").select(
        "entity", "component", "n_members"
    )


def entity_components_sql(mentions_sql: str, min_pair: int = LPA_MIN_PAIR) -> str:
    """DuckDB twin: same edges, min-reachable-id components via a
    recursive CTE, same md5-60bit ids and name mapping."""
    return f"""
    WITH RECURSIVE mentions AS ({mentions_sql}),
    ents AS (SELECT DISTINCT doc_id, text FROM mentions),
    ed AS MATERIALIZED (
      SELECT a.text AS ent_a, b.text AS ent_b
      FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.text < b.text
      GROUP BY a.text, b.text
      HAVING COUNT(*) >= {min_pair}),
    ids AS MATERIALIZED (
      SELECT ent, ('0x' || substr(md5(ent), 1, 15))::BIGINT AS id FROM (
        SELECT ent_a AS ent FROM ed UNION SELECT ent_b AS ent FROM ed)),
    ebi AS MATERIALIZED (
      SELECT ia.id AS src, ib.id AS dst
      FROM ed JOIN ids ia ON ia.ent = ed.ent_a
              JOIN ids ib ON ib.ent = ed.ent_b
      UNION ALL
      SELECT ib.id AS src, ia.id AS dst
      FROM ed JOIN ids ia ON ia.ent = ed.ent_a
              JOIN ids ib ON ib.ent = ed.ent_b),
    reach(node, comp) AS (
      SELECT id, id FROM ids
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN ebi e ON e.src = r.node),
    comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
    named AS (
      SELECT i_n.ent AS entity, i_c.ent AS component
      FROM comps c
      JOIN ids i_n ON i_n.id = c.node
      JOIN ids i_c ON i_c.id = c.comp),
    sizes AS (SELECT component, COUNT(*) AS n_members
              FROM named GROUP BY component)
    SELECT n.entity, n.component, s.n_members
    FROM named n JOIN sizes s ON s.component = n.component
    """


KCORE_K = 2
KCORE_ROUNDS = 4


def k_core(edges: DataFrame, k: int = KCORE_K,
           rounds: int = KCORE_ROUNDS,
           checkpoint: bool = True) -> DataFrame:
    """k-core decomposition by synchronous peeling: ``rounds`` rounds of
    "drop every node with degree < k, drop incident edges", then report
    the survivors with their in-core degree — the dense-subgraph filter a
    KG curator runs to separate structurally-supported entities from
    one-off co-occurrence noise.

    A fixed round count (not a fixpoint probe) keeps both engines on the
    exact same trajectory; peeling converges geometrically in practice and
    the round count is a named constant both sides.  Each round
    localCheckpoints its (shrinking) edge frame — one bounded driver sync
    per round buys exactly-once execution and an O(rounds) plan.  Per round: ONE map-side-combined degree aggregation + two
    semi-joins — shuffle O(edges), pure integers throughout.  Returns
    (entity, core_deg) for nodes still meeting the bar after the final
    round.
    """
    from ..cache import tracked_persist

    ed = tracked_persist(edges.select("ent_a", "ent_b"))

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("ent_a").alias("node"))
            .unionByName(e.select(F.col("ent_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    # each round reads the current edge frame three times (twice inside
    # _deg's union, once as the semi-join base) and keep twice — without
    # per-round lineage truncation the peeling plan re-executes earlier
    # rounds exponentially.  localCheckpoint flattens each round to a leaf
    # (rounds is a fixed small constant; the frames shrink monotonically).
    _ckpt = ((lambda df: df.localCheckpoint(eager=True)) if checkpoint
             else (lambda df: df))
    for _ in range(rounds):
        keep = _ckpt(_deg(ed).where(F.col("deg") >= k).select("node"))
        ed = _ckpt(
            ed.join(keep.withColumnRenamed("node", "ent_a"), "ent_a",
                    "left_semi")
            .join(keep.withColumnRenamed("node", "ent_b"), "ent_b",
                  "left_semi")
        )
    return (
        _deg(ed)
        .where(F.col("deg") >= k)
        .select(F.col("node").alias("entity"),
                F.col("deg").alias("core_deg"))
    )


def k_core_sql(mentions_sql: str, k: int = KCORE_K,
               rounds: int = KCORE_ROUNDS,
               min_pair: int = LPA_MIN_PAIR) -> str:
    """DuckDB twin: the same fixed peeling rounds unrolled as materialized
    CTEs over the same entity edges."""
    parts = [f"""
    WITH mentions AS ({mentions_sql}),
    ents AS (SELECT DISTINCT doc_id, text FROM mentions),
    e0 AS MATERIALIZED (
      SELECT a.text AS ent_a, b.text AS ent_b
      FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.text < b.text
      GROUP BY a.text, b.text
      HAVING COUNT(*) >= {min_pair})"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT ent_a AS node FROM e{r - 1}
        UNION ALL SELECT ent_b AS node FROM e{r - 1})
      GROUP BY node),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.ent_a, e.ent_b FROM e{r - 1} e
      JOIN k{r} ka ON ka.node = e.ent_a
      JOIN k{r} kb ON kb.node = e.ent_b)""")
    parts.append(f"""
    SELECT node AS entity, COUNT(*)::BIGINT AS core_deg FROM (
      SELECT ent_a AS node FROM e{rounds}
      UNION ALL SELECT ent_b AS node FROM e{rounds})
    GROUP BY node HAVING COUNT(*) >= {k}""")
    return "".join(parts)


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    entity graph — the partition-quality score that tells a KG pipeline
    whether its communities are structure or noise:

        ``Q = sum over c of (e_c/m - (d_c / 2m)^2)``

    computed in 4m^2-SCALED integer form: per community the numerator
    ``num_c = 4*m*e_c - d_c^2`` is a BIGINT (m = |edges|, e_c =
    intra-community edges, d_c = total degree), and

        ``q_micro = floor(1e6 * sum(num_c) / (4*m^2))``

    is one double division of identical integers — no float summation.

    Scale shape: degrees are one map-side-combined count over the doubled
    edge list; e_c is one two-join pass over edges against the (bounded)
    label frame; everything downstream runs on the communities-sized
    frame.  Output: (community, n_nodes, e_in, d_tot, num, q_micro) —
    q_micro constant across rows (the partition's score).
    """
    edges = edges.persist()
    m = edges.count()
    lab = labels.select("entity", "community")
    deg = (
        edges.select(F.col("ent_a").alias("entity"))
        .unionAll(edges.select(F.col("ent_b").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    la = lab.select(F.col("entity").alias("ent_a"), F.col("community").alias("c_a"))
    lb = lab.select(F.col("entity").alias("ent_b"), F.col("community").alias("c_b"))
    e_in = (
        edges.join(la, "ent_a")
        .join(lb, "ent_b")
        .where(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    per_c = (
        lab.join(deg, "entity", "left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("d_tot"),
        )
        .join(e_in, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "d_tot",
        )
        .withColumn(
            "num",
            F.lit(4) * F.lit(m) * F.col("e_in")
            - F.col("d_tot") * F.col("d_tot"),
        )
    )
    total = per_c.agg(
        F.floor(
            F.lit(1000000) * F.sum("num") / F.lit(4 * m * m)
        ).cast("long").alias("q_micro")
    )
    return per_c.crossJoin(F.broadcast(total))


def modularity_trajectory(edges: DataFrame, rounds: int = LPA_ITERS) -> DataFrame:
    """Modularity of the LPA partition after EACH round 0..``rounds`` —
    the over-merge diagnostic: round 0 (singleton labels) scores the
    negative null-model mass, Q peaks where propagation has found real
    structure, and a collapse to one community drives Q back to exactly
    0.  Each round's score is one :func:`modularity` pass aggregated to
    (round, n_communities, q_micro); re-running LPA per round costs
    k^2/2 joins at this battery size — at warehouse scale the rounds
    would checkpoint and each round's labels would be scored
    incrementally.  Output: (round, n_communities, q_micro)."""
    out = None
    for r in range(rounds + 1):
        labels = label_propagation(edges, iters=r, checkpoint=r > 0)
        per_c = modularity(edges, labels)
        row = per_c.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.max("q_micro").alias("q_micro"),
        ).select(F.lit(r).cast("long").alias("round"), "n_communities", "q_micro")
        out = row if out is None else out.unionAll(row)
    return out


def modularity_trajectory_sql(mentions_sql: str, rounds: int = LPA_ITERS,
                              min_pair: int = LPA_MIN_PAIR) -> str:
    """DuckDB twin: ONE unrolled LPA chain (shared CTE builder), then a
    per-round scaled-integer modularity block over each l{it} frame."""
    parts = list(_lpa_cte_parts(mentions_sql, rounds, min_pair))
    parts.append(f""",
    mm AS (SELECT COUNT(*)::BIGINT AS m FROM ed),
    deg AS (
      SELECT entity, COUNT(*)::BIGINT AS deg FROM (
        SELECT ent_a AS entity FROM ed
        UNION ALL SELECT ent_b AS entity FROM ed)
      GROUP BY 1)""")
    selects = []
    for it in range(rounds + 1):
        parts.append(f""",
    ein{it} AS (
      SELECT la.label AS community, COUNT(*)::BIGINT AS e_in
      FROM ed e
      JOIN l{it} la ON la.node = e.ent_a
      JOIN l{it} lb ON lb.node = e.ent_b
      WHERE la.label = lb.label
      GROUP BY 1),
    per{it} AS (
      SELECT l.label AS community,
             COALESCE(MAX(ei.e_in), 0)::BIGINT AS e_in,
             SUM(COALESCE(d.deg, 0))::BIGINT AS d_tot
      FROM l{it} l
      LEFT JOIN deg d ON d.entity = l.node
      LEFT JOIN ein{it} ei ON ei.community = l.label
      GROUP BY 1),
    q{it} AS (
      SELECT {it}::BIGINT AS round,
             COUNT(*)::BIGINT AS n_communities,
             FLOOR(1000000 * SUM(4 * mm.m * e_in - d_tot * d_tot)
                   / (4 * mm.m * mm.m))::BIGINT AS q_micro
      FROM per{it} CROSS JOIN mm GROUP BY mm.m)""")
        selects.append(f"SELECT round, n_communities, q_micro FROM q{it}")
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


KTRUSS_K = 4          # keep edges in >= k-2 = 2 triangles
KTRUSS_ROUNDS = 3


def _edge_support(ed: DataFrame) -> DataFrame:
    """(ent_a, ent_b, supp): per-edge triangle support over an edge frame
    with the ent_a < ent_b orientation.  Triangles are enumerated once
    each (a < b < c) via two equi-joins — the closing-edge probe keeps the
    wedge fan-out bounded by the oriented adjacency like
    operators/triangles.py — then each triangle credits its 3 edges
    through one explode + count."""
    e1 = ed.alias("e1")
    e2 = ed.alias("e2")
    e3 = ed.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.ent_a") == F.col("e1.ent_b"))
        .join(
            e3,
            (F.col("e3.ent_a") == F.col("e1.ent_a"))
            & (F.col("e3.ent_b") == F.col("e2.ent_b")),
            "left_semi",
        )
        .select(
            F.col("e1.ent_a").alias("a"),
            F.col("e1.ent_b").alias("b"),
            F.col("e2.ent_b").alias("c"),
        )
    )
    return (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("ent_a"), F.col("b").alias("ent_b")),
                    F.struct(F.col("b").alias("ent_a"), F.col("c").alias("ent_b")),
                    F.struct(F.col("a").alias("ent_a"), F.col("c").alias("ent_b")),
                )
            ).alias("e")
        )
        .select("e.ent_a", "e.ent_b")
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("supp"))
    )


def k_truss(edges: DataFrame, k: int = KTRUSS_K,
            rounds: int = KTRUSS_ROUNDS,
            checkpoint: bool = True) -> DataFrame:
    """k-truss decomposition by synchronous support peeling: ``rounds``
    rounds of "drop every edge in fewer than k-2 triangles", then report
    the survivors with their in-truss support — the EDGE-level density
    filter (Cohen 2008) that is strictly stronger than the k-core's
    node-degree bar: an edge survives only if its endpoints share k-2
    common neighbors, so loosely-attached spokes that pad a core are
    peeled away and what remains is the triangle-reinforced relation
    backbone a KG curator can trust.

    Same engine discipline as :func:`k_core`: a FIXED round count keeps
    both engines on the same trajectory; per round one oriented
    triangle enumeration (two equi-joins + a closing-edge semi-join,
    never a wedge explosion from hub nodes), one map-side-combined
    support count, one semi-join peel, and a lineage-truncating
    localCheckpoint.  Returns (ent_a, ent_b, supp) for edges still
    meeting the bar after the final round.
    """
    from ..cache import tracked_persist

    ed = tracked_persist(edges.select("ent_a", "ent_b"))
    _ckpt = ((lambda df: df.localCheckpoint(eager=True)) if checkpoint
             else (lambda df: df))
    for _ in range(rounds):
        keep = _ckpt(
            _edge_support(ed).where(F.col("supp") >= k - 2)
            .select("ent_a", "ent_b")
        )
        ed = _ckpt(ed.join(keep, ["ent_a", "ent_b"], "left_semi"))
    return _edge_support(ed).where(F.col("supp") >= k - 2).select(
        "ent_a", "ent_b", "supp"
    )


def k_truss_sql(mentions_sql: str, k: int = KTRUSS_K,
                rounds: int = KTRUSS_ROUNDS,
                min_pair: int = LPA_MIN_PAIR) -> str:
    """DuckDB twin: the same fixed peeling rounds unrolled as materialized
    CTEs — per round triangles (a<b<c) via two joins + closing-edge
    membership, 3-way edge crediting, support filter."""
    parts = [f"""
    WITH mentions AS ({mentions_sql}),
    ents AS (SELECT DISTINCT doc_id, text FROM mentions),
    e0 AS MATERIALIZED (
      SELECT a.text AS ent_a, b.text AS ent_b
      FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.text < b.text
      GROUP BY a.text, b.text
      HAVING COUNT(*) >= {min_pair})"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    t{r} AS MATERIALIZED (
      SELECT e1.ent_a AS a, e1.ent_b AS b, e2.ent_b AS c
      FROM e{r - 1} e1
      JOIN e{r - 1} e2 ON e2.ent_a = e1.ent_b
      WHERE EXISTS (SELECT 1 FROM e{r - 1} e3
                    WHERE e3.ent_a = e1.ent_a AND e3.ent_b = e2.ent_b)),
    s{r} AS MATERIALIZED (
      SELECT ent_a, ent_b, COUNT(*) AS supp FROM (
        SELECT a AS ent_a, b AS ent_b FROM t{r}
        UNION ALL SELECT b AS ent_a, c AS ent_b FROM t{r}
        UNION ALL SELECT a AS ent_a, c AS ent_b FROM t{r})
      GROUP BY 1, 2),
    e{r} AS MATERIALIZED (
      SELECT e.ent_a, e.ent_b FROM e{r - 1} e
      JOIN s{r} s ON s.ent_a = e.ent_a AND s.ent_b = e.ent_b
                 AND s.supp >= {k - 2})""")
    parts.append(f""",
    tf AS (
      SELECT e1.ent_a AS a, e1.ent_b AS b, e2.ent_b AS c
      FROM e{rounds} e1
      JOIN e{rounds} e2 ON e2.ent_a = e1.ent_b
      WHERE EXISTS (SELECT 1 FROM e{rounds} e3
                    WHERE e3.ent_a = e1.ent_a AND e3.ent_b = e2.ent_b))
    SELECT ent_a, ent_b, COUNT(*)::BIGINT AS supp FROM (
      SELECT a AS ent_a, b AS ent_b FROM tf
      UNION ALL SELECT b AS ent_a, c AS ent_b FROM tf
      UNION ALL SELECT a AS ent_a, c AS ent_b FROM tf)
    GROUP BY 1, 2 HAVING COUNT(*) >= {k - 2}""")
    return "".join(parts)
