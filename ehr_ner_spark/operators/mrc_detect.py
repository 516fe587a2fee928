"""U4: BERT-MRC span extraction — the reference's fourth model family
(models/bert_mrc.py:13-61): per-token BINARY start/end classifiers
(``Linear(hidden, 2)`` each) over (query, passage) pairs, the
MRC-for-nested-NER formulation.  The reference declares the model and the
MRC dataset but its training/inference hookup is commented out
(train/run_ner.py:376-446) — a dead path.  This operator supplies the
missing inference surface so the family is runnable end to end, with the
standard nearest-end decode used by that literature: every start token is
matched to the CLOSEST end token at or after it (within a span cap), and
spans from different queries may overlap (nested).

Deterministic stand-in scoring (same md5-60 discipline as the other
scorers): per (query_tag, token), ``u_s = h % 997 / 997`` drives the start
classifier and ``u_e = (h >> 10) % 991 / 991`` the end classifier, with
``h = md5_60(tag || '|mrc|' || token)``; a token is a start iff
``u_s > START_T`` and an end iff ``u_e > END_T``.  Everything is
SQL-expressible with window functions — no recursion — so the DuckDB twin
(``mrc_oracle_sql``) is exact.
"""

from __future__ import annotations

from functools import partial
from typing import Dict, Optional

import numpy as np

from pyspark.sql import DataFrame

from ..hashing import md5_60
from ..queries_battery import QUERIES
from .mention_detect import _detect_stage
from .mention_sql import TOKEN_RE

START_T = 0.985
END_T = 0.985
MAX_SPAN = 8  # standard MRC span-length cap


def mrc_spans_doc(tags, tokens, pid: int = 0):
    """Single-document (all queries) MRC span extraction — the shared
    kernel for the Spark UDF and tests."""
    out = []
    n = len(tokens)
    if n == 0:
        return out
    for tag in tags:
        h = np.fromiter(
            (md5_60(f"{tag}|mrc|{t}") for t in tokens), dtype=np.uint64, count=n
        )
        u_s = (h % 997).astype(np.float64) / 997.0
        u_e = ((h >> 10) % 991).astype(np.float64) / 991.0
        starts = np.flatnonzero(u_s > START_T)
        ends = np.flatnonzero(u_e > END_T)
        if starts.size == 0 or ends.size == 0:
            continue
        # nearest end at-or-after each start (searchsorted), capped length
        pos = np.searchsorted(ends, starts, side="left")
        ok = pos < ends.size
        s_ok, e_ok = starts[ok], ends[pos[ok]]
        keep = (e_ok - s_ok) < MAX_SPAN
        for s, e in zip(s_ok[keep].tolist(), e_ok[keep].tolist()):
            out.append((pid, tag, int(s), int(e), "".join(tokens[s : e + 1])))
    return out


def detect_mentions_mrc(
    corpus_df: DataFrame,
    queries: Optional[Dict[str, str]] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """corpus -> MRC start/end span rows (same schema and plan as
    detect_mentions; ``mrc_spans_doc`` is the decode kernel)."""
    tags = list(queries or QUERIES)
    return _detect_stage(
        corpus_df, lambda: partial(mrc_spans_doc, tags), num_partitions
    )


def mrc_oracle_sql(corpus_sql: str) -> str:
    """DuckDB twin: start/end flags per (doc, tag, token), nearest-end
    match via a windowed MIN over following end positions."""
    tags = ",\n        ".join(f"('{t}')" for t in sorted(QUERIES))
    return f"""
    WITH corpus AS ({corpus_sql}),
    toks AS (
      SELECT doc_id, (u.s).tok AS tok, (u.s).i - 1 AS tok_idx
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 regexp_extract_all(content, '{TOKEN_RE}'),
                 (x, i) -> {{'tok': x, 'i': i}})) AS s
        FROM corpus) u),
    qtags AS (SELECT * FROM (VALUES
        {tags}) v(tag)),
    flags AS (
      SELECT t.doc_id, q.tag, t.tok, t.tok_idx,
             ((h % 997) / 997.0 > {START_T}) AS is_start,
             (((h >> 10) % 991) / 991.0 > {END_T}) AS is_end
      FROM toks t
      CROSS JOIN qtags q
      CROSS JOIN LATERAL (
        SELECT ('0x' || substr(md5(q.tag || '|mrc|' || t.tok), 1, 15))::BIGINT AS h) hh),
    withend AS (
      -- window must run over ALL token rows (WHERE would hide the ends)
      SELECT doc_id, tag, tok_idx, is_start,
             MIN(CASE WHEN is_end THEN tok_idx END) OVER
               (PARTITION BY doc_id, tag ORDER BY tok_idx
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS end_pos
      FROM flags),
    matched AS (
      SELECT doc_id, tag, tok_idx AS start_pos, end_pos
      FROM withend WHERE is_start),
    spans AS (
      SELECT doc_id, tag AS type, start_pos, end_pos
      FROM matched
      WHERE end_pos IS NOT NULL AND end_pos - start_pos < {MAX_SPAN})
    SELECT s.doc_id, s.type,
           s.start_pos::INTEGER AS start_pos,
           s.end_pos::INTEGER AS end_pos,
           STRING_AGG(t.tok, '' ORDER BY t.tok_idx) AS text
    FROM spans s
    JOIN toks t ON t.doc_id = s.doc_id
               AND t.tok_idx BETWEEN s.start_pos AND s.end_pos
    GROUP BY 1, 2, 3, 4
    """
