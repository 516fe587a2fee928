"""D1/D4/D5: exact dedup, flat-projection overlap resolution, set
difference.

Reference: /root/reference/data_process/df2qasl.py:114-210 —

* D1 exact dedup on the full span dict, first occurrence kept;
* D2 canonical ordering by (start_pos, end_pos, type);
* D4: among spans with identical (start_pos, end_pos), keep the type with
  the higher hand-tuned priority; the pairwise pop/compare chain over the
  sorted list reduces to argmax(priority) with ties keeping the earlier
  (lexicographically smaller) type — i.e. a window rank, the reference's
  only window-function-shaped computation;
* D5: nested − flat set difference (df2qasl.py:207-210).

D2 (ordering) and D6 (concat) need no operator of their own: results are
compared order-insensitively, and answer sources union with
``unionByName`` where they are combined.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..queries_battery import PRIORITY

SPAN_COLS = ["pid", "type", "start_pos", "end_pos", "text"]


def dedup_spans(spans: DataFrame) -> DataFrame:
    """D1: exact-duplicate elimination on the full span tuple
    (dataAugmentator.py:59-69 ``seen_ans``)."""
    return spans.dropDuplicates(SPAN_COLS)


def flat_projection(
    spans: DataFrame, priority: Optional[Dict[str, float]] = None
) -> DataFrame:
    """D4: per (pid, start_pos, end_pos) keep the max-priority type, ties to
    the lexicographically smaller type (df2qasl.py:151-186 chain)."""
    prio = priority or PRIORITY
    pr = F.create_map(*[F.lit(x) for kv in prio.items() for x in kv])
    w = Window.partitionBy("pid", "start_pos", "end_pos").orderBy(
        F.desc("prio"), F.asc("type")
    )
    return (
        dedup_spans(spans)
        .withColumn("prio", F.coalesce(pr[F.col("type")], F.lit(-1.0)))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("prio", "rk")
    )


def nested_minus_flat(nested: DataFrame, flat: DataFrame) -> DataFrame:
    """D5: answers present in the nested set but dropped by the flat
    projection (df2qasl.py:207-210)."""
    return dedup_spans(nested).join(
        flat.select(*SPAN_COLS), SPAN_COLS, "left_anti"
    )


def apply_corrections(spans: DataFrame, corrections: DataFrame) -> DataFrame:
    """J4: pid-keyed merge of human-checked corrections onto model spans
    (the xlsx round-trip semantics of /root/reference/data_process/
    df2qasl.py:36-58 / qasl2df.py:23-45, minus the spreadsheet).

    ``corrections``: (pid, type, start_pos, end_pos, action, new_type)
    with action in {'drop', 'retype'}; unmatched spans pass through, 'drop'
    removes, 'retype' rewrites the type (text/positions already verified by
    the J5 span-text invariant upstream)."""
    from pyspark.sql import functions as F

    key = ["pid", "type", "start_pos", "end_pos"]
    j = spans.join(
        corrections.select(*key, "action", "new_type"), key, "left"
    )
    return (
        j.where((F.col("action").isNull()) | (F.col("action") != "drop"))
        .withColumn(
            "type",
            F.when(F.col("action") == "retype", F.col("new_type")).otherwise(
                F.col("type")
            ),
        )
        .drop("action", "new_type")
    )
