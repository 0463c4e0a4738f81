"""Per-row lineage columns.

The reference tracks lineage on every ``DataRecord``: ``_source_indices``
(root-dataset row ids), ``_parent_ids``, ``_cardinality_idx`` (fan-out
ordinal) and a derived deterministic ``_id`` hash
(reference: ``core/elements/records.py:28-83``). Spark has no per-row object
identity, so lineage becomes *columns* that flow through the plan — cheap,
columnar, and fully prunable when unused.

Conventions:
- ``_source_idx``     long    : ordinal of the row in its root scan
- ``_parent_id``      string  : deterministic id of the parent row
- ``_cardinality_idx``long    : position within a one-to-many fan-out
- ``_id``             string  : xxhash/sha-based deterministic row id derived
                                from (parent id | source idx, cardinality idx)
                                — mirrors ``records.py:65-83`` (hash of
                                derivation, NOT a content hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SOURCE_IDX = "_source_idx"
PARENT_ID = "_parent_id"
CARDINALITY_IDX = "_cardinality_idx"
ROW_ID = "_id"


def with_source_lineage(
    df: DataFrame,
    key_cols: list[str] | None = None,
    id_expr=None,
) -> DataFrame:
    """Attach root-scan lineage.

    With ``key_cols`` the source index/id is derived deterministically from the
    natural key (stable under re-partitioning — what a 1000-executor run
    needs); ``id_expr`` supplies the source index as an arbitrary Column
    (e.g. a natural long key directly — also the cross-engine-recomputable
    tier, since the whole _id chain is then plain sha256 over visible
    values); without either, it falls back to a zipWithIndex-free monotonic
    id, which is stable only within one scan.
    """
    if id_expr is not None:
        src = id_expr.cast("long")
    elif key_cols:
        src = F.xxhash64(*[F.col(c) for c in key_cols])
    else:
        src = F.monotonically_increasing_id()
    df = df.withColumn(SOURCE_IDX, src)
    return df.withColumn(
        ROW_ID, F.sha2(F.concat_ws("|", F.lit("scan"), F.col(SOURCE_IDX).cast("string")), 256)
    ).withColumn(PARENT_ID, F.lit(None).cast("string")).withColumn(
        CARDINALITY_IDX, F.lit(None).cast("long")
    )


def derive_child_id(df: DataFrame, op_label: str) -> DataFrame:
    """Re-derive ``_id`` after a map/fan-out, keeping the parent pointer.

    Mirrors ``DataRecord.from_parent`` (``records.py:163-205``): the child id
    is a hash of (operator, parent id, cardinality idx).
    """
    parent = F.coalesce(F.col(ROW_ID), F.col(SOURCE_IDX).cast("string"))
    return df.withColumn(PARENT_ID, parent).withColumn(
        ROW_ID,
        F.sha2(
            F.concat_ws(
                "|",
                F.lit(op_label),
                parent,
                F.coalesce(F.col(CARDINALITY_IDX), F.lit(0)).cast("string"),
            ),
            256,
        ),
    )
