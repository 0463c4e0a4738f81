"""Iceberg MERGE INTO sink — the production twin of ``SnapshotLakeTable``.

The north rule targets ``Structured Streaming foreachBatch MERGE INTO`` on an
Iceberg table. This sandbox image ships no Iceberg runtime jar, so the engine
runs on the snapshot-lake fallback (``lake.py``, same commit semantics); this
module is the real-cluster path, activated when the Iceberg Spark extensions
are on the classpath:

    spark-submit --py-files palimpzest_spark.zip \\
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.lake.type=hadoop \\
      --conf spark.sql.catalog.lake.warehouse=<path> \\
      -m palimpzest_spark.cdc.runner --stream --sink iceberg ...

SQL generation is pure (unit-tested without the jar); execution is gated on
``iceberg_available``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEY_COLS = ("conv_id", "turn_idx")


def iceberg_available(spark: SparkSession) -> bool:
    try:
        # py4j resolves missing packages lazily — attribute access alone never
        # fails; an explicit Class.forName is the real classpath check
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def merge_into_sql(
    table: str,
    source_view: str,
    value_cols: list[str],
    key_cols: tuple[str, str] = KEY_COLS,
) -> str:
    """Idempotent LWW MERGE: a target row changes only if the source version
    ``(_ts, _event_seq)`` is strictly newer; deletes become tombstones via
    ``_deleted`` so late out-of-order updates cannot resurrect them.
    Replaying a batch is therefore a no-op — exactly-once on at-least-once
    delivery (BASELINE.json north_star)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    newer = (
        "(s._ts > t._ts OR (s._ts = t._ts AND s._event_seq > t._event_seq))"
    )
    set_all = ", ".join(
        f"t.{c} = s.{c}" for c in [*value_cols, "_ts", "_event_seq", "_deleted"]
    )
    cols = ", ".join([*key_cols, *value_cols, "_ts", "_event_seq", "_deleted"])
    svals = ", ".join(f"s.{c}" for c in [*key_cols, *value_cols, "_ts", "_event_seq", "_deleted"])
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND {newer} THEN UPDATE SET {set_all} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({svals})"
    )


def evolve_table_schema_sql(table: str, new_cols: dict[str, str]) -> list[str]:
    """Schema evolution DDL: Iceberg ALTER TABLE is metadata-only (no
    rewrite), matching the snapshot lake's monotone widen-only rule."""
    return [f"ALTER TABLE {table} ADD COLUMN {name} {typ}" for name, typ in new_cols.items()]


def create_table_sql(table: str, value_cols: dict[str, str], n_buckets: int = 64) -> str:
    """Bucketed on conv_id — MERGE shuffles align with storage, and the
    bucket transform gives the same O(touched-buckets) rewrite the snapshot
    lake implements by hand."""
    cols = ", ".join(
        [
            "conv_id string",
            "turn_idx bigint",
            *[f"{n} {t}" for n, t in value_cols.items()],
            "_ts timestamp",
            "_event_seq bigint",
            "_deleted boolean",
        ]
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, conv_id))"
    )


def mor_table_properties_sql(table: str, compact_ratio: float = 0.5) -> list[str]:
    """Iceberg v2 merge-on-read — the production twin of the snapshot lake's
    per-bucket CoW/MoR split (``lake.plan_compaction``): MERGE writes
    positional/equality delete files instead of rewriting data files, and a
    maintenance ``rewrite_data_files`` compacts when deletes accumulate —
    the same delta-ratio trigger, expressed as Iceberg table properties +
    a stored-procedure call."""
    return [
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        "'format-version' = '2', "
        "'write.merge.mode' = 'merge-on-read', "
        "'write.update.mode' = 'merge-on-read', "
        "'write.delete.mode' = 'merge-on-read')",
    ]


def compact_sql(catalog: str, table: str, compact_ratio: float = 0.5) -> str:
    """Maintenance compaction (the lake's ``compact()``): rewrite data files
    merging accumulated delete files, bin-packed to the target file size.
    ``delete-file-threshold`` plays the role of the delta-file cap."""
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{table}', "
        "options => map('delete-file-threshold', '8', "
        "'min-input-files', '2'))"
    )


def merge_batch_iceberg(
    spark: SparkSession,
    table: str,
    deduped_upserts: DataFrame,
    batch_id: int,
) -> None:
    """foreachBatch body for the Iceberg path. ``deduped_upserts`` must be
    in-batch LWW-deduped (``lake.lww_fold`` — MERGE requires ≤1 source
    row per key). Batch idempotence: Iceberg snapshot summary property
    ``cdc.last-batch-id`` checked before merging (same gate as lake.py)."""
    if not iceberg_available(spark):
        raise NotImplementedError(
            "Iceberg runtime jar not on the classpath; run on the snapshot "
            "lake (default) or submit with the iceberg-spark-runtime package"
        )
    last = spark.sql(
        f"SELECT summary['cdc.last-batch-id'] AS b FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    if last and last[0]["b"] is not None and batch_id <= int(last[0]["b"]):
        return
    view = f"_cdc_batch_{batch_id}"
    deduped_upserts.createOrReplaceTempView(view)
    value_cols = [
        c for c in deduped_upserts.columns
        if c not in (*KEY_COLS, "_ts", "_event_seq", "_deleted", "_bucket")
    ]
    spark.sql(merge_into_sql(table, view, value_cols))
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ('cdc.last-batch-id' = '{batch_id}')"
    )
