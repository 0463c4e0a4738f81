"""Incrementally-maintained materialized views over the CDC lake table.

The standard downstream pattern: a denormalized per-conversation rollup
(turn counts, last activity, role mix) kept current as batches merge,
WITHOUT rescanning the whole table. Maintenance works a hash bucket at a
time: a manifest diff (``timetravel.changed_buckets``: two manifest
reads, no Spark job) names the buckets whose files changed since the version the
view reflects; only those buckets are read at the new version, folded
once, and rolled up, and the view's rows for every other bucket carry
forward untouched. Exact because a conversation lives in exactly one
bucket; per-refresh cost is O(changed buckets), not O(table) — the same
amortization argument as the merge itself.

The view itself is a tiny :class:`SnapshotLakeTable`-independent parquet
directory keyed by conv_id with last-refresh bookkeeping (the source
snapshot version it reflects), so refreshes are idempotent and resumable:
re-running a refresh for the same version span rewrites the same rows.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.merge import _await_observation
from palimpzest_spark.cdc.timetravel import changed_buckets


def _rollup(rows: DataFrame) -> DataFrame:
    """Per-conversation aggregate over live transcript rows."""
    return rows.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.max("ts").alias("last_ts"),
        F.sort_array(F.collect_set("role")).alias("roles"),
    )


class ConversationRollupView:
    """Materialized per-conversation rollup, refreshed one bucket at a time."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._meta = os.path.join(path, "_view_meta.json")

    def _load_meta(self) -> dict:
        if not os.path.exists(self._meta):
            return {"version": 0, "data_dir": "data"}
        with open(self._meta) as f:
            meta = json.load(f)
        meta.setdefault("data_dir", "data")  # pre-versioned layouts
        return meta

    def _commit_meta(self, version: int, data_dir: str) -> None:
        """Single-file atomic commit: the data dir a reader resolves flips
        only when this rename lands (same write-then-rename discipline as
        the lake's snapshot commits — a crash mid-refresh leaves the old
        version fully readable)."""
        tmp = self._meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "data_dir": data_dir}, f)
        os.replace(tmp, self._meta)

    def reflected_version(self) -> int:
        return self._load_meta()["version"]

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, self._load_meta()["data_dir"]))

    def full_build(self, spark: SparkSession, table: SnapshotLakeTable) -> int:
        """Initial materialization: a refresh from version 0 — every bucket
        changed, no previous view."""
        return self._refresh_from(spark, table, 0)["version"]

    def refresh(self, spark: SparkSession, table: SnapshotLakeTable) -> dict:
        """Refresh to the table's current snapshot, one bucket at a time.

        1. The manifest diff between the reflected and current versions
           names the changed buckets (no Spark job). If the reflected
           version's manifest was expired, every bucket counts as changed:
           a full rebuild.
        2. Only those buckets are read at the current version through the
           table's one live-read rule (``table.read(buckets=...)``: folded
           once, and only when the scan holds a delta file; tombstones
           dropped after the fold).
        3. Every live conversation in them is rolled up afresh; the view's
           rows from the other buckets carry forward (none are read when
           every bucket changed). A fully-deleted conversation has no live
           rows, so it drops out.
        ``changed_convs`` counts the conversations recomputed (observed on
        the write, no extra job); ``recomputed_buckets`` lists the buckets.
        Idempotent: re-running the same span recomputes the same rows.
        """
        return self._refresh_from(spark, table, self.reflected_version())

    def _refresh_from(self, spark: SparkSession, table: SnapshotLakeTable, v_from: int) -> dict:
        v_to = table.current_version()
        if v_to <= v_from:
            return {"refreshed": False, "version": v_from, "changed_convs": 0,
                    "recomputed_buckets": []}
        try:
            table.snapshot(v_from)
        except ValueError:  # expired by expire_snapshots: rebuild every bucket
            v_from = 0
        buckets = changed_buckets(table, v_from, v_to)
        snap = table.snapshot(v_to)
        live = table.read(spark, version=v_to, buckets=buckets)
        count = [F.count(F.lit(1)).alias("n")]
        obs = Observation()
        fresh = _rollup(live).observe(obs, *count)
        rows = fresh
        nb = int(snap.get("n_buckets") or table.n_buckets)
        carried = [b for b in range(nb) if b not in buckets]
        if v_from and carried:
            bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nb))
            rows = self.read(spark).filter(bucket.isin(carried)).unionByName(fresh)
        # Write the next version into its OWN directory, then flip the
        # pointer with one atomic metadata rename — readers of the previous
        # version are never left pointing at a half-deleted directory, and a
        # crash anywhere here leaves the old version intact and the view
        # self-healing (the orphaned data_v{N} dir is simply overwritten on
        # the next successful refresh to that version).
        prev_dir, next_dir = self._load_meta()["data_dir"], f"data_v{v_to}"
        rows.write.mode("overwrite").parquet(os.path.join(self.path, next_dir))
        n = int(_await_observation(obs, fresh, count)["n"] or 0)
        self._commit_meta(v_to, next_dir)
        if prev_dir != next_dir:
            shutil.rmtree(os.path.join(self.path, prev_dir), ignore_errors=True)
        return {"refreshed": True, "version": v_to, "changed_convs": n,
                "recomputed_buckets": buckets}
