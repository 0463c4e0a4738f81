"""Time travel, incremental change reads (CDF), and snapshot expiration.

Iceberg-parity maintenance surface over ``SnapshotLakeTable``'s immutable
snapshot manifests (the reference system has no table format at all — this
is target-engine construction per BASELINE.json's Iceberg north rule, built
on the same snapshot/manifest discipline Iceberg uses: snapshot-id reads,
``table_changes``-style change-data-feed between snapshots, and
``expire_snapshots`` file GC):

- **time travel**: ``table.read(spark, version=v)`` (lake.py) — an old
  snapshot is just an old file list; nothing here rewrites data.
- **incremental diff** (``table_changes``): net row-level inserts / updates /
  deletes between two snapshots, derived by comparing the two states' LWW
  versions per key. Scales by MANIFEST PRUNING: a bucket whose base+delta
  file lists are identical in both snapshots provably has identical content
  (files are immutable), so only changed buckets are scanned — at steady
  state a short version window touches the few buckets its batches wrote,
  not the table. The driver-side prune is pure manifest arithmetic, zero I/O.
- **vacuum** (``expire_snapshots``): retain the last K snapshots, delete
  manifests and data files unreferenced by any retained snapshot. Time
  travel older than the horizon then raises (same contract as Iceberg's
  ``expire_snapshots``).
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from palimpzest_spark.cdc.lake import KEY_COLS, META_COLS, SnapshotLakeTable, lww_fold

CHANGE_COL = "_change_type"


def changed_buckets(
    table: SnapshotLakeTable, v_from: int, v_to: int
) -> list[int]:
    """Buckets whose file lists differ between the two snapshots — the only
    buckets whose content can differ (data files are immutable; a bucket's
    state is fully determined by its base+delta file lists). Driver-side
    manifest compare, no I/O beyond two small JSON reads."""
    a, b = table.snapshot(v_from), table.snapshot(v_to)
    # span both snapshots' bucket universes (a rebucket between the two
    # versions changes the count; every bucket then differs by definition)
    nb = max(
        int(a.get("n_buckets") or table.n_buckets),
        int(b.get("n_buckets") or table.n_buckets),
    )
    out = []
    for bk in range(nb):
        k = str(bk)
        if (
            a["files"].get(k, []) != b["files"].get(k, [])
            or a["deltas"].get(k, []) != b["deltas"].get(k, [])
        ):
            out.append(bk)
    return out


def _state_at(
    table: SnapshotLakeTable,
    spark: SparkSession,
    version: int,
    buckets: list[int],
    schema,
) -> DataFrame | None:
    """LWW-folded state of the given buckets at ``version``, tombstones
    INCLUDED (a delete is a change), aligned to ``schema`` (the newer
    snapshot's — columns added by later evolution read as typed nulls)."""
    from palimpzest_spark.cdc.reconcile import align_to

    raw = table.read_raw(spark, buckets, version=version)
    if raw is None:
        return None
    # align_to casts PRESENT columns too (not just null-fills missing ones):
    # a type widened between the snapshots (turn_idx int->long) must read
    # back as the newer snapshot's type or downstream unions/sinks mismatch
    return align_to(lww_fold(raw, table.schema(version).fieldNames()), schema)


def table_changes(
    table: SnapshotLakeTable,
    spark: SparkSession,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Net row-level changes between snapshots ``v_from`` → ``v_to``
    (exclusive/inclusive: what you'd apply on top of ``v_from`` to reach
    ``v_to``). Output = the public columns (post-image for insert/update,
    last pre-image for delete) + ``_change_type`` ∈ {insert, update, delete}.

    Diff algorithm: full-outer join of the two folded states on the key,
    classified by tombstone flags and the LWW version struct ``(_ts,
    _event_seq)`` — a key whose winning version is unchanged is provably
    untouched (versions are monotone per key), so compaction/file rewrites
    between the snapshots produce no phantom changes. Only manifest-changed
    buckets are scanned (``changed_buckets``); the join shuffles at most
    those buckets' rows, keyed and AQE-sized.
    """
    if v_to is None:
        v_to = table.current_version()
    if v_from > v_to:
        raise ValueError(f"v_from {v_from} > v_to {v_to}")
    schema_new = table.schema(v_to)
    if schema_new is None:
        raise ValueError(f"snapshot v{v_to} has no schema (empty table)")
    cols = [f.name for f in schema_new.fields]
    public = [c for c in cols if c not in META_COLS]
    key = list(KEY_COLS)
    buckets = changed_buckets(table, v_from, v_to)

    empty_schema = ", ".join(
        [f"`{c}` {schema_new[c].dataType.simpleString()}" for c in public]
        + [f"`{CHANGE_COL}` string"]
    )
    if not buckets:
        return spark.createDataFrame([], empty_schema)

    new = _state_at(table, spark, v_to, buckets, schema_new)
    old = _state_at(table, spark, v_from, buckets, schema_new)
    if new is None and old is None:
        return spark.createDataFrame([], empty_schema)

    if new is None:
        # ADVICE r2: a changed bucket with no files at v_to (e.g. a future
        # tombstone-purging compaction emptied it) means every row live at
        # v_from was deleted — emit delete records, don't silently drop them.
        assert old is not None
        return (
            old.filter(~F.col("_deleted"))
            .select(*public, F.lit("delete").alias(CHANGE_COL))
        )

    if old is None:
        return (
            new.filter(~F.col("_deleted"))
            .select(*public, F.lit("insert").alias(CHANGE_COL))
        )

    n = new.alias("n")
    o = old.alias("o")
    j = n.join(o, on=key, how="full_outer")

    o_live = F.col("o._ts").isNotNull() & ~F.coalesce(F.col("o._deleted"), F.lit(False))
    n_live = F.col("n._ts").isNotNull() & ~F.coalesce(F.col("n._deleted"), F.lit(False))
    same_ver = (F.col("n._ts") == F.col("o._ts")) & (
        F.col("n._event_seq") == F.col("o._event_seq")
    )
    change = (
        F.when(~o_live & n_live, F.lit("insert"))
        .when(o_live & ~n_live, F.lit("delete"))
        .when(o_live & n_live & ~same_ver, F.lit("update"))
        .otherwise(F.lit(None))
    )
    # post-image for insert/update; pre-image (the old row) for delete
    body = [
        F.when(change == "delete", F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
        if c not in key
        else F.col(c)
        for c in public
    ]
    return (
        j.select(*body, change.alias(CHANGE_COL))
        .filter(F.col(CHANGE_COL).isNotNull())
    )


def expire_snapshots(
    table: SnapshotLakeTable, keep_last: int = 2, grace_seconds: float = 300.0
) -> dict[str, Any]:
    """Expire all but the last ``keep_last`` snapshots and GC data files no
    retained snapshot references (Iceberg ``expire_snapshots`` + orphan-file
    removal). Time travel to an expired version raises afterwards.

    Driver-side metadata walk; deletion volume is bounded by the table's
    physical file count, and every retained snapshot remains byte-identical
    readable (files are immutable, only unreferenced ones are unlinked).

    **Concurrency (ADVICE r2):** an in-flight merge optimistically writes its
    parquet files BEFORE ``commit_merge`` publishes them in a manifest, so a
    concurrent expire must not treat those as orphans. Like Iceberg's
    orphan-file removal, an unreferenced file is only deleted when its mtime
    predates the oldest RETAINED snapshot's ``committed_at`` — an in-flight
    merge's files are strictly newer than every already-committed snapshot,
    while a truly expired snapshot's files are strictly older (merges write
    their files before committing their own, later, snapshot). For legacy
    manifests without ``committed_at``, ``grace_seconds`` is the fallback
    horizon (skip anything younger than it)."""
    cur = table.current_version()
    if cur == 0:  # nothing committed yet: retention is a no-op, not an error
        return {
            "removed_files": 0,
            "removed_snapshots": 0,
            "skipped_in_grace": 0,
            "retained_versions": [],
        }
    # versions inside the retention window whose manifests a PREVIOUS expire
    # already deleted (keep_last was raised since) are simply not retainable
    # — loading them would raise and abort the whole expiry
    keep = {
        v
        for v in range(max(cur - max(keep_last, 1) + 1, 1), cur + 1)
        if os.path.exists(os.path.join(table.meta_dir, f"v{v}.json"))
    }
    referenced: set[str] = set()
    oldest_retained_commit = None
    for v in keep:
        snap = table.snapshot(v)
        c = snap.get("committed_at")
        if c is not None:
            c = float(c)
            if oldest_retained_commit is None or c < oldest_retained_commit:
                oldest_retained_commit = c
        for coll in (snap["files"], snap["deltas"]):
            for ps in coll.values():
                referenced.update(ps)
    horizon = (
        oldest_retained_commit
        if oldest_retained_commit is not None
        else time.time() - grace_seconds
    )

    removed_files = 0
    skipped_in_grace = 0
    for dirpath, _dirnames, filenames in os.walk(table.data_dir, topdown=False):
        for fn in filenames:
            ap = os.path.join(dirpath, fn)
            rel = os.path.relpath(ap, table.root)
            if fn.endswith(".parquet") and rel not in referenced:
                # a concurrent writer's abort_files can remove a staged file
                # between the walk and the stat/unlink — that's the desired
                # end state, not an error; skip and keep expiring
                try:
                    if os.path.getmtime(ap) >= horizon:
                        skipped_in_grace += 1
                        continue
                    os.unlink(ap)
                except FileNotFoundError:
                    continue
                removed_files += 1
        try:
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
        except OSError:
            pass  # a writer dropped a file in (ENOTEMPTY) or removed the dir

    # Manifests are log-structured (lake.py): a retained version may be a
    # delta record whose chain bottoms out in a manifest about to be
    # deleted. Materialize the oldest retained version as a full checkpoint
    # first — later retained deltas replay on top of it, so the chain stays
    # closed under expiry.
    table.checkpoint_manifest(min(keep))
    removed_snapshots = 0
    for v in range(1, cur + 1):
        if v in keep:
            continue
        mp = os.path.join(table.meta_dir, f"v{v}.json")
        if os.path.exists(mp):
            os.unlink(mp)
            removed_snapshots += 1
    table.invalidate_cache()  # expired manifests must raise, not hit cache

    return {
        "removed_files": removed_files,
        "removed_snapshots": removed_snapshots,
        "skipped_in_grace": skipped_in_grace,
        "retained_versions": sorted(keep),
    }


def export_snapshot(
    table: "SnapshotLakeTable", dest_root: str, version: int | None = None
) -> dict:
    """Copy one consistent snapshot (manifest + exactly its referenced
    files) to ``dest_root`` as a standalone single-snapshot table — the
    backup/clone primitive (Iceberg: snapshot expiry-safe table copy).
    The export is readable by :class:`SnapshotLakeTable` as version 1 and
    is immune to ``expire_snapshots`` on the source. Returns counts."""
    import json
    import os
    import shutil

    snap = table.snapshot(version)
    v = snap.get("version") or version or table.current_version()
    os.makedirs(os.path.join(dest_root, "metadata"), exist_ok=True)
    copied = 0
    for section in ("files", "deltas"):
        for rels in snap.get(section, {}).values():
            for rel in rels:
                src = os.path.join(table.root, rel)
                dst = os.path.join(dest_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(src, dst)
                copied += 1
    out = dict(snap)
    out["version"] = 1
    with open(os.path.join(dest_root, "metadata", "v1.json"), "w") as f:
        json.dump(out, f)
    with open(os.path.join(dest_root, "metadata", "version-hint.txt"), "w") as f:
        f.write("1")
    return {"source_version": v, "files_copied": copied}
