"""Table-property (n_buckets / sort_order) durability under multi-process
writers, plus commit() contract robustness.

The invariants under test (Iceberg table-metadata semantics — a property is
set by the commit that changes it and inherited by every later commit):

- an ordinary commit from a process whose table object predates another
  process's ``alter_sort_order``/``rebucket`` must NOT revert the property;
- a merge planned before a concurrent ``rebucket`` must never rebase its
  old-count-hashed files onto the new bucket universe (CommitConflictError
  → full re-plan, which adopts the new count via ``refresh_properties``);
- ``commit()`` accepts the minimal historic snapshot shape on the
  delta-encoding path; ``expire_snapshots`` is a no-op on an empty table.
"""

from __future__ import annotations

import pytest

from palimpzest_spark.cdc import feedgen
from palimpzest_spark.cdc.lake import CommitConflictError, SnapshotLakeTable
from palimpzest_spark.cdc.timetravel import expire_snapshots


def _minimal_commit(t: SnapshotLakeTable, **extra) -> int:
    """The pre-r5 minimal caller shape: files/schema/summary only."""
    prev = t.snapshot()
    return t.commit(
        {
            "files": dict(prev["files"]),
            "schema": prev.get("schema"),
            "summary": dict(prev["summary"]),
            **extra,
        }
    )


def test_commit_minimal_snapshot_twice_takes_delta_path(tmp_path):
    """Second minimal commit hits the delta-encoding path (chain length is
    known after the first) — it must not KeyError on absent deltas/filestats
    and must round-trip identically through a cold reader."""
    t = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    _minimal_commit(t)
    _minimal_commit(t)  # delta path: prev chain len known
    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    snap = cold.snapshot()
    assert snap["version"] == 2
    assert snap["deltas"] == {} and snap["filestats"] == {}


def test_expire_snapshots_on_empty_table_is_noop(tmp_path):
    t = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    out = expire_snapshots(t)
    assert out == {
        "removed_files": 0,
        "removed_snapshots": 0,
        "skipped_in_grace": 0,
        "retained_versions": [],
    }


def test_stale_writer_commit_does_not_revert_sort_order(tmp_path):
    """ALTER from one process, then an ordinary commit from a process opened
    BEFORE the alter: the committed property must survive."""
    root = str(tmp_path / "lake")
    stale = SnapshotLakeTable(root, n_buckets=4, sort_order="ts")
    _minimal_commit(stale)

    admin = SnapshotLakeTable(root)
    admin.alter_sort_order("key")

    _minimal_commit(stale)  # stale object still has sort_order='ts'
    fresh = SnapshotLakeTable(root)
    assert fresh.sort_order == "key"
    assert fresh.snapshot().get("sort_order") == "key"
    # same inheritance rule for the bucket count
    assert fresh.snapshot().get("n_buckets") == 4


def test_driver_xxhash64_matches_spark_expression(spark):
    """read_conv's job-free bucket routing rests on this exact parity:
    the pure-Python XXH64 must be bit-identical to Spark's F.xxhash64
    (UTF-8 bytes, seed 42) across lengths spanning every tail branch of
    the algorithm, including multi-byte unicode."""
    import random
    import string

    from pyspark.sql import functions as F

    from palimpzest_spark.cdc.lake import bucket_of, xxhash64

    random.seed(7)
    alphabet = string.ascii_letters + string.digits + " .,;-_/äö漢字"
    cases = ["", "a", "conv-00000001", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
             "v" * 33, "u" * 100, "héllo wörld 漢字"]
    cases += ["".join(random.choices(alphabet, k=random.randint(0, 80)))
              for _ in range(300)]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in set(cases)], "v string")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    for v, h in got.items():
        assert xxhash64(v.encode("utf-8")) == h, repr(v)
    # and the bucket twin agrees with the merge path's pmod
    jvm = {
        r["v"]: r["b"]
        for r in spark.createDataFrame([(c,) for c in set(cases)], "v string")
        .select("v", F.pmod(F.xxhash64("v"), F.lit(7)).cast("int").alias("b"))
        .collect()
    }
    for v, b in jvm.items():
        assert bucket_of(v, 7) == b, repr(v)


def test_rebase_refuses_concurrent_rebucket(spark, tmp_path):
    """commit_merge planned on the old bucket universe must raise (re-plan)
    when a rebucket landed concurrently — its files were hashed mod the OLD
    count and carrying them forward would misroute keys."""
    from palimpzest_spark.cdc.merge import bootstrap

    root = str(tmp_path / "lake")
    base = feedgen.gen_base_table(str(tmp_path / "base"), n_convs=40, max_turns=3, seed=5)
    writer = SnapshotLakeTable(root, n_buckets=4)
    bootstrap(spark, writer, base)
    plan = writer.snapshot()  # the merge's planning snapshot (4 buckets)

    SnapshotLakeTable(root).rebucket(spark, 8)  # concurrent maintenance

    with pytest.raises(CommitConflictError):
        writer.commit_merge(
            [],
            {},
            {"0": ["data/fake-delta.parquet"]},
            {"data/fake-delta.parquet": {"bytes": 1, "rows": 1}},
            plan["schema"],
            dict(plan["summary"]),
            base_snapshot=plan,
        )


def test_stale_writer_merge_adopts_rebucketed_universe(spark, tmp_path):
    """End-to-end: writer object built at n_buckets=4, another process
    rebuckets to 8, then the stale object merges a batch. refresh_properties
    at plan time must hash the batch with the NEW count: the manifest keeps
    n_buckets=8 and a fresh reader's point lookup sees the update."""
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches

    root = str(tmp_path / "lake")
    base = feedgen.gen_base_table(str(tmp_path / "base"), n_convs=60, max_turns=3, seed=7)
    feedgen.gen_change_feed(
        str(tmp_path / "feed"), n_events=400, n_convs=60, max_turns=3, n_files=2, seed=7
    )
    writer = SnapshotLakeTable(root, n_buckets=4)
    bootstrap(spark, writer, base)

    SnapshotLakeTable(root).rebucket(spark, 8)
    assert writer.n_buckets == 4  # stale by construction

    replay_batches(spark, writer, str(tmp_path / "feed"), files_per_batch=2)
    assert writer.n_buckets == 8  # plan-time refresh adopted the new count

    fresh = SnapshotLakeTable(root)
    assert fresh.n_buckets == 8
    assert fresh.snapshot().get("n_buckets") == 8
    # every row is reachable through the point-lookup path (hash mod 8):
    # full-scan state == the union of per-conversation lookups
    full = fresh.read(spark).orderBy("conv_id", "turn_idx").collect()
    convs = sorted({r["conv_id"] for r in full})
    via_lookup = fresh.read_conv(spark, convs).orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in via_lookup] == [tuple(r) for r in full]


def test_maintenance_rebase_keeps_competitor_advisory_summary(tmp_path):
    """A maintenance rewrite that loses the CAS to a concurrent merge and
    rebases must publish the MERGE's advisory summary fields (batch_events/
    batch_lineage — the next merge plans its path off them), not its own
    validation-time copy of an older snapshot's; monotone exactly-once
    fields still take the max of both."""
    t = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=2)
    t.commit(
        {"files": {}, "deltas": {}, "filestats": {}, "schema": None,
         "summary": {"last_batch_id": 0, "offsets": {"0": 5},
                     "batch_events": 7}}
    )
    planned = t.snapshot()  # maintenance validates here (v1)
    # a concurrent merge lands v2 with newer advisory fields
    t.commit(
        {"files": {}, "deltas": {}, "filestats": {}, "schema": None,
         "summary": {"last_batch_id": 1, "offsets": {"0": 9, "1": 3},
                     "batch_events": 42}}
    )
    # the maintenance commit rebases (expected v2 is taken) and lands v3
    v = t.commit_merge(
        [], {}, {}, {}, planned.get("schema"), dict(planned["summary"]),
        base_snapshot=planned, maintenance=True,
    )
    s = t.snapshot(v)["summary"]
    assert s["batch_events"] == 42
    assert s["last_batch_id"] == 1
    assert s["offsets"] == {"0": 9, "1": 3}


def test_jpeg_subsampled_encode_one_pixel_tall_and_wide():
    """4:2:0 encode of degenerate geometries (h<2 or w<2) must not crash:
    the chroma downsample edge-replicates odd dims to even, so the plane is
    ceil(h/2) x ceil(w/2) — the SOF component dims the decoder derives."""
    import numpy as np

    from palimpzest_spark.sources.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    for shape in ((1, 2, 3), (2, 1, 3), (1, 1, 3), (3, 5, 3)):
        img = (np.arange(np.prod(shape)) % 256).astype(np.uint8).reshape(shape)
        for enc in (encode_jpeg, encode_jpeg_progressive):
            w, h, c, out = decode_jpeg(enc(img, subsample=True))
            assert (w, h, c) == (shape[1], shape[0], 3)
            assert out.shape == (shape[0], shape[1], 3)
