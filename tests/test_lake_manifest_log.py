"""Log-structured manifest tests (lake.py delta records + checkpoints).

Pure-metadata: ``SnapshotLakeTable.commit`` never touches data files, so
these run without a SparkSession. The contract under test is Delta-Lake's
transaction-log discipline re-expressed on the snapshot lake: steady-state
commits persist only their changes against the previous snapshot, a full
self-contained checkpoint manifest is forced every ``CHECKPOINT_INTERVAL``
commits, and a cold reader materializes byte-identical snapshots by
replaying ≤ interval records onto the last checkpoint.

Reference parity: palimpzest's DataDirectory/cache layer has no multi-commit
table format; the discipline here follows the public Delta/Iceberg designs
cited in cdc/lake.py's module docstring.
"""

from __future__ import annotations

import json
import os

import pytest

from palimpzest_spark.cdc import lake as lake_mod
from palimpzest_spark.cdc.lake import CHECKPOINT_INTERVAL, SnapshotLakeTable


def _raw(table: SnapshotLakeTable, v: int) -> dict:
    with open(os.path.join(table.meta_dir, f"v{v}.json")) as f:
        return json.load(f)


def _mk_table(root, n_buckets: int = 4) -> SnapshotLakeTable:
    t = SnapshotLakeTable(str(root), n_buckets=n_buckets)
    files = {str(b): [f"data/base/_bp={b}/part-0.parquet"] for b in range(n_buckets)}
    fs = {p: {"bytes": 100, "rows": 10} for ps in files.values() for p in ps}
    t.commit(
        {
            "files": files,
            "deltas": {},
            "filestats": fs,
            "schema": {"fields": ["conv_id", "turn_idx"]},
            "summary": {"last_batch_id": 0, "offsets": {}},
        }
    )
    return t


def _append_commit(t: SnapshotLakeTable, i: int, buckets=(0,)) -> int:
    """The steady-state MoR form: one delta file appended per touched bucket
    (rebind only touched buckets, as merge_batch does)."""
    prev = t.snapshot()
    deltas = dict(prev["deltas"])
    fs = dict(prev["filestats"])
    for b in buckets:
        p = f"data/w{i}/_bp={b}/part-0.parquet"
        deltas[str(b)] = deltas.get(str(b), []) + [p]
        fs[p] = {"bytes": 10, "rows": 1}
    return t.commit(
        {
            "files": prev["files"],
            "deltas": deltas,
            "filestats": fs,
            "schema": prev["schema"],
            "summary": {"last_batch_id": i, "offsets": {}},
        },
        expect_version=prev["version"],
    )


def _compact_commit(t: SnapshotLakeTable, i: int, bucket: int = 0) -> int:
    """The replace form: fold base ∪ deltas of one bucket into a fresh base
    (stats of dropped paths are inferred at apply time, never serialized)."""
    prev = t.snapshot()
    k = str(bucket)
    files = dict(prev["files"])
    deltas = dict(prev["deltas"])
    fs = dict(prev["filestats"])
    for p in files.get(k, []) + deltas.get(k, []):
        fs.pop(p, None)
    nb = f"data/c{i}/_bp={k}/part-0.parquet"
    files[k] = [nb]
    deltas[k] = []
    fs[nb] = {"bytes": 500, "rows": 50}
    return t.commit(
        {
            "files": files,
            "deltas": deltas,
            "filestats": fs,
            "schema": prev["schema"],
            "summary": {"last_batch_id": i, "offsets": {}},
        },
        expect_version=prev["version"],
    )


def _norm(snap: dict) -> dict:
    """Comparable view of a snapshot: drop wall-clock noise, sort lists of
    unordered membership (file lists ARE ordered — do not sort those)."""
    out = {k: v for k, v in snap.items() if k != "committed_at"}
    return out


def test_steady_commits_write_delta_records(tmp_path):
    t = _mk_table(tmp_path / "lake")
    v2 = _append_commit(t, 1, buckets=(0, 2))
    raw = _raw(t, v2)
    assert raw.get("kind") == "delta" and raw["base"] == 1
    # only the touched buckets appear, in append ("a") form, suffix-only
    assert set(raw["buckets"]) == {"0", "2"}
    assert raw["buckets"]["0"] == {"a": ["data/w1/_bp=0/part-0.parquet"]}
    # the full bootstrap manifest (v1) stays full
    assert _raw(t, 1).get("kind") != "delta"
    # delta record is much smaller than the full manifest
    assert os.path.getsize(os.path.join(t.meta_dir, "v2.json")) < os.path.getsize(
        os.path.join(t.meta_dir, "v1.json")
    )


def test_checkpoint_forced_at_interval_and_on_rebucket(tmp_path):
    t = _mk_table(tmp_path / "lake")
    kinds = []
    for i in range(1, CHECKPOINT_INTERVAL + 3):
        v = _append_commit(t, i, buckets=(i % 4,))
        kinds.append(_raw(t, v).get("kind"))
    # chain grows to the interval then a full checkpoint resets it
    assert kinds[: CHECKPOINT_INTERVAL] == ["delta"] * CHECKPOINT_INTERVAL
    assert kinds[CHECKPOINT_INTERVAL] is None  # full manifest
    assert kinds[CHECKPOINT_INTERVAL + 1] == "delta"  # chain restarts

    # a rebucket (bucket-count change) always writes a full manifest
    prev = t.snapshot()
    v = t.commit(
        {
            "files": {},
            "deltas": {},
            "filestats": {},
            "schema": prev["schema"],
            "summary": prev["summary"],
            "n_buckets": 8,
            "rebucketed_from": t.n_buckets,
        },
        expect_version=prev["version"],
    )
    assert _raw(t, v).get("kind") != "delta"


def test_cold_reader_materializes_identical_snapshots(tmp_path):
    """encode∘apply is identity: a fresh table handle (empty caches) replays
    the delta chain to the exact snapshot the writer held in memory — for
    append, compaction-replace, and bucket-delete commits."""
    t = _mk_table(tmp_path / "lake")
    for i in range(1, 7):
        _append_commit(t, i, buckets=(i % 4, (i + 1) % 4))
    _compact_commit(t, 7, bucket=1)
    _append_commit(t, 8, buckets=(1,))
    # bucket-delete: drop bucket 3 entirely (stats inferred at apply time)
    prev = t.snapshot()
    files = {k: v for k, v in prev["files"].items() if k != "3"}
    deltas = {k: v for k, v in prev["deltas"].items() if k != "3"}
    gone = set(prev["files"].get("3", [])) | set(prev["deltas"].get("3", []))
    fs = {p: s for p, s in prev["filestats"].items() if p not in gone}
    t.commit(
        {
            "files": files,
            "deltas": deltas,
            "filestats": fs,
            "schema": prev["schema"],
            "summary": prev["summary"],
        },
        expect_version=prev["version"],
    )

    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    assert cold.current_version() == t.current_version()
    for v in range(1, t.current_version() + 1):
        assert _norm(cold.snapshot(v)) == _norm(t.snapshot(v)), f"v{v} diverges"
    # compaction dropped the folded files' stats without serializing a drop
    # list: the replace record carries no del_stats for them
    rec = _raw(t, 8)
    assert rec["kind"] == "delta" and rec["buckets"]["1"].keys() == {"f", "d"}
    assert rec["del_stats"] == []


def test_cold_read_of_intermediate_version(tmp_path):
    """Time travel to a mid-chain version from a cold cache replays exactly
    the prefix of the chain (no dependence on having read HEAD first)."""
    t = _mk_table(tmp_path / "lake")
    want = {}
    for i in range(1, 6):
        v = _append_commit(t, i, buckets=(0,))
        want[v] = _norm(t.snapshot(v))
    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    assert _norm(cold.snapshot(3)) == want[3]
    cold2 = SnapshotLakeTable(str(tmp_path / "lake"))
    # reading newest-first then older must give the same answers
    assert _norm(cold2.snapshot(6)) == want[6]
    assert _norm(cold2.snapshot(2)) == want[2]


def test_fresh_writer_learns_chain_length_from_replay(tmp_path):
    """A fresh writer process learns the chain length while materializing
    the current snapshot (the replay walk records per-version lengths), so
    alternating multi-writer commits still produce delta records — no
    full-manifest ping-pong. The defensive fallback (truly unknown length →
    full checkpoint) only fires if the bookkeeping is lost."""
    t = _mk_table(tmp_path / "lake")
    _append_commit(t, 1)
    w2 = SnapshotLakeTable(str(tmp_path / "lake"))
    v3 = _append_commit(w2, 2)  # snapshot() replay taught w2 the chain
    assert _raw(w2, v3).get("kind") == "delta"
    # defensive fallback: wipe the learned length but keep the snapshot
    # cached → the next commit cannot bound the chain and checkpoints
    w2._chain_len.clear()
    v4 = _append_commit(w2, 3)
    assert _raw(w2, v4).get("kind") != "delta"
    v5 = _append_commit(w2, 4)
    assert _raw(w2, v5).get("kind") == "delta"  # chain restarts from it


def test_checkpoint_manifest_rewrites_in_place(tmp_path):
    t = _mk_table(tmp_path / "lake")
    v = _append_commit(t, 1)
    before = _norm(t.snapshot(v))
    assert t.checkpoint_manifest(v) is True
    assert _raw(t, v).get("kind") != "delta"
    assert t.checkpoint_manifest(v) is False  # idempotent
    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    assert _norm(cold.snapshot(v)) == before
    # the rewritten manifest resets the chain: the next commit may extend it
    v2 = _append_commit(t, 2)
    assert _raw(t, v2)["base"] == v


def test_expire_closes_chain_under_retained_versions(tmp_path):
    """expire_snapshots checkpoints the oldest retained version before
    deleting the records its delta chain depended on; retained versions
    stay cold-readable, expired ones raise."""
    from palimpzest_spark.cdc.timetravel import expire_snapshots

    t = _mk_table(tmp_path / "lake")
    for i in range(1, 8):
        _append_commit(t, i, buckets=(i % 4,))
    keep_vals = {v: _norm(t.snapshot(v)) for v in (7, 8)}
    out = expire_snapshots(t, keep_last=2, grace_seconds=0.0)
    assert out["retained_versions"] == [7, 8]
    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    assert _norm(cold.snapshot(7)) == keep_vals[7]
    assert _norm(cold.snapshot(8)) == keep_vals[8]
    assert _raw(cold, 7).get("kind") != "delta"  # checkpointed before GC
    with pytest.raises(ValueError, match="expired"):
        cold.snapshot(3)


def test_peek_n_buckets_reads_delta_record(tmp_path):
    t = _mk_table(tmp_path / "lake", n_buckets=4)
    _append_commit(t, 1)
    assert _raw(t, 2).get("kind") == "delta"
    # a reader that must learn the bucket count before any snapshot read
    # (the __init__ path) sees it on the raw delta record too
    cold = SnapshotLakeTable(str(tmp_path / "lake"))
    assert cold.n_buckets == 4


def test_random_commit_successions_replay_identically(tmp_path):
    """Property: for ANY mix of appends / compactions / bucket drops /
    stat-only changes, a cold reader's replayed snapshots equal the
    writer's in-memory ones at every version (hypothesis-driven)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.sampled_from(["append", "compact", "drop_bucket"])
    step = st.tuples(op, st.integers(0, 3))

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(steps=st.lists(step, min_size=1, max_size=12))
    def run(steps):
        import shutil
        import tempfile

        root = tempfile.mkdtemp(dir=tmp_path, prefix="hlake-")
        try:
            t = _mk_table(os.path.join(root, "lake"))
            for i, (kind, b) in enumerate(steps, start=1):
                prev = t.snapshot()
                if kind == "append":
                    _append_commit(t, i, buckets=(b,))
                elif kind == "compact":
                    _compact_commit(t, i, bucket=b)
                else:
                    files = {k: v for k, v in prev["files"].items() if k != str(b)}
                    deltas = {k: v for k, v in prev["deltas"].items() if k != str(b)}
                    gone = set(prev["files"].get(str(b), [])) | set(
                        prev["deltas"].get(str(b), [])
                    )
                    fs = {
                        p: s for p, s in prev["filestats"].items() if p not in gone
                    }
                    t.commit(
                        {
                            "files": files,
                            "deltas": deltas,
                            "filestats": fs,
                            "schema": prev["schema"],
                            "summary": prev["summary"],
                        },
                        expect_version=prev["version"],
                    )
            cold = SnapshotLakeTable(os.path.join(root, "lake"))
            for v in range(1, t.current_version() + 1):
                assert _norm(cold.snapshot(v)) == _norm(t.snapshot(v)), f"v{v}"
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_real_replay_writes_delta_records_and_cold_reads_match(spark, tmp_path):
    """Integration: the actual merge path (bootstrap + replay_batches)
    produces delta records for steady-state commits, and a cold reader
    materializing from the chain returns the exact LWW-fold final state."""
    import pandas as pd

    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.oracle import fold
    from palimpzest_spark.cdc.runner import replay_batches

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=50, max_turns=4, seed=9)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=1500, n_convs=50, max_turns=4, n_files=4, seed=9
    )
    t = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, t, base)
    replay_batches(spark, t, f"{d}/feed", files_per_batch=1)
    kinds = [
        _raw(t, v).get("kind") for v in range(1, t.current_version() + 1)
    ]
    assert "delta" in kinds, "steady-state replay should write delta records"

    cold = SnapshotLakeTable(f"{d}/lake")
    got = (
        cold.read(spark)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    import glob

    feed_df = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(f"{d}/feed/*.parquet"))],
        ignore_index=True,
    )
    expected = (
        fold(pd.read_parquet(f"{d}/base"), feed_df)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "text"]],
        expected[["conv_id", "turn_idx", "text"]],
        check_dtype=False,
    )


def test_interval_zero_disables_deltas(tmp_path, monkeypatch):
    """CHECKPOINT_INTERVAL 0 disables delta commits: every commit is full."""
    monkeypatch.setattr(lake_mod, "CHECKPOINT_INTERVAL", 0)
    t = _mk_table(tmp_path / "lake")
    for i in range(1, 4):
        v = _append_commit(t, i)
        assert _raw(t, v).get("kind") != "delta"
