"""Time travel, change-data-feed, and snapshot expiration gates.

The oracle is the engine-free pandas fold (``cdc/oracle.py``) applied to the
event-file PREFIX each snapshot corresponds to: read-at-version must equal
the fold of exactly the batches committed by then, and ``table_changes``
applied on top of the older fold must reproduce the newer fold.
"""

from __future__ import annotations

import json as _json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palimpzest_spark.cdc import feedgen
from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.merge import bootstrap, merge_batch
from palimpzest_spark.cdc.oracle import fold
from palimpzest_spark.cdc.runner import FEED_SCHEMA, replay_batches
from palimpzest_spark.cdc.timetravel import (
    changed_buckets,
    expire_snapshots,
    table_changes,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def tt(spark, tmp_path_factory):
    """Replay 4 batches; record (version, oracle fold) after each."""
    d = tmp_path_factory.mktemp("tt")
    base = feedgen.gen_base_table(str(d / "base"), n_convs=50, max_turns=8, seed=7)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=4000, n_convs=50, max_turns=8, n_files=8, seed=7
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=N_BUCKETS)
    bootstrap(spark, table, base)

    base_pdf = pd.read_parquet(base)
    checkpoints = []  # (version, expected_state)
    for i in range(0, 8, 2):
        group = feed_paths[i : i + 2]
        batch = spark.read.schema(FEED_SCHEMA).parquet(*group)
        merge_batch(spark, table, batch, batch_id=i // 2)
        feed_so_far = pd.concat(
            [pd.read_parquet(p) for p in feed_paths[: i + 2]], ignore_index=True
        )
        checkpoints.append((table.current_version(), fold(base_pdf, feed_so_far)))
    return {"table": table, "checkpoints": checkpoints, "dir": d}


def _public_state(spark, table, version=None) -> pd.DataFrame:
    out = table.read(spark, version=version).toPandas()
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def _texts(df: pd.DataFrame) -> list:
    return df["text"].where(df["text"].notna(), None).tolist()


def test_read_at_each_version_matches_fold_prefix(spark, tt):
    for version, expected in tt["checkpoints"]:
        actual = _public_state(spark, tt["table"], version=version)
        assert len(actual) == len(expected), f"v{version}: row count"
        a_keys = list(zip(actual["conv_id"], actual["turn_idx"].astype("int64")))
        e_keys = list(zip(expected["conv_id"], expected["turn_idx"].astype("int64")))
        assert a_keys == e_keys, f"v{version}: key sets differ"
        assert _texts(actual) == _texts(expected), f"v{version}: text mismatch"


def test_table_changes_replays_old_state_to_new(spark, tt):
    table = tt["table"]
    (v1, fold1), (v3, fold3) = tt["checkpoints"][0], tt["checkpoints"][2]
    ch = table_changes(table, spark, v1, v3).toPandas()
    assert len(ch) > 0, "vacuous: no changes between batches"
    assert set(ch["_change_type"]) <= {"insert", "update", "delete"}

    def keyed(df):
        return {
            (r["conv_id"], int(r["turn_idx"])): r
            for _, r in df.iterrows()
        }

    state = keyed(fold1)
    old_keys = set(state)
    for _, r in ch.iterrows():
        k = (r["conv_id"], int(r["turn_idx"]))
        if r["_change_type"] == "insert":
            assert k not in old_keys, f"insert of pre-existing key {k}"
            state[k] = r
        elif r["_change_type"] == "update":
            assert k in old_keys, f"update of unseen key {k}"
            state[k] = r
        else:
            assert k in old_keys, f"delete of unseen key {k}"
            del state[k]

    want = keyed(fold3)
    assert set(state) == set(want), "changes applied to v_from != v_to key set"
    for k in want:
        a, e = state[k].get("text"), want[k].get("text")
        a = None if pd.isna(a) else a
        e = None if pd.isna(e) else e
        assert a == e, f"text mismatch at {k} after applying changes"


def test_single_key_batch_prunes_to_one_bucket(spark, tt):
    table = tt["table"]
    v_before = table.current_version()
    payload = _json.dumps(
        {"conv_id": "conv-00000003", "turn_idx": 0, "role": "user",
         "text": "timetravel-probe", "tool": None}
    )
    pdf = pd.DataFrame(
        [{
            "op": "U", "conv_id": "conv-00000003", "turn_idx": 0,
            "payload": payload,
            "ts": pd.Timestamp(feedgen.BASE_EPOCH + 9_000_000, unit="s"),
            "event_seq": 10_000_000, "partition": 0, "offset": 10_000_000,
        }]
    )
    batch = spark.createDataFrame(pdf, FEED_SCHEMA)
    merge_batch(spark, table, batch, batch_id=99)
    v_after = table.current_version()

    pruned = changed_buckets(table, v_before, v_after)
    assert len(pruned) == 1, f"expected 1 changed bucket, got {pruned}"

    ch = table_changes(table, spark, v_before, v_after).toPandas()
    assert len(ch) == 1
    assert ch.iloc[0]["conv_id"] == "conv-00000003"
    # update if the key was live at v_before, insert if the feed had deleted it
    pre = _public_state(spark, table, version=v_before)
    was_live = ((pre["conv_id"] == "conv-00000003") & (pre["turn_idx"] == 0)).any()
    assert ch.iloc[0]["_change_type"] == ("update" if was_live else "insert")
    assert ch.iloc[0]["text"] == "timetravel-probe"


def test_changes_from_zero_are_all_inserts(spark, tt):
    table = tt["table"]
    v1 = tt["checkpoints"][0][0]
    ch = table_changes(table, spark, 1, v1)  # v1 here = bootstrap snapshot
    types = set(r["_change_type"] for r in ch.select("_change_type").distinct().collect())
    assert types <= {"insert", "update", "delete"}


def test_expire_snapshots_gc_and_horizon(spark, tt):
    table = tt["table"]
    v_old = tt["checkpoints"][0][0]
    before = _public_state(spark, table)  # current state incl. any prior test's writes

    res = expire_snapshots(table, keep_last=2)
    assert res["removed_snapshots"] > 0
    assert res["removed_files"] > 0

    # current read byte-identical across the expire (only unreferenced files GC'd)
    actual = _public_state(spark, table)
    assert _texts(actual) == _texts(before)
    assert len(actual) == len(before)

    # expired version: clear error, not a partial read
    with pytest.raises(ValueError, match="expired|does not exist"):
        table.read(spark, version=v_old).count()

    # no orphans: every parquet left on disk is referenced by a retained snapshot
    referenced = set()
    for v in res["retained_versions"]:
        snap = table.snapshot(v)
        for coll in (snap["files"], snap["deltas"]):
            for ps in coll.values():
                referenced.update(ps)
    on_disk = set()
    for dirpath, _dn, fns in os.walk(table.data_dir):
        for fn in fns:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(dirpath, fn), table.root))
    assert on_disk == referenced, "orphan or missing data files after expire"


def test_expire_protects_inflight_uncommitted_files(spark, tt):
    """ADVICE r2: a merge writes parquet optimistically BEFORE commit_merge
    publishes it. A concurrent expire must not GC those young unreferenced
    files (their mtime postdates every retained snapshot's committed_at)."""
    table = tt["table"]
    # simulate an in-flight merge's optimistic write: unreferenced, mtime=now
    inflight_dir = os.path.join(table.data_dir, "bucket=0")
    os.makedirs(inflight_dir, exist_ok=True)
    inflight = os.path.join(inflight_dir, "inflight-optimistic.parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), inflight)

    res = expire_snapshots(table, keep_last=1)
    assert os.path.exists(inflight), "expire deleted an uncommitted in-flight file"
    assert res["skipped_in_grace"] >= 1
    os.unlink(inflight)


def test_table_changes_emits_deletes_when_bucket_emptied(spark, tt):
    """ADVICE r2: if a future compaction purges a bucket's files entirely
    (new-state scan yields None), rows live at v_from must surface as
    'delete' records, not silently vanish from the change feed."""
    table = tt["table"]
    v_from = table.current_version()
    snap = table.snapshot(v_from)

    # pick a bucket with live rows at v_from
    state = table.read(spark).toPandas()
    assert len(state) > 0
    from pyspark.sql import functions as F
    bk = (
        table.read(spark)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(table.n_buckets)).alias("b"), "conv_id")
        .groupBy("b").count().orderBy(F.desc("count")).first()
    )
    target = int(bk["b"])
    live_in_bucket = (
        table.read(spark)
        .filter(F.pmod(F.xxhash64("conv_id"), F.lit(table.n_buckets)) == target)
        .count()
    )
    assert live_in_bucket > 0

    # simulate a tombstone-purging compaction: same manifest, bucket emptied
    new_snap = dict(snap)
    new_snap["files"] = {k: v for k, v in snap["files"].items() if k != str(target)}
    new_snap["deltas"] = {k: v for k, v in snap["deltas"].items() if k != str(target)}
    v_to = table.commit(new_snap)

    ch = table_changes(table, spark, v_from, v_to).toPandas()
    assert set(ch["_change_type"]) == {"delete"}
    assert len(ch) == live_in_bucket, "every live row in the emptied bucket must be a delete"


def test_conversation_rollup_view_incremental_refresh(spark, tmp_path):
    """Bucket-at-a-time view maintenance: after more batches merge,
    refresh() recomputes only the conversations in buckets whose files
    changed, and the view equals a full rollup of the final table; refresh
    is idempotent."""
    from pyspark.sql import functions as F

    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches
    from palimpzest_spark.cdc.views import ConversationRollupView, _rollup

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=30, max_turns=6, seed=13)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=800, n_convs=30, max_turns=6, n_files=4, seed=13
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1, max_batches=2)

    view = ConversationRollupView(f"{d}/view")
    view.full_build(spark, table)

    replay_batches(spark, table, f"{d}/feed", files_per_batch=1,
                   skip_files=2, start_batch_id=2)
    m = view.refresh(spark, table)
    assert m["refreshed"] and 0 < m["changed_convs"] <= 30

    got = sorted(map(tuple, view.read(spark).collect()))
    want = sorted(map(tuple, _rollup(table.read(spark)).collect()))
    assert got == want and len(got) > 0

    # idempotent: nothing new to reflect
    m2 = view.refresh(spark, table)
    assert not m2["refreshed"]

    # stays correct through another batchless refresh + re-read
    assert sorted(map(tuple, view.read(spark).collect())) == got


def _view_case(spark, d: str, n_files: int = 4):
    """A 4-bucket table after two one-file batches, with its rollup view
    built there. The feed files are small next to the base, so no merge
    compacts and the buckets carry delta files."""
    from palimpzest_spark.cdc.views import ConversationRollupView

    base = feedgen.gen_base_table(f"{d}/base", n_convs=200, max_turns=12, seed=13)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=60 * n_files, n_convs=200, max_turns=12,
        n_files=n_files, seed=13,
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1, max_batches=2)
    view = ConversationRollupView(f"{d}/view")
    view.full_build(spark, table)
    return table, view


def _replay_rest(spark, table, d: str) -> None:
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1,
                   skip_files=2, start_batch_id=2)


def _assert_view_current(spark, view, table) -> list:
    from palimpzest_spark.cdc.views import _rollup

    assert view.reflected_version() == table.current_version()
    got = sorted(map(tuple, view.read(spark).collect()))
    want = sorted(map(tuple, _rollup(table.read(spark)).collect()))
    assert got == want and len(got) > 0
    return got


def test_view_full_build_is_refresh_from_zero(spark, tmp_path):
    """full_build is a refresh from version 0: every non-empty bucket is
    recomputed, no previous view is read, and a rebuild over an existing
    view replaces it."""
    d = str(tmp_path)
    table, view = _view_case(spark, d)
    _assert_view_current(spark, view, table)
    _replay_rest(spark, table, d)
    assert view.full_build(spark, table) == table.current_version()
    _assert_view_current(spark, view, table)
    assert [e for e in os.listdir(view.path) if e.startswith("data")] == [
        f"data_v{table.current_version()}"
    ]


def test_view_refresh_after_compaction_only_commit(spark, tmp_path):
    """A commit that only compacts (no new data) rewrites bucket files: the
    refresh recomputes those buckets and the view is unchanged in content."""
    d = str(tmp_path)
    table, view = _view_case(spark, d)
    _replay_rest(spark, table, d)
    view.refresh(spark, table)
    before = _assert_view_current(spark, view, table)

    assert table.has_deltas(), "vacuous: nothing to compact"
    v = table.current_version()
    table.compact(spark)
    assert table.current_version() == v + 1 and not table.has_deltas()
    m = view.refresh(spark, table)
    assert m["refreshed"] and m["recomputed_buckets"] and m["changed_convs"] > 0
    assert _assert_view_current(spark, view, table) == before


def _delete_conversation(spark, table, batch_id: int) -> str:
    """Merge one batch that deletes every turn of the first conversation;
    returns its id."""
    import datetime

    state = table.read(spark).toPandas()
    victim = sorted(state["conv_id"])[0]
    turns = sorted(int(t) for t in state.loc[state["conv_id"] == victim, "turn_idx"])
    late = datetime.datetime(2100, 1, 1)
    deletes = spark.createDataFrame(
        [("D", victim, t, None, late, 10**9 + i, 0, 10**9 + i) for i, t in enumerate(turns)],
        FEED_SCHEMA,
    )
    merge_batch(spark, table, deletes, batch_id=batch_id)
    return victim


def test_view_refresh_drops_fully_deleted_conversation(spark, tmp_path):
    """A conversation whose every turn is deleted has no live rows left in
    its bucket, so the refresh drops it from the view."""
    d = str(tmp_path)
    table, view = _view_case(spark, d)
    victim = _delete_conversation(spark, table, batch_id=2)
    m = view.refresh(spark, table)
    assert m["refreshed"] and len(m["recomputed_buckets"]) == 1
    got = _assert_view_current(spark, view, table)
    assert victim not in {r[0] for r in got}


def test_view_refresh_across_rebucket(spark, tmp_path):
    """A rebucket between refreshes changes the bucket count: every bucket
    of the new layout is recomputed and the view stays exact."""
    d = str(tmp_path)
    table, view = _view_case(spark, d)
    _replay_rest(spark, table, d)
    table.rebucket(spark, 8)
    m = view.refresh(spark, table)
    assert m["refreshed"] and len(m["recomputed_buckets"]) == 8
    _assert_view_current(spark, view, table)


def test_view_refresh_after_snapshot_expiry(spark, tmp_path):
    """When expire_snapshots has dropped the version the view reflects, the
    refresh rebuilds every bucket instead of raising."""
    d = str(tmp_path)
    table, view = _view_case(spark, d, n_files=5)
    v_view = view.reflected_version()
    _replay_rest(spark, table, d)
    assert table.current_version() == v_view + 3
    expire_snapshots(table, keep_last=1, grace_seconds=0.0)
    with pytest.raises(ValueError):
        table.snapshot(v_view)
    m = view.refresh(spark, table)
    assert m["refreshed"] and m["recomputed_buckets"] == [0, 1, 2, 3]
    _assert_view_current(spark, view, table)


def test_view_refresh_job_budget(spark, tmp_path, count_jobs):
    """A refresh over delta-carrying buckets starts at most 4 Spark jobs —
    the previous view's schema read, the fold and rollup shuffles, and the
    write — both when every bucket changed and when one bucket changed and
    the others' rows carry forward. The recomputed-conversation count rides
    the write."""
    d = str(tmp_path)
    table, view = _view_case(spark, d)
    for change in (lambda: _replay_rest(spark, table, d),
                   lambda: _delete_conversation(spark, table, batch_id=4)):
        change()
        assert table.has_deltas(), "vacuous: no fold to run"
        jobs, m = count_jobs(lambda: view.refresh(spark, table))
        assert m["refreshed"] and jobs <= 4, f"refresh started {jobs} Spark jobs"
        _assert_view_current(spark, view, table)


def test_export_snapshot_survives_source_expiry(spark, tmp_path):
    """export_snapshot clones one consistent version as a standalone
    table; the clone reads identically and survives expiring (GC-ing) the
    source's old snapshots and files."""
    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches
    from palimpzest_spark.cdc.timetravel import expire_snapshots, export_snapshot

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=20, max_turns=5, seed=21)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=400, n_convs=20, max_turns=5, n_files=4, seed=21
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1, max_batches=2)
    v_mid = table.current_version()
    want = sorted(map(tuple, table.read(spark).collect()))

    m = export_snapshot(table, f"{d}/backup", version=v_mid)
    assert m["files_copied"] > 0 and m["source_version"] == v_mid

    # keep replaying + expire everything old on the source (grace 0)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1,
                   skip_files=2, start_batch_id=2)
    expire_snapshots(table, keep_last=1, grace_seconds=0.0)

    clone = SnapshotLakeTable(f"{d}/backup", n_buckets=4)
    assert clone.current_version() == 1
    got = sorted(map(tuple, clone.read(spark).collect()))
    assert got == want and len(got) > 0


def test_expire_survives_widened_retention_window(tmp_path):
    """Raising keep_last after a previous expire must not crash: versions
    inside the new window whose manifests the earlier run already deleted
    are simply not retainable (they cannot be resurrected) — the expiry
    keeps only what still exists instead of aborting on the first load."""
    from palimpzest_spark.cdc.lake import SnapshotLakeTable

    t = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=2)
    for i in range(8):
        t.commit(
            {"files": {}, "deltas": {}, "filestats": {}, "schema": None,
             "summary": {"last_batch_id": i, "offsets": {}}}
        )
    first = expire_snapshots(t, keep_last=2, grace_seconds=0.0)
    assert first["retained_versions"] == [7, 8]
    # two more commits, then a WIDER window reaching into expired versions
    for i in (8, 9):
        t.commit(
            {"files": {}, "deltas": {}, "filestats": {}, "schema": None,
             "summary": {"last_batch_id": i, "offsets": {}}}
        )
    res = expire_snapshots(t, keep_last=6, grace_seconds=0.0)
    # v5/v6 are gone for good; everything still on disk in-window is kept
    assert res["retained_versions"] == [7, 8, 9, 10]
    assert t.snapshot(7)["version"] == 7  # oldest retained still readable
