"""CDC engine correctness gates (BASELINE.json:6,15).

- final table state == pandas event-log fold of the feed over the base table,
  with per-turn text equality under stable (conv_id, turn_idx) ordering;
- schema evolution mid-feed (new tool_args column, turn_idx widening) is
  reconciled without restart;
- duplicated events / replayed batches are no-ops (exactly-once);
- a killed streaming job resumed from checkpoint reaches the identical state.
"""

from __future__ import annotations

import glob

import pandas as pd
import pytest

from palimpzest_spark.cdc import feedgen
from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.merge import bootstrap, merge_batch
from palimpzest_spark.cdc.oracle import fold
from palimpzest_spark.cdc.runner import FEED_SCHEMA, replay_batches, replay_stream


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc")
    base = feedgen.gen_base_table(str(d / "base"), n_convs=60, max_turns=8, seed=42)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=5000, n_convs=60, max_turns=8, n_files=10, seed=42
    )
    return {"dir": d, "base": base, "feed_dir": str(d / "feed"), "feed_paths": feed_paths}


def _expected(fix) -> pd.DataFrame:
    base = pd.read_parquet(fix["base"])
    feed = pd.concat([pd.read_parquet(p) for p in fix["feed_paths"]], ignore_index=True)
    return fold(base, feed)


def _actual(spark, table: SnapshotLakeTable) -> pd.DataFrame:
    out = table.read(spark).toPandas()
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def _assert_state_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    a_keys = list(zip(actual["conv_id"], actual["turn_idx"].astype("int64")))
    e_keys = list(zip(expected["conv_id"], expected["turn_idx"].astype("int64")))
    assert a_keys == e_keys, "key sets / ordering differ"
    # the north-rule invariant: per-turn text equality under stable ordering
    a_text = actual["text"].where(actual["text"].notna(), None).tolist()
    e_text = expected["text"].where(expected["text"].notna(), None).tolist()
    assert a_text == e_text, "per-turn text mismatch"
    for col in ("role", "tool"):
        a = actual[col].where(actual[col].notna(), None).tolist()
        e = expected[col].where(expected[col].notna(), None).tolist()
        assert a == e, f"column {col} mismatch"


def test_batch_replay_matches_fold(spark, fixture_dirs, tmp_path):
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    metrics = replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=3)
    assert sum(m["events"] for m in metrics) > 0
    # non-vacuous: batches here rival the table, so every one is planned;
    # evolution batches infer by design, but at least one stable-schema
    # batch must take the known-schema decode behind the observed gate
    assert any(m.get("path") == "planned_known" for m in metrics), [
        (m.get("path"), m.get("aborts")) for m in metrics]
    _assert_state_equal(_actual(spark, table), _expected(fixture_dirs))


def test_schema_evolution_applied(spark, fixture_dirs, tmp_path):
    """The evolved feed adds tool_args and widens turn_idx to int64 —
    both must land in the final table schema and values."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=3)
    actual = _actual(spark, table)
    expected = _expected(fixture_dirs)
    assert "tool_args" in actual.columns
    assert actual["turn_idx"].max() >= 2**31  # widened beyond int32
    a = actual["tool_args"].where(actual["tool_args"].notna(), None).tolist()
    e = (
        expected["tool_args"].where(expected["tool_args"].notna(), None).tolist()
        if "tool_args" in expected.columns
        else [None] * len(expected)
    )
    assert a == e


def test_replayed_batch_is_noop(spark, fixture_dirs, tmp_path):
    """Exactly-once: re-applying an already-committed batch changes nothing."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=3)
    v_before = table.current_version()
    state_before = _actual(spark, table)

    first = spark.read.schema(FEED_SCHEMA).parquet(fixture_dirs["feed_paths"][0])
    m = merge_batch(spark, table, first, batch_id=0)  # stale batch id
    assert m["skipped"] is True
    assert table.current_version() == v_before
    pd.testing.assert_frame_equal(_actual(spark, table), state_before)


def test_out_of_order_lww(spark, tmp_path):
    """An older-versioned update arriving in a LATER batch must not win —
    including against a delete (no resurrection)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import json as _json

    d = tmp_path / "mini"
    d.mkdir()
    base = feedgen.gen_base_table(str(d / "base"), n_convs=2, max_turns=2, seed=42)

    def ev(op, conv, turn, text, ts_s, seq, part=0, off=0):
        payload = None if op == "D" else _json.dumps(
            {"conv_id": conv, "turn_idx": turn, "role": "user", "text": text, "tool": None}
        )
        return (op, conv, turn, payload, ts_s, seq, part, off)

    rows = [
        ev("U", "conv-00000000", 0, "newest", 2_000_000, 10, 0, 0),
        ev("D", "conv-00000001", 0, "", 2_000_100, 11, 0, 1),
    ]
    late = [
        ev("U", "conv-00000000", 0, "stale", 1_999_999, 5, 0, 2),  # older → loses
        ev("U", "conv-00000001", 0, "zombie", 2_000_050, 6, 0, 3),  # older than D
    ]

    def write(path, rows):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "op": pa.array(cols[0], pa.string()),
                    "conv_id": pa.array(cols[1], pa.string()),
                    "turn_idx": pa.array(cols[2], pa.int64()),
                    "payload": pa.array(cols[3], pa.string()),
                    "ts": pa.array(
                        [feedgen.BASE_EPOCH + t for t in cols[4]], pa.timestamp("s")
                    ).cast(pa.timestamp("us")),
                    "event_seq": pa.array(cols[5], pa.int64()),
                    "partition": pa.array(cols[6], pa.int32()),
                    "offset": pa.array(cols[7], pa.int64()),
                }
            ),
            path,
        )

    feed = d / "feed"
    feed.mkdir()
    write(str(feed / "feed-00000.parquet"), rows)
    write(str(feed / "feed-00001.parquet"), late)

    table = SnapshotLakeTable(str(d / "lake"), n_buckets=4)
    bootstrap(spark, table, base)
    replay_batches(spark, table, str(feed), files_per_batch=1)

    final = _actual(spark, table)
    row0 = final[(final.conv_id == "conv-00000000") & (final.turn_idx == 0)]
    assert row0["text"].tolist() == ["newest"], "older update must not overwrite newer"
    row1 = final[(final.conv_id == "conv-00000001") & (final.turn_idx == 0)]
    assert len(row1) == 0, "older update must not resurrect a deleted row"


def test_kill_and_resume_stream(spark, fixture_dirs, tmp_path):
    """Kill the streaming query after 2 microbatches; resume from checkpoint;
    final state must equal the full fold."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    ckpt = str(tmp_path / "ckpt")

    first = replay_stream(
        spark, table, fixture_dirs["feed_dir"], ckpt, max_files_per_trigger=2, max_batches=2
    )
    assert len(first) >= 2
    n_files = len(glob.glob(fixture_dirs["feed_dir"] + "/feed-*.parquet"))
    assert sum(m["events"] for m in first) < n_files * 600  # genuinely partial

    resumed = replay_stream(
        spark, table, fixture_dirs["feed_dir"], ckpt, max_files_per_trigger=2
    )
    assert resumed, "resume processed nothing"
    _assert_state_equal(_actual(spark, table), _expected(fixture_dirs))


def test_stream_mor_kill_resume_big_base(spark, tmp_path):
    """Streaming + merge-on-read + checkpoint resume together: batches that
    are slivers of a big base take the delta path inside foreachBatch, a
    mid-stream kill loses nothing, and the resumed stream converges to the
    exact pandas fold."""
    d = tmp_path / "smor"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=2500, max_turns=10, seed=21)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=900, n_convs=2500, max_turns=10, n_files=9, seed=21
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    ckpt = str(d / "ckpt")

    first = replay_stream(spark, table, str(d / "feed"), ckpt,
                          max_files_per_trigger=2, max_batches=2)
    assert len(first) >= 2
    assert any(m.get("delta_buckets", 0) > 0 for m in first), "MoR path not taken"

    resumed = replay_stream(spark, table, str(d / "feed"), ckpt, max_files_per_trigger=2)
    assert resumed
    expected = fold(
        pd.read_parquet(base),
        pd.concat([pd.read_parquet(p) for p in feed_paths], ignore_index=True),
    )
    _assert_state_equal(_actual(spark, table), expected)


def test_maintenance_interleaved_with_kill_resume(spark, tmp_path):
    """VERDICT r3 next-#6: table maintenance (compact + expire_snapshots,
    exactly what `runner --maintenance both` calls) running BETWEEN the kill
    and the resume of a checkpointed stream must not disturb convergence:
    the expire horizon (oldest retained commit's committed_at) protects the
    in-flight stream's already-written-but-uncommitted files, compaction
    rewrites deltas into the base, and the resumed stream still folds to the
    exact pandas LWW state. Also asserts expired versions raise while
    retained ones stay readable."""
    d = tmp_path / "maint"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=800, max_turns=8, seed=33)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=1200, n_convs=800, max_turns=8, n_files=8, seed=33
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    ckpt = str(d / "ckpt")

    first = replay_stream(spark, table, str(d / "feed"), ckpt,
                          max_files_per_trigger=2, max_batches=2)
    assert len(first) >= 2

    # maintenance mid-replay: compact deltas, then expire all but the last
    # 2 snapshots (the CLI's --maintenance both path)
    from palimpzest_spark.cdc.timetravel import expire_snapshots

    table.compact(spark)
    rep = expire_snapshots(table, keep_last=2)
    assert rep["removed_snapshots"] > 0, "maintenance was a no-op"
    cur = table.current_version()
    with pytest.raises(Exception):
        table.read(spark, version=1)  # expired version must raise
    assert table.read(spark, version=cur).count() > 0  # retained stays live

    resumed = replay_stream(spark, table, str(d / "feed"), ckpt,
                            max_files_per_trigger=2)
    assert resumed, "resume processed nothing after maintenance"

    # second maintenance pass AFTER convergence must not change the state
    table.compact(spark)
    expire_snapshots(table, keep_last=2)

    expected = fold(
        pd.read_parquet(base),
        pd.concat([pd.read_parquet(p) for p in feed_paths], ignore_index=True),
    )
    _assert_state_equal(_actual(spark, table), expected)


def test_extreme_hot_key_skew(spark, tmp_path):
    """95% of events on ~1% of conv_ids (pathological Zipf): the map-side
    combinable LWW must still produce the exact fold — no correctness
    dependence on key distribution (the skew-immunity claim of merge.py
    step 4)."""
    d = tmp_path / "skew"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=300, max_turns=6, seed=9)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=6000, n_convs=300, max_turns=6, n_files=6, seed=9,
        hot_frac=0.01, hot_share=0.95,
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    metrics = replay_batches(spark, table, str(d / "feed"), files_per_batch=2)
    assert sum(m["events"] for m in metrics) > 0
    expected = fold(
        pd.read_parquet(base),
        pd.concat([pd.read_parquet(p) for p in feed_paths], ignore_index=True),
    )
    _assert_state_equal(_actual(spark, table), expected)


def test_per_partition_offset_lineage(spark, fixture_dirs, tmp_path):
    """The snapshot summary must carry exact per-source-partition high-water
    offsets (the north rule's per-partition lineage + checkpoint metadata)."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=3)

    feed = pd.concat(
        [pd.read_parquet(p) for p in fixture_dirs["feed_paths"]], ignore_index=True
    )
    expected = feed.groupby("partition")["offset"].max().to_dict()
    got = {int(k): int(v) for k, v in table.snapshot()["summary"]["offsets"].items()}
    assert got == {int(k): int(v) for k, v in expected.items()}


def test_iceberg_sql_generation_and_gate(spark, tmp_path):
    """The Iceberg path's SQL is pure and testable without the runtime jar;
    execution is explicitly gated."""
    from palimpzest_spark.cdc import iceberg as I

    sql = I.merge_into_sql("lake.conv", "src", ["role", "text", "tool", "ts"])
    assert "MERGE INTO lake.conv t USING src s" in sql
    assert "t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in sql
    # strict version guard: idempotent on replay
    assert "s._ts > t._ts OR (s._ts = t._ts AND s._event_seq > t._event_seq)" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql

    ddl = I.create_table_sql("lake.conv", {"role": "string", "text": "string"}, n_buckets=64)
    assert "PARTITIONED BY (bucket(64, conv_id))" in ddl
    assert I.evolve_table_schema_sql("t", {"tool_args": "string"}) == [
        "ALTER TABLE t ADD COLUMN tool_args string"
    ]

    # merge-on-read twin of lake.plan_compaction: v2 + MoR write modes,
    # rewrite_data_files as the compaction trigger
    props = I.mor_table_properties_sql("lake.conv")
    assert any("'write.merge.mode' = 'merge-on-read'" in p for p in props)
    assert any("'format-version' = '2'" in p for p in props)
    call = I.compact_sql("lake", "lake.conv")
    assert call.startswith("CALL lake.system.rewrite_data_files(")
    assert "delete-file-threshold" in call

    assert not I.iceberg_available(spark)  # no jar in this container
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        I.merge_batch_iceberg(spark, "lake.conv", spark.range(1), 0)


def test_pyfiles_zip_builds(tmp_path):
    from palimpzest_spark.submit import build_pyfiles_zip
    import zipfile

    out = build_pyfiles_zip(str(tmp_path / "pz.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "palimpzest_spark/cdc/merge.py" in names
    assert "palimpzest_spark/session.py" in names
    assert not any("__pycache__" in n for n in names)


def _fits_live_gate(batch, public) -> bool:
    """True iff the merge's live schema gate — ``_anomaly_expr`` over the
    ``_m`` map<string,string> parse of ``payload`` — counts no row of
    ``batch`` as misfitting ``public``."""
    from pyspark.sql import functions as F

    from palimpzest_spark.cdc.merge import _anomaly_expr

    n = (
        batch.withColumn("_m", F.from_json("payload", "map<string,string>"))
        .agg(F.sum(_anomaly_expr(public)).alias("n"))
        .collect()[0]["n"]
    )
    return (n or 0) == 0


def test_schema_fits_probe_detects_anomalies(spark):
    """The live schema gate must pass on fitting batches and fail on exactly
    the three anomaly classes: new column, numeric widening-needed, type
    drift. (A table with no schema yet has no gate: the first write infers,
    pinned by test_first_write_without_bootstrap_matches_fold.)"""
    from pyspark.sql import types as T

    public = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def b(payloads):
        return spark.createDataFrame([(p,) for p in payloads], "payload string")

    fits = b(['{"conv_id": "c1", "turn_idx": 3, "text": "hi"}', None])
    assert _fits_live_gate(fits, public)

    new_col = b(['{"conv_id": "c1", "turn_idx": 3, "text": "hi", "tool_args": "x"}'])
    assert not _fits_live_gate(new_col, public)

    widen = b(['{"conv_id": "c1", "turn_idx": 3000000000, "text": "hi"}'])  # > int32
    assert not _fits_live_gate(widen, public)

    drift = b(['{"conv_id": "c1", "turn_idx": "not-a-number", "text": "hi"}'])
    assert not _fits_live_gate(drift, public)


def test_mor_delta_path_and_compaction(spark, tmp_path):
    """Merge-on-read: when batches are slivers of a big base table, merges
    must append delta files (cost O(batch)) instead of rewriting buckets;
    the read-side LWW fold must still reproduce the exact pandas event-log
    fold, the delta-file cap must trigger inline compaction, and maintenance
    compact() must be state-preserving."""
    d = tmp_path / "mor"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=3000, max_turns=12, seed=11)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=1200, n_convs=3000, max_turns=12, n_files=12, seed=11
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)

    metrics = replay_batches(spark, table, str(d / "feed"), files_per_batch=1)
    assert len(metrics) == 12
    # early batches: ~100 events over a ~19k-row base → every bucket takes the
    # delta path; the max_delta_files cap (8) must force a compaction later
    assert metrics[0]["delta_buckets"] > 0 and metrics[0]["compacted_buckets"] == 0
    # the cap is COMPACT_MAX_DELTA_FILES=8 (shared policy with
    # plan_compaction): the 0-row overflow sweep (incoming_delta=False)
    # fires only once accumulated files EXCEED the cap — a bucket touched by
    # every batch holds its 9th delta file after batch index 8, which is the
    # earliest the sweep can fire
    assert all(m["compacted_buckets"] == 0 for m in metrics[:8])
    assert any(m["compacted_buckets"] > 0 for m in metrics[8:])

    expected = fold(
        pd.read_parquet(base),
        pd.concat([pd.read_parquet(p) for p in feed_paths], ignore_index=True),
    )
    _assert_state_equal(_actual(spark, table), expected)

    # maintenance compaction folds deltas into key-unique base files without
    # changing visible state
    assert table.has_deltas()
    table.compact(spark)
    assert not table.has_deltas()
    _assert_state_equal(_actual(spark, table), expected)


def test_widening_only_batch_does_not_poison_merge(spark, tmp_path):
    """A batch whose ONLY anomaly is numeric widening (turn_idx beyond int32,
    no new columns) must route through Arrow inference and merge cleanly.

    Regression: the fused probe used Column.cast, which under Spark 4's
    default ANSI mode throws CAST_INVALID_INPUT on the out-of-range value
    instead of yielding NULL — crashing merge_batch (a poison-pill loop in
    replay_stream). feedgen's evolution always co-adds tool_args, so the
    unknown-key branch masked this; this batch has no unknown keys."""
    import json as _json

    d = tmp_path / "widen_only"
    d.mkdir()
    base = feedgen.gen_base_table(str(d / "base"), n_convs=4, max_turns=2, seed=3)
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=4)
    bootstrap(spark, table, base)
    assert dict((f.name, f.dataType.simpleString()) for f in table.schema().fields)[
        "turn_idx"
    ] == "int"

    big_turn = 3_000_000_000  # > int32 max; same keys as the base schema
    payload = _json.dumps(
        {
            "conv_id": "conv-00000000",
            "turn_idx": big_turn,
            "role": "user",
            "text": "widened",
            "tool": None,
        }
    )
    batch = spark.createDataFrame(
        [("I", "conv-00000000", big_turn, payload, 0, 0)],
        "op string, conv_id string, turn_idx long, payload string, "
        "event_seq long, partition int",
    ).selectExpr(
        "op", "conv_id", "turn_idx", "payload",
        f"timestamp_seconds({feedgen.BASE_EPOCH + 200_000}) as ts",
        "event_seq", "partition", "cast(0 as long) as offset",
    )
    m = merge_batch(spark, table, batch, batch_id=1)  # must not raise
    assert m["events"] == 1
    final = _actual(spark, table)
    assert dict((f.name, f.dataType.simpleString()) for f in table.schema().fields)[
        "turn_idx"
    ] == "bigint"
    row = final[final.turn_idx == big_turn]
    assert row["text"].tolist() == ["widened"]


def test_probe_skips_arrow_inference_in_steady_state(spark, tmp_path, monkeypatch):
    """Two-tier schema resolution: batches that provably fit the table schema
    must NOT pay the Python/Arrow inference pass; evolution batches must."""
    import palimpzest_spark.cdc.merge as M

    calls = []
    orig = M.infer_payload_schema

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(M, "infer_payload_schema", counting)

    # no evolution anywhere in the feed → every batch fits the bootstrap schema
    d = tmp_path / "steady"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=40, max_turns=6, seed=7)
    feedgen.gen_change_feed(
        str(d / "feed"), n_events=2000, n_convs=40, max_turns=6, n_files=4, seed=7,
        evolve_at=2.0,  # never evolves
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    replay_batches(spark, table, str(d / "feed"), files_per_batch=2)
    assert calls == [], "steady-state batches must skip Arrow inference"

    # evolution mid-feed → at least one batch pays inference, and the widened
    # schema then satisfies the probe again for later batches
    d2 = tmp_path / "evolve"
    base2 = feedgen.gen_base_table(str(d2 / "base"), n_convs=40, max_turns=6, seed=7)
    feedgen.gen_change_feed(
        str(d2 / "feed"), n_events=4000, n_convs=40, max_turns=6, n_files=8, seed=7,
        evolve_at=0.25,
    )
    table2 = SnapshotLakeTable(str(d2 / "lake"), n_buckets=8)
    bootstrap(spark, table2, base2)
    replay_batches(spark, table2, str(d2 / "feed"), files_per_batch=2)
    assert 1 <= len(calls) <= 2, f"evolution should infer once or twice, got {len(calls)}"
    assert "tool_args" in [f.name for f in table2.schema().fields]


def test_iceberg_sql_parses_in_spark_grammar(spark):
    """VERDICT r2: the generated Iceberg SQL was only string-asserted. Spark's
    own SQL parser (no catalog, no jar needed) must accept the MERGE / DDL
    text — a regression here means the generated SQL stopped being SQL.
    (CALL rewrite_data_files uses Iceberg's procedure-call grammar, parsed by
    Spark 4's core parser as well.)"""
    from palimpzest_spark.cdc import iceberg as I

    parser = spark._jsparkSession.sessionState().sqlParser()
    stmts = [
        I.merge_into_sql("lake.db.conv", "batch_view", ["role", "text", "tool"]),
        I.create_table_sql("lake.db.conv", {"role": "string", "text": "string"}),
        *I.evolve_table_schema_sql("lake.db.conv", {"tool_args": "string"}),
        *I.mor_table_properties_sql("lake.db.conv"),
        I.compact_sql("lake", "db.conv"),
    ]
    for sql in stmts:
        parser.parsePlan(sql)  # raises ParseException on bad grammar


def test_spark_submit_pyfiles_launch_end_to_end(tmp_path):
    """The north rule's launch path, actually executed: build the
    --py-files archive, then run a CDC bootstrap + replay through the REAL
    ``spark-submit`` binary with the engine code delivered ONLY via the zip
    (cwd is the tmp dir and PYTHONPATH is scrubbed, so the repo checkout is
    not importable — exactly how cluster executors receive code)."""
    import os
    import subprocess

    from palimpzest_spark.submit import build_pyfiles_zip

    out = build_pyfiles_zip(str(tmp_path / "pz.zip"))
    job = tmp_path / "job.py"
    job.write_text(
        """
import sys

from palimpzest_spark.session import get_spark
from palimpzest_spark.cdc import feedgen
from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.merge import bootstrap
from palimpzest_spark.cdc.runner import replay_batches

spark = get_spark(master="local[4]")
d = sys.argv[1]
base = feedgen.gen_base_table(f"{d}/base", n_convs=20, max_turns=6, seed=3)
feedgen.gen_change_feed(
    f"{d}/feed", n_events=500, n_convs=20, max_turns=6, n_files=2, seed=3
)
table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
bootstrap(spark, table, base)
replay_batches(spark, table, f"{d}/feed", files_per_batch=1)
print("FINAL_ROWS=" + str(table.read(spark).count()))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            out,
            str(job),
            str(tmp_path / "data"),
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    marker = [ln for ln in r.stdout.splitlines() if ln.startswith("FINAL_ROWS=")]
    assert marker, r.stdout[-2000:]
    assert int(marker[0].split("=")[1]) > 0


def test_read_conv_point_lookup_prunes_files(spark, tmp_path):
    """read_conv must return exactly the full-scan answer for the requested
    conversations while touching only their buckets' files."""
    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=40, max_turns=6, seed=5)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=1000, n_convs=40, max_turns=6, n_files=2, seed=5
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=8)
    bootstrap(spark, table, base)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1)

    from pyspark.sql import functions as F

    full = table.read(spark)
    targets = [r["conv_id"] for r in full.select("conv_id").distinct().limit(3).collect()]

    got = table.read_conv(spark, targets)
    expect = full.filter(F.col("conv_id").isin(targets))
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, expect.collect()))
    assert a == b and len(a) > 0

    # pruning: the point-lookup plan reads strictly fewer files
    assert len(set(got.inputFiles())) < len(set(full.inputFiles()))


def test_read_ts_range_zone_map_pruning(spark, tmp_path):
    """Zone maps: after compaction a time-range read must skip non-
    overlapping base files; with pending deltas it must fall back to whole
    buckets — exact answers in both regimes."""
    from pyspark.sql import functions as F

    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=40, max_turns=6, seed=9)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=1500, n_convs=40, max_turns=6, n_files=3, seed=9
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=8)
    bootstrap(spark, table, base)
    replay_batches(spark, table, f"{d}/feed", files_per_batch=1)

    full = table.read(spark)
    ts_lo, ts_hi = full.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    mid = ts_lo + (ts_hi - ts_lo) / 2

    def check():
        got = table.read_ts_range(spark, ts_lo, mid)
        expect = full.filter((F.col("ts") >= ts_lo) & (F.col("ts") <= mid))
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
        return got

    # regime 1: deltas pending -> exact, whole-bucket reads
    got = check()

    # regime 2: compact everything -> ts-sorted split base files whose
    # zone maps prune (force small files so each bucket gets several)
    import palimpzest_spark.cdc.lake as LK

    orig = LK.SnapshotLakeTable.write_files

    def small_files(self, df, buckets, max_records_per_file=0):
        return orig(self, df, buckets, max_records_per_file=10)

    LK.SnapshotLakeTable.write_files = small_files
    try:
        table.compact(spark, buckets=list(range(8)))  # forced rewrite
    finally:
        LK.SnapshotLakeTable.write_files = orig
    full = table.read(spark)
    got = check()
    n_all = len(set(table.read(spark).inputFiles()))
    n_pruned = len(set(got.inputFiles()))
    assert n_pruned < n_all, (n_pruned, n_all)


@pytest.fixture(scope="module")
def live_reads(spark, tmp_path_factory):
    """Every live read of one 4-bucket table, each taken once over buckets
    that carry delta files and once over compacted buckets. Maps ``(reader,
    state)`` to ``(frame, version, keep)``; ``keep`` cuts the fold of the
    whole feed down to the rows that read covers. Three one-file batches
    leave delta files in every bucket they touch; then bucket 1 alone is
    compacted, then the whole table. The rollup view refreshes after the
    third batch (its changed buckets carry deltas) and after the one-bucket
    compaction (its one changed bucket is compacted); each refresh's frame
    is the one its ``table.read`` call returned."""
    from palimpzest_spark.cdc.lake import bucket_of
    from palimpzest_spark.cdc.views import ConversationRollupView

    d = str(tmp_path_factory.mktemp("live"))
    base = feedgen.gen_base_table(f"{d}/base", n_convs=200, max_turns=12, seed=13)
    paths = feedgen.gen_change_feed(
        f"{d}/feed", n_events=180, n_convs=200, max_turns=12, n_files=3, seed=13,
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    view = ConversationRollupView(f"{d}/view")
    for i, p in enumerate(paths):
        merge_batch(spark, table, spark.read.schema(FEED_SCHEMA).parquet(p), batch_id=i)
        if i == 1:
            view.full_build(spark, table)
    assert all(table.snapshot()["deltas"].get(str(b)) for b in range(4)), "vacuous"

    refreshed = []

    def spy_read(*a, **k):
        refreshed.append(SnapshotLakeTable.read(table, *a, **k))
        return refreshed[-1]

    table.read = spy_read
    try:
        m_deltas = view.refresh(spark, table)
        v_refresh = table.current_version()
        table.compact(spark, [1])
        assert view.refresh(spark, table)["recomputed_buckets"] == [1]
    finally:
        del table.read
    v_mixed = table.current_version()
    table.compact(spark)
    v_compact = table.current_version()

    feed = pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)
    ts = pd.to_datetime(fold(pd.read_parquet(base), feed)["ts"]).dropna()
    lo, hi = ts.quantile(0.25).to_pydatetime(), ts.quantile(0.5).to_pydatetime()
    conv_d, conv_c = (
        sorted(c for c in set(feed["conv_id"]) if bucket_of(c, 4) == b)[0] for b in (0, 1)
    )

    def buckets(*bs):
        return lambda e: e[[bucket_of(c, 4) in bs for c in e["conv_id"]]]

    def conv(c):
        return lambda e: e[e["conv_id"] == c]

    def ts_range(e):
        t = pd.to_datetime(e["ts"])
        return e[(t >= lo) & (t <= hi)]

    def every(e):
        return e

    read, read_conv, read_ts = table.read, table.read_conv, table.read_ts_range
    return {
        "expected": fold(pd.read_parquet(base), feed),
        "table": table,
        ("read", "deltas"): (read(spark, version=v_mixed), v_mixed, every),
        ("read", "compacted"): (read(spark, version=v_compact), v_compact, every),
        ("read_buckets", "deltas"): (
            read(spark, version=v_mixed, buckets=[0]), v_mixed, buckets(0)),
        ("read_buckets", "compacted"): (
            read(spark, version=v_mixed, buckets=[1]), v_mixed, buckets(1)),
        ("read_conv", "deltas"): (
            read_conv(spark, [conv_d], version=v_mixed), v_mixed, conv(conv_d)),
        ("read_conv", "compacted"): (
            read_conv(spark, [conv_c], version=v_mixed), v_mixed, conv(conv_c)),
        ("read_ts_range", "deltas"): (
            read_ts(spark, lo, hi, version=v_mixed), v_mixed, ts_range),
        ("read_ts_range", "compacted"): (
            read_ts(spark, lo, hi, version=v_compact), v_compact, ts_range),
        ("view_refresh", "deltas"): (
            refreshed[0], v_refresh, buckets(*m_deltas["recomputed_buckets"])),
        ("view_refresh", "compacted"): (refreshed[1], v_mixed, buckets(1)),
    }


@pytest.mark.parametrize("state", ["deltas", "compacted"])
@pytest.mark.parametrize(
    "reader", ["read", "read_buckets", "read_conv", "read_ts_range", "view_refresh"]
)
def test_live_read_rule(spark, live_reads, reader, state):
    """Every live read is one rule: its rows equal the pandas fold over the
    rows it covers; its optimized plan folds (holds an Aggregate) exactly
    when it scans a delta file, so a read over compacted buckets never
    folds; and its columns are the snapshot's public schema, in order,
    whether it folded or not."""
    import os

    from palimpzest_spark.cdc.lake import META_COLS

    df, version, keep = live_reads[(reader, state)]
    table = live_reads["table"]
    snap = table.snapshot(version)
    deltas = {os.path.join(table.root, p) for ps in snap["deltas"].values() for p in ps}
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert bool(scanned & deltas) == (state == "deltas"), "fixture lost its state"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert ("Aggregate" in plan) == (state == "deltas"), plan
    assert df.columns == [f.name for f in table.schema(version).fields
                          if f.name not in META_COLS]
    expected = keep(live_reads["expected"]).reset_index(drop=True)
    actual = df.toPandas().sort_values(["conv_id", "turn_idx"], kind="mergesort")
    assert len(expected) > 0, "vacuous: the read covers no live row"
    _assert_state_equal(actual.reset_index(drop=True), expected)


def test_steady_cdc_call_job_budget(spark, tmp_path, count_jobs):
    """The CDC calls the benchmark times start a pinned number of Spark
    jobs: the first merge_batch after bootstrap (planned, known schema), a
    steady delta-first merge_batch with no compaction, a read_conv point
    lookup and a read_ts_range scan. A new collect or count in any of them
    fails here; lower a pin only when a cut lands."""
    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=1500, max_turns=8, seed=5)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=600, n_convs=1500, max_turns=8, n_files=4, seed=5,
        evolve_at=1.0,
    )
    files = sorted(glob.glob(f"{d}/feed/feed-*.parquet"))
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)

    def merge(i):
        return merge_batch(
            spark, table, spark.read.schema(FEED_SCHEMA).parquet(files[i]), batch_id=i)

    n, m = count_jobs(lambda: merge(0))
    assert m["path"] == "planned_known" and m["aborts"] == [], m
    assert 1 <= n <= 5, f"first merge_batch after bootstrap started {n} Spark jobs"
    merge(1)
    merge(2)

    n, m = count_jobs(lambda: merge(3))
    assert m["path"] == "delta_first" and m["compacted_buckets"] == 0, m
    assert 1 <= n <= 3, f"steady merge_batch started {n} Spark jobs"

    conv = sorted(pd.read_parquet(base)["conv_id"])[7]
    n, rows = count_jobs(lambda: table.read_conv(spark, [conv]).collect())
    assert rows and 1 <= n <= 2, f"read_conv started {n} Spark jobs"

    lo = feedgen.BASE_EPOCH * 10**6
    n, _ = count_jobs(lambda: table.read_ts_range(spark, lo, lo + 3_600 * 10**6)
                 .write.format("noop").mode("overwrite").save())
    assert 1 <= n <= 2, f"read_ts_range started {n} Spark jobs"


def _upserts(spark, keys, seqs, extra=None, offsets=True):
    """A hand-made feed batch: one upsert per (conv_id, turn_idx) in
    ``keys`` with the matching ``event_seq``, partition 0. ``extra`` adds
    payload keys (schema drift); ``offsets=False`` leaves every offset null."""
    import json as _json

    pdf = pd.DataFrame(
        [
            {
                "op": "U", "conv_id": c, "turn_idx": t,
                "payload": _json.dumps({"conv_id": c, "turn_idx": t, "role": "user",
                                        "text": f"t{s}", "tool": None, **(extra or {})}),
                "ts": pd.Timestamp((feedgen.BASE_EPOCH + 500_000 + s) * 10**9),
                "event_seq": s, "partition": 0, "offset": s if offsets else None,
            }
            for (c, t), s in zip(keys, seqs)
        ]
    )[FEED_SCHEMA.fieldNames()]
    pdf["offset"] = pdf["offset"].astype("Int64")
    return pdf, spark.createDataFrame(pdf, schema=FEED_SCHEMA)


def _sampled_seqs(spark, sampled: bool, n: int) -> list[int]:
    """``n`` event_seq values the planned merge's strided anomaly sample
    does (or does not) parse — the same hash as ``merge._pre_grid``."""
    from pyspark.sql import functions as F

    hit = F.pmod(F.xxhash64("id"), F.lit(64)) == 0
    rows = spark.range(0, 64 * n + 4096).where(hit if sampled else ~hit).limit(n).collect()
    return [r.id for r in rows]


def _uncommitted_files(table: SnapshotLakeTable) -> set[str]:
    import os

    snap = table.snapshot()
    live = {p for ps in [*snap["files"].values(), *snap["deltas"].values()] for p in ps}
    on_disk = {
        os.path.relpath(p, table.root)
        for p in glob.glob(f"{table.root}/data/**/*.parquet", recursive=True)
    }
    return on_disk - live


def _assert_tool_args_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    assert "tool_args" in actual.columns
    a = actual["tool_args"].where(actual["tool_args"].notna(), None).tolist()
    e = expected["tool_args"].where(expected["tool_args"].notna(), None).tolist()
    assert a == e


def test_drift_with_null_offsets_after_delta_first_abort_matches_fold(spark, tmp_path, count_jobs):
    """A small drifted batch (new payload key) with null source offsets on a
    steady table: delta-first aborts on the anomaly and the planned merge
    goes straight to inference, with no second optimistic write. Lineage
    records max_offset -1 for the partition, and the table equals the
    fold."""
    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=300, max_turns=4, seed=21)
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    keys = sorted(zip(*[pd.read_parquet(base)[c] for c in ("conv_id", "turn_idx")]))
    f1, b1 = _upserts(spark, keys[:20], range(20))
    assert merge_batch(spark, table, b1, batch_id=1)["path"] == "planned_known"

    f2, b2 = _upserts(spark, keys[100:110], range(100, 110),
                      extra={"tool_args": "{\"q\": 1}"}, offsets=False)
    n, m = count_jobs(lambda: merge_batch(spark, table, b2, batch_id=2))
    assert (m["path"], m["aborts"]) == ("planned_inferred", ["delta_first:anomaly"]), m
    assert m["lineage"] == {"0": {"events": 10, "max_offset": -1}}
    assert 1 <= n <= 9, f"delta-first abort → inferred started {n} Spark jobs"
    assert table.snapshot()["summary"]["offsets"]["0"] == 19

    expected = fold(pd.read_parquet(base), pd.concat([f1, f2], ignore_index=True))
    actual = _actual(spark, table)
    _assert_state_equal(actual, expected)
    _assert_tool_args_equal(actual, expected)


def test_known_gate_abort_reruns_inferred(spark, tmp_path, count_jobs):
    """Drifted rows the strided sample misses: the known-schema write's
    exact observed gate aborts it (no files left behind) and the same grid
    feeds the inferred write; the table equals the fold."""
    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=60, max_turns=4, seed=22)
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    keys = sorted(zip(*[pd.read_parquet(base)[c] for c in ("conv_id", "turn_idx")]))
    f, b = _upserts(spark, keys[:40], _sampled_seqs(spark, False, 40),
                    extra={"tool_args": "{\"q\": 2}"})
    n, m = count_jobs(lambda: merge_batch(spark, table, b, batch_id=1))
    assert (m["path"], m["aborts"]) == ("planned_inferred", ["planned_known:anomaly"]), m
    assert 1 <= n <= 9, f"known → inferred started {n} Spark jobs"
    assert _uncommitted_files(table) == set()

    expected = fold(pd.read_parquet(base), f)
    actual = _actual(spark, table)
    _assert_state_equal(actual, expected)
    _assert_tool_args_equal(actual, expected)


def test_planned_write_failure_leaves_no_uncommitted_files(spark, tmp_path, monkeypatch):
    """When the second write of a planned merge (its merge-on-read file set,
    after the copy-on-write one) raises, every file set the attempt wrote is
    aborted: nothing uncommitted stays under the table's data directory, and
    a retry of the batch merges to the fold."""
    from palimpzest_spark.cdc.lake import bucket_of

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=200, max_turns=4, seed=23)
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    bootstrap(spark, table, base)
    convs = sorted(pd.read_parquet(base)["conv_id"].unique())
    # bucket 0 gets far more new turns than half its base rows (CoW); bucket
    # 1 gets one (MoR). Drifted payloads the strided sample catches send the
    # batch straight to the inferred decode.
    hot = [c for c in convs if bucket_of(c, 4) == 0]
    cold = next(c for c in convs if bucket_of(c, 4) == 1)
    keys = [(c, 100 + t) for c in hot for t in range(3)] + [(cold, 100)]
    f, b = _upserts(spark, keys, _sampled_seqs(spark, True, len(keys)),
                    extra={"tool_args": "{\"q\": 3}"})
    v0 = table.current_version()

    calls = []
    real = SnapshotLakeTable.write_files

    def failing(self, df, buckets, **k):
        calls.append(list(buckets))
        if len(calls) == 2:
            raise RuntimeError("injected write failure")
        return real(self, df, buckets, **k)

    monkeypatch.setattr(SnapshotLakeTable, "write_files", failing)
    with pytest.raises(RuntimeError, match="injected write failure"):
        merge_batch(spark, table, b, batch_id=1)
    assert calls == [[0], [1]], calls
    assert table.current_version() == v0
    assert _uncommitted_files(table) == set()

    monkeypatch.undo()
    m = merge_batch(spark, table, b, batch_id=1)
    assert (m["path"], m["compacted_buckets"], m["delta_buckets"]) == (
        "planned_inferred", 1, 1), m
    expected = fold(pd.read_parquet(base), f)
    actual = _actual(spark, table)
    _assert_state_equal(actual, expected)
    _assert_tool_args_equal(actual, expected)


def test_first_write_without_bootstrap_matches_fold(spark, tmp_path, count_jobs):
    """Merging into a table that was never bootstrapped (``cdc.runner``
    without ``--base``) plans from the grid with nothing to sample against,
    infers the schema, and equals the fold over an empty base."""
    d = str(tmp_path)
    paths = feedgen.gen_change_feed(
        f"{d}/feed", n_events=400, n_convs=30, max_turns=4, n_files=1, seed=24,
    )
    table = SnapshotLakeTable(f"{d}/lake", n_buckets=4)
    n, m = count_jobs(lambda: merge_batch(
        spark, table, spark.read.schema(FEED_SCHEMA).parquet(*paths), batch_id=0))
    assert (m["path"], m["aborts"]) == ("planned_inferred", []), m
    assert 1 <= n <= 6, f"first write started {n} Spark jobs"

    expected = fold(pd.DataFrame(), pd.read_parquet(paths[0]))
    actual = _actual(spark, table)
    _assert_state_equal(actual, expected)
    _assert_tool_args_equal(actual, expected)


def test_replay_with_quarantine_gates(spark, tmp_path):
    """Malformed change events (null conv_id, bad op, negative turn) must
    land in the dead letter instead of the table; the merged final state
    must equal replaying only the clean events."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import FEED_SCHEMA, replay_batches

    d = str(tmp_path)
    base = feedgen.gen_base_table(f"{d}/base", n_convs=20, max_turns=5, seed=4)
    feedgen.gen_change_feed(
        f"{d}/feed", n_events=600, n_convs=20, max_turns=5, n_files=2, seed=4
    )
    # corrupt a slice of the feed: null conv_id / bogus op / negative turn
    files = sorted(_glob.glob(f"{d}/feed/feed-*.parquet"))
    feed = spark.read.schema(FEED_SCHEMA).parquet(*files)
    corrupted = feed.withColumn(
        "conv_id",
        F.when(F.col("event_seq") % 31 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    ).withColumn(
        "op",
        F.when(F.col("event_seq") % 37 == 0, F.lit("X")).otherwise(F.col("op")),
    )
    corrupted.coalesce(1).write.parquet(f"{d}/feedtmp")
    corrupted = spark.read.schema(FEED_SCHEMA).parquet(f"{d}/feedtmp")
    shutil.rmtree(f"{d}/feed")
    import os as _os

    _os.makedirs(f"{d}/feed")
    shutil.copy(
        _glob.glob(f"{d}/feedtmp/part-*.parquet")[0], f"{d}/feed/feed-0000.parquet"
    )
    corrupted = spark.read.schema(FEED_SCHEMA).parquet(f"{d}/feed")

    rules = [
        ("not_null", "conv_id"),
        ("accepted_values", "op", ["I", "U", "D"]),
    ]

    def run(feed_dir, lake, **kw):
        t = SnapshotLakeTable(lake, n_buckets=4)
        bootstrap(spark, t, base)
        ms = replay_batches(spark, t, feed_dir, files_per_batch=1, **kw)
        return t, ms

    t1, ms = run(f"{d}/feed", f"{d}/lake1",
                 quarantine_rules=rules, dead_letter_dir=f"{d}/dead")
    n_quarantined = sum(m["quarantined"] for m in ms)
    assert n_quarantined > 0

    dead = spark.read.parquet(f"{d}/dead")
    assert dead.count() == n_quarantined
    assert {r["_violated"] for r in dead.select("_violated").collect()} <= {
        "not_null(conv_id)", "accepted_values(op)",
        "not_null(conv_id);accepted_values(op)",
    }

    # equivalence: replaying the pre-cleaned feed with no gates gives the
    # identical final table state
    clean = corrupted.filter(
        F.col("conv_id").isNotNull() & F.col("op").isin(["I", "U", "D"])
    )
    _os.makedirs(f"{d}/feedclean")
    clean.coalesce(1).write.parquet(f"{d}/feedcleantmp")
    shutil.move(
        _glob.glob(f"{d}/feedcleantmp/part-*.parquet")[0],
        f"{d}/feedclean/feed-0000.parquet",
    )
    t2, _ = run(f"{d}/feedclean", f"{d}/lake2")
    a = sorted(map(tuple, t1.read(spark).collect()))
    b = sorted(map(tuple, t2.read(spark).collect()))
    assert a == b and len(a) > 0


def test_hot_key_fixture_gets_own_cache_entry(tmp_path, monkeypatch):
    """bench.py's hot-key trials (``run_cdc_bench(hot_frac=.., hot_share=..)``)
    must replay their own skewed feed, not the cached uniform one."""
    import os

    from palimpzest_spark.cdc import bench as B

    monkeypatch.setattr(B, "CACHE_ROOT", str(tmp_path / "cache"))
    uni = B.ensure_fixture(n_events=400, n_convs=20, max_turns=4, n_files=2)
    hot = B.ensure_fixture(
        n_events=400, n_convs=20, max_turns=4, n_files=2, hot_frac=0.05, hot_share=0.9
    )
    assert os.path.dirname(uni["feed_dir"]) != os.path.dirname(hot["feed_dir"])
    assert os.path.exists(uni["base"]) and os.path.exists(hot["base"])


def test_rebucket_evolution(spark, fixture_dirs, tmp_path):
    """Bucket-count evolution (Iceberg partition-spec evolution analog):
    rebucket mid-replay, then keep merging — final state must still equal
    the pandas fold; time-travel reads of pre-rebucket snapshots use THEIR
    manifest's bucket count; reopening the table adopts the persisted count
    over the constructor argument; point lookups prune with the new count."""
    import os

    from palimpzest_spark.cdc.timetravel import changed_buckets

    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    bootstrap(spark, table, fixture_dirs["base"])
    # first half of the feed at 4 buckets
    replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=2,
                   max_batches=2)
    state_mid = _actual(spark, table)
    v_mid = table.current_version()

    v_re = table.rebucket(spark, 8)
    assert table.n_buckets == 8
    assert table.snapshot()["n_buckets"] == 8
    # rebucket preserves state exactly and folds all deltas
    pd.testing.assert_frame_equal(_actual(spark, table), state_mid)
    assert not table.has_deltas()
    # every data file now lives under a bucket id < 8, keyed consistently
    snap = table.snapshot()
    assert set(map(int, snap["files"])) <= set(range(8))
    # a no-op rebucket is metadata-free
    assert table.rebucket(spark, 8) == v_re

    # time travel to the pre-rebucket snapshot still reads 4-bucket manifests
    pd.testing.assert_frame_equal(
        table.read(spark, version=v_mid)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True),
        state_mid,
    )
    # changed_buckets spans the larger universe across the rebucket boundary
    assert changed_buckets(table, v_mid, table.current_version())

    # second half of the feed merges under the NEW count
    replay_batches(spark, table, fixture_dirs["feed_dir"], files_per_batch=2,
                   skip_files=4, start_batch_id=2)
    _assert_state_equal(_actual(spark, table), _expected(fixture_dirs))

    # reopening with a stale constructor default adopts the persisted count
    reopened = SnapshotLakeTable(str(tmp_path / "lake"))  # ctor default 16
    assert reopened.n_buckets == 8
    conv = state_mid["conv_id"].iloc[0]
    got = reopened.read_conv(spark, [conv]).toPandas()
    assert set(got["conv_id"]) == {conv}


def test_commit_conflict_detection_and_compact_retry(spark, tmp_path):
    """Optimistic snapshot-commit coordination (north star: "Iceberg
    snapshot-commit coordination"): a commit that loses the version race
    raises CommitConflictError and publishes NOTHING; maintenance
    compaction retries by dropping the rewrite of any bucket the winning
    commit touched and carrying the winner's summary forward — no lost
    events, no regressed exactly-once bookkeeping."""
    import json as _json

    from palimpzest_spark.cdc.lake import CommitConflictError

    d = tmp_path / "occ"
    base = feedgen.gen_base_table(str(d / "base"), n_convs=50, max_turns=6, seed=21)
    feed_paths = feedgen.gen_change_feed(
        str(d / "feed"), n_events=4000, n_convs=50, max_turns=6, n_files=4, seed=21
    )
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    # feed files 0-2 applied; file 3 will be the concurrent writer's batch
    replay_batches(spark, table, str(d / "feed"), files_per_batch=1, max_batches=3)
    assert table.has_deltas() or True  # compaction below forces rewrite anyway

    # raw two-writer race on the SAME next version: loser must see a
    # conflict and the winner's manifest must survive intact
    t2 = SnapshotLakeTable(str(d / "lake"))
    snap = table.snapshot()
    v_won = t2.commit(
        {"files": snap["files"], "deltas": snap["deltas"],
         "filestats": snap["filestats"], "schema": snap["schema"],
         "summary": snap["summary"]}
    )
    # CAS loser: derived from the same pre-win snapshot (expect_version) —
    # the winner's v{N}.json makes the create-if-absent publish conflict
    with pytest.raises(CommitConflictError):
        table.commit(
            {"files": snap["files"], "deltas": snap["deltas"],
             "filestats": snap["filestats"], "schema": snap["schema"],
             "summary": dict(snap["summary"], poisoned=True)},
            expect_version=snap["version"],
        )
    with open(d / "lake" / "metadata" / f"v{v_won}.json") as f:
        assert "poisoned" not in _json.load(f)["summary"]

    # maintenance-vs-writer race: a merge commits between compact's plan
    # and its commit; compact must retry, keep only untouched buckets, and
    # preserve the merge's summary (exactly-once bookkeeping)
    writer = SnapshotLakeTable(str(d / "lake"))
    last = spark.read.schema(FEED_SCHEMA).parquet(feed_paths[3])
    orig_write = table.write_files
    fired = {}

    def hooked(df, buckets, **kw):
        out = orig_write(df, buckets, **kw)
        if not fired:
            fired["m"] = merge_batch(spark, writer, last, batch_id=3)
        return out

    table.write_files = hooked
    try:
        table.compact(spark, buckets=list(range(8)))  # forced full rewrite
    finally:
        table.write_files = orig_write
    assert fired["m"]["events"] > 0

    # nothing lost: final state equals the fold of the WHOLE feed
    expected = fold(
        pd.read_parquet(base),
        pd.concat([pd.read_parquet(p) for p in feed_paths], ignore_index=True),
    )
    _assert_state_equal(_actual(spark, table), expected)
    # the winner's exactly-once bookkeeping survived the retried commit
    assert table.last_batch_id() == 3


def test_rebucket_between_stream_incarnations(spark, fixture_dirs, tmp_path):
    """Partition-spec evolution mid-pipeline: kill the stream after 2
    microbatches, rebucket the table 8→16 while it is down (an operator
    resizing a growing table during a maintenance window), then resume from
    the same checkpoint. The resumed incarnation reopens the table with a
    STALE constructor bucket count and must adopt the persisted one; merges
    continue under the new count; the final state equals the full fold."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    bootstrap(spark, table, fixture_dirs["base"])
    ckpt = str(tmp_path / "ckpt")

    first = replay_stream(
        spark, table, fixture_dirs["feed_dir"], ckpt, max_files_per_trigger=2,
        max_batches=2,
    )
    assert len(first) >= 2

    table.rebucket(spark, 16)
    assert table.snapshot()["n_buckets"] == 16

    # the resumed incarnation opens the table fresh with the OLD count —
    # the persisted manifest value must win or merges would mis-bucket
    resumed_table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=8)
    assert resumed_table.n_buckets == 16
    resumed = replay_stream(
        spark, resumed_table, fixture_dirs["feed_dir"], ckpt,
        max_files_per_trigger=2,
    )
    assert resumed, "resume processed nothing"
    _assert_state_equal(_actual(spark, resumed_table), _expected(fixture_dirs))
    # post-resume rows really live under the evolved bucket universe
    snap = resumed_table.snapshot()
    touched = {int(b) for b, ps in snap["files"].items() if ps} | {
        int(b) for b, ps in snap["deltas"].items() if ps
    }
    assert max(touched) >= 8, "no bucket beyond the old count was ever written"


def test_version_hint_regression_self_heals(tmp_path):
    """A stale/regressed version hint (possible when two cross-process
    winners' last-writer-wins hint renames land out of order) must not wedge
    the table: current_version probes forward past the hint, commits derive
    new_v from the true max manifest, and the hint only ever advances."""
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    snap = {"files": {}, "deltas": {}, "filestats": {}, "schema": None,
            "summary": {"last_batch_id": -1}}
    for _ in range(3):
        table.commit(dict(snap))
    assert table.current_version() == 3

    # simulate the out-of-order rename: hint regresses to v1
    with open(table._hint_path(), "w") as f:
        f.write("1")
    fresh = SnapshotLakeTable(str(tmp_path / "lake"))  # no warm cache
    assert fresh.current_version() == 3  # forward probe heals the read

    # a commit from the regressed state lands at v4, not EEXIST-on-v2
    v = fresh.commit(dict(snap))
    assert v == 4
    with open(fresh._hint_path()) as f:
        assert int(f.read().strip()) == 4

    # _advance_hint never regresses: replaying an old advance is a no-op
    fresh._advance_hint(2)
    with open(fresh._hint_path()) as f:
        assert int(f.read().strip()) == 4

    # a CAS loser fast-forwards the hint past the winner before raising
    with open(fresh._hint_path(), "w") as f:
        f.write("1")
    from palimpzest_spark.cdc.lake import CommitConflictError

    with pytest.raises(CommitConflictError):
        fresh.commit(dict(snap), expect_version=1)  # v2 already exists
    with open(fresh._hint_path()) as f:
        assert int(f.read().strip()) >= 2


def test_two_concurrent_writer_processes_occ_serialize(spark, tmp_path):
    """Process-level multi-writer (VERDICT r4 stretch #8): two OS processes
    (separate JVMs, separate Spark drivers) replay DISJOINT feed shards into
    ONE table concurrently, each under its own writer_id. The snapshot-commit
    CAS must serialize every commit (a loser re-plans against the fresh
    snapshot and retries, aborting its orphan files), the per-writer txn
    watermarks must advance independently (both writers use batch ids 0..7 —
    the legacy global watermark would make one writer skip everything), and
    the final fold must equal the single-writer fold of the concatenated
    feeds."""
    import json
    import os
    import subprocess
    import sys
    import time
    from pathlib import Path

    d = tmp_path
    base = feedgen.gen_base_table(str(d / "base"), n_convs=40, max_turns=6, seed=11)
    feedgen.gen_change_feed(
        str(d / "feedA"), n_events=2400, n_convs=40, max_turns=6, n_files=8, seed=11
    )
    feedgen.gen_change_feed(
        str(d / "feedB"), n_events=2400, n_convs=40, max_turns=6, n_files=8, seed=12
    )
    # disjoint key spaces: feed B's conversations are renamed, so cross-writer
    # LWW ties cannot arise (two shards of one binlog never share keys) and
    # the merged result is order-independent — deterministic under any commit
    # interleaving
    for p in sorted(glob.glob(str(d / "feedB" / "feed-*.parquet"))):
        fb = pd.read_parquet(p)
        fb["conv_id"] = fb["conv_id"].str.replace("conv-", "convB-", regex=False)
        fb.to_parquet(p, index=False)

    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)

    child = d / "writer.py"
    child.write_text(
        """
import json, os, sys, time

table_dir, feed_dir, writer_id, go_file = sys.argv[1:5]
from palimpzest_spark.session import get_spark
from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.runner import replay_batches

spark = get_spark(app_name=f"cdc-writer-{writer_id}", master="local[4]")
table = SnapshotLakeTable(table_dir, n_buckets=8)
while not os.path.exists(go_file):  # start barrier: maximize overlap
    time.sleep(0.02)
ms = replay_batches(spark, table, feed_dir, files_per_batch=1,
                    writer_id=writer_id)
print("RESULT:" + json.dumps({
    "events": sum(m["events"] for m in ms),
    "batches": len(ms),
    "skipped": sum(1 for m in ms if m.get("skipped")),
    "retries": sum(m.get("commit_retries", 0) for m in ms),
}))
spark.stop()
"""
    )
    repo_root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, PYTHONPATH=repo_root)
    go = d / "go"
    procs = {
        w: subprocess.Popen(
            [sys.executable, str(child), str(d / "lake"), str(d / f"feed{w}"),
             w, str(go)],
            env=env, cwd=str(d), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True,
        )
        for w in ("A", "B")
    }
    time.sleep(1.0)  # let both JVMs reach the barrier before releasing it
    go.write_text("")
    res = {}
    for w, p in procs.items():
        out, _ = p.communicate(timeout=900)
        assert p.returncode == 0, f"writer {w} failed:\n{out[-4000:]}"
        res[w] = json.loads(
            [ln for ln in out.splitlines() if ln.startswith("RESULT:")][-1][7:]
        )

    # every batch of both writers applied — none skipped by the other's ids
    for w in ("A", "B"):
        assert res[w]["batches"] == 8 and res[w]["skipped"] == 0, res[w]
        assert res[w]["events"] > 0
        assert table.last_batch_id(w) == 7, (w, table.last_batch_id(w))
    # (commit retries are host-timing dependent; when they occur they must
    # have produced a consistent state — that is what the fold check gates)

    feed_a = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(str(d / "feedA" / "feed-*.parquet")))],
        ignore_index=True,
    )
    feed_b = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(str(d / "feedB" / "feed-*.parquet")))],
        ignore_index=True,
    )
    expected = fold(pd.read_parquet(base), pd.concat([feed_a, feed_b], ignore_index=True))
    _assert_state_equal(_actual(spark, table), expected)


def test_rebase_summary_monotone_txn_and_offsets():
    """Rebasing a commit's summary onto a concurrently-landed snapshot must
    never regress another writer's txn watermark or a partition offset: ours
    carries the plan-time (stale) view of the competitor's entries."""
    from palimpzest_spark.cdc.lake import _rebase_summary

    ours = {  # planned when A's txn was still 4
        "last_batch_id": 5, "offsets": {"0": 10, "1": 7},
        "txn": {"A": 4, "B": 3}, "batch_events": 100,
        "n_source_partitions": 2,
    }
    theirs = {  # A committed batch 5 in between, and advanced partition 1
        "last_batch_id": 5, "offsets": {"1": 9, "2": 4},
        "txn": {"A": 5}, "batch_events": 40,
        "n_source_partitions": 3,
    }
    out = _rebase_summary(ours, theirs)
    assert out["txn"] == {"A": 5, "B": 3}
    assert out["offsets"] == {"0": 10, "1": 9, "2": 4}
    assert out["last_batch_id"] == 5
    assert out["n_source_partitions"] == 3
    assert out["batch_events"] == 100  # per-batch advisory stays ours


def test_commit_merge_rebase_rules(tmp_path):
    """Driver-side conflict rebase (metadata only, no Spark jobs):
    - a MoR delta append commutes with a concurrent commit → rebased and
      landed without re-planning, preserving BOTH writers' delta files and
      merging summaries monotonically;
    - a CoW replace whose bucket a competitor APPENDED to rebases with the
      appended delta files carried forward over the new base (Iceberg:
      appends never conflict with a rewrite);
    - a CoW replace whose bucket a competitor REPLACED must raise (rebasing
      would discard the competitor's fold);
    - a schema move under a concurrent commit must raise (stale decode
      schema)."""
    from palimpzest_spark.cdc import lake as lake_mod

    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    table.commit({
        "files": {"0": ["b0.parquet"]}, "deltas": {}, 
        "filestats": {"b0.parquet": {"rows": 10}}, "schema": {"t": "base"},
        "summary": {"last_batch_id": -1, "offsets": {}, "txn": {}},
    })
    base = table.snapshot()

    # competitor lands a MoR append on bucket 1 after our plan
    table.commit_merge(
        [], {}, {"1": ["w2-d1.parquet"]}, {"w2-d1.parquet": {"rows": 3}},
        base["schema"], {"last_batch_id": 0, "offsets": {"0": 5},
                         "txn": {"B": 0}}, base_snapshot=base)

    # our MoR append planned on the STALE base → must rebase, not raise
    r0 = lake_mod.REBASE_COUNT
    table.commit_merge(
        [], {}, {"1": ["w1-d1.parquet"]}, {"w1-d1.parquet": {"rows": 4}},
        base["schema"], {"last_batch_id": 0, "offsets": {"1": 7},
                         "txn": {"A": 0}}, base_snapshot=base)
    assert lake_mod.REBASE_COUNT == r0 + 1
    cur = table.snapshot()
    assert sorted(cur["deltas"]["1"]) == ["w1-d1.parquet", "w2-d1.parquet"]
    assert cur["summary"]["txn"] == {"A": 0, "B": 0}
    assert cur["summary"]["offsets"] == {"0": 5, "1": 7}

    # CoW of bucket 1 planned BEFORE both deltas landed there: rebases, and
    # the concurrently-appended delta files survive over the new base (they
    # hold rows the fold never saw — read-time LWW still applies them)
    r1 = lake_mod.REBASE_COUNT
    table.commit_merge(
        ["1"], {"1": ["w1-cow.parquet"]}, {}, {"w1-cow.parquet": {"rows": 9}},
        base["schema"], dict(cur["summary"]), base_snapshot=base)
    assert lake_mod.REBASE_COUNT == r1 + 1
    cur2 = table.snapshot()
    assert cur2["files"]["1"] == ["w1-cow.parquet"]
    assert cur2["deltas"]["1"] == ["w2-d1.parquet", "w1-d1.parquet"]

    # CoW of bucket 1 planned before the CoW above REPLACED it → the
    # replaced base is a real conflict, non-rebasable
    with pytest.raises(lake_mod.CommitConflictError):
        table.commit_merge(
            ["1"], {"1": ["w2-cow.parquet"]}, {}, {"w2-cow.parquet": {"rows": 2}},
            cur["schema"], dict(cur["summary"]), base_snapshot=cur)

    # CoW on an UNTOUCHED bucket rebases fine across the same history
    r2 = lake_mod.REBASE_COUNT
    table.commit_merge(
        ["0"], {"0": ["w1-cow0.parquet"]}, {}, {"w1-cow0.parquet": {"rows": 9}},
        base["schema"], dict(cur2["summary"]), base_snapshot=base)
    assert lake_mod.REBASE_COUNT == r2 + 1
    cur2 = table.snapshot()
    assert cur2["files"]["0"] == ["w1-cow0.parquet"]
    assert cur2["deltas"]["1"] == ["w2-d1.parquet", "w1-d1.parquet"]

    # schema moved under a planned commit → non-rebasable
    table.commit_merge(
        [], {}, {"2": ["w2-d2.parquet"]}, {"w2-d2.parquet": {"rows": 1}},
        {"t": "evolved"}, dict(cur2["summary"]), base_snapshot=cur2)
    with pytest.raises(lake_mod.CommitConflictError):
        table.commit_merge(
            [], {}, {"3": ["w1-d3.parquet"]}, {"w1-d3.parquet": {"rows": 1}},
            cur2["schema"], dict(cur2["summary"]), base_snapshot=cur2)


def test_maintenance_claims(tmp_path):
    """Advisory compaction claims: create-if-absent exclusivity, release,
    and TTL expiry of a crashed holder's stale claim."""
    import os
    import time as _time

    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    assert table.try_claim("compact-b1")
    assert not table.try_claim("compact-b1")  # held by "another" process
    assert table.try_claim("compact-b2")      # disjoint name unaffected
    table.release_claim("compact-b1")
    assert table.try_claim("compact-b1")      # released → reclaimable

    # a crashed holder's claim self-expires after the TTL
    path = os.path.join(table.meta_dir, "claims", "compact-b1.lock")
    old = _time.time() - 10_000
    os.utime(path, (old, old))
    assert table.try_claim("compact-b1", ttl_sec=900)
    table.release_claim("compact-b2")
    table.release_claim("compact-b1")


def test_two_streaming_shards_share_table(spark, tmp_path):
    """Streaming multi-writer API parity: two shard streams (own checkpoint
    + writer_id each, disjoint key spaces) replayed into ONE table. Both use
    microbatch ids starting at 0 — under the legacy global watermark the
    second stream would skip every batch; the per-writer txn watermark must
    apply them all, and the final state must equal the fold of both feeds."""
    d = tmp_path
    base = feedgen.gen_base_table(str(d / "base"), n_convs=40, max_turns=6, seed=31)
    feedgen.gen_change_feed(
        str(d / "feedA"), n_events=1500, n_convs=40, max_turns=6, n_files=3, seed=31
    )
    feedgen.gen_change_feed(
        str(d / "feedB"), n_events=1500, n_convs=40, max_turns=6, n_files=3, seed=32
    )
    for p in sorted(glob.glob(str(d / "feedB" / "feed-*.parquet"))):
        fb = pd.read_parquet(p)
        fb["conv_id"] = fb["conv_id"].str.replace("conv-", "convB-", regex=False)
        fb.to_parquet(p, index=False)

    table = SnapshotLakeTable(str(d / "lake"), n_buckets=8)
    bootstrap(spark, table, base)
    ms_a = replay_stream(
        spark, table, str(d / "feedA"), str(d / "ckptA"),
        max_files_per_trigger=1, writer_id="A",
    )
    ms_b = replay_stream(
        spark, table, str(d / "feedB"), str(d / "ckptB"),
        max_files_per_trigger=1, writer_id="B",
    )
    assert sum(m["events"] for m in ms_a) > 0
    assert sum(m["events"] for m in ms_b) > 0, "shard B was skipped"
    assert not any(m.get("skipped") for m in ms_b)
    assert table.last_batch_id("A") >= 0 and table.last_batch_id("B") >= 0

    feed_a = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(str(d / "feedA" / "feed-*.parquet")))],
        ignore_index=True,
    )
    feed_b = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(str(d / "feedB" / "feed-*.parquet")))],
        ignore_index=True,
    )
    expected = fold(
        pd.read_parquet(base), pd.concat([feed_a, feed_b], ignore_index=True)
    )
    _assert_state_equal(_actual(spark, table), expected)


def test_probe_agrees_with_anomaly_expr(spark):
    """merge's _anomaly_expr (the live row-level schema gate of both merge
    paths) flags exactly the payloads that misfit — including malformed /
    non-object payloads (the map parse is NULL there) and COMPLEX-typed
    table fields (a string cannot be cast to array/struct; the gate
    re-parses with from_json instead of raising at analysis time)."""
    from pyspark.sql import types as T

    public = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField(
                "tool_args",
                T.StructType([T.StructField("x", T.ArrayType(T.LongType()))]),
            ),
            T.StructField(
                "meta",
                T.StructType([
                    T.StructField("a", T.StringType()),
                    T.StructField("b", T.LongType()),
                ]),
            ),
        ]
    )
    cases = [
        ('{"conv_id": "c1", "turn_idx": 3}', True),
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": {"x": [1, 2]}}', True),
        ("not json", False),          # malformed: the gate must flag it
        ("[1, 2]", False),            # non-object payload
        ('{"conv_id": "c1", "turn_idx": "zz"}', False),   # type drift
        ('{"conv_id": "c1", "extra": 1}', False),          # unknown key
        (None, True),                 # payload-less event (delete): fits
        # r6 ADVICE fix — STRUCT drift: from_json with a StructType returns
        # Row(null-fields), never NULL, so these passed undetected and the
        # steady decode silently nulled the field
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": 5}', False),
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": "zz"}', False),
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": [1]}', False),
        # inner drift: object with no matching struct key -> all-null parse
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": {"zz": 1}}', False),
        # JSON null for the struct field: absent value, fits
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": null}', True),
        # partial inner drift: from_json returns partial results, so the
        # steady decode would drop the key / null the value
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {"a": "x", "b": 1}}', True),
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {"a": "x", "zzz": 2}}', False),
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {"a": "x", "b": 1.5}}', False),
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {"a": "x", "b": "notnum"}}', False),
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": {"x": "notarr"}}', False),
        # empty and all-null objects store exactly what they say: they fit
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {}}', True),
        ('{"conv_id": "c1", "turn_idx": 3, "meta": {"a": null, "b": null}}', True),
        ('{"conv_id": "c1", "turn_idx": 3, "tool_args": {}}', True),
    ]
    for payload, fits in cases:
        b = spark.createDataFrame([(payload,)], "payload string")
        assert _fits_live_gate(b, public) is fits, payload


def test_struct_inner_key_after_evolution_matches_fold(spark, tmp_path):
    """Once the table has a struct column, a steady batch whose struct
    value carries a new inner key must widen the struct (the exact path),
    not drop the key in the known-schema decode: the table equals the
    oracle fold."""
    import json as _json

    from pyspark.sql import functions as F

    from palimpzest_spark.cdc import merge as merge_mod

    d = tmp_path
    base = feedgen.gen_base_table(str(d / "base"), n_convs=30, max_turns=4, seed=13)
    table = SnapshotLakeTable(str(d / "lake"), n_buckets=4)
    bootstrap(spark, table, base)

    def batch(rows, seq0):
        pdf = pd.DataFrame(
            [
                {
                    "op": "U", "conv_id": c, "turn_idx": t,
                    "payload": _json.dumps({"conv_id": c, "turn_idx": t, "role": "user",
                                            "text": f"t{seq0 + i}", "tool": None,
                                            "meta": meta}),
                    "ts": pd.Timestamp((feedgen.BASE_EPOCH + 500_000 + seq0 + i) * 10**9),
                    "event_seq": seq0 + i, "partition": 0, "offset": seq0 + i,
                }
                for i, (c, t, meta) in enumerate(rows)
            ]
        )[FEED_SCHEMA.fieldNames()]
        return pdf, spark.createDataFrame(pdf, schema=FEED_SCHEMA)

    convs = sorted(pd.read_parquet(base)["conv_id"].unique())
    f1, b1 = batch([(convs[0], 0, {"a": "x", "b": 1}), (convs[1], 0, {"a": "y", "b": 2})], 0)
    merge_batch(spark, table, b1, batch_id=1)
    meta_t = table.schema()["meta"].dataType
    assert sorted(meta_t.fieldNames()) == ["a", "b"], meta_t

    # the steady path's anomaly gate must flag the inner key
    public = merge_mod._public_schema(table)
    f2, b2 = batch([(convs[2], 0, {"a": "z", "zzz": 3})], 10)
    flagged = (
        b2.withColumn("_m", F.from_json("payload", "map<string,string>"))
        .agg(F.sum(merge_mod._anomaly_expr(public)).alias("n")).first()["n"]
    )
    assert flagged == 1
    merge_batch(spark, table, b2, batch_id=2)
    assert sorted(table.schema()["meta"].dataType.fieldNames()) == ["a", "b", "zzz"]

    expected = fold(pd.read_parquet(base), pd.concat([f1, f2], ignore_index=True))
    got = _actual(spark, table)
    assert len(got) == len(expected)

    def norm(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        v = v.asDict() if hasattr(v, "asDict") else dict(v)
        return {k: x for k, x in v.items() if x is not None} or None

    want = {(r.conv_id, int(r.turn_idx)): norm(r.meta) for r in expected.itertuples()}
    have = {(r.conv_id, int(r.turn_idx)): norm(r.meta) for r in got.itertuples()}
    assert have == want
    assert have[(convs[2], 0)] == {"a": "z", "zzz": 3}


def test_infer_payload_schema_accepts_pretty_printed_json(spark):
    """A producer may emit pretty-printed payloads (embedded newlines); the
    Arrow inference path must parse them like the JVM decode path does, not
    crash on the NDJSON straddling-object rule."""
    from pyspark.sql import types as T

    from palimpzest_spark.cdc.reconcile import infer_payload_schema

    pretty = '{\n  "conv_id": "c1",\n  "turn_idx": 1\n}'
    b = spark.createDataFrame(
        [(pretty,), ('{"conv_id": "c2", "turn_idx": 2}',)], "payload string"
    )
    s = infer_payload_schema(b)
    assert s is not None and set(s.fieldNames()) == {"conv_id", "turn_idx"}
    assert isinstance(s["turn_idx"].dataType, T.LongType)
