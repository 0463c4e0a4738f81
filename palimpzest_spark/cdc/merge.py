"""Merge-apply: one change-feed microbatch → the lake table (north rule core).

Per batch:

1. **Idempotence gate** — the snapshot summary records the last committed
   batch id; a replayed batch (checkpoint recovery) is skipped outright, so
   at-least-once delivery from the stream becomes exactly-once in the table.
2. **Arrow schema reconciliation** (``reconcile.py``) — exact, distributed
   inference of the batch's payload schema, widened against the table schema
   (new columns, int32→int64, …). The table schema only ever grows/widens.
3. **Vectorized decode + normalize** — ``from_json`` with the reconciled
   schema (JVM-side) + the pandas/Arrow text-normalization UDF. No per-row
   Python anywhere.
4. **In-batch LWW dedup** — ``groupBy(conv_id, turn_idx).agg(max_by(row,
   (ts, event_seq)))``. Deliberately an *aggregate*, not a window
   ``row_number``: Catalyst's hash aggregate does map-side partial combine,
   so a hot conv_id collapses to ≤ one row per mapper before the shuffle —
   the window formulation would ship every hot-key row to a single
   partition. This is the skew-immune formulation of LWW.
5. **Version-guarded MERGE, per-bucket CoW/MoR** — for buckets where the
   batch rivals the base size, union with the bucket's current rows and take
   the LWW max again (compact-inline / copy-on-write); for buckets where the
   batch is a sliver of the base, append the LWW-deduped slice as a DELTA
   file (merge-on-read) and let readers/compaction fold it — so per-batch
   write cost is O(batch), not O(table) (``lake.plan_compaction``). Either
   way a row only changes if the incoming version ``(ts, event_seq)`` is
   newer, so replays converge (idempotent MERGE). Deletes are kept as
   tombstones so an out-of-order update arriving in a *later* batch can
   never resurrect a deleted row. With an Iceberg catalog on the classpath
   this becomes ``MERGE INTO ... WHEN MATCHED AND (s.ts, s.event_seq) >
   (t.ts, t.event_seq) THEN UPDATE ...`` (CoW) / v2 equality-deletes (MoR);
   the surrounding pipeline is identical.
6. **Skew-immune write** — every write is hinted ``rebalance`` on
   ``_bucket``: AQE splits a hot bucket across tasks and coalesces a tiny
   batch, so write width tracks data volume at any batch size.
7. **Lineage + metrics** — per-source-partition event counts and max
   offsets, recorded in the snapshot summary and returned to the caller,
   with the path the batch took (``path``) and any optimistic attempt it
   aborted on the way (``aborts``).

Two paths apply a batch (``_merge_once``): the steady **delta-first** write,
and the **planned** merge — one grid pre-job, then either a known-schema
write behind an exact observed gate or exact Arrow inference.
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palimpzest_spark.cdc.lake import META_COLS, SnapshotLakeTable, lww_fold
from palimpzest_spark.cdc.reconcile import (
    align_to,
    complex_misfit_expr,
    infer_payload_schema,
    reconcile_public_schema,
)
from palimpzest_spark.cdc.transform import normalize_text_udf

log = logging.getLogger(__name__)


def _public_schema(table: SnapshotLakeTable) -> T.StructType | None:
    full = table.schema()
    if full is None:
        return None
    return T.StructType([f for f in full.fields if f.name not in META_COLS])


def _full_schema(public: T.StructType) -> T.StructType:
    return T.StructType(
        list(public.fields)
        + [
            T.StructField("_bucket", T.IntegerType(), False),
            T.StructField("_ts", T.TimestampType(), True),
            T.StructField("_event_seq", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), False),
        ]
    )


def bootstrap(
    spark: SparkSession,
    table: SnapshotLakeTable,
    base_parquet: str,
) -> dict[str, Any]:
    """Load the base conversations table as snapshot v1 (version seq=-1,
    so every feed event outranks base rows at equal ts)."""
    base = spark.read.parquet(base_parquet)
    public = T.StructType([T.StructField(f.name, f.dataType, True) for f in base.schema.fields])
    full = _full_schema(public)
    df = (
        base.withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(table.n_buckets)).cast("int"))
        .withColumn("_ts", F.col("ts"))
        .withColumn("_event_seq", F.lit(-1).cast("long"))
        .withColumn("_deleted", F.lit(False))
    )
    n = df.count()
    buckets = list(range(table.n_buckets))
    _out_rel, files, stats = table.write_files(
        align_to(df, full).repartition(table.n_buckets, "_bucket"), buckets
    )
    table.commit_merge(buckets, files, {}, stats, full.jsonValue(),
                       {"last_batch_id": -1, "offsets": {}, "rows_bootstrapped": n})
    return {"rows": n}


def _anomaly_expr(table_public: T.StructType):
    """Rows that provably do NOT fit the table's current schema — unknown
    keys, or a non-string field whose raw value fails try_cast. Built over a
    single map<string,string> parse aliased ``_m``."""
    known = {f.name: f.dataType for f in table_public.fields}
    known_arr = F.array(*[F.lit(k) for k in sorted(known)])
    bads = [
        F.col("_m").isNull(),
        F.size(F.array_except(F.map_keys(F.col("_m")), known_arr)) > 0,
    ]
    for name, dt in known.items():
        if isinstance(dt, (T.StringType, T.NullType)):
            continue  # everything casts to string — cannot drift
        v = F.col("_m").getItem(name)
        # try_cast, NOT cast: under Spark 4's default ANSI mode a plain cast
        # on a drifted value throws CAST_INVALID_INPUT and poison-pills the
        # batch; try_cast yields NULL = the anomaly signal. Complex types
        # (a producer emitting real nested JSON evolves the schema to
        # array/struct) cannot be cast from string AT ALL — that's an
        # analysis-time error, not a NULL — so they re-parse the field's
        # raw JSON text via reconcile.complex_misfit_expr (exact for struct
        # drift via the array-wrap check). Every payload case is pinned by
        # test_probe_agrees_with_anomaly_expr.
        if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
            bads.append(complex_misfit_expr(v, dt))
        else:
            bads.append(v.isNotNull() & v.try_cast(dt).isNull())
    from functools import reduce

    return (F.col("payload").isNotNull() & reduce(lambda a, b: a | b, bads)).cast("long")


def _upsert_cols(public: T.StructType, payload_schema: T.StructType | None,
                 n_buckets: int, cast: str) -> list:
    """The table row of one decoded event (payload struct ``_p``): the value
    columns in ``public`` order, then the meta columns. ``cast`` names the
    Column method that types each value. The known-schema decode passes
    ``"try_cast"``: under ANSI a misfitting value must surface as the anomaly
    signal the observed gate aborts on, never as a job-killing CAST_OVERFLOW
    inside the write. The inferred decode passes ``"cast"``: its schema was
    reconciled from this very batch, so a failing cast is a reconcile bug and
    must fail loudly."""
    turn_t = next(f.dataType for f in public.fields if f.name == "turn_idx")
    cols = []
    for f in public.fields:
        if f.name == "conv_id":
            col = F.col("conv_id").cast("string")
        elif f.name == "turn_idx":
            col = getattr(F.col("turn_idx"), cast)(turn_t)
        elif payload_schema is not None and f.name in payload_schema.fieldNames():
            col = getattr(F.col(f"_p.{f.name}"), cast)(f.dataType)
            if f.name == "text":
                col = normalize_text_udf(col)  # pandas/Arrow UDF, never per-row
        else:
            col = F.lit(None).cast(f.dataType)
        cols.append(col.alias(f.name))
    return cols + [
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("_bucket"),
        F.col("ts").alias("_ts"),
        F.col("event_seq").alias("_event_seq"),
        (F.col("op") == "D").alias("_deleted"),
    ]


def _fold_summary(table: SnapshotLakeTable, batch_id: int, lineage: dict,
                  n_events: int, n_parts: int, writer_id: str | None = None,
                  base: dict | None = None) -> dict:
    """Next snapshot's summary, derived from ``base`` — the SAME snapshot
    the commit CAS anchors on (a concurrent writer between plan and publish
    then conflicts instead of having its offsets/txn folded away). With
    ``writer_id``, the per-writer ``txn`` watermark advances independently
    (multi-writer idempotence) and the global last_batch_id becomes a
    monotone progress marker rather than this writer's batch id."""
    prev = (base if base is not None else table.snapshot())["summary"]
    offsets = dict(prev.get("offsets", {}))
    for p, info in lineage.items():
        offsets[p] = max(int(offsets.get(p, -1)), int(info["max_offset"]))
    txn = dict(prev.get("txn", {}))
    if writer_id is not None:
        txn[writer_id] = batch_id
    return {
        "last_batch_id": batch_id if writer_id is None
        else max(int(prev.get("last_batch_id", -1)), batch_id),
        "offsets": offsets,
        "txn": txn,
        "batch_lineage": lineage,
        "batch_events": n_events,
        "n_source_partitions": max(int(prev.get("n_source_partitions", 0)), n_parts),
    }


def merge_batch(
    spark: SparkSession,
    table: SnapshotLakeTable,
    batch: DataFrame,
    batch_id: int,
    writer_id: str | None = None,
) -> dict[str, Any]:
    """Apply one microbatch. Returns metrics (also folded into the snapshot).

    **Multi-writer**: ``writer_id`` namespaces the idempotence watermark
    (per-writer ``txn`` map, the Delta ``txn`` appId analog) so concurrent
    writers on disjoint feeds can share one table; every commit is a CAS
    against the snapshot this merge planned on, and a lost race raises
    CommitConflictError internally — the merge then re-plans against the
    fresh snapshot and retries (bounded), aborting the losing attempt's
    uncommitted files. Single-writer callers pay nothing: no writer_id means
    the legacy global watermark and the CAS never conflicts.
    """
    import random

    from palimpzest_spark.cdc import lake as _lake
    from palimpzest_spark.cdc.lake import CommitConflictError

    t0 = time.perf_counter()
    rebases0 = _lake.REBASE_COUNT
    last_err: Exception | None = None
    for attempt in range(8):
        if batch_id <= table.last_batch_id(writer_id):
            return {"batch_id": batch_id, "skipped": True, "events": 0,
                    "elapsed_sec": 0.0}
        if attempt:
            # jittered backoff de-synchronizes symmetric writers: a full
            # re-plan takes seconds of Spark jobs, so without backoff two
            # writers that conflict once keep conflicting (livelock). Most
            # conflicts never reach here — commit_merge rebases MoR appends
            # and untouched-bucket CoW driver-side in milliseconds.
            time.sleep(random.uniform(0.1, 0.5) * attempt)
        try:
            m = _merge_once(spark, table, batch, batch_id, t0, writer_id)
            if attempt:
                m["commit_retries"] = attempt
            rebases = _lake.REBASE_COUNT - rebases0
            if rebases:
                m["commit_rebases"] = rebases
            return m
        except CommitConflictError as e:
            last_err = e
            log.debug("[merge %s] non-rebasable commit conflict (attempt %d/8) "
                      "— re-planning on the fresh snapshot", batch_id, attempt + 1)
    raise last_err  # type: ignore[misc]


class _Abort(Exception):
    """An optimistic write's observed gate refused the batch. Raised inside
    the write's ``try``, so its uncommitted files are aborted on the way out;
    the message is the reason recorded in the result's ``aborts``."""


def _merge_once(
    spark: SparkSession,
    table: SnapshotLakeTable,
    batch: DataFrame,
    batch_id: int,
    t0: float,
    writer_id: str | None = None,
) -> dict[str, Any]:
    """One merge attempt against the current snapshot (see merge_batch).

    Two execution paths, picked from the MANIFEST (driver-side, no job):

    - **delta-first single job** (steady state: known schema/geometry and the
      previous batch was ≤ 1/4 of the table): decode, LWW fold, and the
      merge-on-read delta write run as ONE observed action — no pre-job at
      all. The exact anomaly gate and the geometry check ride the write
      (CollectMetrics); on schema drift or a new source partition the
      optimistic files are aborted and the batch takes the planned merge.
      Compaction of overflowing buckets follows as a separate, amortized job
      (``lake.compact``). Per-batch fixed cost = 1 job + the commit — the
      smallest serial fraction, which is what the N→4N scaling efficiency is
      made of.
    - **planned** (first write / bootstrap-regime batch ≈ table / unknown
      geometry / a delta-first abort): one cheap pre-job builds the exact
      (partition × bucket) grid for lineage and the per-bucket CoW/MoR plan,
      then the batch decodes with the table's known schema behind an exact
      observed gate, or with its exact Arrow-inferred schema
      (``_merge_planned``). When the batch rivals the table the plan is
      inline compaction (= copy-on-write), the right plan for
      bootstrap-regime batches.
    """
    snap = table.snapshot()
    # adopt the planning snapshot's bucket count / sort order: another
    # process may have rebucketed since this table object was built, and
    # every _bucket expression below hashes with table.n_buckets
    table.refresh_properties(snap)
    prev = snap["summary"]
    public = _public_schema(table)
    aborts: list[str] = []
    if public is not None:
        n_parts = int(prev.get("n_source_partitions", 0) or 0)
        est_events = int(prev.get("batch_events", 0) or 0)
        table_rows = sum(int(s.get("rows", 0)) for s in snap["filestats"].values())
        if n_parts > 0 and 0 < est_events * 4 <= table_rows:
            try:
                return _merge_delta_first(spark, table, batch, batch_id, public, n_parts,
                                          t0, writer_id=writer_id, base=snap)
            except _Abort as e:
                aborts.append(f"delta_first:{e}")
                log.debug("[merge %s] delta-first aborted (%s) %.1fs — planned merge",
                          batch_id, e, time.perf_counter() - t0)
    return _merge_planned(spark, table, batch, batch_id, public, aborts, t0,
                          writer_id=writer_id, base=snap)


def _pre_grid(
    table: SnapshotLakeTable,
    batch: DataFrame,
    public: T.StructType | None,
) -> dict[str, Any]:
    """ONE cheap pre-job: the exact (source-partition × bucket) grid of the
    batch — event counts, per-partition offset high-waters, max turn_idx —
    plus a STRIDED payload-anomaly sample (every 64th event_seq parses its
    payload; CASE short-circuits the rest). The grid is exact for lineage
    and the CoW/MoR plan; only the anomaly signal is sampled, and the
    known-schema write's observed metrics re-check it exactly. A table with
    no schema yet (``public`` None: the first write) has nothing to sample
    against. Grid size is n_parts × n_buckets tiny rows — driver-safe at any
    scale."""
    sample = F.lit(0)
    if public is not None:
        turn_t = next(f.dataType for f in public.fields if f.name == "turn_idx")
        sampled = F.pmod(F.xxhash64("event_seq"), F.lit(64)) == 0
        batch = batch.withColumn(
            "_m", F.when(sampled, F.from_json("payload", "map<string,string>"))
        )
        sample = F.when(
            sampled,
            _anomaly_expr(public)
            + (
                F.col("turn_idx").isNotNull()
                & F.col("turn_idx").try_cast(turn_t).isNull()
            ).cast("long"),
        ).otherwise(F.lit(0))
    pre = batch.select(
        F.col("partition"),
        F.pmod(F.xxhash64("conv_id"), F.lit(table.n_buckets)).cast("int").alias("_b"),
        F.col("offset"),
        F.col("turn_idx").alias("_turn"),
        sample.alias("_sa"),
    )
    cells = (
        pre.groupBy("partition", "_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("offset").alias("max_offset"),
            F.max("_turn").alias("max_turn"),
            F.sum("_sa").alias("sa"),
        )
        .collect()
    )
    per_part: dict[int, dict[str, int]] = {}
    by_bucket: dict[int, int] = {}
    anomalies = 0
    max_turn = 0
    for r in cells:
        p = per_part.setdefault(int(r["partition"]), {"events": 0, "max_offset": -1})
        p["events"] += int(r["n"])
        if r["max_offset"] is not None:
            p["max_offset"] = max(p["max_offset"], int(r["max_offset"]))
        by_bucket[int(r["_b"])] = by_bucket.get(int(r["_b"]), 0) + int(r["n"])
        anomalies += int(r["sa"] or 0)
        if r["max_turn"] is not None:
            max_turn = max(max_turn, int(r["max_turn"]))
    lineage = {
        str(k): {"events": v["events"], "max_offset": v["max_offset"]}
        for k, v in per_part.items()
    }
    return {
        "lineage": lineage,
        "by_bucket": by_bucket,
        "n_events": sum(v["events"] for v in per_part.values()),
        "n_parts": max(per_part, default=-1) + 1,
        "anomalies_sampled": anomalies,
        "max_turn": max_turn,
    }


# Unresolved Column expressions are plan-independent: rebuilt per batch they
# cost ~0.2s of py4j round-trips — a FIXED driver cost per microbatch that
# weighs 4x heavier at 4N executors (Amdahl), so the steady path caches them
# keyed by the schema/geometry they derive from. Entries are tiny; the dict
# is cleared if it ever grows (schema evolution churn).
_EXPR_CACHE: dict[tuple, tuple] = {}


def _decode_known(batch: DataFrame, public: T.StructType, table: SnapshotLakeTable):
    """Decode with the KNOWN schema + the exact anomaly column, as one plan.

    Parses each payload ONCE into map<string,string> (JVM codegen); when
    every payload field is atomic (the steady transcript schema) the typed
    decode reuses that map via getItem + try_cast — half the JSON-parse CPU
    of a second ``from_json``. ``_anom`` counts rows that provably do NOT
    fit the current schema (unknown keys, failed try_cast) and an envelope
    term catches a payload-less delete whose turn_idx needs widening.
    Returns ``(decoded, upsert_cols, gate)``; ``gate`` is the ``events`` and
    exact ``anomalies`` aggregates a write observes on ``decoded``."""
    key = ("decode", public.json(), table.n_buckets)
    cached = _EXPR_CACHE.get(key)
    if cached is None:
        payload_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in public.fields]
        )
        turn_t = next(f.dataType for f in public.fields if f.name == "turn_idx")
        map_col = F.from_json("payload", "map<string,string>")
        anom_col = _anomaly_expr(public)
        _ATOMIC = (
            T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.BooleanType,
        )
        if all(isinstance(f.dataType, _ATOMIC) for f in payload_schema.fields):
            p_col = F.struct(
                *[
                    F.col("_m").getItem(f.name).try_cast(f.dataType).alias(f.name)
                    for f in payload_schema.fields
                ]
            )
        else:
            p_col = F.from_json("payload", payload_schema)
        env_anom = (
            F.col("turn_idx").isNotNull() & F.col("turn_idx").try_cast(turn_t).isNull()
        )
        gate = [
            F.count(F.lit(1)).alias("events"),
            (F.sum("_anom") + F.sum(env_anom.cast("long"))).alias("anomalies"),
        ]
        upsert_cols = _upsert_cols(public, payload_schema, table.n_buckets, "try_cast")
        if len(_EXPR_CACHE) > 32:
            _EXPR_CACHE.clear()
        cached = _EXPR_CACHE[key] = (map_col, anom_col, p_col, gate, upsert_cols)
    map_col, anom_col, p_col, gate, upsert_cols = cached
    decoded = (
        batch.withColumn("_m", map_col)
        .withColumn("_anom", anom_col)
        .withColumn("_p", p_col)
    )
    return decoded, upsert_cols, gate


def _await_observation(obs, decoded, metrics) -> dict:
    """Fetch observed metrics WITHOUT the unbounded blocking ``obs.get``
    py4j call: inside foreachBatch a concurrent ``q.stop()`` (kill/resume)
    deadlocks against the blocked listener callback. Metrics land ~instantly
    after the action, so poll the non-blocking getRowOrEmpty briefly; if the
    listener event was dropped, recompute exactly with a dedicated job —
    correct either way, bounded always."""
    jo = getattr(obs, "_jo", None)
    deadline = time.time() + 2.0
    while jo is not None and time.time() < deadline:
        if jo.getRowOrEmpty().isDefined():
            return obs.get
        time.sleep(0.005)
    return decoded.agg(*metrics).collect()[0].asDict()


def _merge_delta_first(
    spark: SparkSession,
    table: SnapshotLakeTable,
    batch: DataFrame,
    batch_id: int,
    public: T.StructType,
    n_parts: int,
    t0: float,
    writer_id: str | None = None,
    base: dict | None = None,
) -> dict[str, Any]:
    """Steady-state merge: ONE observed job, zero pre-jobs.

    decode → in-batch LWW fold → merge-on-read delta write for EVERY touched
    bucket, with lineage (per-source-partition counts + offset high-waters),
    the exact anomaly count, and the geometry check collected by a
    CollectMetrics node riding the write scan. Nothing is committed until
    the observed metrics prove the batch fits the known schema and source
    partitions; otherwise the files are aborted (Iceberg's
    uncommitted-snapshot discipline) and ``_Abort`` carries the reason —
    ``anomaly`` or ``new_partition`` — to the planned merge.

    Bucket overflow (accumulated delta rows ≥ ratio·base, or the delta-file
    cap) is then compacted as a SEPARATE amortized job — per-batch write
    cost stays O(batch), the compaction bound is lake.plan_compaction's
    amortized-constant argument, and the common batch is exactly one Spark
    job + one manifest commit."""
    full = _full_schema(public)
    cols = [f.name for f in full.fields]
    decoded, upsert_cols, gate = _decode_known(batch, public, table)

    obs = Observation()
    mkey = ("metrics", public.json(), n_parts)
    metrics = _EXPR_CACHE.get(mkey)
    if metrics is None:
        metrics = [*gate, F.max("partition").alias("max_part")]
        for p in range(n_parts):
            is_p = F.col("partition") == p
            metrics.append(F.sum(is_p.cast("long")).alias(f"ev_{p}"))
            metrics.append(F.max(F.when(is_p, F.col("offset"))).alias(f"off_{p}"))
        if len(_EXPR_CACHE) > 32:
            _EXPR_CACHE.clear()
        _EXPR_CACHE[mkey] = metrics
    decoded = decoded.observe(obs, *metrics)
    upserts = decoded.select(*upsert_cols)

    out_rel = None
    try:
        t_w0 = time.perf_counter()
        out_rel, new_files, stats = table.write_files(
            lww_fold(align_to(upserts, full), cols).hint("rebalance", "_bucket"), []
        )
        t_w1 = time.perf_counter()
        m = _await_observation(obs, decoded, metrics)
        t_obs = time.perf_counter()
        n_events = int(m["events"] or 0)
        anomalies = int(m["anomalies"] or 0)
        max_part = -1 if m["max_part"] is None else int(m["max_part"])
        if anomalies > 0:
            raise _Abort("anomaly")
        if max_part >= n_parts:
            raise _Abort("new_partition")
        if n_events == 0:
            table.abort_files(out_rel)
            return {"batch_id": batch_id, "skipped": False, "events": 0,
                    "elapsed_sec": 0.0}
    except Exception:
        if out_rel is not None:
            table.abort_files(out_rel)
        raise

    lineage = {
        str(p): {
            "events": int(m[f"ev_{p}"] or 0),
            "max_offset": int(m[f"off_{p}"] if m[f"off_{p}"] is not None else -1),
        }
        for p in range(n_parts)
        if int(m[f"ev_{p}"] or 0) > 0
    }
    summary = _fold_summary(table, batch_id, lineage, n_events, n_parts,
                            writer_id=writer_id, base=base)
    try:
        table.commit_merge([], {}, new_files, stats, full.jsonValue(), summary,
                           base_snapshot=base)
    except Exception:
        table.abort_files(out_rel)  # lost CAS race: leave no orphan files
        raise
    t_commit = time.perf_counter()

    # amortized compaction of overflowing buckets (separate job, may be
    # none) — same policy object as the merge-time split, so the two sites
    # can't drift: plan_compaction with 0 new rows and incoming_delta=False
    # asks "do this bucket's ACCUMULATED deltas alone trigger compaction?"
    # (False because this probe carries no incoming batch file — the
    # default True would fire the sweep one file early)
    overflow, _ = table.plan_compaction(
        {b: 0 for b, s in table.bucket_stats().items() if s["delta_files"]},
        incoming_delta=False,
    )
    compact_sec = 0.0
    if overflow:
        from palimpzest_spark.cdc.lake import CommitConflictError

        t_cp = time.perf_counter()
        try:
            table.compact(spark, overflow)
        except CommitConflictError:
            # the batch itself is already committed; compaction is amortized
            # maintenance — under writer contention defer it to a later batch
            # rather than failing (and re-skipping) a committed merge
            overflow = []
        compact_sec = time.perf_counter() - t_cp

    elapsed = time.perf_counter() - t0
    log.debug("[merge %s] delta-first done plan=%.2fs job=%.2fs obs=%.2fs "
              "commit=%.2fs compact(%d)=%.2fs total=%.1fs (%d ev)",
              batch_id, t_w0 - t0, t_w1 - t_w0, t_obs - t_w1, t_commit - t_obs,
              len(overflow), elapsed - (t_commit - t0), elapsed, n_events)
    return {
        "batch_id": batch_id,
        "skipped": False,
        "events": n_events,
        "affected_buckets": len(new_files),
        "compacted_buckets": len(overflow),
        "compact_sec": round(compact_sec, 3),
        "delta_buckets": len(new_files),
        "path": "delta_first",
        "aborts": [],
        "lineage": lineage,
        "elapsed_sec": elapsed,
        "events_per_sec": n_events / elapsed if elapsed > 0 else 0.0,
    }


def _merge_planned(
    spark: SparkSession,
    table: SnapshotLakeTable,
    batch: DataFrame,
    batch_id: int,
    public: T.StructType | None,
    aborts: list[str],
    t0: float,
    writer_id: str | None = None,
    base: dict | None = None,
) -> dict[str, Any]:
    """Grid-planned merge: first write, bootstrap regime, delta-first abort.

    Lineage, the CoW/MoR plan and the max turn_idx come from the exact
    pre-grid, built once. A batch whose strided sample is clean decodes with
    the table's KNOWN schema, and the exact anomaly count rides its write as
    an observation — a clean batch never pays Arrow inference. The first
    write, a sampled anomaly, a delta-first anomaly abort, or a known-schema
    gate that aborts take exact Arrow inference instead, reconciled with
    the table schema and widened for the envelope's turn_idx; the grid is
    REUSED, so the batch is never scanned twice for metadata."""
    grid = _pre_grid(table, batch, public)
    if grid["n_events"] == 0:
        return {"batch_id": batch_id, "skipped": False, "events": 0, "elapsed_sec": 0.0}
    # after a delta-first anomaly abort the batch is known to misfit: a
    # second optimistic write would only repeat it, and the strided sample
    # may miss the drifted rows
    if (public is not None and grid["anomalies_sampled"] == 0
            and "delta_first:anomaly" not in aborts):
        decoded, upsert_cols, gate = _decode_known(batch, public, table)
        obs = Observation()
        decoded = decoded.observe(obs, *gate)
        try:
            return _write_planned(spark, table, batch_id, grid, public,
                                  decoded.select(*upsert_cols), (obs, decoded, gate),
                                  "planned_known", aborts, t0, writer_id, base)
        except _Abort as e:
            aborts.append(f"planned_known:{e}")
            log.debug("[merge %s] known-schema gate aborted (%s) %.1fs — inferring",
                      batch_id, e, time.perf_counter() - t0)
    public, upserts = _decode_inferred(batch, public, grid["max_turn"], table.n_buckets)
    return _write_planned(spark, table, batch_id, grid, public, upserts, None,
                          "planned_inferred", aborts, t0, writer_id, base)


def _decode_inferred(batch: DataFrame, public: T.StructType | None, max_turn: int,
                     n_buckets: int) -> tuple[T.StructType, DataFrame]:
    """Exact decode: Arrow-infer the batch's payload schema, reconcile it
    with the table's (``public`` is None on the first write) and decode
    with the result. Returns ``(reconciled public schema, upserts)``."""
    payload_schema = infer_payload_schema(batch)
    public = reconcile_public_schema(public, payload_schema)
    # envelope-driven widening: the feed envelope's turn_idx is authoritative
    # for the key; a payload-less delete can carry a value beyond the
    # reconciled type's range (invisible to payload inference) — widen from
    # the observed max so the key cast can never overflow
    turn_f = next(f for f in public.fields if f.name == "turn_idx")
    if isinstance(turn_f.dataType, (T.ByteType, T.ShortType, T.IntegerType)) and (
        max_turn > 2**31 - 1
    ):
        public = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "turn_idx" else f.dataType,
                              True, metadata=f.metadata)
                for f in public.fields
            ]
        )

    # vectorized decode: JVM-side from_json with the reconciled schema;
    # envelope is authoritative for the key (delete rows carry no payload)
    decoded = batch
    if payload_schema is not None:
        # complex fields decode straight to their reconciled type: Spark
        # cannot cast a struct to a widened struct with more fields
        public_t = {f.name: f.dataType for f in public.fields}
        decode_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    public_t[f.name]
                    if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
                    else f.dataType,
                    True,
                )
                for f in payload_schema.fields
            ]
        )
        decoded = decoded.withColumn("_p", F.from_json("payload", decode_schema))
    return public, decoded.select(*_upsert_cols(public, payload_schema, n_buckets, "cast"))


def _write_planned(
    spark: SparkSession,
    table: SnapshotLakeTable,
    batch_id: int,
    grid: dict[str, Any],
    public: T.StructType,
    upserts: DataFrame,
    gate: tuple | None,
    path: str,
    aborts: list[str],
    t0: float,
    writer_id: str | None,
    base: dict | None,
) -> dict[str, Any]:
    """The planned merge's one write block: per-bucket CoW/MoR writes, the
    observed ``gate`` (``(observation, decoded, metrics)``, known-schema
    decode only), and one commit. Any exception — a failed write, the gate's
    ``_Abort``, a lost CAS race — aborts EVERY file set this attempt wrote."""
    full = _full_schema(public)
    cols = [f.name for f in full.fields]
    # Per-bucket write strategy (merge-on-read vs compact-inline), decided
    # from the grid counts + the manifest, zero extra I/O. A bucket whose
    # pending rows rival its base is COMPACTED INLINE (copy-on-write, one
    # shuffle); a bucket where the batch is a sliver gets a DELTA APPEND
    # folded at read/compaction — per-batch write cost tracks the BATCH.
    cow, mor = table.plan_compaction(grid["by_bucket"])
    cow_files: dict = {}
    mor_files: dict = {}
    stats: dict = {}
    out_rels: list[str] = []
    t_plan = time.perf_counter()
    try:
        if cow:
            existing = table.read_raw(
                spark, cow, version=None if base is None else base["version"]
            )
            part = align_to(upserts.filter(F.col("_bucket").isin(cow)), full)
            merged_in = part if existing is None else align_to(existing, full).unionByName(part)
            rel, cow_files, s = table.write_files(
                lww_fold(merged_in, cols).hint("rebalance", "_bucket"), cow
            )
            out_rels.append(rel)
            stats.update(s)
        if mor:
            part = align_to(upserts.filter(F.col("_bucket").isin(mor)), full)
            rel, mor_files, s = table.write_files(
                lww_fold(part, cols).hint("rebalance", "_bucket"), mor
            )
            out_rels.append(rel)
            stats.update(s)
        t_write = time.perf_counter()
        if gate is not None and int(_await_observation(*gate)["anomalies"] or 0) > 0:
            raise _Abort("anomaly")
        table.commit_merge(
            cow, cow_files, mor_files, stats, full.jsonValue(),
            _fold_summary(table, batch_id, grid["lineage"], grid["n_events"],
                          grid["n_parts"], writer_id=writer_id, base=base),
            base_snapshot=base,
        )
    except Exception:
        for rel in out_rels:
            table.abort_files(rel)
        raise
    n_events = grid["n_events"]
    elapsed = time.perf_counter() - t0
    log.debug("[merge %s] %s done plan=%.2fs write=%.2fs obs+commit=%.2fs total=%.1fs "
              "(cow=%d mor=%d, %d ev)", batch_id, path, t_plan - t0, t_write - t_plan,
              time.perf_counter() - t_write, elapsed, len(cow), len(mor), n_events)
    return {
        "batch_id": batch_id,
        "skipped": False,
        "events": n_events,
        "affected_buckets": len(cow) + len(mor),
        "compacted_buckets": len(cow),
        "delta_buckets": len(mor),
        "path": path,
        "aborts": aborts,
        "lineage": grid["lineage"],
        "elapsed_sec": elapsed,
        "events_per_sec": n_events / elapsed if elapsed > 0 else 0.0,
    }
