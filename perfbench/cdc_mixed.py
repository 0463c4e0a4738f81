"""``cdc_mixed``: small CDC microbatches, each followed by a fixed read mix.

Closed loop, one client: merge one feed file (750 events) with
``merge_batch``, then look up one conversation with ``read_conv`` (a hot one
after even batches, a cold one after odd batches) and scan a one-hour window
with ``read_ts_range``; after the last step, refresh the rollup view.
Per-batch fixed cost (Spark jobs, planning, the snapshot commit) dominates
here, and merge-on-read deltas pile up between compactions, so readers pay
for write-side choices.

The timed window is a fixed set of batches, not a time span. Every batch
touches every bucket and the table is large enough that the delta-file cap
(``lake.COMPACT_MAX_DELTA_FILES`` = 8), not the delta/base row ratio, is what
triggers compaction, so batches 0-7 pile up deltas and batch 8 compacts all
buckets. Set-up merges batches 0-3; the window is batches 4-8: reads over 5-8
delta files per bucket, then exactly one compacting batch, whatever the speed
of the host or the program.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from statistics import median
from typing import Any

import numpy as np
import pandas as pd

from perfbench.measure import Tracer, geomean, next_job_id

# batches per compaction cycle: 8 delta files per bucket, then one compaction
CYCLE = 9
N_BUCKETS = 4  # one task wave on local[4]
# merged during set-up; the timed window is the rest of the first cycle
WARM_BATCHES = 4
SIZES = {
    "full": {"n_convs": 1_500, "max_turns": 24, "events_per_file": 750},
    "tiny": {"n_convs": 300, "max_turns": 8, "events_per_file": 150},
}
# the timed window may be extended by whole cycles, up to this many cycles of
# input in all, when it ends before ``--seconds`` (a program several times
# faster than today)
MAX_CYCLES = 2
HOT_FRAC = 0.01  # feedgen's default skew: 30 % of events on 1 % of conversations


def make_inputs(work: str, seed: int, size: dict) -> dict[str, Any]:
    """Generate (once per seed and size) the base table and the change feed."""
    from palimpzest_spark.cdc import feedgen

    n_files = CYCLE * MAX_CYCLES
    key = "cdc_s{seed}_c{n_convs}_t{max_turns}_e{events_per_file}_f{n_files}".format(
        seed=seed, n_files=n_files, **size)
    root = os.path.join(work, "inputs", key)
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        feedgen.gen_base_table(os.path.join(root, "base"), n_convs=size["n_convs"],
                               max_turns=size["max_turns"], seed=seed)
        feedgen.gen_change_feed(
            os.path.join(root, "feed"), n_events=n_files * size["events_per_file"],
            n_convs=size["n_convs"], max_turns=size["max_turns"], n_files=n_files,
            seed=seed, evolve_at=1.0,
        )
        open(os.path.join(root, "_DONE"), "w").close()
        os.sync()  # no writeback of untimed generation inside timed calls
    feed_dir = os.path.join(root, "feed")
    return {
        "base": os.path.join(root, "base", "conversations.parquet"),
        "feed": sorted(os.path.join(feed_dir, f) for f in os.listdir(feed_dir)),
    }


def _digest(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(os.path.join(root, "data")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def check_state(spark, table, base: pd.DataFrame, feed: pd.DataFrame) -> list[str]:
    """The final table against ``oracle.fold`` of the replayed feed: row keys
    and per-turn text (plus role, tool) under ``(conv_id, turn_idx)`` order.
    Returns the mismatches found (empty when the table is correct)."""
    from palimpzest_spark.cdc.oracle import fold

    want = fold(base, feed)
    try:
        got = table.read(spark).toPandas()
    except Exception as e:  # a damaged table may not read at all; that is a mismatch too
        return [f"table read failed: {type(e).__name__}: {str(e)[:200]}"]
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    bad = []
    if list(zip(got["conv_id"], got["turn_idx"].astype("int64"))) != list(
        zip(want["conv_id"], want["turn_idx"].astype("int64"))
    ):
        bad.append("(conv_id, turn_idx) keys differ")
    for col in ("text", "role", "tool"):
        if got[col].where(got[col].notna(), None).tolist() != want[col].where(want[col].notna(), None).tolist():
            bad.append(f"column {col} differs")
    return bad


def run(spark, work: str, seed: int, seconds: float, tracer: Tracer, size_name: str = "full") -> dict[str, Any]:
    """Set up, warm up, run the timed window, check the result."""
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap, merge_batch
    from palimpzest_spark.cdc.runner import FEED_SCHEMA
    from palimpzest_spark.cdc.views import ConversationRollupView

    size = SIZES[size_name]
    inputs = make_inputs(work, seed, size)
    base_pdf = pd.read_parquet(inputs["base"])
    feed_pdfs = [pd.read_parquet(p) for p in inputs["feed"]]
    counts = pd.concat(feed_pdfs)["conv_id"].value_counts()
    n_hot = max(1, int(size["n_convs"] * HOT_FRAC))
    hot = sorted(counts.index[:n_hot])
    cold = sorted(set(base_pdf["conv_id"]) - set(hot))
    rng = np.random.default_rng(seed)
    info = {"seed": seed, "input_digest": _digest([base_pdf] + feed_pdfs),
            "base_rows": len(base_pdf), "feed_events": int(sum(len(f) for f in feed_pdfs))}

    samples: dict[str, list[float]] = {"merge": [], "read_conv": [], "scan": [], "refresh": []}
    merges: list[dict] = []
    changed: list[int] = []
    delta_files: list[int] = []

    def merge(i: int) -> None:
        path = inputs["feed"][i]
        m, dt = tracer.call(
            "cdc.merge", "merge_batch", i,
            lambda: merge_batch(spark, table, spark.read.schema(FEED_SCHEMA).parquet(path), batch_id=i),
        )
        merges.append(m)
        samples["merge"].append(dt)

    def read(i: int) -> None:
        """Look up a hot conversation after even batches and a cold one after
        odd batches, then scan a one-hour window."""
        conv = str(rng.choice(hot if i % 2 == 0 else cold))
        lo = 1_700_000_000 + int(rng.integers(0, 86_400 - 3_600))
        calls = [
            ("read_conv", "read_conv", lambda: table.read_conv(spark, [conv]).collect()),
            ("scan", "read_ts_range", lambda: table.read_ts_range(spark, lo * 10**6, (lo + 3_600) * 10**6)
             .write.format("noop").mode("overwrite").save()),
        ]
        for kind, name, fn in calls:
            if tracer.enabled:
                t = time.perf_counter()
                delta_files.append(sum(len(v) for v in table.snapshot()["deltas"].values()))
                tracer.overhead_s += time.perf_counter() - t
            samples[kind].append(tracer.call("cdc.lake", name, i, fn)[1])

    def refresh(i: int) -> None:
        r, dt = tracer.call("cdc.views", "refresh", i, view.refresh, spark, table)
        samples["refresh"].append(dt)
        changed.append(r["changed_convs"])

    # -- set-up: bootstrap a fresh table from the base and build its view
    root = os.path.join(work, "cdc_mixed", "lake")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_view", ignore_errors=True)
    t0 = time.perf_counter()
    table = SnapshotLakeTable(root, n_buckets=N_BUCKETS)
    _, bootstrap_s = tracer.call("cdc.merge", "bootstrap", -1, bootstrap, spark, table, inputs["base"])
    view = ConversationRollupView(root + "_view")
    tracer.call("cdc.views", "full_build", -1, view.full_build, spark, table)
    # -- warm-up: the first batches, then every call kind once
    for i in range(WARM_BATCHES):
        merge(i)
    read(WARM_BATCHES - 1)
    refresh(WARM_BATCHES - 1)
    setup_s = time.perf_counter() - t0
    for v in (*samples.values(), merges, changed, delta_files):
        v.clear()

    # -- timed window: steps (one merge and the reads after it) up to the end
    # of the first cycle, then a refresh; extended by whole cycles only while
    # ``seconds`` have not passed. The refresh runs after the steps, so step
    # times hold no refresh.
    files0 = _data_files(table.root)
    jobs0 = next_job_id(spark)
    span0 = len(tracer.spans)
    overhead0 = tracer.overhead_s
    steps: list[float] = []
    end = CYCLE
    t0 = time.perf_counter()
    while True:
        for i in range(WARM_BATCHES + len(steps), end):
            t_step = time.perf_counter()
            idx = tracer.begin("step", "step", i)
            merge(i)
            read(i)
            tracer.end(idx)
            steps.append(time.perf_counter() - t_step)
        refresh(end - 1)
        if time.perf_counter() - t0 >= seconds or end + CYCLE > len(inputs["feed"]):
            break
        end += CYCLE
    loop_s = time.perf_counter() - t0
    jobs = next_job_id(spark) - jobs0
    written = sum(s for p, s in _data_files(table.root).items() if p not in files0)
    consumed = sum(os.path.getsize(p) for p in inputs["feed"][WARM_BATCHES:end])

    # -- correctness gate (outside the timed loop)
    mismatches = check_state(spark, table, base_pdf, pd.concat(feed_pdfs[:end], ignore_index=True))

    kinds = {k: median(v) for k, v in samples.items()}
    ingest = sum(int(m["events"]) for m in merges) / sum(samples["merge"])
    compacted_at = [m["batch_id"] for m in merges if m.get("compacted_buckets")]
    detail = {
        "steps": len(steps), "spark_jobs": jobs,
        "compacted_at": compacted_at,
        "samples": {k: len(v) for k, v in samples.items()},
        "commit_p50_s": kinds["merge"], "ingest_events_per_s": ingest,
        "lookup_p50_s": kinds["read_conv"], "scan_p50_s": kinds["scan"],
        "refresh_s": kinds["refresh"], "write_bytes_ratio": written / consumed,
        "bootstrap_s": bootstrap_s, "loop_s": loop_s,
        **info,
    }
    out = {
        # every timed call, plus the correctness gate
        "attempted": sum(len(v) for v in samples.values()) + 1,
        "failed": len(mismatches),
        "mismatches": mismatches,
        "e2e": {
            "setup_s": setup_s,
            "step_p50_s": median(steps),
            "call_geomean_s": geomean(list(kinds.values())),
            "work_per_s": ingest,
        },
        "detail": detail,
        "loop_s": loop_s,
        "loop_overhead_s": tracer.overhead_s - overhead0,
    }
    if tracer.enabled:
        tracer.resolve_tasks()
        self_s = tracer.self_seconds(span0)
        snap = table.snapshot()
        out["layers"] = {
            "merge.bootstrap_frac": bootstrap_s / setup_s,
            "merge.self_frac": self_s.get("cdc.merge", 0.0) / loop_s,
            "merge.jobs_per_batch": tracer.mean("jobs", "merge_batch", span0),
            "merge.tasks_per_batch": tracer.mean("tasks", "merge_batch", span0),
            "merge.compacting_batches": len(compacted_at),
            "merge.compact_frac": sum(float(m.get("compact_sec", 0.0)) for m in merges) / sum(samples["merge"]),
            "merge.failed_tasks": sum(s["failed_tasks"] for s in tracer.spans[span0:] if s["layer"] == "cdc.merge"),
            "merge.commit_retries": sum(int(m.get("commit_retries", 0)) for m in merges),
            "lake.self_frac": self_s.get("cdc.lake", 0.0) / loop_s,
            "lake.delta_files": sum(delta_files) / len(delta_files),
            "lake.lookup_jobs": tracer.mean("jobs", "read_conv", span0),
            "lake.scan_jobs": tracer.mean("jobs", "read_ts_range", span0),
            "lake.bytes_written": written,
            "lake.live_bytes": sum(snap["filestats"].get(p, {}).get("bytes", 0)
                                   for k in ("files", "deltas") for ps in snap[k].values() for p in ps),
            "views.self_frac": self_s.get("cdc.views", 0.0) / loop_s,
            "views.refresh_jobs": tracer.mean("jobs", "refresh", span0),
            "views.changed_convs": sum(changed) / len(changed),
        }
    return out
