"""CDC throughput bench: sustained merge-apply events/sec.

Generates a deterministic feed once per (size, seed) into a cached /tmp dir,
replays it batch-mode into a fresh lake table, and reports events/sec over
the merge-apply phase (bootstrap excluded — the metric is change-event
throughput, BASELINE.json:2). ``_replay_fresh`` is the one replay trial
behind bench.py, the write-amp gate (``cdc.writeamp``) and the N-vs-4N
scaling gate (``cdc.scaling``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Any

from pyspark.sql import SparkSession

from palimpzest_spark.cdc import feedgen
from palimpzest_spark.cdc.lake import SnapshotLakeTable
from palimpzest_spark.cdc.merge import bootstrap
from palimpzest_spark.cdc.runner import replay_batches

# Bench I/O lives on tmpfs when available: on this single box the one data
# disk is a fixed shared resource whose writeback stalls serialize all cores,
# which is NOT the cluster model (an executor fleet writes to S3/HDFS whose
# aggregate bandwidth scales with executor count). tmpfs gives each core
# memory-speed I/O, matching the per-executor-scalable sink the north rule
# assumes. Override with PZ_CDC_WORKDIR.
_WORK_ROOT = os.environ.get(
    "PZ_CDC_WORKDIR", "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
)
CACHE_ROOT = os.path.join(_WORK_ROOT, "pz_spark_cdc_bench")


def ensure_fixture(
    n_events: int = 300_000,
    n_convs: int = 5_000,
    max_turns: int = 24,
    n_files: int = 12,
    seed: int = 42,
    evolve_at: float = 0.5,
    hot_frac: float = 0.01,
    hot_share: float = 0.30,
) -> dict[str, str]:
    """Generate (or reuse) the bench feed; cache key = the size parameters.
    Non-default ``hot_*`` skew parameters get their own cache entry (the
    default-key format predates them and stays valid)."""
    key = f"e{n_events}_c{n_convs}_t{max_turns}_f{n_files}_s{seed}_v{evolve_at}"
    if (hot_frac, hot_share) != (0.01, 0.30):
        key += f"_h{hot_frac}-{hot_share}"
    root = os.path.join(CACHE_ROOT, key)
    base = os.path.join(root, "base", "conversations.parquet")
    feed_dir = os.path.join(root, "feed")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        feedgen.gen_base_table(os.path.join(root, "base"), n_convs=n_convs, max_turns=max_turns, seed=seed)
        feedgen.gen_change_feed(
            feed_dir,
            n_events=n_events,
            n_convs=n_convs,
            max_turns=max_turns,
            n_files=n_files,
            seed=seed,
            evolve_at=evolve_at,
            hot_frac=hot_frac,
            hot_share=hot_share,
        )
        open(done, "w").close()
    return {"base": base, "feed_dir": feed_dir}


def clone_table(src_root: str, dst_root: str) -> None:
    """Instant lake-table copy: metadata JSONs copied, immutable data files
    hardlinked (same filesystem). Lets trials replay into throwaway clones
    of a big bootstrapped base so the bootstrap runs once per process, not
    once per trial — the clone itself is metadata-sized work."""
    import shutil as _sh

    for dirpath, dirnames, filenames in os.walk(src_root):
        # advisory maintenance claims are per-process state, not table state:
        # cloning one would block the clone's compaction for the claim TTL
        if "claims" in dirnames and os.path.basename(dirpath) == "metadata":
            dirnames.remove("claims")
        rel = os.path.relpath(dirpath, src_root)
        dst_dir = os.path.join(dst_root, rel) if rel != "." else dst_root
        os.makedirs(dst_dir, exist_ok=True)
        for fn in filenames:
            s, d = os.path.join(dirpath, fn), os.path.join(dst_dir, fn)
            if fn.endswith(".parquet"):
                try:
                    os.link(s, d)
                except OSError:  # EXDEV: src/dst on different filesystems
                    _sh.copy(s, d)
            else:
                _sh.copy(s, d)


def _steal_jiffies() -> int:
    """Sum of per-cpu hypervisor-steal counters (field 8 of /proc/stat) over
    this process's allowed cores."""
    try:
        allowed = {f"cpu{c}" for c in os.sched_getaffinity(0)}
        total = 0
        with open("/proc/stat") as f:
            for line in f:
                parts = line.split()
                if parts and parts[0] in allowed and len(parts) > 8:
                    total += int(parts[8])
        return total
    except OSError:
        return 0


def _replay_fresh(
    spark: SparkSession,
    fix: dict[str, str],
    files_per_batch: int,
    n_buckets: int,
    template_table: str | None = None,
    skip_files: int = 0,
    start_batch_id: int = 0,
) -> dict[str, Any]:
    """One replay trial into a fresh table — the trial every CDC gate runs.

    Returns merge-apply throughput (bootstrap excluded), the per-batch
    ``metrics`` list of ``replay_batches``, and ``steal_frac``: hypervisor
    steal over this call's whole span as a fraction of the allowed cores'
    seconds (USER_HZ=100). Each gate applies its own filter to it.

    ``skip_files``/``start_batch_id``: tail-only replay — the template
    already holds the replayed feed prefix (e.g. the schema-evolution wave),
    so every measured batch is a steady-tail batch (the regime the
    BASELINE.json throughput metric describes)."""
    cores = max(len(os.sched_getaffinity(0)), 1)
    s0, w0 = _steal_jiffies(), time.monotonic()
    table_dir = tempfile.mkdtemp(prefix="pz_lake_", dir=_WORK_ROOT)
    try:
        if template_table is not None:
            os.rmdir(table_dir)
            clone_table(template_table, table_dir)
            table = SnapshotLakeTable(table_dir, n_buckets=n_buckets)
        else:
            table = SnapshotLakeTable(table_dir, n_buckets=n_buckets)
            bootstrap(spark, table, fix["base"])
        t0 = time.perf_counter()
        metrics = replay_batches(
            spark, table, fix["feed_dir"], files_per_batch=files_per_batch,
            skip_files=skip_files, start_batch_id=start_batch_id,
        )
        elapsed = time.perf_counter() - t0
        final_rows = table.read(spark).count()
    finally:
        shutil.rmtree(table_dir, ignore_errors=True)
    wall = time.monotonic() - w0
    total = sum(m["events"] for m in metrics)
    return {
        "events": total,
        "batches": len(metrics),
        "elapsed_sec": elapsed,
        "events_per_sec": total / elapsed if elapsed else 0.0,
        "final_rows": final_rows,
        "steal_frac": (_steal_jiffies() - s0) / max(wall * 100.0 * cores, 1e-9),
        "metrics": metrics,
    }


def run_cdc_bench(
    spark: SparkSession,
    n_events: int = 1_000_000,
    n_convs: int = 20_000,
    files_per_batch: int = 4,
    n_buckets: int = 16,
    warmup: bool = True,
    trials: int = 3,
    max_steal: float = 0.05,
    **fixture_kw: Any,
) -> dict[str, Any]:
    """Measure sustained merge-apply throughput on a fresh table.

    Warmup = one full replay of the SAME fixture into a throwaway table.
    Measured: the first executions of a given generated-code shape run
    interpreted/C1 until HotSpot's C2 tier kicks in — identical plans were
    5-8x slower on their first few runs than at steady state. Replaying the
    identical fixture first means every stage's generated class, the Python
    UDF workers, and the parquet codecs are all hot when measurement starts,
    so the number is the *sustained* throughput BASELINE.json asks for (a
    production CDC tail runs for days; its first 30 seconds are noise).

    The host shows multi-minute hypervisor-steal bursts that stretch a single
    replay up to 2x (identical work measured 9-23s back to back), so one
    trial is a coin flip, not a measurement. We run ``trials`` replays, tag
    each with its measured steal fraction (/proc/stat, not guessed), drop
    steal-contaminated trials when any clean one exists (steal only ever
    SLOWS a trial — filtering is conservative), and report the median clean
    trial. Trial lists are included in the result for audit.
    """
    fix = ensure_fixture(n_events=n_events, n_convs=n_convs, **fixture_kw)
    if warmup:
        _replay_fresh(spark, fix, files_per_batch, n_buckets)
    runs: list[dict[str, Any]] = []
    # Keep trialing until ≥ min(trials, 3) CLEAN samples exist (steal ≤ cap),
    # up to 2·trials+2 attempts: r2's headline was quoted from a window with
    # one clean trial out of three (11%/6%/4% steal) — a coin flip, not a
    # measurement. Steal only ever SLOWS a trial, so retrying during bursts
    # is conservative (it can't inflate the number).
    want_clean = min(max(trials, 1), 3)
    max_attempts = 2 * max(trials, 1) + 2
    while len(runs) < max_attempts:
        runs.append(_replay_fresh(spark, fix, files_per_batch, n_buckets))
        n_clean = sum(1 for x in runs if x["steal_frac"] <= max_steal)
        if len(runs) >= max(trials, 1) and n_clean >= want_clean:
            break
    clean = [r for r in runs if r["steal_frac"] <= max_steal] or runs
    clean.sort(key=lambda r: r["events_per_sec"])
    out = dict(clean[len(clean) // 2])
    out["trials_events_per_sec"] = [round(r["events_per_sec"], 1) for r in runs]
    out["trials_steal_frac"] = [round(r["steal_frac"], 4) for r in runs]
    out["n_clean"] = len([r for r in runs if r["steal_frac"] <= max_steal])
    return out


def main(argv: list[str] | None = None) -> None:
    import argparse
    import json

    from palimpzest_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="CDC merge-apply throughput bench (one JSON line on stdout)"
    )
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--fpb", type=int, default=4, help="feed files per microbatch")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--max-steal", type=float, default=0.05)
    ap.add_argument("--cpus", type=int, default=0, help="0 = all available")
    args = ap.parse_args(argv)

    cpus = args.cpus or max(len(os.sched_getaffinity(0)), 1)
    spark = get_spark(master=f"local[{cpus}]")
    try:
        r = run_cdc_bench(
            spark, n_events=args.events, n_convs=args.convs,
            files_per_batch=args.fpb, n_buckets=args.buckets,
            trials=args.trials, max_steal=args.max_steal,
        )
        out = {
            "metric": "cdc_merge_events_per_sec",
            "events_per_sec": round(r["events_per_sec"], 1),
            "trials_events_per_sec": r["trials_events_per_sec"],
            "trials_steal_frac": r["trials_steal_frac"],
            "n_clean": r["n_clean"],
        }
        out["cpus"] = cpus
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
