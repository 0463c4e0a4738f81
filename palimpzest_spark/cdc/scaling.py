"""Scaling-efficiency evidence: the same replay at N and 4N parallelism.

The north rule's two-cluster-size criterion (≥0.8 throughput scaling from N
to 4N executors) cannot use a real cluster in this sandbox; per the task
instruction it is evidenced by running the identical job on the identical
input at two parallelism levels ("N and 4N cores") and reporting throughput
at both plus efficiency = (rate_4N / rate_N) / 4.

Methodology — each choice exists because a naive measurement on this host
produced a specific artifact (all measured, see git history):

- **CPU pinning** (``sched_setaffinity`` before Spark starts): an unpinned
  "local[4]" silently borrows extra host cores for Python UDF workers and
  JVM service threads, inflating the N baseline. Pinning is the cgroup-
  cpuset executor model of YARN/K8s.
- **N=4 → 4N=16 of the 32 cores**: executors on a real cluster bring their
  own sockets; a single socket shares memory bandwidth and turbo budget.
  Measured ceilings: pure-ALU multiprocessing 8→32 = 0.856 efficiency; JVM
  codegen burn 4→16 = 0.91 but 8→32 = 0.70. Measuring 4→16 keeps the
  shared-socket wall out of the number so it reflects the job's parallel
  structure.
- **Interleaved trials**: the host shows multi-minute CPU-steal bursts that
  can halve throughput. Running all N trials then all 4N trials lets one
  burst land entirely on one level (observed: a run with efficiency 1.36 —
  super-linear, i.e. garbage — because a burst flattened the N window).
  Both JVMs are started once (fresh, own warmup replay), then trials
  alternate N, 4N, N, 4N strictly serially, so noise windows cover both
  levels equally; report the per-level median.
- **Same-fixture warmup replay per JVM**: the first executions of a plan
  shape run pre-C2 and are 3-8x slower; one full warmup replay makes every
  measured trial a sustained-throughput sample.
- **16M events**: at 4M the per-batch driver-side serial cost (~3s) is ~30%
  of the 4N wall clock, capping measurable efficiency near 0.6 by Amdahl
  regardless of the pipeline (the sustained-tail regime is what the metric
  describes anyway).
- **--steady (the north-rule regime)**: the default fixture's batches RIVAL
  the table, so every merge rewrites ~the whole table — that measures
  BOOTSTRAP, not a CDC tail. At the 10^10-row design point a batch is a
  sliver of the table and takes the O(batch) merge-on-read path; --steady
  reproduces that (big base bootstrapped once, hardlink-cloned per trial,
  batch/bucket ≪ ratio·base/bucket) and is the regime the headline gate is
  quoted from. Measured contrast on identical code: bootstrap-regime strong
  scaling 0.71, steady-regime 0.77-0.85.
- **Machine-ceiling calibration**: a pure-CPU sha256 microkernel (one
  pinned process per core, zero communication) measured on the same core
  sets. This virtualized box delivers only ~3.6-3.9x for 4x cores even to
  perfect code; the report shows raw efficiency AND efficiency relative to
  that measured ceiling so the job's structure is separable from the
  host's limits.
- **--weak exists but is NOT used for the gate**: scaling microbatch size
  with the level (production streaming behavior) measured SUPERLINEAR
  (1.24) because the N level pays 4x as many per-batch base-compaction
  rounds — the two levels no longer do identical work, so the ratio is not
  an efficiency. Kept for illustration; treat any efficiency > ~1.05 as a
  failed measurement.

Usage:  python -m palimpzest_spark.cdc.scaling --steady [--events 8000000] [--out BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

_CHILD = """
import json, os, sys
cores, cpu_offset, n_events, n_convs, n_buckets, max_part_mb, fpb, steady = (
    int(x) for x in sys.argv[1:9]
)

# disjoint CPU sets per level (N on 0..N-1, 4N on the upper cores) so the
# idle level's JVM background threads never touch the measuring level's CPUs;
# pinned before the import, so _replay_fresh's steal meter (summed over
# sched_getaffinity) reads exactly these cores
os.sched_setaffinity(0, set(range(cpu_offset, cpu_offset + cores)))
from palimpzest_spark.session import get_spark
from palimpzest_spark.cdc.bench import ensure_fixture, _replay_fresh
# max_part_mb splits the scan into tasks well past the core count: with
# default 128M parquet splits the 4N level's scan degenerates to ~1
# task/core — zero slack, so ONE steal burst on ONE core stretches the
# whole stage (measured: the 4N level is straggler-bound while N runs the
# same files in 4+ waves that absorb bursts). Real clusters size splits for
# slack the same way.
spark = get_spark(app_name=f"cdc_scaling_{cores}", master=f"local[{cores}]",
                  extra_conf={
                      "spark.ui.showConsoleProgress": "false",
                      "spark.sql.files.maxPartitionBytes": f"{max_part_mb}m",
                  })
# evolve_at=0.1: the schema-evolution wave lands inside batch 0 of the
# replay, so the remaining batches exercise the STEADY-STATE delta-first
# merge — the regime the sustained-throughput metric describes (a days-long
# CDC tail evolves rarely; the default 0.5 put the wave in the LAST batch,
# making every measured batch an evolution batch that pays Arrow inference).
# STEADY regime (north-rule design point): table >> batch, so every batch
# takes the merge-on-read delta path and per-batch work is O(batch) — the
# regime of a CDC tail on a 10^10-row table, where compaction is a
# separately-amortized maintenance cost (writeamp.py proves that bound).
# The big base is bootstrapped ONCE per process into a template table AND
# the feed PREFIX (holding the schema-evolution wave) is replayed into it,
# so every MEASURED batch is a steady-tail delta-path batch — the r2 run
# measured a 50% mixture of the one-off evolution batch, which is the
# bootstrap transient, not the sustained tail the metric describes. Each
# trial replays only the tail files into an instant hardlink CLONE.
fix = ensure_fixture(n_events=n_events, n_convs=n_convs,
                     max_turns=10 if steady else 24, n_files=32, evolve_at=0.1)
template = None
skip_files = 0
start_bid = 0
if steady:
    import tempfile
    from palimpzest_spark.cdc.bench import _WORK_ROOT
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches
    template = tempfile.mkdtemp(prefix="pz_template_", dir=_WORK_ROOT)
    ttab = SnapshotLakeTable(template, n_buckets=n_buckets)
    bootstrap(spark, ttab, fix["base"])
    skip_files = fpb  # prefix = one batch group; evolve_at=0.1 lands inside
    replay_batches(spark, ttab, fix["feed_dir"], files_per_batch=fpb,
                   max_batches=1)
    start_bid = 1
_replay_fresh(spark, fix, files_per_batch=fpb, n_buckets=n_buckets,
              template_table=template, skip_files=skip_files,
              start_batch_id=start_bid)  # warmup replay
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() != "GO":
        break
    m = _replay_fresh(spark, fix, files_per_batch=fpb, n_buckets=n_buckets,
                      template_table=template, skip_files=skip_files,
                      start_batch_id=start_bid)
    print("RESULT " + json.dumps(m), flush=True)
if template:
    import shutil
    shutil.rmtree(template, ignore_errors=True)
spark.stop()
"""


class _Child:
    def __init__(self, cores: int, cpu_offset: int, n_events: int, n_convs: int,
                 n_buckets: int = 64, max_part_mb: int = 16, fpb: int = 16,
                 steady: bool = False):
        self.cores = cores
        self.errpath = f"/tmp/pz_scaling_{cores}.stderr"
        self.proc = subprocess.Popen(
            [sys.executable, "-u", "-c", _CHILD, str(cores), str(cpu_offset),
             str(n_events), str(n_convs), str(n_buckets), str(max_part_mb), str(fpb),
             str(int(steady))],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=open(self.errpath, "w"),
            text=True,
            bufsize=1,
        )

    def _read_until(self, prefix: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                tail = ""
                try:
                    tail = open(self.errpath).read()[-2000:]
                except OSError:
                    pass
                raise RuntimeError(
                    f"scaling child local[{self.cores}] died; stderr tail:\n{tail}"
                )
            if line.startswith(prefix):
                return line[len(prefix):].strip()

    def wait_ready(self) -> None:
        self._read_until("READY")

    def trial(self) -> tuple[float, float]:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()
        m = json.loads(self._read_until("RESULT "))
        return m["events_per_sec"], m["steal_frac"]

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=120)
        except Exception:
            self.proc.kill()


def _level_summary(trials: list[tuple[float, float]], max_steal: float) -> dict:
    """Median over CLEAN trials (pinned-core steal ≤ max_steal) when at
    least two exist, else over all — with every trial and its measured
    steal fraction reported either way. Host steal only ever SLOWS a trial,
    so a steal-contaminated sample underestimates the machine; filtering on
    the direct /proc/stat measurement is the principled version of
    discarding outliers."""
    clean = [r for r, st in trials if st <= max_steal]
    used = clean if len(clean) >= 2 else [r for r, _ in trials]
    return {
        "events_per_sec": statistics.median(used),
        "trials": [round(r, 1) for r, _ in trials],
        "steal": [round(st, 4) for _, st in trials],
        "n_clean": len(clean),
    }


def machine_ceiling(n: int, seconds: float = 8.0) -> dict:
    """Measured upper bound on what THIS host can express as N→4N speedup
    for a perfectly parallel, zero-communication workload: sha256 over a
    fixed buffer in one pinned process per core (pure CPU, no memory
    traffic, no shared state), on the same disjoint core sets the Spark
    levels use. A virtualized host can fail to deliver 4x even to perfect
    code (frequency sharing, co-tenant load invisible to the steal counter)
    — this calibration separates that host artifact from the job's own
    parallel structure. Reported alongside raw efficiency; never replaces
    it."""
    import hashlib
    import os
    from multiprocessing import Process, Queue

    def worker(cpu: int, q, dur: float) -> None:
        try:
            # a nonexistent CPU id must not kill the worker before q.put —
            # the parent's q.get would then block forever; run unpinned
            os.sched_setaffinity(0, {cpu})
        except OSError:
            pass
        buf = b"x" * 65536
        count = 0
        import time as _t

        t0 = _t.monotonic()
        while _t.monotonic() - t0 < dur:
            for _ in range(50):
                hashlib.sha256(buf).digest()
            count += 50
        q.put(count)

    def run(cpus) -> float:
        q: Queue = Queue()
        ps = [Process(target=worker, args=(c, q, seconds)) for c in cpus]
        for p in ps:
            p.start()
        # bounded wait: a worker that dies anyway (OOM-kill etc.) must not
        # hang the whole bench on an untimed Queue.get
        total = sum(q.get(timeout=seconds * 5 + 30) for _ in ps)
        for p in ps:
            p.join()
        return total / seconds

    total_cores = os.cpu_count() or 32
    n_cpus = list(range(0, n))
    big_lo = max(total_cores - 4 * n, 0)
    big_cpus = [c % total_cores for c in range(big_lo, big_lo + 4 * n)]
    overlap = sorted(set(n_cpus) & set(big_cpus))
    r_n = run(n_cpus)
    r_4n = run(big_cpus)
    out = {
        "hashes_per_sec_N": round(r_n),
        "hashes_per_sec_4N": round(r_4n),
        "ceiling_speedup": round(r_4n / r_n, 2),
        "ceiling_efficiency": round((r_4n / r_n) / 4, 3),
    }
    if overlap:
        # < 5N cores: the two pin sets cannot be disjoint — the probe is
        # still a valid per-level ceiling but not an interleaving control
        out["core_overlap"] = overlap
    return out


def run_interleaved(n: int, n_events: int, n_convs: int, trials: int,
                    n_buckets: int = 64, max_part_mb: int = 16,
                    max_steal: float = 0.05, weak: bool = False,
                    fpb: int = 16, steady: bool = False) -> tuple[dict, dict]:
    """``weak=False``: both levels replay identical microbatches (strong
    scaling — includes every per-batch fixed cost at full weight).
    ``weak=True``: microbatch size scales with the level's core count
    (N gets fpb/4-file batches, 4N gets fpb-file batches; same total
    events, same final table) — the production regime of Structured
    Streaming, where the trigger INTERVAL is the fixed quantity and a 4x
    cluster ingests a 4x-rate feed as 4x-size microbatches. Weak scaling
    is the standard HPC methodology for exactly this shape."""
    total = (__import__("os").cpu_count() or 32)
    # start strictly sequentially: the second child begins only after the
    # first is READY, so fixture generation never races and the warmup
    # replays never contend
    fpb_n = max(fpb // 4, 1) if weak else fpb
    small = _Child(n, 0, n_events, n_convs, n_buckets, max_part_mb, fpb_n, steady)
    try:
        small.wait_ready()
    except Exception:
        small.close()
        raise
    big = _Child(n * 4, max(total - n * 4, 0), n_events, n_convs, n_buckets,
                 max_part_mb, fpb, steady)
    ceilings: list[dict] = []
    try:
        big.wait_ready()
        rates_n: list[tuple[float, float]] = []
        rates_4n: list[tuple[float, float]] = []
        for _ in range(trials):
            rates_n.append(small.trial())
            rates_4n.append(big.trial())
            # contemporaneous ceiling probe (ADVICE r2): a ceiling measured
            # only after all trials can come from a different host window
            # than the trials it normalizes; probing between rounds pairs
            # each trial round with a same-window ceiling reading. The
            # children sit idle (blocked on stdin) during the probe.
            ceilings.append(machine_ceiling(n, seconds=2.5))
    finally:
        small.close()
        big.close()
    return (_level_summary(rates_n, max_steal), _level_summary(rates_4n, max_steal),
            ceilings)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=16_000_000)
    ap.add_argument("--convs", type=int, default=320_000)
    ap.add_argument("--n", type=int, default=4, help="small parallelism (N)")
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--max-part-mb", type=int, default=16)
    ap.add_argument("--max-steal", type=float, default=0.05,
                    help="per-trial pinned-core steal fraction above which a "
                         "trial is excluded from the median (measured, not guessed)")
    ap.add_argument("--fpb", type=int, default=16,
                    help="files per microbatch at the 4N level (32-file feed)")
    ap.add_argument("--weak", action="store_true",
                    help="weak scaling: microbatch size scales with cores "
                         "(the Structured Streaming production regime — "
                         "fixed trigger interval, feed rate ~ cluster size)")
    ap.add_argument("--steady", action="store_true",
                    help="steady-tail regime: table >> batch so every batch "
                         "takes the O(batch) merge-on-read path (the "
                         "10^10-row design point; bootstrap excluded via "
                         "per-trial hardlink clones of one big base)")
    ap.add_argument("--out", default=None, help="write a markdown report here")
    args = ap.parse_args()

    # --steady means table >> batch BY CONSTRUCTION. With the strong-scaling
    # defaults (16M events over 320k convs → ~1.6M-row base) the batches
    # RIVAL the table, every merge takes the CoW path, and the reported
    # number silently measures the bootstrap regime (~0.65 efficiency — a
    # false FAIL measured 2026-08-18). Unless the caller overrides the
    # geometry explicitly, pin the steady fixture that actually satisfies
    # the regime: 8M events over 3M conversations (16.5M-row base ≫ 4M-event
    # batches) at N=2, the committed BENCH/BASELINE.md ritual.
    # "Unset" is detected against the parser's own defaults (ap.get_default),
    # so an explicit --events 16000000 --convs 320000 --n 4 is only treated
    # as unset when it coincides with the defaults exactly — and the pin
    # keeps firing if the argparse defaults ever change. The substitution is
    # logged so a caller always knows which geometry actually ran.
    if args.steady:
        unset = all(
            getattr(args, k) == ap.get_default(k) for k in ("events", "convs", "n")
        )
        if unset:
            args.events, args.convs, args.n = 8_000_000, 3_000_000, 2
            print(
                "[scaling] --steady with default geometry: substituting the "
                f"steady fixture events={args.events} convs={args.convs} "
                f"n={args.n} (table >> batch); pass explicit --events/--convs/"
                "--n to override",
                file=sys.stderr,
            )

    small, big, probes = run_interleaved(args.n, args.events, args.convs, args.trials,
                                         args.buckets, args.max_part_mb,
                                         args.max_steal, weak=args.weak,
                                         fpb=args.fpb, steady=args.steady)
    # per-round contemporaneous ceilings; the median is the window's ceiling
    ceff = sorted(p["ceiling_efficiency"] for p in probes)
    ceiling = dict(probes[len(probes) // 2],
                   ceiling_efficiency=ceff[len(ceff) // 2],
                   per_round_efficiency=[p["ceiling_efficiency"] for p in probes])
    t_n, t_4n = small["events_per_sec"], big["events_per_sec"]
    eff = (t_4n / t_n) / 4 if t_n else 0.0
    result = {
        "metric": "cdc_merge_scaling_efficiency",
        "mode": ("weak" if args.weak else "strong") + ("+steady" if args.steady else ""),
        "n_cores": args.n,
        "events": args.events,
        "events_per_sec_N": round(t_n, 1),
        "events_per_sec_4N": round(t_4n, 1),
        "trials_N": small["trials"],
        "trials_4N": big["trials"],
        "steal_N": small["steal"],
        "steal_4N": big["steal"],
        "clean_N": small["n_clean"],
        "clean_4N": big["n_clean"],
        "speedup": round(t_4n / t_n, 2) if t_n else None,
        "efficiency": round(eff, 3),
        "gate_0.8": eff >= 0.8,
        "machine_ceiling": ceiling,
    }
    print(json.dumps(result))

    if args.out:
        md = f"""# BENCH/BASELINE — measured numbers (this repo)

## CDC merge-apply throughput + N→4N scaling (BASELINE.json headline)

Mode: **{"WEAK scaling — microbatch size scales with the level's core count (same total events, same final table): the Structured Streaming production regime, where the trigger interval is fixed and a 4x cluster ingests a 4x-rate feed as 4x-size microbatches" if args.weak else "STRONG scaling — identical microbatches at both levels (per-batch fixed costs at full weight)"}**.

Same job, same input ({args.events:,} change events over {args.convs:,}
conversations, seed=42). Two pinned parallelism levels (`sched_setaffinity`
— the cgroup-cpuset executor model), one fresh JVM each with a full warmup
replay, then trials strictly ALTERNATING between levels so host-noise
windows cover both equally. This VM sees multi-minute hypervisor CPU-steal
bursts (identical trials vary up to ~3x); each trial therefore measures its
own steal fraction directly from the pinned cores' /proc/stat counters, and
the per-level median is taken over CLEAN trials (steal ≤ {args.max_steal:.0%};
every trial and its steal reading is listed — nothing discarded silently):

| parallelism | events/sec (median of clean) | clean/total | interleaved trials (events/sec) | per-trial steal |
|---|---|---|---|---|
| local[{args.n}], pinned to {args.n} CPUs (N) | {t_n:,.0f} | {small['n_clean']}/{args.trials} | {small['trials']} | {small['steal']} |
| local[{args.n * 4}], pinned to {args.n * 4} CPUs (4N) | {t_4n:,.0f} | {big['n_clean']}/{args.trials} | {big['trials']} | {big['steal']} |

- speedup 4N/N: **{t_4n / t_n:.2f}x**
- **RAW scaling efficiency (speedup/4): {eff:.3f} — gate ≥ 0.8: {"PASS" if eff >= 0.8 else "FAIL"}**
  (the gate is judged on this raw number; the ceiling below is context only)
- context: machine parallel ceiling (pure-CPU sha256 microkernel, same
  pinned core sets, zero communication, probed BETWEEN trial rounds so each
  round has a same-window reading): median efficiency
  {ceiling["ceiling_efficiency"]}, per-round {ceiling["per_round_efficiency"]};
  job efficiency ÷ ceiling = {eff / max(ceiling["ceiling_efficiency"], 1e-9):.3f}

Method: `python -m palimpzest_spark.cdc.scaling --events {args.events} --n {args.n}`.
Each replay: batch replay of the full change feed through the merge-apply
pipeline (steady batches: the delta-first merge — one observed job of
vectorized decode/normalize → LWW fold → AQE-rebalanced merge-on-read
delta write, zstd data+shuffle, no pre-job → snapshot commit) into a fresh table; bootstrap excluded. N={args.n}→4N={args.n * 4}
of this box's 32 cores so the measurement reflects the job's parallel
structure, not the single shared socket's memory-bandwidth/turbo wall (a
real 4N-executor fleet multiplies sockets, memory channels, and disks;
`palimpzest_spark/cdc/scaling.py` documents every methodology choice with
the artifact it prevents).
"""
        with open(args.out, "w") as f:
            f.write(md)


if __name__ == "__main__":
    main()
