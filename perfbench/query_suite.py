"""``query_suite``: rounds over five of the ``bench.py`` HEADLINE queries.

Closed loop, one client: a round runs every query once, in HEADLINE order,
to the noop sink. This is the only workload that runs ``operators/`` and
``functions/`` (dedup, similarity, text/quality, packing, ``layout.fan_out``);
the CDC workload never touches them.

The five are one query per layer, each the target of an open work item:
top-k (``operators``), MinHash dedup, the text repetition stats behind the
``fan_out`` regression, semantic top-k and first-fit-decreasing sequence
packing. All 19 do not fit: each query costs mostly fixed Spark job overhead,
and a run must finish in about a minute. ``curation_pipeline`` (packing plus
the connected-components ``graph`` layer) alone takes 7-9 s a call on
local[4], longer than the other five together, so packing is measured
through ``pack_sequences_oracle`` and the graph layer is not measured.

A run does a fixed number of rounds: one untimed warm-up round, whose
results are collected for the correctness check, then ``rounds`` timed. Round times on local[4] keep falling for several rounds as the JVM
compiles hot code, so a fixed count, not a time span, keeps every run on the
same stretch of that curve.

The tables are the sf0.1 star schema from ``tools/gen_bench_data.py`` with
its default seed 42, so result digests can be stored here. ``--seed``
therefore does not change this workload's inputs.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import sys
import time
from statistics import median
from typing import Any

import pandas as pd

from perfbench.measure import Tracer, geomean, next_job_id

DATA_SEED = 42
SIZES = {"full": {"sf": 0.1, "rounds": 3},
         "tiny": {"sf": 0.001, "rounds": 2}}
# the timed rounds may be extended, up to this many in all, when they end
# before ``--seconds`` (a program several times faster than today)
MAX_ROUNDS = 12
# sha256 of canonical result rows (``_rows_digest``) on the data above, for
# the two queries not compared with DuckDB on every run:
# - dedup_minhash_docs has no twin; the digest pins the output it gave when
#   the benchmark was defined;
# - pack_sequences_oracle's twin (a recursive CTE) takes about 30 s at sf0.1
#   in DuckDB, so the digest is of the twin's own output, computed once.
STORED_DIGEST = {
    "full": {"dedup_minhash_docs": "8d92ec4b84dbcd4b7580f19dc3aded27d602b9faef368fdd8548b24253fb0ddd",
             "pack_sequences_oracle": "6c9c866c553bdfed87ba2793a8642765f08b2a3bb0c154a4ec3b825fd9180afd"},
    "tiny": {"dedup_minhash_docs": "568f9d1465dd34b9832e37cd7dd6a3f603ee502e167e8e06e7e324ef707469fb",
             "pack_sequences_oracle": "9b48bc70128146cf4025dc3ee15c8d56717b862e996f2de471836b601af04e2c"},
}

# query -> the layer it exercises most, in HEADLINE order
LAYER = {
    "topk_per_group": "plans",
    "dedup_minhash_docs": "functions.dedup",
    "text_repetition_stats": "functions.text",
    "sem_topk_attach_oracle": "functions.similarity",
    "pack_sequences_oracle": "functions.packing",
}


def make_inputs(work: str, size: dict) -> tuple[str, str]:
    """Generate (once) the star-schema tables; returns their directory and
    their content digest."""
    root = os.path.join(work, "inputs", f"tables_sf{size['sf']}_s{DATA_SEED}")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        import gen_bench_data

        shutil.rmtree(root, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen_bench_data.gen(size["sf"], root, DATA_SEED)
        with open(done, "w") as f:
            f.write(_digest_dir(root))
        os.sync()  # no writeback of untimed generation inside timed calls
    with open(done) as f:
        return root, f.read()


def _digest_dir(root: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(root)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            df = pd.read_parquet(os.path.join(root, f))
            h.update(pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def _rows_digest(df) -> str:
    from tests.test_oracle_parity import _canon, _render

    cols, rows = _canon(df)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update("\x1f".join(_render(v) for v in r).encode() + b"\x1e")
    return h.hexdigest()


def check_outputs(outputs: dict[str, Any], sf_dir: str, size_name: str) -> list[str]:
    """Each query's output against its DuckDB ``ORACLE_SQL`` twin, with the
    canonicalization of ``tests/test_oracle_parity.py``, or against its
    ``STORED_DIGEST``. Returns the mismatches found."""
    import duckdb

    from palimpzest_spark.plans.queries import ORACLE_SQL
    from palimpzest_spark.sources.registry import TABLES
    from tests.test_oracle_parity import _canon, _eq

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, got in outputs.items():
        if name in STORED_DIGEST[size_name]:
            digest = _rows_digest(got)
            if digest != STORED_DIGEST[size_name][name]:
                bad.append(f"{name}: result digest {digest} differs from the stored one")
            continue
        want = con.execute(ORACLE_SQL[name]).fetchdf()
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            bad.append(f"{name}: shape {len(got)}x{sorted(got.columns)} != oracle {len(want)}x{sorted(want.columns)}")
            continue
        (_, grows), (_, wrows) = _canon(got), _canon(want)
        if any(not all(_eq(a, b) for a, b in zip(gr, wr)) for gr, wr in zip(grows, wrows)):
            bad.append(f"{name}: values differ from the oracle")
    con.close()
    return bad


def run(spark, work: str, seed: int, seconds: float, tracer: Tracer, size_name: str = "full") -> dict[str, Any]:
    from palimpzest_spark.plans.queries import QUERIES

    size = SIZES[size_name]
    sf_dir, digest = make_inputs(work, size)
    names = list(LAYER)
    info = {"seed": seed, "data_seed": DATA_SEED, "sf": size["sf"], "input_digest": digest}

    # -- set-up: one warm-up round. Its results, collected into this process,
    # are what the correctness check compares; collecting a timed round
    # instead would change what is timed.
    def round_(r: int, collect: bool) -> float:
        t_round = time.perf_counter()
        idx = tracer.begin("round", "round", r)
        for name in names:
            if collect:
                outputs[name] = tracer.call(LAYER[name], name, r,
                                            lambda n=name: QUERIES[n](spark, sf_dir).toPandas())[0]
            else:
                per[name].append(tracer.call(
                    LAYER[name], name, r,
                    lambda n=name: QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save(),
                )[1])
        tracer.end(idx)
        return time.perf_counter() - t_round

    outputs: dict[str, pd.DataFrame] = {}
    per: dict[str, list[float]] = {n: [] for n in names}
    t0 = time.perf_counter()
    round_(-1, collect=True)
    warm_s = time.perf_counter() - t0

    # -- timed loop: ``rounds`` rounds, extended only while ``seconds`` have
    # not passed
    rounds: list[float] = []
    jobs0 = next_job_id(spark)
    span0 = len(tracer.spans)
    overhead0 = tracer.overhead_s
    t0 = time.perf_counter()
    while len(rounds) < size["rounds"] or (time.perf_counter() - t0 < seconds and len(rounds) < MAX_ROUNDS):
        rounds.append(round_(len(rounds), collect=False))
    loop_s = time.perf_counter() - t0
    jobs = next_job_id(spark) - jobs0

    # -- correctness gate (outside the timed loop)
    mismatches = check_outputs(outputs, sf_dir, size_name)

    medians = {n: median(v) for n, v in per.items()}
    out = {
        "attempted": len(names) * len(rounds) + len(names),
        "failed": len(mismatches),
        "mismatches": mismatches,
        "e2e": {
            "setup_s": warm_s,
            "step_p50_s": median(rounds),
            "call_geomean_s": geomean(list(medians.values())),
            "work_per_s": len(names) * len(rounds) / loop_s,
        },
        "detail": {"rounds": len(rounds), "spark_jobs": jobs, "suite_s": median(rounds),
                   "round_s": rounds, "query_p50_s": medians, "warmup_s": warm_s, **info},
        "loop_s": loop_s,
        "loop_overhead_s": tracer.overhead_s - overhead0,
    }
    if tracer.enabled:
        tracer.resolve_tasks()
        layers = {}
        for name in names:
            layers[f"query.{name}_frac"] = sum(per[name]) / loop_s
            layers[f"query.{name}_jobs"] = tracer.mean("jobs", name, span0)
        out["layers"] = layers
    return out
