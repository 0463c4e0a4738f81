"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

They start Spark (one session in this process, plus four benchmark runs on
tiny inputs as subprocesses) and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """One tiny run; with --seconds 0 the timed work is never extended, so
    two runs of one seed do the same work."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, last = proc.stdout.strip().splitlines()
    return json.loads(detail), json.loads(last)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_and_tracing_adds_no_jobs(workload):
    d0, r0 = _run(workload, 0)
    d1, r1 = _run(workload, 1)
    for res, kind in ((r0, "end_to_end"), (r1, "per_layer")):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    assert all(v["value"] > 0 for v in r0["metrics"].values())
    # observing must add no Spark jobs
    assert d0["spark_jobs"] == d1["spark_jobs"] > 0
    assert d0.get("compacted_at") == d1.get("compacted_at")
    assert d0["input_digest"] == d1["input_digest"]


@pytest.fixture(scope="module")
def spark():
    from palimpzest_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_check_fails_when_a_data_file_is_missing(spark, tmp_path):
    from palimpzest_spark.cdc import feedgen
    from palimpzest_spark.cdc.lake import SnapshotLakeTable
    from palimpzest_spark.cdc.merge import bootstrap
    from palimpzest_spark.cdc.runner import replay_batches
    from perfbench.cdc_mixed import check_state

    base = feedgen.gen_base_table(str(tmp_path / "base"), n_convs=40, max_turns=6, seed=5)
    feed = feedgen.gen_change_feed(str(tmp_path / "feed"), n_events=800, n_convs=40,
                                   max_turns=6, n_files=4, seed=5, evolve_at=1.0)
    table = SnapshotLakeTable(str(tmp_path / "lake"), n_buckets=4)
    bootstrap(spark, table, base)
    replay_batches(spark, table, str(tmp_path / "feed"), files_per_batch=2)
    base_pdf = pd.read_parquet(base)
    feed_pdf = pd.concat([pd.read_parquet(p) for p in feed], ignore_index=True)
    assert check_state(spark, table, base_pdf, feed_pdf) == []

    snap = table.snapshot()
    os.remove(os.path.join(table.root, next(p for ps in snap["files"].values() for p in ps)))
    assert check_state(spark, table, base_pdf, feed_pdf) != []
