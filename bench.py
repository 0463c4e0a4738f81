#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on) and, once warm, the CDC merge-apply replay (the
BASELINE.json headline metric). Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "filter_project",
    "scalar_aggs",
    "groupby_collect",
    "join_semi",
    "distinct_op",
    "topk_per_group",
    "window_running_sum",
    "rollup_pricing",
    "sessionization",
    "asof_join_click_view",
    "dedup_exact_docs",
    "dedup_minhash_docs",
    "text_quality",
    "text_repetition_stats",
    "ann_cosine_topk",
    "sem_topk_attach_oracle",
    "curation_pipeline",
]


def main() -> None:
    from palimpzest_spark.plans.queries import QUERIES
    from palimpzest_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(app_name="bench")

    timings: dict[str, float] = {}
    # Warm pass: run every query once untimed. First executions pay JVM JIT
    # (interpreted/C1 until C2 compiles each generated-code shape), parquet
    # footer reads, and Python-worker spinup — measured 2-6x inflation on
    # the first run of identical plans. The timed pass is steady state.
    for name in HEADLINE:
        if name in QUERIES:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    for name in HEADLINE:
        if name not in QUERIES:
            continue
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    # CDC merge-apply replay throughput (events/sec) — the headline metric
    try:
        from palimpzest_spark.cdc.bench import run_cdc_bench

        cdc = run_cdc_bench(spark)
        timings["cdc_replay"] = round(cdc["elapsed_sec"], 3)
        headline_metric = "cdc_merge_events_per_sec"
        headline_value = round(cdc["events_per_sec"], 1)
        extra = {
            "cdc_trials_events_per_sec": cdc.get("trials_events_per_sec"),
            "cdc_trials_steal_frac": cdc.get("trials_steal_frac"),
        }
        # Hot-key skew evidence: same event count, 95% of events on 1% of
        # conv_ids; the uniform side is the headline above (identical plan
        # shapes, so the headline's warmup covers these trials too). A ratio
        # near 1.0 = merge throughput does not depend on key distribution:
        # the LWW fold is a map-side-combinable aggregate and the write is an
        # AQE rebalance on _bucket, so the defense is structural. Exactness
        # under the same skew is tests/test_cdc.py::test_extreme_hot_key_skew.
        hot = run_cdc_bench(spark, warmup=False, hot_frac=0.01, hot_share=0.95)
        extra["cdc_hot_key_events_per_sec"] = round(hot["events_per_sec"], 1)
        extra["cdc_skew_ratio"] = (
            round(hot["events_per_sec"] / cdc["events_per_sec"], 3)
            if cdc["events_per_sec"]
            else None
        )
    except ImportError:
        headline_metric = "headline_queries_total"
        headline_value = round(sum(timings.values()), 3)
        extra = {}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": headline_metric,
                "value": headline_value,
                "unit": "events/sec" if headline_metric.startswith("cdc") else "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": int(DEFAULT_CPUS),
                **{k: v for k, v in extra.items() if v is not None},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
