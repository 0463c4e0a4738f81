#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload cdc_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds nothing: the program is the
``palimpzest_spark`` package next to this directory, driven on ``local[4]``
through its public functions. Inputs and scratch files go to
``.perfbench_work/`` in the checkout. Stdout ends with one JSON line::

    {"correct": ..., "attempted": N, "failed": N, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the ``end_to_end`` metrics of ``BENCHMARK.json``;
``--trace 1`` records spans around every call, writes them to
``.perfbench_work/trace-<workload>-<seed>.json`` and reports the
``per_layer`` metrics. The line before it holds the workload's detailed
figures (per-call medians, sample counts, input digests, host noise). The
exit code is 0 only when the run completed and its output passed the
correctness check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["cdc_mixed", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="floor on the timed window; each workload times a fixed amount of work "
                         "and extends it by whole units only while less than this has passed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "palimpzest_spark")):
        print(f"perfbench: no palimpzest_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, its Python workers and the JVM write inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["PZ_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # every JVM that spark-submit starts, its launcher too: no /tmp/hsperfdata,
    # and native libraries extract under the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for p in (os.path.join(ROOT, "tools"), ROOT):
        sys.path.insert(0, p)

    from palimpzest_spark.session import get_spark
    from perfbench import cdc_mixed, query_suite
    from perfbench.measure import HostNoise, Tracer

    workload = {"cdc_mixed": cdc_mixed, "query_suite": query_suite}[args.workload]
    host = HostNoise()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER)
    get_spark_s = time.perf_counter() - t0
    tracer = Tracer(spark, args.workload, enabled=bool(args.trace))
    try:
        res = workload.run(spark, work, args.seed, args.seconds, tracer, size_name=args.size)
        noise = host.read()  # while Spark's processes are still in our tree
    finally:
        _stop(spark)

    if args.trace:
        tracer.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
        values = {
            "session.get_spark_s": get_spark_s,
            **noise,
            "trace.overhead_frac": res["loop_overhead_s"] / res["loop_s"],
            **res["layers"],
        }
        wanted = spec["per_layer"]
    else:
        values = dict(res["e2e"])
        values["setup_s"] += get_spark_s
        wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    # a layer the workload never calls did no work in it
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}

    print(json.dumps({"workload": args.workload, "trace": args.trace, "get_spark_s": get_spark_s,
                      "mismatches": res["mismatches"], **noise, **res["detail"]}))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
