"""Session defaults that need no Spark."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path


def test_default_cpus_is_the_affinity_count():
    """Without ``SPARK_GRAFT_CPUS`` the default master uses the cores the
    process may run on, not a fixed count that oversubscribes a small
    host."""
    core = min(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from palimpzest_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        cwd=Path(__file__).resolve().parents[1],
        env=env,
        preexec_fn=lambda: os.sched_setaffinity(0, {core}),
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    assert out.stdout.strip() == "1"
