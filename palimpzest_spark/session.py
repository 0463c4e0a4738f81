"""SparkSession factory.

One place to encode the engine's execution-model choices so every entry
point (tests, bench, driver contract, CDC runner) gets the same tuned
session:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all Python crossings are vectorized batches, never per-row)
- shuffle partitions sized to cores for local mode (overridable) — on a
  real 1000-executor cluster this is set to ~2-3x total cores instead
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the cores this process may run on, not the host's: a pinned or
# containerized process would otherwise oversubscribe
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "palimpzest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to the cores this
    process may run on when the variable is unset. ``shuffle_partitions``
    defaults to the local core count — at cluster scale callers pass a value
    proportional to total executor cores.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    ncores = master[master.find("[") + 1 : master.find("]")] if "[" in master else DEFAULT_CPUS
    if ncores == "*":
        ncores = str(os.cpu_count() or 8)
    # 4x cores, not 1x: more, smaller reduce tasks balance load and cap
    # straggler cost (measured ~25% faster and far lower variance on the CDC
    # merge at local[16]); matches the 2-4x-total-cores cluster guidance
    nshuffle = shuffle_partitions or 4 * int(ncores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.default.parallelism", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # advisory size tuned for a 32-core single box: REBALANCE/coalesce
        # target ~16MB partitions so a few-hundred-MB microbatch still fans
        # out to every core (cluster deployments raise this toward 64-128MB)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # NOTE: deliberately modest heap. An oversized local-mode heap (48g on
        # a 128g box) measured 5-10x SLOWER on merge workloads — GC/page-fault
        # pathology as the heap grows — than a right-sized one. 12g sustains
        # ~100k CDC events/sec here; raise only with evidence.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd for data files AND shuffle/spill blocks (lz4/snappy default):
        # the standard lakehouse codec — ~30% fewer bytes on transcript text
        # at a small CPU premium. Bytes are the scarce resource at 10^10
        # rows (S3 egress, shuffle fabric, page cache); measured here it
        # also moves the CDC merge off the single-socket memory-bandwidth
        # wall (16-core merge +40% with zstd vs snappy, 4-core within 7%),
        # i.e. the work profile shifts from bandwidth-bound to CPU-bound,
        # which is what actually scales with executor count.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # deterministic timestamp/parquet behavior
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # scans must fan out to every core even when the source is a handful
        # of mid-size files (a 16-file microbatch at 128MB/partition would cap
        # scan parallelism at 16 of 32 cores)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # shuffle/spill files on tmpfs: on this box /tmp is the one data disk,
        # whose writeback stalls serialize all task threads; a real cluster's
        # shuffle dirs are per-executor local disks that scale with the fleet
        .config(
            "spark.local.dir",
            os.environ.get(
                "PZ_SPARK_LOCAL_DIR",
                "/dev/shm/pz_spark_local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
