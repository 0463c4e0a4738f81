"""CDC / incremental-ingest engine (the BASELINE.json north rule).

Pipeline: binlog/WAL-style change feed → Arrow schema reconciliation →
vectorized decode/normalize → in-batch last-writer-wins dedup → idempotent
version-guarded MERGE into a snapshot-committed lake table (an AQE-rebalanced
write per bucket, so a hot key splits across tasks) → per-partition lineage
+ throughput metrics.

Modules:
- ``lake``       : SnapshotLakeTable — parquet data files + atomic JSON
                   snapshot commits (Iceberg-style; real Iceberg ``MERGE
                   INTO`` is a drop-in when its runtime jar is on the
                   classpath — this sandbox image has none).
- ``feedgen``    : deterministic (seed=42) transcript + change-feed generator.
- ``reconcile``  : Arrow-based microbatch schema reconciliation.
- ``merge``      : the merge-apply (decode → LWW dedup → bucketed MERGE).
- ``runner``     : batch replay + Structured Streaming foreachBatch drivers.
- ``oracle``     : pandas event-log fold (the correctness reference).
- ``bench``      : events/sec measurement used by bench.py.
"""
