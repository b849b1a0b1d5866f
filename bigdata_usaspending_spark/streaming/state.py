"""Streaming state-backend configuration surface.

The reference has no streaming engine at all (SURVEY.md §2.9); these jobs'
stateful operators (windowed/keyed rollups, dropDuplicatesWithinWatermark,
session windows, flatMapGroupsWithState top-k) all keep per-key state between
micro-batches. The default HDFS-backed state store holds the working set of
every loaded state partition as JVM objects on the executor heap — fine for
the test harness, but at 100 TB the dedup-fingerprint and rollup state for a
day-scale watermark horizon is far larger than any executor heap.

Spark ships a RocksDB-backed provider (bundled ``rocksdbjni``) that keeps
state off-heap / on local SSD with incremental changelog checkpointing, which
is the deployment-correct backend for large state:

- state size bounded by local disk, not heap (no executor OOM as the
  watermark horizon or key cardinality grows);
- changelog checkpointing uploads per-batch deltas instead of full snapshots,
  so checkpoint cost is O(changed keys) not O(state);
- bounded block-cache memory so N state partitions per executor share one
  budget.

``rocksdb_state_confs`` returns the conf dict; ``enable_rocksdb_state``
applies it to a session (the provider class is read per-query at start, so
this is runtime-settable — no rebuild needed). Tests drive a real stateful
query end-to-end under the RocksDB provider (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_confs(
    changelog_checkpointing: bool = True,
    bounded_memory_mb: int | None = None,
) -> dict[str, str]:
    """Conf dict for the RocksDB state backend.

    changelog_checkpointing: upload per-batch change logs instead of full
        SST snapshots (snapshot maintenance moves to a background task).
    bounded_memory_mb: cap TOTAL RocksDB memory (block cache + memtables +
        filter/index blocks) across all state partitions on an executor;
        None leaves Spark's per-instance defaults.
    """
    confs = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true" if changelog_checkpointing else "false"
        ),
    }
    if bounded_memory_mb is not None:
        confs["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = "true"
        confs["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] = str(
            bounded_memory_mb
        )
    return confs


def enable_rocksdb_state(
    spark: SparkSession,
    changelog_checkpointing: bool = True,
    bounded_memory_mb: int | None = None,
) -> SparkSession:
    """Switch subsequently-started streaming queries to the RocksDB backend.

    Applies to queries started AFTER the call (provider is resolved at query
    start); running queries keep their backend. A query restarted from an
    HDFS-backend checkpoint under RocksDB replays state from the checkpoint
    files, so the switch is restart-safe.
    """
    for key, value in rocksdb_state_confs(
        changelog_checkpointing, bounded_memory_mb
    ).items():
        spark.conf.set(key, value)
    return spark


def disable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Revert to the default HDFS-backed provider (test harness hygiene).
    Unsetting a runtime SQL conf that was never set is a no-op."""
    for key in rocksdb_state_confs(bounded_memory_mb=1):
        spark.conf.unset(key)
    return spark
