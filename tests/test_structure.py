"""Structure pins for the streaming micro-batch protocol, read from the
package source without starting Spark: one foreachBatch runner (which
owns the one checkpoint guard), one ``_batch_id`` partition-sink write,
and no replay comparison in the stream jobs — the replay check lives
with each manifest format (``io.apply_versioned_batch`` for ledgers,
``index_store.batch_committed`` for index adds)."""

from __future__ import annotations

import pathlib

import bigdata_usaspending_spark

_PKG = pathlib.Path(bigdata_usaspending_spark.__file__).parent


def _source(rel: str) -> str:
    return (_PKG / rel).read_text(encoding="utf-8")


def _package_count(needle: str) -> int:
    return sum(
        p.read_text(encoding="utf-8").count(needle) for p in _PKG.rglob("*.py")
    )


def test_one_foreach_batch_runner():
    assert _package_count(".foreachBatch(") == 1
    assert _source("streaming/jobs.py").count(".foreachBatch(") == 1


def test_one_checkpoint_guard_message():
    assert _package_count("no checkpointLocation was given") == 1


def test_one_batch_partition_sink_write():
    assert _source("streaming/jobs.py").count("partitionOverwriteMode") == 1


def test_replay_checks_live_with_the_manifest_formats():
    assert "batch_id <= manifest" not in _source("streaming/jobs.py")
    assert _source("io.py").count('batch_id <= manifest["batch_id"]') == 1
    assert _source("index_store.py").count('batch_id <= manifest["batch_id"]') == 1
