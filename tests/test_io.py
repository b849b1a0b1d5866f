"""Partitioned-layout IO tests: directory layout, dynamic overwrite, pruning."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from bigdata_usaspending_spark import io
from bigdata_usaspending_spark.ml.adapter import awards_view


@pytest.mark.slow
def test_partitioned_write_layout_and_pruning(spark, sf_small, tmp_path):
    path = str(tmp_path / "awards")
    awards = awards_view(spark, sf_small)
    io.write_awards_partitioned(awards, path)
    years = [d for d in os.listdir(path) if d.startswith("year=")]
    assert years, "expected year= partition directories"
    months = os.listdir(os.path.join(path, years[0]))
    assert any(m.startswith("month=") for m in months)

    back = io.read_awards(spark, path)
    assert back.count() == awards.count()
    one_year = int(years[0].split("=")[1])
    pruned = back.filter(f"year = {one_year} AND month = 1")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert back.filter(f"year = {one_year}").count() > 0
    # the year/month predicates must be directory-level PartitionFilters on
    # the scan, not post-scan row filters
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "year" in pf and "month" in pf
    assert f"(year#" in pf or f"year = {one_year}" in pf or "isnotnull" in pf


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_small, tmp_path):
    path = str(tmp_path / "awards")
    awards = awards_view(spark, sf_small).cache()
    io.write_awards_partitioned(awards, path)
    before = io.read_awards(spark, path).count()
    # rewrite only January rows; dynamic mode must not clobber other months
    jan = awards.filter("month(start_date) = 1")
    io.write_awards_partitioned(jan, path, mode="overwrite")
    after = io.read_awards(spark, path).count()
    assert after == before


def test_upsert_merge_on_read_and_compaction(spark, tmp_path):
    path = str(tmp_path / "versioned")
    v1 = spark.createDataFrame(
        [("a", 100.0), ("b", 200.0)], "award_id string, award_amount double"
    )
    v2 = spark.createDataFrame(
        [("b", 250.0), ("c", 300.0)], "award_id string, award_amount double"
    )
    io.append_versions(v1, path, version=1)
    io.append_versions(v2, path, version=2)

    latest = {r.award_id: r.award_amount for r in io.read_latest(spark, path, "award_id").collect()}
    # last write wins: b updated, a kept, c inserted (Cassandra PK semantics)
    assert latest == {"a": 100.0, "b": 250.0, "c": 300.0}
    # raw table still holds 4 physical rows (append-only writes)
    assert spark.read.parquet(path).count() == 4

    io.compact_versions(spark, path, "award_id")
    assert spark.read.parquet(path).count() == 3
    after = {r.award_id: r.award_amount for r in io.read_latest(spark, path, "award_id").collect()}
    assert after == latest


def test_rename_dependent_ops_refuse_object_store_paths(spark, tmp_path):
    """Operations whose crash-safety depends on atomic rename must fail
    fast on object-store URIs instead of offering silently-unsafe
    semantics (a crash mid-swap on s3:// can lose the table)."""
    import pytest

    df = spark.createDataFrame([("a", 1.0)], "award_id string, award_amount double")
    for fn in (
        lambda p: io.append_versions(df, p, version=1),
        lambda p: io.compact_versions(spark, p, "award_id"),
        lambda p: io.commit_versioned_state(df, p, batch_id=0),
    ):
        for bad in ("s3://bucket/state", "s3a://bucket/state", "gs://bucket/state"):
            with pytest.raises(ValueError, match="atomic-rename"):
                fn(bad)
    # file:// and bare local paths remain accepted
    io.commit_versioned_state(df, str(tmp_path / "state"), batch_id=0)
    assert io.read_versioned_state(spark, str(tmp_path / "state")).count() == 1


@pytest.mark.slow
def test_scd2_apply_all_paths_and_two_batches(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2021, 1, 1), datetime(2022, 1, 1)
    cur = spark.createDataFrame(
        [
            (1, "A", t0, None),   # will change in batch 1
            (2, "B", t0, None),   # update arrives, unchanged
            (3, "C", t0, None),   # no update at all
        ],
        "k long, attr string, eff_from timestamp, eff_to timestamp",
    )
    upd1 = spark.createDataFrame(
        [
            (1, "A2", t1),  # change
            (2, "B", t1),   # no-op update
            (9, "NEW", t1), # brand-new key
        ],
        "k long, attr string, eff_date timestamp",
    )
    h1 = io.scd2_apply(cur, upd1, "k", ["attr"])
    rows = {(r.k, r.attr, r.eff_from, r.eff_to) for r in h1.collect()}
    assert rows == {
        (1, "A", t0, t1),     # closed
        (1, "A2", t1, None),  # new version
        (2, "B", t0, None),   # unchanged despite update
        (3, "C", t0, None),   # untouched
        (9, "NEW", t1, None), # inserted
    }
    # second batch applies on top of the produced history
    upd2 = spark.createDataFrame(
        [(1, "A3", t2)], "k long, attr string, eff_date timestamp"
    )
    h2 = io.scd2_apply(h1, upd2, "k", ["attr"])
    rows2 = {(r.k, r.attr, r.eff_from, r.eff_to) for r in h2.collect()}
    assert (1, "A2", t1, t2) in rows2 and (1, "A3", t2, None) in rows2
    assert (1, "A", t0, t1) in rows2  # closed history passes through
    # exactly one open row per key
    open_per_key = {
        r.k: r.n
        for r in h2.filter(F.col("eff_to").isNull()).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(open_per_key.values()) == {1}


def test_scd2_null_safe_attribute_comparison(spark):
    from datetime import datetime

    t0, t1 = datetime(2020, 1, 1), datetime(2021, 1, 1)
    cur = spark.createDataFrame(
        [(1, None, t0, None), (2, "X", t0, None)],
        "k long, attr string, eff_from timestamp, eff_to timestamp",
    )
    upd = spark.createDataFrame(
        [(1, "set", t1), (2, None, t1)],
        "k long, attr string, eff_date timestamp",
    )
    out = {(r.k, r.attr, r.eff_to) for r in io.scd2_apply(cur, upd, "k", ["attr"]).collect()}
    # NULL -> value and value -> NULL both count as changes
    assert (1, None, t1) in out and (1, "set", None) in out
    assert (2, "X", t1) in out and (2, None, None) in out


@pytest.mark.slow
def test_atomic_parquet_batch_writer_appends(spark, tmp_path):
    from bigdata_usaspending_spark.sources.atomic_sink import (
        AtomicParquetSink,
        read_committed,
    )

    spark.dataSource.register(AtomicParquetSink)
    out = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a")], "k long, v string").write.format(
        "atomic_parquet"
    ).option("path", out).mode("append").save()
    spark.createDataFrame([(2, "b")], "k long, v string").write.format(
        "atomic_parquet"
    ).option("path", out).mode("append").save()
    got = {(r.k, r.v) for r in read_committed(spark, out).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_atomic_parquet_arrow_writer_parity_with_row_writer(spark, tmp_path):
    """The default writer is the Arrow-batch path; option rowWriter=true
    selects the Row path. Same data, same commit protocol, identical
    committed contents — including array and timestamp columns."""
    from bigdata_usaspending_spark.sources.atomic_sink import (
        AtomicParquetSink,
        read_committed,
    )

    spark.dataSource.register(AtomicParquetSink)
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "b", [3.0]), (3, None, [])],
        "k long, v string, e array<double>",
    ).withColumn("ts", __import__("pyspark").sql.functions.lit("2024-01-02 03:04:05").cast("timestamp"))

    arrow_out = str(tmp_path / "arrow")
    row_out = str(tmp_path / "rows")
    df.write.format("atomic_parquet").option("path", arrow_out).mode("append").save()
    df.write.format("atomic_parquet").option("path", row_out).option(
        "rowWriter", "true"
    ).mode("append").save()

    got_a = read_committed(spark, arrow_out)
    got_r = read_committed(spark, row_out)
    key = lambda r: r[0]  # noqa: E731
    assert sorted(got_a.collect(), key=key) == sorted(got_r.collect(), key=key)
    assert got_a.schema == got_r.schema
    # append lands as a second committed batch on the arrow path too
    df.limit(1).write.format("atomic_parquet").option("path", arrow_out).mode(
        "append"
    ).save()
    assert read_committed(spark, arrow_out).count() == 4


@pytest.mark.slow
def test_upsert_versions_compaction_cadence(spark, tmp_path):
    """upsert_versions folds maintenance into the upsert: appends below
    the cadence stay merge-on-read; crossing it triggers
    compact_versions (newest-per-key rewrite) with read_latest
    unchanged — the compact_every contract on the PK-upsert sink."""
    path = str(tmp_path / "cadence")
    rows = [
        (1, [("a", 1.0), ("b", 2.0)]),
        (2, [("b", 3.0)]),
        (3, [("c", 4.0), ("a", 5.0)]),
    ]
    for version, data in rows:
        io.upsert_versions(
            spark,
            spark.createDataFrame(
                data, "award_id string, award_amount double"
            ),
            path, version, "award_id", compact_every=2,
        )
        n_versions = (
            spark.read.parquet(path).select(io.VERSION_COL).distinct().count()
        )
        # versions 1-2 accumulate; version 3 crosses the cadence and
        # compacts the table back to one
        assert n_versions == (version if version <= 2 else 1)
    latest = {
        r.award_id: r.award_amount
        for r in io.read_latest(spark, path, "award_id").collect()
    }
    assert latest == {"a": 5.0, "b": 3.0, "c": 4.0}
    assert spark.read.parquet(path).count() == 3


@pytest.mark.slow
def test_hadoop_swap_rewrite_auto_restores_crash_leftover(spark, tmp_path):
    """A crash between hadoop_swap_rewrite's two renames leaves the live
    component missing with the full old copy at {target}__old_*; the
    next entry must rename the leftover BACK before rewriting (round-13
    ADVICE) — otherwise a stream folding compaction into foreachBatch
    fails on every subsequent batch with a missing-component read error
    and recovery is a manual hdfs -mv."""
    target = str(tmp_path / "comp.parquet")
    spark.range(10).write.parquet(target)

    # simulate the crash window: live renamed aside, replacement never
    # renamed in; plus an orphaned pre-swap staging copy, aged past the
    # sweep threshold (fresh ones are protected — see below)
    os.rename(target, f"{target}__old_deadbeef")
    spark.range(3).write.parquet(f"{target}__compact_feedface")
    stale = time.time() - (io._COMPACT_ORPHAN_AGE_MS / 1000 + 60)
    os.utime(f"{target}__compact_feedface", (stale, stale))
    assert not os.path.exists(target)

    def write_tmp(tmp: str) -> None:
        spark.read.parquet(target).write.parquet(tmp)

    io.hadoop_swap_rewrite(spark, target, write_tmp, "test_op")
    assert spark.read.parquet(target).count() == 10
    leftovers = [
        n for n in os.listdir(str(tmp_path))
        if "__old_" in n or "__compact_" in n
    ]
    assert leftovers == [], leftovers

    # a FRESH __compact_* dir may be a CONCURRENT swap's in-flight
    # staging copy — the entry sweep must leave it alone (round-14
    # ADVICE: the unconditional sweep destroyed it mid-write)
    spark.range(4).write.parquet(f"{target}__compact_inflight0")
    io.hadoop_swap_rewrite(spark, target, write_tmp, "test_op")
    assert spark.read.parquet(target).count() == 10
    assert os.path.exists(f"{target}__compact_inflight0")
    shutil.rmtree(f"{target}__compact_inflight0")

    # completed-swap stale leftovers (crash after rename-in, before the
    # delete) are swept without touching the live component
    spark.range(5).write.parquet(f"{target}__old_cafe0000")
    io.hadoop_swap_rewrite(spark, target, write_tmp, "test_op")
    assert spark.read.parquet(target).count() == 10
    assert not os.path.exists(f"{target}__old_cafe0000")


# ---------------------------------------------------------------------------
# Round-16 driver-side model I/O (read_model_rows / write_model_parquet):
# the pyarrow fast path must be indistinguishable from the Spark path —
# same rows, same schema, same layout — in BOTH directions.
# ---------------------------------------------------------------------------

_MODEL_SCHEMA = "cell int, centroid array<double>, tag string"
_MODEL_ROWS = [
    (0, [0.25, -1.5], "a"),
    (1, [float("nan"), 2.0], None),
    (2, [], "c"),
    (3, None, "d"),
]


def _norm(rows):
    out = []
    for r in sorted(rows, key=lambda r: r[0]):
        vec = None if r[1] is None else [repr(float(x)) for x in r[1]]
        out.append((r[0], vec, r[2]))
    return out


def test_read_model_rows_matches_spark_collect(spark, tmp_path):
    p = f"{tmp_path}/spark_written.parquet"
    io.local_frame(spark, _MODEL_ROWS, _MODEL_SCHEMA).write.parquet(p)
    via_spark = spark.read.parquet(p).collect()
    rows, schema = io.read_model_rows(spark, p, "cell", 100)
    assert _norm(rows) == _norm(via_spark)
    assert schema.simpleString() == spark.read.parquet(p).schema.simpleString()
    # name access parity with collected Rows
    assert sorted(r["cell"] for r in rows) == [0, 1, 2, 3]
    # cap guard still enforced on the driver-side path
    import pytest

    with pytest.raises(ValueError, match="max_cells"):
        io.read_model_rows(spark, p, "cell", 2)


def test_write_model_parquet_matches_spark_write(spark, tmp_path):
    p_spark = f"{tmp_path}/via_spark.parquet"
    p_arrow = f"{tmp_path}/via_arrow.parquet"
    io.local_frame(spark, _MODEL_ROWS, _MODEL_SCHEMA).write.parquet(p_spark)
    io.write_model_parquet(spark, _MODEL_ROWS, _MODEL_SCHEMA, p_arrow)
    a = spark.read.parquet(p_spark)
    b = spark.read.parquet(p_arrow)
    assert a.schema.simpleString() == b.schema.simpleString()
    assert _norm(a.collect()) == _norm(b.collect())
    # layout parity: directory with a part file + _SUCCESS marker, and the
    # FS stats helpers count it like a Spark-written component
    assert os.path.exists(f"{p_arrow}/_SUCCESS")
    n_files, n_bytes = io.hadoop_data_file_stats(spark, p_arrow)
    assert n_files == 1 and n_bytes > 0
    # overwrite replaces, append adds a file
    io.write_model_parquet(spark, _MODEL_ROWS[:1], _MODEL_SCHEMA, p_arrow)
    assert spark.read.parquet(p_arrow).count() == 1
    io.write_model_parquet(
        spark, _MODEL_ROWS[1:2], _MODEL_SCHEMA, p_arrow, mode="append"
    )
    assert spark.read.parquet(p_arrow).count() == 2


def test_model_counts_match_spark_counts(spark, tmp_path):
    p = f"{tmp_path}/counted.parquet"
    io.local_frame(spark, _MODEL_ROWS, _MODEL_SCHEMA).write.parquet(p)
    io.write_model_parquet(
        spark, _MODEL_ROWS[:2], _MODEL_SCHEMA, p, mode="append"
    )
    assert io.model_row_count(spark, p) == spark.read.parquet(p).count() == 6
    assert (
        io.model_distinct_count(spark, p)
        == spark.read.parquet(p).distinct().count()
    )


def test_local_frame_carries_named_rows(spark):
    lf = io.local_frame(spark, _MODEL_ROWS, _MODEL_SCHEMA)
    rows = io.local_rows_of(lf)
    assert rows is not None and rows[0]["tag"] == "a"
    # transformations do not inherit the attribute (stale-row hazard)
    assert io.local_rows_of(lf.select("cell")) is None
    # the frame itself still matches its rows
    assert _norm(lf.collect()) == _norm(_MODEL_ROWS)


def test_model_distinct_count_scalar_fast_path(spark, tmp_path):
    # scalar (tombstone-shaped) component: the driver-side set matches
    # Spark's distinct().count() including cross-file duplicates
    p = f"{tmp_path}/tomb.parquet"
    io.write_model_parquet(spark, [(1,), (2,), (2,)], "_id long", p)
    io.write_model_parquet(spark, [(2,), (3,)], "_id long", p, mode="append")
    assert (
        io.model_distinct_count(spark, p)
        == spark.read.parquet(p).distinct().count()
        == 3
    )


def test_model_io_falls_back_to_spark_on_arrow_unsupported_layout(
    spark, tmp_path, monkeypatch
):
    """The driver-side pyarrow paths fall back to Spark on the failures
    arrow can raise — here an unsigned column that Spark's arrow type
    mapping refuses (Spark reads it as bigint) and an array column the
    driver-side distinct cannot hash — and let any other error through."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = f"{tmp_path}/unsigned.parquet"
    os.makedirs(p)
    pq.write_table(
        pa.table({"x": pa.array([3, 1, 2], pa.uint32())}), f"{p}/part-0.parquet"
    )
    rows, schema = io.read_model_rows(spark, p, "row", 10)
    assert sorted(r["x"] for r in rows) == [1, 2, 3]
    assert schema.simpleString() == spark.read.parquet(p).schema.simpleString()

    arrays = f"{tmp_path}/arrays.parquet"
    io.local_frame(
        spark, [([1, 2],), ([1, 2],), ([3],)], "v array<int>"
    ).write.parquet(arrays)
    assert io.model_distinct_count(spark, arrays) == 2

    def broken(local):
        raise RuntimeError("not a fast-path failure")

    monkeypatch.setattr(io, "_arrow_table_files", broken)
    with pytest.raises(RuntimeError, match="not a fast-path failure"):
        io.model_row_count(spark, p)


class _SeamlessJdf:
    """A JVM DataFrame handle whose private ``queryExecution`` seam fails
    the way a Spark without it would (``error``); every other call is
    delegated, so the public ``df.rdd`` / ``repartition`` paths still
    work."""

    def __init__(self, jdf, error):
        self._jdf, self._error = jdf, error

    def queryExecution(self):
        raise self._error

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def _without_seam(df, error):
    df._jdf = _SeamlessJdf(df._jdf, error)
    return df


def test_num_partitions_falls_back_to_public_rdd_for_both_callers(spark):
    """io.num_partitions answers through df.rdd when the private seam is
    missing (Py4JError / AttributeError), for both of its callers:
    dedup._ensure_parallelism still spreads a one-partition frame and the
    sketch tree merge still sizes its levels. Any other error from the
    seam propagates."""
    import pandas as pd
    from py4j.protocol import Py4JError

    from bigdata_usaspending_spark.operators.dedup import _ensure_parallelism
    from bigdata_usaspending_spark.operators.sketches import (
        _tree_merge_partials,
    )

    target = spark.sparkContext.defaultParallelism
    for error in (Py4JError("queryExecution does not exist"), AttributeError("_jdf")):
        one = _without_seam(spark.range(0, 40, numPartitions=1), error)
        assert io.num_partitions(one) == 1
        spread = _ensure_parallelism(one)
        assert spread.rdd.getNumPartitions() == max(target, 1)
        assert sorted(r.id for r in spread.collect()) == list(range(40))

    def merge(batches):
        total = sum(int(pdf["n"].sum()) for pdf in batches)
        yield pd.DataFrame({"n": [total]})

    partials = _without_seam(
        spark.range(0, 12, numPartitions=12).selectExpr("1 AS n"),
        Py4JError("queryExecution does not exist"),
    )
    rows = _tree_merge_partials(partials, merge, "n long", fanin=3)
    assert len(rows) <= 3 and sum(r.n for r in rows) == 12

    broken = _without_seam(spark.range(3), RuntimeError("not a seam failure"))
    with pytest.raises(RuntimeError, match="not a seam failure"):
        io.num_partitions(broken)


def test_local_frame_named_rows_only_for_positional_rows(spark, monkeypatch):
    """local_frame attaches driver rows for tuple/Row input, skips other
    row shapes (a dict row used to be attached as its key names), and no
    longer swallows an unrelated failure."""
    scalars = io.local_frame(spark, [1, 2], "int")
    assert io.local_rows_of(scalars) is None
    assert [r.value for r in scalars.collect()] == [1, 2]
    dicts = io.local_frame(spark, [{"a": 1}], "a int")
    assert io.local_rows_of(dicts) is None
    assert dicts.collect()[0].a == 1

    def broken(rows, names):
        raise RuntimeError("not a row-shape failure")

    monkeypatch.setattr(io, "_as_named_rows", broken)
    with pytest.raises(RuntimeError, match="not a row-shape failure"):
        io.local_frame(spark, [(1,)], "a int")


def test_apply_runtime_confs_swallows_only_refused_keys(spark):
    """A key the session refuses to modify raises AnalysisException and is
    skipped; any other failure from conf.set propagates."""
    from pyspark.errors import AnalysisException

    from bigdata_usaspending_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    # what a real session raises for a key it will not modify at runtime
    with pytest.raises(AnalysisException):
        spark.conf.set("spark.sql.warehouse.dir", "/elsewhere")

    class _Conf:
        def __init__(self, error):
            self.error, self.seen = error, []

        def set(self, key, value):
            self.seen.append(key)
            if len(self.seen) == 1:
                raise self.error

    class _Session:
        def __init__(self, error):
            self.conf = _Conf(error)

    refused = _Session(AnalysisException("CANNOT_MODIFY_CONFIG"))
    assert apply_runtime_confs(refused) is refused
    assert refused.conf.seen == list(RUNTIME_CONFS)
    with pytest.raises(RuntimeError, match="unrelated"):
        apply_runtime_confs(_Session(RuntimeError("unrelated")))


def test_events_load_leaves_the_session_zone_alone(spark, sf_small):
    """``catalog.load`` only reads: loading ``events`` keeps the caller's
    session zone (the confs are applied at the session boundary) and
    still yields a session-zone TIMESTAMP ``ts``."""
    from pyspark.sql import types as T

    from bigdata_usaspending_spark.catalog import load

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        ev = load(spark, sf_small, "events")
        assert spark.conf.get(key) == "America/Los_Angeles"
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    finally:
        spark.conf.set(key, old)
