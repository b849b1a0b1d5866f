"""Structured Streaming tests: each streaming job's availableNow run over a
file source must agree with its batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_usaspending_spark.catalog import load
from bigdata_usaspending_spark.streaming import jobs


@pytest.fixture(scope="module")
def events_dir(spark, sf_small, tmp_path_factory):
    # materialize events as a micro-batched landing dir (4 files)
    path = str(tmp_path_factory.mktemp("landing") / "events")
    load(spark, sf_small, "events").repartition(4).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def events_schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def test_stream_windowed_rollup_matches_batch(spark, events_dir, events_schema):
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.run_to_memory(
        jobs.stream_windowed_rollup(stream), "win_rollup", output_mode="complete"
    )
    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in spark.table("win_rollup").collect()
    }
    batch = spark.read.parquet(events_dir)
    expected = {
        r.day: (r.n, r.t)
        for r in batch.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("t"),
        )
        .collect()
    }
    assert got == expected
    q.stop()


def test_stream_keyed_rollup_matches_batch(spark, events_dir, events_schema):
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.run_to_memory(
        jobs.stream_keyed_rollup(stream, "event_type"), "key_rollup",
        output_mode="complete",
    )
    got = {
        r.event_type: r.total_award_amount for r in spark.table("key_rollup").collect()
    }
    batch = spark.read.parquet(events_dir)
    expected = {
        r.event_type: r.t
        for r in batch.groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("t"))
        .collect()
    }
    assert got == expected
    q.stop()


@pytest.mark.slow
def test_stream_exact_dedup(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "hello world"),
            (2, "2024-01-01 00:01:00", "hello  WORLD"),   # normalized dup
            (3, "2024-01-01 00:02:00", "something else"),
        ],
        "doc_id long, ts_str string, text string",
    ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_exact_dedup(stream, "ts"), "dedup_stream", output_mode="append"
    )
    kept = sorted(r.doc_id for r in spark.table("dedup_stream").collect())
    assert len(kept) == 2 and 3 in kept  # one of the dups survived, 3 kept
    q.stop()


@pytest.mark.slow
def test_stream_sessionize(spark, tmp_path):
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),  # session A
        (1, "2024-01-01 12:00:00"),                              # session B (gap > 30m)
        (2, "2024-01-01 10:05:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_str string").withColumn(
        "ts", F.to_timestamp("ts_str")
    ).drop("ts_str")
    path = str(tmp_path / "sess")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_sessionize(stream), "sessions", output_mode="complete"
    )
    got = sorted(
        (r.user_id, r.n_events) for r in spark.table("sessions").collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]
    q.stop()


def test_stream_running_topk_matches_batch(spark, events_dir, events_schema):
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.run_to_memory(
        jobs.stream_running_topk(stream, k=3), "running_topk", output_mode="update"
    )
    # in update mode the memory sink accumulates every emission; the final
    # state per key is the last emission — compare against batch top-3
    emitted = spark.table("running_topk").collect()
    assert emitted
    batch = spark.read.parquet(events_dir)
    for etype in [r.event_type for r in batch.select("event_type").distinct().collect()]:
        expect = [
            r.value
            for r in batch.filter(F.col("event_type") == etype)
            .orderBy(F.desc("value"))
            .limit(3)
            .collect()
        ]
        got = sorted(
            {r.value for r in emitted if r.event_type == etype}, reverse=True
        )[:3]
        assert got == expect, etype
    q.stop()


def test_stream_near_dedup_simhash(spark, tmp_path):
    import pandas as pd

    # two exact-text duplicates, one reworded doc, one distinct doc
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05",
                 "2024-01-01 10:10", "2024-01-01 10:15"]
            ),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",   # sketch collision
                "a completely different document about spark engines",
                "another unrelated text with other words entirely",
            ],
        }
    )
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_near_dedup_simhash(stream, "ts"), "near_dedup",
        output_mode="append",
    )
    kept = sorted(r.doc_id for r in spark.table("near_dedup").collect())
    # exactly ONE of the colliding-sketch pair survives (which one is
    # arbitrary within a micro-batch — the contract is one-per-sketch,
    # not first-by-timestamp); the distinct docs always survive
    assert len(kept) == 3 and {3, 4} <= set(kept)
    assert len({1, 2} & set(kept)) == 1
    q.stop()


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    import pandas as pd

    from bigdata_usaspending_spark.operators.dedup import decontaminate

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "training corpora must not include benchmark questions",
                "a completely clean document about spark engines",
                "the quick brown fox appears here too",          # shares 3-gram with bench
                "short doc",                                      # < n tokens: survives
                "benchmark questions leak into training sets sometimes",
            ],
        }
    )
    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "the quick brown fox ran away",
                    "do training sets include benchmark questions today",
                ]
            }
        )
    )
    # two parquet files -> two micro-batches with maxFilesPerTrigger=1
    path = str(tmp_path / "docs")
    spark.createDataFrame(docs.iloc[:3]).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(docs.iloc[3:]).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    sink = str(tmp_path / "clean")
    q = jobs.stream_decontaminate(
        stream, bench, sink, checkpoint=str(tmp_path / "ckpt")
    )
    q.stop()
    got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    expected = sorted(
        r.doc_id
        for r in decontaminate(spark.createDataFrame(docs), bench, "doc_id").collect()
    )
    assert got == expected  # exact agreement with the batch operator
    assert got == [3, 5, 6]  # contaminated 1,2,4 dropped; short doc 5 survives
    # replaying a batch is idempotent: rerun batch 0's content as batch 0
    batch0 = spark.read.parquet(path).filter(F.col("doc_id") <= 3)
    jobs.decontaminate_batch(batch0, bench, sink, 0, "doc_id")
    assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == expected


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, events_dir, events_schema):
    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("right_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        return purchases, views

    sp, sv = split(jobs.read_events_stream(spark, events_dir, events_schema))
    # inner join: pairs emit as soon as both sides arrive (outer results
    # would additionally wait out the watermark, which an availableNow test
    # run never advances past for the newest events)
    q = jobs.run_to_memory(
        jobs.stream_stream_interval_join(
            sp, sv, "user_id", "view_user", lookback="1 hour", how="inner"
        ),
        "ss_join",
        output_mode="append",
    )
    got = {
        (r.event_id, r.view_event_id) for r in spark.table("ss_join").collect()
    }
    bp, bv = split(spark.read.parquet(events_dir))
    expected = {
        (r.event_id, r.view_event_id)
        for r in bp.join(
            bv,
            on=(
                (bp.user_id == bv.view_user)
                & (bv.right_ts <= bp.ts)
                & (bv.right_ts >= bp.ts - F.expr("INTERVAL 1 hour"))
            ),
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected
    q.stop()


def test_stream_incremental_rollup_matches_batch(spark, events_dir, events_schema, tmp_path):
    from bigdata_usaspending_spark.plans.rollups import rollup_view

    state = str(tmp_path / "rollup_state")
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.stream_incremental_rollup(
        stream, state, "event_type", checkpoint=str(tmp_path / "ckpt")
    )
    from bigdata_usaspending_spark.io import read_versioned_state

    got = {
        r.event_type: (r.total_award_amount, r.n_awards)
        for r in rollup_view(read_versioned_state(spark, state)).collect()
    }
    batch = spark.read.parquet(events_dir)
    expected = {
        r.event_type: (r.t, r.n)
        for r in batch.groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2)
            .cast("double")
            .alias("t"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == expected  # exact across however many micro-batches ran
    q.stop()


def test_stream_enriched_rollup_matches_batch(spark, events_dir, events_schema):
    # static dim: user_id -> segment (odd/even)
    dim = spark.range(0, 50).selectExpr(
        "id AS u_id", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS segment"
    )
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.run_to_memory(
        jobs.stream_enriched_rollup(stream, dim, "user_id", "u_id", "segment"),
        "enriched", output_mode="complete",
    )
    got = {
        r.segment: (r.n_events, r.total_value)
        for r in spark.table("enriched").collect()
    }
    batch = spark.read.parquet(events_dir).join(dim, F.col("user_id") == F.col("u_id"))
    expected = {
        r.segment: (r.n, r.t)
        for r in batch.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("t"),
        )
        .collect()
    }
    assert got == expected
    q.stop()


@pytest.mark.slow
def test_stream_near_dedup_minhash_lsh(spark, tmp_path):
    import pandas as pd

    from bigdata_usaspending_spark.operators import dedup

    texts = {
        1: "the quick brown fox jumps over the lazy dog near the quiet river bank today",
        2: "the quick brown fox jumps over the lazy dog near the quiet river bank today",
        3: "the quick brown fox jumps over the lazy dog near the quiet river bank now",
        4: "a completely different document describing spark structured streaming engines",
        99: "late sentinel document that advances the watermark far past earlier windows",
    }
    rows = pd.DataFrame(
        {
            "doc_id": list(texts),
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05", "2024-01-01 10:06",
                 "2024-01-01 10:07", "2024-01-01 13:00"]
            ),
            "text": list(texts.values()),
        }
    )
    # self-check the fixture: 3 is a true near-dup of 1 (the LSH candidate
    # tier must catch it), 4 collides with nothing
    batch = spark.createDataFrame(rows[["doc_id", "text"]])
    pairs = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in dedup.minhash_lsh_pairs(batch, "doc_id", threshold=0.0).collect()
    }
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)

    path = str(tmp_path / "docs")
    spark.createDataFrame(rows).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_near_dedup_minhash_lsh(stream, "ts"), "lsh_dedup",
        output_mode="append",
    )
    kept = sorted(r.doc_id for r in spark.table("lsh_dedup").collect())
    q.stop()
    # the windowed min-id pre-aggregation makes same-window winners
    # DETERMINISTIC: the {1,2,3} collision cluster keeps exactly its min-id
    # member (doc 1) — previously arrival order could let 1 and 3 each lose
    # a different shared band and suppress the whole cluster. Doc 4 collides
    # with nothing and survives; the sentinel's window never finalizes.
    assert kept == [1, 4]


def test_rocksdb_state_backend_runs_stateful_query(spark, events_dir, events_schema):
    """The RocksDB state backend (streaming.state) must actually drive a
    stateful aggregation end-to-end — provider class resolution, rocksdbjni
    loading, changelog checkpointing conf — and produce the same result as
    the default HDFS backend."""
    from bigdata_usaspending_spark.streaming import state

    confs = state.rocksdb_state_confs(bounded_memory_mb=256)
    assert confs["spark.sql.streaming.stateStore.providerClass"] == state.ROCKSDB_PROVIDER
    assert confs["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] == "256"

    state.enable_rocksdb_state(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == state.ROCKSDB_PROVIDER
        )
        stream = jobs.read_events_stream(spark, events_dir, events_schema)
        q = jobs.run_to_memory(
            jobs.stream_keyed_rollup(stream, "event_type"), "rocksdb_rollup",
            output_mode="complete",
        )
        got = {
            r.event_type: r.total_award_amount
            for r in spark.table("rocksdb_rollup").collect()
        }
        q.stop()
    finally:
        state.disable_rocksdb_state(spark)

    batch = spark.read.parquet(events_dir)
    expected = {
        r.event_type: r.t
        for r in batch.groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("t"))
        .collect()
    }
    assert got == expected


def test_stream_heavy_hitters_superset_and_undercount(spark, events_dir, events_schema):
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    k = 4
    q = jobs.run_to_memory(
        jobs.stream_heavy_hitters(stream, "event_type", k=k, num_shards=4),
        "hh_stream",
        output_mode="update",
    )
    emitted = spark.table("hh_stream").collect()
    assert emitted
    # final state per shard = the last emission batch for that shard; the
    # memory sink accumulates, so keep the last mg_count seen per value
    final: dict[str, float] = {}
    for r in emitted:
        final[r.value] = r.mg_count
    batch = spark.read.parquet(events_dir)
    exact = {
        r.event_type: r.n
        for r in batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(exact.values())
    # guarantee: every item with count*k > total must survive as a candidate
    for v, n in exact.items():
        if n * k > total:
            assert v in final, f"true heavy hitter {v} missing from MG state"
    # residuals are lower bounds (undercounts), never overcounts
    for v, mg in final.items():
        assert mg <= exact[v] + 1e-9
    q.stop()


def test_usaspending_stream_reader_incremental_pages(spark, tmp_path):
    import json as _json

    from bigdata_usaspending_spark.sources.datasource import UsaspendingDataSource

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()

    def write_page(p, ids, has_next):
        rows = [
            {
                "Award ID": f"AW-{i}",
                "Recipient Name": "R",
                "Start Date": "2024-01-01",
                "End Date": "2024-06-30",
                "Award Amount": "10",
                "Awarding Agency": "A",
                "Awarding Sub Agency": "S",
                "Contract Award Type": "A",
                "Funding Agency": "F",
                "Funding Sub Agency": "FS",
                "Description": "d",
                "Last Modified Date": "2024-07-01",
                "Base Obligation Date": "2024-01-01",
            }
            for i in ids
        ]
        (pages_dir / f"page_{p}.json").write_text(
            _json.dumps({"results": rows, "page_metadata": {"hasNext": has_next}})
        )

    write_page(1, range(0, 3), True)
    write_page(2, range(3, 5), False)
    spark.dataSource.register(UsaspendingDataSource)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("usaspending")
            .option("start_date", "2024-01-01")
            .option("end_date", "2024-12-31")
            .option("transport", "file")
            .option("path", str(pages_dir))
            .load()
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r.award_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {f"AW-{i}" for i in range(5)}
    # new page published later: a restarted query resumes from the
    # checkpointed page offset and ingests ONLY the new rows
    write_page(2, range(3, 5), True)  # prior tail now points onward
    write_page(3, range(5, 9), False)
    run_once()
    got2 = sorted(r.award_id for r in spark.read.parquet(out_dir).collect())
    assert got2 == sorted(f"AW-{i}" for i in range(9))  # no re-ingest of 0-4


def test_stream_scd2_evolves_history_exactly_once(spark, tmp_path):
    from datetime import datetime

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "scd2_state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, attr string, eff_date timestamp"
    t1, t2 = datetime(2021, 1, 1), datetime(2022, 1, 1)
    spark.createDataFrame(
        [(1, "A", t1), (2, "B", t1)], schema
    ).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        jobs.stream_scd2(stream, state, "k", ["attr"], checkpoint=ckpt)

    run()
    from bigdata_usaspending_spark.io import read_versioned_state

    h1 = {(r.k, r.attr, r.eff_to) for r in read_versioned_state(spark, state).collect()}
    assert h1 == {(1, "A", None), (2, "B", None)}
    # second batch: key 1 changes, key 2 repeats unchanged, key 3 is new;
    # two updates for key 1 in ONE batch -> only the latest (struct-max) wins
    spark.createDataFrame(
        [(1, "A1", t2), (1, "A2", t2), (2, "B", t2), (3, "C", t2)], schema
    ).write.mode("append").parquet(landing)
    run()
    h2 = {(r.k, r.attr, r.eff_from, r.eff_to) for r in read_versioned_state(spark, state).collect()}
    assert h2 == {
        (1, "A", t1, t2),
        (1, "A2", t2, None),  # struct-max picked A2 over A1
        (2, "B", t1, None),   # unchanged: no new version
        (3, "C", t2, None),
    }
    # replaying with a fresh checkpoint but stale batch ids must not
    # double-apply: same landing data, new checkpoint -> batch_id restarts
    # at 0 which is <= committed 1 -> skipped
    jobs.scd2_merge_batch(
        spark.read.schema(schema).parquet(landing), state, "k", ["attr"],
        batch_id=1,
    ) is False
    h3 = {(r.k, r.attr, r.eff_from, r.eff_to) for r in read_versioned_state(spark, state).collect()}
    assert h3 == h2


def test_stream_windowed_heavy_hitters_per_window_guarantee(
    spark, events_dir, events_schema
):
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    k = 8  # the fixture's event types are near-uniform (~5 types): any
    # type above total/8 qualifies, so the guarantee path actually fires
    q = jobs.run_to_memory(
        jobs.stream_windowed_heavy_hitters(
            stream, "event_type", window="30 days", k=k, num_shards=2
        ),
        "hh_win",
        output_mode="update",
    )
    emitted = spark.table("hh_win").collect()
    assert emitted
    final: dict[tuple, float] = {}
    for r in emitted:
        final[(r.window_start, r.value)] = r.mg_count
    batch = spark.read.parquet(events_dir)
    exact = {
        (r.w, r.event_type): r.n
        for r in batch.select(
            F.window(F.col("ts"), "30 days").start.alias("w"), "event_type"
        )
        .groupBy("w", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict = {}
    for (w, _), n in exact.items():
        totals[w] = totals.get(w, 0) + n
    hit_windows = 0
    for (w, v), n in exact.items():
        if n * k > totals[w]:
            assert (w, v) in final, f"window {w} heavy hitter {v} missing"
            hit_windows += 1
    assert hit_windows > 0  # the fixture must actually exercise the path
    for (w, v), mg in final.items():
        assert mg <= exact[(w, v)] + 1e-9
    q.stop()


def test_atomic_parquet_sink_exactly_once_and_replay(spark, tmp_path):
    from bigdata_usaspending_spark.sources.atomic_sink import (
        AtomicParquetSink,
        AtomicParquetStreamWriter,
        read_committed,
    )
    from pyspark.sql import types as T

    spark.dataSource.register(AtomicParquetSink)
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.mode(
        "append"
    ).parquet(landing)

    def run():
        q = (
            spark.readStream.schema(schema)
            .parquet(landing)
            .writeStream.format("atomic_parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = {(r.k, r.v) for r in read_committed(spark, out).collect()}
    assert got == {(1, "a"), (2, "b")}
    # second batch appends atomically
    spark.createDataFrame([(3, "c")], schema).write.mode("append").parquet(landing)
    run()
    got2 = {(r.k, r.v) for r in read_committed(spark, out).collect()}
    assert got2 == {(1, "a"), (2, "b"), (3, "c")}
    # simulate an at-least-once REPLAY of batch 0: driver commit path with a
    # stale batch id must discard its staging output and change nothing
    st = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    w = AtomicParquetStreamWriter(out, st)
    msg = w.write(iter(spark.createDataFrame([(1, "a")], schema).collect()))
    w.commit([msg], 0)
    got3 = {(r.k, r.v) for r in read_committed(spark, out).collect()}
    assert got3 == got2  # no duplicates
    import os as _os
    assert not _os.listdir(_os.path.join(out, "_staging"))
    # abort leaves no trace
    msg2 = w.write(iter(spark.createDataFrame([(9, "z")], schema).collect()))
    w.abort([msg2], 99)
    assert not _os.listdir(_os.path.join(out, "_staging"))
    assert {(r.k, r.v) for r in read_committed(spark, out).collect()} == got2


def test_stream_quantile_monitor_agrees_with_batch(spark, events_dir, events_schema):
    """t-digest state across micro-batches: last emission per key estimates
    the same quantiles as a batch digest over the full history, and both
    land within 2% of the exact percentiles."""
    stream = jobs.read_events_stream(spark, events_dir, events_schema)
    q = jobs.run_to_memory(
        jobs.stream_quantile_monitor(stream, qs=(0.5, 0.95)),
        "quantile_monitor",
        output_mode="update",
    )
    emitted = spark.table("quantile_monitor").collect()
    q.stop()
    assert emitted
    batch = spark.read.parquet(events_dir)
    # keep only each key's final emission (largest n_seen)
    final = {}
    for r in emitted:
        if r.event_type not in final or r.n_seen > final[r.event_type].n_seen:
            final[r.event_type] = r
    for etype, r in final.items():
        rows = batch.filter(F.col("event_type") == etype).select("value")
        n = rows.count()
        assert r.n_seen == n
        # t-digest guarantees small RANK error (k1 cluster q-width ~ 1/delta
        # at the tails), so assert each estimate falls inside the exact
        # [q-0.02, q+0.02] quantile band — relative-value tolerances are
        # meaningless for small per-key groups (n~200 here).
        for q, est in ((0.5, r.p50), (0.95, r.p95)):
            band = rows.agg(
                F.percentile(
                    F.col("value").cast("double"),
                    F.array(F.lit(max(q - 0.02, 0.0)), F.lit(min(q + 0.02, 1.0))),
                ).alias("b")
            ).collect()[0]["b"]
            assert band[0] - 1e-9 <= est <= band[1] + 1e-9, (etype, q)


def test_stream_sessionize_timers_plan_construction(spark, tmp_path):
    """Plan construction and output schema need neither RocksDB nor
    protobuf — assert them unconditionally."""
    import pandas as pd

    path = str(tmp_path / "ev")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1],
                "ts": pd.to_datetime(["2024-01-01 12:00"]),
                "value": [1.0],
            }
        )
    )
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = jobs.stream_sessionize_timers(stream, gap_minutes=30)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "session_start_us", "session_end_us", "n_events",
        "total_value",
    ]


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state-server protocol needs protobuf, "
    "not installed in this offline container",
)
def test_stream_sessionize_timers_closes_on_watermark(spark, tmp_path):
    """transformWithState timer path: sessions emit when the WATERMARK
    passes last_event + gap — with no further input for the key — and
    still-open sessions emit nothing."""
    import time as _time

    import pandas as pd

    path = str(tmp_path / "ev")
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 12:00", "2024-01-01 12:10", "2024-01-01 12:05"]
            ),
            "value": [1.0, 2.0, 5.0],
        }
    )
    # batch 2 arrives 2h later: watermark (14:00 - 10min) clears every
    # 30-min gap timer from batch 1; user 3's own session stays open
    b2 = pd.DataFrame(
        {
            "user_id": [3],
            "ts": pd.to_datetime(["2024-01-01 14:00"]),
            "value": [7.0],
        }
    )
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)  # file-source ordering is mtime-based
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    # transformWithState runs only on the RocksDB state backend
    from bigdata_usaspending_spark.streaming.state import enable_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    enable_rocksdb_state(spark)
    try:
        q = jobs.run_to_memory(
            jobs.stream_sessionize_timers(stream, gap_minutes=30),
            "tws_sessions",
            output_mode="append",
        )
        rows = {r.user_id: r for r in spark.table("tws_sessions").collect()}
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert set(rows) == {1, 2}, "open session (user 3) must not emit"
    u1 = rows[1]
    assert u1.n_events == 2 and u1.total_value == 3.0
    assert u1.session_start_us == int(
        pd.Timestamp("2024-01-01 12:00").value // 1_000
    )
    assert u1.session_end_us == int(
        pd.Timestamp("2024-01-01 12:10").value // 1_000
    )
    u2 = rows[2]
    assert u2.n_events == 1 and u2.total_value == 5.0


def test_session_walk_gap_semantics():
    """The timer sessionizer's fold: in-batch gap splits, exclusive-end
    gap boundary, state merge across batches — agreeing with the
    stream_sessionize / q_session_window session definition."""
    from bigdata_usaspending_spark.streaming.jobs import _session_walk

    M = 60_000_000  # one minute in micros
    gap = 30 * M
    # events at 0, 10, 45 (gap after 10+30=40 -> 45 starts new), 200
    us = [0 * M, 10 * M, 45 * M, 200 * M]
    vv = [1.0, 2.0, 4.0, 8.0]
    closed, cur = _session_walk(us, vv, gap, [])
    assert closed == [[0, 10 * M, 2, 3.0], [45 * M, 45 * M, 1, 4.0]]
    assert cur == [200 * M, 200 * M, 1, 8.0]
    # exclusive end: an event at EXACTLY last + gap starts a new session
    closed, cur = _session_walk([230 * M], [16.0], gap, cur)
    assert closed == [[200 * M, 200 * M, 1, 8.0]]
    assert cur == [230 * M, 230 * M, 1, 16.0]
    # within the gap: merges into the open session instead
    closed, cur = _session_walk([231 * M], [1.0], gap, cur)
    assert closed == [] and cur == [230 * M, 231 * M, 2, 17.0]


def test_stream_text_scorer_seam(spark, tmp_path):
    """apply_text_scorer is a stateless mapInPandas pass, so the SAME
    scorer (and the same model seam) runs unchanged inside Structured
    Streaming — the per-microbatch scoring stage of a streaming corpus
    ingest. Votes must match the batch path doc-for-doc."""
    from bigdata_usaspending_spark.operators.scorers import (
        HeuristicLangIdScorer,
        apply_text_scorer,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "der Hund und die Katze"),
            (3, "zz qq xx"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        apply_text_scorer(stream, HeuristicLangIdScorer()),
        "scored_stream",
        output_mode="append",
    )
    got = {r.doc_id: r.lang_pred for r in spark.table("scored_stream").collect()}
    want = {
        r.doc_id: r.lang_pred
        for r in apply_text_scorer(docs, HeuristicLangIdScorer()).collect()
    }
    assert got == want == {1: "en", 2: "de", 3: "und"}
    q.stop()


@pytest.mark.slow
def test_stream_cms_monitor_never_undercounts(spark, tmp_path):
    """The streaming CMS's final estimate per token must never undercount
    the token's full stream history (hard CMS guarantee, preserved across
    micro-batches by the persisted counter-matrix state) and must respect
    the e/width overcount bound per shard."""
    import numpy as np

    path = str(tmp_path / "toks")
    # two files -> availableNow can split them into separate micro-batches,
    # exercising the cross-batch state accumulation
    spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 10 + [("c",)] * 5, "token string"
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [("a",)] * 20 + [("b",)] * 10 + [("d",)] * 3, "token string"
    ).coalesce(1).write.mode("append").parquet(path)

    stream = spark.readStream.schema("token string").parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_cms_monitor(stream, width=1 << 10, depth=4, num_shards=4),
        "cms_stream",
        output_mode="update",
    )
    # memory sink accumulates; the LAST emission per token is the running
    # estimate after all batches
    final = {}
    for r in spark.table("cms_stream").collect():
        final[r.token] = r.est_count
    exact = {"a": 50, "b": 20, "c": 5, "d": 3}
    assert set(final) == set(exact)
    total = sum(exact.values())
    bound = int(np.ceil(np.e / (1 << 10) * total))
    for t, n in exact.items():
        assert final[t] >= n, f"CMS undercounted {t}: {final[t]} < {n}"
        assert final[t] <= n + bound
    q.stop()


def test_stream_cms_monitor_null_tokens_and_shard_independence(spark, tmp_path):
    """Null tokens are excluded (they carry no frequency and broke the
    per-batch sort), and the shard hash is independent of the CMS row-0
    hash, so shard membership must not constrain h1 mod num_shards."""
    path = str(tmp_path / "toks2")
    spark.createDataFrame(
        [("a",), (None,), ("b",), ("a",), (None,)], "token string"
    ).coalesce(1).write.parquet(path)
    stream = spark.readStream.schema("token string").parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_cms_monitor(stream, width=1 << 8, depth=3, num_shards=4),
        "cms_stream2",
        output_mode="update",
    )
    got = {r.token: r.est_count for r in spark.table("cms_stream2").collect()}
    assert None not in got
    assert got["a"] >= 2 and got["b"] >= 1
    q.stop()


@pytest.mark.slow
def test_stream_cms_monitor_agrees_with_batch_build(spark, tmp_path):
    """Batch-agreement twin (the contract every other streaming job pins):
    the streaming monitor's FINAL estimate per token must be BIT-EQUAL to a
    batch operators/sketches.cms_build over the same token multiset
    restricted to that token's shard — same CountMinSketch kernel, same
    JVM-side xxhash64 pair, disjoint shards, so the matrices must match
    counter-for-counter. Run at a width num_shards divides (4 | 256), the
    adversarial multiple the independent shard hash exists for. Estimates
    only grow across micro-batches, so the final value is the per-token max
    over the update-mode emissions."""
    import numpy as np

    from pyspark.sql import functions as F

    from bigdata_usaspending_spark.operators import sketches

    width, depth, num_shards = 1 << 8, 3, 4
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(60)]
    toks1 = [(vocab[i],) for i in rng.integers(0, 60, size=400)]
    toks2 = [(vocab[i],) for i in rng.integers(0, 60, size=300)]
    path = str(tmp_path / "toks3")
    spark.createDataFrame(toks1, "token string").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(toks2, "token string").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = spark.readStream.schema("token string").parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_cms_monitor(
            stream, width=width, depth=depth, num_shards=num_shards
        ),
        "cms_stream3",
        output_mode="update",
    )
    streamed: dict = {}
    for r in spark.table("cms_stream3").collect():
        streamed[r.token] = max(streamed.get(r.token, 0), r.est_count)
    q.stop()

    batch = spark.read.parquet(path)
    sharded = batch.withColumn(
        "_shard",
        F.pmod(F.xxhash64(F.col("token"), F.lit(2)), F.lit(num_shards)).cast(
            "int"
        ),
    )
    expected: dict = {}
    for s in range(num_shards):
        shard_df = sharded.filter(F.col("_shard") == s).select("token")
        toks = [r.token for r in shard_df.distinct().collect()]
        if not toks:
            continue
        sk = sketches.cms_build(shard_df, "token", width=width, depth=depth)
        h1, h2 = sketches._hash_cols("token")
        hpdf = (
            spark.createDataFrame([(t,) for t in toks], "token string")
            .select(F.col("token"), h1.alias("h1"), h2.alias("h2"))
            .toPandas()
        )
        est = sk.estimate(
            hpdf["h1"].to_numpy(dtype=np.int64),
            hpdf["h2"].to_numpy(dtype=np.int64),
        )
        for t, e in zip(hpdf["token"], est):
            expected[t] = int(e)

    assert set(streamed) == set(expected)
    for t in expected:
        assert streamed[t] == expected[t], (
            f"stream/batch CMS disagree on {t}: {streamed[t]} != {expected[t]}"
        )


@pytest.mark.slow
def test_stream_bm25_score_matches_batch_hits(spark, tmp_path):
    """The streaming BM25 hit stage must emit exactly the batch scoring
    map's rows (same frozen stats -> bit-identical scores): a stateless
    pure map, so append mode needs no watermark or state."""
    from bigdata_usaspending_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "spark engine spark row"),
            (2, "row scan filter row"),
            (3, "spark scan"),
            (4, "nothing here"),
        ],
        "doc_id long, text string",
    )
    queries = {"qa": ["spark", "engine"], "qb": ["scan", "filter"]}
    stats = tx.bm25_corpus_stats(docs, ["engine", "filter", "scan", "spark"])
    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_bm25_score(stream, queries, stats),
        "bm25_stream",
        output_mode="append",
    )
    got = {
        (r.query_id, r.doc_id): r.bm25
        for r in spark.table("bm25_stream").collect()
    }
    want = {
        (r.query_id, r.doc_id): r.bm25
        for r in tx.bm25_score_hits(docs, queries, stats).collect()
    }
    assert got == want and len(want) > 0
    q.stop()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty reference corpus"):
        jobs.stream_bm25_score(stream, queries, {"n": 0, "sdl": 0, "df": {}})


@pytest.mark.slow
def test_stream_trained_langid_via_model_artifact(spark, tmp_path):
    """The trained trigram LID rides the scorer seam on a STREAM through
    its JSON model artifact, bit-identical to the batch path — the same
    production shape as the LM scorer (fit offline, persist, load
    executor-side per task, score micro-batches statelessly)."""
    from bigdata_usaspending_spark.operators.scorers import (
        TrigramLangIdScorer,
        apply_text_scorer,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "der schnelle braune fuchs springt", "de"),
            (3, "le renard brun rapide saute", "fr"),
            (4, "another english sentence here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    model_path = str(tmp_path / "lid.json")
    TrigramLangIdScorer.from_corpus(docs).save(model_path)
    scorer = TrigramLangIdScorer(model_path=model_path)

    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        apply_text_scorer(stream, scorer).select(
            "doc_id", "lang_model", "lp_model"
        ),
        "lid_stream",
        output_mode="append",
    )
    got = {
        r.doc_id: (r.lang_model, r.lp_model)
        for r in spark.table("lid_stream").collect()
    }
    want = {
        r.doc_id: (r.lang_model, r.lp_model)
        for r in apply_text_scorer(
            docs, TrigramLangIdScorer(model_path=model_path)
        ).select("doc_id", "lang_model", "lp_model").collect()
    }
    assert got == want and len(got) == 4
    assert got[1][0] == "en" and got[2][0] == "de" and got[3][0] == "fr"
    q.stop()


def test_stream_lm_scorer_via_model_artifact(spark, tmp_path):
    """The bigram LM rides the scorer seam on a STREAM through its JSON
    model artifact — the production shape: fit offline, persist, load
    executor-side per task, score micro-batches statelessly. Scores must
    match the batch path bit-for-bit."""
    from bigdata_usaspending_spark.operators.scorers import (
        BigramLMScorer,
        apply_text_scorer,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c a"), (3, "c a b"), (4, "a b")],
        "doc_id long, text string",
    )
    model_path = str(tmp_path / "lm.json")
    BigramLMScorer.from_corpus(docs).save(model_path)
    scorer = BigramLMScorer(model_path=model_path)

    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        apply_text_scorer(stream, scorer).select(
            "doc_id", "log10_prob", "perplexity"
        ),
        "lm_stream",
        output_mode="append",
    )
    got = {
        r.doc_id: (r.log10_prob, r.perplexity)
        for r in spark.table("lm_stream").collect()
    }
    want = {
        r.doc_id: (r.log10_prob, r.perplexity)
        for r in apply_text_scorer(
            docs, BigramLMScorer(model_path=model_path)
        ).select("doc_id", "log10_prob", "perplexity").collect()
    }
    assert got == want and len(got) == 4
    q.stop()


@pytest.mark.slow
def test_stream_url_dedup(spark, tmp_path):
    """Streaming URL tier: canonical-URL dup dropped within the watermark,
    distinct URLs kept, null-URL rows pass through; agrees with the batch
    tier's survivor set on the same rows."""
    docs = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "HTTP://A.Example:80/p?utm_source=x"),
            (2, "2024-01-01 00:01:00", "http://a.example/p"),      # canon dup
            (3, "2024-01-01 00:02:00", "https://a.example/p"),     # distinct
            (4, "2024-01-01 00:03:00", None),                      # null passes
        ],
        "doc_id long, ts_str string, target_uri string",
    ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    q = jobs.run_to_memory(
        jobs.stream_url_dedup(stream, "ts"), "url_dedup_stream",
        output_mode="append",
    )
    kept = sorted(r.doc_id for r in spark.table("url_dedup_stream").collect())
    assert len(kept) == 3 and {3, 4} <= set(kept)
    assert 1 in kept or 2 in kept  # exactly one of the canonical dups

    # batch-twin agreement on the survivor COUNT and the guaranteed rows
    from bigdata_usaspending_spark.sources.warc import url_dedup

    batch_kept = sorted(r.doc_id for r in url_dedup(docs).collect())
    assert len(batch_kept) == len(kept) and {3, 4} <= set(batch_kept)
    q.stop()


def _warc_record(rid: str, uri: str, body: bytes, date: str) -> bytes:
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: <" + rid.encode() + b">",
        b"WARC-Date: " + date.encode(),
        b"WARC-Target-URI: " + uri.encode(),
        b"Content-Length: " + str(len(body)).encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _rid_with_hash(prefix: str, lo: int, hi: int) -> str:
    """A record id whose warc_responses_to_documents doc_id (sha256 head,
    63-bit) lands in [lo, hi) — lets the fixture pin arrival order ==
    doc_id order, so the stream's first-seen-wins dedup and the batch
    twin's min-id dedup keep the SAME survivors (the agreement the test
    is entitled to assert; see stream_build_corpus's ordering note)."""
    import hashlib

    for i in range(100_000):
        rid = f"{prefix}-{i}"
        key = f"<{rid}>"
        h = int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big") >> 1
        if lo <= h < hi:
            return rid
    raise AssertionError("no rid found in hash range")


@pytest.mark.slow
def test_stream_build_corpus_matches_batch(spark, tmp_path):
    """Incremental == recompute, bit-for-bit: streaming the fixture WARC
    documents in two micro-batch runs (restart between them) produces the
    SAME packed corpus — positions, seq_id/seq_offset tiling across the
    batch boundary — as ONE corpus_append_batch over the union; replays
    never double-append; gate/URL/exact tiers drop the right rows."""
    from bigdata_usaspending_spark.io import read_versioned_state
    from bigdata_usaspending_spark.sources import warc as W

    half = 1 << 61
    body_dup = b"HTTP/1.1 200 OK\r\n\r\nthe shared body is the same in both crawls with many tokens"
    # file 1: small-hash ids; file 2: large-hash ids -> arrival order
    # == doc_id order across the whole fixture
    f1 = [
        _warc_record(_rid_with_hash("a1", 0, half), "http://s.example/p1",
                     b"HTTP/1.1 200 OK\r\n\r\nthe first page has a body with plenty of english tokens in it",
                     "2024-01-01T00:00:00Z"),
        _warc_record(_rid_with_hash("a2", 0, half), "HTTP://Dup.Example:80/x?utm_source=f",
                     b"HTTP/1.1 200 OK\r\n\r\nthe canonical url of this page is the one to dedup on",
                     "2024-01-01T00:00:01Z"),
        _warc_record(_rid_with_hash("a3", 0, half), "http://s.example/p2",
                     body_dup, "2024-01-01T00:00:02.500Z"),
        # junk: fails the token-count gate
        _warc_record(_rid_with_hash("a4", 0, half), "http://s.example/junk",
                     b"HTTP/1.1 200 OK\r\n\r\n!!!", "2024-01-01T00:00:03Z"),
        # junk CLAIMING a URL: the claim must persist (URL-claim ledger)
        # even though the gate drops the document — the batch pipeline's
        # URL-before-gate ordering
        _warc_record(_rid_with_hash("a5", 0, half), "http://claim.example/x",
                     b"HTTP/1.1 200 OK\r\n\r\n???", "2024-01-01T00:00:04Z"),
    ]
    f2 = [
        # URL dup of a2 (different record): dropped by the URL tier
        _warc_record(_rid_with_hash("b1", half, 2 * half), "http://dup.example/x",
                     b"HTTP/1.1 200 OK\r\n\r\nthe second crawl refetched the page and got a new body",
                     "2024-01-02T00:00:00Z"),
        # text dup of a3 (different URL): dropped by the exact tier
        _warc_record(_rid_with_hash("b2", half, 2 * half), "http://t.example/q1",
                     body_dup, "2024-01-02T00:00:01Z"),
        _warc_record(_rid_with_hash("b3", half, 2 * half), "http://t.example/q2",
                     b"HTTP/1.1 200 OK\r\n\r\nthe final page of the fixture is new and must be kept",
                     "2024-01-02T00:00:02Z"),
        # GOOD-text re-fetch of the junk claimant's URL: must be dropped
        # by the URL tier in both the stream and the one-append twin
        # (the gated-out a5 already consumed http://claim.example/x)
        _warc_record(_rid_with_hash("b4", half, 2 * half), "http://Claim.Example:80/x",
                     b"HTTP/1.1 200 OK\r\n\r\nthe refetch of the claimed page has perfectly good text now",
                     "2024-01-02T00:00:03Z"),
    ]
    wdir1, wdir2 = tmp_path / "w1", tmp_path / "w2"
    wdir1.mkdir(); wdir2.mkdir()
    (wdir1 / "c1.warc").write_bytes(b"".join(f1))
    (wdir2 / "c2.warc").write_bytes(b"".join(f2))
    docs1 = W.warc_responses_to_documents(W.read_warc(spark, str(wdir1)))
    docs2 = W.warc_responses_to_documents(W.read_warc(spark, str(wdir2)))
    assert docs1.agg(F.max("doc_id")).first()[0] < docs2.agg(
        F.min("doc_id")
    ).first()[0]

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "corpus_state")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(min_tokens=8, block_size=16, scrub_pii=False,
              url_col="target_uri")
    docs1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    stream = spark.readStream.schema(schema).parquet(landing)
    jobs.stream_build_corpus(stream, state, checkpoint=ckpt, **kw).stop()
    state1 = read_versioned_state(spark, state)
    n_after_b1 = state1.filter(F.col("position").isNotNull()).count()
    docs2.coalesce(1).write.mode("append").parquet(landing)
    stream2 = spark.readStream.schema(schema).parquet(landing)
    jobs.stream_build_corpus(stream2, state, checkpoint=ckpt, **kw).stop()
    state_full = read_versioned_state(spark, state)
    got = state_full.filter(F.col("position").isNotNull())

    # batch twin: ONE append over the union into fresh state — the FULL
    # state (packed corpus + URL-claim ledger) must agree row-for-row
    state_b = str(tmp_path / "corpus_state_batch")
    assert jobs.corpus_append_batch(
        docs1.unionByName(docs2), state_b, 0, **kw
    )
    want_full = read_versioned_state(spark, state_b)
    from collections import Counter
    key = ["position", "doc_id", "n_tokens", "seq_id", "seq_offset",
           "canonical_url", "source", "text"]
    assert Counter(map(tuple, state_full.select(*key).collect())) == Counter(
        map(tuple, want_full.select(*key).collect())
    )

    # the right rows survived: junk gated, URL dup, text dup, AND the
    # good-text refetch of the gated claimant's URL all dropped
    assert got.count() == 4 and n_after_b1 == 3
    # the ledger carries every URL claimant that did not get packed: the
    # two gated junk claimants (a4, a5) plus the fingerprint-dropped b2
    # (its URL was still consumed), and nothing else
    ledger = state_full.filter(F.col("position").isNull())
    assert ledger.count() == 3
    assert "http://claim.example/x" in {
        r.canonical_url for r in ledger.collect()
    }
    # sequence coordinates tile across the batch boundary
    rows = sorted(got.select("position", "n_tokens", "seq_id",
                             "seq_offset").collect())
    running = 0
    for pos, (p, n, sid, soff) in enumerate(rows):
        assert p == pos
        assert sid == running // 16 and soff == running % 16
        running += n

    # replay safety: re-running the SAME batch_id is a no-op
    assert not jobs.corpus_append_batch(docs1, state_b, 0, **kw)
    assert read_versioned_state(spark, state_b).filter(
        F.col("position").isNotNull()
    ).count() == 4

    # per-sequence manifest over the committed state: bit-equal to the
    # batch sequence_manifest over the one-shot append of the same
    # concatenated input (the incremental pack keeps tiling, so the
    # reader-side view agrees too)
    from bigdata_usaspending_spark.plans.build_corpus import (
        sequence_manifest,
    )

    got_manifest = jobs.corpus_manifest_from_state(spark, state).collect()
    want_manifest = sequence_manifest(
        want_full.filter(F.col("position").isNotNull())
    ).collect()
    key_m = lambda r: (  # noqa: E731
        r.seq_id,
        tuple((d.doc_id, d.seq_offset, d.n_tokens) for d in r.docs),
        r.n_docs, r.n_tokens, r.starts_mid_document,
    )
    assert sorted(map(key_m, got_manifest)) == sorted(
        map(key_m, want_manifest)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed corpus state"):
        jobs.corpus_manifest_from_state(spark, str(tmp_path / "nowhere"))


@pytest.mark.slow
def test_stream_semantic_dedup_matches_batch(spark, tmp_path):
    """Streaming SemDeDup tier: two micro-batch runs (restart between)
    leave the SAME state as one append over the union — INCLUDING the
    transitive chain A~B~C where only B~C crosses the threshold (the
    pairwise contract: dropped B must still suppress later C, so the
    ledger keeps dropped rows); replays never double-append."""
    import math

    from bigdata_usaspending_spark.io import read_versioned_state

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell int, centroid array<double>",
    )
    s25, c25 = math.sin(math.radians(25)), math.cos(math.radians(25))
    s40, c40 = math.sin(math.radians(40)), math.cos(math.radians(40))
    b1 = spark.createDataFrame(
        [
            (1, [0.9, 0.1, 0.0]),    # cell 0 survivor
            (2, [0.95, 0.05, 0.0]),  # cell 0, dup of 1 in-batch -> drops
            (3, [0.0, 1.0, 0.0]),    # cell 1 survivor
            (4, [0.0, 0.0, 1.0]),    # cell 2 survivor (0 deg)
            (5, [0.0, s25, c25]),    # cell 2, cos(4,5)=cos25 -> drops
        ],
        "vec_id long, embedding array<float>",
    )
    b2 = spark.createDataFrame(
        [
            (11, [0.92, 0.08, 0.0]),  # cell 0, dup of COMMITTED 1 -> drops
            # cell 2 at 40 deg: cos vs survivor 4 = cos40 < 0.9, but cos vs
            # DROPPED 5 = cos15 >= 0.9 -> must drop (transitive chain)
            (12, [0.0, s40, c40]),
        ],
        "vec_id long, embedding array<float>",
    )
    landing = str(tmp_path / "vecs")
    state = str(tmp_path / "sem_state")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_semantic_dedup(
        spark.readStream.schema(schema).parquet(landing), state, centroids,
        threshold=0.9, checkpoint=ckpt,
    ).stop()
    b2.coalesce(1).write.mode("append").parquet(landing)
    jobs.stream_semantic_dedup(
        spark.readStream.schema(schema).parquet(landing), state, centroids,
        threshold=0.9, checkpoint=ckpt,
    ).stop()
    ledger = read_versioned_state(spark, state)
    got = {
        (r.vec_id, r.cell)
        for r in ledger.filter(F.col("survivor")).collect()
    }
    assert got == {(1, 0), (3, 1), (4, 2)}
    assert ledger.count() == 7  # every processed row, survivor-flagged

    # batch twin: one append over the union (ids increase with arrival)
    # must produce the IDENTICAL flagged ledger
    state_b = str(tmp_path / "sem_state_batch")
    assert jobs.semantic_dedup_append_batch(
        b1.unionByName(b2), state_b, centroids, 0, threshold=0.9
    )
    want_ledger = read_versioned_state(spark, state_b)
    key = ["vec_id", "cell", "survivor"]
    assert sorted(map(tuple, ledger.select(*key).collect())) == sorted(
        map(tuple, want_ledger.select(*key).collect())
    )
    # replay: same batch_id is a no-op
    assert not jobs.semantic_dedup_append_batch(
        b1, state_b, centroids, 0, threshold=0.9
    )
    assert read_versioned_state(spark, state_b).count() == 7


@pytest.mark.slow
def test_stateful_stream_requires_checkpoint_once_committed(spark, tmp_path):
    """A fresh query without a checkpoint restarts batch_id at 0, and the
    exactly-once replay guard would silently discard every new batch as a
    replay — the stateful stream jobs must raise up front instead."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and then "
              "it runs away into the quiet green forest with the wind")],
        "doc_id long, text string",
    )
    state = str(tmp_path / "st")
    assert jobs.corpus_append_batch(docs, state, 0, min_tokens=2)
    landing = str(tmp_path / "landing")
    docs.write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    stream = spark.readStream.schema(schema).parquet(landing)
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_build_corpus(stream, state, min_tokens=2)

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell int, centroid array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    vstate = str(tmp_path / "vst")
    assert jobs.semantic_dedup_append_batch(vecs, vstate, centroids, 0)
    vlanding = str(tmp_path / "vlanding")
    vecs.write.parquet(vlanding)
    vschema = spark.read.parquet(vlanding).schema
    vstream = spark.readStream.schema(vschema).parquet(vlanding)
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_semantic_dedup(vstream, vstate, centroids)

    # no state committed yet -> checkpoint optional (first run is safe)
    fresh = str(tmp_path / "fresh_state")
    jobs.stream_build_corpus(stream, fresh, min_tokens=2).stop()
    from bigdata_usaspending_spark.io import read_versioned_state

    assert read_versioned_state(spark, fresh).filter(
        F.col("position").isNotNull()
    ).count() == 1

    # every manifest-guarded stateful job raises, not just the r12 pair
    events = spark.createDataFrame(
        [(1, "a", 10.0)], "event_id long, event_type string, value double"
    )
    rstate = str(tmp_path / "rollup_state")
    assert jobs.merge_rollup_batch(events, rstate, "event_type", "value", 0)
    elanding = str(tmp_path / "elanding")
    events.write.parquet(elanding)
    eschema = spark.read.parquet(elanding).schema
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_incremental_rollup(
            spark.readStream.schema(eschema).parquet(elanding),
            rstate, "event_type",
        )
    upd = spark.createDataFrame(
        [(1, "x", "2024-01-01")], "k long, attr string, eff_date string"
    )
    sstate = str(tmp_path / "scd2_state")
    assert jobs.scd2_merge_batch(upd, sstate, "k", ["attr"], batch_id=0)
    ulanding = str(tmp_path / "ulanding")
    upd.write.parquet(ulanding)
    uschema = spark.read.parquet(ulanding).schema
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_scd2(
            spark.readStream.schema(uschema).parquet(ulanding),
            sstate, "k", ["attr"],
        )


@pytest.mark.slow
def test_stream_ann_search_matches_batch_probe(spark, sf_small, tmp_path):
    """Streaming vector search over a persisted index: every query's hits
    are bit-identical to the single-query batch probe (ivf_pq_index_topk
    for the PQ layout, ivf_index_topk for plain IVF), ranks are 1..k, and
    the per-trigger query cap raises instead of collecting unbounded."""
    import pytest

    from bigdata_usaspending_spark.catalog import load
    from bigdata_usaspending_spark.operators import similarity
    from bigdata_usaspending_spark.plans.corpus_ext import _ivf_centroids

    emb = load(spark, sf_small, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    centroids = _ivf_centroids(emb)
    assigned = similarity.ivf_assign(data, centroids)
    resid = similarity.ivf_residuals(assigned, centroids)
    cb = similarity.pq_train_driver(resid, vec_col="residual", m=16, k=8)
    pq_path = str(tmp_path / "pq_idx")
    similarity.ivf_pq_index_write(data, centroids, cb, pq_path)
    ivf_path = str(tmp_path / "ivf_idx")
    similarity.ivf_index_write(data, centroids, ivf_path)

    qrows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in data.filter(F.col("vec_id").isin(2, 7, 11)).collect()
    ]
    landing = str(tmp_path / "queries")
    spark.createDataFrame(
        qrows, "query_id long, embedding array<float>"
    ).coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema

    for path, probe_one, score_col in (
        (
            pq_path,
            lambda v: similarity.ivf_pq_index_topk(
                spark, pq_path, v, k=5, nprobe=4, rerank_factor=8
            ),
            "l2sq",
        ),
        (
            ivf_path,
            lambda v: similarity.ivf_index_topk(
                spark, ivf_path, v, k=5, nprobe=4
            ),
            "cosine",
        ),
    ):
        sink = str(tmp_path / f"hits_{score_col}")
        jobs.stream_ann_search(
            spark.readStream.schema(schema).parquet(landing),
            path, sink, k=5, nprobe=4, rerank_factor=8,
        ).stop()
        got = spark.read.parquet(sink)
        assert set(got.columns) == {
            "query_id", "rank", "vec_id", score_col, "_batch_id"
        }
        for qid, vec in qrows:
            mine = [
                (r.rank, r.vec_id, r[score_col])
                for r in got.filter(F.col("query_id") == qid)
                .orderBy("rank")
                .collect()
            ]
            want = [
                (i + 1, r[0], float(r[1]))
                for i, r in enumerate(probe_one(vec).collect())
            ]
            assert mine == want, (score_col, qid)

    # the serving cap is a hard contract: raise, never unbounded collect
    with pytest.raises(ValueError, match="max_queries_per_batch"):
        jobs.ann_search_batch(
            spark.createDataFrame(
                qrows, "query_id long, embedding array<float>"
            ),
            pq_path, str(tmp_path / "overflow"), 0,
            max_queries_per_batch=2,
        )


@pytest.mark.slow
def test_stream_near_dedup_winnow_matches_batch(spark, tmp_path):
    """Streaming winnow tier: two micro-batch runs (restart between)
    leave the SAME ledger as one whole-input append — INCLUDING the
    transitive chain A~B~C where only consecutive Jaccards cross the
    threshold (dropped B must keep suppressing C, so the ledger keeps
    dropped rows); sub-k docs survive with empty sets; replays no-op;
    the checkpoint guard fires once state exists."""
    import pytest

    from bigdata_usaspending_spark.io import read_versioned_state

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    B = A + " by the wide river today"
    C = B + " while birds sing in the quiet green forest all morning long"
    # preconditions pinned by the operator itself below: jac(A,B) and
    # jac(B,C) >= 0.5 > jac(A,C)
    b1 = spark.createDataFrame(
        [(1, A), (2, B), (3, "an entirely different text about trains "
                             "and long rails going far away tonight")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(11, C),      # drops ONLY via the dropped B (transitive chain)
         (12, "zz"),   # sub-k: empty set, survives
         (13, "an entirely different text about trains and long rails "
              "going far away tonight")],  # dup of committed 3: drops
        "doc_id long, text string",
    )
    from bigdata_usaspending_spark.operators.dedup import winnow_pairs

    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in winnow_pairs(
            b1.unionByName(b2), "doc_id", threshold=0.0, portable=True
        ).collect()
    }
    assert jac[(1, 2)] >= 0.5 and jac[(2, 11)] >= 0.5
    assert jac.get((1, 11), 0.0) < 0.5

    landing = str(tmp_path / "docs")
    state = str(tmp_path / "winnow_state")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    kw = dict(threshold=0.5, portable=True)
    jobs.stream_near_dedup_winnow(
        spark.readStream.schema(schema).parquet(landing), state,
        checkpoint=ckpt, **kw,
    ).stop()
    b2.coalesce(1).write.mode("append").parquet(landing)
    jobs.stream_near_dedup_winnow(
        spark.readStream.schema(schema).parquet(landing), state,
        checkpoint=ckpt, **kw,
    ).stop()
    ledger = read_versioned_state(spark, state)
    got = {(r.doc_id, r.survivor) for r in ledger.collect()}
    assert got == {
        (1, True), (2, False), (3, True),
        (11, False), (12, True), (13, False),
    }

    # batch twin: ONE append over the union must match the full ledger
    state_b = str(tmp_path / "winnow_state_batch")
    assert jobs.winnow_dedup_append_batch(
        b1.unionByName(b2), state_b, 0, **kw
    )
    want = read_versioned_state(spark, state_b)
    key = ["doc_id", "survivor", "fps"]
    assert sorted(
        (r.doc_id, r.survivor, tuple(r.fps)) for r in ledger.collect()
    ) == sorted(
        (r.doc_id, r.survivor, tuple(r.fps)) for r in want.collect()
    )

    # replay no-op + checkpoint guard
    assert not jobs.winnow_dedup_append_batch(b1, state_b, 0, **kw)
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_near_dedup_winnow(
            spark.readStream.schema(schema).parquet(landing), state, **kw
        )


@pytest.mark.slow
def test_stream_span_scrub_winnow_matches_batch(spark, tmp_path):
    """Streaming span scrub: two micro-batch runs (restart between) emit
    scrub outputs bit-equal to ONE whole-input winnow_span_scrub —
    including a batch doc spanned by TWO committed docs (index probe
    union) and one spanned by a committed doc AND a same-batch doc
    (in-batch + index tiers union); sub-k docs pass through whole;
    replays no-op; the checkpoint guard fires once state exists."""
    import pytest

    from bigdata_usaspending_spark.io import read_versioned_state
    from bigdata_usaspending_spark.operators.dedup import winnow_span_scrub

    A = ("the quick brown fox jumps over the lazy dog near the old "
         "stone bridge by the river today")
    T = "fully unrelated text about trains and long rails going far"
    b1 = spark.createDataFrame(
        [(1, A), (2, A + " again"), (3, T)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(11, A + " tomorrow"),   # pairs with committed 1 AND 2
         (12, "zz"),              # sub-k: no spans, passes through whole
         (13, T + " soon"),       # pairs with committed 3
         (14, T + " later")],     # pairs with committed 3 AND in-batch 13
        "doc_id long, text string",
    )
    landing = str(tmp_path / "docs")
    state = str(tmp_path / "scrub_state")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(threshold=0.5, portable=True)
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_span_scrub_winnow(
        spark.readStream.schema(schema).parquet(landing), state,
        checkpoint=ckpt, **kw,
    ).stop()
    b2.coalesce(1).write.mode("append").parquet(landing)
    jobs.stream_span_scrub_winnow(
        spark.readStream.schema(schema).parquet(landing), state,
        checkpoint=ckpt, **kw,
    ).stop()
    ledger = read_versioned_state(spark, state)
    got = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans) for r in ledger.collect()
    }
    want = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in winnow_span_scrub(
            b1.unionByName(b2), "doc_id", **kw
        ).collect()
    }
    assert got == want
    assert got[1][1] == 0 and got[3][1] == 0          # min-id sides intact
    assert got[12] != () and got[12][1] == 0          # sub-k whole
    assert got[11][2] == 2                            # spans from 1 AND 2
    assert got[14][2] == 2                            # committed 3 + in-batch 13
    assert got[2][1] > 0 and got[13][1] > 0

    # batch-append replay no-op + checkpoint guard
    state_b = str(tmp_path / "scrub_state_batch")
    assert jobs.winnow_scrub_append_batch(
        b1.unionByName(b2), state_b, 0, **kw
    )
    assert not jobs.winnow_scrub_append_batch(b1, state_b, 0, **kw)
    one_shot = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in read_versioned_state(spark, state_b).collect()
    }
    assert one_shot == want
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_span_scrub_winnow(
            spark.readStream.schema(schema).parquet(landing), state, **kw
        )


@pytest.mark.slow
def test_stream_decontaminate_spans_matches_batch(spark, tmp_path):
    """Streaming passage-level decontamination: docs streamed against a
    frozen benchmark winnow-pos index emit scrub rows bit-identical to
    the batch winnow_index_scrub over the same input; the overlapping
    doc keeps its distinct tail, clean docs pass whole."""
    from bigdata_usaspending_spark.operators.dedup import (
        winnow_index_scrub,
        winnow_pos_index_write,
    )

    bench_text = ("what is the capital of france answer in one word and "
                  "explain your reasoning step by step please")
    benchmark = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    index = str(tmp_path / "bench_idx")
    winnow_pos_index_write(benchmark, index, portable=True)

    docs = spark.createDataFrame(
        [(1, bench_text + " unrelated training tail keeps going here"),
         (2, "a perfectly clean training document about rivers and stone")],
        "doc_id long, text string",
    )
    landing = str(tmp_path / "docs")
    sink = str(tmp_path / "scrubbed")
    docs.coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_decontaminate_spans(
        spark.readStream.schema(schema).parquet(landing), index, sink,
        threshold=0.3, checkpoint=str(tmp_path / "ckpt"),
    ).stop()
    got = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in winnow_index_scrub(
            spark, index, docs, threshold=0.3
        ).collect()
    }
    assert got == want
    assert got[1][1] > 0 and "unrelated training tail" in got[1][0]
    assert got[2][1] == 0


def test_ann_search_batch_custom_index_columns(spark, tmp_path):
    """The serving job plumbs index_id_col/index_vec_col through: an
    index built with a string id column serves, and the hit column
    carries the index's own name and type."""
    from bigdata_usaspending_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(f"d{i}", [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
         for i in range(12)],
        "doc_key string, emb array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell int, centroid array<double>",
    )
    idx = str(tmp_path / "sidx")
    similarity.ivf_index_write(vecs, cents, idx, id_col="doc_key", vec_col="emb")
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0])], "qid long, qv array<float>"
    )
    sink = str(tmp_path / "hits")
    jobs.ann_search_batch(
        queries, idx, sink, 0, k=2, nprobe=1,
        query_id_col="qid", vec_col="qv",
        index_id_col="doc_key", index_vec_col="emb",
    )
    got = spark.read.parquet(sink).orderBy("rank").collect()
    assert [type(r.doc_key) for r in got] == [str, str]
    assert got[0].qid == 7 and got[0].rank == 1
    assert got[0].doc_key in {"d0", "d3", "d6", "d9"}


@pytest.mark.slow
def test_stream_winnow_drop_evidence_matches_batch_spans(spark, tmp_path):
    """The evidence ledger (VERDICT r12 #3): two micro-batch appends with
    evidence=True must (a) make the SAME drop decisions as the plain
    ledger, and (b) record, per dropped doc, drop-evidence structs
    BIT-EQUAL to a one-shot winnow_match_spans report over the whole
    input — (other_id, jaccard, n_shared, n_anchors, covering span in
    the dropped doc), sorted by other_id. Also: survivors carry NULL
    evidence, and mixing ledger forms on one state path raises."""
    import pytest

    from bigdata_usaspending_spark.io import read_versioned_state
    from bigdata_usaspending_spark.operators.dedup import winnow_match_spans

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    B = A + " by the wide river today"
    C = B + " while birds sing in the quiet green forest all morning long"
    b1 = spark.createDataFrame(
        [(1, A), (2, B), (3, "an entirely different text about trains "
                             "and long rails going far away tonight")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(11, C),      # drops only via the dropped 2 (transitive chain)
         (12, "zz"),   # sub-k: survives, NULL evidence
         (13, "an entirely different text about trains and long rails "
              "going far away tonight")],  # dup of committed 3: drops
        "doc_id long, text string",
    )
    full = b1.unionByName(b2)
    kw = dict(threshold=0.5, portable=True)

    state = str(tmp_path / "ev_state")
    assert jobs.winnow_dedup_append_batch(b1, state, 0, evidence=True, **kw)
    assert jobs.winnow_dedup_append_batch(b2, state, 1, evidence=True, **kw)
    ledger = read_versioned_state(spark, state)
    got = {
        r.doc_id: (
            r.survivor,
            None if r.drop_evidence is None else [
                (e.other_id, e.jaccard, e.n_shared, e.n_anchors,
                 e.start, e.end)
                for e in r.drop_evidence
            ],
        )
        for r in ledger.collect()
    }
    assert {d: s for d, (s, _) in got.items()} == {
        1: True, 2: False, 3: True, 11: False, 12: True, 13: False,
    }
    for d, (s, ev) in got.items():
        assert (ev is None) == s, (d, s, ev)

    # the one-shot batch report: every verified pair of the WHOLE input,
    # grouped per dropped (higher-id) doc, spans on the dropped side
    want: dict = {}
    for r in winnow_match_spans(full, "doc_id", **kw).collect():
        want.setdefault(r.id_b, []).append(
            (r.id_a, r.jaccard, int(r.n_shared), int(r.n_anchors),
             int(r.b_start), int(r.b_end))
        )
    want = {d: sorted(rows) for d, rows in want.items()}
    dropped_ev = {d: ev for d, (s, ev) in got.items() if not s}
    assert dropped_ev == want

    # ledger-form mix guard: a plain append onto the evidence ledger
    # (and vice versa) must refuse, not silently union mixed schemas
    with pytest.raises(ValueError, match="ledger"):
        jobs.winnow_dedup_append_batch(b1, state, 2, evidence=False, **kw)
    state_p = str(tmp_path / "plain_state")
    assert jobs.winnow_dedup_append_batch(b1, state_p, 0, **kw)
    with pytest.raises(ValueError, match="ledger"):
        jobs.winnow_dedup_append_batch(b2, state_p, 1, evidence=True, **kw)


@pytest.mark.slow
def test_stream_ann_index_add_exactly_once_and_compact(spark, tmp_path):
    """Streaming ANN ingestion: two micro-batch runs (restart between)
    leave an index whose probe is BIT-IDENTICAL to batch ivf_pq_index_add
    of the same vectors; replayed batch_ids skip; a crashed batch's
    partial prefix files self-clean on redo (no duplicate vectors);
    compact_every bounds fragmentation with the probe unchanged; the
    checkpoint guard fires once the add manifest exists."""
    import pytest

    from bigdata_usaspending_spark.catalog import load
    from bigdata_usaspending_spark.io import hadoop_data_file_count
    from bigdata_usaspending_spark.operators import similarity
    from bigdata_usaspending_spark.plans.corpus_ext import (
        _ivf_centroids,
        _query_vec_list,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    initial = data.filter(F.col("vec_id") % 3 == 0)
    b1 = data.filter(F.col("vec_id") % 3 == 1).select("vec_id", "embedding")
    b2 = data.filter(F.col("vec_id") % 3 == 2).select("vec_id", "embedding")
    qvec = _query_vec_list(emb)
    centroids = spark.createDataFrame(
        _ivf_centroids(emb).collect(), "cell int, centroid array<double>"
    )
    resid = similarity.ivf_residuals(
        similarity.ivf_assign(initial, centroids), centroids
    )
    cb = similarity.pq_train_driver(resid, vec_col="residual", m=16, k=8)

    streamed = str(tmp_path / "stream_idx")
    batched = str(tmp_path / "batch_idx")
    for p in (streamed, batched):
        similarity.ivf_pq_index_write(
            initial.select("vec_id", "embedding"), centroids, cb, p
        )

    landing = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_ann_index_add(
        spark.readStream.schema(schema).parquet(landing), streamed,
        checkpoint=ckpt,
    ).stop()
    b2.coalesce(1).write.mode("append").parquet(landing)
    jobs.stream_ann_index_add(
        spark.readStream.schema(schema).parquet(landing), streamed,
        checkpoint=ckpt,
    ).stop()

    similarity.ivf_pq_index_add(spark, batched, b1)
    similarity.ivf_pq_index_add(spark, batched, b2)

    def probe(p):
        return [
            (r.vec_id, r.l2sq)
            for r in similarity.ivf_pq_index_topk(
                spark, p, qvec, k=10, nprobe=10, rerank_factor=8
            ).collect()
        ]

    want = probe(batched)
    assert probe(streamed) == want
    n_rows = spark.read.parquet(f"{streamed}/vectors.parquet").count()
    assert n_rows == data.count()

    # replay no-op: batch_id 1 is committed
    assert not similarity.ann_index_add_batch(spark, streamed, b2, 1)
    assert spark.read.parquet(f"{streamed}/vectors.parquet").count() == n_rows

    # crashed-batch self-clean: plant a fake partial file carrying the
    # NEXT batch's prefix, then apply that batch — the redo must remove
    # the leftover, not double-count
    import os

    cells = os.listdir(f"{streamed}/vectors.parquet")
    cell_dir = next(c for c in cells if c.startswith("cell="))
    donor = next(
        f for f in os.listdir(f"{streamed}/vectors.parquet/{cell_dir}")
        if f.endswith(".parquet")
    )
    leftover = f"{streamed}/vectors.parquet/{cell_dir}/b2-crashed.parquet"
    import shutil as _sh

    _sh.copy(
        f"{streamed}/vectors.parquet/{cell_dir}/{donor}", leftover
    )
    b3 = b2.select((F.col("vec_id") + 500_000).alias("vec_id"), "embedding")
    assert similarity.ann_index_add_batch(spark, streamed, b3, 2)
    assert not os.path.exists(leftover)
    assert (
        spark.read.parquet(f"{streamed}/vectors.parquet").count()
        == n_rows + b3.count()
    )

    # compact_every: a fresh stream with compaction folded in — probe
    # unchanged, fragmentation collapsed to ~1 file per populated cell
    compacted = str(tmp_path / "compact_idx")
    similarity.ivf_pq_index_write(
        initial.select("vec_id", "embedding"), centroids, cb, compacted
    )
    landing2 = str(tmp_path / "vecs2")
    ckpt2 = str(tmp_path / "ckpt2")
    b1.coalesce(1).write.mode("append").parquet(landing2)
    b2.coalesce(1).write.mode("append").parquet(landing2)
    jobs.stream_ann_index_add(
        spark.readStream.schema(schema).parquet(landing2), compacted,
        checkpoint=ckpt2, compact_every=1,
    ).stop()
    assert probe(compacted) == want
    rep = similarity.ann_index_stats(spark, compacted)
    assert rep["files_per_populated_cell"] == 1.0

    # checkpoint guard once the manifest exists
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_ann_index_add(
            spark.readStream.schema(schema).parquet(landing), streamed
        )


@pytest.mark.slow
def test_stream_winnow_index_dedup_matches_ledger_job(spark, tmp_path):
    """APPEND-ONLY streaming winnow dedup: two micro-batch runs over a
    persisted positioned index (built from an initial corpus) must make
    the SAME (doc, survivor) decisions as the versioned-ledger job fed
    the same docs — including a cross-batch transitive chain — while the
    index grows by appends (add manifest advancing, fragmentation
    bounded by compact_every); replays skip; the checkpoint guard
    fires."""
    import pytest

    from bigdata_usaspending_spark.io import (
        hadoop_data_file_count,
        hadoop_read_json,
        read_versioned_state,
    )
    from bigdata_usaspending_spark.operators import dedup as dd

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    B = A + " by the wide river today"
    C = B + " while birds sing in the quiet green forest all morning long"
    initial = spark.createDataFrame(
        [(1, A), (2, B), (3, "an entirely different text about trains "
                             "and long rails going far away tonight")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(11, C),
         (13, "an entirely different text about trains and long rails "
              "going far away tonight")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(21, C + " and on"),   # near-dup of streamed (dropped) 11
         (22, "completely fresh content with no overlap whatsoever here")],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.5, portable=True)

    index = str(tmp_path / "widx")
    dd.winnow_pos_index_write(initial, index, portable=True)

    landing = str(tmp_path / "docs")
    sink = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_winnow_index_dedup(
        spark.readStream.schema(schema).parquet(landing), index, sink,
        checkpoint=ckpt, compact_every=1, threshold=0.5,
    ).stop()
    b2.coalesce(1).write.mode("append").parquet(landing)
    jobs.stream_winnow_index_dedup(
        spark.readStream.schema(schema).parquet(landing), index, sink,
        checkpoint=ckpt, compact_every=1, threshold=0.5,
    ).stop()

    got = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(sink).select("doc_id", "survivor").collect()
    }

    # ledger twin over the same feed (initial as its batch 0)
    state = str(tmp_path / "ledger")
    assert jobs.winnow_dedup_append_batch(initial, state, 0, **kw)
    assert jobs.winnow_dedup_append_batch(b1, state, 1, **kw)
    assert jobs.winnow_dedup_append_batch(b2, state, 2, **kw)
    want = {
        (r.doc_id, r.survivor)
        for r in read_versioned_state(spark, state)
        .filter(F.col("doc_id") >= 10)
        .collect()
    }
    assert got == want
    # the transitive chain crossed batches: 11 dropped via committed B,
    # 21 dropped via the DROPPED 11 (its fingerprints were appended)
    assert (11, False) in got and (21, False) in got and (22, True) in got

    # index state: all streamed docs appended, manifest at batch 1,
    # compact_every kept fragmentation at one file
    rep = dd.winnow_index_stats(spark, index)
    assert rep["docs"] == 3 + 4
    assert hadoop_read_json(spark, f"{index}/_ADD_MANIFEST.json") == {
        "batch_id": 1
    }
    assert hadoop_data_file_count(spark, f"{index}/fps.parquet") == 1

    # replay no-op
    assert not jobs.winnow_index_dedup_batch(b2, index, sink, 1)
    assert dd.winnow_index_stats(spark, index)["docs"] == 7

    # checkpoint guard once the add manifest exists
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_winnow_index_dedup(
            spark.readStream.schema(schema).parquet(landing), index, sink
        )


@pytest.mark.slow
def test_stream_winnow_index_dedup_evidence_matches_ledger(spark, tmp_path):
    """evidence=True on the APPEND-ONLY form: sink drop-evidence rows
    must be bit-equal to the evidence LEDGER job's over the same feed —
    the two streaming dedup forms agree on decisions AND on the spans /
    anchor counts justifying them."""
    from bigdata_usaspending_spark.io import read_versioned_state
    from bigdata_usaspending_spark.operators import dedup as dd

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    B = A + " by the wide river today"
    C = B + " while birds sing in the quiet green forest all morning long"
    initial = spark.createDataFrame(
        [(1, A), (2, B)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(11, C), (12, "totally unrelated words about distant sailing "
                       "ships crossing wide oceans tonight")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(21, C + " and on")], "doc_id long, text string",
    )

    index = str(tmp_path / "widx")
    dd.winnow_pos_index_write(initial, index, portable=True)
    sink = str(tmp_path / "flags")
    assert jobs.winnow_index_dedup_batch(
        b1, index, sink, 0, threshold=0.5, evidence=True
    )
    assert jobs.winnow_index_dedup_batch(
        b2, index, sink, 1, threshold=0.5, evidence=True
    )

    def ev_tuple(rows):
        return {
            r.doc_id: (
                r.survivor,
                None if r.drop_evidence is None else [
                    (e.other_id, e.jaccard, e.n_shared, e.n_anchors,
                     e.start, e.end)
                    for e in r.drop_evidence
                ],
            )
            for r in rows
        }

    got = ev_tuple(
        spark.read.parquet(sink)
        .select("doc_id", "survivor", "drop_evidence")
        .collect()
    )

    state = str(tmp_path / "ledger")
    kw = dict(threshold=0.5, portable=True, evidence=True)
    assert jobs.winnow_dedup_append_batch(initial, state, 0, **kw)
    assert jobs.winnow_dedup_append_batch(b1, state, 1, **kw)
    assert jobs.winnow_dedup_append_batch(b2, state, 2, **kw)
    want = ev_tuple(
        read_versioned_state(spark, state)
        .filter(F.col("doc_id") >= 10)
        .select("doc_id", "survivor", "drop_evidence")
        .collect()
    )
    assert got == want
    # the cross-batch transitive drop carries evidence naming the
    # DROPPED streamed doc 11 (its fingerprints were appended)
    assert not got[21][0]
    assert 11 in {e[0] for e in got[21][1]}


@pytest.mark.slow
def test_winnow_index_dedup_batch_crash_replay_decisions(spark, tmp_path):
    """Replay after a crash INSIDE the index append must make the SAME
    decisions as a clean run (round-13 ADVICE, high): the crashed
    attempt left the batch's own partially-committed ``b{batch_id}-``
    fingerprint files inside fps.parquet, and the decision tiers have no
    same-id exclusion — without the pre-read self-clean every batch doc
    self-matches at Jaccard 1.0 and the whole batch is silently marked
    dropped in the sink."""
    import os
    import shutil

    from bigdata_usaspending_spark.operators import dedup as dd

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    initial = spark.createDataFrame(
        [(1, A)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(11, A + " by the wide river today"),   # near-dup of committed 1
         (12, "completely fresh content with no overlap whatsoever in "
              "this sentence about mountain weather patterns")],
        "doc_id long, text string",
    )

    # clean run → the reference decisions
    clean_idx = str(tmp_path / "widx_clean")
    dd.winnow_pos_index_write(initial, clean_idx, portable=True)
    clean_sink = str(tmp_path / "flags_clean")
    assert jobs.winnow_index_dedup_batch(
        batch, clean_idx, clean_sink, 0, threshold=0.5
    )
    want = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(clean_sink)
        .select("doc_id", "survivor")
        .collect()
    }
    assert (12, True) in want, "sanity: the fresh doc survives cleanly"

    # crashed run: plant the batch's OWN fingerprints as a partial
    # b0- prefixed file inside fps.parquet (what a crash between the
    # first staged rename and the manifest write leaves behind)
    idx = str(tmp_path / "widx_crash")
    dd.winnow_pos_index_write(initial, idx, portable=True)
    partial_dir = str(tmp_path / "partial")
    dd.winnow_pos_index(batch, "doc_id", "text", portable=True).coalesce(
        1
    ).write.parquet(partial_dir)
    donor = next(
        f for f in os.listdir(partial_dir) if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(partial_dir, donor),
        os.path.join(idx, "fps.parquet", "b0-crashed.parquet"),
    )

    sink = str(tmp_path / "flags_crash")
    assert jobs.winnow_index_dedup_batch(batch, idx, sink, 0, threshold=0.5)
    got = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(sink)
        .select("doc_id", "survivor")
        .collect()
    }
    assert got == want, (
        "crash replay must self-clean the partial prefix before the "
        "decision tiers read the index"
    )
    # the leftover is gone and the committed index matches the clean one
    files = os.listdir(os.path.join(idx, "fps.parquet"))
    assert not any(f == "b0-crashed.parquet" for f in files)
    assert (
        dd.winnow_index_stats(spark, idx)["docs"]
        == dd.winnow_index_stats(spark, clean_idx)["docs"]
    )

    # same contract on the evidence form (it reads fps.parquet through
    # a different path — _winnow_evidence_per_doc)
    idx2 = str(tmp_path / "widx_crash_ev")
    dd.winnow_pos_index_write(initial, idx2, portable=True)
    shutil.copy(
        os.path.join(partial_dir, donor),
        os.path.join(idx2, "fps.parquet", "b0-crashed.parquet"),
    )
    sink2 = str(tmp_path / "flags_crash_ev")
    assert jobs.winnow_index_dedup_batch(
        batch, idx2, sink2, 0, threshold=0.5, evidence=True
    )
    got_ev = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(sink2)
        .select("doc_id", "survivor")
        .collect()
    }
    assert got_ev == want


@pytest.fixture(scope="module")
def winnow_first_batch(spark, tmp_path_factory):
    """Two winnow batches, and batch 1 committed to each dedup stream's
    state: the plain and the evidence ledger, and a positioned index."""
    from bigdata_usaspending_spark.operators import dedup as dd

    A = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    b1 = spark.createDataFrame(
        [(1, A), (2, "totally unrelated words about distant sailing ships "
                     "crossing wide oceans tonight")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(11, A + " by the river"), (12, A + " by the river today"),
         (13, "fresh mountain weather report with no overlap at all"),
         (14, "short")],
        "doc_id long, text string",
    )
    root = tmp_path_factory.mktemp("winnow_first_batch")
    for evidence in (False, True):
        assert jobs.winnow_dedup_append_batch(
            b1, str(root / f"ledger_{evidence}"), 0,
            threshold=0.5, portable=True, evidence=evidence,
        )
    dd.winnow_pos_index_write(b1, str(root / "widx"), portable=True)
    return b2, root


@pytest.mark.parametrize("evidence", [False, True])
def test_winnow_ledger_and_index_batches_decide_alike(
    spark, tmp_path, winnow_first_batch, evidence
):
    """The two winnow dedup streams share one decision step: called
    directly (no streaming query) on the same second batch over the same
    committed first batch, the ledger job and the append-only index job
    give the same ``(doc_id, survivor)`` rows — a cross-batch near-dup
    (11 of 1), an in-batch one (12 of 11) and two survivors — and, with
    ``evidence``, the same drop-evidence structs."""
    import shutil

    from bigdata_usaspending_spark.io import read_versioned_state

    b2, root = winnow_first_batch
    state, index = str(tmp_path / "ledger"), str(tmp_path / "widx")
    shutil.copytree(root / f"ledger_{evidence}", state)
    shutil.copytree(root / "widx", index)
    cols = ["doc_id", "survivor"] + (["drop_evidence"] if evidence else [])

    assert jobs.winnow_dedup_append_batch(
        b2, state, 1, threshold=0.5, portable=True, evidence=evidence
    )
    ledger = read_versioned_state(spark, state).filter(F.col("doc_id") >= 10)
    want = sorted(tuple(r) for r in ledger.select(cols).collect())

    sink = str(tmp_path / "flags")
    assert jobs.winnow_index_dedup_batch(
        b2, index, sink, 0, threshold=0.5, evidence=evidence
    )
    got = sorted(tuple(r) for r in spark.read.parquet(sink).select(cols).collect())

    assert got == want
    assert [r[:2] for r in got] == [
        (11, False), (12, False), (13, True), (14, True),
    ]
    if evidence:
        assert {e.other_id for e in got[0][2]} == {1}
        assert {e.other_id for e in got[1][2]} == {1, 11}


def test_winnow_index_dedup_batch_refuses_tombstoned_before_sink(spark, tmp_path):
    """The append-only dedup job runs the index's add guards before it
    writes its sink partition: a batch re-adding a tombstoned id raises
    and leaves no ``_batch_id=0`` partition for a batch the index never
    took."""
    import os

    from bigdata_usaspending_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the old "
             "stone bridge"),
         (2, "totally unrelated words about distant sailing ships")],
        "doc_id long, text string",
    )
    index, sink = str(tmp_path / "widx"), str(tmp_path / "flags")
    dd.winnow_pos_index_write(docs, index, portable=True)
    dd.winnow_index_remove(spark, index, [1])
    with pytest.raises(ValueError, match="tombstoned"):
        jobs.winnow_index_dedup_batch(docs.filter("doc_id = 1"), index, sink, 0)
    assert not os.path.exists(os.path.join(sink, "_batch_id=0"))


@pytest.mark.slow
def test_stream_winnow_dedup_remove_interplay(spark, tmp_path):
    """Takedowns flowing through the STREAMING dedup (VERDICT r13 #3+#4
    interplay): a committed doc suppresses its near-dups in early
    batches; after winnow_index_remove it must STOP suppressing later
    batches; the compact_every cadence folds the physical delete into
    the stream (tombstone backlog drains to 0) and keeps fragmentation
    bounded while the sink decisions stay correct."""
    from bigdata_usaspending_spark.operators import dedup as dd

    A = ("the quick brown fox jumps over the lazy dog near the old stone "
         "bridge by the wide river in the morning")
    other = ("fully unrelated committed words about long trains and steel "
             "rails crossing the high desert at night")
    initial = spark.createDataFrame(
        [(1, A), (2, other)], "doc_id long, text string"
    )
    index = str(tmp_path / "widx")
    dd.winnow_pos_index_write(initial, index, portable=True)

    sink = str(tmp_path / "flags")
    b0 = spark.createDataFrame(
        [(10, A + " again")], "doc_id long, text string"
    )
    # batch 0: suppressed by committed 1
    assert jobs.winnow_index_dedup_batch(b0, index, sink, 0, threshold=0.5)
    flags = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(sink).select("doc_id", "survivor").collect()
    }
    assert (10, False) in flags

    # takedown of committed 1 — its content leaves the corpus, so it
    # must stop vetoing re-crawls; 10's fingerprints were NOT appended
    # as a dropped doc? They were (transitive contract) — remove both.
    rep = dd.winnow_index_remove(spark, index, [1, 10])
    assert rep["matched_live"] == 2

    # batch 1: the same content now SURVIVES (nothing suppresses it);
    # cadence (compact_every=2) fires at batch 1 -> physical delete
    b1 = spark.createDataFrame(
        [(20, A + " again")], "doc_id long, text string"
    )
    applied = jobs.winnow_index_dedup_batch(b1, index, sink, 1, threshold=0.5)
    assert applied
    dd.winnow_index_compact(spark, index)  # the cadence step the stream
    # wrapper fires at (batch_id + 1) % compact_every == 0
    flags = {
        (r.doc_id, r.survivor)
        for r in spark.read.parquet(sink).select("doc_id", "survivor").collect()
    }
    assert (20, True) in flags
    st = dd.winnow_index_stats(spark, index)
    assert st["tombstones"] == 0
    assert st["data_files"] == 1  # cadence keeps fragmentation bounded
    # the physical layout holds exactly the live docs: 2 (other) + 20
    ids = {
        r._id for r in spark.read.parquet(f"{index}/fps.parquet").collect()
    }
    assert ids == {2, 20}


@pytest.mark.slow
def test_stream_ann_add_remove_interplay(spark, tmp_path):
    """Takedowns flowing through the STREAMING vector ingestion (the
    vector twin of the winnow interplay test): a remove lands mid-stream
    as a tombstone probes honor immediately; the compact_every cadence
    folds the physical delete into the next trigger (backlog drains to
    0, files per cell back to 1.0); a later batch re-adding the
    tombstoned id fails LOUDLY (the stream errors instead of silently
    losing the re-add)."""
    import pytest

    from bigdata_usaspending_spark.catalog import load
    from bigdata_usaspending_spark.operators import similarity
    from bigdata_usaspending_spark.plans.corpus_ext import (
        _ivf_centroids,
        _query_vec_list,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    initial = data.filter(F.col("vec_id") % 3 == 0)
    b1 = data.filter(F.col("vec_id") % 3 == 1).select("vec_id", "embedding")
    qvec = _query_vec_list(emb)
    centroids = spark.createDataFrame(
        _ivf_centroids(emb).collect(), "cell int, centroid array<double>"
    )
    idx = str(tmp_path / "idx")
    similarity.ivf_index_write(
        initial.select("vec_id", "embedding"), centroids, idx
    )

    # probe the full initial set, pick a victim OUT of its top-5
    full = similarity.ivf_index_topk(spark, idx, qvec, k=5, nprobe=100)
    victim = [r.vec_id for r in full.collect()][0]
    similarity.ann_index_remove(spark, idx, [victim])

    # stream b1 in with compact_every=1: the trigger's cadence compact
    # performs the physical delete for the pending tombstone
    landing = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    jobs.stream_ann_index_add(
        spark.readStream.schema(schema).parquet(landing), idx,
        checkpoint=ckpt, compact_every=1,
    ).stop()

    st = similarity.ann_index_stats(spark, idx)
    assert st["tombstones"] == 0, "cadence compact must drain the backlog"
    assert st["files_per_populated_cell"] == 1.0
    assert (
        spark.read.parquet(f"{idx}/vectors.parquet").count()
        == initial.count() + b1.count() - 1
    )
    hits = {
        r.vec_id
        for r in similarity.ivf_index_topk(
            spark, idx, qvec, k=5, nprobe=100
        ).collect()
    }
    assert victim not in hits

    # a later batch re-adding a STILL-tombstoned id fails the stream
    # loudly instead of silently losing the row under the anti-join
    victim2 = [
        r.vec_id for r in b1.limit(1).collect()
    ][0]
    similarity.ann_index_remove(spark, idx, [victim2])
    b2 = data.filter(F.col("vec_id") == victim2).select(
        "vec_id", "embedding"
    )
    b2.coalesce(1).write.mode("append").parquet(landing)
    with pytest.raises(Exception, match="tombstoned"):
        jobs.stream_ann_index_add(
            spark.readStream.schema(schema).parquet(landing), idx,
            checkpoint=ckpt,
        )


def test_apply_versioned_batch_replay_and_failed_step(spark, tmp_path):
    """The ledger commit protocol: a replayed batch_id runs no step and
    leaves the manifest and version as they were; a step that raises —
    while building the next state or while it is written — leaves the
    previous version committed, and the next batch commits over it."""
    import os

    from bigdata_usaspending_spark import io

    state = str(tmp_path / "st")
    one = spark.range(1).withColumnRenamed("id", "x")
    assert io.apply_versioned_batch(spark, state, 0, lambda cur: one)
    assert io.apply_versioned_batch(
        spark, state, 1, lambda cur: cur.unionByName(one)
    )
    committed = {"version": 1, "batch_id": 1}
    assert io.read_state_manifest(state) == committed

    seen = []
    for replay in (1, 0):
        assert not io.apply_versioned_batch(spark, state, replay, seen.append)
    assert seen == []
    assert io.read_state_manifest(state) == committed

    def fails_to_build(cur):
        raise RuntimeError("step failed")

    with pytest.raises(RuntimeError, match="step failed"):
        io.apply_versioned_batch(spark, state, 2, fails_to_build)
    with pytest.raises(Exception, match="write failed"):
        io.apply_versioned_batch(
            spark, state, 2,
            lambda cur: cur.select(
                F.raise_error(F.lit("write failed")).cast("long").alias("x")
            ),
        )
    assert io.read_state_manifest(state) == committed
    assert io.read_versioned_state(spark, state).count() == 2

    assert io.apply_versioned_batch(
        spark, state, 2, lambda cur: cur.unionByName(one)
    )
    assert io.read_state_manifest(state) == {"version": 2, "batch_id": 2}
    assert io.read_versioned_state(spark, state).count() == 3
    assert sorted(n for n in os.listdir(state) if n.startswith("v=")) == [
        "v=1", "v=2"
    ]


def test_checkpoint_guard_ledger_job(spark, tmp_path):
    """A ledger stream runs without a checkpoint while no state exists;
    once a manifest is committed, a checkpoint-less run raises before
    starting instead of discarding its batches as replays."""
    from bigdata_usaspending_spark.io import read_state_manifest

    events = spark.createDataFrame(
        [(1, "a", 10.0)], "event_id long, event_type string, value double"
    )
    landing = str(tmp_path / "landing")
    events.write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    state = str(tmp_path / "rollup")
    jobs.stream_incremental_rollup(
        spark.readStream.schema(schema).parquet(landing), state, "event_type"
    ).stop()
    assert read_state_manifest(state) == {"version": 0, "batch_id": 0}
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_incremental_rollup(
            spark.readStream.schema(schema).parquet(landing), state, "event_type"
        )
    assert read_state_manifest(state) == {"version": 0, "batch_id": 0}


def test_checkpoint_guard_sink_job(spark, tmp_path):
    """A batch-partition sink job runs without a checkpoint into an empty
    sink; rerun into the now non-empty sink without a checkpoint, its
    batch ids would restart at 0 and overwrite the first run's
    partitions, so it raises before starting and the sink is unchanged."""
    docs = spark.createDataFrame(
        [(1, "a clean document about rivers and stone bridges")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("what is the capital of france",)], "text string"
    )
    landing = str(tmp_path / "landing")
    docs.write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    sink = str(tmp_path / "clean")
    jobs.stream_decontaminate(
        spark.readStream.schema(schema).parquet(landing), bench, sink
    ).stop()
    first = sorted(spark.read.parquet(sink).collect())
    assert [(r.doc_id, r._batch_id) for r in first] == [(1, 0)]
    with pytest.raises(ValueError, match="checkpointLocation"):
        jobs.stream_decontaminate(
            spark.readStream.schema(schema).parquet(landing), bench, sink
        )
    assert sorted(spark.read.parquet(sink).collect()) == first
