"""Fast tests of the benchmark's own pieces (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(SPEC_PATH) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------


def _files(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_star_schema_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_star(a, 7, 500, 50)
    gen.write_star(b, 7, 500, 50)
    gen.write_star(c, 8, 500, 50)
    assert _files(a) == _files(b)
    assert _files(a)["orders.parquet"] != _files(c)["orders.parquet"]


def test_vectors_and_documents_are_a_function_of_the_seed():
    centers = gen.vector_centers()
    v1 = gen.vectors(np.random.default_rng([3, 30]), centers, 20)
    v2 = gen.vectors(np.random.default_rng([3, 30]), centers, 20)
    v3 = gen.vectors(np.random.default_rng([4, 30]), centers, 20)
    assert v1.dtype == np.float32 and v1.shape == (20, gen.VEC_DIM)
    assert np.array_equal(v1, v2) and not np.array_equal(v1, v3)
    maker = gen.DocMaker()
    d1 = maker.docs(np.random.default_rng(3), range(30))
    d2 = maker.docs(np.random.default_rng(3), range(30))
    assert d1 == d2
    assert [d[0] for d in d1] == list(range(30))
    assert {d[2] for d in d1} <= set(gen.LANG_WORDS)


def test_duplicate_injection_keeps_ids_and_reports_origins():
    maker = gen.DocMaker()
    rng = np.random.default_rng(5)
    pool = maker.docs(rng, range(10))
    fresh = maker.docs(rng, range(100, 200))
    rows, origin = gen.with_duplicates(rng, maker, fresh, pool, 0.5)
    assert [r[0] for r in rows] == list(range(100, 200))
    copied = [o for o in origin if o >= 0]
    assert 25 < len(copied) < 75  # about half
    texts = {d[0]: d[1] for d in pool}
    for r, o in zip(rows, origin):
        if o >= 0:
            same = sum(x == y for x, y in zip(r[1].split(), texts[o].split()))
            assert same >= 0.6 * len(texts[o].split())  # exact or near copy


# --------------------------------------------------------------------------
# spans and the event-log parser
# --------------------------------------------------------------------------

CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100,
     "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
     "Properties": {"spark.jobGroup.id": "1", "spark.job.description": "w/op/layer"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Metrics": {"Executor Run Time": 150,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                      "Input Metrics": {"Bytes Read": 500_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Metrics": {"Executor Run Time": 50,
                      "Output Metrics": {"Bytes Written": 1_000}}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1250,
     "Stage Infos": [{"Stage ID": 2}], "Properties": {"spark.jobGroup.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
    # a job outside every span (a correctness check) is not charged
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1600,
     "Stage Infos": [], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1700},
]


def _canned_spans() -> list[spans.Span]:
    # op span [1000, 2000] with one child layer span [1050, 1350]
    return [
        spans.Span(sid=0, parent=None, op=0, cls="read", name="op.q", t0=1000, t1=2000),
        spans.Span(sid=1, parent=0, op=0, cls="read", name="mod.fn", t0=1050, t1=1350),
    ]


def test_event_log_parser_reads_jobs_and_task_accounting():
    log = spans.parse_event_log(json.dumps(e) for e in CANNED_LOG)
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0]["group"] == "1" and log.jobs[0]["desc"] == "w/op/layer"
    assert (log.jobs[0]["start"], log.jobs[0]["end"]) == (1100, 1300)
    assert log.stages[0] == {"task_ms": 150, "tasks": 1, "shuffle": 2_000_000,
                             "input": 500_000, "output": 0}
    assert log.stages[1]["output"] == 1_000


def test_jobs_are_charged_to_their_span_and_its_ancestors():
    ss = _canned_spans()
    spans.attribute(ss, spans.parse_event_log(json.dumps(e) for e in CANNED_LOG))
    op, child = ss
    assert [j[2] for j in child.jobs] == [0]
    assert sorted(j[2] for j in op.jobs) == [0, 1]
    assert child.task_ms == 200 and op.task_ms == 300
    assert child.shuffle_bytes == 2_000_000 and op.input_bytes == 500_000
    # op: 1000 ms wall, jobs cover [1100, 1400] -> 700 ms of driver gap
    assert spans.driver_gap_s(op) == pytest.approx(0.7)
    # child: 300 ms wall, job 0 covers [1100, 1300] -> 100 ms
    assert spans.driver_gap_s(child) == pytest.approx(0.1)
    assert spans.self_s(op, ss) == pytest.approx(0.7)
    assert spans.self_s(child, ss) == pytest.approx(0.3)
    layers = spans.layer_metrics(ss)
    assert layers["mod.fn.jobs"] == 1 and layers["mod.fn.task_s"] == pytest.approx(0.2)
    cls = spans.class_metrics(ss)
    assert cls["read.jobs"] == 2 and cls["read.wall_s"] == pytest.approx(1.0)
    assert cls["read.shuffle_mb"] == pytest.approx(2.0)


def test_event_log_files_are_found_in_both_layouts(tmp_path):
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "local-123").write_text("")
    assert spans.event_log_files(str(plain)) == [str(plain / "local-123")]
    rolling = tmp_path / "rolling" / "eventlog_v2_local-9"
    rolling.mkdir(parents=True)
    for n in (2, 1):
        (rolling / f"events_{n}_local-9").write_text("")
    (rolling / "appstatus_local-9").write_text("")
    got = spans.event_log_files(str(tmp_path / "rolling"))
    assert [os.path.basename(p) for p in got] == ["events_1_local-9", "events_2_local-9"]


def test_union_of_intervals():
    assert spans.union_ms([], 0, 10) == 0
    assert spans.union_ms([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_ms([(-5, 2), (9, 20)], 0, 10) == 3


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(None, "w")
    with t.span("op.x", "read") as s:
        assert s is None
    assert t.spans == [] and not t.enabled


# --------------------------------------------------------------------------
# metrics and the BENCHMARK.json contract
# --------------------------------------------------------------------------


def _sample_run() -> common.Run:
    r = common.Run(setup_s=[2.0, 1.0, 3.0], amp=[2.0, 2.5, 9.0])
    r.ops = [
        common.Op("job", "train", 10.0, True),
        *[common.Op("read", "q", 0.1 * i, True) for i in range(1, 11)],
        common.Op("write", "w", 1.5, True),
        common.Op("read", "q", 99.0, False),  # failed: counted, not timed
    ]
    r.checks = 12
    return r


def test_every_end_to_end_metric_is_emitted_with_its_unit(spec):
    values = run.end_to_end(_sample_run(), session_s=5.0, peak_rss=2**30)
    for m in spec["end_to_end"]:
        assert m["name"] in values and values[m["name"]] > 0
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    assert values["setup_s"] == 7.0
    assert values["read_p50_s"] == pytest.approx(0.55)
    assert values["read_p90_s"] == pytest.approx(0.9)
    assert values["write_amp"] == 2.5
    assert values["peak_rss_mb"] == 1024


def test_every_per_layer_metric_is_emitted_with_its_unit(spec):
    values = spans.class_metrics([])
    for m in spec["per_layer"]:
        assert m["name"] in values
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])


def test_run_counts_failed_operations_and_run_checks():
    r = _sample_run()
    r.check_run(False, "aggregate")
    assert (r.attempted, r.failed) == (14, 2)


def test_benchmark_json_follows_the_contract(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and spec["command"][1] == "perfbench/run.py"
    assert set(run.WORKLOADS) == {w["name"] for w in spec["workloads"]}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    runs = 4 + 22 * len(spec["workloads"])
    assert runs * (spec["run_seconds"] + 35) < 3420  # budget, with set-up


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert common.percentile(xs, 90) == 90.0
    assert common.percentile(xs[:9], 90) == 9.0
    assert common.percentile([], 90) == 0.0
