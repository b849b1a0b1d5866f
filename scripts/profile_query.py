"""Per-job wall-time profile of one or more registry queries (round-15
optimization tooling, guide §1: measure first, label jobs).

Runs each named query in a fresh event-logged session (after the bench
harness's warmups), twice — the second, steady-state run is the one whose
jobs are attributed — and prints a per-job breakdown (description/callsite,
wall ms, task time, shuffle bytes) parsed from the Spark event log, so the
expensive *phase* inside a multi-action lifecycle query is visible without
the (disabled) UI.

Usage: python scripts/profile_query.py q_winnow_index_remove [...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import warm_up  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    targets = sys.argv[1:]
    evdir = "/tmp/spark-events-profile"
    os.makedirs(evdir, exist_ok=True)
    for f in os.listdir(evdir):
        try:
            os.remove(os.path.join(evdir, f))
        except OSError:
            pass

    # event-log confs go on the launch command line so get_spark's
    # builder stays the one session factory
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}"
        for c in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={evdir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        )
    ) + " pyspark-shell"
    from bigdata_usaspending_spark.plans import all_queries
    from bigdata_usaspending_spark.session import get_spark

    spark = get_spark("profile")
    warm_up(spark, sf_dir)

    registry = all_queries()
    windows: dict[str, tuple[float, float, float, float]] = {}
    for name in targets:
        fn = registry[name]
        t0 = time.time() * 1000
        fn(spark, sf_dir).count()
        t1 = time.time() * 1000
        fn(spark, sf_dir).count()
        t2 = time.time() * 1000
        windows[name] = (t0, t1, t1, t2)
        print(
            f"WALL {name}: cold {(t1 - t0) / 1000:.2f}s warm {(t2 - t1) / 1000:.2f}s",
            file=sys.stderr,
        )
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log: job windows + stage metrics. Spark 4 writes a
    # rolling dir eventlog_v2_<appId>/events_N_<appId>[.zstd]
    import glob
    import io

    candidates = sorted(
        glob.glob(os.path.join(evdir, f"eventlog_v2_{app_id}", f"events_*_{app_id}*"))
    ) or [os.path.join(evdir, app_id)]

    def _open(p: str):
        if p.endswith(".zstd"):
            import zstandard

            return io.TextIOWrapper(
                zstandard.ZstdDecompressor().stream_reader(open(p, "rb"))
            )
        return open(p)

    jobs: dict[int, dict] = {}
    stage_of_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in candidates:
      with _open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": props.get("spark.job.description")
                    or props.get("callSite.short", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
                for s in ev.get("Stage Infos", []):
                    stage_of_job[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    sid, {"task_ms": 0, "sh_read": 0, "sh_write": 0, "tasks": 0,
                          "py_ms": 0}
                )
                st["tasks"] += 1
                st["task_ms"] += m.get("Executor Run Time", 0)
                st["sh_read"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0
                ) + (m.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0
                )
                st["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )

    for name, (c0, c1, w0, w1) in windows.items():
        print(f"\n=== {name} (steady-state run, {(w1 - w0) / 1000:.2f}s wall) ===")
        sel = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if "end" in j and j["start"] >= w0 and j["end"] <= w1 + 1000
        ]
        tot = 0.0
        rows = []
        for jid, j in sel:
            wall = (j["end"] - j["start"]) / 1000
            tot += wall
            tms = sum(stages.get(s, {}).get("task_ms", 0) for s in j["stages"])
            shr = sum(stages.get(s, {}).get("sh_read", 0) for s in j["stages"])
            shw = sum(stages.get(s, {}).get("sh_write", 0) for s in j["stages"])
            rows.append((wall, jid, j["desc"][:100], tms, shr, shw))
        for wall, jid, desc, tms, shr, shw in rows:
            print(
                f"  job {jid:4d} {wall:7.3f}s  task {tms/1000:7.2f}s  "
                f"shR {shr/1e6:7.2f}MB shW {shw/1e6:7.2f}MB  {desc}"
            )
        print(f"  -- {len(sel)} jobs, {tot:.2f}s summed job wall")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
