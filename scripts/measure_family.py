"""Isolated-session re-measure of a named query family (VERDICT r11 #2
protocol — the r10 fuzzy-closure discipline): fresh process, the bench
harness's warmups, then each query best-of-N back-to-back, with a
flat-session CONTROL set measured in the same session so box drift is
separable from per-query movement. Each run also reports its Spark job
count (the jobs tagged with that run's job group).

Usage: python scripts/measure_family.py q_rerank_topk q_hybrid_rrf ...
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_BENCH_RUNS (default 3),
       MEASURE_CONTROLS (comma list; default a stable cross-family set).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import warm_up  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    targets = sys.argv[1:]
    controls = os.environ.get(
        "MEASURE_CONTROLS",
        "q_topk,q_agg_sum_by_key,q_dedup_exact,q_bm25_topk,q_window_ntile",
    ).split(",")
    from bigdata_usaspending_spark.plans import all_queries
    from bigdata_usaspending_spark.session import get_spark

    spark = get_spark("measure_family")
    warm_up(spark, sf_dir)

    registry = all_queries()
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for name in controls + targets:
        fn = registry[name]
        times, jobs = [], []
        for i in range(runs):
            group = f"measure_family/{name}/{i}"
            sc.setJobGroup(group, name)
            try:
                start = time.perf_counter()
                fn(spark, sf_dir).count()
                times.append(round(time.perf_counter() - start, 3))
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            finally:
                sc.setJobGroup("", "")
        out[name] = {
            "best": min(times),
            "runs": times,
            "jobs": jobs,
            "role": "target" if name in targets else "control",
        }
    print(json.dumps({"sf_dir": sf_dir, "results": out}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
