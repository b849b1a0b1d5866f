"""Round-12 scaling rows (the stress_sf1 protocol): time the round-12
workloads at 1x (sf0.1) and 10x (stress_sf1's perturbed-copy dataset —
built here if absent) and print the one-decade scaling exponent
log10(t_10x / t_1x). Warm 2nd-trial numbers (exponents need
warm-vs-warm).

Run: python scripts/stress_r12.py
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from bigdata_usaspending_spark.catalog import load
from bigdata_usaspending_spark.operators import dedup, similarity
from bigdata_usaspending_spark.operators.dedup import _ensure_parallelism
from bigdata_usaspending_spark.operators.text import winnow_fingerprints
from bigdata_usaspending_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
OUT = "/tmp/stress_sf1"


def workloads(spark, sf_dir: str, tag: str) -> dict[str, float]:
    docs = _ensure_parallelism(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    emb = load(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in load(spark, SF01, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]

    def timed(name, fn):
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn().count()
            dt = round(time.perf_counter() - t0, 2)
        print(f"  [{tag}] {name}: {dt} s ({n} rows)", flush=True)
        return dt

    out = {}
    # robust winnowing fold + explode (the q_winnow_robust shape, full
    # corpus instead of the 1-in-7 sample)
    out["winnow_robust_fold"] = timed(
        "winnow_robust_fold",
        lambda: docs.select(
            "doc_id",
            F.explode(
                winnow_fingerprints(
                    "text", k=8, w=4, portable=False, robust=True
                )
            ).alias("s"),
        ),
    )
    # match spans over the near-dup-bearing corpus (stop-gram capped)
    out["winnow_match_spans"] = timed(
        "winnow_match_spans",
        lambda: dedup.winnow_match_spans(
            docs, "doc_id", threshold=0.5, max_fingerprint_df=50
        ),
    )
    # the winnow pair tier the corpus build composes (capped)
    out["winnow_pairs_capped"] = timed(
        "winnow_pairs_capped",
        lambda: dedup.winnow_pairs(
            docs, "doc_id", threshold=0.5, max_fingerprint_df=50
        ),
    )

    # persisted IVF-PQ probe: plain vs adc_prune over the same index
    # (index build time excluded — the amortized lifecycle; probes are
    # the per-query cost that must stay flat)
    import shutil
    import tempfile

    centroids = similarity.mean_centroids(
        similarity.ivf_assign(
            data,
            spark.createDataFrame(
                [
                    (i, [1.0 if j == i else 0.0 for j in range(64)])
                    for i in range(10)
                ],
                "cell int, centroid array<double>",
            ),
        ).select("cell", "embedding")
    )
    local_c = spark.createDataFrame(centroids.collect(), centroids.schema)
    tmp = tempfile.mkdtemp(prefix="stress_r12_idx_")
    try:
        similarity.ivf_pq_index_build(data, local_c, tmp, m=16, k=16)
        out["ivfpq_probe_plain"] = timed(
            "ivfpq_probe_plain",
            lambda: similarity.ivf_pq_index_topk(
                spark, tmp, qvec, k=10, nprobe=8, rerank_factor=8
            ),
        )
        stats: dict = {}
        out["ivfpq_probe_adc_prune"] = timed(
            "ivfpq_probe_adc_prune",
            lambda: similarity.ivf_pq_index_topk(
                spark, tmp, qvec, k=10, nprobe=8, rerank_factor=8,
                adc_prune=True, prune_phase1=2, probe_stats=stats,
            ),
        )
        print(f"  [{tag}] adc_prune pruned={stats.get('pruned_cells')}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> int:
    import math
    import os

    spark = get_spark("stress_r12")
    if not os.path.isdir(f"{OUT}/documents.parquet"):
        print("building the 10x dataset via stress_sf1.build ...", flush=True)
        import importlib
        import sys

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        importlib.import_module("stress_sf1").build(spark)
    t1 = workloads(spark, SF01, "1x")
    t10 = workloads(spark, OUT, "10x")
    rows = {
        k: {
            "t_1x": t1[k],
            "t_10x": t10[k],
            "exp": round(math.log10(max(t10[k], 0.01) / max(t1[k], 0.01)), 2),
        }
        for k in t1
    }
    print(json.dumps(rows, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
