"""Late-round-12 scaling rows (the stress_sf1 protocol): the two depth
additions — the incremental span probe over a PERSISTED positioned
winnow index and the Best-Bin-First adaptive IVF-PQ probe — timed at 1x
(sf0.1) and 10x (stress_sf1's perturbed-copy dataset, built if absent)
with the one-decade scaling exponent log10(t_10x / t_1x). Index build
time is excluded everywhere (the amortized lifecycle): the number that
must stay sane is the PER-INGEST / PER-QUERY probe. Warm 2nd-trial
numbers.

Run: python scripts/stress_r12b.py
"""

from __future__ import annotations

import json
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from bigdata_usaspending_spark.catalog import load
from bigdata_usaspending_spark.operators import dedup, similarity
from bigdata_usaspending_spark.operators.dedup import _ensure_parallelism
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
    # FIXED-size ingest batch (trailing-token variants of 1-in-37 of the
    # 1x docs): the batch is the per-trigger unit — it must not grow with
    # the index, only the index side does
    batch = (
        _ensure_parallelism(
            load(spark, SF01, "documents").filter(
                (F.col("doc_id") % 37 == 0) & F.col("text").isNotNull()
            )
        )
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" the")).alias("text"),
        )
    )

    def timed(name, fn):
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn().count()
            dt = round(time.perf_counter() - t0, 2)
        print(f"  [{tag}] {name}: {dt} s ({n} rows)", flush=True)
        return dt

    out = {}
    tmp = tempfile.mkdtemp(prefix="stress_r12b_")
    try:
        # persisted positioned index (build excluded — written once)
        dedup.winnow_pos_index(docs, "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/pos_index")
        pos_index = spark.read.parquet(f"{tmp}/pos_index")
        out["winnow_spans_incremental_probe"] = timed(
            "winnow_spans_incremental_probe",
            lambda: dedup.winnow_spans_against_index(
                batch, pos_index, "doc_id", threshold=0.5,
                max_fingerprint_df=50,
            ),
        )

        # adaptive IVF-PQ probe over a persisted index (build excluded)
        centroids = spark.createDataFrame(
            [
                (i, [1.0 if j == i else 0.0 for j in range(64)])
                for i in range(10)
            ],
            "cell int, centroid array<double>",
        )
        local_c = spark.createDataFrame(
            similarity.mean_centroids(
                similarity.ivf_assign(data, centroids).select(
                    "cell", "embedding"
                )
            ).collect(),
            "cell int, centroid array<double>",
        )
        similarity.ivf_pq_index_build(
            data, local_c, f"{tmp}/pq_idx", m=16, k=16
        )
        stats: dict = {}
        out["ivfpq_probe_adaptive"] = timed(
            "ivfpq_probe_adaptive",
            lambda: similarity.ivf_pq_index_topk(
                spark, f"{tmp}/pq_idx", qvec, k=10, rerank_factor=8,
                adaptive_nprobe=True, prune_phase1=2, probe_stats=stats,
            ),
        )
        print(
            f"  [{tag}] adaptive scanned="
            f"{len(stats.get('cells_scanned', []))}/"
            f"{len(stats.get('cells_ranked', []))} "
            f"rounds={stats.get('rounds')} "
            f"pruned={stats.get('pruned_cells')}",
            flush=True,
        )
        out["_adaptive_cells_scanned"] = float(
            len(stats.get("cells_scanned", []))
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> int:
    import math
    import os

    spark = get_spark("stress_r12b")
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
