"""Reference form of the IVF-PQ ADC shortlist, kept for tests.

``similarity._adc_shortlist_topk`` scores, cuts and reranks in one
``mapInPandas`` pass with a per-partition top-N. This module keeps the
two-phase form it replaced: the ADC column as a pandas UDF, a global
``orderBy(_ad, id).limit(k*rerank_factor)``, then the exact squared L2
as a second pandas UDF and the top-k by ``(l2sq, id)``. It plans as a
global range sort, so it is slow, but its cut is Spark's own, which is
what ``test_similarity`` pins the kernel against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_usaspending_spark.operators import similarity


def sort_shortlist_topk(
    cands: DataFrame,
    cell_tables: dict,
    qvec: list,
    k: int,
    rerank_factor: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """The ``k`` best of ``cands`` by exact squared L2 among its
    ``k*rerank_factor`` best by ADC distance, cut by a global sort;
    ``(id_col, l2sq)`` ascending."""
    adc = similarity._adc_kernel(cell_tables)
    shortlist = (
        cands.select(
            F.col(id_col), F.col(vec_col),
            adc(F.col("codes"), F.col(cell_col).cast("long")).alias("_ad"),
        )
        .orderBy(F.asc("_ad"), F.asc(id_col))
        .limit(k * rerank_factor)
    )
    q64 = np.array(qvec, dtype=np.float64)

    @F.pandas_udf("double")
    def _l2sq_exact(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        x = np.array(v.tolist(), dtype=np.float64)
        diff = x - q64[None, :]
        acc = diff[:, 0] * diff[:, 0]
        for t in range(1, diff.shape[1]):
            acc = acc + diff[:, t] * diff[:, t]
        return pd.Series(acc)

    return (
        shortlist.select(F.col(id_col), _l2sq_exact(F.col(vec_col)).alias("l2sq"))
        .orderBy(F.asc("l2sq"), F.asc(id_col))
        .limit(k)
    )


def reference_probe(ix, qvec: list, k: int, nprobe: int, rerank_factor: int):
    """The fixed-nprobe IVF-PQ probe of an opened index (``_AnnIndex``,
    no rotation) with the reference shortlist: the result
    ``ivf_pq_index_topk`` must return for ``nprobe`` cells — and, with
    ``nprobe`` = every cell, for the adaptive probe — as collected
    ``(id, l2sq)`` tuples."""
    tables = similarity._ivf_pq_probe_tables(
        ix.centroids, ix.codebooks, qvec, nprobe, ix.dsub
    )
    rows = sort_shortlist_topk(
        ix.scan(list(tables)), tables, qvec, k, rerank_factor
    ).collect()
    return [tuple(r) for r in rows]
