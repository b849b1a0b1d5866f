"""Reference form of the committed-side winnow probes, kept for tests.

``dedup._winnow_probe`` collects the batch's fingerprints on the driver,
verifies every (index row, batch row) pair in one ``mapInArrow`` pass
over the index and finishes the stop-gram cap and the anchor spans on
the driver. This module keeps the join-based form it replaced: a
``_stop_grams`` group-by and two anti-joins for the cap, an exploded
anchor join against the broadcast batch, a per-pair anchor group-by and
a verify join of the full sets. It plans as a chain of broadcast joins
and aggregations, so it is slow, but every step is Spark's own, which is
what ``test_dedup`` pins the kernel against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_usaspending_spark.operators import dedup


def matched_ids(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_fps: "DataFrame | None" = None,
) -> DataFrame:
    """The distinct ``id_col`` values of the batch docs that are a
    verified near-duplicate of some ``(_id, fps)`` index doc."""
    if batch_fps is not None:
        bfps = batch_fps.filter(F.size("fps") > 0)
    else:
        bfps = dedup.winnow_index(batch, id_col, text_col, k, w, portable)
    b_ex = bfps.select(F.col("_id").alias("_bid"), F.explode("fps").alias("_f"))
    i_ex = index.select(F.col("_id").alias("_iid"), F.explode("fps").alias("_f"))
    if max_fingerprint_df is not None:
        heavy = dedup._stop_grams(max_fingerprint_df, "_f", i_ex, b_ex)
        i_ex = i_ex.join(heavy, on="_f", how="anti")
        b_ex = b_ex.join(heavy, on="_f", how="anti")
    cand = (
        i_ex.join(F.broadcast(b_ex), on="_f")
        .select("_bid", "_iid")
        .dropDuplicates(["_bid", "_iid"])
    )
    verified = (
        index.select(F.col("_id").alias("_iid"), F.col("fps").alias("fps_i"))
        .join(F.broadcast(cand), "_iid")
        .join(
            F.broadcast(
                bfps.select(F.col("_id").alias("_bid"), F.col("fps").alias("fps_b"))
            ),
            "_bid",
        )
    )
    inter = F.size(F.array_intersect("fps_b", "fps_i")).cast("double")
    union = F.size(F.array_union("fps_b", "fps_i")).cast("double")
    return (
        verified.filter((inter / union) >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )


def spans_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_pfps: "DataFrame | None" = None,
) -> DataFrame:
    """The verified ``(id_index, id_batch, jaccard, n_shared, n_anchors,
    i_start, i_end, b_start, b_end)`` span pairs of a batch against a
    positioned ``(_id, pfps)`` index."""
    if batch_pfps is not None:
        bpf = batch_pfps.filter(F.size("pfps") > 0)
    else:
        bpf = dedup.winnow_pos_index(batch, id_col, text_col, k, w, portable)
    b_ex = bpf.select(
        F.col("_id").alias("_bid"), F.explode("pfps").alias("_s")
    ).select("_bid", F.col("_s.fp").alias("_f"), F.col("_s.pos").alias("_pb"))
    i_ex = index.select(
        F.col("_id").alias("_iid"), F.explode("pfps").alias("_s")
    ).select("_iid", F.col("_s.fp").alias("_f"), F.col("_s.pos").alias("_pi"))
    if max_fingerprint_df is not None:
        heavy = dedup._stop_grams(
            max_fingerprint_df, "_f",
            i_ex.select("_iid", "_f").distinct(),
            b_ex.select("_bid", "_f").distinct(),
        )
        i_ex = i_ex.join(heavy, on="_f", how="anti")
        b_ex = b_ex.join(heavy, on="_f", how="anti")
    anchors = i_ex.join(F.broadcast(b_ex), on="_f").select(
        "_iid", "_bid", "_f", "_pi", "_pb"
    )
    agg = anchors.groupBy("_iid", "_bid").agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.min("_pi").alias("i_start"),
        (F.max("_pi") + F.lit(k - 1)).alias("i_end"),
        F.min("_pb").alias("b_start"),
        (F.max("_pb") + F.lit(k - 1)).alias("b_end"),
    )
    verified = (
        index.select(F.col("_id").alias("_iid"), dedup._pos_vals("pfps").alias("_vi"))
        .join(F.broadcast(agg), "_iid")
        .join(
            F.broadcast(
                bpf.select(
                    F.col("_id").alias("_bid"), dedup._pos_vals("pfps").alias("_vb")
                )
            ),
            "_bid",
        )
    )
    n_shared = F.size(F.array_intersect("_vi", "_vb"))
    jac = n_shared.cast("double") / F.size(F.array_union("_vi", "_vb")).cast(
        "double"
    )
    return (
        verified.select(
            F.col("_iid").alias("id_index"),
            F.col("_bid").alias("id_batch"),
            jac.alias("jaccard"),
            n_shared.alias("n_shared"),
            "n_anchors", "i_start", "i_end", "b_start", "b_end",
        )
        .filter(F.col("jaccard") >= threshold)
    )
