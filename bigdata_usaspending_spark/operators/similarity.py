"""Similarity search over embedding columns (array<float>).

SURVEY.md §7.4 extension — first-class 100-TB component:

- brute-force cosine top-k: the exact baseline. Dot products via zip_with +
  aggregate HOFs (JVM-side, no UDF); the query vector is broadcast; top-k is
  TakeOrderedAndProject. Linear scan — correct at any scale, bandwidth-bound.
- cosine_pairs_blocked: all-pairs cosine >= tau *within a blocking key*
  (label, cluster id, LSH bucket). The blocked join is the scale path for
  embedding near-dedup: shuffle on the block key, quadratic only inside
  blocks.
- ivf_assign / ivf_topk: inverted-file ANN — assign every vector to its
  nearest of C centroids (broadcast), then search only the query's nprobe
  nearest cells. The centroid assignment is one broadcast-join pass;
  the search scans ~nprobe/C of the data.
- BucketedRandomProjectionLSH (pyspark.ml) wrapper as the library alternative.
- ivf_pq_index_build: THE IVF-PQ index build (the CLI's ``ann-index build
  --pq``, the lifecycle audit, the registry's index audits) — one assign
  pass trains the residual codebooks on a bounded sample and is encoded
  and written through the one layout writer, OPQ rotation last.
- exact_topk_witness: THE audit contract (every ``*_recall_audit`` and
  index audit) — the checkpointed exact euclidean top-k plus ``recall_ok``
  (the probe hit >= floor of it, over the witness's actual size).
- _open_ann_index: THE persisted-index open (every probe, add, drift and
  dedup surface) — layout detection, the bounded centroid / codebook /
  OPQ-rotation loads, the stale-rotation and empty-codebook refusals, and
  the live vectors frame.
- _probe_ann: THE per-query IVF / IVF-PQ probe (ivf_index_topk,
  ivf_pq_index_topk, ann_index_search_many's loop, the in-memory
  ivf_pq_topk) — coarse cells + exact cosine on plain IVF; ADC tables,
  adaptive / adc_prune cell pruning and the exact rerank on IVF-PQ.
- _adc_shortlist_topk: THE ADC shortlist + exact rerank kernel of every
  IVF-PQ probe mode and of the flat pq_topk.

Determinism: float32 x float32 products are exact in double (<= 48-bit
mantissa), and the dot product is a sequential left fold over the array —
Spark's ``aggregate`` HOF and DuckDB's ``list_reduce`` both fold
left-to-right, so every intermediate double is identical across engines.

Execution tiers (deliberate, per kernel):
- relational HOF folds (dot/l2sq) where the per-row work is a single fold —
  brute force, IVF, blocked cosine;
- Arrow-vectorized pandas kernels where the per-row work is an m*k argmin
  or table lookup (PQ encode/ADC): HOF lambdas are CodegenFallback
  (interpreted — measured ~0.65 ms/row, a real bottleneck at corpus scale)
  and flat literal unrolling blows up Py4J build time and codegen compile;
  the numpy kernels replicate the SQL fold order bit-for-bit (see
  _fold_sum_cols) so the DuckDB oracle still hash-matches;
- one ``mapInPandas`` pass where the per-row work feeds a cut: every
  PQ / IVF-PQ probe (_adc_shortlist_topk) scores by ADC, keeps each
  partition's k*rerank best and exact-reranks only those in the same
  Python pass, then two JVM top-N operators finish the cut — one job
  per probe, no range-sort sample re-running the Python input;
- driver-side training on bounded samples (pq_train_driver): quantizer
  codebooks are model state trained on ~1e5-1e6 vectors in production
  regardless of corpus size.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import index_store
from ..io import local_frame


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns as a deterministic
    sequential left fold of exact double products."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity (double)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _fold_dot_mat(a, b):
    """Rowwise dot of two (n, d) float64 matrices with the SQL fold's
    left-to-right accumulation (see _fold_sum_cols)."""
    return _fold_sum_cols(a * b)


def cosine_to_query_kernel(qvec: list[float]):
    """Arrow-vectorized cosine against a fixed query vector, bit-identical
    to the cosine() HOF form: per-element float32->float64 widening is
    exact, products/squares fold left-to-right, np.sqrt and the final
    division are correctly-rounded IEEE ops on identical inputs."""
    q64 = np.array(qvec, dtype=np.float64)

    @F.pandas_udf("double")
    def _cos(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        x = np.array(v.tolist(), dtype=np.float64)
        num = _fold_dot_mat(x, q64[None, :])
        den = np.sqrt(_fold_sum_cols(x * x)) * np.sqrt(
            _fold_sum_cols((q64 * q64)[None, :])
        )
        return pd.Series(num / den)

    return _cos


def _as_qvec(query) -> list:
    """Normalize a query-vector argument: a plain Python sequence passes
    through (the preferred, probe-free form — the caller already holds the
    vector, so plan construction fires no Spark job); a 1-row DataFrame with
    column ``q_emb`` is collected (legacy form, costs one bounded job)."""
    if isinstance(query, DataFrame):
        return [float(x) for x in query.select("q_emb").first()[0]]
    return [float(x) for x in query]


def brute_force_topk(
    df: DataFrame,
    query,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of ``df`` vectors against a query vector (a float
    sequence, or legacy 1-row DataFrame with column ``q_emb``). Ties broken
    by id ASC. The scan is an Arrow-vectorized kernel (see module docstring
    execution tiers); the cut is TakeOrderedAndProject."""
    qvec = _as_qvec(query)
    scored = df.select(
        F.col(id_col), cosine_to_query_kernel(qvec)(F.col(vec_col)).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def maxsim_topk(
    df: DataFrame,
    query,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tokens: int = 4,
    k: int = 10,
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) top-k (Khattab & Zaharia
    2020, arXiv:2004.12832): documents and the query are MULTI-vector —
    here ``n_tokens`` equal slices of the embedding column (the adapter for
    single-array storage; a real token-matrix column slices the same way) —
    and score(doc) = sum over query tokens of the MAX cosine against any
    document token.

    Execution shape: because every document token is a SLICE of the row's
    own embedding, the full MaxSim score is a per-row computation — ONE
    Arrow kernel emits score(doc) directly (token slicing, the q x d
    cosine matrix, the per-q-token max, and the q-ascending fold-ordered
    sum all inside the batch), and TakeOrderedAndProject cuts the top k.
    ZERO shuffles. (An earlier formulation exploded n_tokens rows per doc
    and re-aggregated by doc id — a pointless round trip through one
    exchange that also tripled the codegen surface.) With a true
    token-matrix column the same kernel reads the nested arrays; at
    100 TB the scan runs over an ANN-pruned candidate set instead of the
    full corpus. Per-token max and the q0..qn sum replay exactly in SQL,
    which is what keeps the oracle bit-identical."""
    qvec = _as_qvec(query)
    dim = len(qvec)
    if dim % n_tokens:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    dsub = dim // n_tokens
    qtoks = np.array(
        [qvec[t * dsub : (t + 1) * dsub] for t in range(n_tokens)], dtype=np.float64
    )
    qnorm = np.sqrt(_fold_sum_cols(qtoks * qtoks))

    @F.pandas_udf("double")
    def _maxsim(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        x = np.array(v.tolist(), dtype=np.float64)
        dts = [x[:, t * dsub : (t + 1) * dsub] for t in range(n_tokens)]
        dnorms = [np.sqrt(_fold_sum_cols(d * d)) for d in dts]
        score = None
        for qt in range(n_tokens):
            best = None
            for dt in range(n_tokens):
                cs = _fold_dot_mat(dts[dt], qtoks[qt][None, :]) / (
                    dnorms[dt] * qnorm[qt]
                )
                best = cs if best is None else np.maximum(best, cs)
            # q-token-ascending addition order matches the SQL oracle fold
            score = best if score is None else score + best
        return pd.Series(score)

    return (
        df.select(F.col(id_col), _maxsim(F.col(vec_col)).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc(id_col))
        .limit(k)
    )


def cosine_pairs_blocked(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """All pairs with cosine >= threshold sharing a blocking key — embedding
    near-duplicate detection. Quadratic pair WORK only within blocks, and
    — since the round-6 rewrite — linear pair TRAFFIC: each block's
    vectors shuffle ONCE into a per-block applyInPandas kernel that
    computes the (n_b x n_b) cosine comparisons in numpy and emits only
    the qualifying pairs. The previous self-join form materialized every
    candidate pair as a shuffle row carrying BOTH vectors —
    O(sum n_b^2 * d) through the exchange vs this shape's O(N * d) — the
    difference between a blocked all-pairs that survives 100 TB and one
    that doesn't.

    Per-pair arithmetic is unchanged bit-for-bit: for each anchor row the
    kernel folds dot(rest, anchor) with the same sequential column fold
    (_fold_dot_mat) and divides by sqrt-fold norms, so oracle hashes are
    identical to the join form on finite cosines — and null blocking
    keys and null vectors produce no pairs (the join's null-never-equals /
    null-cosine behavior), while a duplicated id never pairs with itself
    (the strict id_a < id_b predicate). ONE deliberate edge divergence
    from the old join form: a ZERO-NORM vector's cosine is 0/0 = NaN, and
    ``NaN >= t`` is False in numpy, so zero-norm vectors never emit pairs
    here — whereas Spark SQL orders NaN above every double, so the join
    form's ``cosine >= t`` was TRUE and paired every zero-norm vector
    with everything in its block. The numpy semantics are the correct
    ones (an all-zero embedding is not "similar to everything"); callers
    needing the old behavior must handle zero-norm vectors explicitly
    upstream. Block-size caveat: a block's matrix must fit a task
    (n_b x d doubles); bound blocks upstream (SemDeDup centroids, label
    blocking) exactly as the module docstring requires."""
    # match the join form's null semantics: a null BLOCK key never equi-
    # joins (and a giant null block would also defeat the within-block
    # quadratic bound), a null VECTOR's cosine is null and fails the
    # threshold — both drop before the kernel
    src = df.filter(
        F.col(block_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    )
    id_type = src.schema["_id"].dataType.simpleString()

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        # sort by id so emitted pairs satisfy id_a < id_b under the column's
        # native ordering (ids stay their original dtype — ints, strings,
        # whatever the caller keyed by)
        pdf = pdf.sort_values("_id", kind="stable").reset_index(drop=True)
        ids = pdf["_id"].to_numpy()
        x = np.array(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.sqrt(_fold_sum_cols(x * x))
        out_a, out_b, out_c = [], [], []
        for i in range(n - 1):
            rest = x[i + 1 :]
            cos = _fold_dot_mat(rest, x[i][None, :]) / (norms[i] * norms[i + 1 :])
            # strict inequality: a duplicated id must not pair with itself
            # (the join form's id_a < id_b), else a dedup consumer drops a
            # cluster's survivor along with its copies
            keep = (cos >= threshold) & (ids[i + 1 :] != ids[i])
            if keep.any():
                out_a.append(np.repeat(ids[i], int(keep.sum())))
                out_b.append(ids[i + 1 :][keep])
                out_c.append(cos[keep])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return src.groupBy("_blk").applyInPandas(
        block_pairs, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster every embedding to its nearest centroid, find
    cosine-similar pairs ONLY within clusters, and keep the min-id survivor
    of each near-dup pair. Returns the surviving (id, cell) rows.

    This is the scale path for embedding dedup at 100 TB: all-pairs cosine
    is O(N^2); clustering first makes the comparison quadratic only within
    a cluster (expected N^2/C for C balanced clusters), and the cluster
    assignment itself is one broadcast-centroid map pass (ivf_assign). The
    drop set (ids appearing as the larger id of any qualifying pair) stays
    a fraction of N and joins back as an anti-join — AQE picks broadcast
    when it is small.

    Pass ``assigned`` (an (id, vec, cell) frame) to reuse an existing
    assignment — e.g. the deterministic rank-window assignment the oracle
    corpus uses, or a partition-by-cell materialized layout."""
    if assigned is None:
        assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    pairs = cosine_pairs_blocked(
        assigned, "cell", id_col=id_col, vec_col=vec_col, threshold=threshold
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(drops, on=id_col, how="anti").select(id_col, "cell")


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_benchmark: int = 100_000,
) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic complement
    of ``dedup.decontaminate`` (which drops training docs sharing n-gram
    SHINGLES with an eval set): drop every corpus row whose embedding has
    cosine >= ``threshold`` to ANY benchmark vector, catching paraphrased
    leakage that shares no exact n-gram.

    Scale shape: an eval benchmark is dim-sized by definition, so its
    matrix collects driver-side (cap-guarded, the knn_join pattern) and
    rides one broadcast into ONE Arrow kernel over the corpus scan — no
    join, no shuffle, never a |corpus| x |bench| row blowup (the (n, m)
    cosine matrix exists only inside a numpy batch). The fold arithmetic
    is bit-identical to cosine_to_query_kernel, so the threshold
    comparison — and therefore the surviving row set — replays exactly
    in SQL."""
    _, bmat = _collect_query_matrix(benchmark, id_col, vec_col, max_benchmark)
    bc = corpus.sparkSession.sparkContext.broadcast(bmat)

    @F.pandas_udf("boolean")
    def _contaminated(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=bool)
        b = bc.value
        # a NULL embedding has no cosine to anything — never contaminated
        # (the oracle's NOT EXISTS over a null cosine keeps the row); mask
        # nulls out so the batch matrix stays rectangular
        mask = v.notna().to_numpy()
        hit = np.zeros(len(v), dtype=bool)
        if mask.any():
            x = np.array(v[mask].tolist(), dtype=np.float64)
            xnorm = np.sqrt(_fold_sum_cols(x * x))
            sub = np.zeros(len(x), dtype=bool)
            for j in range(b.shape[0]):
                q = b[j]
                cos = _fold_dot_mat(x, q[None, :]) / (
                    xnorm * np.sqrt(_fold_sum_cols((q * q)[None, :]))
                )
                sub |= cos >= threshold
            hit[mask] = sub
        return pd.Series(hit)

    return corpus.filter(~_contaminated(F.col(vec_col)))


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_benchmark: int = 100_000,
) -> DataFrame:
    """The EVIDENCE side of semantic_decontaminate: for every corpus row
    the filter would drop, report its max cosine against the benchmark —
    the audit trail a pipeline owner reads to tune the threshold and to
    show WHY a document was excluded (a bare filter is undebuggable).
    Same broadcast + one-kernel-scan shape; max over bench vectors is
    order-independent, so the reported score is engine-reproducible.
    Output: (id, max_bench_cosine) for rows at or above threshold."""
    _, bmat = _collect_query_matrix(benchmark, id_col, vec_col, max_benchmark)
    bc = corpus.sparkSession.sparkContext.broadcast(bmat)

    @F.pandas_udf("double")
    def _max_cos(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        b = bc.value
        mask = v.notna().to_numpy()
        out = np.full(len(v), np.nan)
        if mask.any():
            x = np.array(v[mask].tolist(), dtype=np.float64)
            xnorm = np.sqrt(_fold_sum_cols(x * x))
            best = np.full(len(x), -np.inf)
            for j in range(b.shape[0]):
                q = b[j]
                cos = _fold_dot_mat(x, q[None, :]) / (
                    xnorm * np.sqrt(_fold_sum_cols((q * q)[None, :]))
                )
                best = np.maximum(best, cos)
            out[mask] = best
        return pd.Series(out)

    return (
        corpus.select(
            F.col(id_col), _max_cos(F.col(vec_col)).alias("max_bench_cosine")
        )
        .filter(
            ~F.isnan("max_bench_cosine")
            & (F.col("max_bench_cosine") >= F.lit(float(threshold)))
        )
    )


def mean_centroids(
    assigned: DataFrame,
    cell_col: str = "cell",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid = per-dimension mean of member vectors, computed
    DETERMINISTICALLY: component sums accumulate in decimal (scale 7 — far
    above the float32 half-ulp window, so any engine rounds the component
    casts identically), one double division at the end. This is the
    reproducible core of k-means-style training (an oracle can replay it).

    Scale shape: posexplode -> two-level hash aggregation on (cell, pos) —
    a single shuffle whose cardinality is C x dims, independent of N after
    the map-side partial agg."""
    return (
        assigned.select(F.col(cell_col), F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(cell_col, "pos")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(27,7)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("m")
        )
        .groupBy(cell_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col(cell_col).cast("int").alias(cell_col),
            F.transform("pm", lambda s: s["m"]).alias("centroid"),
        )
    )


def ivf_refine(
    df: DataFrame,
    centroids: DataFrame,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-style centroid refinement: iterations of (assign every vector
    to its nearest centroid, recompute centroids as member means). Each
    iteration is one broadcast assignment pass + one (cell, pos) shuffle —
    the distributed k-means step without MLlib's RNG, so results stay
    deterministic given deterministic initial centroids. Cells that lose all
    members simply disappear (standard empty-cluster drop)."""
    for _ in range(iterations):
        assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
        centroids = mean_centroids(assigned, cell_col="cell", vec_col=vec_col)
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (IVF cell).

    centroids is model state (O(sqrt(N)) rows by construction), collected
    driver-side and closed over by an Arrow-vectorized kernel — the
    broadcast-variable pattern; the assignment stays a single map pass with
    no shuffle. At 100 TB write the result partitioned by cell so probes
    prune at the file level. Ties (equal cosine) go to the LOWEST cell id —
    deterministic, unlike the former fold over an unordered collect_list.
    Cosines use the same left-fold arithmetic as the cosine() HOF, so
    assignments are bit-for-bit reproducible in SQL (rank-window with
    cosine DESC, cell ASC — the oracle corpus replays exactly that).
    """
    from ..io import local_rows_of

    # a local_frame carries its driver-side rows: reuse them instead of
    # scheduling a 1-task Python-runner collect job (round 16, guide §5 —
    # several such collects per lifecycle verb at ~0.15-0.2 s each)
    src = local_rows_of(centroids)
    cent_rows = sorted(
        (r[centroid_id], list(r[centroid_vec]))
        for r in (src if src is not None else centroids.collect())
    )
    cells = np.array([c for c, _ in cent_rows], dtype=np.int32)
    mats = np.array([v for _, v in cent_rows], dtype=np.float64)
    cnorm = np.sqrt(_fold_sum_cols(mats * mats))  # per-centroid sqrt(fold(c*c))

    @F.pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="int32")
        x = np.array(v.tolist(), dtype=np.float64)
        # exact left-fold cosines: (n, C) scores built per centroid column
        # (no matmul — BLAS regroups the adds and can differ in the last ulp)
        scores = np.empty((x.shape[0], len(cells)))
        xn = np.sqrt(_fold_sum_cols(x * x))
        for j in range(len(cells)):
            scores[:, j] = _fold_dot_mat(x, mats[j][None, :]) / (xn * cnorm[j])
        return pd.Series(cells[np.argmax(scores, axis=1)])  # first max = lowest cell

    return df.select(F.col(id_col), F.col(vec_col), _assign(F.col(vec_col)).alias(centroid_id))


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """ANN top-k: score the query against centroids, keep the nprobe nearest
    cells, brute-force only inside those cells."""
    probe_cells = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            F.col(centroid_id),
            cosine(F.col(centroid_vec), F.col("q_emb")).alias("_cs"),
        )
        .orderBy(F.desc("_cs"), F.asc(centroid_id))
        .limit(nprobe)
        .select(centroid_id)
    )
    candidates = assigned.join(F.broadcast(probe_cells), on=centroid_id, how="semi")
    return brute_force_topk(candidates, query, id_col=id_col, vec_col=vec_col, k=k)


def ivf_index_write(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index — the ANN counterpart of dedup's
    fingerprint_index: build once, probe batches forever after without
    rescanning or re-training. Layout:

    - ``{path}/centroids.parquet`` — the bounded model state (C rows);
    - ``{path}/vectors.parquet`` — every vector with its assigned cell,
      written ``partitionBy(cell)`` so probes prune at the FILE level
      (the scale note in ivf_assign's docstring made concrete: a probe
      of nprobe cells reads nprobe directories, not the corpus).

    100-TB shape: one assignment map pass (broadcast centroids kernel) +
    one partitioned write; nothing driver-side but the centroid rows —
    which are collected ONCE and localized, so a centroids frame carrying
    expensive lineage (ivf_refine re-scans the corpus per iteration) is
    never executed twice (once for the write, once inside ivf_assign)."""
    local_cents = _localized(centroids)
    assigned = ivf_assign(df, local_cents, id_col=id_col, vec_col=vec_col)
    _write_model_component(local_cents, f"{path}/centroids.parquet")
    _write_vectors_layout(assigned, path)
    # a rebuild over a former IVF-PQ / OPQ directory must not leave its
    # model files behind: stats, adds and probes autodetect the IVF-PQ
    # layout from codebooks.parquet and apply rotation.parquet when present
    index_store.clear_on_rebuild(
        df.sparkSession, path, "codebooks.parquet", "rotation.parquet"
    )


def ivf_index_add(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
) -> None:
    """Incrementally ADD vectors to a persisted IVF or IVF-PQ index (layout
    autodetected; ``ivf_pq_index_add`` is the same function) — the index
    lifecycle's middle step (build once → add batches forever → probe),
    the faiss ``IndexIVF.add`` analog and the ANN twin of the incremental
    dedup index. New vectors are assigned with the SAVED centroids and,
    on IVF-PQ, mapped through the saved OPQ rotation and encoded with the
    SAVED residual codebooks (one bounded model read + broadcast kernels
    — the index is never rescanned, the model never retrained), then
    appended into the same partitionBy(cell) layout, so existing probe
    plans keep pruning correctly over both generations.

    Standard IVF caveat (faiss semantics): adds move neither centroids
    nor codebooks; if the data distribution drifts far from the training
    set, rebuild with fresh centroids rather than adding forever."""
    (
        _prepare_add_frame(spark, path, df, id_col, vec_col, max_cells)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/vectors.parquet")
    )


ivf_pq_index_add = ivf_index_add


def ivf_index_topk(
    spark,
    path: str,
    query,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
) -> DataFrame:
    """Probe a persisted IVF index: centroids load driver-side
    (cap-guarded — they are model state, O(sqrt N) by construction), the
    nprobe nearest cells are ranked with the SAME left-fold cosine and
    (cosine DESC, cell ASC) tie order as ivf_topk's distributed probe,
    and the vectors scan carries a ``cell IN (...)`` predicate on the
    PARTITION column — Catalyst prunes to nprobe directories before a
    single row is read (plan-pinned in tests). Result is identical to
    running ivf_topk over the index's source frame.

    Reads the index as plain IVF (``_open_ann_index(layout="ivf")``), so
    a layout carrying ``rotation.parquet`` is refused: a rotation is
    only valid paired with PQ codebooks (the OPQ IndexPreTransform), and
    a plain-IVF probe has no rotated space to map the query into."""
    ix = _open_ann_index(spark, path, max_cells, layout="ivf")
    return _probe_ann(
        ix, query, ix.scan, k, nprobe, id_col=id_col, vec_col=vec_col
    )


def _ivf_probe_cells(cent_rows, qvec, nprobe: int) -> "list[int]":
    """The coarse plain-IVF probe of ``_probe_ann``: rank ``(cell,
    centroid)`` pairs by the same left-fold cosine and (cosine DESC, cell
    ASC) tie order as ivf_topk's distributed probe; return the ``nprobe``
    nearest cell ids. Degenerate inputs score -inf instead of raising
    (the _ivf_pq_probe_tables null-degrade twin): a zero-norm query
    probes the lowest cells deterministically, a zero-norm centroid is
    never preferred — one bad streamed query must not kill a whole
    serving micro-batch."""
    q = np.array(qvec, dtype=np.float64)
    qn = float(np.sqrt(_fold_sum_cols(q[None, :] * q[None, :])[0]))
    ranked = []
    for cell, cv in cent_rows:
        c = np.array(cv, dtype=np.float64)
        cn = float(np.sqrt(_fold_sum_cols(c[None, :] * c[None, :])[0]))
        den = qn * cn
        cs = (
            float(_fold_dot_mat(q[None, :], c[None, :])[0]) / den
            if den > 0.0
            else float("-inf")
        )
        ranked.append((-cs, int(cell)))
    return [cell for _, cell in sorted(ranked)[:nprobe]]


def rp_weight(table: int, dim: int) -> float:
    """Deterministic pseudo-random projection weight in [-1, 1): derived
    from md5 of "table,dim" exactly like dedup.portable_hash60, so an
    external SQL engine regenerates the identical projection matrix
    (md5 -> first 15 hex digits -> % 2001 -> shift/scale). Replaces the
    JVM-private RNG that kept the library LSH rows-only-checkable."""
    import hashlib

    h = int(hashlib.md5(f"{table},{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _rp_matrix(num_tables: int, dim: int) -> "np.ndarray":
    """(dim, num_tables) float64 projection matrix of rp_weight values."""
    return np.array(
        [[rp_weight(t, d) for t in range(num_tables)] for d in range(dim)],
        dtype=np.float64,
    )


def _rp_bucket_row(vec, w: "np.ndarray", bucket_length: float) -> list[int]:
    """Driver-side bucket computation for ONE vector (the query side):
    identical fold order and IEEE ops as the Arrow kernel below."""
    x = np.array([vec], dtype=np.float64)  # (1, dim)
    buckets = []
    for t in range(w.shape[1]):
        d = _fold_sum_cols(x * w[None, :, t])[0]
        buckets.append(int(np.floor(d / bucket_length)))
    return buckets


def rp_lsh_buckets(
    df: DataFrame,
    num_tables: int = 8,
    bucket_length: float = 2.0,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Add one (table, bucket) row per hash table: bucket =
    floor(dot(v, w_t) / bucket_length) with the deterministic projection
    matrix above. A pure map + posexplode — no shuffle, no learned state.

    All ``num_tables`` projections are computed in ONE Arrow-vectorized
    kernel ((n,d) batch against the (d,t) weight matrix) instead of
    ``num_tables`` interpreted ``aggregate``-HOF folds — the CodegenFallback
    tier was the round-4 scan bottleneck (see module docstring). The kernel
    replicates the SQL fold bit-for-bit: float32 widens exactly to float64,
    per-table products left-fold over dims (_fold_sum_cols), and np.floor /
    the division are the same correctly-rounded IEEE ops F.floor performed,
    so the DuckDB oracle (corpus_ext._rp_proj_sql) still hash-matches.

    ``dim`` must be threaded by the caller — plan construction fires no
    Spark job (round-4 verdict: no metadata .first() probes)."""
    if dim is None:
        raise ValueError(
            "rp_lsh_buckets requires dim= (thread it from the caller; "
            "probing the data would fire a Spark job at plan time)"
        )
    w = _rp_matrix(num_tables, dim)  # (dim, t) — closed over, tiny
    inv_like = float(bucket_length)

    @F.pandas_udf("array<bigint>")
    def _buckets(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        x = np.array(v.tolist(), dtype=np.float64)  # (n, dim), exact widen
        out = np.empty((x.shape[0], w.shape[1]), dtype=np.int64)
        for t in range(w.shape[1]):
            dots = _fold_sum_cols(x * w[None, :, t])  # SQL fold order
            out[:, t] = np.floor(dots / inv_like).astype(np.int64)
        return pd.Series(list(out))

    return (
        df.withColumn("_bk", _buckets(F.col(vec_col)))
        .select("*", F.posexplode("_bk").alias("table", "bucket"))
        .drop("_bk")
    )


def rp_lsh_topk(
    df: DataFrame,
    query,
    k: int = 10,
    num_tables: int = 8,
    bucket_length: float = 2.0,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection LSH ANN with MULTI-PROBE: candidates share the
    query's bucket in any table, or any bucket within ±multiprobe of it
    (probing adjacent buckets recovers near-boundary neighbors that
    single-bucket LSH loses — the classic multi-probe recall lever, at the
    cost of scanning (2*multiprobe+1)x buckets instead of more tables).

    Scale shape: data-side bucketing is ONE Arrow-kernel map + posexplode;
    the query's probe set — num_tables x (2*multiprobe+1) (table, bucket)
    pairs — is computed DRIVER-side from the query vector (model-state tier:
    bounded, no Spark subtree) and broadcast as a local relation. The
    candidate set is the union of those buckets, then exact cosine top-k.
    Every stage is deterministic and SQL-replayable (corpus_ext's oracle)."""
    qvec = _as_qvec(query)
    dim = len(qvec)
    w = _rp_matrix(num_tables, dim)
    q_buckets = _rp_bucket_row(qvec, w, bucket_length)
    # The probe set is MODEL STATE (num_tables x (2*multiprobe+1) pairs,
    # known at plan time), so candidate generation fuses into the
    # bucketing kernel as a per-table membership test: one map + filter,
    # no posexplode row blowup, no join, no dropDuplicates — nothing
    # shuffles before the top-k. The general (table, bucket) relation
    # remains available via rp_lsh_buckets for pair-mining callers.
    allowed = [
        np.array(
            [b + off for off in range(-multiprobe, multiprobe + 1)],
            dtype=np.int64,
        )
        for b in q_buckets
    ]
    inv_like = float(bucket_length)

    @F.pandas_udf("boolean")
    def _probe_hit(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=bool)
        x = np.array(v.tolist(), dtype=np.float64)  # (n, dim), exact widen
        hit = np.zeros(x.shape[0], dtype=bool)
        for t in range(w.shape[1]):
            dots = _fold_sum_cols(x * w[None, :, t])  # SQL fold order
            buckets = np.floor(dots / inv_like).astype(np.int64)
            hit |= np.isin(buckets, allowed[t])
        return pd.Series(hit)

    candidates = df.filter(_probe_hit(F.col(vec_col))).select(id_col, vec_col)
    return brute_force_topk(candidates, qvec, id_col=id_col, vec_col=vec_col, k=k)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_vec"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale = 127/max|x|,
    q_i = floor(x_i * scale + 0.5). At 100 TB this is the memory lever for
    ANN — int8 vectors are 4x smaller than float32 (16 GB/billion 128-d
    vectors instead of 64), quadrupling what fits in executor memory or one
    shuffle partition, and int dot products are exact int64 arithmetic.

    floor(x + 0.5) instead of round(): engines disagree on round-half
    (Spark HALF_UP, DuckDB half-even for doubles) but floor is universal,
    so the quantized codes — and everything downstream — are
    engine-reproducible. All-zero vectors get scale 0 -> all-zero codes
    (guarded; cosine against them is undefined anyway)."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("int"))
    return df.withColumn(out_col, q)


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two int-code arrays (order-independent —
    integer addition is associative, unlike the float fold in dot())."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    df: DataFrame,
    query,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-stage ANN over int8-quantized codes: (1) scan with the EXACT
    int64 cosine of the quantized codes (per-vector scales cancel in
    cosine), keep the top k*rerank_factor candidates; (2) rerank those few
    with the exact float cosine and return the top k.

    The scan stage reads 4x less than float32 brute force and does integer
    multiply-adds; the rerank touches only k*rerank_factor rows. Quantized
    and exact cosines differ by O(1/127) per component, so a small rerank
    margin recovers exact top-k in practice (the recall gate in
    tests/test_similarity.py measures it). Every stage is deterministic:
    int dots are exact, and the one float division per candidate follows the
    same expression tree in any engine.

    The scan fuses quantize + int-cosine in one Arrow kernel (execution-tier
    rationale in the module docstring) with identical arithmetic: floor(x *
    (127/max|x|) + 0.5) codes, exact int64 dots (bounded far below 2^53, so
    the double conversions are exact), one sqrt/division chain per row. The
    relational quantize_int8/int_dot remain the stored-codes path — at scale
    the codes are a persisted int8 column, not recomputed per query."""
    qvec = _as_qvec(query)
    q64 = np.array(qvec, dtype=np.float64)
    qa = np.abs(q64).max()
    qscale = 127.0 / qa if qa > 0 else 0.0
    qq = np.floor(q64 * qscale + 0.5).astype(np.int64)
    q_selfdot = float((qq * qq).sum())  # exact int64 -> exact double

    @F.pandas_udf("double")
    def _qcos(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        x = np.array(v.tolist(), dtype=np.float64)
        amax = np.abs(x).max(axis=1)
        scale = np.where(amax > 0, 127.0 / amax, 0.0)
        q = np.floor(x * scale[:, None] + 0.5).astype(np.int64)
        num = (q * qq[None, :]).sum(axis=1).astype(np.float64)
        den = np.sqrt((q * q).sum(axis=1).astype(np.float64)) * np.sqrt(q_selfdot)
        return pd.Series(num / den)

    candidates = (
        df.select(F.col(id_col), F.col(vec_col), _qcos(F.col(vec_col)).alias("_acs"))
        .orderBy(F.desc("_acs"), F.asc(id_col))
        .limit(k * rerank_factor)
        .select(id_col, vec_col)
    )
    return brute_force_topk(candidates, qvec, id_col=id_col, vec_col=vec_col, k=k)


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a deterministic sequential left fold (same
    engine-reproducibility argument as dot())."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


# rp_weight table id reserved for the PQ init projection direction
PQ_PROJ_TABLE = 100


def _subspace_means(subs: DataFrame) -> DataFrame:
    """Per-(sub, cell) centroid as deterministic decimal-mean components
    (mean_centroids generalized to subspace codebooks): one (sub, cell, pos)
    shuffle of cardinality m x k x dsub after map-side partial aggregation,
    independent of N."""
    return (
        subs.select("sub", "cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("sub", "cell", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(27,7)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mv")
        )
        .groupBy("sub", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pm"))
        .select(
            "sub", "cell", F.transform("pm", lambda s: s["mv"]).alias("centroid")
        )
    )


def materialize_codebooks(cb: DataFrame) -> DataFrame:
    """Collect a (sub, cell, centroid) codebook and recreate it as a local
    relation, severing its lineage.

    A codebook is model state, not data — m*k rows (hundreds) regardless of
    corpus size. Leaving it lazy means EVERY consumer (encode's broadcast,
    each Lloyd iteration, the ADC distance table) re-executes the full
    training scan; round-3 profiling showed the q_ann_pq_topk training
    subtree running >=3x (13.0 s at sf0.1). Collecting once and
    re-parallelizing makes each consumer read ~256 local rows instead.
    Values are bit-preserved: doubles round-trip exactly through the
    driver (IEEE binary64 either side), so oracle hashes are unchanged."""
    rows = [(r["sub"], r["cell"], list(r["centroid"])) for r in cb.collect()]
    return local_frame(
        cb.sparkSession, rows, "sub int, cell int, centroid array<double>"
    )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    refine_iterations: int = 0,
    dim: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Product-quantization codebooks: split each vector into ``m``
    subvectors and learn ``k`` centroids per subspace.

    Init must be SPATIALLY diverse — any random partition's means all
    collapse to the global subspace mean (measured recall@10 0.1 on the
    synthetic embeddings). Each subvector is projected onto a deterministic
    pseudo-random direction (rp_weight, engine-reproducible) and cells are
    equal-width bins of that projection between the subspace's min/max — a
    pure map after one tiny per-subspace min/max aggregate, no window, no
    per-subspace serialization. ``refine_iterations`` of per-subspace Lloyd
    (pq_refine) then tighten the codebooks; measured on sf0.1: init-only
    0.4 recall@10 -> 1 iter 0.8 -> 2 iters 0.9 (rerank_factor=8).

    Every stage (projection fold, equal-width binning, decimal means,
    argmin encoding) replays exactly in SQL. Requires dim % m == 0.

    Pass ``dim`` when known (it usually is — it's the embedding model's
    output width) to skip a metadata ``.first()`` probe. ``materialize``
    (default) collects the finished m*k-row codebook to a local relation so
    downstream consumers don't re-run the training scan."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    direction = [rp_weight(PQ_PROJ_TABLE, d) for d in range(dsub)]
    # Pass 1 — per-subspace projection min/max as ONE narrow flat-codegen
    # aggregate (2m scalars) over the unexploded vectors; the former shape
    # exploded to m rows per vector first, paying the m-fold row blowup and
    # a broadcast join in both passes. The 16 (lo, hi) pairs are model
    # state, collected and folded into pass 2 as literals.
    aggs = []
    for s in range(m):
        p = dot_flat(F.col(vec_col), direction, offset=s * dsub)
        aggs += [F.min(p).alias(f"_lo{s}"), F.max(p).alias(f"_hi{s}")]
    rng = df.agg(*aggs).first()
    # Pass 2 — equal-width cell per subspace (pure map, literal bounds; the
    # (hi-lo)/k step and the comparison happen in binary64 exactly as the
    # former column expressions did), then the same posexplode->slice->
    # decimal-means shape the Lloyd iterations use.
    cell_exprs = []
    for s in range(m):
        lo, hi = rng[f"_lo{s}"], rng[f"_hi{s}"]
        p = dot_flat(F.col(vec_col), direction, offset=s * dsub)
        if lo is not None and hi is not None and hi > lo:
            cell = F.least(
                F.lit(k - 1),
                F.floor((p - F.lit(lo)) / F.lit((hi - lo) / k)).cast("int"),
            )
        else:
            cell = F.lit(0)
        cell_exprs.append(cell.cast("int"))
    subs = (
        df.select(F.col(vec_col), F.posexplode(F.array(*cell_exprs)).alias("sub", "cell"))
        .select(
            "sub",
            "cell",
            F.slice(F.col(vec_col), F.col("sub") * dsub + 1, F.lit(dsub)).alias("v"),
        )
    )
    cb = _subspace_means(subs)
    if materialize:
        cb = materialize_codebooks(cb)
    if refine_iterations:
        cb = pq_refine(
            df, cb, iterations=refine_iterations, vec_col=vec_col,
            m=m, dsub=dsub, materialize=materialize,
        )
    return cb


def pq_train_driver(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    refine_iterations: int = 0,
    cap: int = 1_000_000,
) -> DataFrame:
    """Driver-side PQ codebook training — the faiss-style production shape:
    quantizer codebooks train on a BOUNDED sample (industry practice is
    ~100k-1M vectors regardless of corpus size), so the training set fits on
    the driver and the whole init+Lloyd loop runs as local numpy/Decimal
    arithmetic instead of 2+2*iterations distributed jobs whose fixed
    codegen/scheduling cost dwarfs the math. The caller bounds the sample
    (e.g. operators.sampling.hash_sample for a deterministic gate); ``cap``
    is a guard against accidentally collecting an unbounded table.

    Bit-identical to pq_train on the same training set, so oracle hashes
    are unchanged:
    - projections/distances: left-fold binary64 chains (numpy elementwise,
      never np.sum's pairwise regrouping);
    - binning: same (hi-lo)/k step, floor, clamp in binary64;
    - centroid means: per-(sub, cell, dim) sums in Python Decimal quantized
      HALF_UP to scale 7 — Decimal(repr(x)) reproduces the JVM's
      Double.toString shortest-representation conversion — cast to double,
      divided by the member count (exactly _subspace_means' decimal recipe;
      decimal sums are exact, hence order-insensitive, so sample ORDER
      doesn't matter, only the sample set);
    - Lloyd assignment: first-minimum argmin over cell-ascending centroids
      = lowest distance, ties to lowest cell.
    Returns a local-relation (sub, cell, centroid) codebook like
    materialize_codebooks. The distributed pq_train remains for training
    sets too large to collect."""
    from decimal import ROUND_HALF_UP, Decimal

    # limit(cap+1) BEFORE collecting (opq_train_driver's pattern): the
    # guard must bound driver memory, not report the overflow after a
    # full unbounded collect already paid for it.  cap+1 rows detects
    # the overflow in the same single job.
    rows = df.select(vec_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"pq_train_driver: training frame holds more than cap={cap} "
            "rows; bound the sample (e.g. _bounded_train_frame / "
            "sampling.hash_sample) before training"
        )
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    direction = [rp_weight(PQ_PROJ_TABLE, d) for d in range(dsub)]

    def fold_dot(xs):
        acc = xs[:, 0] * direction[0]
        for i in range(1, dsub):
            acc = acc + xs[:, i] * direction[i]
        return acc

    quantum = Decimal("1e-7")

    def decimal_mean_centroid(members):
        out = []
        for d in range(members.shape[1]):
            s = Decimal(0)
            for v in members[:, d]:
                s += Decimal(repr(float(v))).quantize(quantum, ROUND_HALF_UP)
            out.append(float(s) / float(members.shape[0]))
        return out

    def means(assign):
        cb = []
        for s in range(m):
            xs = x[:, s * dsub : (s + 1) * dsub]
            for cell in sorted(set(assign[:, s].tolist())):
                cb.append(
                    (s, int(cell), decimal_mean_centroid(xs[assign[:, s] == cell]))
                )
        return cb

    # init: equal-width bins of the deterministic projection
    assign = np.empty((x.shape[0], m), dtype=np.int64)
    for s in range(m):
        p = fold_dot(x[:, s * dsub : (s + 1) * dsub])
        lo, hi = float(p.min()), float(p.max())
        if hi > lo:
            assign[:, s] = np.minimum(
                k - 1, np.floor((p - lo) / ((hi - lo) / k)).astype(np.int64)
            )
        else:
            assign[:, s] = 0
    cb_rows = means(assign)

    for _ in range(refine_iterations):
        for s in range(m):
            cents = sorted((c, cent) for s2, c, cent in cb_rows if s2 == s)
            cells = np.array([c for c, _ in cents], dtype=np.int64)
            mat = np.array([cent for _, cent in cents], dtype=np.float64)
            xs = x[:, s * dsub : (s + 1) * dsub]
            diff = xs[:, None, :] - mat[None, :, :]
            dist = _fold_sum_cols(diff * diff)
            assign[:, s] = cells[np.argmin(dist, axis=1)]
        cb_rows = means(assign)

    return local_frame(
        df.sparkSession,
        [(s, c, cent) for s, c, cent in cb_rows],
        "sub int, cell int, centroid array<double>",
    )


def pq_refine(
    df: DataFrame,
    codebooks: DataFrame,
    iterations: int = 1,
    vec_col: str = "embedding",
    m: int | None = None,
    dsub: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Per-subspace Lloyd refinement (the PQ twin of ivf_refine): iterations
    of (encode every subvector to its nearest centroid, recompute centroids
    as member decimal-means). Deterministic given deterministic input
    codebooks; cells that lose all members disappear (standard
    empty-cluster drop — pq_encode/pq_topk tolerate gaps).

    Pass ``m``/``dsub`` when known to avoid metadata probes; with
    ``materialize`` each iteration's codebook is collected to a local
    relation so iteration i+1's encode doesn't replay iteration i's scan."""
    if dsub is None:
        dsub = len(codebooks.select("centroid").first()[0])
    if m is None:
        m = codebooks.agg(F.max("sub")).first()[0] + 1
    for _ in range(iterations):
        enc = pq_encode(df, codebooks, vec_col=vec_col, dsub=dsub)
        # posexplode(codes): position IS the subspace index, and the codes
        # expression is referenced exactly once — an explode over an array
        # of per-sub structs would inline the full encode expression m times
        # via projection collapse.
        subs = enc.select(
            F.col(vec_col), F.posexplode("codes").alias("sub", "cell")
        ).select(
            "sub",
            "cell",
            F.slice(F.col(vec_col), F.col("sub") * dsub + 1, F.lit(dsub)).alias("v"),
        )
        codebooks = _subspace_means(subs)
        if materialize:
            codebooks = materialize_codebooks(codebooks)
    return codebooks


def _collect_codebooks(codebooks: DataFrame) -> list[tuple[int, int, list[float]]]:
    """Codebooks as driver-side (sub, cell, centroid) tuples, (sub, cell)
    ascending. m*k rows by construction — a local_frame's rows ride along
    driver-side, so this usually schedules no Spark job at all."""
    from ..io import local_rows_of

    src = local_rows_of(codebooks)
    return sorted(
        (r["sub"], r["cell"], list(r["centroid"]))
        for r in (src if src is not None else codebooks.collect())
    )


def _nest_by_sub(rows) -> list:
    """(sub, cell, payload) rows -> [(sub, [(cell, payload), ...]), ...],
    sub-major, cell-ascending — the ordering on which ADC's deterministic
    fold order relies."""
    by_sub: dict[int, list] = {}
    for sub, cell, payload in rows:
        by_sub.setdefault(sub, []).append((cell, payload))
    return [(sub, sorted(cells)) for sub, cells in sorted(by_sub.items())]


def dot_flat(vec: Column, weights: list[float], offset: int = 0) -> Column:
    """Dot product of an array-column slice with a short driver-side vector
    as flat codegen-able arithmetic; same left-fold op order as dot().
    Only for SHORT vectors (a few terms): per-term Column operators cross
    Py4J at build time and the tree grows per term — for long vectors or
    per-centroid loops use the vectorized Arrow kernels below instead
    (measured: unrolling the full m*k PQ argmin this way cost ~10 s of
    driver-side expression building plus seconds of codegen compile)."""
    acc = F.lit(0.0)
    for i, w in enumerate(weights):
        acc = acc + F.element_at(vec, offset + i + 1).cast("double") * F.lit(float(w))
    return acc


def _fold_sum_cols(sq) -> "object":
    """Left-fold sum over the trailing numpy axis replicating the SQL
    aggregate fold ((0+v0)+v1)+... bit-for-bit: numpy's own sum() uses
    pairwise summation, which regroups adds and can differ in the last
    ulp."""
    acc = sq[..., 0].copy()
    for t in range(1, sq.shape[-1]):
        acc += sq[..., t]
    return acc


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    dsub: int | None = None,
) -> DataFrame:
    """Encode every vector as ``m`` one-byte codes: codes[s] = the subspace
    centroid minimizing squared L2 to subvector s (ties -> lowest cell).
    Encoding is a pure map — at 100 TB the codes are the memory lever
    beyond int8: 64 float32 dims (256 B) compress to m bytes, so a
    billion-vector index fits in a few executors' memory for the ADC scan.

    The codebook is model state (m*k rows by construction, independent of
    corpus size) collected driver-side and closed over by an
    Arrow-vectorized pandas UDF — the same escape-hatch tier this engine
    uses for multimodal codecs. Why not pure relational: the HOF-lambda
    argmin is CodegenFallback (interpreted, measured ~0.65 ms/row = ~1.5k
    rows/s/core — a real bottleneck at corpus scale), and unrolling m*k
    centroids to flat literal expressions costs ~10 s of Py4J expression
    building plus seconds of codegen compile per job. The numpy kernel
    replicates the SQL semantics bit-for-bit: float32 widens exactly to
    float64, (x-y)*(x-y) terms left-folded over dsub (_fold_sum_cols), and
    argmin over cell-ascending candidates takes the FIRST minimum — i.e.
    lowest distance, ties to lowest cell, exactly array_min's lexicographic
    (d, cell) order. The driver's DuckDB hash gate verifies the bit-identity
    every round."""
    cb_rows = _collect_codebooks(codebooks)
    if dsub is None:
        dsub = len(cb_rows[0][2])
    d_sub = dsub
    per_sub = [
        (
            sub,
            np.array([cell for cell, _ in cents], dtype=np.int32),
            np.array([cent for _, cent in cents], dtype=np.float64),
        )
        for sub, cents in _nest_by_sub(cb_rows)
    ]

    @F.pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        x = np.array(v.tolist(), dtype=np.float64)  # float32 -> exact binary64
        codes = np.empty((x.shape[0], len(per_sub)), dtype=np.int32)
        for j, (sub, cells, cents) in enumerate(per_sub):
            xs = x[:, sub * d_sub : (sub + 1) * d_sub]
            diff = xs[:, None, :] - cents[None, :, :]
            dist = _fold_sum_cols(diff * diff)  # (n, k), SQL fold order
            codes[:, j] = cells[np.argmin(dist, axis=1)]  # first min = lowest cell
        return pd.Series(list(codes))

    return df.select(*df.columns, _codes(F.col(vec_col)).alias("codes"))


def pq_topk(
    encoded: DataFrame,
    codebooks: DataFrame,
    query,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dsub: int | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): precompute the
    query's squared-L2 table against every subspace centroid (m x k doubles,
    broadcast), score each vector as the SUM of table entries selected by
    its codes — m array lookups and adds per vector, no float-vector reads —
    then exactly rerank the k*rerank_factor best candidates on the original
    vectors. Returns (id, l2sq) ascending.

    Determinism: the per-vector sum folds over subspaces in ascending sub
    order (the distance-table literal is sub-sorted), so the approximate
    distances — and therefore the candidate cut — replay exactly in SQL.

    The m x k query-to-centroid distance table is computed DRIVER-side with
    the same left-fold binary64 arithmetic the JVM fold performed
    (float32 operands widen exactly; (x-y)^2 accumulated left-to-right), so
    every table entry is bit-identical to the former DataFrame computation.
    The scan, shortlist and rerank are the IVF-PQ probe's kernel
    (_adc_shortlist_topk) with the whole frame as one cell: one Python
    pass, one job on collect. A code past its subspace table raises
    ValueError; a code on a dropped cell's NaN slot scores NULL, which
    sorts first."""
    cb_rows = _collect_codebooks(codebooks)
    if dsub is None:
        dsub = len(cb_rows[0][2])
    qvec = _as_qvec(query)
    tables = _adc_tables(_nest_by_sub(cb_rows), qvec, dsub)
    return _adc_shortlist_topk(
        encoded, {0: tables}, qvec, k, rerank_factor, id_col, vec_col, None
    )


def random_projection_lsh_neighbors(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Library path: pyspark.ml BucketedRandomProjectionLSH
    approxNearestNeighbors (euclidean). Seeded -> deterministic plan."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(vecs)
    from pyspark.ml.linalg import Vectors

    return model.approxNearestNeighbors(vecs, Vectors.dense(query_vec), k).select(
        id_col, F.col("distCol").alias("distance")
    )


def euclidean_to_query_kernel(qvec: list[float]):
    """Arrow-vectorized euclidean distance to a fixed query vector:
    sqrt of the left-fold of squared diffs — float32->float64 widening is
    exact, the per-element subtract/square and the sequential fold are
    the same correctly-rounded IEEE ops DuckDB's list_reduce performs, so
    the distances hash-match the oracle bit-for-bit."""
    q64 = np.array(qvec, dtype=np.float64)

    @F.pandas_udf("double")
    def _dist(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=np.float64)
        x = np.array(v.tolist(), dtype=np.float64)
        d = x - q64[None, :]
        return pd.Series(np.sqrt(_fold_sum_cols(d * d)))

    return _dist


def rp_lsh_recall_audit(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    floor: float = 0.8,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The MLlib BucketedRandomProjectionLSH path upgraded to the audit
    contract: its random projections live in MLlib's JVM-private RNG, so
    the approximate RESULT is not portably reproducible — but its quality
    is. Output = the EXACT euclidean top-k witness (oracle-replayable
    fold distances) + ``recall_ok`` pinned TRUE iff the seeded LSH
    neighbors hit >= ``floor`` of the exact set (deterministic for a
    fixed seed and input). Turns the one remaining rows-only ANN query
    into a fully value-verified row, exactly like the CMS/HLL/GK audits:
    the estimate never leaves the plan, the guarantee does."""
    approx_ids = {
        r[id_col]
        for r in random_projection_lsh_neighbors(
            df, query_vec, id_col, vec_col, k, bucket_length, num_tables, seed
        )
        .select(id_col)
        .collect()  # k-bounded
    }
    exact, _, ok = exact_topk_witness(
        df, query_vec, approx_ids, k, floor, id_col=id_col, vec_col=vec_col
    )
    return exact.withColumn("recall_ok", F.lit(ok)).orderBy(
        F.asc("distance"), F.asc(id_col)
    )


def exact_topk_witness(
    df: DataFrame,
    query_vec: "list[float]",
    approx_ids,
    k: int,
    floor: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, list, bool]":
    """The audit contract every ANN audit shares: the EXACT euclidean
    top-``k`` of ``df`` to ``query_vec`` (oracle-replayable fold
    distances, ties to the lower id) and whether the approximate probe's
    ``approx_ids`` hit >= ``floor`` of it. Returns ``(exact, exact_ids,
    recall_ok)``: ``exact`` is the ``(id_col, distance)`` witness,
    localCheckpointed so the corpus scan runs once for both the check
    and the caller's output; ``exact_ids`` are its ids in distance
    order. The recall denominator is the ACTUAL witness size, not k: a
    corpus smaller than k would otherwise fail the floor even at 100%
    recall (an empty witness passes)."""
    exact = (
        df.select(
            F.col(id_col),
            euclidean_to_query_kernel(query_vec)(F.col(vec_col)).alias("distance"),
        )
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
        .localCheckpoint()
    )
    exact_ids = [r[id_col] for r in exact.select(id_col).collect()]  # k-bounded
    hits = len(set(exact_ids) & set(approx_ids))
    return exact, exact_ids, bool(hits >= floor * len(exact_ids))


def _collect_query_matrix(
    queries: DataFrame,
    q_id_col: str,
    vec_col: str,
    max_queries: int,
) -> tuple["np.ndarray", "np.ndarray"]:
    """Materialize the query side driver-side (the broadcast-model-state
    pattern pq_train_driver established: bounded, cap-guarded, collected
    ONCE at operator-build time). A k-NN JOIN's query side is dim-sized by
    definition — if it isn't, block both sides (ivf_knn_join) instead."""
    rows = queries.select(q_id_col, vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"knn_join query side exceeds max_queries={max_queries}; "
            "use ivf_knn_join or raise the cap explicitly"
        )
    rows = sorted((int(r[0]), list(r[1])) for r in rows)
    qids = np.array([i for i, _ in rows], dtype=np.int64)
    qmat = np.array([v for _, v in rows], dtype=np.float64)
    return qids, qmat


def _partial_topk_frame(
    qids: "np.ndarray",
    qmat: "np.ndarray",
    cids: "np.ndarray",
    x: "np.ndarray",
    k: int,
    sel: "np.ndarray | None" = None,
) -> "pd.DataFrame":
    """Per-batch exact partial top-k of corpus rows ``x`` against every
    query in ``qmat`` (optionally only queries selected by ``sel``),
    with cosine arithmetic bit-identical to cosine_to_query_kernel and
    the GLOBAL total order (-cosine, neighbor_id) applied locally so a
    boundary tie can never evict the globally-winning id."""
    xnorm = np.sqrt(_fold_sum_cols(x * x))
    out_q, out_c, out_s = [], [], []
    idxs = range(qmat.shape[0]) if sel is None else sel
    for qi in idxs:
        q = qmat[qi]
        num = _fold_dot_mat(x, q[None, :])
        den = xnorm * np.sqrt(_fold_sum_cols((q * q)[None, :]))
        cos = num / den
        order = np.lexsort((cids, -cos))[:k]
        out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
        out_c.append(cids[order])
        out_s.append(cos[order])
    if not out_q:
        return pd.DataFrame({"q_id": [], "neighbor_id": [], "cosine": []})
    return pd.DataFrame(
        {
            "q_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_c),
            "cosine": np.concatenate(out_s),
        }
    )


def _global_topk(partials: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id_col: str = "vec_id",
    c_id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """EXACT k-nearest-neighbor JOIN: for every query vector, its top-k
    corpus neighbors by cosine — the batch generalization of
    brute_force_topk (one query) that a retrieval/eval pipeline actually
    runs.

    Scale shape: the query matrix broadcasts into ONE Arrow kernel over
    the corpus scan (never a |Q| x |C| crossJoin row blowup — the (n, m)
    dot products exist only inside a numpy batch); each batch emits at
    most m x k partial rows already cut under the global total order
    (-cosine, neighbor_id), and the only shuffle is the final per-query
    top-k over batches x m x k partials. Cosines reuse the exact fold of
    cosine_to_query_kernel, so results are bit-identical to the SQL
    cross-join + window oracle.
    """
    qids, qmat = _collect_query_matrix(queries, q_id_col, vec_col, max_queries)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            cids = pdf["_cid"].to_numpy(dtype=np.int64)
            yield _partial_topk_frame(qids, qmat, cids, x, k)

    partials = corpus.select(
        F.col(c_id_col).cast("long").alias("_cid"), F.col(vec_col).alias("_vec")
    ).mapInPandas(scan, schema="q_id long, neighbor_id long, cosine double")
    return _global_topk(partials, k)


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    q_id_col: str = "vec_id",
    c_id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """IVF-blocked approximate k-NN join: corpus rows are assigned to
    their nearest centroid cell (ivf_assign — one kernel map, no shuffle),
    each query probes only its ``nprobe`` nearest cells, and batches score
    a corpus row against ONLY the queries probing that row's cell. Work
    drops from |Q| x |C| to ~|Q| x |C| x (nprobe / num_cells); recall is
    gated in tests against the exact knn_join. Same partial-top-k /
    single-final-shuffle shape as knn_join."""
    qids, qmat = _collect_query_matrix(queries, q_id_col, vec_col, max_queries)
    cent_rows = sorted(
        (int(r["cell"]), list(r["centroid"])) for r in centroids.collect()
    )
    cells = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cnorm = np.sqrt(_fold_sum_cols(cmat * cmat))
    # per-query probe cells (driver-side: queries are already model state)
    probes: dict[int, list[int]] = {}
    for qi in range(qmat.shape[0]):
        q = qmat[qi]
        cos = _fold_dot_mat(cmat, q[None, :]) / (
            cnorm * np.sqrt(_fold_sum_cols((q * q)[None, :]))
        )
        for c_idx in np.lexsort((cells, -cos))[:nprobe]:
            probes.setdefault(int(cells[c_idx]), []).append(qi)

    assigned = ivf_assign(corpus, centroids, id_col=c_id_col, vec_col=vec_col)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for cell, grp in pdf.groupby("cell"):
                sel = probes.get(int(cell))
                if not sel:
                    continue
                x = np.array(grp["_vec"].tolist(), dtype=np.float64)
                cids = grp["_cid"].to_numpy(dtype=np.int64)
                yield _partial_topk_frame(qids, qmat, cids, x, k, sel=np.array(sel))

    partials = assigned.select(
        F.col(c_id_col).cast("long").alias("_cid"),
        F.col(vec_col).alias("_vec"),
        "cell",
    ).mapInPandas(scan, schema="q_id long, neighbor_id long, cosine double")
    return _global_topk(partials, k)


# --------------------------------------------------------------------------
# IVF-PQ hybrid: coarse cells + product-quantized RESIDUALS (faiss IndexIVFPQ)
# --------------------------------------------------------------------------

def ivf_residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    centroid_vec: str = "centroid",
    out_col: str = "residual",
) -> DataFrame:
    """Append each assigned vector's residual (vector − its cell
    centroid) — what IVF-PQ quantizes: residual magnitudes are much
    smaller than raw vectors, so the same code budget buys far less
    quantization error (the faiss IndexIVFPQ construction). Broadcast
    join on the cell (centroids are model state, O(cells) rows) + one
    elementwise zip — no shuffle of the vector table."""
    cents = centroids.select(F.col(cell_col), F.col(centroid_vec).alias("_cent"))
    resid = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.col("_cent"),
        lambda a, b: a - b,
    )
    return (
        assigned.join(F.broadcast(cents), on=cell_col)
        .select(*assigned.columns, resid.alias(out_col))
    )


def ivf_pq_encode(
    assigned: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    dsub: "int | None" = None,
) -> DataFrame:
    """PQ-encode the RESIDUALS of IVF-assigned vectors: the index build
    step of IVF-PQ. Output carries the original columns + ``codes``; at
    100 TB write it partitioned by cell (ivf_index_write's layout) so
    probes prune files AND scan only m-byte codes."""
    resid = ivf_residuals(assigned, centroids, vec_col=vec_col, cell_col=cell_col)
    encoded = pq_encode(resid, codebooks, vec_col="residual", dsub=dsub)
    return encoded.drop("residual")


def ivf_pq_topk(
    encoded: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    query,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    centroid_vec: str = "centroid",
    dsub: "int | None" = None,
    adc_prune: bool = False,
    prune_phase1: int = 1,
    probe_stats: "dict | None" = None,
    adaptive_nprobe: bool = False,
) -> DataFrame:
    """IVF-PQ ANN top-k — the faiss IndexIVFPQ query path, composed from
    this module's audited pieces:

    1. coarse probe: score the query against the (driver-side, model
       state) centroids by the same left-fold cosine as ivf_assign; keep
       the ``nprobe`` nearest cells (ties to lowest cell);
    2. per-cell ADC tables: for each probed cell, the query RESIDUAL
       (q − centroid_cell) builds an m x k squared-L2 table against the
       shared residual codebooks — nprobe tiny tables, driver-side, the
       same left-fold binary64 arithmetic as pq_topk's;
    3. ADC scan: candidates = encoded rows of the probed cells (the
       ``cell IN (...)`` filter of _scan_cells, which prunes to nprobe
       partitions when the index is written partitioned by cell); each
       row's approximate distance = sum of its cell's table entries
       selected by its codes, folded sub-ascending;
    4. exact rerank: the k*rerank_factor best candidates re-scored by
       exact squared L2 on the ORIGINAL vectors; top-k ascending.

    Returns ``(id_col, l2sq)``. Stale codes (out of table range) raise
    with the pq_topk diagnosis; dropped-cell NaN slots surface NULLs
    first, same contract. ``adc_prune=True`` adds the residual-aware
    cell pruning the persisted probe has (ivf_pq_index_topk's
    exactness-guaranteed contract via the shared _adc_pruned_tables) —
    identical output, fewer cells scanned when the geometry separates
    them. ``adaptive_nprobe=True`` ignores ``nprobe`` and scans by the
    Best-Bin-First bound instead (ivf_pq_index_topk's contract:
    bit-identical to the exhaustive all-cells probe)."""
    cent_rows = sorted(
        (r[cell_col], [float(x) for x in r[centroid_vec]])
        for r in centroids.collect()
    )

    return _probe_ann(
        _AnnIndex("ivf-pq", cent_rows, _collect_codebooks(codebooks), dsub),
        query, lambda cells: _scan_cells(encoded, cells, cell_col),
        k, nprobe, rerank_factor, id_col, vec_col, cell_col,
        adc_prune, prune_phase1, probe_stats, adaptive_nprobe,
    )


def _probe_ann(
    ix: "_AnnIndex",
    query,
    scan,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    adc_prune: bool = False,
    prune_phase1: int = 1,
    probe_stats: "dict | None" = None,
    adaptive_nprobe: bool = False,
) -> DataFrame:
    """THE per-query IVF / IVF-PQ probe behind every query surface — the
    persisted single-query probes, ann_index_search_many's per-query loop
    and the in-memory ivf_pq_topk. ``ix`` is the model state
    (``_open_ann_index``), ``scan(cells)`` returns the candidate rows of
    those cells (_scan_cells over the persisted index's vectors, or over
    ivf_pq_topk's encoded frame). The raw query is first mapped into
    the index space (the OPQ rotation, when ``ix`` has one).

    - plain IVF: the ``nprobe`` centroid-nearest cells
      (``_ivf_probe_cells``), exact cosine top-k — ``(id, cosine)``;
      ``adc_prune`` has no codes to prune with and is ignored;
    - IVF-PQ: per-cell ADC tables (``_ivf_pq_probe_tables``; every cell
      when adaptive), then the adaptive Best-Bin-First rounds
      (``_adaptive_pruned_tables``) or the adc_prune phase
      (``_adc_pruned_tables``), then the ADC scan and exact rerank
      (``_adc_shortlist_topk``) over the kept cells — ``(id, l2sq)``;
      after the adaptive rounds the scan is first filtered to their
      shortlist ids. ``probe_stats`` receives the scanned/pruned cells.

    The returned frame is lazy and collects in ONE Spark job: one scan
    of the kept cells and one Python pass, whose per-partition cut hands
    the JVM at most ``k*rerank_factor`` rows per scan partition. Only
    the adc_prune phase-1 and the adaptive rounds run jobs before the
    frame is returned (one k*rerank-bounded collect each)."""
    if adaptive_nprobe and adc_prune:
        raise ValueError(
            "adaptive_nprobe subsumes adc_prune — pass one or the other"
        )
    if adaptive_nprobe and ix.layout != "ivf-pq":
        raise ValueError(
            "adaptive_nprobe needs the IVF-PQ layout — the Best-Bin-First "
            "bound comes from the ADC tables; a plain IVF index has no "
            "codes (a silent fixed-nprobe fallback could miss neighbors "
            "the caller believes the bound covered)"
        )
    qvec = _as_qvec(query)
    if ix.rotation is not None:
        r64 = np.array(ix.rotation, dtype=np.float64)
        qvec = [float(v) for v in np.array(qvec, dtype=np.float64) @ r64]
    if ix.layout != "ivf-pq":
        cells = _ivf_probe_cells(ix.centroids, qvec, nprobe)
        return brute_force_topk(
            scan(cells), qvec, id_col=id_col, vec_col=vec_col, k=k
        )
    cell_tables = _ivf_pq_probe_tables(
        ix.centroids, ix.codebooks, qvec,
        len(ix.centroids) if adaptive_nprobe else nprobe, ix.dsub,
    )
    short_ids = None
    if adaptive_nprobe:
        cell_tables, short_ids = _adaptive_pruned_tables(
            scan, cell_tables, cell_col, k, rerank_factor, prune_phase1,
            probe_stats, id_col=id_col,
        )
    elif adc_prune:
        cell_tables = _adc_pruned_tables(
            scan, cell_tables, cell_col, k, rerank_factor, prune_phase1,
            probe_stats,
        )
    elif probe_stats is not None:
        cells0 = [int(c) for c in cell_tables]
        probe_stats.update(
            cells_ranked=list(cells0), cells_scanned=list(cells0),
            pruned_cells=[], threshold=None,
        )
    cands = scan(list(cell_tables))
    if short_ids is not None:
        cands = cands.filter(F.col(id_col).isin(short_ids))
    return _adc_shortlist_topk(
        cands, cell_tables, qvec, k, rerank_factor, id_col, vec_col, cell_col
    )


def _ivf_pq_probe_tables(cent_rows, cb_rows, qvec, nprobe, dsub):
    """Driver-side steps 1–2 of the IVF-PQ query path, shared by the live
    (``ivf_pq_topk``) and persisted (``ivf_pq_index_topk``) probes:

    1. coarse probe — rank ``(cell, centroid)`` pairs by the same
       left-fold cosine as ivf_assign, keep the ``nprobe`` nearest (ties
       to lowest cell);
    2. per probed cell, build the m x k squared-L2 ADC table of the query
       RESIDUAL (q − centroid_cell) against the residual codebook rows.

    Returns ``{cell: [per-sub lookup arrays]}``. Both inputs are bounded
    model state (cells, m*k codebook rows), never corpus-sized."""
    if not cent_rows:
        raise ValueError("ivf_pq probe: empty centroid set")

    def _fold_dot_py(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    qn = _fold_dot_py(qvec, qvec) ** 0.5

    def _probe_score(cv):
        # degenerate inputs score -inf instead of raising: a zero-norm
        # query probes the lowest cells deterministically, a zero-norm
        # centroid is never probed (the SQL cosine's null-degrade twin)
        den = qn * (_fold_dot_py(cv, cv) ** 0.5)
        return _fold_dot_py(qvec, cv) / den if den > 0.0 else float("-inf")

    scored = [(c, _probe_score(cv), cv) for c, cv in cent_rows]
    scored.sort(key=lambda t: (-t[1], t[0]))
    probed = scored[: max(1, int(nprobe))]
    nested = _nest_by_sub(cb_rows)
    return {
        c: _adc_tables(nested, [qx - cx for qx, cx in zip(qvec, cv)], dsub)
        for c, _, cv in probed
    }


def _adc_tables(nested, qr, dsub) -> list:
    """The per-sub ADC lookup arrays of one query (or query residual)
    ``qr`` against the ``_nest_by_sub`` codebook rows: slot ``cell`` of
    array ``sub`` holds the left-fold squared L2 between ``qr``'s
    sub-vector and that codebook centroid. A cell missing from the
    codebook (dropped by refinement) leaves a NaN slot."""
    lookups = []
    for sub, cents in nested:
        ds = []
        for cell, centroid in cents:
            acc = 0.0
            for x, y in zip(qr[sub * dsub : (sub + 1) * dsub], centroid):
                acc = acc + (x - y) * (x - y)
            ds.append((cell, acc))
        arr = np.full(max(c for c, _ in ds) + 1, np.nan)
        for cell, d in ds:
            arr[cell] = d
        lookups.append(arr)
    return lookups


def _adc_distances(c, cl, cell_tables: dict):
    """ADC distances of a batch: ``c`` is the (n, m) code matrix, ``cl``
    each row's cell, ``cell_tables`` ``{cell: per-sub lookup arrays}``.
    A row's distance is its cell's table entries selected by its codes,
    folded sub-ascending. A code past its table raises ValueError (codes
    encoded against a larger codebook); a NaN slot yields NaN, which the
    callers hand to Spark as NULL."""
    acc = np.zeros(c.shape[0])
    for j in range(c.shape[1]):
        cj = c[:, j]
        for cc, lookups in cell_tables.items():
            mask = cl == cc
            if not mask.any():
                continue
            arr = lookups[j]
            sel = cj[mask]
            if sel.min() < 0 or sel.max() >= len(arr):
                bad = int(sel[(sel < 0) | (sel >= len(arr))][0])
                raise ValueError(
                    f"PQ code {bad} out of range for subspace {j} distance "
                    f"table of {len(arr)} cells — codes were encoded against "
                    "a different (larger) codebook; re-encode after training"
                )
            acc[mask] += arr[sel]
    return acc


def _adc_kernel(cell_tables: dict):
    """The ADC column as a pandas UDF over ``(codes, cell)`` — the
    driver-collected threshold scans of the adc_prune phase and the
    adaptive rounds (_adc_distances; NaN → NULL)."""

    @F.pandas_udf("double")
    def _adc(codes: pd.Series, cell: pd.Series) -> pd.Series:
        if codes.empty:
            return pd.Series([], dtype=np.float64)
        acc = _adc_distances(
            np.array(codes.tolist(), dtype=np.int64), cell.to_numpy(),
            cell_tables,
        )
        if np.isnan(acc).any():
            return pd.Series(acc).astype("Float64")
        return pd.Series(acc)

    return _adc


def _adc_shortlist_topk(
    cands: DataFrame,
    cell_tables: dict,
    qvec: list,
    k: int,
    rerank_factor: int,
    id_col: str,
    vec_col: str,
    cell_col: "str | None",
) -> DataFrame:
    """THE ADC shortlist and exact rerank of every IVF-PQ probe mode and
    of the flat ``pq_topk`` (one cell, ``cell_col=None``): the top-k of
    ``cands`` by exact squared L2 among its ``need = k*rerank_factor``
    best rows by ADC distance. Returns ``(id_col, l2sq)`` ascending.

    One ``mapInPandas`` pass over ``cands``; per partition it scores
    every row by ADC (_adc_distances), keeps that partition's ``need``
    best under Spark's own order — ``(_ad ASC NULLS FIRST, id ASC)``, a
    NaN table slot being the NULL that sorts first — and computes the
    exact left-fold L2 (_fold_sum_cols) of those rows only. The global
    cut is two JVM top-N operators over at most ``need`` rows per scan
    partition: the ``need`` best by ``(_ad, id)`` (the same rows a
    global sort would keep, since each of them is within its own
    partition's ``need`` best), then the ``k`` best by ``(l2sq, id)``.
    Both plan as ``TakeOrderedAndProject``, so a collect is one Spark
    job with no range-partitioning sample and the Python pass runs once.
    (An ``orderBy().limit()`` placed below a Python UDF projection plans
    as a global range sort instead, whose sampling job runs the UDF's
    input a second time — the shape this kernel replaced.)"""
    need = k * rerank_factor
    q64 = np.array(qvec, dtype=np.float64)
    cols = [F.col(id_col), F.col(vec_col), F.col("codes")]
    if cell_col is not None:
        cols.append(F.col(cell_col).cast("long").alias("_cell"))
    out_schema = StructType([
        cands.schema[id_col],
        StructField("_ad", DoubleType()),
        StructField("l2sq", DoubleType()),
    ])

    def _shortlist(batches):
        top = None
        for pdf in batches:
            if pdf.empty:
                continue
            cl = (
                pdf["_cell"].to_numpy() if cell_col is not None
                else np.zeros(len(pdf), dtype=np.int64)
            )
            ad = _adc_distances(
                np.array(pdf["codes"].tolist(), dtype=np.int64), cl,
                cell_tables,
            )
            scored = pd.DataFrame(
                {id_col: pdf[id_col], "_ad": ad, "_v": pdf[vec_col]}
            )
            if top is not None:
                scored = pd.concat([top, scored], ignore_index=True)
            top = scored.sort_values(
                ["_ad", id_col], na_position="first", kind="mergesort"
            ).head(need)
        if top is None or top.empty:
            return
        diff = np.array(top["_v"].tolist(), dtype=np.float64) - q64[None, :]
        ad = pd.Series(top["_ad"].to_numpy())
        yield pd.DataFrame({
            id_col: top[id_col].to_numpy(),
            "_ad": ad.astype("Float64") if ad.isna().any() else ad,
            "l2sq": _fold_sum_cols(diff * diff),
        })

    return (
        cands.select(*cols)
        .mapInPandas(_shortlist, out_schema)
        .orderBy(F.asc("_ad"), F.asc(id_col))
        .limit(need)
        .orderBy(F.asc("l2sq"), F.asc(id_col))
        .limit(k)
        .select(id_col, "l2sq")
    )


def _adc_pruned_tables(
    cands_for,
    cell_tables: dict,
    cell_col: str,
    k: int,
    rerank_factor: int,
    prune_phase1: int,
    probe_stats: "dict | None" = None,
) -> dict:
    """The shared adc_prune phase (residual-aware cell pruning with the
    exactness guarantee — see ivf_pq_index_topk's contract): scan the
    ``prune_phase1`` nearest cells via ``cands_for(cells)`` (a frame
    with ``codes`` + the cell column), take the k*rerank-th ADC distance
    as threshold, drop the remaining cells whose ADC lower bound
    (summed per-sub table minima) exceeds it. Returns the (possibly)
    reduced ``{cell: tables}`` dict, probe order preserved; degrades to
    the full dict whenever a sound threshold cannot form (fewer than
    k*rerank phase-1 rows, or a NULL/NaN distance — a code hitting a
    NaN table slot — among them). Shared by the persisted-index probe,
    the live ivf_pq_topk, and the many-query serving path."""
    cells = [int(c) for c in cell_tables]
    if probe_stats is not None:
        probe_stats.update(
            cells_ranked=list(cells), cells_scanned=list(cells),
            pruned_cells=[], threshold=None,
        )
    p1n = max(1, int(prune_phase1))
    if len(cells) <= p1n:
        return cell_tables
    p1 = cells[:p1n]
    shortlist1 = (
        cands_for(p1)
        .select(
            _adc_kernel({c: cell_tables[c] for c in p1})(
                F.col("codes"), F.col(cell_col).cast("long")
            ).alias("_ad")
        )
        .orderBy(F.asc("_ad"))
        .limit(k * rerank_factor)
        .collect()  # k*rerank-bounded
    )
    vals = [r[0] for r in shortlist1]
    if len(shortlist1) < k * rerank_factor or any(
        v is None or math.isnan(v) for v in vals
    ):
        return cell_tables
    t = float(vals[-1])
    lb = {
        c: float(sum(np.nanmin(a) for a in cell_tables[c]))
        for c in cells[p1n:]
    }
    # a NaN lower bound (all-NaN table slot, degenerate codebook) is
    # UNPRUNABLE, not invisible: both `nan <= t` and `nan > t` are
    # false, so without the isnan arm the cell would fall out of kept
    # AND pruned — never scanned, never reported — silently breaking
    # the bit-identity guarantee.  Forcing the scan instead routes the
    # NaN through the documented NULL/NaN rerank degrade path.
    kept = [c for c in cells[p1n:] if math.isnan(lb[c]) or lb[c] <= t]
    pruned = [c for c in cells[p1n:] if not math.isnan(lb[c]) and lb[c] > t]
    if probe_stats is not None:
        probe_stats.update(
            cells_scanned=p1 + kept, pruned_cells=pruned, threshold=t
        )
    return {c: cell_tables[c] for c in p1 + kept}


def _adaptive_pruned_tables(
    cands_for,
    cell_tables: dict,
    cell_col: str,
    k: int,
    rerank_factor: int,
    chunk0: int,
    probe_stats: "dict | None" = None,
    id_col: str = "vec_id",
):
    """Per-query ADAPTIVE nprobe — the Best-Bin-First analog over IVF-PQ
    cells (FLANN's priority search / faiss IVF pruning taken to its
    conclusion): instead of a fixed nprobe, ``cell_tables`` covers ALL
    cells (centroid-cosine rank order) and cells are scanned in rounds
    until the ADC LOWER BOUND of every unscanned cell exceeds the
    current k*rerank_factor-th ADC distance. EXHAUSTIVE-equivalence
    guarantee: the returned scan set yields output bit-identical to
    probing every cell (nprobe = ncells), because the running threshold
    ``t`` only tightens as cells are scanned, so a cell excluded when
    ``lb > t_i >= t_final`` can never hold a final-shortlist row — no
    recall knob to tune, the bound does the tuning per query.

    Rounds: the first chunk is the ``chunk0`` centroid-nearest cells
    (where the true neighbors live — seeds a tight threshold); surviving
    cells are then visited lowest-lower-bound-first (the BBF priority)
    in geometrically growing chunks, so the scan finishes in at most
    O(log ncells) k*rerank-bounded collects. A NULL/NaN ADC value in any
    SCANNED round degrades soundly to scanning every remaining cell;
    like adc_prune, the bound itself assumes the lifecycle's
    code/codebook consistency — a stale-code row hiding in a cell that
    was pruned before being scanned is never seen (its lb skips NaN
    padding slots), so the exhaustive-equivalence guarantee, exactly as
    documented for adc_prune, holds under the write/add lifecycle and
    not across a codebook rebuild without re-encoding. ``probe_stats``
    receives cells_ranked / cells_scanned / pruned_cells / threshold /
    rounds / degraded.

    Returns ``(scanned_tables, shortlist_ids)``. The rounds collect
    ``(id, adc)`` pairs, and merging the per-round top-``need`` lists
    under the (adc, id) total order IS the global ADC shortlist over
    every scanned cell (a row in the global top-need always ranks
    within its own round's top-need under the same order), so the
    caller's closing pass filters the scan to those ids (an ``isin``
    predicate, no job of its own) before the one shortlist kernel:
    every surviving row is within the cut, so the pass is the exact
    rerank. ``shortlist_ids`` is None on the NaN degrade (no sound
    merge; the kernel runs over every scanned cell)."""
    cells = [int(c) for c in cell_tables]
    need = k * rerank_factor
    lb = {c: float(sum(np.nanmin(a) for a in cell_tables[c])) for c in cells}
    chunk = max(1, int(chunk0))
    scanned: "list[int]" = []
    best: "list[tuple]" = []  # (adc, id) — the merged global top-`need`
    pruned: "list[int]" = []
    remaining = list(cells)
    rounds = 0
    threshold = None
    degraded = False
    while remaining:
        take, remaining = remaining[:chunk], remaining[chunk:]
        rounds += 1
        rows = (
            cands_for(take)
            .select(
                F.col(id_col),
                _adc_kernel({c: cell_tables[c] for c in take})(
                    F.col("codes"), F.col(cell_col).cast("long")
                ).alias("_ad"),
            )
            .orderBy(F.asc("_ad"), F.asc(id_col))
            .limit(need)
            .collect()  # k*rerank-bounded per round
        )
        scanned.extend(take)
        if any(r[1] is None or math.isnan(r[1]) for r in rows):
            scanned.extend(remaining)
            remaining = []
            degraded = True
            break
        # per-chunk top-`need` lists merge to the global top-`need`
        # under the same (adc, id) order the classic shortlist sort
        # uses, so boundary ties resolve identically
        best = sorted(best + [(float(r[1]), r[0]) for r in rows])[:need]
        if len(best) >= need:
            threshold = best[-1][0]
            # NaN lower bound => unprunable (see _adc_pruned_tables):
            # keep the cell so its scan triggers the sound NaN degrade
            # instead of silently vanishing from kept AND pruned.
            kept = [
                c for c in remaining
                if math.isnan(lb[c]) or lb[c] <= threshold
            ]
            pruned.extend(
                c for c in remaining
                if not math.isnan(lb[c]) and lb[c] > threshold
            )
            # NaN keys would make the BBF priority sort order undefined
            # (every comparison false) — pin them deterministically last
            remaining = sorted(
                kept,
                key=lambda c: (
                    math.isnan(lb[c]),
                    0.0 if math.isnan(lb[c]) else lb[c],
                    c,
                ),
            )
        chunk *= 2
    if probe_stats is not None:
        probe_stats.update(
            cells_ranked=list(cells), cells_scanned=list(scanned),
            pruned_cells=pruned, threshold=threshold, rounds=rounds,
            degraded=degraded,
        )
    tables = {c: cell_tables[c] for c in scanned}
    if degraded:
        return tables, None
    return tables, [i for _, i in best]


def opq_train_driver(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    lloyd_iters: int = 2,
    cap: int = 1_000_000,
):
    """OPQ — Optimized Product Quantization (Ge/He/Ke/Sun, CVPR 2013;
    the faiss ``OPQMatrix`` pre-transform): learn an ORTHOGONAL rotation
    ``R`` jointly with the PQ codebooks so the rotated space distributes
    variance across subspaces and quantization error drops versus plain
    PQ on the same sample. Deterministic, RNG-free alternation from the
    identity rotation:

    1. codebooks: equal-width bins of the deterministic fold projection
       per subspace (pq_train_driver's init), then warm-started Lloyd —
       each later iteration REFINES the previous centroids instead of
       re-initializing, which is what makes the alternation monotone;
    2. rotation: orthogonal Procrustes — R = U Vᵀ from SVD(Xᵀ Ŷ) where
       Ŷ is the decoded reconstruction, the closed-form minimizer of
       ‖X R − Ŷ‖_F over orthogonal matrices;
    3. re-assign + re-fit on X R and repeat.

    Every step is non-increasing in the shared objective, so the final
    training MSE is ≤ plain PQ's (identity rotation, same init) — the
    guarantee q_ann_opq pins. Training is driver-side numpy over a
    ``cap``-guarded sample (the faiss bounded-train practice;
    float64 means here — OPQ's audit contract pins booleans, not
    cross-engine value hashes, so the Decimal bridge isn't needed).

    Returns ``(rotation, codebooks, audit)``: the dim x dim rotation as
    nested lists, a local ``(sub, cell, centroid)`` codebook relation
    over the ROTATED space (pq_encode/pq_topk-compatible), and
    ``audit = {"mse_pq": float, "mse_opq": float}`` over the training
    sample."""
    rows = df.select(vec_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"opq_train_driver: more than cap={cap} rows — bound the "
            "training sample first (_bounded_train_frame / hash_sample)"
        )
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    direction = np.array([rp_weight(PQ_PROJ_TABLE, d) for d in range(dsub)])

    def init_cents(y):
        # equal-width bins of the deterministic projection, means of the
        # non-empty bins (pq_train_driver's init shape, float64 means)
        per_sub = []
        for s in range(m):
            ys = y[:, s * dsub : (s + 1) * dsub]
            p = ys @ direction
            lo, hi = float(p.min()), float(p.max())
            if hi > lo:
                a = np.minimum(
                    k - 1, np.floor((p - lo) / ((hi - lo) / k)).astype(np.int64)
                )
            else:
                a = np.zeros(n, dtype=np.int64)
            cells = np.array(sorted(set(a.tolist())), dtype=np.int64)
            cents = np.stack([ys[a == c].mean(axis=0) for c in cells])
            per_sub.append((cells, cents))
        return per_sub

    def assign(y, per_sub):
        # first-minimum argmin (ties -> lowest cell), per subspace;
        # returns positional indices into each sub's centroid matrix
        idx = np.empty((n, m), dtype=np.int64)
        for s, (cells, cents) in enumerate(per_sub):
            ys = y[:, s * dsub : (s + 1) * dsub]
            diff = ys[:, None, :] - cents[None, :, :]
            idx[:, s] = np.argmin(_fold_sum_cols(diff * diff), axis=1)
        return idx

    def decode(idx, per_sub):
        out = np.empty_like(x)
        for s, (cells, cents) in enumerate(per_sub):
            out[:, s * dsub : (s + 1) * dsub] = cents[idx[:, s]]
        return out

    def refit(y, idx, per_sub, rounds):
        # warm-started Lloyd: means of current members (empty cells keep
        # their previous centroid — unchanged is still non-increasing),
        # then re-assign; `rounds` alternations
        for _ in range(rounds):
            new = []
            for s, (cells, cents) in enumerate(per_sub):
                ys = y[:, s * dsub : (s + 1) * dsub]
                c2 = cents.copy()
                for j in range(len(cells)):
                    members = ys[idx[:, s] == j]
                    if len(members):
                        c2[j] = members.mean(axis=0)
                new.append((cells, c2))
            per_sub = new
            idx = assign(y, per_sub)
        return per_sub, idx

    def mse(y, yhat):
        d = y - yhat
        return float(_fold_sum_cols(d * d).mean())

    rot = np.eye(dim)
    per_sub = init_cents(x)
    idx = assign(x, per_sub)
    per_sub, idx = refit(x, idx, per_sub, lloyd_iters)
    mse_pq = mse(x, decode(idx, per_sub))
    y = x
    for _ in range(max(0, int(iters))):
        yhat = decode(idx, per_sub)
        u, _sv, vt = np.linalg.svd(x.T @ yhat)
        rot = u @ vt
        y = x @ rot
        idx = assign(y, per_sub)
        per_sub, idx = refit(y, idx, per_sub, lloyd_iters)
    mse_opq = mse(y, decode(idx, per_sub))
    cb_rows = [
        (s, int(cells[j]), [float(v) for v in cents[j]])
        for s, (cells, cents) in enumerate(per_sub)
        for j in range(len(cells))
    ]
    codebooks = local_frame(
        df.sparkSession, cb_rows, "sub int, cell int, centroid array<double>"
    )
    return (
        [[float(v) for v in row] for row in rot],
        codebooks,
        {"mse_pq": mse_pq, "mse_opq": mse_opq},
    )


def opq_rotate(
    df: DataFrame,
    rotation: "list[list[float]]",
    vec_col: str = "embedding",
    out_col: "str | None" = None,
) -> DataFrame:
    """Apply the learned OPQ rotation scan-side: an Arrow-vectorized
    matmul per batch (the rotation is model state, dim x dim, closed
    over). Orthogonality preserves L2, so exact rerank over rotated
    vectors ranks identically to the originals — the encoded frame can
    carry ONLY the rotated vectors. Replaces ``vec_col`` in place unless
    ``out_col`` names a new column."""
    r64 = np.array(rotation, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _rot(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        xv = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(list(xv @ r64))

    return df.withColumn(out_col or vec_col, _rot(F.col(vec_col)))


def opq_topk(
    encoded_rot: DataFrame,
    codebooks: DataFrame,
    rotation: "list[list[float]]",
    query,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dsub: "int | None" = None,
) -> DataFrame:
    """OPQ ANN top-k: rotate the query driver-side and run the standard
    ADC + exact-rerank probe (pq_topk) over the ROTATED encoded frame.
    The rerank's squared L2 over rotated vectors equals the original
    distance (orthogonal R), so ``(id, l2sq)`` matches the un-rotated
    geometry up to float rounding of the rotation itself."""
    qvec = np.array([float(v) for v in _as_qvec(query)], dtype=np.float64)
    qrot = [float(v) for v in qvec @ np.array(rotation, dtype=np.float64)]
    return pq_topk(
        encoded_rot, codebooks, qrot, k=k, rerank_factor=rerank_factor,
        id_col=id_col, vec_col=vec_col, dsub=dsub,
    )


def opq_recall_audit(
    df: DataFrame,
    query_vec: "list[float]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    floor: float = 0.8,
    m: int = 16,
    kc: int = 16,
    iters: int = 3,
    rerank_factor: int = 8,
    train_cap: int = 65_536,
) -> DataFrame:
    """OPQ through the audit contract (the ivf_pq_recall_audit pattern):
    train the rotation + codebooks on a bounded sample, rotate + encode
    the corpus, probe, and emit the EXACT euclidean top-k witness over
    the ORIGINAL vectors plus two pinned booleans — ``recall_ok``
    (>= ``floor`` of the exact set hit) and ``opq_mse_le_pq`` (training
    MSE after the learned rotation <= plain PQ's on the same sample and
    init — the alternation's monotonicity guarantee, with a 1e-9
    relative tolerance for float accumulation). The approximate result
    never leaves the plan; the guarantees do."""
    rotation, cb, audit = opq_train_driver(
        _bounded_train_frame(df, id_col, train_cap),
        vec_col=vec_col, m=m, k=kc, iters=iters,
    )
    rotated = opq_rotate(df, rotation, vec_col=vec_col)
    dsub = len(rotation) // m
    enc = pq_encode(rotated, cb, vec_col=vec_col, dsub=dsub)
    approx_ids = {
        r[id_col]
        for r in opq_topk(
            enc, cb, rotation, query_vec, k=k,
            rerank_factor=rerank_factor, id_col=id_col, vec_col=vec_col,
            dsub=dsub,
        ).collect()  # k-bounded
    }
    exact, _, recall_ok = exact_topk_witness(
        df, query_vec, approx_ids, k, floor, id_col=id_col, vec_col=vec_col
    )
    mse_le = audit["mse_opq"] <= audit["mse_pq"] * (1 + 1e-9) + 1e-12
    return exact.select(
        id_col, "distance",
        F.lit(recall_ok).alias("recall_ok"),
        F.lit(bool(mse_le)).alias("opq_mse_le_pq"),
    ).orderBy(F.asc("distance"), F.asc(id_col))


def semantic_dedup_against_index(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
) -> DataFrame:
    """Incremental SemDeDup: survivors of a NEW embedding batch against a
    PERSISTED IVF or IVF-PQ index (read through ``_open_ann_index``) —
    the semantic member of the incremental dedup family (the
    exact/bloom/minhash/URL tiers' probe inversion applied to
    embeddings). At 100 TB you never re-cluster the corpus per ingest:
    batch vectors are mapped into the index space (an OPQ index stores
    ROTATED vectors and centroids; the rotation is orthogonal, so cosines
    are unchanged by it), assigned with the SAVED centroids (bounded
    model read + broadcast kernel), compared by
    exact cosine ONLY against index vectors in their assigned cells —
    the index scan carries a ``cell IN (batch's cells)`` partition
    predicate and the batch side broadcasts into the join, so the index
    is pruned-scanned, never shuffled — and against earlier (smaller-id)
    batch rows in the same cell (cosine_pairs_blocked, the SemDeDup
    within-cluster compare). Returns the surviving batch ``(id, cell)``
    rows; union the survivors back into the index afterwards
    (ivf_index_add). Semantics: FIRST-SEEN-WINS against the index (an
    index hit drops the batch row regardless of id ordering — the index
    row was committed earlier); min-id within the batch. Note the
    recommended survivors-only index re-add means a DROPPED batch row
    stops suppressing later batches, so transitive chains (A~B~C where
    B was dropped) can diverge from a whole-input semantic_dedup run;
    streaming/jobs.semantic_dedup_append_batch keeps a full
    survivor-flagged ledger for exact whole-input parity."""
    ix = _open_ann_index(spark, path, max_cells)
    assigned = ivf_assign(
        ix.to_index_space(batch, vec_col), ix.model("centroids"),
        id_col=id_col, vec_col=vec_col,
    )
    # the batch's cell set is bounded by the index's cell count (model
    # state), so this collect is max_cells-bounded
    batch_cells = [int(r[0]) for r in assigned.select("cell").distinct().collect()]
    a = assigned.select(
        F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bvec"), "cell"
    )
    idx = ix.scan(batch_cells)
    index_hits = (
        idx.select(F.col(vec_col).alias("_ivec"), "cell")
        .join(F.broadcast(a), on="cell")
        .filter(cosine(F.col("_bvec"), F.col("_ivec")) >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    in_batch = cosine_pairs_blocked(
        assigned, "cell", id_col=id_col, vec_col=vec_col, threshold=threshold
    ).select(F.col("id_b").alias(id_col)).distinct()
    drops = index_hits.unionByName(in_batch).distinct()
    return assigned.join(drops, on=id_col, how="anti").select(id_col, "cell")


def _bounded_train_frame(
    resid: DataFrame, id_col: str, cap: int
) -> DataFrame:
    """Deterministic codebook-training sample: when the corpus exceeds
    ``cap`` rows, keep a portable-hash fraction of ~cap rows (faiss
    practice — quantizer codebooks train on a bounded sample regardless
    of corpus size; the round-11 stress isolated pq_train as the ONLY
    corpus-proportional stage of the ivf_pq audit shape, 29 s at 200k
    vectors from the Decimal-mean loop). At or below the cap — every
    parity fixture — this is the identity, so oracle results are
    unchanged. The under-cap check is a limit(cap+1) probe (early-stops
    instead of re-executing the residual lineage corpus-wide); only the
    over-cap path pays a full count for the sampling fraction."""
    if resid.select(id_col).limit(cap + 1).count() <= cap:
        return resid
    n = resid.count()
    num = max(1, -(-cap * 1000 // n))  # ceil(cap/n * 1000) per-mille
    from .sampling import hash_sample

    return hash_sample(resid, id_col, num, 1000)


def ivf_pq_recall_audit(
    df: DataFrame,
    centroids: DataFrame,
    query_vec: "list[float]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    floor: float = 0.8,
    m: int = 16,
    kc: int = 16,
    nprobe: int = 3,
    rerank_factor: int = 8,
    train_cap: int = 65_536,
) -> DataFrame:
    """IVF-PQ through the audit contract (the rp_lsh_recall_audit /
    CMS/HLL/GK pattern): build the index (assign → residual codebooks →
    encode), run the approximate query, and emit the EXACT euclidean
    top-k witness (oracle-replayable fold distances) + ``recall_ok``
    pinned TRUE iff IVF-PQ hit >= ``floor`` of the exact set. The
    approximate result never leaves the plan; the guarantee does.
    Codebooks train on a ``train_cap``-bounded deterministic sample of
    the residuals (identity at parity scales; see
    _bounded_train_frame)."""
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    cb = _train_residual_codebooks(
        assigned, centroids, m, kc, train_cap, id_col, vec_col
    )
    encoded = ivf_pq_encode(assigned, centroids, cb, vec_col=vec_col)
    approx_ids = {
        r[id_col]
        for r in ivf_pq_topk(
            encoded, centroids, cb, query_vec,
            k=k, nprobe=nprobe, rerank_factor=rerank_factor,
            id_col=id_col, vec_col=vec_col,
        ).collect()  # k-bounded
    }
    exact, _, ok = exact_topk_witness(
        df, query_vec, approx_ids, k, floor, id_col=id_col, vec_col=vec_col
    )
    return exact.withColumn("recall_ok", F.lit(ok)).orderBy(
        F.asc("distance"), F.asc(id_col)
    )


def _train_residual_codebooks(
    assigned: DataFrame,
    centroids: DataFrame,
    m: int,
    k: int,
    train_cap: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF-PQ's training step: residual PQ codebooks (``m`` subspaces x
    ``k`` codes) from a ``train_cap``-bounded deterministic sample of the
    ivf_assign'ed frame's residuals (identity at parity scales; see
    _bounded_train_frame). Returns pq_train_driver's local frame."""
    resid = ivf_residuals(assigned, centroids, vec_col=vec_col)
    return pq_train_driver(
        _bounded_train_frame(resid, id_col, train_cap),
        vec_col="residual", m=m, k=k,
    )


def _write_index_rotation(spark, rotation, path: str) -> None:
    """Persist an OPQ rotation alongside an index layout — one row per
    matrix row, ``(i, vals)``. The rotation is model state (dim x dim),
    loaded bounded like centroids/codebooks."""
    from ..io import write_model_parquet

    write_model_parquet(
        spark,
        [(i, [float(v) for v in row]) for i, row in enumerate(rotation)],
        "i int, vals array<double>",
        f"{path}/rotation.parquet",
    )


def _write_vectors_layout(df: DataFrame, path: str) -> None:
    """(Re)write an index's whole ``vectors.parquet``, partitioned by
    cell. The overwrite is pinned static: under a session-wide dynamic
    partitionOverwriteMode a rebuild would replace only the cells the new
    build populates and keep a former index's rows in the others."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell")
        .parquet(f"{path}/vectors.parquet")
    )


def _write_model_component(df: DataFrame, path: str) -> None:
    """Overwrite one bounded model component (centroids/codebooks). A
    local_frame's rows are written DRIVER-SIDE on local filesystems (no
    Spark job / commit protocol — round 16, guide §5: each such 1-task
    write job cost ~0.2-0.4 s of scheduling per lifecycle verb); any
    other frame, or a non-local scheme, keeps the Spark write."""
    from ..io import local_rows_of, write_model_parquet

    rows = local_rows_of(df)
    if rows is not None:
        write_model_parquet(df.sparkSession, rows, df.schema, path)
    else:
        df.write.mode("overwrite").parquet(path)


def _read_index_vectors(spark, path: str) -> DataFrame:
    """The LIVE vector set of a persisted index: ``vectors.parquet``
    minus any tombstoned ids (``ann_index_remove``). Every probe/stat
    surface reads through here so a removed vector disappears from
    results immediately, before the physical delete that the next
    ``ann_index_compact`` performs (index_store.read_live)."""
    return index_store.read_live(spark, path, "vectors.parquet")


def ann_index_remove(spark, path: str, ids, id_col: str = "vec_id") -> dict:
    """Remove vectors from a persisted IVF / IVF-PQ index — the faiss
    ``remove_ids`` analog, the takedown leg a training-data pipeline
    must honor. Deletion is LOGICAL and O(removed ids)
    (index_store.remove): the ids append to the index's tombstone set
    and every probe surface anti-joins them out
    (``_read_index_vectors``); the next ``ann_index_compact`` physically
    drops the rows and clears the set. Idempotent: re-removing an id is
    harmless.

    ``ids``: a DataFrame carrying ``id_col`` (the scale path) or a
    plain iterable of id values. The id column must exist in the vector
    layout with the same type (loud mismatch — a silently
    never-matching tombstone would be a takedown that didn't happen).

    Until the next compact, a tombstoned id CANNOT be re-added (the add
    surfaces refuse it): the anti-join would suppress the new row too,
    silently losing the re-add. Compact first, then add.

    Returns ``{"requested", "matched_live", "tombstoned_total"}`` —
    ``matched_live`` is the exact witness count of ids that were
    actually present (and visible) in the index at remove time."""
    vec_schema = index_store.read(spark, path, "vectors.parquet").schema
    if id_col not in vec_schema.names:
        raise ValueError(
            f"ann_index_remove: id column {id_col!r} is not in the "
            f"index's vector layout {vec_schema.names}; pass the id_col "
            "the index was built with"
        )
    if index_store.has(spark, path, index_store.TOMBSTONES):
        existing_col = index_store.read(
            spark, path, index_store.TOMBSTONES
        ).columns[0]
        if existing_col != id_col:
            raise ValueError(
                f"ann_index_remove: existing tombstones use id column "
                f"{existing_col!r}, not {id_col!r}"
            )
    return index_store.remove(
        spark, path, ids, _read_index_vectors(spark, path),
        id_col=id_col,
        id_type=vec_schema[id_col].dataType.simpleString(),
        tomb_col=id_col,
        verb="ann_index_remove",
    )


def _scan_cells(vectors: DataFrame, cells, cell_col: str = "cell") -> DataFrame:
    """THE candidate scan of every IVF / IVF-PQ probe: the rows of
    ``cells``, as a ``cell IN (...)`` predicate — on a persisted index the
    PARTITION column, so Catalyst prunes to those cell directories
    before a row is read; no job of its own (a broadcast semi-join
    against a cell frame would schedule one per scan)."""
    return vectors.filter(F.col(cell_col).isin([int(c) for c in cells]))


class _AnnIndex:
    """One IVF / IVF-PQ index's model state, as the probe (``_probe_ann``)
    and the add, drift and dedup surfaces use it — read from disk by
    ``_open_ann_index``, or built from in-memory frames by ivf_pq_topk:

    - ``layout``: ``"ivf"`` or ``"ivf-pq"``;
    - ``centroids``: ``(cell, vector)`` pairs, cell-ascending;
    - ``codebooks``: ``(sub, cell, vector)`` rows, (sub, cell)-ascending,
      and ``dsub``, their sub-vector width (IVF-PQ only);
    - ``rotation``: the persisted OPQ matrix, or None;
    - ``vectors``: the live vector frame, read on first use (so a
      surface that never scans schedules no read)."""

    def __init__(
        self, layout, centroids, codebooks=None, dsub=None, rotation=None,
        spark=None, path=None, stored=None,
    ):
        self.layout, self.centroids, self.codebooks = layout, centroids, codebooks
        self.dsub = len(codebooks[0][2]) if dsub is None and codebooks else dsub
        self.rotation = rotation
        self._spark, self._path, self._stored = spark, path, stored

    @functools.cached_property
    def vectors(self) -> DataFrame:
        return _read_index_vectors(self._spark, self._path)

    def scan(self, cells) -> DataFrame:
        """The persisted probe's candidate scan (_scan_cells)."""
        return _scan_cells(self.vectors, cells)

    def model(self, component: str) -> DataFrame:
        """A stored model component (``"centroids"`` / ``"codebooks"``) as
        a 1-slice local frame with its on-disk rows and schema."""
        return local_frame(self._spark, *self._stored[component])

    def to_index_space(self, df: DataFrame, vec_col: str) -> DataFrame:
        """Map raw vectors into the space the model lives in — the OPQ
        pre-transform when the index has a rotation (the faiss
        IndexPreTransform contract), else the identity."""
        if self.rotation is None:
            return df
        return opq_rotate(df, self.rotation, vec_col=vec_col)


def _open_ann_index(
    spark, path: str, max_cells: int = 65_536, layout: "str | None" = None
) -> _AnnIndex:
    """THE persisted-index open: every probe, add, drift and dedup surface
    reads an IVF / IVF-PQ index through here. The layout is autodetected
    from ``codebooks.parquet`` (the ann-index CLI contract) unless the
    caller names one: ``layout="ivf"`` reads an IVF-PQ directory as plain
    IVF (codebooks unused), ``layout="ivf-pq"`` refuses a plain one.
    Centroids, codebooks and the OPQ rotation load driver-side and
    cap-guarded (io.read_model_rows — no Spark job on local
    filesystems); they are model state, never corpus-sized.

    The open owns the two corrupt-layout refusals. A ``rotation.parquet``
    read as plain IVF: a rotation pairs only with PQ codebooks, so over
    un-rotated vectors it is a stale file, and applying it (queries
    rotated against un-rotated vectors) or ignoring it (one surface
    rotating, another not) would both return wrong neighbors silently.
    And an empty codebook set (a truncated layout)."""
    from ..io import read_model_rows

    is_pq = layout != "ivf" and index_store.has(spark, path, "codebooks.parquet")
    if layout == "ivf-pq" and not is_pq:
        raise ValueError(
            f"index at {path!r} has the ivf layout (no codebooks.parquet); "
            "probe it with ivf_index_topk"
        )
    if not is_pq and index_store.has(spark, path, "rotation.parquet"):
        raise ValueError(
            f"index at {path!r} has rotation.parquet but is read as plain "
            "IVF — a rotation is only valid on the IVF-PQ layout; rebuild "
            "the index (or delete the stale rotation.parquet)"
        )
    stored = {
        "centroids": read_model_rows(
            spark, f"{path}/centroids.parquet", "cell", max_cells
        )
    }
    centroids = sorted(
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in stored["centroids"][0]
    )
    if not is_pq:
        return _AnnIndex("ivf", centroids, spark=spark, path=path, stored=stored)
    stored["codebooks"] = read_model_rows(
        spark, f"{path}/codebooks.parquet", "codebook", max_cells
    )
    codebooks = sorted(
        (r["sub"], r["cell"], list(r["centroid"])) for r in stored["codebooks"][0]
    )
    if not codebooks:
        raise ValueError(
            f"empty codebook set at {path}/codebooks.parquet — the index is "
            "truncated or was not written by ivf_pq_index_write"
        )
    rotation = None
    if index_store.has(spark, path, "rotation.parquet"):
        rows = read_model_rows(
            spark, f"{path}/rotation.parquet", "rotation row", 8192
        )[0]
        rotation = [v for _, v in sorted((r["i"], list(r["vals"])) for r in rows)]
    return _AnnIndex(
        "ivf-pq", centroids, codebooks, rotation=rotation,
        spark=spark, path=path, stored=stored,
    )


def ivf_pq_index_write(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dsub: "int | None" = None,
    rotation: "list[list[float]] | None" = None,
) -> None:
    """Persist an IVF-PQ index — the faiss ``write_index(IndexIVFPQ)``
    analog, mirroring ``ivf_index_write``'s contract so the hybrid gets
    the same build-once / add-batches / probe-forever lifecycle. Layout:

    - ``{path}/centroids.parquet`` — coarse cells (bounded model state);
    - ``{path}/codebooks.parquet`` — residual PQ codebooks (m*k rows);
    - ``{path}/vectors.parquet`` — every vector with its cell and m-byte
      ``codes``, written ``partitionBy(cell)`` so probes prune at the
      FILE level (nprobe cells → nprobe directories read).

    The original vectors ride along for the exact-rerank stage (the
    faiss IndexRefineFlat pairing — plain IndexIVFPQ drops them and
    skips reranking). Both model frames are collected ONCE and localized
    before use, so expensive training lineage (ivf_refine /
    pq_train re-scan the corpus) never executes twice.

    ``rotation`` (optional, the faiss OPQ IndexPreTransform pairing):
    ``df``, ``centroids`` and ``codebooks`` are expected ALREADY in the
    rotated space (build them over ``opq_rotate(df, rotation)``); the
    matrix is persisted so probes rotate queries and adds rotate new
    batches into the index's space automatically. Orthogonal rotations
    preserve cosine AND L2, so every probe contract is unchanged."""
    local_cents = _localized(centroids)
    local_cb = _localized(codebooks)
    assigned = ivf_assign(df, local_cents, id_col=id_col, vec_col=vec_col)
    encoded = ivf_pq_encode(
        assigned, local_cents, local_cb, vec_col=vec_col, dsub=dsub
    )
    _ivf_pq_index_write_encoded(encoded, local_cents, local_cb, path, rotation)


def ivf_pq_index_build(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    m: int,
    k: int,
    train_cap: int = 65_536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: "list[list[float]] | None" = None,
) -> DataFrame:
    """Train and persist an IVF-PQ index in one assign pass — the build
    every index-producing surface shares (the ``ann-index build --pq``
    CLI, ivf_pq_index_lifecycle_audit, the registry's index audits).
    ``centroids`` are localized once; ``df`` is ivf_assign'ed once; the
    residual codebooks (``m`` subspaces x ``k`` codes) train on a
    ``train_cap``-bounded sample of that assigned frame
    (_train_residual_codebooks) and the same frame is encoded and
    written — the layout ivf_pq_index_write produces from the same
    codebooks, without its second assign+encode pass. ``rotation``: as
    in ivf_pq_index_write (``df`` and ``centroids`` already rotated; the
    OPQ training stays with the caller, which computes the centroids in
    the rotated space). Returns the codebooks (a local frame)."""
    local_cents = _localized(centroids)
    assigned = ivf_assign(df, local_cents, id_col=id_col, vec_col=vec_col)
    cb = _train_residual_codebooks(
        assigned, local_cents, m, k, train_cap, id_col, vec_col
    )
    encoded = ivf_pq_encode(assigned, local_cents, cb, vec_col=vec_col)
    _ivf_pq_index_write_encoded(encoded, local_cents, cb, path, rotation)
    return cb


def _localized(model: DataFrame) -> DataFrame:
    """A bounded model frame as a local_frame — collected once, so
    expensive training lineage never re-executes per consumer; frames
    that are ALREADY local (pq_train_driver output, a caller's localized
    centroids) are used as-is, with no re-collect job."""
    from ..io import local_rows_of

    if local_rows_of(model) is not None:
        return model
    return local_frame(model.sparkSession, model.collect(), model.schema)


def _ivf_pq_index_write_encoded(
    encoded: DataFrame,
    local_cents: DataFrame,
    local_cb: DataFrame,
    path: str,
    rotation: "list[list[float]] | None",
) -> None:
    """The one IVF-PQ layout writer (ivf_pq_index_write and
    ivf_pq_index_build): model components, the cell-partitioned encoded
    vectors, then the stale-state clear and — only after the layout
    exists — the OPQ rotation when one is given. A rebuild without a
    rotation over a former OPQ directory drops the old matrix: probes
    apply it automatically when present, so a leftover over an
    un-rotated layout means silently wrong neighbors."""
    spark = encoded.sparkSession
    _write_model_component(local_cents, f"{path}/centroids.parquet")
    _write_model_component(local_cb, f"{path}/codebooks.parquet")
    _write_vectors_layout(encoded, path)
    index_store.clear_on_rebuild(spark, path, "rotation.parquet")
    if rotation is not None:
        _write_index_rotation(spark, rotation, path)


def _prepare_add_frame(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
) -> DataFrame:
    """The shared head of every index ADD (batch and streaming): map a
    new batch into the index's saved space — layout autodetected, so an
    IVF layout gets the centroid assignment and an IVF-PQ layout
    additionally gets the OPQ pre-transform (when a rotation is
    persisted) plus the residual encode — and fail fast on a schema
    mismatch: appending a different column set or vector type writes a
    SECOND schema into the partitioned layout, which later probes
    surface as null ids/codes executor-side. The model comes from
    ``_open_ann_index``, so its stale-rotation refusal holds at the write
    surface too: a corrupt layout fails here instead of silently taking
    raw un-rotated vectors that only blow up at probe time."""
    ix = _open_ann_index(spark, path, max_cells)
    index_store.refuse_tombstoned(spark, path, df, id_col, "ann_index_compact")
    cents = ix.model("centroids")
    out = ivf_assign(
        ix.to_index_space(df, vec_col), cents, id_col=id_col, vec_col=vec_col
    )
    if ix.layout == "ivf-pq":
        out = ivf_pq_encode(out, cents, ix.model("codebooks"), vec_col=vec_col)
    saved = {
        f.name: f.dataType.simpleString()
        for f in index_store.read(spark, path, "vectors.parquet").schema.fields
    }
    adding = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    if saved != adding:
        raise ValueError(
            f"batch schema {sorted(adding.items())} does not match the "
            f"index's vector schema {sorted(saved.items())}; pass the "
            "id_col/vec_col the index was built with"
        )
    return out


def ann_index_add_batch(
    spark,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
) -> bool:
    """One IDEMPOTENT micro-batch ADD to a persisted IVF / IVF-PQ index —
    the write-side twin of ann_search_batch, and the exactly-once form
    of ``*_index_add`` (which is plain at-least-once: a replayed
    foreachBatch append would duplicate its vectors).

    Mechanism: index_store.add_batch — the batch's encoded rows are
    staged, renamed into their live cell directories under a
    ``b{batch_id}-`` prefix, and only then does the add manifest
    advance; replays of a committed batch_id skip, and a replay after a
    crash first deletes the batch's partial files and redoes the move.

    Returns True if the batch was applied, False if skipped as a replay.
    The manifest tracks ONE monotone batch_id sequence per index:
    manual batch-ids (the CLI's ``add --batch-id``) and a stream's
    foreachBatch ids share it, so a manual add must use ids AFTER the
    stream's last, and a fresh stream over an index with committed
    manual ids would silently skip its early batches (the same
    restart-at-0 hazard the streaming checkpoint guard exists for).
    100-TB shape: one bounded model read + broadcast assign/encode + one
    partitioned write per trigger; the moves are O(files in the batch)
    namenode RPCs, no data copy."""

    def stage(staging: str) -> None:
        (
            _prepare_add_frame(spark, path, batch_df, id_col, vec_col, max_cells)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staging)
        )

    return index_store.add_batch(spark, path, "vectors.parquet", batch_id, stage)


def ann_index_compact(spark, path: str) -> dict:
    """Compact a persisted IVF / IVF-PQ index's vector layout — the
    merge side of the add-forever lifecycle (VERDICT r12 #6, the rollup
    sink's merge-on-read + compaction applied to the ANN index):
    ``ivf_index_add`` / ``ivf_pq_index_add`` append one file per cell
    PER BATCH, so after N adds every probe opens ~N fragments per probed
    cell directory and the scan's task count grows with history, not
    data. Compaction rewrites ``vectors.parquet`` with one shuffle
    partitioned ON the cell column, so each cell directory collapses to
    ONE file (a cell lives in exactly one task of the partitionBy
    write); model state (centroids/codebooks/rotation) is untouched, so
    every probe — fixed-nprobe, adc_prune, adaptive — returns
    BIT-IDENTICAL results before and after (probe orderings are total
    on (score, id); file order is immaterial; tested).

    Crash-bounded swap via io.hadoop_swap_rewrite (stage aside → rename
    live aside → rename in → delete), with a row-count verification of
    the staged copy BEFORE the live layout is touched. Works on any
    atomic-rename filesystem (file://, hdfs://); object stores are
    refused (snapshot-commit table formats are the answer there).

    Returns ``{"files_before", "files_after", "rows"}``. 100-TB shape:
    one shuffle sized by the cell count — run it periodically (every ~N
    adds), exactly like the rollup sink's compact_versions cadence."""

    def rewrite(tmp: str, live_bytes: int) -> None:
        (
            _read_index_vectors(spark, path)
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(tmp)
        )

    return index_store.compact(
        spark, path, "vectors.parquet", "ann_index_compact", rewrite
    )


def ann_index_stats(spark, path: str) -> dict:
    """Layout report for a persisted IVF / IVF-PQ index: component
    presence, cell/vector counts, data-file count and bytes, and files
    per populated cell directory — the fragmentation signal an operator
    reads to schedule ``ann_index_compact`` (a freshly built or
    compacted index sits at ~1 file per cell; every ``*_index_add``
    raises the ratio by one). ``vectors`` is the LIVE count (tombstoned
    ids excluded — what probes see); ``tombstones`` is the pending
    logical-delete backlog the next compact will physically drop. All
    reads are metadata/model-bounded except the counts (parquet count()
    is rowgroup-stats only)."""
    from ..io import hadoop_data_file_stats, model_row_count

    vectors = f"{path}/vectors.parquet"
    vec = _read_index_vectors(spark, path)
    n_files, n_bytes = hadoop_data_file_stats(spark, vectors)
    # one pass for the live-vector count AND the populated-cell count
    # (round 15: these were two separate scan jobs)
    live = vec.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cell").alias("cells"),
    ).collect()[0]
    n_cell_dirs = int(live["cells"])
    n_tomb = index_store.pending_tombstones(spark, path)
    return {
        "layout": (
            "ivf-pq" if index_store.has(spark, path, "codebooks.parquet")
            else "ivf"
        ),
        "rotation": index_store.has(spark, path, "rotation.parquet"),
        "cells": model_row_count(spark, f"{path}/centroids.parquet"),
        "populated_cells": n_cell_dirs,
        "vectors": int(live["n"]),
        "tombstones": n_tomb,
        "data_files": n_files,
        "data_bytes": n_bytes,
        "files_per_populated_cell": round(
            n_files / max(1, n_cell_dirs), 2
        ),
    }


def ann_index_drift(
    spark,
    path: str,
    sample_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    psi_threshold: float = 0.25,
    max_cells: int = 65_536,
) -> DataFrame:
    """Distribution-drift gate for a persisted ANN index — the WHEN of
    the rebuild lifecycle (build → add → remove → compact → rebuild):
    standard IVF adds never move centroids (faiss semantics, see
    ivf_index_add), so an operator needs a measurable signal for "the
    data has outgrown the trained cells; rebuild with fresh centroids".
    This verb is that signal: assign ``sample_df`` (a recent ingest
    sample) into the index's SAVED cell space and compare its per-cell
    occupancy against the index's LIVE per-cell histogram with the same
    Population-Stability-Index semantics as timeseries.psi_drift
    (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted; cells empty
    on either side are SKIPPED and counted — no smoothing constants).

    Returns ONE row: (n_cells, n_skipped, psi, rebuild_recommended)
    with ``rebuild_recommended = psi >= psi_threshold``. The PSI double
    folds over cell-sorted terms (F.aggregate left fold == DuckDB
    list_reduce), so the metric is engine-reproducible and
    oracle-checkable bit-for-bit.

    Layout-aware like every index surface: the live histogram reads
    through ``_read_index_vectors`` (tombstoned ids excluded — drift is
    measured against what probes actually see), and an IVF-PQ layout
    with a persisted OPQ rotation maps the sample into the rotated
    space first (the saved centroids live there — the
    ``_prepare_add_frame`` contract), while a plain-IVF layout carrying
    a stale rotation is refused.

    100-TB shape: the index side is a two-column (id, cell) scan with a
    map-side partial aggregate to ≤ cells rows; the sample side is one
    broadcast-centroid kernel map + the same bounded aggregate; the
    join, totals, and fold all touch ≤ cells rows. Nothing scans twice,
    no driver state beyond the cap-guarded model load."""
    ix = _open_ann_index(spark, path, max_cells)
    local_cents = ix.model("centroids")
    base = ix.vectors.groupBy("cell").agg(F.count(F.lit(1)).alias("pn"))
    cur = (
        ivf_assign(
            ix.to_index_space(sample_df, vec_col), local_cents,
            id_col=id_col, vec_col=vec_col,
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("qn"))
    )
    j = (
        local_cents.select("cell")
        .join(base, "cell", "left")
        .join(cur, "cell", "left")
        .select(
            "cell",
            F.coalesce("pn", F.lit(0)).alias("pn"),
            F.coalesce("qn", F.lit(0)).alias("qn"),
        )
    )
    totals = j.agg(F.sum("pn").alias("_tp"), F.sum("qn").alias("_tq"))
    p = F.col("pn").cast("double") / F.col("_tp").cast("double")
    q = F.col("qn").cast("double") / F.col("_tq").cast("double")
    terms = j.crossJoin(F.broadcast(totals)).select(
        "cell",
        F.when((F.col("pn") > 0) & (F.col("qn") > 0), (q - p) * F.log(q / p))
        .alias("term"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum((F.col("term").isNull()).cast("int")).alias("n_skipped"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("term").isNotNull(),
                            F.struct("cell", "term"),
                        )
                    )
                ),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("psi"),
    ).select(
        "n_cells",
        "n_skipped",
        # the fold is order-pinned, but ln itself is only
        # within-1-ulp across engines (Java Math.log vs libm — observed
        # diverging on real arguments), so the metric quantizes to a
        # 12-decimal grid: terms are non-negative, making HALF_UP and
        # half-away identical, and both engines' round(x, 12) produce
        # the double nearest the same 12-digit decimal
        F.round(F.col("psi"), 12).alias("psi"),
    ).select(
        "n_cells",
        "n_skipped",
        "psi",
        (F.col("psi") >= F.lit(float(psi_threshold))).alias(
            "rebuild_recommended"
        ),
    )


def ivf_pq_index_topk(
    spark,
    path: str,
    query,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
    adc_prune: bool = False,
    prune_phase1: int = 1,
    probe_stats: "dict | None" = None,
    adaptive_nprobe: bool = False,
) -> DataFrame:
    """Probe a persisted IVF-PQ index: ``_open_ann_index`` loads
    centroids + codebooks (+ the OPQ rotation) driver-side (cap-guarded —
    index-parameter-bounded model state), and ``_probe_ann`` — the SAME
    per-query probe as ``ivf_pq_topk`` — ranks the cells, builds the
    per-cell ADC tables and scans with a ``cell IN (...)`` predicate on
    the PARTITION column, so Catalyst prunes to nprobe directories before
    a single row is read. Result is identical to running ivf_pq_topk over
    the index's live frames with the same model state. A plain-IVF index
    is refused (probe it with ivf_index_topk).

    The fixed-nprobe probe is lazy: the open reads the model and the
    component schemas driver-side, and collecting the result is one
    Spark job — the scan and one Python pass that scores, cuts each scan
    partition to its k*rerank_factor best and exact-reranks them, so
    the JVM's global cut sees at most k*rerank_factor x (scan
    partitions) rows (_adc_shortlist_topk).

    ``adc_prune=True`` adds residual-aware cell pruning (the faiss
    IVF-pruning idea, VERDICT r11 #6) with an EXACTNESS guarantee —
    identical output, fewer cell directories read: scan the
    ``prune_phase1`` nearest cells first, take the k*rerank_factor-th
    ADC distance as threshold ``t``, then SKIP any remaining probed cell
    whose ADC LOWER BOUND (per-sub minimum of its lookup table, summed —
    no vector in the cell can score below it) exceeds ``t``: phase-1
    alone already supplies k*rerank_factor rows at or below ``t``, so a
    vector with ADC > t can never enter the shortlist, and the pruned
    probe's shortlist — hence the exact-reranked top-k — is
    bit-identical to the full nprobe probe (tested). Pruning bites when
    cells are separated (the production case: a far cell's query
    residual is far from every codebook entry, inflating its bound); on
    isotropic data the bound stays below ``t`` and the probe degrades
    gracefully to the plain nprobe scan. Costs one extra k*rerank-bounded
    collect over the phase-1 directories. ``probe_stats`` (a dict, if
    given) receives cells_ranked / cells_scanned / pruned_cells /
    threshold for ops visibility.

    ``adaptive_nprobe=True`` goes further (the Best-Bin-First analog,
    see _adaptive_pruned_tables): ``nprobe`` is ignored, EVERY cell is
    ranked, and the probe scans cell directories in lower-bound order
    until no unscanned cell can hold a shortlist row — output
    bit-identical to ``nprobe = ncells`` (the exhaustive ADC scan) with
    only as many directories read as the bound requires; no recall knob
    to mistune. ``prune_phase1`` seeds the first chunk size. Driver
    table cost grows to O(ncells * m * kc) floats (still
    model-state-bounded, max_cells-guarded)."""
    ix = _open_ann_index(spark, path, max_cells, layout="ivf-pq")
    return _probe_ann(
        ix, query, ix.scan, k, nprobe, rerank_factor, id_col, vec_col,
        adc_prune=adc_prune, prune_phase1=prune_phase1,
        probe_stats=probe_stats, adaptive_nprobe=adaptive_nprobe,
    )


def ann_index_search_many(
    spark,
    path: str,
    queries: "list[tuple]",
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 65_536,
    adc_prune: bool = False,
    prune_phase1: int = 1,
    adaptive_nprobe: bool = False,
):
    """Probe a persisted IVF or IVF-PQ index (layout autodetected by the
    presence of ``codebooks.parquet``, the ann-index CLI contract) for
    MANY query vectors with the model state loaded ONCE: the open plus
    _search_many, the per-query loop the streaming vector-search job
    also runs over its own open. ``queries`` is a list of
    ``(query_id, vector)`` pairs (trigger-bounded by the caller); each
    query runs the single-query probe (``_probe_ann``), so per-query
    results are bit-identical to ``ivf_index_topk`` /
    ``ivf_pq_index_topk`` over the same index.

    Returns ``(rows, score_col)``: driver-side result tuples
    ``(query_id, rank, hit_id, score)`` — k-bounded per query — and the
    probe's native score column name (``"l2sq"`` for the PQ layout's
    exact-rerank distance, ``"cosine"`` for plain IVF). Every per-query
    scan is partition-pruned to its nprobe cell directories; the only
    corpus-independent driver state is the model rows (cap-guarded).
    ``adc_prune`` (PQ layout only) applies the exactness-guaranteed
    residual-aware cell pruning per query (ivf_pq_index_topk's
    contract) — identical hits, fewer cell directories read per
    query when the geometry separates cells. ``adaptive_nprobe`` (PQ
    layout only) replaces the fixed ``nprobe`` with the Best-Bin-First
    bound per query (ivf_pq_index_topk's contract: hits bit-identical
    to the exhaustive all-cells probe)."""
    return _search_many(
        _open_ann_index(spark, path, max_cells), queries, k, nprobe,
        rerank_factor, id_col, vec_col, adc_prune, prune_phase1,
        adaptive_nprobe,
    )


def _search_many(
    ix: "_AnnIndex", queries, k, nprobe, rerank_factor, id_col, vec_col,
    adc_prune=False, prune_phase1=1, adaptive_nprobe=False,
):
    """ann_index_search_many's per-query loop over an opened index —
    shared with the streaming serving trigger, which also needs the
    open's vectors schema. Returns ``(rows, score_col)``."""
    out = []
    for qid, vec in queries:
        hits = _probe_ann(
            ix, vec, ix.scan, k, nprobe, rerank_factor, id_col, vec_col,
            adc_prune=adc_prune, prune_phase1=prune_phase1,
            adaptive_nprobe=adaptive_nprobe,
        ).collect()  # k-bounded
        out.extend(
            (qid, rank, h[0], float(h[1]))
            for rank, h in enumerate(hits, start=1)
        )
    return out, "l2sq" if ix.layout == "ivf-pq" else "cosine"


def ivf_pq_index_lifecycle_audit(
    initial: DataFrame,
    batch: DataFrame,
    centroids: DataFrame,
    query_vec: "list[float]",
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    floor: float = 0.8,
    m: int = 16,
    kc: int = 16,
    nprobe: int = 3,
    rerank_factor: int = 8,
    train_cap: int = 65_536,
) -> DataFrame:
    """The full persisted-index lifecycle through the audit contract
    (the ivf_pq_recall_audit pattern): ``ivf_pq_index_build`` the
    INITIAL corpus (residual codebooks on a ``train_cap``-bounded
    sample, one assign pass), ``ivf_pq_index_add`` the new batch with
    the SAVED model state (no retraining — the add path's whole point),
    probe the persisted partitioned layout, and emit the EXACT euclidean
    top-k witness over initial ∪ batch + ``recall_ok`` pinned TRUE iff
    the persisted-index probe hit >= ``floor`` of the exact set
    (exact_topk_witness). The approximate result never leaves the plan;
    the guarantee does."""
    spark = initial.sparkSession
    ivf_pq_index_build(
        initial, centroids, path, m, kc, train_cap,
        id_col=id_col, vec_col=vec_col,
    )
    ivf_pq_index_add(spark, path, batch, id_col=id_col, vec_col=vec_col)
    approx_ids = {
        r[id_col]
        for r in ivf_pq_index_topk(
            spark, path, query_vec,
            k=k, nprobe=nprobe, rerank_factor=rerank_factor,
            id_col=id_col, vec_col=vec_col,
        ).collect()  # k-bounded
    }
    full = initial.select(id_col, vec_col).unionByName(
        batch.select(id_col, vec_col)
    )
    exact, _, ok = exact_topk_witness(
        full, query_vec, approx_ids, k, floor, id_col=id_col, vec_col=vec_col
    )
    return exact.withColumn("recall_ok", F.lit(ok)).orderBy(
        F.asc("distance"), F.asc(id_col)
    )
