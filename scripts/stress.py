"""Scaling stress harness: every SCALE.md stress table from one protocol.

Run:  python scripts/stress.py --family FAMILY   (from any directory)

Datasets. 1x is sf0.1. 10x and 100x are copy datasets written by
``build_copies`` when absent (``/tmp/stress_sf1``, ``/tmp/stress_sf10``):
copy ``c`` of a row shifts its id by ``c * rows * copies``; for ``c > 0``
a document gains the copy token ``v{c}`` (the 100x build also a shared
parity token ``p{c % 2}``), an embedding's first component moves by
``c/1000``, a customer name gains the letter ``chr(96 + c)``, and an
order only moves its key. So copies are near-, not exact, duplicates.

Protocol (SCALE.md). Each row is timed twice and the warm second trial
reported with its row count. Index and dataset builds, removes and
compactions run in a row's ``prep``, outside the timed call. Ingest
probes use the fixed batch ``ingest_docs`` (1-in-37 of the 1x docs), so
the per-trigger unit never grows with the corpus. Exponents are per
decade: ``exp_{s}x`` = log10 of ``max(t_s, .01) / max(t_1, .01)`` over
log10 of ``s`` (1 = linear).

Families (``--family``) and the scripts whose tables they reproduce:

- ``sf1`` -- ``CORPUS`` at 1x/10x (stress_sf1, stress_sketches).
- ``sf10`` -- the ``CORPUS`` rows marked two-decade, at 1x/100x
  (stress_sf10). Two rows keep the inputs each leg always had:
  ``hll_distinct`` audits orders at 1x/10x but documents at 1x/100x (the
  100x build copies no orders), and ``semantic_decontaminate`` takes
  every 20th vector as the bench at 1x/10x but every 2000th at 1x/100x.
- ``ivfpq`` -- the IVF-PQ build and probe stages at 1x/10x/100x
  (stress_ivfpq). It reads the shared 10x/100x embeddings: the same
  vectors its own builds wrote, with the 10x ids on a 10x (not 100x)
  stride.
- ``probes`` -- winnow pair/span tiers and persisted IVF-PQ probes at
  1x/10x (stress_r12, stress_r12b). Its three IVF-PQ probes share one
  index; the two old scripts built the same index twice.
- ``lifecycle`` -- the persisted-index lifecycle rows at 1x/10x/100x
  (stress_r13, stress_r14). ``winnow_robust_fold`` is stress_r12's row
  of the same name too (same call, same inputs). stress_r12b's
  ``winnow_spans_incremental_probe`` is not merged with
  ``winnow_spans_probe``: the stop-gram caps differ (50 vs 200). The
  ``_pairs`` / ``_survivors`` entries are now every row's ``n_<scale>``,
  stress_r14's ``winnow_remove_sec`` its remove line.
- ``stream_winnow`` / ``stream_ann`` -- one availableNow stream of
  ``N_TRIGGERS`` fixed batches into a 10x index, a fresh takedown each
  trigger and a compaction every ``COMPACT_EVERY`` (stress_r15,
  stress_r15_ann), run by the production ``jobs._run_index_add``. The
  per-trigger ``unit_sec`` is the old ``probe_append_sec`` /
  ``add_probe_sec``, ``files`` the old ``fps_files`` / ``vector_files``.
  Verdicts: post-first-compact flat ratio <= 1.6, every compact drains
  the backlog to 0, and the leg's file bound holds; exit code 1 if not.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import cached_property

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bigdata_usaspending_spark import plans  # noqa: E402
from bigdata_usaspending_spark.catalog import load  # noqa: E402
from bigdata_usaspending_spark.io import hadoop_data_file_count  # noqa: E402
from bigdata_usaspending_spark.operators import (  # noqa: E402
    dedup,
    fuzzy,
    sampling,
    similarity,
    sketches,
    text,
    timeseries,
)
from bigdata_usaspending_spark.operators.aggregates import (  # noqa: E402
    heavy_hitters,
    hll_distinct_audit,
)
from bigdata_usaspending_spark.operators.dedup import _ensure_parallelism  # noqa: E402
from bigdata_usaspending_spark.operators.scorers import (  # noqa: E402
    BigramLMScorer,
    VocabCommonnessScorer,
    apply_text_scorer,
)
from bigdata_usaspending_spark.operators.skew import skew_profile  # noqa: E402
from bigdata_usaspending_spark.plans.build_corpus import (  # noqa: E402
    CorpusBuildConfig,
    build_corpus,
)
from bigdata_usaspending_spark.plans.corpus_ext import JACCARD_THRESHOLD  # noqa: E402
from bigdata_usaspending_spark.plans.oracle_lib import _BM25_BATCH  # noqa: E402
from bigdata_usaspending_spark.session import get_spark  # noqa: E402
from bigdata_usaspending_spark.streaming import jobs  # noqa: E402

SF01 = "/root/testdata/sf0.1"


@dataclass(frozen=True)
class CopySet:
    """One copy dataset: where it lives and how ``build_copies`` makes it."""

    path: str
    tables: tuple
    partitions: int
    parity: bool  # documents also gain the shared token p{c % 2}


COPY_SETS = {
    10: CopySet("/tmp/stress_sf1", ("documents", "embeddings", "customer", "orders"), 32, False),
    100: CopySet("/tmp/stress_sf10", ("documents", "embeddings"), 64, True),
}


def _copy_tokens(c, parity: bool):
    tokens = [F.concat(F.lit("v"), c)]
    if parity:
        tokens.append(F.concat(F.lit("p"), c % 2))
    return F.concat_ws(" ", "text", *tokens)


def _nudged(c):
    first = (F.element_at("embedding", 1) + c.cast("float") / 1000.0).cast("float")
    return F.concat(F.array(first), F.slice("embedding", 2, 10_000))


# table -> (id column, perturbed column, its value in copy c > 0)
_PERTURB = {
    "documents": ("doc_id", "text", _copy_tokens),
    "embeddings": ("vec_id", "embedding", lambda c, parity: _nudged(c)),
    "customer": ("c_custkey", "c_name",
                 lambda c, parity: F.concat("c_name", F.char(F.lit(96) + c))),
    "orders": ("o_orderkey", None, None),
}


def build_copies(spark, src: str, copies: int, dest: str, tables, partitions: int,
                 parity: bool = False) -> None:
    """Write ``copies`` perturbed copies of each of ``tables`` from ``src``
    to ``dest`` (the module docstring gives the perturbation)."""
    c = F.col("_c")
    cdf = spark.range(copies).select(F.col("id").alias("_c"))
    for table in tables:
        df = load(spark, src, table)
        id_col, col, copy_value = _PERTURB[table]
        head = [(F.col(id_col) + c * (df.count() * copies)).alias(id_col)]
        if col:
            head.append(F.when(c == 0, F.col(col)).otherwise(copy_value(c, parity)).alias(col))
        rest = [k for k in df.columns if k not in (id_col, col)]
        (
            df.crossJoin(cdf).select(*head, *rest)
            .repartition(partitions)
            .write.mode("overwrite")
            .parquet(f"{dest}/{table}.parquet")
        )


def dataset(spark, copies: int) -> str:
    """The directory of the ``copies``-x dataset, building missing tables."""
    if copies == 1:
        return SF01
    cs = COPY_SETS[copies]
    missing = [t for t in cs.tables if not os.path.isdir(f"{cs.path}/{t}.parquet")]
    if missing:
        print(f"building {copies}x {missing} ...", flush=True)
        t0 = time.perf_counter()
        build_copies(spark, SF01, copies, cs.path, missing, cs.partitions, cs.parity)
        print(f"built in {time.perf_counter() - t0:.1f} s", flush=True)
    return cs.path


# ---------------------------------------------------------------------------
# shared inputs
# ---------------------------------------------------------------------------

def ingest_docs(spark, t: int = 0) -> DataFrame:
    """Trigger ``t``'s fixed ingest batch: trailing-token variants of the
    1x docs with ``doc_id % 37 == t``, ids shifted past every copy."""
    return _ensure_parallelism(
        load(spark, SF01, "documents").filter(
            (F.col("doc_id") % 37 == t) & F.col("text").isNotNull()
        )
    ).select(
        (F.col("doc_id") + 1_000_000 * (t + 1)).alias("doc_id"),
        F.concat("text", F.lit(" the")).alias("text"),
        F.coalesce("source", F.lit("web")).alias("source"),
    )


def committed_docs(spark, sf_dir: str) -> DataFrame:
    """The committed 1-in-5 corpus slice an against-index probe runs on."""
    return _ensure_parallelism(
        load(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % 5 == 4) & F.col("text").isNotNull()
        )
    ).select("doc_id", "text")


def seeded_centroids(spark, vectors: DataFrame) -> DataFrame:
    """10 cells: the means of ``vectors`` assigned to one-hot seeds."""
    seeds = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(64)]) for i in range(10)],
        "cell int, centroid array<double>",
    )
    means = similarity.mean_centroids(
        similarity.ivf_assign(vectors, seeds).select("cell", "embedding")
    )
    return spark.createDataFrame(means.collect(), "cell int, centroid array<double>")


@functools.cache
def _query_vector(spark) -> list:
    row = load(spark, SF01, "embeddings").filter(F.col("vec_id") == 0).first()
    return [float(v) for v in row["embedding"]]


@functools.cache
def _registry() -> dict:
    return plans.all_queries()


class Scale:
    """One scale's inputs and the state ``prep`` steps leave for later rows."""

    def __init__(self, spark, copies: int, far: int, work: str):
        self.spark, self.copies, self.far = spark, copies, far
        self.sf_dir = dataset(spark, copies)
        self.work = f"{work}/{copies}x"
        self.row, self.notes = None, {}

    docs = cached_property(lambda x: load(x.spark, x.sf_dir, "documents"))
    emb = cached_property(lambda x: load(x.spark, x.sf_dir, "embeddings"))
    orders = cached_property(lambda x: load(x.spark, x.sf_dir, "orders"))
    customer = cached_property(lambda x: load(x.spark, x.sf_dir, "customer"))
    data = cached_property(lambda x: x.emb.filter(F.col("vec_id") != 0))
    vectors = cached_property(lambda x: x.data.select("vec_id", "embedding"))
    text_docs = cached_property(lambda x: _ensure_parallelism(
        x.docs.filter(F.col("text").isNotNull())))
    qvec = cached_property(lambda x: _query_vector(x.spark))
    batch = cached_property(lambda x: ingest_docs(x.spark))
    centroids = cached_property(lambda x: seeded_centroids(x.spark, x.vectors))
    committed = cached_property(lambda x: committed_docs(x.spark, x.sf_dir))

    def query(self, name: str) -> DataFrame:
        return _registry()[name](self.spark, self.sf_dir)

    def note(self, text: str) -> None:
        """Printed after the current row's timing."""
        self.notes[self.row] = text

    def excluded(self, what: str, t0: float) -> None:
        print(f"  [{self.copies}x] ({what}, excluded): "
              f"{time.perf_counter() - t0:.2f} s", flush=True)


# ---------------------------------------------------------------------------
# one warm-trial timer, one scaling row
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Row:
    """A timed call. ``fn(x)`` returns a DataFrame (counted) or a
    driver-side result; ``prep(x)`` runs once before, untimed."""

    name: str
    fn: object
    scales: tuple = (1, 10)
    prep: object = None


TWO = (1, 10, 100)


def timed(x: Scale, row: Row) -> "tuple[float, int | None]":
    """Two trials; the first pays one-time JVM/codegen compile for the
    plan shape, so the warm second one is reported."""
    for _ in range(2):
        t0 = time.perf_counter()
        out = row.fn(x)
        n = out.count() if isinstance(out, DataFrame) else (
            len(out) if isinstance(out, list) else None)
        dt = round(time.perf_counter() - t0, 2)
    rows = "" if n is None else f" ({n} rows)"
    note = x.notes.pop(row.name, "")
    print(f"  [{x.copies}x] {row.name}: {dt} s{rows} {note}".rstrip(), flush=True)
    return dt, n


@dataclass(frozen=True)
class Rows:
    """A family of scaling rows: the ``table`` rows measured at every one
    of ``scales``, reported with the per-decade exponents."""

    scales: tuple
    table: tuple

    @property
    def rows(self) -> list:
        return [r for r in self.table if set(self.scales) <= set(r.scales)]

    def run(self, spark) -> int:
        work = tempfile.mkdtemp(prefix="stress_")
        try:
            by_scale = {}
            for copies in self.scales:
                x = Scale(spark, copies, max(self.scales), work)
                print(f"{copies}x pass ({x.sf_dir}):", flush=True)
                by_scale[copies] = {}
                for row in self.rows:
                    x.row = row.name
                    if row.prep:
                        row.prep(x)
                    by_scale[copies][row.name] = timed(x, row)
                shutil.rmtree(x.work, ignore_errors=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        report = {}
        for row in self.rows:
            t1 = by_scale[1][row.name][0]
            rec = report[row.name] = {}
            for copies, res in by_scale.items():
                rec[f"t_{copies}x"], n = res[row.name]
                if n is not None:
                    rec[f"n_{copies}x"] = n
                if copies > 1:  # t_s / t_1 = s ** exp_s
                    ratio = max(rec[f"t_{copies}x"], 0.01) / max(t1, 0.01)
                    rec[f"exp_{copies}x"] = round(math.log(ratio, copies), 2)
        print("STRESS " + json.dumps(report))
        return 0


# ---------------------------------------------------------------------------
# CORPUS: the sf1 (1x/10x) and sf10 (1x/100x) rows
# ---------------------------------------------------------------------------

def _tokens(x):
    return x.docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))


def _pq(x):
    cb = similarity.pq_train_driver(x.data, m=16, k=16, refine_iterations=1)
    enc = similarity.pq_encode(x.data, cb, dsub=4)
    return similarity.pq_topk(enc, cb, x.qvec, k=10, rerank_factor=8, dsub=4)


def _ivf_knn(x):
    corpus = x.emb.filter(F.col("vec_id") >= 20)
    cents = similarity.mean_centroids(corpus.withColumn("cell", F.col("label")), "cell")
    return similarity.ivf_knn_join(
        x.emb.filter(F.col("vec_id") < 20), corpus, cents, k=5, nprobe=3)


def _inc_minhash(x):
    idx = dedup.minhash_index(x.docs.filter(F.col("doc_id") % 3 == 0), "doc_id")
    return dedup.near_dedup_against_index(
        x.docs.filter(F.col("doc_id") % 3 != 0), idx, "doc_id")


def _bloom_dedup(x):
    index = dedup.fingerprint_index(x.docs.filter(F.col("doc_id") % 3 == 0))
    return dedup.dedup_against_index_bloom(
        x.docs.filter(F.col("doc_id") % 3 != 0), index, "doc_id")


def _k2_gate(x):
    # k2 on TPC-H's sequential names is output-bound (sf0.1 alone emits
    # 4.1M pairs): a 10% hash gate at every scale keeps the row on the
    # candidate/verify machinery
    x.note("(input capped to a 10% hash gate)")


def _bench_split(x, report):
    m = 20 if x.far == 10 else 2000
    return report(x.emb.filter(F.col("vec_id") % m != 0),
                  x.emb.filter(F.col("vec_id") % m == 0), threshold=0.8)


def _quota(x):
    w = x.docs.groupBy("source").agg(F.count(F.lit(1)).alias("wt"))
    q = sampling.largest_remainder_quotas(w, "source", "wt", total=1000)
    return sampling.sample_quota_per_group(
        x.docs.select("doc_id", "source"), "source", q, salt_cols=["doc_id"])


def _psi(x):
    half = x.docs.select("doc_id", F.length("text").alias("v"))
    return timeseries.psi_drift(
        half.filter(F.col("doc_id") % 2 == 0), half.filter(F.col("doc_id") % 2 == 1),
        "v", lo=0.0, hi=2000.0, nbins=20)


def _scored(x, scorer):
    # the fit is part of the row
    return apply_text_scorer(
        x.docs.filter(F.col("text").isNotNull()), scorer.from_corpus(x.docs))


def _bm25_inverted(x):
    qdf = x.spark.createDataFrame(
        list(_BM25_BATCH.items()), "query_id string, terms array<string>")
    return text.bm25_topk_inverted(x.docs.select("doc_id", "text"), qdf, k=10)


def _cc_pairs(x):
    # graph-bound: the input edges are printed with the row
    x.cc_n = dedup.ngram_jaccard_pairs(x.docs, "doc_id", threshold=JACCARD_THRESHOLD).count()


def _cc(x):
    stats: dict = {}
    res = dedup.connected_components(
        dedup.ngram_jaccard_pairs(x.docs, "doc_id", threshold=JACCARD_THRESHOLD),
        out_col="doc_id", num_partitions=max(4, x.cc_n // 50_000), stats=stats)
    x.note(f"(input pairs {x.cc_n}, rounds {stats.get('rounds')})")
    return res


def _hll(x):
    if x.far == 10:
        return hll_distinct_audit(x.orders, "o_orderpriority", "o_custkey",
                                  F.date_trunc("month", F.col("o_orderdate")))
    return hll_distinct_audit(x.docs, "source", "doc_id", F.col("lang"))


def _intervals(x):
    return timeseries.active_intervals_by_month(
        x.orders.select("o_orderdate", F.date_add(F.col("o_orderdate"), 90).alias("_end"),
                        "o_totalprice"),
        "o_orderdate", "_end", "o_totalprice")


def _q(name):
    return lambda x: x.query(name)


_BM25_TERMS = ["merge", "window", "stream", "hash"]

# Rows without TWO run one decade only. GRAPH_BOUND marks the
# pair-emitting near-dup rows: every copy forms a clique with its
# siblings, so true pairs grow ~n * copies^2 and a 100x point would time
# output materialization. The relational rows read tables the 100x build
# does not copy, and the rest were added after the 100x leg.
GRAPH_BOUND = (1, 10)
CORPUS = (
    Row("dedup_exact", lambda x: dedup.exact_dedup_groups(x.docs, "doc_id"), TWO),
    Row("dedup_minhash_lsh", lambda x: dedup.minhash_lsh_pairs(
        x.docs, "doc_id", threshold=0.5), GRAPH_BOUND),
    Row("dedup_simhash", lambda x: dedup.simhash_pairs(
        x.docs, "doc_id", max_hamming=3), GRAPH_BOUND),
    Row("near_dedup_pipeline", lambda x: dedup.near_dedup_pipeline(
        x.docs, "doc_id"), GRAPH_BOUND),
    Row("dedup_embedding_blocked", lambda x: similarity.cosine_pairs_blocked(
        x.emb, "label", threshold=0.3), GRAPH_BOUND),
    Row("ann_brute_force", lambda x: similarity.brute_force_topk(x.data, x.qvec, k=10), TWO),
    Row("ann_rp_lsh", lambda x: similarity.rp_lsh_topk(
        x.data, x.qvec, k=10, bucket_length=0.25, multiprobe=1)),
    Row("ann_quantized", lambda x: similarity.quantized_topk(x.data, x.qvec, k=10), TWO),
    Row("ann_pq", _pq),
    Row("knn_join", lambda x: similarity.knn_join(
        x.emb.filter(F.col("vec_id") < 20), x.data, k=5)),
    Row("ann_ivf_knn_join", _ivf_knn),
    Row("maxsim", lambda x: similarity.maxsim_topk(x.data, x.qvec, n_tokens=4, k=10), TWO),
    Row("repeated_passages", lambda x: dedup.repeated_passages(
        x.docs, "doc_id", "text", n=8, min_docs=3)),
    Row("heavy_hitter_tokens", lambda x: heavy_hitters(_tokens(x), "token", k=200), TWO),
    Row("cms_token_counts", lambda x: sketches.cms_frequency_audit(_tokens(x), "token", top_n=20)),
    Row("dedup_incremental_minhash", _inc_minhash, GRAPH_BOUND),
    Row("fuzzy_pairs", lambda x: fuzzy.edit_distance_pairs(x.customer, "c_custkey", "c_name")),
    Row("fuzzy_pairs_k2", lambda x: fuzzy.edit_distance_pairs(
        x.customer.filter(sampling.hash_gate("c_custkey", 10)), "c_custkey", "c_name",
        max_dist=2), prep=_k2_gate),
    Row("semantic_decontaminate",
        lambda x: _bench_split(x, similarity.semantic_decontaminate), TWO),
    Row("quota_mix", _quota),
    Row("psi_drift", _psi),
    Row("split_grouped", lambda x: sampling.split_assign(
        x.docs.select("doc_id", "source"), "doc_id",
        [("train", 80), ("val", 10), ("test", 10)], group_col="source", seed=5)),
    Row("contamination_report", lambda x: _bench_split(x, similarity.contamination_report)),
    Row("contamination_report_ngram", lambda x: dedup.contamination_report_ngram(
        x.docs.filter(F.col("doc_id") % 20 != 0), x.docs.filter(F.col("doc_id") % 20 == 0),
        "doc_id")),
    # the registered query profiles lineitem, which no copy set holds;
    # orders.o_custkey runs the same plan
    Row("skew_profile", lambda x: skew_profile(x.orders, "o_custkey")),
    Row("commonness_scorer", lambda x: _scored(x, VocabCommonnessScorer)),
    Row("training_pipeline_v2", _q("q_training_pipeline_v2")),
    Row("bm25_topk", lambda x: text.bm25_topk(
        x.docs.select("doc_id", "text"), _BM25_TERMS, k=25), TWO),
    Row("bm25_batch", lambda x: text.bm25_topk_batch(
        x.docs.select("doc_id", "text"), _BM25_BATCH, k=10), TWO),
    Row("bm25_inverted", _bm25_inverted, TWO),
    Row("lm_perplexity", lambda x: _scored(x, BigramLMScorer).select(
        "doc_id", "log10_prob", "perplexity"), TWO),
    Row("dedup_clusters_cc", _cc, GRAPH_BOUND, _cc_pairs),
    Row("hll_distinct", _hll, TWO),
    Row("interval_overlap", _intervals),
    Row("hybrid_rrf", _q("q_hybrid_rrf"), TWO),
    Row("rerank_topk", _q("q_rerank_topk"), TWO),
    Row("dsir_resample", _q("q_dsir_resample"), TWO),
    Row("rrf_grouped_ensemble", _q("q_rrf_grouped"), TWO),
    Row("langid_trained", _q("q_langid_trained"), TWO),
    Row("training_pipeline_v3", _q("q_training_pipeline_v3"), TWO),
    Row("url_dedup", _q("q_url_dedup")),
    Row("rerank_trained", _q("q_rerank_trained")),
    Row("corpus_build_mini", _q("q_corpus_build_mini")),
    Row("corpus_datasheet", _q("q_corpus_datasheet")),
    Row("fuzzy_k3_passjoin", _q("q_fuzzy_name_pairs_k3")),
    Row("ann_ivf_pq", _q("q_ann_ivf_pq")),
    Row("sequence_manifest", _q("q_sequence_manifest")),
    Row("tdigest_groups", lambda x: sketches.tdigest_groups(
        x.orders, "o_totalprice", "o_orderpriority")),
    Row("dedup_incremental_bloom", _bloom_dedup),
)


# ---------------------------------------------------------------------------
# IVFPQ_STAGES: each IVF-PQ build/probe stage at 1x/10x/100x
# ---------------------------------------------------------------------------

M, KC, NPROBE, RERANK = 32, 16, 8, 32


def _stage_centroids(x):
    x.cents_src = similarity.mean_centroids(x.emb.select(F.col("label").alias("cell"), "embedding"))


def _stage_assign(x):
    x.cents = x.spark.createDataFrame(x.cents_src.collect(), x.cents_src.schema)
    x.assigned = similarity.ivf_assign(x.data, x.cents)


def _stage_residual(x):
    x.resid = similarity.ivf_residuals(x.assigned, x.cents)


def _stage_train(x):
    x.cb = similarity.pq_train_driver(x.resid, vec_col="residual", m=M, k=KC)
    return x.cb


def _stage_encode(x):
    x.encoded = similarity.ivf_pq_encode(x.assigned, x.cents, x.cb)


def _stage_index_write(x):
    x.stage_idx = f"{x.work}/ivfpq_index"
    shutil.rmtree(x.stage_idx, ignore_errors=True)
    similarity.ivf_pq_index_write(x.data, x.cents, x.cb, x.stage_idx)


IVFPQ_STAGES = (
    Row("centroids", lambda x: x.cents_src.collect(), TWO, _stage_centroids),
    Row("assign", lambda x: x.assigned, TWO, _stage_assign),
    Row("residual", lambda x: x.resid, TWO, _stage_residual),
    Row("pq_train", _stage_train, TWO),
    Row("pq_train_capped", lambda x: similarity.pq_train_driver(
        similarity._bounded_train_frame(x.resid, "vec_id", 65_536),
        vec_col="residual", m=M, k=KC), TWO),
    Row("encode", lambda x: x.encoded, TWO, _stage_encode),
    Row("index_write", _stage_index_write, TWO),
    Row("probe", lambda x: similarity.ivf_pq_index_topk(
        x.spark, x.stage_idx, x.qvec, k=10, nprobe=NPROBE, rerank_factor=RERANK).collect(), TWO),
    Row("probe_live", lambda x: similarity.ivf_pq_topk(
        x.encoded, x.cents, x.cb, x.qvec, k=10, nprobe=NPROBE,
        rerank_factor=RERANK).collect(), TWO),
)


# ---------------------------------------------------------------------------
# PROBES: winnow tiers and persisted IVF-PQ probes at 1x/10x
# ---------------------------------------------------------------------------

def _pq_index(x):
    x.pq_idx, t0 = f"{x.work}/pq_idx", time.perf_counter()
    similarity.ivf_pq_index_build(x.vectors, x.centroids, x.pq_idx, m=16, k=16)
    x.excluded("ivf-pq index build", t0)


def _pq_probe(x, path, **mode):
    stats: dict = {}
    out = similarity.ivf_pq_index_topk(
        x.spark, path, x.qvec, k=10, rerank_factor=8, probe_stats=stats, **mode)
    x.note(" ".join(f"{k}={len(v) if isinstance(v, list) else v}" for k, v in stats.items()
                    if k in ("cells_scanned", "cells_ranked", "rounds", "pruned_cells")))
    return out


def _pos_index(x):
    t0 = time.perf_counter()
    dedup.winnow_pos_index(x.text_docs, "doc_id").write.mode("overwrite").parquet(
        f"{x.work}/pos_index")
    x.pos_index = x.spark.read.parquet(f"{x.work}/pos_index")
    x.excluded("positioned index write", t0)


PROBES = (
    Row("winnow_match_spans", lambda x: dedup.winnow_match_spans(
        x.text_docs, "doc_id", threshold=0.5, max_fingerprint_df=50)),
    Row("winnow_pairs_capped", lambda x: dedup.winnow_pairs(
        x.text_docs, "doc_id", threshold=0.5, max_fingerprint_df=50)),
    Row("ivfpq_probe_plain", lambda x: _pq_probe(x, x.pq_idx, nprobe=8), prep=_pq_index),
    Row("ivfpq_probe_adc_prune", lambda x: _pq_probe(
        x, x.pq_idx, nprobe=8, adc_prune=True, prune_phase1=2)),
    Row("winnow_spans_incremental_probe", lambda x: dedup.winnow_spans_against_index(
        x.batch.select("doc_id", "text"), x.pos_index, "doc_id", threshold=0.5,
        max_fingerprint_df=50), prep=_pos_index),
    Row("ivfpq_probe_adaptive", lambda x: _pq_probe(
        x, x.pq_idx, adaptive_nprobe=True, prune_phase1=2)),
)


# ---------------------------------------------------------------------------
# LIFECYCLE: persisted-index lifecycle rows at 1x/10x/100x
# ---------------------------------------------------------------------------

_THRESHOLD, _MAX_DF = 0.5, 200


def _spans_index(x):
    x.spans_idx, t0 = f"{x.work}/spans_widx", time.perf_counter()
    dedup.winnow_pos_index_write(x.text_docs, x.spans_idx)
    x.excluded("winnow index build", t0)


def _fragmented_index(x):
    # one write + 7 adds: the add-forever file layout compaction repairs
    resid = similarity.ivf_residuals(similarity.ivf_assign(x.vectors, x.centroids), x.centroids)
    cb = similarity.pq_train_driver(
        similarity._bounded_train_frame(resid, "vec_id", 65_536),
        vec_col="residual", m=16, k=16)
    x.frag_idx, t0 = f"{x.work}/frag_vidx", time.perf_counter()

    def eighth(i):
        return x.vectors.filter(F.col("vec_id") % 8 == i)

    similarity.ivf_pq_index_write(eighth(1), x.centroids, cb, x.frag_idx)
    for i in (0, 2, 3, 4, 5, 6, 7):
        similarity.ivf_pq_index_add(x.spark, x.frag_idx, eighth(i))
    files = hadoop_data_file_count(x.spark, f"{x.frag_idx}/vectors.parquet")
    x.excluded(f"fragmented build: 1 write + 7 adds, {files} files", t0)


def _compact(x, path, compact):
    t0 = time.perf_counter()
    st = compact(x.spark, path)
    x.excluded(f"compact: dropped {st['removed_rows']} rows, files "
               f"{st['files_before']} -> {st['files_after']}", t0)


def _dedup_index(x):
    x.dedup_idx, t0 = f"{x.work}/dedup_widx", time.perf_counter()
    dedup.winnow_pos_index_write(x.committed, x.dedup_idx)
    x.excluded(f"winnow index build over {x.committed.count()} committed docs", t0)


def _against_index(x):
    return dedup.winnow_index_dedup(
        x.spark, x.dedup_idx, x.batch.select("doc_id", "text"),
        threshold=_THRESHOLD, max_fingerprint_df=_MAX_DF)


def _incremental_build(x):
    cfg = CorpusBuildConfig(
        near_threshold=_THRESHOLD, near_method="winnow", near_max_df=_MAX_DF, min_tokens=4,
        scrub_pii=False, quota_per_source=None, block_size=512)
    return build_corpus(x.batch, cfg=cfg, dedup_index=x.dedup_idx)


def _remove(x, path, remove, ids):
    # ~2% of the committed ids, pending until the next compact
    t0 = time.perf_counter()
    rep = remove(x.spark, path, ids)
    x.excluded(f"remove: {rep['matched_live']} tombstoned", t0)


def _ivf_index(x):
    x.ivf_idx, t0 = f"{x.work}/ivf_vidx", time.perf_counter()
    similarity.ivf_index_write(x.vectors, x.centroids, x.ivf_idx)
    x.excluded("ivf index build", t0)


def _ivf_probe(x):
    return similarity.ivf_index_topk(x.spark, x.ivf_idx, x.qvec, k=10, nprobe=4)


LIFECYCLE = (
    Row("winnow_robust_fold", lambda x: x.text_docs.select("doc_id", F.explode(
        text.winnow_fingerprints("text", k=8, w=4, portable=False, robust=True)).alias("s")), TWO),
    Row("winnow_spans_probe", lambda x: dedup.winnow_index_spans(
        x.spark, x.spans_idx, x.batch.select("doc_id", "text"), threshold=_THRESHOLD,
        max_fingerprint_df=_MAX_DF), TWO, _spans_index),
    Row("ivfpq_probe_fragmented", lambda x: _pq_probe(x, x.frag_idx, nprobe=8), TWO,
        _fragmented_index),
    Row("ivfpq_probe_compacted", lambda x: _pq_probe(x, x.frag_idx, nprobe=8), TWO,
        lambda x: _compact(x, x.frag_idx, similarity.ann_index_compact)),
    Row("ivfpq_probe_adaptive", lambda x: _pq_probe(x, x.frag_idx, adaptive_nprobe=True), TWO),
    Row("against_index_dedup", _against_index, TWO, _dedup_index),
    Row("corpus_build_incremental", _incremental_build, TWO),
    Row("against_index_tombstoned", _against_index, TWO, lambda x: _remove(
        x, x.dedup_idx, dedup.winnow_index_remove,
        x.committed.filter(F.col("doc_id") % 50 == 49))),
    Row("against_index_after_compact", _against_index, TWO,
        lambda x: _compact(x, x.dedup_idx, dedup.winnow_index_compact)),
    Row("ivf_probe", _ivf_probe, TWO, _ivf_index),
    Row("ivf_probe_tombstoned", _ivf_probe, TWO, lambda x: _remove(
        x, x.ivf_idx, similarity.ann_index_remove,
        x.vectors.filter(F.col("vec_id") % 50 == 49).select("vec_id"))),
    Row("ivf_probe_after_compact", _ivf_probe, TWO,
        lambda x: _compact(x, x.ivf_idx, similarity.ann_index_compact)),
)


# ---------------------------------------------------------------------------
# stream legs: N_TRIGGERS fixed batches into a 10x index
# ---------------------------------------------------------------------------

N_TRIGGERS = 8
COMPACT_EVERY = 4


@dataclass(frozen=True)
class StreamLeg:
    """``build(x, path)`` writes the committed 10x index; ``batch(spark, t)``
    is trigger t's fixed rows; ``unit(x, path, df, batch_id)`` is the
    timed per-trigger work, returning (applied, extra row fields);
    ``takedown(x, batch_id)`` names a fresh committed slice for
    ``remove``; ``files_ok(rows, first)`` is the leg's file-count verdict
    (``first`` = the trigger of the first compact)."""

    schema: str
    build: object
    batch: object
    unit: object
    takedown: object
    remove: object
    stats: object
    compact: object
    files_ok: object

    def run(self, spark) -> int:
        work = tempfile.mkdtemp(prefix="stress_stream_")
        try:
            return self._run(Scale(spark, 10, 10, work), f"{work}/index")
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def _run(self, x, path) -> int:
        t0 = time.perf_counter()
        self.build(x, path)
        x.excluded("index build over the committed 10x corpus", t0)
        landing = f"{x.work}/landing"
        sizes = []
        for t in range(N_TRIGGERS):
            b = self.batch(x.spark, t)
            b.coalesce(1).write.mode("append").parquet(landing)
            sizes.append(b.count())
        print(f"staged {N_TRIGGERS} trigger batches, sizes {sizes}", flush=True)
        rows: list = []

        def add(batch_df, batch_id: int) -> bool:
            t_unit = time.perf_counter()
            applied, extra = self.unit(x, path, batch_df, batch_id)
            unit_sec = round(time.perf_counter() - t_unit, 2)
            t_rm = time.perf_counter()
            rep = self.remove(x.spark, path, self.takedown(x, batch_id))
            st = self.stats(x.spark, path)
            rows.append({
                "trigger": batch_id, "unit_sec": unit_sec, **extra,
                "remove_sec": round(time.perf_counter() - t_rm, 2),
                "tombstoned": rep["matched_live"], "backlog": st["tombstones"],
                "files": st["data_files"], "compact_sec": None,
            })
            print(f"  [t{batch_id}] {rows[-1]}", flush=True)
            return applied

        def compact(spark, index_path: str) -> None:
            t_c = time.perf_counter()
            cst = self.compact(spark, index_path)
            st = self.stats(spark, index_path)
            rows[-1].update(compact_sec=round(time.perf_counter() - t_c, 2),
                            backlog=st["tombstones"], files=st["data_files"])
            print(f"  [t{rows[-1]['trigger']}] compact: {rows[-1]['compact_sec']} s, "
                  f"dropped {cst['removed_rows']} rows, files "
                  f"{cst['files_before']} -> {cst['files_after']}", flush=True)

        stream = (x.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(landing))
        jobs._run_index_add(stream, path, add, compact, f"{x.work}/ckpt",
                            COMPACT_EVERY, "stress")
        return self.verdict(rows)

    def verdict(self, rows: list) -> int:
        assert len(rows) == N_TRIGGERS, (
            f"expected {N_TRIGGERS} triggers, got {len(rows)}: "
            "the maxFilesPerTrigger staging broke")
        # the first window carries the build's file layout and JVM warm-up
        first = next(i for i, r in enumerate(rows) if r["compact_sec"] is not None)
        steady = [r["unit_sec"] for r in rows[first + 1:]]
        flat = max(steady) / max(min(steady), 0.01)
        drained = [r["backlog"] for r in rows if r["compact_sec"] is not None]
        files_ok, files = self.files_ok(rows, first)
        print(json.dumps({
            "n_triggers": N_TRIGGERS, "compact_every": COMPACT_EVERY, "per_trigger": rows,
            "warmup_unit_sec": [r["unit_sec"] for r in rows[:first + 1]],
            "steady_state_unit_sec": steady, "steady_flat_ratio": round(flat, 2),
            "max_backlog": max(r["backlog"] for r in rows),
            "backlog_after_each_compact": drained,
            "files_per_trigger": [r["files"] for r in rows],
        }, indent=1), flush=True)
        assert all(b == 0 for b in drained), f"compact left a backlog: {drained}"
        print(f"VERDICT: post-first-compact steady state flat ratio {flat:.2f} "
              f"({'OK' if flat <= 1.6 else 'GROWING'}), backlog bounded at "
              f"{max(r['backlog'] for r in rows)} and drained to 0 by each compact, "
              f"{files}", flush=True)
        return 0 if flat <= 1.6 and files_ok else 1


def _winnow_unit(x, path, batch_df, batch_id):
    return jobs.winnow_index_dedup_batch(
        batch_df, path, f"{x.work}/sink", batch_id,
        threshold=_THRESHOLD, max_fingerprint_df=_MAX_DF), {}


def _steady_files(rows, first):
    # fps.parquet files stay within one cadence of appends
    files = [r["files"] for r in rows[first:]]
    return (max(files) <= COMPACT_EVERY + 1,
            f"steady fps files bounded {min(files)}..{max(files)}")


def _ann_unit(x, path, batch_df, batch_id):
    # exactly-once append, then the probe a concurrent search trigger runs
    applied = similarity.ann_index_add_batch(x.spark, path, batch_df, batch_id)
    hits = len(similarity.ivf_index_topk(x.spark, path, x.qvec, k=10, nprobe=4).collect())
    assert hits == 10, "a probe returned fewer than k rows mid-stream"
    return applied, {"probe_hits": hits}


def _compact_baselines(rows, first):
    # each compact returns vectors.parquet to the same flat layout
    base = [r["files"] for r in rows if r["compact_sec"] is not None]
    ok = max(base) - min(base) <= 2
    return ok, (f"post-compact file baseline {min(base)}..{max(base)} "
                f"({'flat' if ok else 'GROWING'})")


STREAM_WINNOW = StreamLeg(
    schema="doc_id long, text string",
    build=lambda x, path: dedup.winnow_pos_index_write(x.committed, path),
    batch=lambda spark, t: ingest_docs(spark, t).select("doc_id", "text"),
    unit=_winnow_unit,
    # committed ids are 4 mod 5: a ~1/40 slice per trigger, disjoint
    takedown=lambda x, b: x.committed.filter(F.col("doc_id") % 200 == 4 + 5 * b),
    remove=dedup.winnow_index_remove,
    stats=dedup.winnow_index_stats,
    compact=dedup.winnow_index_compact,
    files_ok=_steady_files,
)

STREAM_ANN = StreamLeg(
    schema="vec_id long, embedding array<float>",
    build=lambda x, path: similarity.ivf_index_write(x.vectors, x.centroids, path),
    batch=lambda spark, t: load(spark, SF01, "embeddings").filter(
        (F.col("vec_id") != 0) & (F.col("vec_id") % 37 == t)).select(
        (F.col("vec_id") + 10_000_000 * (t + 1)).alias("vec_id"), "embedding"),
    unit=_ann_unit,
    takedown=lambda x, b: x.vectors.filter(F.col("vec_id") % 80 == b).select("vec_id"),
    remove=similarity.ann_index_remove,
    stats=similarity.ann_index_stats,
    compact=similarity.ann_index_compact,
    files_ok=_compact_baselines,
)


FAMILIES = {
    "sf1": Rows((1, 10), CORPUS),
    "sf10": Rows((1, 100), CORPUS),
    "ivfpq": Rows((1, 10, 100), IVFPQ_STAGES),
    "probes": Rows((1, 10), PROBES),
    "lifecycle": Rows((1, 10, 100), LIFECYCLE),
    "stream_winnow": STREAM_WINNOW,
    "stream_ann": STREAM_ANN,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--family", required=True, choices=sorted(FAMILIES))
    name = ap.parse_args(argv).family
    return FAMILIES[name].run(get_spark(f"stress-{name}"))


if __name__ == "__main__":
    raise SystemExit(main())
