"""Corpus wave 5: entity resolution, sketch aggregates, interval overlap,
and the remaining rank/string-agg SQL surface.

The reference's analytics treat every distinct string as a distinct entity
(exact-equality groupBy keys), count distincts exactly with one job per
column (app/machine_learning_models.py:159-167), and have no temporal
overlap view at all. This wave adds the operators a warehouse actually
runs at scale for those jobs:

- ``q_fuzzy_name_pairs``     — edit-distance<=1 similarity self-join via
  FastSS deletion-neighborhood blocking (operators/fuzzy.py) — linear
  candidate generation, no quadratic block even under shared prefixes.
- ``q_hll_distinct``         — mergeable DataSketches HLL distinct counts
  (direct AND partial-sketch-union paths) audited against the exact count;
  the booleans are oracle-verified so a silent estimator drift turns the
  gate red.
- ``q_orders_open_by_month`` — interval-overlap aggregation (orders open
  between order date and last shipment) via bin-explode, replacing the
  broadcast-nested-loop a BETWEEN theta-join would force.
- ``q_window_rank_family``   — rank / dense_rank / percent_rank /
  cume_dist in one window (SURVEY §2.5 rank surface).
- ``q_string_agg_per_nation`` — deterministic ordered string aggregation
  (listagg) per dimension key.

Same determinism contract as plans/corpus.py: exact-decimal money sums via
the VARCHAR hop, rank family over a total order or tie-invariant outputs,
sorted collect_list so aggregation order never leaks into results.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import fuzzy, timeseries
from ..operators.aggregates import (
    heavy_hitters,
    hll_distinct_audit,
    hll_intersection_audit,
    profile_table,
)
from ..operators.dedup import repeated_passages, scrub_repeated_passages
from ..operators.joins import join_dim_fact
from .corpus import SUM2


def q_fuzzy_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """All customer-name pairs within edit distance 1 — the typo-tolerant
    entity match the reference's exact-equality grouping lacks. Candidate
    generation is the order-1 deletion neighborhood (len+1 keys/row, an
    equality join), never the all-pairs product."""
    cust = load(spark, sf, "customer")
    return fuzzy.edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=1)


def q_fuzzy_name_pairs_k2(spark: SparkSession, sf: str) -> DataFrame:
    """The k=2 neighborhood on a segment-bounded roster: order-2 deletion
    blocking (1+len+C(len,2) keys/row) with the same banded verification.
    Distance-2 name pairs differ in up to two digits, so the match set is
    ~30x denser than k=1 — the segment filter keeps the demonstration
    bounded while exercising the full order-2 path end-to-end."""
    cust = load(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return fuzzy.edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=2)


def q_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct customers per order priority via mergeable HLL sketches —
    both the direct per-group sketch and the union of per-month partial
    sketches — each asserted within 5% of the exact count (lgk=14 keeps the
    expected error ~0.4%, so the tolerance still catches a broken merge
    while never flaking). The exact count doubles as the oracle witness."""
    orders = load(spark, sf, "orders")
    return hll_distinct_audit(
        orders,
        "o_orderpriority",
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")),
        lgk=14,
        rel_err=0.05,
    ).orderBy("o_orderpriority")


def q_orders_open_by_month(spark: SparkSession, sf: str) -> DataFrame:
    """Orders in flight per calendar month (open from order date until the
    last line shipment): interval-overlap aggregation by month bin-explode
    — linear in (orders x months open), one hash agg, no theta join."""
    last_ship = (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_last_ship"))
    )
    orders = load(spark, sf, "orders")
    iv = orders.join(
        last_ship, orders["o_orderkey"] == last_ship["l_orderkey"]
    ).select(
        "o_orderdate",
        F.greatest("_last_ship", "o_orderdate").alias("_end"),
        "o_totalprice",
    )
    return timeseries.active_intervals_by_month(
        iv, "o_orderdate", "_end", "o_totalprice"
    )


def q_window_rank_family(spark: SparkSession, sf: str) -> DataFrame:
    """The full rank-function surface in ONE window pass: rank, dense_rank,
    percent_rank, cume_dist of order totals within each priority, keeping
    each priority's 3 cheapest ranks (ties included, so the result set is
    tie-invariant and deterministic)."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"))
    ranked = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )
    return ranked.where(F.col("rnk") <= 3)


def q_string_agg_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation (listagg): customer roster per nation as a
    comma-joined, lexically sorted string. collect_list order is execution
    dependent, so the sort inside the aggregate is what makes the value
    deterministic; the dim join broadcasts."""
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    joined = join_dim_fact(cust, nation, "c_nationkey")
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
    )


def q_repeated_passages(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated 8-token passages (ExactSubstr-style span
    dedup): one linear span explode + one hash aggregate — no pairwise
    join anywhere (operators/dedup.repeated_passages)."""
    docs = load(spark, sf, "documents")
    return repeated_passages(docs, "doc_id", "text", n=8, min_docs=3)


def q_heavy_hitter_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token heavy hitters (count*200 > corpus total) via the
    Misra-Gries candidate sketch + exact recount
    (operators/aggregates.heavy_hitters): the full-GROUP-BY answer without
    ever shuffling the long tail."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    return heavy_hitters(toks, "token", k=200)


def q_passage_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Cut every cross-document repeated 8-token span out of each doc
    (dedup.scrub_repeated_passages): detection reused from
    q_repeated_passages, application as a sorted bounded fold of replaces
    — list_reduce-replayable so the oracle is bit-identical."""
    docs = load(spark, sf, "documents")
    return scrub_repeated_passages(docs, "doc_id", "text", n=8, min_docs=3)


def q_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact k-NN JOIN (similarity.knn_join): the 20 lowest-id vectors as
    the query batch, top-5 cosine neighbors each from the rest — the
    broadcast-kernel batch generalization of q_embedding_cosine_topk.
    Partial top-k per Arrow batch under the global total order, ONE final
    per-query shuffle; bit-identical to the cross-join + window oracle."""
    from ..operators.similarity import knn_join

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    return knn_join(queries, corpus, k=5)


def q_ann_ivf_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-blocked k-NN join (similarity.ivf_knn_join), fully
    oracle-checked: label-seeded mean centroids over the corpus side,
    10 query vectors probing their 3 nearest cells, top-5 within the
    probed candidates. Every stage — decimal-exact centroid means, kernel
    cell assignment, driver-side probe ranking, fold cosine — replays in
    SQL (the q_ann_ivf_topk contract, extended per-query)."""
    from ..operators.similarity import ivf_knn_join, mean_centroids

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    cents = mean_centroids(corpus.withColumn("cell", F.col("label")), "cell")
    return ivf_knn_join(queries, corpus, cents, k=5, nprobe=3)


def q_hll_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-estimated distinct intersection (inclusion-exclusion over
    HLL union) with exact audit: customers active in BOTH calendar halves.
    The intersection here is ~99% of the union, so the derived estimator
    sits well inside the 10% audit tolerance — the oracle pins the exact
    count and the audit boolean."""
    from ..functions import month_of

    orders = load(spark, sf, "orders")
    h1 = orders.filter(month_of("o_orderdate") <= 6)
    h2 = orders.filter(month_of("o_orderdate") > 6)
    return hll_intersection_audit(h1, h2, "o_custkey", lgk=14, rel_err=0.1)


def q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass ANALYZE-style profile of the orders table: per column,
    row/non-null/exact-distinct counts and lexical min/max as strings
    (aggregates.profile_table); one scan, inline unpivot."""
    orders = load(spark, sf, "orders")
    return profile_table(orders)


def q_sample_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 3-row uniform sample per order priority
    (sampling.sample_k_per_group, portable hash order): rand()-free so
    retries/replans reproduce the exact sample; md5-bridge hash makes the
    oracle replay it bit-for-bit."""
    from ..operators.sampling import sample_k_per_group

    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return sample_k_per_group(
        orders, "o_orderpriority", 3, ["o_orderkey"], seed=7, portable=True
    )


def q_scd2_customer_segment(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 dimension merge (io.scd2_apply): customer segments with
    1999+ big spenders promoted to 'VIP' — changed keys close their open
    row and append a new version, unchanged/absent keys pass through.
    Spend is an exact-decimal sum so the promotion threshold is
    bit-deterministic; ONE key shuffle for the open⋈updates join."""
    from .. import io as engine_io

    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    cur = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("timestamp").alias("eff_from"),
        F.lit(None).cast("timestamp").alias("eff_to"),
    )
    spend = (
        orders.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("_spend"))
    )
    upd = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        "c_custkey",
        F.when(F.col("_spend") > F.lit(1_500_000), F.lit("VIP"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.lit("1999-01-01").cast("timestamp").alias("eff_date"),
    )
    return engine_io.scd2_apply(cur, upd, "c_custkey", ["c_mktsegment"])


def q_tdigest_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable t-digest quantile sketch per order priority
    (operators/sketches.tdigest_quantile_audit), following the HLL audit
    contract: the exact quartiles+p95 (Spark percentile == DuckDB
    quantile_cont bit-for-bit, the q_quantile_summary bridge) are the
    oracle witness; booleans assert BOTH digest paths — direct per-group
    AND per-month persisted partials re-merged — land within 2%. The
    digest paths shuffle bounded centroid arrays, never values."""
    from ..operators.sketches import tdigest_quantile_audit

    orders = load(spark, sf, "orders")
    return tdigest_quantile_audit(
        orders,
        "o_totalprice",
        "o_orderpriority",
        qs=(0.25, 0.5, 0.75, 0.95),
        delta=200.0,
        rel_err=0.02,
        fine_col=F.date_trunc("month", F.col("o_orderdate")),
    )


def q_dedup_incremental_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup
    (dedup.dedup_against_index_bloom): same corpus/batch split and EXACT
    same survivors as q_dedup_incremental (the bitmap only prunes the
    index scan; false positives die in the anti-join), so it shares that
    query's oracle verbatim. The probe regime this unlocks: batches too
    big to broadcast as an exact hash set, against an index that must
    never shuffle."""
    from ..operators import dedup

    docs = load(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    index = dedup.fingerprint_index(corpus)
    return dedup.dedup_against_index_bloom(batch, index, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k weighted sampling without replacement (A-ES, derandomized:
    sampling.weighted_sample_k): 50 orders drawn with probability
    proportional to o_totalprice. The rank key is a pure per-row map over
    the portable hash, the selection a TakeOrderedAndProject — and the
    oracle replays the exponential-rank draw bit-for-bit."""
    from ..operators.sampling import weighted_sample_k

    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return weighted_sample_k(
        orders, "o_totalprice", k=50, salt_cols=["o_orderkey"],
        seed=7, portable=True,
    )


def q_cms_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch point frequencies for the corpus's 20 hottest
    tokens, audited against exact counts (sketches.cms_frequency_audit).
    est_never_under is a hard CMS guarantee; est_within_bound is the
    e/width epsilon bound — both oracle-pinned TRUE over the exact-count
    witness rows."""
    from ..operators.sketches import cms_frequency_audit

    docs = load(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    return cms_frequency_audit(toks, "token", top_n=20)


def q_consistent_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table CONSISTENT sampling (sampling.hash_gate's joinable-
    samples property as an end-to-end query): customers and orders are
    each gated INDEPENDENTLY at 20% by the same entity key hash, yet the
    join loses nothing — the two gates select the same entities, which
    seeded per-table sample() cannot do. Per-segment rollup of the
    sampled activity: distinct customers, orders, exact-decimal spend."""
    from ..functions import exact_sum
    from ..operators.sampling import hash_gate

    cust = load(spark, sf, "customer").filter(hash_gate("c_custkey", 20))
    orders = load(spark, sf, "orders").filter(hash_gate("o_custkey", 20))
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "total_sampled"),
        )
        .orderBy("c_mktsegment")
    )


def q_dedup_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental NEAR dedup against a persisted minhash index
    (dedup.near_dedup_against_index): docs with doc_id % 3 == 0 play the
    indexed corpus, the rest arrive as a batch; survivors are batch docs
    with no verified Jaccard >= 0.5 near-dup in the corpus. The fuzzy
    twin of q_dedup_incremental — banded probe + exact verify with every
    join broadcasting the batch side, index scan-only. Fully
    oracle-checked via the portable hash bridge."""
    from ..operators import dedup

    docs = load(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    index = dedup.minhash_index(corpus, "doc_id", portable=True)
    return dedup.near_dedup_against_index(
        batch, index, "doc_id", threshold=0.5, portable=True
    ).select("doc_id", "lang", "source")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_fuzzy_name_pairs": q_fuzzy_name_pairs,
    "q_fuzzy_name_pairs_k2": q_fuzzy_name_pairs_k2,
    "q_hll_distinct": q_hll_distinct,
    "q_orders_open_by_month": q_orders_open_by_month,
    "q_window_rank_family": q_window_rank_family,
    "q_string_agg_per_nation": q_string_agg_per_nation,
    "q_repeated_passages": q_repeated_passages,
    "q_heavy_hitter_tokens": q_heavy_hitter_tokens,
    "q_scd2_customer_segment": q_scd2_customer_segment,
    "q_passage_scrub": q_passage_scrub,
    "q_knn_join": q_knn_join,
    "q_ann_ivf_knn_join": q_ann_ivf_knn_join,
    "q_hll_intersection": q_hll_intersection,
    "q_table_profile": q_table_profile,
    "q_sample_k_per_group": q_sample_k_per_group,
    "q_tdigest_quantiles": q_tdigest_quantiles,
    "q_dedup_incremental_bloom": q_dedup_incremental_bloom,
    "q_weighted_sample": q_weighted_sample,
    "q_cms_token_counts": q_cms_token_counts,
    "q_consistent_sample": q_consistent_sample,
    "q_dedup_incremental_minhash": q_dedup_incremental_minhash,
}

ROWS_ONLY_QUERIES: set[str] = set()

# DuckDB twin of the whitespace tokenizer (same as corpus_ext._TOKS) and the
# overlapping 8-token span list for repeated-passage detection.
_TOKS_R5 = "string_split_regex(trim(lower(text)), '\\s+')"
_SPAN8 = (
    "list_transform(range(1, greatest(len(toks) - 6, 1)), i -> "
    + " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(8))
    + ")"
)

ORACLE_SQL: dict[str, str] = {
    "q_repeated_passages": f"""
        WITH t AS (SELECT doc_id, {_TOKS_R5} AS toks FROM documents),
        e AS (SELECT doc_id, unnest({_SPAN8}) AS passage FROM t)
        SELECT passage, COUNT(DISTINCT doc_id) AS n_docs,
               MIN(doc_id) AS first_doc
        FROM e GROUP BY passage
        HAVING COUNT(DISTINCT doc_id) >= 3
    """,
    "q_heavy_hitter_tokens": f"""
        WITH e AS (SELECT unnest({_TOKS_R5}) AS token FROM documents
                   WHERE {_TOKS_R5} IS NOT NULL),
        cnt AS (SELECT token, COUNT(*) AS n_occurrences FROM e
                WHERE token IS NOT NULL GROUP BY token),
        tot AS (SELECT COUNT(*) AS c FROM e WHERE token IS NOT NULL)
        SELECT token, n_occurrences FROM cnt, tot
        WHERE n_occurrences * 200 > c
    """,
    "q_sample_k_per_group": """
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY CAST(('0x' || substr(md5(
                                    CAST(o_orderkey AS VARCHAR) || '|7'
                                    ), 1, 15)) AS BIGINT) ASC,
                                o_orderkey ASC
                   ) AS _rk
            FROM orders
        ) WHERE _rk <= 3
    """,
    "q_hll_intersection": """
        WITH h1 AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE CAST(month(o_orderdate) AS INT) <= 6
        ),
        h2 AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE CAST(month(o_orderdate) AS INT) > 6
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection,
               TRUE AS est_within_tol
        FROM h1 WHERE EXISTS (SELECT 1 FROM h2 WHERE h2.o_custkey = h1.o_custkey)
    """,
    "q_table_profile": """
        """ + "\n        UNION ALL\n        ".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               COUNT({c}) AS n_non_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str
        FROM orders"""
        for c in (
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        )
    ) + """
    """,
    "q_ann_ivf_knn_join": """
        WITH corpus AS (
            SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS qv FROM embeddings
            WHERE vec_id < 10
        ),
        px AS (
            SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM corpus
        ),
        means AS (
            SELECT label, pos,
                   CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,7))) AS VARCHAR)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
            FROM px GROUP BY label, pos
        ),
        cent AS (
            SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid
            FROM means GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY __CCOS__ DESC, c.cell ASC) AS rn
                FROM corpus e, cent c
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT q_id, cell FROM (
                SELECT q.q_id, c.cell,
                       row_number() OVER (PARTITION BY q.q_id
                                          ORDER BY __QCOS__ DESC, c.cell ASC) AS rn
                FROM cent c, q
            ) WHERE rn <= 3
        ),
        ranked AS (
            SELECT q_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM (
                SELECT p.q_id, a.vec_id AS neighbor_id, __ACOS__ AS cosine
                FROM assigned a
                JOIN probe p ON a.cell = p.cell
                JOIN q ON q.q_id = p.q_id
            )
        )
        SELECT q_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
    """,
    "q_knn_join": """
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS qv FROM embeddings
            WHERE vec_id < 20
        ),
        c AS (
            SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
            WHERE vec_id >= 20
        ),
        scored AS (
            SELECT q_id, neighbor_id, __COS__ AS cosine FROM q, c
        ),
        ranked AS (
            SELECT q_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM scored
        )
        SELECT q_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
    """,
    "q_passage_scrub": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS_R5} AS toks,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
            FROM documents
        ),
        e AS (SELECT DISTINCT doc_id, unnest({_SPAN8}) AS passage FROM t),
        rep AS (
            SELECT passage FROM e GROUP BY passage
            HAVING COUNT(DISTINCT doc_id) >= 3
        ),
        perdoc AS (
            SELECT doc_id, list_sort(list(passage)) AS ps
            FROM e JOIN rep USING (passage)
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               trim(regexp_replace(
                   list_reduce(
                       list_prepend(t.ntext, coalesce(ps, [])),
                       (acc, p) -> replace(acc, p, '')
                   ), '\\s+', ' ', 'g')) AS clean_text,
               CAST(coalesce(len(ps), 0) AS INTEGER) AS n_scrubbed
        FROM t LEFT JOIN perdoc USING (doc_id)
    """,
    "q_scd2_customer_segment": """
        WITH cur AS (
            SELECT c_custkey, c_mktsegment,
                   TIMESTAMP '1995-01-01' AS eff_from,
                   CAST(NULL AS TIMESTAMP) AS eff_to
            FROM customer
        ),
        spend AS (
            SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS s
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01'
            GROUP BY o_custkey
        ),
        upd AS (
            SELECT c_custkey AS uk,
                   CASE WHEN s > 1500000 THEN 'VIP' ELSE c_mktsegment END AS useg,
                   TIMESTAMP '1999-01-01' AS ud
            FROM customer JOIN spend ON c_custkey = o_custkey
        )
        SELECT c.c_custkey, c.c_mktsegment, c.eff_from,
               CASE WHEN u.uk IS NOT NULL AND u.useg <> c.c_mktsegment
                    THEN u.ud END AS eff_to
        FROM cur c LEFT JOIN upd u ON c.c_custkey = u.uk
        UNION ALL
        SELECT u.uk, u.useg, u.ud, CAST(NULL AS TIMESTAMP)
        FROM cur c JOIN upd u ON c.c_custkey = u.uk
        WHERE u.useg <> c.c_mktsegment
    """,
    "q_fuzzy_name_pairs": """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND abs(length(a.c_name) - length(b.c_name)) <= 1
 AND levenshtein(a.c_name, b.c_name) <= 1
""",
    "q_fuzzy_name_pairs_k2": """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
 AND abs(length(a.c_name) - length(b.c_name)) <= 2
 AND levenshtein(a.c_name, b.c_name) <= 2
""",
    "q_hll_distinct": """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_distinct,
       true AS est_direct_ok,
       true AS est_merged_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    "q_orders_open_by_month": f"""
WITH ls AS (
    SELECT l_orderkey, MAX(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_orderkey
),
iv AS (
    SELECT o.o_orderdate AS s,
           greatest(ls.last_ship, o.o_orderdate) AS e,
           o.o_totalprice
    FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey
),
m AS (
    SELECT unnest(generate_series(date_trunc('month', s),
                                  date_trunc('month', e),
                                  INTERVAL 1 MONTH)) AS month,
           o_totalprice
    FROM iv
)
SELECT month, COUNT(*) AS n_active,
       {SUM2.format(c='o_totalprice')} AS open_amount
FROM m GROUP BY month
""",
    "q_window_rank_family": """
WITH ranked AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(rank() OVER win AS INTEGER) AS rnk,
           CAST(dense_rank() OVER win AS INTEGER) AS drnk,
           percent_rank() OVER win AS prnk,
           cume_dist() OVER win AS cdist
    FROM orders
    WINDOW win AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC)
)
SELECT * FROM ranked WHERE rnk <= 3
""",
    "q_string_agg_per_nation": """
SELECT n_name,
       COUNT(*) AS n_customers,
       string_agg(c_name, ',' ORDER BY c_name ASC) AS names
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
}


# resolve the k-NN join cosine against the shared fold SQL (same
# list_reduce left-fold corpus_ext's embedding oracles use)
from .corpus_ext import _cosine_sql as _cos_sql_r5  # noqa: E402

ORACLE_SQL["q_knn_join"] = ORACLE_SQL["q_knn_join"].replace(
    "__COS__", _cos_sql_r5("qv", "cv")
)
ORACLE_SQL["q_ann_ivf_knn_join"] = (
    ORACLE_SQL["q_ann_ivf_knn_join"]
    .replace("__CCOS__", _cos_sql_r5("e.embedding", "c.centroid"))
    .replace("__QCOS__", _cos_sql_r5("c.centroid", "q.qv"))
    .replace("__ACOS__", _cos_sql_r5("a.embedding", "q.qv"))
)

# q_tdigest_quantiles: the exact-quantile witness replays via quantile_cont
# (bit-identical to Spark's percentile, the q_quantile_summary bridge); the
# audit booleans are the sketch contract — TRUE unless the digest drifts.
ORACLE_SQL["q_tdigest_quantiles"] = """
WITH q AS (
    SELECT o_orderpriority,
           quantile_cont(CAST(o_totalprice AS DOUBLE),
                         [0.25, 0.5, 0.75, 0.95]) AS _q
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       _q[1] AS p25, _q[2] AS p50, _q[3] AS p75, _q[4] AS p95,
       TRUE AS p25_est_ok, TRUE AS p25_merged_ok,
       TRUE AS p50_est_ok, TRUE AS p50_merged_ok,
       TRUE AS p75_est_ok, TRUE AS p75_merged_ok,
       TRUE AS p95_est_ok, TRUE AS p95_merged_ok
FROM q ORDER BY o_orderpriority
"""

# q_dedup_incremental_bloom is row-for-row identical to q_dedup_incremental
# (the bloom stage is a lossless prefilter), so it shares the oracle.
from .corpus_ext import ORACLE_SQL as _EXT_ORACLE  # noqa: E402

ORACLE_SQL["q_dedup_incremental_bloom"] = _EXT_ORACLE["q_dedup_incremental"]


# q_weighted_sample: the exponential rank key ln(u)/w replayed verbatim —
# same md5 60-bit bridge as q_sample_k_per_group, same double expression
# tree on both sides (ln of the scaled hash, divided by the weight).
ORACLE_SQL["q_weighted_sample"] = """
SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ln((CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|7'
               ), 1, 15)) AS BIGINT) + 1.0) / 1152921504606846976.0)
           / CAST(o_totalprice AS DOUBLE) AS _wkey
    FROM orders
    WHERE CAST(o_totalprice AS DOUBLE) > 0
      AND NOT isnan(CAST(o_totalprice AS DOUBLE))
)
ORDER BY _wkey DESC, o_orderkey ASC
LIMIT 50
"""


ORACLE_SQL["q_cms_token_counts"] = f"""
WITH e AS (SELECT unnest({_TOKS_R5}) AS token FROM documents
           WHERE {_TOKS_R5} IS NOT NULL)
SELECT token, COUNT(*) AS exact_count,
       TRUE AS est_never_under, TRUE AS est_within_bound
FROM e GROUP BY token
ORDER BY exact_count DESC, token ASC
LIMIT 20
"""


# q_consistent_sample: both gates replay via the md5 60-bit bridge; the
# money sum is the standard exact-decimal VARCHAR hop (corpus.SUM2).
ORACLE_SQL["q_consistent_sample"] = f"""
WITH sc AS (
    SELECT * FROM customer
    WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
          % 100 < 20
),
so AS (
    SELECT * FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
          % 100 < 20
)
SELECT c_mktsegment,
       COUNT(DISTINCT c_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       {SUM2.format(c='o_totalprice')} AS total_sampled
FROM so JOIN sc ON so.o_custkey = sc.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# q_dedup_incremental_minhash: the q_dedup_minhash_lsh oracle machinery
# restricted to batch x corpus candidate pairs, inverted to batch
# survivors. Reuses corpus_ext's portable-hash twins.
from .corpus_ext import (  # noqa: E402
    _MINHASH_P as _MP_R5,
    _SHINGLES as _SH_R5,
    _TOKS as _TOKS_EXT_R5,
    _basehash_sql as _bh_r5,
)


def _incremental_minhash_oracle(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.5
) -> str:
    r = num_hashes // bands
    mins = ",\n               ".join(
        f"coalesce(list_min(list_transform(b, x -> (x * {2 * i + 1} + {1000003 * i + 12345})"
        f" % {_MP_R5})), {_MP_R5}) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {ms}) AS sig FROM m".format(
            b=b, ms=", ".join(f"m{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS_EXT_R5} AS toks FROM documents),
        s AS (SELECT doc_id, {_SH_R5} AS sh FROM t),
        hs AS (
            SELECT doc_id, list_distinct(list_transform(sh, g -> {_bh_r5('g')})) AS hs
            FROM s WHERE len(sh) > 0
        ),
        base AS (SELECT doc_id, list_transform(hs, h -> h % {_MP_R5}) AS b FROM hs),
        m AS (SELECT doc_id,
               {mins}
              FROM base),
        banded AS (
            {band_rows}
        ),
        cand AS (
            SELECT DISTINCT b.doc_id AS bid, i.doc_id AS iid
            FROM banded b JOIN banded i
              ON b.band = i.band AND b.sig = i.sig
            WHERE b.doc_id % 3 <> 0 AND i.doc_id % 3 = 0
        ),
        matched AS (
            SELECT DISTINCT bid FROM (
                SELECT c.bid,
                       CAST(len(list_intersect(hb.hs, hi.hs)) AS DOUBLE)
                       / CAST(len(hb.hs) + len(hi.hs) - len(list_intersect(hb.hs, hi.hs))
                              AS DOUBLE) AS jaccard
                FROM cand c
                JOIN hs hb ON c.bid = hb.doc_id
                JOIN hs hi ON c.iid = hi.doc_id
            ) WHERE jaccard >= {threshold}
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id % 3 <> 0
          AND NOT EXISTS (SELECT 1 FROM matched x WHERE x.bid = d.doc_id)
    """


ORACLE_SQL["q_dedup_incremental_minhash"] = _incremental_minhash_oracle()
