"""Golden tests for the dedup operators, including the rows-only (LSH/
SimHash) strategies the DuckDB oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_usaspending_spark import index_store
from bigdata_usaspending_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  Quick  Brown Fox jumps over the lazy dog"),  # normalized dup of 1
        (4, "the quick brown fox jumps over the sleepy dog"),  # near-dup (1 word)
        (5, "completely different text about spark engines and parquet files"),
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = dedup.exact_dedup_groups(docs, "doc_id").collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    # 1,2,3 collapse to canonical id 1 with 3 copies
    assert by_id[1] == 3
    assert by_id[4] == 1 and by_id[5] == 1 and by_id[6] == 1
    assert len(out) == 4


def test_exact_dedup_survivors(docs):
    out = dedup.exact_dedup(docs, "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 4, 5, 6]


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "id int, text string")
    got = {r.id: r.shingles for r in df.select("id", dedup.shingles_of("text")).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # fewer than n tokens


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.3).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    # exact/normalized dups have jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert pairs[(2, 3)] == 1.0
    # near-dup shares 5 of the 9 distinct shingles: j = 5/(7+7-5) = 5/9
    assert abs(pairs[(1, 4)] - 5 / 9) < 1e-12
    assert (1, 5) not in pairs


def test_ngram_jaccard_max_shingle_df_cap(docs):
    # every shingle of doc1 appears in docs 1,2,3 -> df>=3; cap at 2 kills them
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.1, max_shingle_df=2)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) not in pairs  # dropped by the frequency cap


@pytest.mark.slow
def test_minhash_lsh_finds_dups(docs):
    out = dedup.minhash_lsh_pairs(docs, "doc_id", threshold=0.3)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    # identical signatures always collide in every band
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0
    # verification jaccard is exact
    if (1, 4) in pairs:
        assert abs(pairs[(1, 4)] - 5 / 9) < 1e-12


def test_minhash_deterministic(docs):
    a = dedup.minhash_lsh_pairs(docs, "doc_id", threshold=0.3).collect()
    b = dedup.minhash_lsh_pairs(docs, "doc_id", threshold=0.3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.slow
def test_simhash_identical_and_near(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash_table(docs, "doc_id").collect()}
    assert sig[1] == sig[2] == sig[3]  # normalization collapses case/whitespace
    assert sig[1] != sig[5]
    out = dedup.simhash_pairs(docs, "doc_id", max_hamming=3)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 5) not in pairs


def test_simhash_hamming_symmetry(spark):
    # hamming verification uses bit_count(xor); check a known distance
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    sig = {r.doc_id: r.simhash for r in dedup.simhash_table(df, "doc_id").collect()}
    xor = sig[1] ^ sig[2]
    assert bin(xor & ((1 << 64) - 1)).count("1") > 0  # differ, but deterministic


@pytest.mark.slow
def test_near_dedup_pipeline(docs):
    # exact-first: dups 2,3 collapse into canonical 1; near-dup pair (1,4)
    # survives with its exact jaccard
    out = dedup.near_dedup_pipeline(docs, "doc_id", threshold=0.3, use_lsh=False)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert (1, 2) not in pairs and (1, 3) not in pairs  # collapsed, not re-paired
    assert abs(pairs[(1, 4)] - 5 / 9) < 1e-12
    out_lsh = dedup.near_dedup_pipeline(docs, "doc_id", threshold=0.3, use_lsh=True)
    lsh_pairs = {(r.id_a, r.id_b) for r in out_lsh.collect()}
    assert (1, 2) not in lsh_pairs


def test_connected_components_chain(spark):
    # A~B~C chain collapses to one component even though (A,C) was never a
    # pair; (10,11) forms a separate component
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_min_label_flows_both_ways(spark):
    # the min id sits at the END of the chain: propagation must flow backwards
    pairs = spark.createDataFrame([(9, 5), (5, 1)], "id_a long, id_b long")
    out = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 5: 1, 9: 1}


@pytest.mark.slow
def test_star_contract_adversarial_chain_logarithmic(spark):
    """A 1000-vertex path graph is the adversarial case for min-label
    propagation (diameter 999 -> 999 synchronous rounds). The
    large-star/small-star contraction must collapse it to the single
    component 0 in O(log^2 n) rounds — gate at <12 (measured: 11,
    including the final confirming round)."""
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(999)], "a long, b long"
    )
    stats = {}
    out = dedup._star_contract(edges, 50, 4, stats).collect()
    assert len(out) == 1000
    assert {r.comp for r in out} == {0}
    assert stats["rounds"] < 12, f"contraction took {stats['rounds']} rounds"


@pytest.mark.slow
def test_connected_components_adversarial_chain_hybrid(spark):
    """End-to-end hybrid on the 1k path: the propagation budget (dense-blob
    fast path) plus quotient contraction must stay within budget+12 rounds
    total — versus 999 for pure propagation."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long"
    )
    stats = {}
    out = dedup.connected_components(pairs, num_partitions=4, stats=stats).collect()
    assert len(out) == 1000
    assert {r.component for r in out} == {0}
    assert stats["rounds"] < 4 + 12, f"hybrid took {stats['rounds']} rounds"


def test_connected_components_self_pair_vertex_kept(spark):
    # a self-pair contributes a vertex (its own singleton component) even
    # though the self-loop edge carries no connectivity
    pairs = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    out = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 7: 7}


def test_decontaminate_drops_shingle_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),      # shares "the quick brown"
            (2, "completely unrelated corpus document here"),
            (3, "tiny"),                                 # < n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox eval question")], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id for r in dedup.decontaminate(corpus, benchmark, "doc_id").collect()
    )
    assert kept == [2, 3]


def test_contamination_report_ngram_evidence_and_partition(spark):
    """The n-gram screen's report/filter pair: the report carries the
    distinct shared-shingle count and an example shingle, and the report's
    doc set plus decontaminate's survivors partition the corpus."""
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" AND "quick brown fox" -> 2 shingles
            (1, "the quick brown fox jumps high"),
            (2, "completely unrelated corpus document here"),
            (3, "tiny"),
            # shares exactly one shingle ("fox eval question")
            (4, "some fox eval question text"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox eval question")], "doc_id long, text string"
    )
    rep = {
        r.doc_id: (r.n_shared_ngrams, r.example_ngram)
        for r in dedup.contamination_report_ngram(
            corpus, benchmark, "doc_id"
        ).collect()
    }
    assert set(rep) == {1, 4}
    # doc 1 shares "the quick brown" + "quick brown fox"; min is "quick..."
    assert rep[1] == (2, "quick brown fox")
    assert rep[4] == (1, "fox eval question")
    # partition: report ids + survivor ids = corpus ids, disjoint
    kept = {
        r.doc_id
        for r in dedup.decontaminate(corpus, benchmark, "doc_id").collect()
    }
    assert kept | set(rep) == {1, 2, 3, 4} and not (kept & set(rep))


@pytest.mark.slow
def test_dedup_against_index(spark):
    """Batch survivors: index hits drop, within-batch dups keep min-id,
    normalization ('A  b' == 'a b') applies to both the index and the batch."""
    corpus = spark.createDataFrame(
        [(1, "already ingested doc"), (2, "another old doc")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "Already   ingested DOC"),   # index hit via normalization
            (11, "brand new document"),
            (12, "brand  NEW document"),      # within-batch dup of 11
            (13, "second fresh one"),
        ],
        "doc_id long, text string",
    )
    index = dedup.fingerprint_index(corpus)
    kept = sorted(
        r.doc_id
        for r in dedup.dedup_against_index(batch, index, "doc_id").collect()
    )
    assert kept == [11, 13]
    # idempotent: dedup the survivors against the UPDATED index -> unchanged
    survivors = dedup.dedup_against_index(batch, index, "doc_id")
    updated = index.union(dedup.fingerprint_index(survivors)).distinct()
    again = sorted(
        r.doc_id
        for r in dedup.dedup_against_index(survivors, index, "doc_id").collect()
    )
    assert again == kept
    # everything already indexed -> nothing survives a replayed batch
    assert dedup.dedup_against_index(batch, updated, "doc_id").count() == 0


@pytest.mark.slow
def test_connected_components_matches_union_find_property(spark):
    """Property test: on randomized graphs (mixed chains, blobs, self-pairs,
    singleton islands), connected_components must agree exactly with a
    driver-side union-find — both the partition structure AND the min-id
    labels. Runs a handful of seeded graphs through both phases (small
    propagation budget forces the contraction path too)."""
    import random

    def union_find_components(pairs, vertices):
        parent = {v: v for v in vertices}

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min = {}
        for v in vertices:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return {v: comp_min[find(v)] for v in vertices}

    for seed, propagation_rounds in [(11, 4), (12, 1), (13, 0)]:
        rng = random.Random(seed)
        n = 120
        pairs = []
        # chain segments
        for start in range(0, n, 40):
            for i in range(start, start + rng.randint(10, 30)):
                pairs.append((i, i + 1))
        # random extra edges + self-pairs
        pairs += [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        pairs += [(rng.randrange(n), ) * 2 for _ in range(3)]
        vertices = {v for p in pairs for v in p}
        expected = union_find_components(pairs, vertices)

        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.doc_id: r.component
            for r in dedup.connected_components(
                df, num_partitions=4, propagation_rounds=propagation_rounds
            ).collect()
        }
        assert got == expected, f"seed {seed} (pr={propagation_rounds}) mismatch"


def test_minhash_kernel_null_basehash_keeps_sentinel(spark):
    """A NULL base-hash array (null text -> null shingles) must keep the
    all-p sentinel signature, matching the former
    coalesce(array_min(transform(...)), p) expression — not crash the
    Arrow kernel."""
    df = spark.createDataFrame(
        [(1, [7, 11, 13]), (2, None), (3, [])],
        "doc_id long, hs array<bigint>",
    )
    sig = {
        r.doc_id: list(r.mh)
        for r in df.select(
            "doc_id", dedup.minhash_from_hashes("hs", num_hashes=4).alias("mh")
        ).collect()
    }
    p = (1 << 31) - 1
    assert sig[2] == [p] * 4 and sig[3] == [p] * 4
    assert sig[1] != [p] * 4


@pytest.mark.slow
def test_simhash_table_portable_and_null_text(spark):
    """The fused md5 kernel must match the relational portable hash
    (simhash_from_token_hashes over portable token_hashes) bit-for-bit, and
    null/empty-token docs must be dropped like the former explode did."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "pack my box with five dozen jugs"),
            (3, None),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.simhash
        for r in dedup.simhash_table(df, "doc_id", portable=True).collect()
    }
    # null text dropped; empty text tokenizes to [''] (one token) and stays
    assert set(got) == {1, 2, 4}
    want = {
        r.doc_id: r.simhash
        for r in df.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            dedup.simhash_from_token_hashes(
                dedup.token_hashes("text", portable=True)
            ),
        )
        .collect()
    }
    assert got == want


def test_repeated_passages_finds_shared_spans(spark):
    from pyspark.sql import functions as F

    from bigdata_usaspending_spark.operators.dedup import repeated_passages

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"intro one {shared} tail one"),
        (2, f"{shared} different ending here"),
        (3, f"prefix words again {shared}"),
        (4, "completely unrelated text with no overlap at all whatsoever"),
        (5, "short doc"),  # < 8 tokens -> no spans
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_passages(df, "doc_id", "text", n=8, min_docs=3).collect()
    assert len(out) == 1
    row = out[0]
    assert row.passage == shared
    assert row.n_docs == 3
    assert row.first_doc == 1
    # with min_docs=2 still nothing new (the shared span is the only repeat)
    out2 = repeated_passages(df, "doc_id", "text", n=8, min_docs=2).collect()
    assert {r.passage for r in out2} == {shared}


def test_heavy_hitters_matches_naive_groupby(spark):
    import random

    from pyspark.sql import functions as F

    from bigdata_usaspending_spark.operators.aggregates import heavy_hitters

    rng = random.Random(42)
    # skewed vocabulary: 3 head items + a 500-item long tail, shuffled and
    # spread over many partitions so per-partition MG summaries must trim
    vals = (
        ["head_a"] * 400 + ["head_b"] * 250 + ["head_c"] * 120
        + [f"tail_{i}" for i in range(500) for _ in range(rng.randint(1, 3))]
    )
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["token"]).repartition(13)
    k = 50
    got = {
        (r.token, r.n_occurrences)
        for r in heavy_hitters(df, "token", k=k).collect()
    }
    total = len(vals)
    naive = {
        (r.token, r.n)
        for r in df.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * k > F.lit(total))
        .collect()
    }
    assert got == naive
    assert {t for t, _ in got} == {"head_a", "head_b", "head_c"}


@pytest.mark.parametrize("as_float", [False, True])
def test_misra_gries_merge_keeps_every_heavy_value(as_float):
    """Spark-free: the shared merge-trim step over random pandas batches
    keeps every value whose count exceeds n/k, and equals the step as
    the batch operator and both streams wrote it inline (the streams
    cast each batch's counts to float64 first)."""
    import numpy as np
    import pandas as pd

    from bigdata_usaspending_spark.operators.aggregates import misra_gries_merge

    def inline(acc, vc, k):
        acc = vc if acc is None else acc.add(vc, fill_value=0)
        if len(acc) > k:
            thresh = acc.nlargest(k + 1).iloc[-1]
            acc = acc - thresh
            acc = acc[acc > 0]
        return acc

    rng = np.random.default_rng(7)
    for k in (1, 3, 10, 40):
        got = ref = None
        seen = []
        for _ in range(12):
            batch = pd.Series(
                rng.zipf(1.6, size=int(rng.integers(1, 300))).astype(str)
            )
            seen.append(batch)
            vc = batch.value_counts()
            if as_float:
                vc = vc.astype("float64")
            got = misra_gries_merge(got, vc, k)
            ref = inline(ref, vc, k)
            pd.testing.assert_series_equal(got, ref)
            assert len(got) <= k
            counts = pd.concat(seen).value_counts()
            heavy = set(counts[counts * k > counts.sum()].index)
            assert heavy <= set(got.index)


@pytest.mark.slow
def test_heavy_hitters_skips_nulls_and_handles_empty(spark):
    from bigdata_usaspending_spark.operators.aggregates import heavy_hitters

    df = spark.createDataFrame(
        [("x",), (None,), ("x",), ("y",), (None,)], ["token"]
    )
    # total non-null = 3; x: 2*2=4 > 3 qualifies, y: 1*2=2 > 3 does not
    got = {(r.token, r.n_occurrences) for r in heavy_hitters(df, "token", k=2).collect()}
    assert got == {("x", 2)}
    # k=1: x needs 2*1 > 3 -> no heavy hitters at all
    got1 = {(r.token, r.n_occurrences) for r in heavy_hitters(df, "token", k=1).collect()}
    assert got1 == set()
    empty = spark.createDataFrame([], "token string")
    assert heavy_hitters(empty, "token", k=5).count() == 0


def test_scrub_repeated_passages_cuts_shared_span_only(spark):
    from bigdata_usaspending_spark.operators.dedup import scrub_repeated_passages

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"intro one {shared} tail one"),
        (2, f"{shared} different ending here"),
        (3, f"prefix words again {shared}"),
        (4, "completely unrelated text with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in scrub_repeated_passages(df, n=8, min_docs=3).collect()}
    assert len(out) == 4
    for d in (1, 2, 3):
        assert shared not in out[d].clean_text
        assert out[d].n_scrubbed >= 1
    assert out[1].clean_text == "intro one tail one"
    assert out[2].clean_text == "different ending here"
    assert out[3].clean_text == "prefix words again"
    # untouched doc: normalized but intact
    assert out[4].clean_text == rows[3][1]
    assert out[4].n_scrubbed == 0


def test_near_dedup_against_index_semantics_and_plan(spark, sf_small):
    """Incremental near-dedup: a batch doc near-matching an indexed corpus
    doc is dropped, everything else (including sub-n-token docs with no
    Jaccard defined) survives; and no join in the plan sort-merges — the
    corpus index is scan-only."""
    import pandas as pd

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",
                    "an entirely different indexed document about engines",
                ],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 4],
                "text": [
                    "the quick brown fox jumps over the lazy dog yesterday",  # near-dup of 0
                    "completely fresh content with no overlap whatsoever here",
                    "tiny doc",  # < 3 tokens: no shingles, must survive
                ],
            }
        )
    )
    index = dedup.minhash_index(corpus, "doc_id")
    out = dedup.near_dedup_against_index(batch, index, "doc_id", threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """MOSS winnowing: normalization-insensitive, the w+k-1 shared-substring
    guarantee holds, short docs yield empty sets, sub-w gram counts keep
    the single boundary window."""
    from bigdata_usaspending_spark.operators.text import winnow_fingerprints

    rows = [
        (0, "The quick brown fox jumps over the lazy dog today"),
        (1, "the  QUICK brown fox jumps over the lazy dog today"),  # same normalized
        # shares the >= 11-char normalized substring "brown fox jumps ..."
        (2, "a brown fox jumps over things"),
        (3, "zz"),          # < k: empty
        (4, "exactlyk"),    # exactly k chars: one gram, one window
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {
        r.doc_id: r.fingerprints
        for r in df.select(
            "doc_id", winnow_fingerprints("text", k=8, w=4)
        ).collect()
    }
    assert fp[0] == fp[1]
    assert set(fp[0]) & set(fp[2])  # guarantee: shared substring -> shared fp
    assert fp[3] == [] and len(fp[4]) == 1 and fp[5] == []
    # density: selected set is a fraction of the gram count (~2/(w+1))
    assert 0 < len(fp[0]) < len(rows[0][1]) - 8 + 1


def test_winnow_robust_matches_reference_and_reduces_churn(spark):
    """Robust winnowing (SIGMOD'03 §5): positioned selection matches a
    direct Python port of the paper's algorithm (keep the previous
    selection while it is still a window minimum, else rightmost min);
    selected VALUES equal the plain form's distinct set (so the w+k-1
    guarantee carries over); positions strictly increase; and on
    repetitive text the positioned count collapses to ~nwin/w instead of
    one-per-window — the boilerplate-churn reduction the tie-break buys."""
    import hashlib
    import random
    import re

    from bigdata_usaspending_spark.operators.text import winnow_fingerprints

    K, W = 8, 4

    def ref_robust(text):
        s = re.sub(r"\s+", " ", text.lower()).strip()
        if len(s) < K:
            return []
        g = [
            int(hashlib.md5(s[i : i + K].encode()).hexdigest()[:15], 16)
            for i in range(len(s) - K + 1)
        ]
        last, sel = 0, []
        for j in range(1, max(len(g) - W + 1, 1) + 1):
            win = g[j - 1 : j - 1 + W]
            m = min(win)
            if last >= j and g[last - 1] == m:
                continue
            last = j + max(i + 1 for i, v in enumerate(win) if v == m) - 1
            sel.append(last)
        return [(g[p - 1], p) for p in sel]

    rng = random.Random(7)
    texts = [
        "The quick brown fox jumps over the lazy dog today",
        "a" * 50,  # pure run: every gram hash identical (maximal ties)
        "boilerplate header boilerplate header unique tail xyz",
        "zz",  # < k: empty
        "exactlyk",  # one gram, one boundary window
    ] + [
        # tiny alphabet forces repeated grams (= hash ties) constantly
        "".join(rng.choice("ab ") for _ in range(rng.randint(5, 60)))
        for _ in range(20)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            winnow_fingerprints("text", k=K, w=W, portable=True, robust=True)
            .alias("rob"),
            winnow_fingerprints("text", k=K, w=W, portable=True)
            .alias("plain"),
        ).collect()
    }
    for i, t in enumerate(texts):
        got = [(x.fp, x.pos) for x in out[i].rob]
        assert got == ref_robust(t), f"doc {i}: {t!r}"
        assert {x.fp for x in out[i].rob} == set(out[i].plain)
        pos = [x.pos for x in out[i].rob]
        assert pos == sorted(set(pos))  # strictly increasing
    # churn: the all-ties run text selects ~1 per w windows, not 1/window
    run = out[1].rob
    n_grams = len(re.sub(r"\s+", " ", texts[1]).strip()) - K + 1
    nwin = max(n_grams - W + 1, 1)
    assert len(run) <= -(-nwin // W) + 1 < nwin


def test_winnow_pairs_matches_bruteforce(spark):
    """winnow_pairs (inverted-join + length prune) equals the brute-force
    all-pairs Jaccard over the same fingerprint sets."""
    from itertools import combinations

    from bigdata_usaspending_spark.operators.text import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog in the park",
        "the quick brown fox jumps over the lazy dog in the lot",
        "an entirely different document about trains and long rails",
        "an entirely different document about trains and long roads",
        "short one",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.winnow_pairs(df, "doc_id", threshold=0.3).collect()
    }
    sets = {
        r.doc_id: set(r.fingerprints)
        for r in df.select("doc_id", winnow_fingerprints("text")).collect()
        if r.fingerprints
    }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = inter / len(sets[a] | sets[b])
            if j >= 0.3:
                want[(a, b)] = j
    assert got == want and (0, 1) in got and (2, 3) in got


def test_winnow_dedup_against_index_semantics_and_plan(spark, tmp_path):
    """Incremental winnow tier: near-dup batch docs drop, fresh and
    below-k docs survive, the returned frame plans no SortMergeJoin, and
    each probe verb over a small persisted index — the one-scan kernel
    plus the caller's collect — runs at most 6 Spark jobs."""
    import pandas as pd

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",
                    "some indexed corpus document with its own words",
                ],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 4],
                "text": [
                    # shares the long prefix with corpus doc 0 -> near-dup
                    "the quick brown fox jumps over the lazy dog tonight",
                    "completely fresh content with no overlap whatsoever",
                    "zz",  # < k normalized chars: no fingerprints, survives
                ],
            }
        )
    )
    index = dedup.winnow_index(corpus, "doc_id")
    out = dedup.winnow_dedup_against_index(batch, index, "doc_id", threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan

    path = str(tmp_path / "widx")
    dedup.winnow_pos_index_write(corpus, path, "doc_id")
    for verb in (dedup.winnow_index_dedup, dedup.winnow_index_spans):
        jobs = _probe_jobs(spark, lambda: verb(
            spark, path, batch, threshold=0.5, max_fingerprint_df=3
        ).collect())
        assert len(jobs) <= 6, (verb.__name__, jobs)


def _probe_jobs(spark, action) -> list:
    """The Spark job ids ``action`` runs, counted by a job group of its
    own through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"winnow-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "winnow probe job count")
    try:
        action()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


@pytest.mark.slow
def test_winnow_match_spans_matches_bruteforce(spark):
    """Span localization: pairs, Jaccard, anchor counts and covering
    spans all equal a brute-force Python replay over the positioned
    robust fingerprints; the pair set matches winnow_pairs at the same
    threshold (robust values == plain values); spans cover the shared
    prefix of a trailing-token near-dup."""
    import hashlib
    import re
    from itertools import combinations

    K, W, TH = 8, 4, 0.5

    def ref_pos_fps(text):
        s = re.sub(r"\s+", " ", text.lower()).strip()
        if len(s) < K:
            return []
        g = [
            int(hashlib.md5(s[i : i + K].encode()).hexdigest()[:15], 16)
            for i in range(len(s) - K + 1)
        ]
        last, sel = 0, []
        for j in range(1, max(len(g) - W + 1, 1) + 1):
            win = g[j - 1 : j - 1 + W]
            m = min(win)
            if last >= j and g[last - 1] == m:
                continue
            last = j + max(i + 1 for i, v in enumerate(win) if v == m) - 1
            sel.append(last)
        return [(g[p - 1], p) for p in sel]

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river today")
    texts = {
        1: base,
        2: base + " again",  # near-dup: long shared prefix
        3: "a completely different sentence about the blue sea and the "
           "sand is here now",
        4: "a completely different sentence about the blue sea and the "
           "sand is here soon",  # near-dup of 3
        5: "unrelated text about trains and long rails going far away",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (
            r.jaccard, r.n_shared, r.n_anchors,
            r.a_start, r.a_end, r.b_start, r.b_end,
        )
        for r in dedup.winnow_match_spans(
            df, "doc_id", k=K, w=W, threshold=TH, portable=True
        ).collect()
    }

    fps = {i: ref_pos_fps(t) for i, t in texts.items()}
    want = {}
    for x, y in combinations(sorted(fps), 2):
        vx, vy = {f for f, _ in fps[x]}, {f for f, _ in fps[y]}
        shared = vx & vy
        if not shared:
            continue
        j = len(shared) / len(vx | vy)
        if j < TH:
            continue
        ax = [p for f, p in fps[x] if f in shared]
        ay = [p for f, p in fps[y] if f in shared]
        n_anchors = sum(
            sum(1 for f2, _ in fps[y] if f2 == f) for f, _ in fps[x]
            if f in shared
        )
        want[(x, y)] = (
            j, len(shared), n_anchors,
            min(ax), max(ax) + K - 1, min(ay), max(ay) + K - 1,
        )
    assert got == want and (1, 2) in got and (3, 4) in got

    # pair set agrees with the value-set tier at the same threshold
    plain = {
        (r.id_a, r.id_b)
        for r in dedup.winnow_pairs(
            df, "doc_id", k=K, w=W, threshold=TH, portable=True
        ).collect()
    }
    assert set(got) == plain

    # the near-dup's span covers (most of) the shared prefix in BOTH docs
    j, ns, na, a0, a1, b0, b1 = got[(1, 2)]
    norm_len = len(re.sub(r"\s+", " ", base.lower()).strip())
    assert a0 >= 1 and a1 <= norm_len and a1 - a0 > norm_len * 0.5
    assert b0 == a0  # identical prefix -> identical first anchor


@pytest.mark.slow
def test_winnow_span_scrub_matches_bruteforce(spark):
    """Span scrub: the higher-id member of each verified pair loses the
    UNION of its covering spans (per-char coverage, overlaps merged by
    construction); min-id members and unmatched docs keep their
    normalized text whole; counts agree with a Python replay."""
    import re

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river today")
    texts = {
        1: base,
        2: base + " again",                   # loses its base-prefix span
        3: "fully unrelated text about trains and long rails going far",
        4: base + " tomorrow",                # also a near-dup of 1 (and 2)
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    spans = {
        (r.id_a, r.id_b): (r.b_start, r.b_end)
        for r in dedup.winnow_match_spans(
            df, "doc_id", threshold=0.5, portable=True
        ).collect()
    }
    got = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in dedup.winnow_span_scrub(
            df, "doc_id", threshold=0.5, portable=True
        ).collect()
    }

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    for i, t in texts.items():
        n = norm(t)
        covered = set()
        n_sp = 0
        for (a, b), (s, e) in spans.items():
            if b == i:
                covered |= set(range(s, e + 1))
                n_sp += 1
        want = "".join(ch for p, ch in enumerate(n, 1) if p not in covered)
        assert got[i] == (want, len(covered), n_sp), i
    assert got[1][1] == 0 and got[3][1] == 0      # min-id + unmatched intact
    assert got[2][1] > 0 and got[4][1] > 0        # both losers scrubbed
    assert got[2][2] >= 1 and got[4][2] >= 2      # 4 pairs with both 1 and 2
    # the scrubbed loser keeps its distinct tail
    assert got[2][0].endswith("again") or "again" in got[2][0]


@pytest.mark.slow
def test_winnow_spans_against_index_matches_batch_and_plan(spark, tmp_path):
    """Incremental span evidence: winnow_spans_against_index over a
    positioned index equals winnow_match_spans over the union restricted
    to (index doc, batch doc) pairs (cap=None, exact on both paths); the
    result plans no SortMergeJoin and winnow_index_spans over the same
    index persisted runs at most 6 Spark jobs; value-exact verify under
    a cap while anchors stay capped."""
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river today")
    corpus_texts = {
        1: base,
        2: "fully unrelated text about trains and long rails going far",
    }
    batch_texts = {
        10: base + " again",           # near-dup of committed doc 1
        11: "fresh content with no committed overlap whatsoever here",
        12: "zz",                      # below k: no fingerprints, no rows
    }
    corpus = spark.createDataFrame(
        list(corpus_texts.items()), "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        list(batch_texts.items()), "doc_id long, text string"
    )
    index = dedup.winnow_pos_index(corpus, "doc_id", portable=True)
    out = dedup.winnow_spans_against_index(
        batch, index, "doc_id", threshold=0.5, portable=True
    )
    got = {
        (r.id_index, r.id_batch): (
            r.jaccard, r.n_shared, r.n_anchors,
            r.i_start, r.i_end, r.b_start, r.b_end,
        )
        for r in out.collect()
    }
    both = corpus.unionByName(batch)
    want = {
        (r.id_a, r.id_b): (
            r.jaccard, r.n_shared, r.n_anchors,
            r.a_start, r.a_end, r.b_start, r.b_end,
        )
        for r in dedup.winnow_match_spans(
            both, "doc_id", threshold=0.5, portable=True
        ).collect()
        if r.id_a in corpus_texts and r.id_b in batch_texts
    }
    assert got == want and (1, 10) in got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    path = str(tmp_path / "widx")
    dedup.winnow_pos_index_write(corpus, path, "doc_id", portable=True)
    jobs = _probe_jobs(spark, lambda: dedup.winnow_index_spans(
        spark, path, batch, threshold=0.5
    ).collect())
    assert len(jobs) <= 6, jobs

    # under a tiny cap the verify stays VALUE-EXACT (same pairs, same
    # jaccard/n_shared) while anchor evidence shrinks to uncapped fps
    capped = {
        (r.id_index, r.id_batch): (r.jaccard, r.n_shared, r.n_anchors)
        for r in dedup.winnow_spans_against_index(
            batch, index, "doc_id", threshold=0.5, portable=True,
            max_fingerprint_df=1,
        ).collect()
    }
    # every shared fp of the (1, 10) pair appears in BOTH docs -> df 2 >
    # cap 1 -> no candidate survives: the documented recall trade-off
    assert capped == {} or all(
        (pair in got) and v[0] == got[pair][0] and v[1] == got[pair][1]
        for pair, v in capped.items()
    )

    # batch_pfps seam: precomputed positions give identical output
    bpf = dedup.winnow_pos_index(batch, "doc_id", portable=True)
    via_seam = {
        (r.id_index, r.id_batch): (
            r.jaccard, r.n_shared, r.n_anchors,
            r.i_start, r.i_end, r.b_start, r.b_end,
        )
        for r in dedup.winnow_spans_against_index(
            batch, index, "doc_id", threshold=0.5, portable=True,
            batch_pfps=bpf,
        ).collect()
    }
    assert via_seam == got


def test_winnow_scrub_against_index_semantics(spark):
    """Passage-level decontamination: every batch doc loses the per-char
    UNION of its committed-overlap spans and keeps the rest; unmatched
    and sub-k docs pass through whole; the index side is never in the
    output; counts replay from the span evidence."""
    import re

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river today")
    corpus = spark.createDataFrame(
        [(1, base), (2, "fully unrelated committed text about trains and "
                        "long rails going far")],
        "doc_id long, text string",
    )
    batch_texts = {
        10: base + " again",      # overlaps committed 1 -> span scrubbed
        11: "fresh content with no committed overlap whatsoever here",
        12: "zz",                 # sub-k: passes through whole
    }
    batch = spark.createDataFrame(
        list(batch_texts.items()), "doc_id long, text string"
    )
    index = dedup.winnow_pos_index(corpus, "doc_id", portable=True)
    spans = {
        r.id_batch: (r.b_start, r.b_end)
        for r in dedup.winnow_spans_against_index(
            batch, index, "doc_id", threshold=0.5, portable=True
        ).collect()
    }
    got = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in dedup.winnow_scrub_against_index(
            batch, index, "doc_id", threshold=0.5, portable=True
        ).collect()
    }

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    assert set(got) == set(batch_texts)  # batch docs only, all of them
    for i, t in batch_texts.items():
        n = norm(t)
        if i in spans:
            s, e = spans[i]
            want = "".join(
                ch for p, ch in enumerate(n, 1) if not (s <= p <= e)
            )
            assert got[i] == (want, e - s + 1, 1), i
        else:
            assert got[i] == (n, 0, 0), i
    assert got[10][1] > 0 and got[10][0].endswith("again")


_PIN_BASE = ("the quick brown fox jumps over the lazy dog near the old "
             "stone bridge by the river today")
_PIN_BOILER = "all rights reserved under the terms of use that apply here"
# committed docs: a near-dup target, two boilerplate carriers, an
# unrelated doc and a doc repeating one phrase (the same fingerprint at
# several positions)
_PIN_CORPUS = {
    1: _PIN_BASE,
    2: _PIN_BASE + " " + _PIN_BOILER,
    3: "fully unrelated text about trains and long rails going far "
       + _PIN_BOILER,
    4: _PIN_BOILER + " with other words about weather in the spring",
    5: "echo chamber of the hills echo chamber of the hills echo chamber "
       "of the hills",
}
_PIN_BATCH = {
    10: _PIN_BASE + " again",
    11: "unrelated text about trains and long rails going far away "
        + _PIN_BOILER,
    12: _PIN_BOILER + " and fresh words",
    13: "echo chamber of the hills echo chamber of the hills echo chamber "
        "of the hills again",
    14: "zz",
    15: "fresh content with no committed overlap whatsoever here",
}
_PIN_CAPS = (None, 3, 1)


def _pin_frames(spark, id_type="long"):
    """``(corpus, batch, index, batch_pfps)``: the docs, the corpus's
    positioned index and the batch's positioned fingerprints, the last
    two as local rows so no probe re-runs the fingerprint UDF."""
    cast = str if id_type == "string" else int
    schema = f"doc_id {id_type}, text string"
    corpus, batch = (
        spark.createDataFrame([(cast(i), t) for i, t in rows.items()], schema)
        for rows in (_PIN_CORPUS, _PIN_BATCH)
    )
    index, bpf = (
        spark.createDataFrame(p.collect(), p.schema)
        for p in (dedup.winnow_pos_index(d, "doc_id", portable=True)
                  for d in (corpus, batch))
    )
    return corpus, batch, index, bpf


def _pin_equal(batch, bpf, index, positioned: bool, cap) -> list:
    """Assert the kernel's rows equal the join-based reference's for one
    batch (docs ``batch``, positioned fingerprints ``bpf``), index and
    cap; returns the kernel's rows."""
    import _winnow_reference as ref

    args = (batch, index, "doc_id")
    kw = dict(threshold=0.3, portable=True, max_fingerprint_df=cap)
    if positioned:
        got = dedup.winnow_spans_against_index(*args, batch_pfps=bpf, **kw)
        want = ref.spans_against_index(*args, batch_pfps=bpf, **kw)
        assert sorted(got.collect()) == sorted(want.collect()), cap
        return got.collect()
    kw["batch_fps"] = dedup._value_sets(bpf)
    got = dedup._winnow_matched_ids(*args, **kw).collect()
    if "pfps" in index.columns:  # the reference reads value sets only
        args = (batch, dedup._value_sets(index), "doc_id")
    want = ref.matched_ids(*args, **kw).collect()
    assert sorted(got) == sorted(want), cap
    kept = dedup.winnow_dedup_against_index(*args, **kw).collect()
    assert sorted(kept) == sorted(
        r for r in batch.collect() if (r.doc_id,) not in want
    )
    return got


def test_winnow_probe_matches_reference_positioned_and_value_sets(spark):
    """The one-scan kernel equals the join-based reference
    (tests/_winnow_reference.py) on positioned and value-set index
    frames, for no cap, a cap that removes the boilerplate and cap 1;
    the fixture reaches every cap arm and the n_anchors product of a
    fingerprint repeated at several positions in both docs."""
    corpus, batch, pos, bpf = _pin_frames(spark)
    spans = {cap: _pin_equal(batch, bpf, pos, True, cap) for cap in _PIN_CAPS}
    for cap in _PIN_CAPS:
        _pin_equal(batch, bpf, dedup._value_sets(pos), False, cap)
    _pin_equal(batch, bpf, pos, False, 3)
    _pin_equal(
        batch, bpf, dedup.winnow_index(corpus, "doc_id", portable=True),
        False, None,
    )
    pairs = {(r.id_index, r.id_batch): r for r in spans[None]}
    assert {(1, 10), (2, 10), (3, 11), (5, 13)} <= set(pairs)
    assert pairs[(5, 13)].n_anchors > pairs[(5, 13)].n_shared
    assert spans[3] != spans[None] and spans[1] != spans[3]


def test_winnow_probe_matches_reference_string_ids_and_duplicate_id(spark):
    """String ids, and an index holding a duplicated ``_id`` (the same
    doc appended twice, as a replayed at-least-once add leaves it):
    anchors aggregate per (index id, batch id) across both rows and each
    row reports, as the reference's join did; the document frequency of
    the positioned tier counts the id once, the value tier's each row."""
    _, batch, pos, bpf = _pin_frames(spark, "string")
    for cap in (None, 3):
        _pin_equal(batch, bpf, pos, True, cap)
        _pin_equal(batch, bpf, pos, False, cap)
    _, batch, pos, bpf = _pin_frames(spark)
    doubled = pos.unionByName(pos.filter(F.col("_id").isin(1, 2, 3)))
    # cap 5 splits the two frequency definitions: the boilerplate is in
    # 3 index ids + 2 batch docs (positioned: 5, kept) but 5 index rows
    # + 2 (value sets: 7, capped)
    spans = {cap: _pin_equal(batch, bpf, doubled, True, cap)
             for cap in (None, 5)}
    for cap in (None, 5):
        _pin_equal(batch, bpf, doubled, False, cap)
    once = {
        (r.id_index, r.id_batch): r.n_anchors
        for r in dedup.winnow_spans_against_index(
            batch, pos, "doc_id", threshold=0.3, batch_pfps=bpf
        ).collect()
    }
    twice = [r for r in spans[None] if (r.id_index, r.id_batch) == (1, 10)]
    assert len(twice) == 2 and twice[0].n_anchors == 2 * once[(1, 10)]


def test_winnow_probe_tombstoned_persisted_index(spark, tmp_path):
    """Over a persisted index with adds and tombstones, the probe verbs
    equal the reference over the same live frame; a removed doc stops
    matching."""
    import _winnow_reference as ref

    corpus, batch, _, _ = _pin_frames(spark)
    path = str(tmp_path / "widx")
    dedup.winnow_pos_index_write(
        corpus.filter("doc_id <= 3"), path, "doc_id", portable=True
    )
    dedup.winnow_pos_index_add(spark, path, corpus.filter("doc_id > 3"))
    dedup.winnow_index_remove(spark, path, [1, 4])
    live = dedup._open_winnow_index(spark, path).fps
    for cap in _PIN_CAPS:
        kw = dict(threshold=0.3, max_fingerprint_df=cap)
        spans = dedup.winnow_index_spans(spark, path, batch, **kw).collect()
        assert sorted(spans) == sorted(ref.spans_against_index(
            batch, live, "doc_id", portable=True, **kw
        ).collect())
        assert all(r.id_index not in (1, 4) for r in spans)
        kept = dedup.winnow_index_dedup(spark, path, batch, **kw).collect()
        assert sorted(kept) == sorted(batch.join(ref.matched_ids(
            batch, dedup._value_sets(live), "doc_id", portable=True, **kw
        ), on="doc_id", how="anti").collect())


def test_winnow_probe_skips_the_index_for_batches_without_fingerprints(spark):
    """An empty batch and a batch of only sub-k docs return no pairs and
    keep every batch doc without scanning the index (its scan would
    raise)."""
    _, batch, pos, _ = _pin_frames(spark)
    boom = pos.withColumn(
        "pfps", F.udf(lambda v: 1 // 0, pos.schema["pfps"].dataType)("pfps")
    )
    for small in (batch.limit(0), batch.filter("doc_id = 14")):
        for positioned, index in ((True, boom), (False, dedup._value_sets(boom))):
            kw = dict(threshold=0.3, portable=True)
            probe = (dedup.winnow_spans_against_index if positioned
                     else dedup._winnow_matched_ids)
            assert probe(small, index, "doc_id", **kw).collect() == []
            assert sorted(dedup.winnow_dedup_against_index(
                small, dedup._value_sets(boom), "doc_id", **kw
            ).collect()) == sorted(small.collect())


def test_winnow_probe_same_id_row_below_threshold_matches_reference(spark):
    """A row below the threshold that shares its id with a verified row
    (an older version of the doc left in the index, or a batch holding
    the id twice) still adds its anchors to the verified id pair, as the
    join form summed every row of the id: the kernel's rescan of those
    ids equals the reference."""
    _, batch, pos, bpf = _pin_frames(spark)
    stale_doc = spark.createDataFrame(
        [(1, "the old stone bridge by the river is all it shares")],
        "doc_id long, text string",
    )
    stale = dedup.winnow_pos_index(stale_doc, "doc_id", portable=True)
    mixed = pos.unionByName(stale)
    spans = {cap: _pin_equal(batch, bpf, mixed, True, cap) for cap in (None, 3)}
    for cap in (None, 3):
        _pin_equal(batch, bpf, mixed, False, cap)
    plain = {
        (r.id_index, r.id_batch): r
        for r in dedup.winnow_spans_against_index(
            batch, pos, "doc_id", threshold=0.3, batch_pfps=bpf
        ).collect()
    }
    wide = [r for r in spans[None] if (r.id_index, r.id_batch) == (1, 10)]
    assert len(wide) == 1 and wide[0].n_anchors > plain[(1, 10)].n_anchors
    # the batch side: id 10 twice, once as the stale text
    twice = batch.unionByName(stale_doc.selectExpr("10L AS doc_id", "text"))
    tbpf = dedup.winnow_pos_index(twice, "doc_id", portable=True)
    tbpf = spark.createDataFrame(tbpf.collect(), tbpf.schema)
    for cap in (None, 3):
        _pin_equal(twice, tbpf, pos, True, cap)
        _pin_equal(twice, tbpf, pos, False, cap)


def test_winnow_pos_index_lifecycle_guards(spark, tmp_path):
    """Persisted-index guards: probes of a directory without meta raise;
    adds with a mismatched id type raise; adds fingerprint with the
    SAVED parameters (a doc matching under the build-time portable hash
    still matches after an add — the silent-k/w-mismatch hazard the
    meta exists to prevent)."""
    import pytest

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river today")
    docs = spark.createDataFrame([(1, base)], "doc_id long, text string")
    path = str(tmp_path / "widx")
    dedup.winnow_pos_index_write(docs, path, k=5, w=3, portable=True)

    with pytest.raises(ValueError, match="meta"):
        dedup.winnow_index_spans(
            spark, str(tmp_path / "nope"),
            docs, threshold=0.5,
        )
    with pytest.raises(ValueError, match="id column"):
        dedup.winnow_pos_index_add(
            spark, path,
            spark.createDataFrame(
                [("2", "x y z")], "doc_id string, text string"
            ),
        )
    # add uses the SAVED (k=5, w=3, portable) parameters: the added
    # doc's variant still verifies against it through the probe
    dedup.winnow_pos_index_add(
        spark, path,
        spark.createDataFrame(
            [(2, "an entirely different committed text about trains")],
            "doc_id long, text string",
        ),
    )
    batch = spark.createDataFrame(
        [(10, "an entirely different committed text about trains today")],
        "doc_id long, text string",
    )
    hits = dedup.winnow_index_spans(spark, path, batch, threshold=0.5)
    assert {(r.id_index, r.id_batch) for r in hits.collect()} == {(2, 10)}


@pytest.mark.slow
def test_winnow_index_compact_bit_identical_probes(spark, tmp_path):
    """winnow_index_compact (VERDICT r12 #6): N small adds fragment
    fps.parquet one file-set per add; compact collapses it to the
    size-targeted file count with every probe surface (spans / dedup)
    bit-identical and meta.json untouched."""
    from bigdata_usaspending_spark import operators
    from bigdata_usaspending_spark.io import hadoop_data_file_count
    from bigdata_usaspending_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog near the bridge"
    docs = spark.createDataFrame(
        [(i, base + f" tail {i}") for i in range(1, 9)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "widx")
    dd.winnow_pos_index_write(
        docs.filter("doc_id <= 2"), path, portable=True
    )
    for i in (3, 4, 5, 6):
        dd.winnow_pos_index_add(
            spark, path, docs.filter(F.col("doc_id") == i)
        )
    fps = f"{path}/fps.parquet"
    frag = hadoop_data_file_count(spark, fps)
    assert frag >= 5  # build + 4 adds each left files

    batch = docs.filter("doc_id >= 7")
    b_spans = sorted(
        map(tuple, dd.winnow_index_spans(spark, path, batch).collect())
    )
    b_dedup = sorted(
        map(tuple, dd.winnow_index_dedup(spark, path, batch).collect())
    )
    meta_before = index_store.read_meta(spark, path)

    stats = dd.winnow_index_compact(spark, path)
    assert stats["files_before"] == frag
    assert stats["files_after"] == 1  # tiny index, one target file
    assert hadoop_data_file_count(spark, fps) == 1

    assert sorted(
        map(tuple, dd.winnow_index_spans(spark, path, batch).collect())
    ) == b_spans
    assert sorted(
        map(tuple, dd.winnow_index_dedup(spark, path, batch).collect())
    ) == b_dedup
    assert index_store.read_meta(spark, path) == meta_before

    # object-store scheme refused up front (no atomic rename)
    import pytest

    with pytest.raises(ValueError, match="atomic-rename"):
        dd.winnow_index_compact(spark, "s3a://bucket/widx")


@pytest.mark.slow
def test_winnow_index_compact_sizes_by_live_bytes(spark, tmp_path):
    """A compact right after a large removal must size the rewrite from
    the LIVE bytes: deriving the file count from physical bytes
    (tombstoned rows included) over-shards the few surviving rows far
    below target_file_bytes (round-14 ADVICE)."""
    from bigdata_usaspending_spark.io import hadoop_data_file_stats
    from bigdata_usaspending_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog near the bridge"
    docs = spark.createDataFrame(
        [(i, base + f" tail {i} "
          + " ".join(f"w{i}x{j}" for j in range(30)))
         for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "widx")
    dd.winnow_pos_index_write(docs, path, portable=True)
    _, physical = hadoop_data_file_stats(spark, f"{path}/fps.parquet")
    dd.winnow_index_remove(spark, path, list(range(36)))
    # physical-bytes sizing would target ~8 files for the 4 survivors;
    # live-bytes sizing (~physical/10 vs target physical/8) gives 1
    stats = dd.winnow_index_compact(
        spark, path, target_file_bytes=max(1, physical // 8)
    )
    assert stats["rows"] == 4 and stats["removed_rows"] == 36
    assert stats["files_after"] == 1, stats


@pytest.mark.slow
def test_winnow_index_remove_lifecycle(spark, tmp_path):
    """The takedown leg on the text index (ann_index_remove's twin): a
    removed doc immediately stops matching in every probe AND stops
    SUPPRESSING near-dups in the incremental dedup tier; compact is the
    physical delete (tombstones clear, probes bit-identical); a
    tombstoned id cannot be re-added until after the compact; removes
    are idempotent."""
    from bigdata_usaspending_spark.io import hadoop_data_file_count
    from bigdata_usaspending_spark.operators import dedup as dd

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the wide river this morning")
    committed = spark.createDataFrame(
        [(1, base),
         (2, "an entirely different committed text about long trains and "
             "steel rails crossing the high desert at night")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "widx")
    dd.winnow_pos_index_write(committed, path, portable=True)

    batch = spark.createDataFrame(
        [(10, base + " again"),   # near-dup of committed 1
         (11, "completely fresh words about sailing ships and wide "
              "oceans under a pale sky tonight")],
        "doc_id long, text string",
    )
    # before the remove: 10 is suppressed by committed 1
    pre = {
        r.doc_id
        for r in dd.winnow_index_dedup(
            spark, path, batch, threshold=0.5
        ).collect()
    }
    assert pre == {11}
    assert dd.winnow_index_spans(
        spark, path, batch, threshold=0.5
    ).count() > 0

    rep = dd.winnow_index_remove(spark, path, [1])
    assert rep == {
        "requested": 1, "matched_live": 1, "tombstoned_total": 1
    }
    # the removed doc stops suppressing (takedown honored): 10 survives
    post = {
        r.doc_id
        for r in dd.winnow_index_dedup(
            spark, path, batch, threshold=0.5
        ).collect()
    }
    assert post == {10, 11}
    assert {
        r.id_index
        for r in dd.winnow_index_spans(
            spark, path, batch, threshold=0.5
        ).collect()
    } == set()
    st = dd.winnow_index_stats(spark, path)
    assert st["docs"] == 1 and st["tombstones"] == 1

    # idempotent re-remove
    rep2 = dd.winnow_index_remove(spark, path, [1])
    assert rep2["matched_live"] == 0 and rep2["tombstoned_total"] == 1

    # re-add of the tombstoned id refused on BOTH add surfaces
    back = committed.filter("doc_id = 1")
    with pytest.raises(ValueError, match="tombstoned"):
        dd.winnow_pos_index_add(spark, path, back)
    with pytest.raises(ValueError, match="tombstoned"):
        dd.winnow_index_add_batch(spark, path, back, 0)

    # compact = the physical delete; probe decisions bit-identical
    stats = dd.winnow_index_compact(spark, path)
    assert stats["removed_rows"] == 1 and stats["rows"] == 1
    assert spark.read.parquet(f"{path}/fps.parquet").count() == 1
    assert dd.winnow_index_stats(spark, path)["tombstones"] == 0
    assert {
        r.doc_id
        for r in dd.winnow_index_dedup(
            spark, path, batch, threshold=0.5
        ).collect()
    } == post

    # after the compact the id is free: re-add restores suppression
    dd.winnow_pos_index_add(spark, path, back)
    assert {
        r.doc_id
        for r in dd.winnow_index_dedup(
            spark, path, batch, threshold=0.5
        ).collect()
    } == {11}

    # DataFrame ids path + type guard
    rep3 = dd.winnow_index_remove(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    assert rep3["matched_live"] == 1
    with pytest.raises(ValueError, match="type"):
        dd.winnow_index_remove(
            spark, path, spark.createDataFrame([("2",)], "doc_id string")
        )

    # a REBUILD over the directory clears pending tombstones — a stale
    # set would silently hide rebuilt docs sharing a removed id — AND
    # the streaming add-manifest: a fresh stream over the rebuilt index
    # restarts batch_id at 0 and winnow_index_add_batch's replay guard
    # would silently discard its early batches (round-14 ADVICE)
    assert dd.winnow_index_add_batch(spark, path, batch, 7)
    from bigdata_usaspending_spark.io import hadoop_read_json

    assert hadoop_read_json(
        spark, f"{path}/{index_store.ADD_MANIFEST}"
    )["batch_id"] == 7
    dd.winnow_pos_index_write(committed, path, portable=True)
    st3 = dd.winnow_index_stats(spark, path)
    assert st3["tombstones"] == 0 and st3["docs"] == 2
    assert hadoop_read_json(
        spark, f"{path}/{index_store.ADD_MANIFEST}"
    ) is None
    # batch_id 0 from the fresh stream is APPLIED, not replay-skipped
    assert dd.winnow_index_add_batch(spark, path, batch, 0)
    assert dd.winnow_index_stats(spark, path)["docs"] == 4


def test_scrub_spans_kernel_matches_hof(spark):
    """The Arrow span-scrub kernel must be value-identical to the per-char
    HOF chain it replaced (round-15 optimization), including the
    null-span / null-text / empty-text / overlapping-span edges."""
    from pyspark.sql import functions as F

    from bigdata_usaspending_spark.operators.dedup import (
        _scrub_covered_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "The QUICK brown\t fox  jumps over the lazy dog"),
            (2, "all covered"),
            (3, None),
            (4, ""),
            (5, "no spans for this one"),
            (6, "overlap overlap overlap start end"),
        ],
        "doc_id int, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, [(5, 9), (7, 14)], 2),     # overlapping union
            (2, [(1, 11)], 1),             # whole text covered
            (3, [(1, 3)], 1),              # null text, non-null spans
            (4, [(1, 2)], 1),              # empty text
            (6, [(1, 7), (9, 15), (1, 33)], 3),  # duplicates + full cover
        ],
        "_sid int, _spans array<struct<b_start:int,b_end:int>>, n_spans int",
    )
    got = {
        r.doc_id: (r.scrubbed, r.n_cut, r.n_spans)
        for r in _scrub_covered_spans(docs, "doc_id", "text", spans).collect()
    }

    # replay the old per-char HOF semantics in Python
    import re

    def norm(t):
        return re.sub(r"\s+", " ", t.lower(), flags=re.ASCII).strip(" ") \
            if t is not None else None

    def replay(t, sp):
        s = norm(t)
        if sp is None:
            return (s, 0)
        if s is None:
            return (None, None)
        if len(s) < 1:
            return (s, 0)
        covered = [
            any(a <= i <= b for a, b in sp) for i in range(1, len(s) + 1)
        ]
        return (
            "".join(ch for ch, c in zip(s, covered) if not c),
            sum(covered),
        )

    span_map = {1: [(5, 9), (7, 14)], 2: [(1, 11)], 3: [(1, 3)],
                4: [(1, 2)], 6: [(1, 7), (9, 15), (1, 33)]}
    n_spans = {1: 2, 2: 1, 3: 1, 4: 1, 6: 3}
    for doc_id, text in [(1, "The QUICK brown\t fox  jumps over the lazy dog"),
                         (2, "all covered"), (3, None), (4, ""),
                         (5, "no spans for this one"),
                         (6, "overlap overlap overlap start end")]:
        want = replay(text, span_map.get(doc_id))
        assert got[doc_id] == (want[0], want[1], n_spans.get(doc_id, 0)), (
            doc_id, got[doc_id], want
        )
