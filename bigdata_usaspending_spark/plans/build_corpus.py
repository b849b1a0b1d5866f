"""The composed corpus-build pipeline — WARC shards in, packed training
sequences out (VERDICT r9 #2: every stage already exists as an
oracle-checked operator; this module is the COMPOSITION as a runnable
job, mirroring the reference's one-spark-submit-per-job operational
pattern, /root/reference/README.md:111-115).

Stage order (each stage a proven library function, cheapest-first so the
expensive tiers see the fewest rows — the near_dedup_pipeline argument
applied to the whole pipeline):

  1. URL dedup           sources/warc.url_dedup         (canonical-URL tier)
  2. PII scrub           operators/text.pii_scrub       (codegen regex chain)
  3. quality + LID gate  operators/text.{token_count,punct_ratio,langid}
  4. decontaminate       operators/dedup.decontaminate  (benchmark n-grams)
  5. exact dedup         operators/dedup.exact_dedup    (md5 fingerprint)
  6. near-dup tier       operators/dedup.{minhash_lsh_pairs | winnow_pairs,
                         connected_components}          (keep component min;
                         cfg.near_method picks banded-LSH shingle Jaccard or
                         MOSS rolling-hash winnowing)
  7. source quota        operators/sampling.sample_k_per_group
  8. epoch shuffle       operators/sampling.global_shuffle
  9. sequence packing    operators/sampling.pack_sequences (over position —
                         documents pack in SHUFFLED order, the GPT-style
                         concat-and-chunk layout for the training reader)

100-TB shape: tiers 1-5 are linear scans with one small-key shuffle each;
the near-dup tier is the banded O(docs x bands) candidate join + the
O(log n)-round component contraction; shuffle/pack are the two-pass
prefix-sum shapes (no single-partition window anywhere). Nothing here
collects corpus-sized state to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    _ensure_parallelism,
    connected_components,
    decontaminate,
    exact_dedup,
    minhash_lsh_pairs,
    winnow_pairs,
)
from ..operators.sampling import (
    global_shuffle,
    pack_sequences,
    sample_k_per_group,
)
from ..operators.text import (
    fingerprint,
    langid,
    pii_scrub,
    punct_ratio,
    token_count,
)
from ..sources.warc import host_of, url_dedup


@dataclass(frozen=True)
class CorpusBuildConfig:
    """Knobs for one corpus build. ``portable=True`` swaps every seeded
    hash for the md5 60-bit bridge so the whole composition replays in
    portable SQL (the q_corpus_build_mini oracle); production keeps the
    cheaper xxhash64."""

    langs: tuple[str, ...] = ("en",)
    block_hosts: tuple[str, ...] = ()
    min_tokens: int = 4
    max_punct_ratio: float = 0.5
    shingle_n: int = 3
    near_threshold: "float | None" = 0.8
    # near-dup tier algorithm: "minhash" (banded LSH over token shingles,
    # probabilistic recall ~1-(1-j^r)^bands) or "winnow" (MOSS rolling-hash
    # fingerprints, deterministic recall for shared substrings >=
    # winnow_w + winnow_k - 1 chars — the tier real crawls prefer when
    # shingle Jaccard is too slow; candidate volume is the winnowed
    # density, a ~2/(w+1) fraction of the k-grams)
    near_method: str = "minhash"
    winnow_k: int = 8
    winnow_w: int = 4
    # stop-gram cap for the winnow tier (max docs a fingerprint may appear
    # in and still generate candidates — the boilerplate df² guard);
    # None = uncapped
    near_max_df: "int | None" = None
    # what the near tier DOES to a verified near-dup: "drop" removes the
    # non-min member of each component whole (the classic tier); "scrub"
    # (winnow method only — spans need positions) CUTS the matched
    # covering span out of the higher-id member instead and keeps the
    # rest, then RECOUNTS tokens and re-applies the min_tokens gate (a
    # doc that was all boilerplate ends empty and drops). Scrubbed-tier
    # text is the NORMALIZED form (lowercase, whitespace-collapsed) —
    # the span offsets are defined over it.
    near_action: str = "drop"
    quota_per_source: "int | None" = None
    block_size: int = 512
    seed: int = 0
    scrub_pii: bool = True
    portable: bool = False


def build_corpus(
    docs: DataFrame,
    benchmark: "DataFrame | None" = None,
    cfg: "CorpusBuildConfig | None" = None,
    dedup_index: "str | None" = None,
    staging_dir: "str | None" = None,
) -> DataFrame:
    """Run the full curation pipeline over a documents-shaped frame
    (``doc_id, text, source[, target_uri]``) and return packed training
    rows: ``(doc_id, text, source, n_tokens, position, seq_id,
    seq_offset)`` — ``position`` is the document's rank in the seeded
    epoch permutation, ``seq_id/seq_offset`` where its first token lands
    when the shuffled token stream is cut into ``block_size``-token
    training sequences. ``benchmark`` (any frame with a ``text`` column)
    enables the decontamination tier.

    ``dedup_index`` (optional): path of a persisted positioned winnow
    index (``winnow_pos_index_write``) of an ALREADY-COMMITTED corpus —
    the batch-build form of incremental ingestion: after exact dedup,
    docs whose fingerprint Jaccard verifies >= ``cfg.near_threshold``
    against ANY committed doc are dropped (probe inversion — the
    committed side is only scanned, never re-fingerprinted), BEFORE the
    in-batch near tier spends work on them. Fingerprint parameters come
    from the index's saved meta (the saved-model contract), and the
    meta is VALIDATED against the cfg's winnow parameters up front — a
    (k, w, portable) mismatch would run the against-index tier in a
    different fingerprint space than the in-batch near tier and produce
    quietly inconsistent dedup decisions, so it raises instead;
    ``cfg.near_max_df`` caps the probe's candidate generation while the
    verify stays value-exact (winnow_dedup_against_index's contract).

    ``staging_dir`` (optional, winnow near tier): stage the shared
    fingerprint frame to ``{staging_dir}/near_{fps,pfps}.parquet`` ONCE
    and feed every branch of the near tier from the parquet instead of
    the in-query lazy cache. Rationale (guide §2/§5, VERDICT r15 #2):
    AQE materializes the tier's independent exchanges as CONCURRENT
    jobs, and the lazy-cached fingerprint subtree recomputes once per
    branch before any cache block lands — at 100 TB those are full
    normalize+hash passes over the corpus. With staging the frame is
    computed once (1 write + N scans). OFF by default and off in the
    bench: at bench scale the blocking write costs more wall than the
    branch race (measured round 15, re-measured round 16 through this
    seam — numbers in OPTIMIZATION_r16.md), so the dial exists for
    corpus-scale runs, exactly like the production staging-table note
    on the shuffle checkpoint below. Values are unchanged either way
    (same fingerprint frame, tested byte-identical)."""
    cfg = cfg or CorpusBuildConfig()
    if dedup_index is not None and cfg.near_threshold is None:
        raise ValueError(
            "dedup_index needs cfg.near_threshold — it is the "
            "against-index verify threshold"
        )
    if dedup_index is not None:
        from ..index_store import read_meta

        meta = read_meta(docs.sparkSession, dedup_index)
        want = (cfg.winnow_k, cfg.winnow_w, cfg.portable)
        have = (meta["k"], meta["w"], meta["portable"])
        if have != want:
            raise ValueError(
                f"dedup_index at {dedup_index!r} was built with winnow "
                f"parameters (k, w, portable)={have} but the cfg says "
                f"{want} — the against-index tier would run in a "
                "different fingerprint space than the in-batch near "
                "tier; rebuild the index or align the cfg"
            )
    if not cfg.langs:
        raise ValueError(
            "CorpusBuildConfig.langs must name at least one language to "
            "keep (an empty keep set would drop the whole corpus)"
        )
    if cfg.near_method not in ("minhash", "winnow"):
        # validate up front regardless of near_threshold: a config typo
        # must fail instantly, not silently skip the tier (threshold
        # None) or burn the whole gate->dedup pipeline first (the near
        # tier's localCheckpoint materializes eagerly)
        raise ValueError(
            f"unknown near_method {cfg.near_method!r}; "
            "expected 'minhash' or 'winnow'"
        )
    if cfg.near_action not in ("drop", "scrub"):
        raise ValueError(
            f"unknown near_action {cfg.near_action!r}; "
            "expected 'drop' or 'scrub'"
        )
    if cfg.near_action == "scrub" and cfg.near_method != "winnow":
        raise ValueError(
            "near_action='scrub' needs near_method='winnow' — span "
            "offsets come from the positioned rolling-hash fingerprints; "
            "the minhash tier has no position evidence"
        )
    if cfg.block_hosts and "target_uri" not in docs.columns:
        # a blocklist the input can't express would silently gate nothing —
        # same contract as the CLI's --host-profile guard
        raise ValueError(
            "block_hosts given but the input has no target_uri column; "
            "host blocking needs per-row URLs"
        )
    if "target_uri" in docs.columns:
        if cfg.block_hosts:
            # the C4/RefinedWeb blocked-domains tier: drop rows whose URL
            # host is blocklisted; rows with no URL carry no host identity
            # and always pass (coalesce keeps the null-host rows)
            docs = docs.filter(
                F.coalesce(
                    ~host_of("target_uri").isin(*cfg.block_hosts),
                    F.lit(True),
                )
            )
        docs = url_dedup(docs)
    # spread the CPU-heavy scan stage (PII regexes, tokenization, langid
    # voting all run scan-side) when the input arrives as one small-file
    # partition — a no-op at production scale where the scan already has
    # more partitions than cores (the dedup._ensure_parallelism contract)
    docs = _ensure_parallelism(docs.filter(F.col("text").isNotNull()))
    if cfg.scrub_pii:
        docs = docs.withColumn("text", pii_scrub("text"))
    # raw-division quality gates (text.punct_ratio, not the rounded
    # quality_columns variant) so the filter replays bit-for-bit in SQL
    gated = (
        docs.withColumn("n_tokens", token_count("text"))
        .withColumn("_punct", punct_ratio("text"))
        .withColumn("_lang", langid("text"))
        .filter(
            (F.col("n_tokens") >= cfg.min_tokens)
            & (F.col("_punct") <= cfg.max_punct_ratio)
            & F.col("_lang").isin(*cfg.langs)
        )
        .drop("_punct", "_lang")
    )
    if benchmark is not None:
        gated = decontaminate(
            gated, benchmark, "doc_id", n=cfg.shingle_n, portable=cfg.portable
        )
    kept = exact_dedup(gated, "doc_id")
    if dedup_index is not None:
        from ..operators.dedup import winnow_index_dedup

        # localCheckpoint: the against-index tier consumes `kept` twice
        # (the batch fingerprint build and the anti-join's left side);
        # the in-batch near tier below re-checkpoints its own input
        kept = winnow_index_dedup(
            kept.sparkSession, dedup_index, kept.localCheckpoint(),
            "doc_id", "text",
            threshold=cfg.near_threshold,
            max_fingerprint_df=cfg.near_max_df,
        )
    if cfg.near_threshold is not None:
        # localCheckpoint: the near tier consumes `kept` twice (the
        # signature/fingerprint build and the anti-join's left side) on
        # top of the downstream quota/shuffle chain — without it the
        # gate->dedup lineage re-executes per consumer (~2 s each at
        # sf0.1). Same inter-stage materialization note as `shuffled`
        # below.
        kept = kept.localCheckpoint()
        staged_fps = None
        if staging_dir is not None and cfg.near_method == "winnow":
            from ..operators.dedup import winnow_index, winnow_pos_index

            spark = kept.sparkSession
            if cfg.near_action == "scrub":
                frame = winnow_pos_index(
                    kept, "doc_id", "text",
                    k=cfg.winnow_k, w=cfg.winnow_w, portable=cfg.portable,
                )
                staged_path = f"{staging_dir}/near_pfps.parquet"
            else:
                frame = winnow_index(
                    kept, "doc_id", "text",
                    k=cfg.winnow_k, w=cfg.winnow_w, portable=cfg.portable,
                )
                staged_path = f"{staging_dir}/near_fps.parquet"
            frame.write.mode("overwrite").parquet(staged_path)
            staged_fps = _ensure_parallelism(spark.read.parquet(staged_path))
        if cfg.near_action == "scrub":
            # the surgical tier (winnow method, validated above): cut
            # every verified pair's covering span out of the higher-id
            # member (per-char union across its pairs), recount tokens on
            # the scrubbed text, and RE-APPLY the min_tokens gate — a doc
            # that was nothing but the shared passage ends empty and
            # drops, one that merely quoted it keeps its distinct tail
            from ..operators.dedup import winnow_span_scrub

            scrubbed = winnow_span_scrub(
                kept, "doc_id",
                k=cfg.winnow_k, w=cfg.winnow_w,
                threshold=cfg.near_threshold, portable=cfg.portable,
                max_fingerprint_df=cfg.near_max_df,
                pfps_df=staged_fps,
            )
            kept = (
                kept.drop("text", "n_tokens")
                .join(
                    scrubbed.select(
                        "doc_id", F.col("scrubbed").alias("text")
                    ),
                    on="doc_id",
                )
                .withColumn("n_tokens", token_count("text"))
                .filter(F.col("n_tokens") >= cfg.min_tokens)
            )
        else:
            if cfg.near_method == "winnow":
                pairs = winnow_pairs(
                    kept, "doc_id",
                    k=cfg.winnow_k, w=cfg.winnow_w,
                    threshold=cfg.near_threshold, portable=cfg.portable,
                    max_fingerprint_df=cfg.near_max_df,
                    fps_df=staged_fps,
                )
            else:  # "minhash" — the method set is validated up front
                pairs = minhash_lsh_pairs(
                    kept, "doc_id",
                    n=cfg.shingle_n, threshold=cfg.near_threshold,
                    portable=cfg.portable,
                )
            comps = connected_components(pairs)
            losers = comps.filter(
                F.col("doc_id") != F.col("component")
            ).select("doc_id")
            # plain anti-join: the loser set is usually small (AQE
            # broadcasts it), but near-dup-heavy crawls can make it
            # corpus-scale — never force a broadcast here
            kept = kept.join(losers, on="doc_id", how="anti")
    if cfg.quota_per_source is not None:
        kept = sample_k_per_group(
            kept, "source", cfg.quota_per_source, ["doc_id"],
            seed=cfg.seed, portable=cfg.portable,
        )
    # localCheckpoint: THREE consumers follow (pack_sequences' min/max
    # probe, the coords branch, and the join's left branch) — without the
    # persist each would re-run the whole gate->dedup->quota->shuffle
    # pipeline (measured 5.2 s -> ~2 s at sf0.1). The standard
    # inter-stage materialization between curation stages; a production
    # run writes this frame to a staging table instead.
    shuffled = global_shuffle(kept, "doc_id", seed=cfg.seed).localCheckpoint()
    coords = pack_sequences(
        shuffled.select("position", "n_tokens"),
        "position", "n_tokens", cfg.block_size,
    )
    out = shuffled.join(
        coords.select("position", "seq_id", "seq_offset"), on="position"
    )
    carried = [c for c in ("doc_id", "text", "source") if c in out.columns]
    return out.select(
        *carried, "n_tokens", "position", "seq_id", "seq_offset"
    )


def write_corpus(out: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize a built corpus: range-partitioned and sorted by
    ``position`` so the training reader streams files in epoch order
    without a sort, each file a contiguous position slice."""
    (
        out.repartitionByRange("position")
        .sortWithinPartitions("position")
        .write.mode(mode)
        .parquet(path)
    )


def corpus_datasheet(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source corpus datasheet in ONE aggregate pass: document and
    token counts, the distinct-fingerprint count (1 - distinct/docs = the
    exact duplication rate), and token-length quartiles — the summary
    table a corpus release ships next to the data. Null-text rows carry
    no content and are excluded.

    100-TB shape: one scan, one shuffle keyed on source; the quartiles
    come from the same mergeable percentile aggregate the curriculum
    phasing uses (never a sort), and COUNT(DISTINCT md5) is one
    two-phase aggregate on a 16-byte key."""
    t = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(source_col).alias("source"),
        token_count(text_col),
        fingerprint(text_col),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count_distinct("fingerprint").alias("n_distinct_texts"),
        F.percentile(
            F.col("n_tokens").cast("double"),
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        ).alias("_q"),
    ).select(
        "source", "n_docs", "total_tokens", "n_distinct_texts",
        F.element_at("_q", 1).alias("tok_p25"),
        F.element_at("_q", 2).alias("tok_p50"),
        F.element_at("_q", 3).alias("tok_p75"),
    )


def sequence_manifest(corpus: DataFrame) -> DataFrame:
    """The training reader's view of a built corpus: one row per packed
    training sequence with its ordered document spans — what a data
    loader needs to materialize sequence ``seq_id`` without scanning
    anything else. Output: ``(seq_id, docs, n_docs, n_tokens,
    starts_mid_document)`` where ``docs`` is the position-ordered array
    of (doc_id, seq_offset, n_tokens) structs whose FIRST token lands in
    the sequence, and ``starts_mid_document`` flags sequences that open
    inside a document carried over from the previous block (seq_offset
    of the first doc > 0 means the head of this sequence belongs to the
    previous row's tail document — the standard concat-and-chunk
    carry-over).

    One shuffle keyed on seq_id; the struct list is bounded by the block
    size (a sequence holds at most block_size document starts)."""
    docs = F.sort_array(
        F.collect_list(F.struct("position", "doc_id", "seq_offset", "n_tokens"))
    )
    return (
        corpus.groupBy("seq_id")
        .agg(
            F.transform(
                docs,
                lambda d: F.struct(
                    d["doc_id"].alias("doc_id"),
                    d["seq_offset"].alias("seq_offset"),
                    d["n_tokens"].alias("n_tokens"),
                ),
            ).alias("docs"),
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "seq_id", "docs", "n_docs", "n_tokens",
            (F.element_at("docs", 1)["seq_offset"] > 0).alias(
                "starts_mid_document"
            ),
        )
    )
