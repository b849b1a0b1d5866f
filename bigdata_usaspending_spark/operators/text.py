"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY.md §7.4): language-ID, quality
scoring, token counting, document fingerprinting — the per-document scoring
passes an LLM data pipeline runs over billions of documents.

Everything here is built from JVM-side built-in functions (split, higher-order
filter/transform, regexp_extract_all, md5) — no Python UDFs — so the whole
pass stays inside whole-stage codegen and scales linearly with no shuffle
(pure map over document partitions).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram-free heuristic
# language-ID. Ordered dict: ties break by this priority.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}

# A BPE-ish pre-tokenizer: alpha runs, digit runs, single punctuation marks —
# the shape GPT-style tokenizers split on before merges.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization as an array column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(col: Column | str, alias: str = "n_tokens") -> Column:
    return F.size(tokens(col)).cast("int").alias(alias)


def bpe_ish_token_count(col: Column | str, alias: str = "n_bpe_tokens") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("int").alias(alias)


def marker_hit_count(col: Column | str, markers: tuple[str, ...]) -> Column:
    """Count of tokens that are in the marker set (built-in HOF filter)."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(*markers))).cast("int")


def stopword_ratio(col: Column | str, markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are stopwords — a quality-score component."""
    n = F.size(tokens(col)).cast("double")
    hits = marker_hit_count(col, markers).cast("double")
    return hits / n


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are neither alphanumeric nor whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.length(c).cast("double")


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / punctuation / stopword quality features per document
    — the classic Gopher-style quality filters, computed in one codegen'd
    projection."""
    return df.select(
        "*",
        F.length(text_col).cast("int").alias("q_n_chars"),
        token_count(text_col, "q_n_tokens"),
        bpe_ish_token_count(text_col, "q_n_bpe_tokens"),
        F.round(stopword_ratio(text_col), 6).alias("q_stopword_ratio"),
        F.round(punct_ratio(text_col), 6).alias("q_punct_ratio"),
    )


def langid(col: Column | str, alias: str = "lang_pred") -> Column:
    """Marker-stopword-voting language ID: argmax of per-language marker hit
    counts, ties broken by LANG_MARKERS order, 'und' when no marker hits.

    A real deployment swaps in a fastText/CLD3 pandas_udf; this heuristic is
    deliberately expressible as pure SQL so it is oracle-checkable.
    """
    hits = {lang: marker_hit_count(col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(hits[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und")).alias(alias)


def commonness_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-level unigram quality score: mean corpus frequency of the
    document's tokens (score = Σ_t count(t) / (n_tokens · total_tokens)).

    High score = text made of corpus-common words; low = rare/garbled tokens
    — the cheap LM-free stand-in for perplexity filtering in training-data
    pipelines. All arithmetic is exact-int counts with a single final double
    division, so the score is engine-reproducible (no transcendentals).

    Scale shape (100 TB): token occurrences are first reduced to per-document
    distinct tokens with in-doc counts (one shuffle; map-side partial agg
    absorbs most of the explode volume), so (a) the vocabulary histogram and
    the score join both run over (doc, distinct-token) rows — orders of
    magnitude fewer than raw occurrences and far less skewed ("the" appears
    once per doc, not once per occurrence) — and (b) no driver-side count and
    NO vocabulary broadcast: a web-scale distinct-token table is GBs, so the
    histogram join strategy is left to AQE, and the corpus-total token count
    rides along as a broadcast of a 1-row aggregate."""
    doctok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    freq = doctok.groupBy("_tok").agg(F.sum("_c").alias("_tf"))
    total = freq.agg(F.sum("_tf").alias("_total"))  # 1 row, derived from freq
    scored = (
        doctok.join(freq, on="_tok")
        .groupBy(id_col)
        .agg(F.sum(F.col("_c") * F.col("_tf")).alias("_s"), F.sum("_c").alias("_n"))
    )
    return scored.crossJoin(F.broadcast(total)).select(
        id_col,
        (
            F.col("_s").cast("double")
            / (F.col("_n").cast("double") * F.col("_total").cast("double"))
        ).alias("commonness"),
    )


def tfidf_features(
    df: DataFrame,
    text_col: str = "text",
    num_features: int = 1 << 14,
    min_doc_freq: int = 1,
) -> DataFrame:
    """TF-IDF vectors via the MLlib Tokenizer -> HashingTF -> IDF chain
    (SURVEY.md §7.4). HashingTF needs no vocabulary broadcast (feature
    hashing), so the transform is a pure map; only the IDF fit aggregates
    document frequencies (one pass)."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    toks = Tokenizer(inputCol=text_col, outputCol="_tokens").transform(df)
    tf = HashingTF(
        inputCol="_tokens", outputCol="_tf", numFeatures=num_features
    ).transform(toks)
    idf_model = IDF(inputCol="_tf", outputCol="tfidf", minDocFreq=min_doc_freq).fit(tf)
    return idf_model.transform(tf).drop("_tokens", "_tf")


def ngram_occurrences(col: Column | str, n: int = 2) -> Column:
    """ALL word n-gram occurrences (array<string>, duplicates kept) via one
    overlapping-match lookahead-regex pass over the normalized text — same
    linear-time trick as dedup.shingles_of, which returns the distinct set."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    word = r"\S+"
    pattern = "(?<=^| )(?=(" + word + (" " + word) * (n - 1) + "))"
    return F.regexp_extract_all(normalized, F.lit(pattern), F.lit(1))


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters: per document,

    - ``dup_token_frac``  = 1 - distinct_tokens/total_tokens — the
      duplicate-line-fraction analog for single-line documents;
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram
      over total bigram occurrences (Gopher's top-2-gram fraction).

    High values flag boilerplate / keyword-stuffed / looping text that
    per-token quality ratios miss. dup_token_frac is a pure codegen
    projection (array_distinct per row, no shuffle). The top-bigram mode
    needs a per-(doc, bigram) count: explode -> two hash aggregations keyed
    by (doc, bigram) then doc — both absorb map-side, linear at 100 TB.
    (The shuffle-free HOF alternative — fold over distinct bigrams counting
    occurrences — is O(len^2) per document, which loses on long docs.)
    All outputs are raw IEEE divisions of exact ints — engine-reproducible.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("_nt"),
        F.size(F.array_distinct(toks)).alias("_nd"),
        ngram_occurrences(text_col, 2).alias("_bg"),
    )
    bg_stats = (
        base.select(id_col, F.explode("_bg").alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_mx"), F.sum("_c").alias("_nbg"))
    )
    return (
        base.drop("_bg")
        .join(bg_stats, on=id_col, how="left")
        .select(
            id_col,
            F.col("_nt").cast("int").alias("n_tokens"),
            (
                (F.col("_nt") - F.col("_nd")).cast("double")
                / F.col("_nt").cast("double")
            ).alias("dup_token_frac"),
            F.coalesce(
                F.col("_mx").cast("double") / F.col("_nbg").cast("double"),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
        )
    )


def ngram_char_fractions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
    top_max: float = 0.20,
    dup_max: float = 0.15,
) -> DataFrame:
    """MassiveText / Gopher repetition filters in their CHARACTER-fraction
    form (Rae et al. 2021, arXiv:2112.11446 Table A1 — the thresholds the
    paper actually gates on; ``repetition_metrics`` carries the
    occurrence-fraction variants):

    - ``top_ngram_char_frac`` — characters covered by the single most
      frequent word ``top_n``-gram (count x gram length, ties to the
      lexicographically smallest gram) over the normalized text length;
    - ``dup_ngram_char_frac`` — characters covered by ALL word
      ``dup_n``-grams occurring more than once (sum of count x length
      over duplicated grams) over the normalized text length. Overlapping
      occurrences each count — the fraction can exceed 1 on degenerate
      loops, exactly the signal the gate wants;
    - ``keep`` — the Gopher gate: top <= ``top_max`` AND dup <=
      ``dup_max`` (paper defaults 0.20 / 0.15).

    Normalized text = lowercase, whitespace collapsed to single spaces,
    trimmed — the denominator is its length. Documents with fewer than
    ``n`` tokens have no n-grams: fraction 0, keep (nothing to gate on).

    100-TB shape: one lookahead-regex n-gram extraction per row (linear,
    no shuffle), then two hash aggregations keyed (doc, gram) -> doc per
    n — both absorb map-side; the join back is id-keyed. All fractions
    are raw IEEE divisions of exact ints — engine-reproducible."""
    c = F.col(text_col)
    norm_len = F.length(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))
    base = df.select(
        F.col(id_col),
        norm_len.alias("_chars"),
        token_count(text_col, alias="_nt"),
        ngram_occurrences(text_col, top_n).alias("_gt"),
        ngram_occurrences(text_col, dup_n).alias("_gd"),
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("_g"))
    top = (
        base.select(id_col, F.explode("_gt").alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col, (F.col("_c") * F.length("_g")).alias("_top_chars")
        )
    )
    dup = (
        base.select(id_col, F.explode("_gd").alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"), F.length("_g").alias("_l"))
        .filter(F.col("_c") > 1)
        .groupBy(id_col)
        .agg(F.sum(F.col("_c") * F.col("_l")).alias("_dup_chars"))
    )
    frac = lambda chars: F.when(  # noqa: E731
        F.col("_chars") > 0,
        F.coalesce(chars, F.lit(0)).cast("double")
        / F.col("_chars").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        base.select(id_col, "_chars", F.col("_nt").alias("n_tokens"))
        .join(top, on=id_col, how="left")
        .join(dup, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            frac(F.col("_top_chars")).alias("top_ngram_char_frac"),
            frac(F.col("_dup_chars")).alias("dup_ngram_char_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top_ngram_char_frac") <= F.lit(float(top_max)))
            & (F.col("dup_ngram_char_frac") <= F.lit(float(dup_max))),
        )
    )


def remove_high_df_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.4,
) -> DataFrame:
    """Corpus-adaptive boilerplate scrub: drop every token whose document
    frequency exceeds ``max_df_frac`` of the corpus, preserving the order of
    the surviving tokens — the single-line analog of CCNet-style boilerplate
    line removal (the synthetic corpus has no newlines, so the unit of
    boilerplate is the token, discovered from the corpus itself rather than
    a fixed stopword list).

    Scale shape (100 TB): the dropset is PROVABLY broadcast-small — a token
    needs > max_df_frac·N documents to qualify, and the corpus only has
    (avg distinct tokens per doc)·N document-token incidences, so at most
    avg_doc_len/max_df_frac distinct tokens can clear the bar (a few hundred
    rows regardless of corpus size). So: one shuffle to build the per-token
    document-frequency histogram from per-doc DISTINCT tokens (map-side
    partial absorbs the explode volume; "the" contributes once per doc, not
    once per occurrence), then the scrub itself is a pure codegen map —
    higher-order ``filter`` against the broadcast dropset array, NO
    occurrence-level join, no skew anywhere.

    Returns (id, scrubbed, n_tokens, n_removed).
    """
    toks = tokens(text_col)
    doctok = df.select(
        F.col(id_col), F.explode(F.array_distinct(toks)).alias("_tok")
    )
    dfreq = doctok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ndocs = df.agg(F.count(F.lit(1)).alias("_ndocs"))
    dropset = (
        dfreq.crossJoin(F.broadcast(ndocs))
        .filter(
            F.col("_df").cast("double")
            > F.lit(max_df_frac) * F.col("_ndocs").cast("double")
        )
        .agg(F.sort_array(F.collect_list("_tok")).alias("_drop"))
    )
    kept = F.filter(toks, lambda t: ~F.array_contains(F.col("_drop"), t))
    return df.crossJoin(F.broadcast(dropset)).select(
        F.col(id_col),
        F.array_join(kept, " ").alias("scrubbed"),
        F.size(toks).cast("int").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("int").alias("n_removed"),
    )


def fingerprint(col: Column | str, alias: str = "fingerprint") -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. The exact-dedup key for noisy duplicates."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(normalized.cast("binary")).alias(alias)


# XXH64 primes (public algorithm, Yann Collet) — the Spark/xxHash constants
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_XX_SEED = 42  # Spark's F.xxhash64 default seed


def _xxh64_windows(buf: bytes, k: int) -> "list[int]":
    """XXH64(seed 42) of EVERY k-byte window of ``buf`` at once — numpy
    uint64 arithmetic wraps mod 2^64, so all windows hash in a handful of
    vector ops instead of one call per gram. k < 32 (winnowing grams), so
    the algorithm's stripe loop never engages; the 8/4/1-byte tail rounds
    below are the complete <32-byte path. Returned as SIGNED ints (the
    two's-complement view — Spark's xxhash64 returns bigint), so
    comparisons in the selection fold match SQL bigint ordering."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8)
    n = len(a) - k + 1
    if n <= 0:
        return []
    P1, P2, P3, P4, P5 = (
        np.uint64(_XXP1), np.uint64(_XXP2), np.uint64(_XXP3),
        np.uint64(_XXP4), np.uint64(_XXP5),
    )

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    def le_chunk(off: int, nbytes: int):
        ch = np.zeros(n, dtype=np.uint64)
        for b in range(nbytes):
            ch |= a[off + b: off + b + n].astype(np.uint64) << np.uint64(8 * b)
        return ch

    with np.errstate(over="ignore"):
        acc = np.full(n, np.uint64(_XX_SEED) + P5 + np.uint64(k), np.uint64)
        off = 0
        while off + 8 <= k:
            k1 = rotl(le_chunk(off, 8) * P2, 31) * P1
            acc = rotl(acc ^ k1, 27) * P1 + P4
            off += 8
        if off + 4 <= k:
            acc = rotl(acc ^ (le_chunk(off, 4) * P1), 23) * P2 + P3
            off += 4
        while off < k:
            acc = rotl(acc ^ (a[off: off + n].astype(np.uint64) * P5), 11) * P1
            off += 1
        acc ^= acc >> np.uint64(33)
        acc *= P2
        acc ^= acc >> np.uint64(29)
        acc *= P3
        acc ^= acc >> np.uint64(32)
    return acc.view(np.int64).tolist()


def _xxh64_bytes(data: bytes) -> int:
    """XXH64(seed 42) of ONE short byte string (< 32 bytes — winnowing
    grams), signed — the non-ASCII per-gram fallback of _xxh64_windows."""
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(data)
    acc = (_XX_SEED + _XXP5 + n) & M
    i = 0
    while i + 8 <= n:
        k1 = rotl((int.from_bytes(data[i:i + 8], "little") * _XXP2) & M, 31)
        acc ^= (k1 * _XXP1) & M
        acc = (rotl(acc, 27) * _XXP1 + _XXP4) & M
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i:i + 4], "little") * _XXP1) & M
        acc = (rotl(acc, 23) * _XXP2 + _XXP3) & M
        i += 4
    while i < n:
        acc ^= (data[i] * _XXP5) & M
        acc = (rotl(acc, 11) * _XXP1) & M
        i += 1
    acc ^= acc >> 33
    acc = (acc * _XXP2) & M
    acc ^= acc >> 29
    acc = (acc * _XXP3) & M
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


@functools.lru_cache(maxsize=None)
def _winnow_kernel(k: int, w: int, robust: bool, portable: bool):
    """Arrow-vectorized twin of the winnowing expression for BOTH hash
    modes — value-identical by construction, ~10x less CPU than the
    interpreted HOF chain (round-15 measurement: ~13 µs/k-gram
    CodegenFallback vs ~1.5 µs/k-gram batched; guide §4.2: hand whole
    batches to native code). Round 15 covered the portable (md5) path;
    round 16 extends it to the xxhash64 PRODUCTION path (VERDICT r15 #3)
    with a numpy-vectorized sliding-window XXH64 (_xxh64_windows).

    Exact-equivalence notes (each mirrors the HOF chain, pinned for both
    hash modes by the kernel-vs-HOF-expression tests in
    tests/test_text.py against the relational reference expression in
    tests/_text_reference.py):
    - normalization: Java's default ``\\s`` is ASCII-only, so the Python
      regex compiles with ``re.ASCII`` ([ \\t\\n\\r\\f\\v] — the same set);
      ``F.lower``/``str.lower`` and ``F.trim``/``strip(' ')`` agree
      (JVM-default-locale assumption noted below), and both engines slice
      substrings by CODE POINT (byte slicing is only taken on
      ``str.isascii()`` fast-path strings, where they coincide);
    - portable hash = dedup.portable_hash60 verbatim: int of the first 15
      hex digits of md5 over the UTF-8 bytes of the k-char gram;
      production hash = Spark's xxhash64 (XXH64, seed 42, UTF-8 bytes,
      signed bigint) — pinned against the public XXH64 test vectors and
      the relational expression;
    - plain selection = window minima in window order, first-occurrence
      distinct (array_distinct semantics); robust selection replays the
      SIGMOD'03 §5 fold exactly, including the last=0 sentinel (SQL
      ``false AND NULL`` = false) and the rightmost-minimal tie rule;
      signed xxhash64 values compare as Python ints = SQL bigints;
    - null/short texts yield the empty array, as the when/otherwise
      chain does.

    Locale note (round-15 ADVICE): the kernel's ``str.lower()`` is
    locale-independent Unicode; Spark's ``F.lower`` delegates to the
    JVM default locale for non-ASCII. The equivalence guarantee assumes
    a root/en JVM locale (the engine's only tested environment); under
    e.g. tr_TR dotted/dotless-I rules the two sides can diverge on
    mixed-script text.
    """
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)
    rtype = "array<struct<fp:bigint,pos:int>>" if robust else "array<bigint>"

    def grams_of(text):
        if text is None:
            return []
        s = ws.sub(" ", text.lower()).strip(" ")
        n = len(s) - k + 1
        if n <= 0:
            return []
        if not portable:
            if s.isascii():
                return _xxh64_windows(s.encode(), k)
            return [
                _xxh64_bytes(s[i:i + k].encode("utf-8")) for i in range(n)
            ]
        md5 = hashlib.md5
        if s.isascii():
            b = s.encode()
            return [
                int(md5(b[i:i + k]).hexdigest()[:15], 16) for i in range(n)
            ]
        return [
            int(md5(s[i:i + k].encode("utf-8")).hexdigest()[:15], 16)
            for i in range(n)
        ]

    def plain_sel(g):
        if not g:
            return []
        nwin = max(len(g) - w + 1, 1)
        out, seen = [], set()
        for j in range(nwin):
            m = min(g[j:j + w])
            if m not in seen:
                seen.add(m)
                out.append(m)
        return out

    def robust_sel(g):
        if not g:
            return []
        nwin = max(len(g) - w + 1, 1)
        last, sel = 0, []
        for j in range(1, nwin + 1):
            win = g[j - 1:j - 1 + w]
            m = min(win)
            if last >= j and g[last - 1] == m:
                continue  # previous selection still a minimum: keep it
            rel = 0
            for i, v in enumerate(win, 1):
                if v == m:
                    rel = i  # rightmost minimal position
            last = j + rel - 1
            sel.append(last)
        return [{"fp": g[p - 1], "pos": p} for p in sel]

    sel = robust_sel if robust else plain_sel

    @F.pandas_udf(rtype)
    def _fps(texts: pd.Series) -> pd.Series:
        return pd.Series([sel(grams_of(t)) for t in texts])

    # guide §4.4: every caller filters on F.size(<kernel output>) > 0, and
    # the optimizer pushes that filter BELOW the projection by duplicating
    # the UDF — two ArrowEvalPython nodes, every row hashed twice (plan-
    # verified round 15). Nondeterministic forbids the duplication; the
    # function is pure, so values are unchanged. Contract consequence
    # (round-15 ADVICE, documented on winnow_fingerprints): the column is
    # projection/filter-scoped — Catalyst rejects nondeterministic
    # expressions inside join conditions and the like.
    return _fps.asNondeterministic()


def winnow_fingerprints(
    col: Column | str,
    k: int = 8,
    w: int = 4,
    portable: bool = False,
    alias: str = "fingerprints",
    robust: bool = False,
) -> Column:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — public paper): rolling character k-gram hashes over the
    whitespace-normalized lowercased text, then the MINIMUM hash of every
    w-hash window, distinct — the selected set. Guarantee: any two
    documents sharing a substring of length >= w + k - 1 share at least
    one fingerprint, and fingerprint density is ~2/(w+1) of the k-gram
    count, so the per-document state is a small fraction of the text —
    the copy-detection / overlap-mining primitive (``dedup.winnow_pairs``
    builds the pair tier on it).

    Documents shorter than ``k`` normalized characters yield an empty
    set; with fewer than ``w`` k-grams, the single window over all grams
    is kept (the paper's boundary case). ``portable=True`` swaps xxhash64
    for the md5-derived 60-bit hash so every stage replays in plain SQL.

    ``robust=True`` switches to ROBUST winnowing (the paper's §5
    algorithm) and the output becomes POSITIONED fingerprints —
    ``array<struct<fp bigint, pos int>>`` with ``pos`` the 1-based k-gram
    index: each window selects its minimum hash, ties broken by keeping
    the PREVIOUS window's selection when it is still a minimum of the
    current window, else the RIGHTMOST minimal position. Selected hash
    VALUES are identical to the plain form (every selection is a window
    minimum — tested), but on repetitive text (boilerplate, the stop-gram
    pressure) far fewer POSITIONS are selected: a run of equal hashes
    yields ~1 fingerprint per w grams instead of one per window, and the
    positions make match LOCALIZATION possible (the MOSS offset-pair use
    case). Selected positions are strictly increasing (windows slide
    right and a new selection is always inside the current window), so
    the array is ordered and duplicate-free by construction.

    Implementation note: BOTH hash modes run as the Arrow-vectorized
    kernel (same values, ~10x less CPU than the interpreted HOF chain it
    replaced, kept as the test reference — see _winnow_kernel; the md5 path moved in round 15, the
    xxhash64 production path in round 16 via a numpy sliding-window
    XXH64). The kernel column is nondeterministic-marked (guide §4.4 —
    stops Catalyst duplicating it below size()>0 filters), so it is
    PROJECTION/FILTER-SCOPED: embedding it directly in a join condition
    raises an AnalysisException — project it to a column first (every
    engine surface already does)."""
    c = F.col(col) if isinstance(col, str) else col
    return _winnow_kernel(int(k), int(w), bool(robust), bool(portable))(
        c
    ).alias(alias)


def chunk_spans(
    col: Column | str,
    max_tokens: int,
    overlap: int = 0,
    alias: str = "chunks",
) -> Column:
    """Sliding-window document chunking with PROVENANCE offsets — the
    RAG / context-window splitting primitive: whitespace tokens of the
    lowercased text cut into windows of ``max_tokens`` advancing by
    ``max_tokens - overlap``, each chunk carrying where it came from.
    Output ``array<struct<chunk_id int, start_tok int, n_tok int,
    chunk_text string>>`` (start_tok 0-based; the last chunk may be
    shorter; every token is covered because the stride never exceeds the
    window). Chunk count is ``1 + ceil(max(n - max_tokens, 0) /
    stride)`` — one window when the doc fits, and never a trailing
    window that adds no new tokens.

    Tokenization matches ``tokens()`` (split on whitespace after
    trim+lower), including its quirk that an empty/whitespace text
    yields the single empty token — one empty chunk, kept so every doc
    chunks to >= 1 row and offsets stay total. 100-TB shape: a pure
    per-row HOF over the scan — no UDF, no shuffle; explode downstream
    multiplies rows by ~n/stride, the intended fan-out."""
    if not (0 <= overlap < max_tokens):
        raise ValueError(
            f"chunk_spans needs 0 <= overlap < max_tokens, got "
            f"overlap={overlap} max_tokens={max_tokens}"
        )
    stride = max_tokens - overlap

    def chunks_of(toks: Column) -> Column:
        n = F.size(toks)
        extra = F.greatest(n - F.lit(max_tokens), F.lit(0))
        nch = F.lit(1) + F.floor(
            (extra + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                (i * stride).cast("int").alias("start_tok"),
                F.least(F.lit(max_tokens), n - i * stride)
                .cast("int")
                .alias("n_tok"),
                F.array_join(
                    F.slice(
                        toks,
                        (i * stride + 1).cast("int"),
                        F.least(F.lit(max_tokens), n - i * stride),
                    ),
                    " ",
                ).alias("chunk_text"),
            ),
        )

    # let-bind the token array (the winnow_fingerprints HOF contract:
    # captured expressions re-evaluate per element after projection
    # collapse — one split per row, not one per chunk)
    expr = F.element_at(
        F.transform(F.array(tokens(col)), chunks_of), 1
    )
    return expr.alias(alias)


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# (category, pattern, replacement), applied IN ORDER. Patterns stay inside the
# Java-regex ∩ RE2 common subset (no lookaround, no backreferences) so the
# scrub replays identically in any engine. Order matters: email's @-anchored
# shape goes first; SSN's 3-2-4 digit shape must be consumed before the
# 3-3-4 phone shape scans the text; IPv4 last.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(col: Column | str, alias: str = "scrubbed") -> Column:
    """Redact emails / SSNs / phone numbers / IPv4s with typed placeholder
    tokens — the pre-training privacy pass. A chain of JVM regexp_replace
    calls: pure codegen map, no shuffle, linear at any corpus size."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c.alias(alias)


def pii_redaction_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrubbed text plus per-category redaction counts (pipeline audit
    metric). Each count is taken on the text AFTER the previous categories
    were replaced, so overlapping shapes never double-count — an SSN already
    rewritten to <SSN> is invisible to the phone pattern, exactly mirroring
    what the sequential scrub actually removed."""
    cur: Column = F.col(text_col)
    cols: list[Column] = [F.col(id_col)]
    for name, pat, repl in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).cast("int").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    cols.append(cur.alias("scrubbed"))
    return df.select(*cols)


# --------------------------------------------------------------------------
# context-window chunking
# --------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Split documents into fixed-token-count chunks with per-document
    ordinals — the pre-chunking step before context-window packing or
    chunk-level dedup. One posexplode over slices of the token array: a pure
    codegen map with no shuffle, embarrassingly parallel at any corpus size
    (contrast sampling.pack_sequences, which needs a global prefix sum
    because its bin boundaries cross documents)."""
    toks = tokens(text_col)
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int"), F.lit(1)
    )
    slices = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(slices).alias("chunk_id", "chunk_text")
    )


def _bm25_per_doc(
    df: DataFrame, vocab: "list[str]", id_col: str, text_col: str
) -> DataFrame:
    """Per-document length + term frequency for every vocabulary term, in
    ONE pure map over the corpus (bounded HOF ``size(filter(tokens, =t))``
    per term — no explode, no shuffle beyond the parallelism spread).

    _ensure_parallelism matters HERE (round 16, the _read_index_fps
    lesson): a small-file corpus scans as ONE task while this map runs
    CPU-heavy per-row HOFs — q_bm25_batch profiled two ~0.7 s single-task
    jobs (the stats pass and the scoring pass) with 31 idle cores. The
    spread is a no-op once source files outnumber cores (the production
    case)."""
    from .dedup import _ensure_parallelism

    df = _ensure_parallelism(df)
    toks = tokens(text_col)

    # a dedicated factory: a `lambda x, t=t:` default-arg closure would have
    # TWO parameters, which pyspark's HOF binder reads as (element, index)
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"_tf{i}")
            for i, t in enumerate(vocab)
        ],
    )


def bm25_corpus_stats(
    df: DataFrame,
    terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Collect the BM25 corpus statistics for ``terms`` in one
    partial-aggregated pass: ``{"n": N, "sdl": Σdl, "df": {term: doc_freq}}``.

    This is the eager half of BM25 split out so repeated queries amortize
    the corpus scan (the pq_train_driver bounded-model-state pattern — the
    result is one driver-side row, a few ints per term). Pass the result as
    ``stats=`` to ``bm25_topk`` / ``bm25_topk_batch``; any superset
    vocabulary works, so one stats pass over the union vocabulary serves a
    whole query log."""
    vocab = list(dict.fromkeys(terms))
    per_doc = _bm25_per_doc(df, vocab, id_col, text_col)
    srow = per_doc.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum("_dl"), F.lit(0)).alias("_sdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).alias(f"_df{i}")
            for i in range(len(vocab))
        ],
    ).first()
    return {
        "n": int(srow["_n"]),
        "sdl": int(srow["_sdl"]),
        "df": {t: int(srow[f"_df{i}"] or 0) for i, t in enumerate(vocab)},
    }


def _bm25_score_expr(
    query_terms: "list[str]",
    vocab_index: "dict[str, int]",
    stats: dict,
    k1: float,
    b: float,
):
    """The fixed-order BM25 scoring expression over ``_dl``/``_tf{i}``
    columns: idf computed DRIVER-SIDE with Python's math.log and injected
    as a literal (Java's Math.log is within-1-ulp, not correctly rounded,
    and measurably differs from glibc/DuckDB ln), remaining arithmetic a
    left-to-right IEEE tree mirrored verbatim in the SQL oracles."""
    import math

    n = float(stats["n"])
    avgdl = float(stats["sdl"]) / n
    dl = F.col("_dl").cast("double")
    score = None
    for t in query_terms:
        tf = F.col(f"_tf{vocab_index[t]}").cast("double")
        dft = float(stats["df"][t])
        idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
        term = (
            F.lit(idf)
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
        )
        score = term if score is None else score + term
    return score


def bm25_topk(
    df: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Okapi BM25 top-k lexical retrieval — the LEXICAL complement of the
    ANN family (similarity.py): rank documents against a bag-of-terms
    query with the standard tf-saturation / length-normalized scoring and
    Lucene's non-negative idf, ``ln(1 + (N - df + 0.5)/(df + 0.5))``.
    Corpus curation uses this both for retrieval-quality probes and for
    query-anchored dedup triage where embeddings are too coarse.

    Plan shape (100 TB): per-document term frequencies come from ONE pure
    map over the corpus — a bounded HOF ``size(filter(tokens, = term))``
    per query term, O(|query| * doc_len) per row with NO explode and NO
    shuffle (a query is a handful of terms; contrast the per-token HOFs
    the engine bans). Corpus statistics (N, Σdl, per-term document
    frequencies) reduce in ONE partial-aggregated pass to a single row
    collected driver-side (the pq_train_driver bounded-model-state
    pattern), so the scoring pass is a pure map into
    TakeOrderedAndProject — no join at all. Two scans total, same as the
    lazy broadcast formulation; persist the stats row to amortize repeat
    queries.

    Determinism: tf/df/dl/N are exact ints; idf is computed DRIVER-SIDE
    with Python's math.log and injected as a literal, because Java's
    Math.log is within-1-ulp (not correctly rounded) and measurably
    differs from glibc/DuckDB ln on real inputs — the remaining score
    arithmetic is plain IEEE ops in a fixed left-to-right tree mirrored
    verbatim in the SQL oracle, and ties break on ascending id, so the
    returned SET is engine-exact. Zero-score documents (no term hits)
    are excluded. Null-text rows are dropped (no tokens to score).

    ``stats``: a precomputed ``bm25_corpus_stats`` result (its vocabulary
    must cover ``query_terms``; a superset is fine). Without it the stats
    aggregate runs eagerly here — one extra corpus scan per call — so
    repeated queries over the same corpus should share one stats pass."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct (duplicates double-count)")
    per_doc = _bm25_per_doc(df, query_terms, id_col, text_col)
    if stats is None:
        stats = bm25_corpus_stats(df, query_terms, id_col, text_col)
    missing = [t for t in query_terms if t not in stats["df"]]
    if missing:
        raise ValueError(f"stats vocabulary missing query terms: {missing}")
    if not stats["n"]:
        return per_doc.select(
            F.col(id_col), F.lit(None).cast("double").alias("bm25")
        ).limit(0)
    vocab_index = {t: i for i, t in enumerate(query_terms)}
    score = _bm25_score_expr(query_terms, vocab_index, stats, k1, b)
    return (
        per_doc.select(F.col(id_col), score.alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: "dict[str, list[str]]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    stats: dict | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """BM25 top-k for MANY queries in one pass — the real retrieval shape
    in a training-data pipeline (decontamination triage, retrieval-quality
    probes run thousands of benchmark queries, not one). Returns
    ``(query_id, doc_id, bm25)``, the per-query top-k by score with ties
    broken on ascending id.

    Plan shape (100 TB): the UNION vocabulary of the query set gets one tf
    column each in a single corpus map (``_bm25_per_doc`` — bounded HOFs,
    no explode, no shuffle), so Q queries share ONE scan instead of Q. Per
    document, per-query scores are built array-side and zero-score entries
    are dropped INSIDE the array (``explode(filter(array<struct>))``), so
    the exploded intermediate is inverted-index-sized — one row per
    (document, query-with-a-term-hit) pair, not docs x queries. The only
    shuffle is the per-query top-k window on ``query_id``
    (window_topk_per_group, §2.5). Corpus statistics are one driver-side
    row exactly as in ``bm25_topk``; pass ``stats=`` to amortize across
    calls. The query set itself is driver-side and broadcast in the plan
    literals — bounded by ``max_queries`` (the pq_train_driver cap
    pattern); a larger query log needs the token-bucketed inverted-index
    join formulation, not bigger literals.

    Determinism contract identical to ``bm25_topk``: driver-side math.log
    idf literals, fixed left-to-right IEEE score tree in each query's own
    term order, row_number ties on ascending id — the returned set replays
    engine-exact in SQL."""
    from .topk import window_topk_per_group

    if not queries:
        raise ValueError("queries must be non-empty")
    if len(queries) > max_queries:
        raise ValueError(
            f"{len(queries)} queries > max_queries={max_queries}; use "
            "bm25_topk_inverted (postings-join formulation) for large "
            "query logs"
        )
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
        if len(set(terms)) != len(terms):
            raise ValueError(f"query {qid!r} has duplicate terms")
    if stats is None:
        vocab = sorted({t for terms in queries.values() for t in terms})
        stats = bm25_corpus_stats(df, vocab, id_col, text_col)
    scored = bm25_score_hits(
        df, queries, stats, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    return (
        window_topk_per_group(scored, "query_id", "bm25", id_col, k)
        .select("query_id", id_col, "bm25")
        .orderBy("query_id", F.desc("bm25"), F.asc(id_col))
    )


def bm25_score_hits(
    df: DataFrame,
    queries: "dict[str, list[str]]",
    stats: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The stateless scoring half of ``bm25_topk_batch``: one pure map
    over documents emitting ``(query_id, id, bm25)`` for every
    (document, query) pair with a positive score — the inverted-index-
    sized hit set, before any ranking. No shuffle, no aggregation, no
    driver work: with ``stats`` frozen (from ``bm25_corpus_stats`` over a
    reference corpus) this runs unchanged inside Structured Streaming as
    the per-microbatch retrieval-hit stage (``streaming.jobs.
    stream_bm25_score``), exactly the way apply_text_scorer's seam rides
    a stream. Batch callers normally want ``bm25_topk_batch``, which adds
    the per-query top-k window on top of this."""
    if not queries:
        raise ValueError("queries must be non-empty")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
        if len(set(terms)) != len(terms):
            raise ValueError(f"query {qid!r} has duplicate terms")
    vocab = sorted({t for terms in queries.values() for t in terms})
    missing = sorted(set(vocab) - set(stats["df"]))
    if missing:
        raise ValueError(f"stats vocabulary missing query terms: {missing}")
    per_doc = _bm25_per_doc(df, vocab, id_col, text_col)
    empty = per_doc.select(
        F.lit(None).cast("string").alias("query_id"),
        F.col(id_col),
        F.lit(None).cast("double").alias("bm25"),
    ).limit(0)
    if not stats["n"]:
        return empty
    vocab_index = {t: i for i, t in enumerate(vocab)}
    entries = F.array(
        *[
            F.struct(
                F.lit(qid).alias("query_id"),
                _bm25_score_expr(terms, vocab_index, stats, k1, b).alias("bm25"),
            )
            for qid, terms in queries.items()
        ]
    )
    return per_doc.select(
        F.col(id_col),
        F.explode(F.filter(entries, lambda s: s["bm25"] > 0)).alias("_hit"),
    ).select(F.col("_hit.query_id"), F.col(id_col), F.col("_hit.bm25"))


def bm25_score_hits_multi(
    df: DataFrame,
    queries: "dict[str, list[str]]",
    configs: "list[tuple[float, float]]",
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """Score the query batch under SEVERAL (k1, b) parameterizations in
    the SAME corpus pass — the parameter-ensemble retrieval shape
    (rank-fusing k1/b variants hedges their sensitivity without score
    calibration). The tf columns and corpus stats are identical across
    configurations, so scoring C configs costs one scan plus C-1 extra
    score expressions per document — never C scans (two bm25_topk_batch
    calls re-read the corpus per config; this is the fused form).

    Returns ``(list_idx int, query_id, id, bm25)`` — one row per
    (config, query, document) with a positive score; ``list_idx`` is the
    config's position in ``configs``, the tag ``retrieval.
    rrf_fuse_grouped_tagged`` folds in. Same determinism contract as
    ``bm25_score_hits``."""
    if not queries:
        raise ValueError("queries must be non-empty")
    if not configs:
        raise ValueError("configs must be non-empty")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
        if len(set(terms)) != len(terms):
            raise ValueError(f"query {qid!r} has duplicate terms")
    vocab = sorted({t for terms in queries.values() for t in terms})
    if stats is None:
        stats = bm25_corpus_stats(df, vocab, id_col, text_col)
    missing = sorted(set(vocab) - set(stats["df"]))
    if missing:
        raise ValueError(f"stats vocabulary missing query terms: {missing}")
    per_doc = _bm25_per_doc(df, vocab, id_col, text_col)
    if not stats["n"]:
        return per_doc.select(
            F.lit(None).cast("int").alias("list_idx"),
            F.lit(None).cast("string").alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("double").alias("bm25"),
        ).limit(0)
    vocab_index = {t: i for i, t in enumerate(vocab)}
    entries = F.array(
        *[
            F.struct(
                F.lit(ci).alias("list_idx"),
                F.lit(qid).alias("query_id"),
                _bm25_score_expr(terms, vocab_index, stats, k1, b).alias(
                    "bm25"
                ),
            )
            for ci, (k1, b) in enumerate(configs)
            for qid, terms in queries.items()
        ]
    )
    return per_doc.select(
        F.col(id_col),
        F.explode(F.filter(entries, lambda s: s["bm25"] > 0)).alias("_hit"),
    ).select(
        F.col("_hit.list_idx"),
        F.col("_hit.query_id"),
        F.col(id_col),
        F.col("_hit.bm25"),
    )


def bm25_topk_inverted(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 for an UNBOUNDED query log — the fully distributed complement
    of ``bm25_topk_batch``'s broadcast formulation (the scale path its
    ``max_queries`` cap points to). Queries arrive as a DataFrame
    ``(query_id, terms array<string>)`` and flow through joins: nothing
    about the query set rides the driver or the plan literals, so a
    million-query retrieval probe is the same plan as a ten-query one.

    Plan shape (100 TB):
    1. **Postings build** — corpus tokens exploded, SEMI-JOINED to the
       distinct query vocabulary BEFORE the tf aggregate (only queried
       terms are ever grouped; Catalyst/AQE broadcasts the vocabulary when
       it is small), then one groupBy -> ``(doc, term, tf)``: the classic
       inverted index, partitioned by term.
    2. **Stats** — doc lengths (map), one 1-row corpus aggregate (the only
       driver collect), per-term document frequencies straight off the
       postings (they are unique per (doc, term)).
    3. **Retrieval join** — exploded ``(query, term)`` pairs ⋈ postings on
       term: shuffle volume = postings for queried terms only. A stopword
       queried by everything is a skew key — scrub stopwords from queries
       upstream or let AQE skew-split carry it.
    4. **Score** — per-(query, doc) sum of term contributions via a
       sort_array fold (DETERMINISTIC double fold order — a plain SUM
       would float-drift run to run), then the per-query top-k window.

    idf is computed ENGINE-SIDE here (``F.log`` — Java's Math.log, within
    1 ulp of, but not always equal to, the libm ln that ``bm25_topk`` /
    ``bm25_topk_batch`` inject driver-side). This operator is therefore
    pytest-pinned against the batch formulation (relative agreement), not
    value-hash oracle-pinned; prefer the batch form when the query set is
    bounded and bit-exactness matters."""
    qterms = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("_term"),
    )
    vocab = qterms.select("_term").distinct()
    toks_df = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    dls = toks_df.select(F.col(id_col), F.size("_toks").alias("_dl"))
    srow = dls.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum("_dl"), F.lit(0)).alias("_sdl"),
    ).first()
    empty = dls.select(
        F.lit(None).cast(queries.schema[query_id_col].dataType).alias(
            "query_id"
        ),
        F.col(id_col),
        F.lit(None).cast("double").alias("bm25"),
    ).limit(0)
    if not srow["_n"]:
        return empty
    n = float(srow["_n"])
    avgdl = float(srow["_sdl"]) / n
    postings = (
        toks_df.select(F.col(id_col), F.explode("_toks").alias("_term"))
        .join(vocab, "_term", "semi")
        .groupBy(id_col, "_term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    term_df = postings.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    dfd = F.col("_df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(n) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
    tf = F.col("_tf").cast("double")
    dl = F.col("_dl").cast("double")
    contrib = (
        idf
        * (tf * F.lit(k1 + 1.0))
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
    )
    scored = (
        qterms.join(postings, "_term")
        .join(term_df, "_term")
        .join(dls, id_col)
        .select("_qid", id_col, "_term", contrib.alias("_s"))
    )
    per_pair = scored.groupBy("_qid", id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_term", "_s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_s"],
        ).alias("bm25")
    )
    from .topk import window_topk_per_group

    return (
        window_topk_per_group(
            per_pair.withColumnRenamed("_qid", "query_id"),
            "query_id",
            "bm25",
            id_col,
            k,
        )
        .select("query_id", id_col, "bm25")
        .orderBy("query_id", F.desc("bm25"), F.asc(id_col))
    )
