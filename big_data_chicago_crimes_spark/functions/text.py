"""Text-analysis column expressions (training-data pipeline surface).

Everything here is a pure Spark column expression (JVM-side,
whole-stage-codegen-eligible) — no Python UDFs in the hot path. These
feed the documents-table operators: language ID, quality scoring, token
counting, fingerprinting, shingling for MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the heuristic language-ID
# operator. Marker-token voting is the degenerate (n=word) case of the
# classic character-n-gram-profile method (Cavnar & Trenkle 1994).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "que", "una", "de"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "is", "it",
    "for", "with", "as", "at", "by", "that", "this",
]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trim(text) as array<string>. NOTE:
    BLANK text yields [''] (split of an empty string — one empty
    pseudo-token), and NULL text yields NULL; callers that need the
    zero-tokens-for-blank convention filter the '' element
    (curation._nonblank_tokens) or guard like token_count does."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings).

    Counted as the number of maximal non-space runs (``regexp_count``
    of ``\\S+``) — identical to ``size(split(trim(t), '\\s+'))`` for
    every non-blank string (split pieces of a trimmed string ARE its
    non-space runs) and for the NULL/blank guards, but never
    materializes the token array just to take its length (r18 — the
    per-row array allocation was pure GC pressure on corpus-sized
    scans)."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.regexp_count(c, F.lit(r"\S+"))
    )


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via a GPT-2-style pre-tokenizer regex:
    splits out word pieces, numbers, and punctuation runs the way BPE
    pre-tokenization does. A cheap, deterministic proxy for an LLM
    tokenizer's token count."""
    c = F.col(text) if isinstance(text, str) else text
    # contractions | letter runs | digit runs | punctuation runs
    pattern = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    # regexp_count matches size(regexp_extract_all(...)) exactly but
    # never materializes the match array — same regex cost, no per-row
    # allocation/GC (A/B-verified identical counts at sf1)
    return F.regexp_count(c, F.lit(pattern))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(n_punct / F.length(c))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are stopwords (quality signal:
    natural prose has a stable stopword rate; keyword soup does not)."""
    c = F.col(text) if isinstance(text, str) else text
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(c)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    # blank guard on the TEXT, not size(toks)==0: split never returns an
    # empty array (blank text yields [''], size 1), so the old size
    # guard was dead code — blank reached 0.0 only because '' is not a
    # stopword. Same value, now deliberate.
    return F.when(F.length(F.trim(c)) == 0, F.lit(0.0)).otherwise(
        n_sw / F.size(toks)
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score: rewards prose-like stopword rate and
    moderate length, penalizes punctuation soup. Deterministic and
    monotone in its inputs so thresholding is stable across runs."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(c)
    sw_score = F.least(sw / F.lit(0.3), F.lit(1.0))
    p_score = F.lit(1.0) - F.least(punct_ratio(c) / F.lit(0.2), F.lit(1.0))
    return F.round((len_score + sw_score + p_score) / F.lit(3.0), 6)


def casefold_ws_normalize(text: Column | str) -> Column:
    """Casefolded, whitespace-collapsed text — the ONE normalization
    doc_fingerprint and char_ngrams share (dedup.py documents that the
    simhash/fingerprint agreement depends on them staying in sync)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def doc_fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of the casefolded, whitespace-normalized
    text. Stable across formatting-only differences; the exact-dedup key."""
    return F.md5(casefold_ws_normalize(text))


def rolling_hash(
    text: Column | str,
    base: int = 31,
    mod: int = 2**57 - 13,
    hash_family: str = "xxhash64",
) -> Column:
    """Polynomial rolling hash (Rabin–Karp) over the document's tokens,
    computed distributively with F.aggregate — an order-sensitive
    fingerprint that, unlike md5, can be windowed/extended incrementally.

    ANSI-overflow safety: the accumulator stays in [0, mod), so the
    largest intermediate is (mod-1)*base + base*1000 - 1. mod defaults to
    2**57 - 13 (prime) so that bound is ~4.5e18 < Long.MAX (9.22e18);
    callers overriding (base, mod) must keep (mod-1)*base + base*1000
    below 2**63 or Spark 4's ANSI mode raises ARITHMETIC_OVERFLOW.

    ``hash_family='md5'`` derives each token's value from the first 8 hex
    digits of its md5 (reproducible in any engine with md5 — the
    oracle-checkable twin); xxhash64 stays the fast default.
    """
    if (mod - 1) * base + base * 1000 >= 2**63:
        raise ValueError(
            f"rolling_hash(base={base}, mod={mod}) would overflow a signed "
            "64-bit long under ANSI mode: require (mod-1)*base + base*1000 < 2**63"
        )
    if hash_family == "md5":
        tok_val = lambda t: (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % F.lit(base * 1000)
        )
    else:
        # pmod, not abs()%: abs(Long.MIN_VALUE) is unrepresentable and
        # raises ARITHMETIC_OVERFLOW under ANSI for the 2^-64-probability
        # token whose xxhash64 is exactly -2^63 — pmod is total on the
        # full long range with the same [0, base*1000) output
        tok_val = lambda t: F.pmod(F.xxhash64(t), F.lit(base * 1000))
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(base) + tok_val(t)) % F.lit(mod),
    )


# PII patterns for training-corpus scrubbing (C4-style cleanup). Kept
# deliberately simple and high-precision: emails, NANP-ish phone numbers,
# IPv4 addresses. All plain regexp_replace — JVM-side, pushdown-friendly.
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"(?<!\d)(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}(?!\d)", "<PHONE>"),
    (r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)", "<IP>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails, phone numbers, and IPv4 addresses with typed
    sentinels — the standard scrub step before a corpus becomes training
    data. Pure chained regexp_replace: codegen, no UDF, order-stable
    (emails first so their digits can't be half-eaten by the phone
    pattern)."""
    c = F.col(text) if isinstance(text, str) else text
    for pattern, sentinel in _PII_PATTERNS:
        c = F.regexp_replace(c, pattern, sentinel)
    return c


def pii_counts(text: Column | str) -> Column:
    """Struct of per-category PII hit counts (emails, phones, ips) — the
    audit metric next to redact_pii. Each category counts on the text
    with PRIOR categories already redacted, mirroring redact_pii's
    sequential application: independent counts on the raw text would
    report a phone inside an email address (e.g.
    '555-123-4567@example.com') that the chained redaction never
    touches — the audit would disagree with the scrub it audits."""
    c = F.col(text) if isinstance(text, str) else text
    fields = []
    for (pattern, sentinel) in _PII_PATTERNS:
        name = sentinel.strip("<>").lower() + "s"
        fields.append(F.regexp_count(c, F.lit(pattern)).alias(name))
        c = F.regexp_replace(c, pattern, sentinel)
    return F.struct(*fields)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles (contiguous token windows) as array<string> —
    the unit set for MinHash / Jaccard near-dup detection."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Character n-grams of the normalized text as array<string>
    (normalization shared with doc_fingerprint via
    casefold_ws_normalize — see its note)."""
    s = casefold_ws_normalize(text)
    length = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    return F.when(length < n, F.array(s)).otherwise(
        F.transform(idx, lambda i: s.substr(i, F.lit(n)))
    )


def chunk_spans(
    df,
    text_col: str = "text",
    max_len: int = 32,
    stride: int = 24,
    with_text: bool = False,
):
    """Sliding fixed-capacity token windows per document — the
    tokenize-and-chunk fan-out that turns long documents into training
    sequences (HF-style ``return_overflowing_tokens`` semantics): chunk
    ``i`` covers tokens ``[i*stride, i*stride + max_len)``; a new chunk
    is emitted only while the previous one hasn't already reached the
    end, so ``n_chunks = 1 + ceil(max(0, T - max_len) / stride)`` for a
    ``T``-token document and blank documents emit none (token_count's
    0-for-blank convention).

    Pure JVM fan-out: ``sequence`` + ``explode`` — one output row per
    chunk with ``chunk_idx`` / ``chunk_start`` / ``chunk_len`` attached,
    no Python in the path. At scale this is a narrow map (no shuffle);
    the ~max_len/stride row amplification is the intended output growth.
    """
    if stride <= 0 or max_len <= 0 or stride > max_len:
        raise ValueError(f"need 0 < stride <= max_len, got {stride}/{max_len}")
    reserved = {"__t", "__toks", "chunk_idx", "chunk_start", "chunk_len",
                "chunk_text"}
    clash = reserved & set(df.columns)
    if clash:
        # withColumn would silently OVERWRITE a caller's column of the
        # same name and the trailing drops would delete it (e.g.
        # re-chunking an already-chunked table)
        raise ValueError(f"chunk_spans: input columns collide: {sorted(clash)}")
    t = token_count(text_col)
    n_chunks = (
        F.lit(1) + F.ceil(F.greatest(t - max_len, F.lit(0)) / F.lit(stride))
    ).cast("int")
    idx_array = F.when(t > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    staged = df.withColumn("__t", t)
    if with_text:
        # tokenize ONCE per document, BEFORE the explode — slicing the
        # carried array per chunk row is O(chunk), while re-splitting the
        # full text per emitted row would amplify the regex cost by the
        # fan-out factor (~max_len/stride ×) on exactly the long
        # documents chunking targets
        staged = staged.withColumn("__toks", tokens(text_col))
    out = (
        staged.withColumn("chunk_idx", F.explode(idx_array))
        .withColumn("chunk_start", (F.col("chunk_idx") * stride).cast("int"))
        .withColumn(
            "chunk_len",
            F.least(F.lit(max_len), F.col("__t") - F.col("chunk_start")).cast("int"),
        )
        .drop("__t")
    )
    if with_text:
        # the chunk's token slice re-joined — slice() is 1-based; still a
        # narrow codegen map, no shuffle
        out = out.withColumn(
            "chunk_text",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__toks"), F.col("chunk_start") + 1, F.col("chunk_len")
                ),
            ),
        ).drop("__toks")
    return out


def vocab_top_k(
    df,
    text_col: str = "text",
    k: int = 1000,
    min_count: int = 1,
):
    """Corpus vocabulary table: the ``k`` most frequent whitespace
    tokens with their counts — the precursor a tokenizer-training /
    vocabulary-pruning step consumes. Deterministic: ties break on the
    token string, so the table is stable under repartition and across
    engines.

    Scale shape: explode → hash-aggregate with map-side partials (the
    per-partition combine means the shuffle carries one row per DISTINCT
    token per partition, not per occurrence) → TakeOrderedAndProject
    top-k (no global sort). Vocabulary cardinality, not corpus size,
    bounds the shuffle.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("token")).filter(
        F.length("token") > 0
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    return counts.orderBy(F.col("n").desc(), F.col("token")).limit(k)


def assign_pack_bins_from_counts(
    df,
    group_col: str,
    n_tok_col: str,
    order_cols: list[str],
    capacity: int,
):
    """Contiguous-fill bin assignment over PRECOMPUTED token counts: per
    ``group_col``, each item opens in the bin where its token prefix-sum
    lands (running sum in deterministic ``order_cols`` order; an item
    longer than ``capacity`` overflows its bin — contiguous fill never
    splits items). The ONE packing core — whole-document packing
    (``assign_pack_bins``), chunk-level packing (docs_chunk_pack), and
    the end-to-end pipeline all ride this window, so the bin arithmetic
    can never diverge between their oracles. Window partitions by the
    group, so packing parallelizes across groups; only the per-group
    running sum is sequential, inherent to contiguous packing."""
    if capacity <= 0:
        # 0 would double-divide to Infinity and die in an ANSI cast
        # overflow deep inside the job; negative silently yields
        # negative bin ids — raise upfront like chunk_spans does
        raise ValueError(f"capacity must be positive, got {capacity}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "bin_id",
        F.floor(
            (F.sum(n_tok_col).over(w) - F.col(n_tok_col)) / capacity
        ).cast("bigint"),
    )


def assign_pack_bins(
    df,
    group_col: str = "lang",
    text_col: str = "text",
    capacity: int = 2048,
):
    """Whole-document contiguous-fill sequence packing (see
    ``assign_pack_bins_from_counts`` for the shared bin arithmetic).
    Output: (group_col, doc_id, n_tok, bin_id), running sum in
    deterministic doc_id order."""
    base = df.select(group_col, "doc_id", token_count(text_col).alias("n_tok"))
    return assign_pack_bins_from_counts(
        base, group_col, "n_tok", ["doc_id"], capacity
    )
