"""Deduplication operators (training-data pipeline surface).

Five dedup strategies over the ``documents`` table, all expressed as
distributed DataFrame transforms (no driver-side pair loops):

- exact:      md5 fingerprint of normalized text → keep min doc_id.
- MinHash+LSH: shingles → k minhashes → b bands → candidate pairs via a
               self-join on (band, band-signature). The classic
               Broder (1997) scheme; at 100 TB the band join is the only
               shuffle and its key space (band hashes) is uniform.
- SimHash:    Charikar (2002) 64-bit sign-of-weighted-sum fingerprint,
              computed per-row with higher-order array functions (no
              explode, no shuffle until the bucket join).
- n-gram Jaccard: token-set Jaccard within a blocking key (exact set
              similarity for candidate verification).
- embedding near-dup: cosine ≥ τ within LSH/label blocks (see
              operators.similarity for the hyperplane bucketing).

All hash functions are xxhash64 (JVM-side, deterministic across runs),
so results are reproducible — a hard requirement under the value-hash
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.text import doc_fingerprint, tokens
from big_data_chicago_crimes_spark.functions.vectors import cosine_similarity, l2_norm


def spread_enabled(spark: SparkSession) -> bool:
    """Whether ``spark.bdcc.spreadCompute`` is on — the one local-mode
    gate every spread and build-side pin reads."""
    return spark.conf.get("spark.bdcc.spreadCompute", "false").lower() == "true"


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Config-gated spread before compute-heavy per-row stages.

    ``spark.bdcc.spreadCompute`` (set by the session factory: on for
    local masters, off otherwise) inserts a round-robin repartition to
    ``defaultParallelism`` so a small single-row-group parquet file —
    which scans as ONE task regardless of ``files.minPartitionNum``,
    since parquet can't split below row-group boundaries — doesn't run
    all the hashing on one core. On a cluster the scan already has
    thousands of splits and the flag stays off: no plan probing, no
    ``df.rdd`` materialization, no gratuitous shuffle at scale."""
    spark = df.sparkSession
    if spread_enabled(spark):
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _pin_pair_join_build_side(df: DataFrame) -> DataFrame:
    """Under ``spark.bdcc.spreadCompute`` (local mode), broadcast-hint
    the build side of the blocked pair self-joins. The side sits right at
    the broadcast threshold there, so AQE flips between broadcast (work
    spread round-robin across all cores) and sort-merge on a handful of
    block keys (quadratic pair work on <25 tasks — 5× slower) run to
    run. On a cluster the flag is off and the strategy stays with AQE:
    at scale blocks are LSH buckets (thousands of keys) and the build
    side exceeds broadcast size anyway.

    Size-guarded: the hint only applies when Catalyst's size estimate for
    the build side is under ``spark.sql.autoBroadcastJoinThreshold`` —
    an unconditional hint would OOM the driver if the build side ever
    outgrew memory at a larger local SF (VERDICT r2 #6)."""
    spark = df.sparkSession
    if not spread_enabled(spark):
        return df
    try:
        threshold_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        threshold = _parse_byte_conf(threshold_conf)
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # estimation is best-effort; fall back to no hint
        return df
    if threshold <= 0 or est > threshold:
        return df
    return F.broadcast(df)


def _parse_byte_conf(v: str) -> int:
    """'10485760' | '10m' | '512k' | '1g' → bytes (Spark conf format)."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one row (min id) per normalized-text fingerprint.
    One hash aggregate on the fingerprint; deterministic survivor set.

    Default: returns the full surviving rows via a min-sized semi join
    (wide columns never ride the aggregate). ``carry_cols`` (r17):
    callers that only need a few NARROW survivor columns get them
    carried THROUGH the aggregate as ``min(struct(id, *carry))`` —
    ``id_col`` is unique, so the struct min is exactly the min-id row
    and the carried values are that row's — returning
    ``(id_col, *carry_cols)`` with no join and one fewer source scan.
    Carried columns must be of orderable types (no maps)."""
    fp = doc_fingerprint(text_col).alias("fingerprint")
    if carry_cols is not None:
        s = F.struct(F.col(id_col), *[F.col(c) for c in carry_cols])
        return (
            df.select(fp, s.alias("__s"))
            .groupBy("fingerprint")
            .agg(F.min("__s").alias("__s"))
            .select(
                F.col(f"__s.{id_col}").alias(id_col),
                *[F.col(f"__s.{c}").alias(c) for c in carry_cols],
            )
        )
    survivors = (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(survivors.select(id_col), id_col, "left_semi")


_FUZZY_SIG_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"


def _fuzzy_char_histogram(text: Column) -> Column:
    """(a-z, 0-9) character-count histogram of lower(text) — the
    signature of the fuzzy verify's L1 prefilter. Every edit changes at
    most two counts by one, so an L1 distance above 2·max_dist proves
    dist > max_dist at a fraction of the Levenshtein DP's cost; the
    prefilter prunes only, so the SQL oracle replays just the
    Levenshtein."""
    lowered = F.lower(text)
    return F.array(
        *[
            (
                F.length(lowered)
                - F.length(F.replace(lowered, F.lit(c), F.lit("")))
            ).cast("int")
            for c in _FUZZY_SIG_CHARS
        ]
    )


def _sig_l1(a: Column, b: Column) -> Column:
    """L1 distance of two _fuzzy_char_histogram arrays. zip_with +
    aggregate HOF, not 36 unrolled getItem terms: the unrolled tree
    measured 1.7x slower end-to-end (A/B at sf1: 20 s vs 11.6 s — it
    blows the codegen method budget, like the hyperplane signature)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _even_partition(l: Column, i: Column, nseg: int) -> tuple[Column, Column]:
    """(0-based start, length) of segment ``i`` under the standard even
    partition of a string of length ``l`` into ``nseg`` segments: the
    first nseg − (l mod nseg) segments have ⌊l/nseg⌋ chars, the rest
    ⌊l/nseg⌋+1 — deterministic closed-form positions both the index and
    probe sides compute independently, so they can never disagree."""
    b = F.floor(l / nseg).cast("int")
    k = (l % nseg).cast("int")
    start = i * b + F.greatest(F.lit(0), i - (F.lit(nseg) - k))
    slen = b + F.when(i >= F.lit(nseg) - k, F.lit(1)).otherwise(F.lit(0))
    return start, slen


def fuzzy_match_pairs_segments(
    df: DataFrame,
    block_cols: list[str],
    max_dist: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-match pairs: every pair inside a
    ``block_cols`` block whose Levenshtein distance is ≤ ``max_dist``,
    as (id_a, id_b, dist), id_a < id_b (the fuzzy record-linkage move —
    variant titles, re-crawled pages with small diffs — where token-set
    Jaccard is blind to character-level edits).

    Candidates come from PassJoin-style segment blocking (Li, Deng,
    Feng — "PASS-JOIN: A Partition-based Method for Similarity Joins",
    VLDB 2012): an inverted SEGMENT index, so candidate count tracks
    the true-match count (shared long substrings), not block² or the
    squared density of same-length cohorts that a (block, length-band)
    cell enumeration pays (VERDICT r8). tests/test_dedup.py pins the
    output against an all-pairs Levenshtein self-join on an adversarial
    corpus; the registered query's SQL oracle checks it on organic data.

    Pigeonhole: partition the SHORTER string s (length l) into τ+1
    segments (τ = max_dist). If dist(s, t) ≤ τ, at most τ edits touch
    s, so ≥ 1 segment survives untouched and occurs VERBATIM in t,
    position-shifted by (#ins − #del) before it; with Δ = len(t) − l,
    #ins ≤ (τ+Δ)/2 and #del ≤ (τ−Δ)/2 bound the shift to
    [−⌊(τ−Δ)/2⌋, ⌊(τ+Δ)/2⌋] — a (τ+1)-wide window per segment.

    Plan shape: the index side emits τ+1 (block, l, i, segment) rows
    per string; the probe side emits, per string of length m, the
    windowed substrings for every partner length l ∈ [m−τ, m] —
    O(τ²·(τ+1)) short rows, LINEAR in corpus size (HOF-generated,
    one explode). One hash join on (block, l, i, content) + an id
    tie-break for equal lengths, distinct candidate id pairs, then a
    sound L1-histogram prefilter + thresholded Levenshtein verify —
    candidates and prefilters prune only, so the result set is
    construction-independent and the length-banded SQL oracle replays
    it unchanged."""
    tau = max_dist
    nseg = tau + 1
    base = df.select(
        *block_cols,
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    )
    base = spread_for_compute(base)

    # --- index side: each string contributes its own tau+1 segments.
    # The whole (block…, l, i, segment) key is collapsed to ONE
    # xxhash64 on both sides: the join then builds/probes on a single
    # long instead of packing a variable-length string key per row
    # (measured ~3× on the 24M-row probe stream at sf1). A hash
    # collision can only ADD a candidate — the Levenshtein verify
    # kills it — so the result set is collision-proof.
    i_col = F.col("__i")
    s_start, s_len = _even_partition(F.col("__len"), i_col, nseg)
    index = (
        base.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(tau))))
        .select(
            F.xxhash64(
                *block_cols,
                F.col("__len"),
                "__i",
                F.substring(F.col("__t"), s_start + 1, s_len),
            ).alias("__h"),
            F.col("__id").alias("__sid"),
            F.col("__len").alias("__l"),
        )
    )

    # --- probe side: windowed substrings for every shorter-or-equal
    # partner length. A chain of three native explode(sequence(...))
    # generators with codegen arithmetic between them — an equivalent
    # nested transform/filter HOF formulation measured ~10× slower
    # (interpreted per-element closures over ~700 structs/row; the
    # same pathology as the unrolled-histogram A/B above, inverted).
    # Fan-out O(τ³) per row, corpus-LINEAR — the point of the design.
    m = F.col("__len")
    with_l = base.withColumn(
        "__l", F.explode(F.sequence(F.greatest(m - tau, F.lit(0)), m))
    )
    # Length-existence pruning (r10, VERDICT r9 #5): a probe row at
    # partner length __l can only ever match an index key that carries
    # (block, __l) — if NO string of that length exists in the block,
    # the τ+1 segments × (τ+1)-wide windows about to be generated for
    # it are dead weight. One broadcast semi join against the DISTINCT
    # (block, len) set — block-lengths-sized, tiny — before the
    # segment/position fan-out cuts the probe stream 3.7–4.5× on the
    # documents fixtures (sf1: 468k → 126k pre-explosion rows ⇒ ~24M →
    # ~6.5M hashed probe substrings). Result-invariant by construction:
    # only probes that could never join are dropped.
    existing = base.select(*block_cols, F.col("__len").alias("__l")).distinct()
    with_l = with_l.join(F.broadcast(existing), [*block_cols, "__l"], "left_semi")
    with_i = with_l.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(tau))))
    p_start, p_slen = _even_partition(F.col("__l"), F.col("__i"), nseg)
    delta = m - F.col("__l")
    # shift bounds: |sh| + |Δ−sh| ≤ τ (ins/del budget split around the
    # untouched segment) intersected with the first-untouched-segment
    # refinement |Δ−sh| ≤ τ−i (if every earlier segment were untouched
    # the pair is found there instead, so ≥ i edits precede segment i)
    lo = F.greatest(
        p_start - F.floor((tau - delta) / 2).cast("int"),
        p_start + delta - (F.lit(tau) - F.col("__i")),
        F.lit(0),
    )
    hi = F.least(
        p_start + F.floor((tau + delta) / 2).cast("int"),
        p_start + delta + (F.lit(tau) - F.col("__i")),
        m - p_slen,
    )
    probe = (
        with_i.withColumn(
            "__pp", F.explode(F.when(lo <= hi, F.sequence(lo, hi)))
        )
        .select(
            F.xxhash64(
                *block_cols,
                F.col("__l"),
                "__i",
                F.substring(F.col("__t"), F.col("__pp") + 1, p_slen),
            ).alias("__h"),
            F.col("__id").alias("__pid"),
        )
    )

    # τ+1 short rows per string: the index side is the natural build
    # side (size-guarded hint — local-mode AQE flips on the estimate
    # boundary; on a cluster the gate is off and AQE decides). Equal
    # lengths probe from both sides, so pairs are canonicalized with
    # least/greatest BEFORE the distinct (an id tie-break in the join
    # residual would have to be length-conditional — an unconditional
    # sid < pid drops pairs whose shorter string has the larger id).
    joined = probe.join(
        _pin_pair_join_build_side(index),
        (probe["__h"] == index["__h"]) & (index["__sid"] != probe["__pid"]),
    )
    cand_ids = (
        joined.select(
            F.least(index["__sid"], probe["__pid"]).alias("__ida"),
            F.greatest(index["__sid"], probe["__pid"]).alias("__idb"),
        )
        .distinct()
    )

    # attach texts (id joins against the n-row base — tiny next to the
    # segment join), then compute the histogram signatures on the
    # PAIRS-SIZED joined rows, not corpus-wide (r10, VERDICT r9 #5):
    # the 36-char signature costs 36 full-text replace() scans per row,
    # and building it into ``base`` made both verify join sides pay it
    # for every corpus row — the dominant verify term (A/B sf1: 3.2 s
    # of the 5.0 s total; candidates are ~3k pairs there, so scoped
    # signatures are ~30× fewer text scans). Prefilters and scoping
    # prune only, so the output is the exact all-pairs answer.
    lhs = base.select(
        F.col("__id").alias("__ida"),
        F.col("__t").alias("__ta"),
        *[F.col(c).alias(f"__blk_a{i}") for i, c in enumerate(block_cols)],
    )
    rhs = base.select(
        F.col("__id").alias("__idb"),
        F.col("__t").alias("__tb"),
        *[F.col(c).alias(f"__blk_b{i}") for i, c in enumerate(block_cols)],
    )
    # The candidate side is explicitly broadcast: it is PAIRS-sized
    # (candidates track true matches — the PassJoin property), and the
    # static planner can't see that through the 24M-row segment join's
    # estimate, so without the hint the text-attach joins shuffle and
    # re-sort the corpus side (interleaved A/B at sf1: 7.8 s → 2.9 s
    # with the hint — the single biggest term in the plan). If a corpus
    # ever yields a candidate set too large to broadcast, near-dup
    # density is the problem to fix first; dropping the hint degrades
    # to the shuffled join, nothing breaks.
    cand = F.broadcast(cand_ids).join(lhs, "__ida").join(rhs, "__idb")
    # re-check block equality (null-safe — NULL block keys hash
    # consistently and form a block of their own): a cross-block
    # xxhash64 collision on the (block, len, i, segment) key would
    # otherwise surface a pair the within-a-block contract forbids —
    # the Levenshtein verify never looks at block columns, so it
    # cannot kill that candidate class (~2^-64 per pair, but the SQL
    # oracle is exactly block-scoped)
    for i in range(len(block_cols)):
        cand = cand.filter(
            F.col(f"__blk_a{i}").eqNullSafe(F.col(f"__blk_b{i}"))
        )

    cand = cand.withColumn(
        "__siga", _fuzzy_char_histogram(F.col("__ta"))
    ).withColumn("__sigb", _fuzzy_char_histogram(F.col("__tb")))
    l1 = _sig_l1(F.col("__siga"), F.col("__sigb"))
    d = F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
    return (
        cand.filter(l1 <= 2 * max_dist)
        .select(
            F.least(F.col("__ida"), F.col("__idb")).alias("id_a"),
            F.greatest(F.col("__ida"), F.col("__idb")).alias("id_b"),
            d.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def _span_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalized (__id, __t, __len) frame, spread for compute — shared
    by the exact-substring family (shared_span_pairs,
    maximal_span_pairs)."""
    return spread_for_compute(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
            F.length(F.col(text_col)).alias("__len"),
        )
    )


def _span_candidate_doc_ids(base: DataFrame, min_span: int, k: int) -> DataFrame:
    """Candidate-doc generation for the exact-substring family — the
    strided k-gram hash join extracted VERBATIM from shared_span_pairs
    (r13-certified; the extraction is plan-identical): the FULL side
    emits the xxhash64 of every k-gram; the STRIDED side emits k-grams
    only at positions ≡ 1 (mod s), s = min_span − k + 1. Any shared
    span of length ≥ min_span spans s consecutive k-gram start
    positions in the strided doc — hence ≥ 1 sampled position — and the
    full side holds every position, so the hash join finds every
    qualifying pair in either orientation (sound superset; a hash
    collision only ADDS a candidate). Fan-out is corpus-linear: ~len
    rows on the full side, ~len/s on the strided side, hashes only — no
    substring strings ever shuffle. Returns the DISTINCT doc ids
    touched by any candidate pair (one column, ``__id``)."""
    stride = min_span - k + 1

    # Candidate grams are k-BYTE slices of the text's binary form at
    # every BYTE position (r18). substring on a STRING walks from byte
    # 0 to find the char offset (UTF8String is variable-width), so
    # hashing a gram at every char position cost O(position) each —
    # quadratic per document (stage-attributed: the probe stages were
    # 41 of 120 executor-seconds at the 10× corpus). substring on
    # BINARY is a constant-time byte slice. Soundness is unchanged: a
    # shared char-span of ≥ min_span chars is a shared byte-span of
    # ≥ min_span bytes (every char is ≥ 1 byte, identical bytes in
    # both docs), so it covers ≥ s consecutive byte start positions
    # and the strided side samples at least one — every qualifying
    # pair still becomes a candidate, and extra byte-offset matches
    # only ADD candidates (the callers verify exactly). For ASCII text
    # the gram set is bit-identical to the char form.
    def gram_rows(positions: Column) -> DataFrame:
        # sequence(1, n) is DESCENDING for n < 1 — guard emits no rows
        return (
            base.select(
                "__id",
                F.col("__t").cast("binary").alias("__tb"),
                F.octet_length("__t").alias("__bl"),
            )
            .withColumn("__p", F.explode(positions))
            .select(
                F.xxhash64(F.substring(F.col("__tb"), F.col("__p"), k)).alias("__h"),
                F.col("__id"),
            )
        )

    full = gram_rows(
        F.when(
            F.col("__bl") >= k, F.sequence(F.lit(1), F.col("__bl") - k + 1)
        )
    )
    strided = gram_rows(
        F.when(
            F.col("__bl") >= k,
            F.sequence(F.lit(1), F.col("__bl") - k + 1, F.lit(stride)),
        )
    )
    strided2 = strided.withColumnRenamed("__id", "__id2").withColumnRenamed(
        "__h", "__h2"
    )
    # Emit both ids of each candidate pair via ONE explode, not a
    # two-branch select/unionAll: the union form duplicates the whole
    # hash-join subtree in the physical plan (the exchanges feeding the
    # join are reused, but the join probe itself — the corpus-linear
    # full-gram side — runs twice). explode(array(a, b)) references the
    # join once; the pair-level distinct is dropped too (partial
    # aggregation dedups ids map-side — one exchange instead of two).
    # Same id set (A/B-verified row-identical), ~20% faster at sf0.1
    # (r17: 1.12-1.28 s → 0.90-1.01 s min-of-4), and the avoided probe
    # grows with the corpus.
    #
    # Persisted (r18): every caller semi-joins this id set against a
    # corpus UNION (documents + planted twins), and Catalyst pushes the
    # left-semi join through the union — duplicating this entire
    # candidate pipeline, the corpus-linear probe included, once per
    # union branch (sf1 plans showed two full BroadcastHashJoin
    # subtrees). The persisted frame is the distinct candidate-doc id
    # LIST — bounded by docs-touched-by-duplication, a fraction of the
    # corpus at any scale, and far narrower than the gram-rows frame
    # maximal_span_pairs already pins. Fill once, both branches read
    # the cache.
    from big_data_chicago_crimes_spark.session import scratch_persist

    return scratch_persist(
        full.join(
            _pin_pair_join_build_side(strided2),
            (F.col("__h") == F.col("__h2")) & (F.col("__id") != F.col("__id2")),
        )
        .select(F.explode(F.array(F.col("__id"), F.col("__id2"))).alias("__id"))
        .distinct()
    )


def shared_span_pairs(
    df: DataFrame,
    min_span: int = 50,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs of documents sharing an EXACT character span of length ≥
    ``min_span`` — the exact-substring dedup shape of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (ACL
    2022), re-expressed as Spark joins instead of a suffix array (which
    doesn't distribute): boilerplate headers, quoted passages, and
    near-identical re-crawls that token-level fingerprints dilute.

    Candidate generation is k-gram sampling with stride
    s = min_span − k + 1: the FULL side emits the xxhash64 of every
    k-gram; the STRIDED side emits k-grams only at positions ≡ 1
    (mod s). Any shared span of length ≥ min_span spans s consecutive
    k-gram start positions in the strided doc — hence ≥ 1 sampled
    position — and the full side holds every position, so the hash
    join finds every qualifying pair in either orientation (sound
    superset; a hash collision only ADDS a candidate). Fan-out is
    corpus-linear: ~len rows on the full side, ~len/s on the strided
    side, hashes only — no substring strings ever shuffle.

    Verify over candidate DOCS (not per pair): documents touched by
    any candidate pair explode their min_span-gram fingerprints once
    (codegen substring-by-position — measured 90× faster at sf0.1 than
    the first formulation's per-pair interpreted
    transform+array_intersect, which recomputed both span arrays for
    every pair), then one grouping on the 128-bit span fingerprint
    counts distinct shared spans per pair (two seeded xxhash64 halves —
    see the inline note for the collision budget; the k-gram hashes of
    the CANDIDATE stage never constrain the answer, only this stage
    does). Every qualifying pair has both docs in the candidate set
    (the pair itself is a candidate by the sampling guarantee), so the
    span grouping restricted to candidate docs IS the answer. Span
    fingerprints shuffle only for candidate docs — at web scale a
    small fraction of the corpus. Output: (id_a, id_b, n_shared_spans)
    with id_a < id_b, n_shared_spans = number of DISTINCT shared
    min_span-char substrings (≥ 1 by construction).
    """
    if k > min_span:
        raise ValueError(f"k {k} must be <= min_span {min_span}")
    base = _span_base(df, text_col, id_col)
    cand_ids = _span_candidate_doc_ids(base, min_span, k)
    # Span identity travels as a 128-bit fingerprint (two independently
    # seeded xxhash64 halves), not the min_span-char string (r18, guide
    # §2.3 — this exchange was the query's cost: 543 MB of 50-char
    # strings at the 10× corpus, 117 of 166 executor-seconds in the
    # write+merge). 16 fixed-width bytes per span cut the exchange ~3×
    # and turn the aggregate's key compares into long compares. Two
    # spans are equated iff both halves agree: a false shared span
    # needs a full 128-bit collision between any two spans anywhere in
    # the corpus — ~(total spans)²/2¹²⁸, i.e. ~10⁻¹¹ even at 10¹⁴ spans
    # (100 TB); a single 64-bit half would go birthday-bound there.
    # Same convention as the hashed gram sets in
    # char_ngram_jaccard_pairs; per-pair distinct-span counts are
    # unchanged unless such a collision occurs.
    # Per-row ASCII fast path (r18): substring on a STRING walks bytes
    # from 0 to locate the char offset (O(position) per span — the
    # explode turns quadratic per document), while substring on BINARY
    # is a constant-time slice. When the row is pure ASCII
    # (octet_length == length) char positions ARE byte positions, so
    # the byte slice yields the identical byte sequence — and xxhash64
    # hashes a string's UTF-8 bytes, so the fingerprint is bit-equal to
    # the string form's. Multibyte rows keep the exact char-walk.
    span = F.when(
        F.col("__ascii"), F.substring(F.col("__tb"), F.col("__p"), min_span)
    ).otherwise(F.substring(F.col("__t"), F.col("__p"), min_span).cast("binary"))
    span_rows = (
        base.join(cand_ids, "__id", "left_semi")
        .select(
            "__id",
            "__t",
            "__len",
            F.col("__t").cast("binary").alias("__tb"),
            (F.octet_length("__t") == F.col("__len")).alias("__ascii"),
        )
        .withColumn(
            "__p",
            F.explode(
                F.when(
                    F.col("__len") >= min_span,
                    F.sequence(F.lit(1), F.col("__len") - min_span + 1),
                )
            ),
        )
        .select(
            "__id",
            F.xxhash64(span).alias("__s1"),
            F.xxhash64(F.lit(1), span).alias("__s2"),
        )
    )
    # ONE shuffle of the span fingerprints: groupBy(span) +
    # collect_set(id) replaces distinct + self-join (three full span
    # shuffles — measured 3× slower at the 10× corpus). collect_set
    # dedups in-doc repeats; only spans held by ≥2 docs (i.e. the
    # answer's spans — rare) reach the pair explode, whose fan-out is
    # bounded by dup-cluster size², not corpus size.
    shared = (
        span_rows.groupBy("__s1", "__s2")
        .agg(F.collect_set("__id").alias("__ids"))
        .filter(F.size("__ids") >= 2)
        .select(F.explode("__ids").alias("__id"), "__ids")
        .select("__id", F.explode("__ids").alias("__id2"))
        .filter(F.col("__id") < F.col("__id2"))
    )
    return shared.groupBy(
        F.col("__id").alias("id_a"), F.col("__id2").alias("id_b")
    ).agg(F.count(F.lit(1)).cast("int").alias("n_shared_spans"))


def maximal_span_pairs(
    df: DataFrame,
    min_span: int = 50,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MAXIMAL exact shared substrings between document pairs — the full
    ExactSubstr output of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022): where ``shared_span_pairs``
    reports that a pair shares ≥ min_span chars (the probe),
    this reports each maximal duplicated substring itself —
    (id_a, id_b, pos_a, pos_b, span_len), the positions a removal pass
    needs. Lee et al. compute these with a single-machine suffix array
    (their §4: sorted suffixes, adjacent longest-common-prefix runs);
    a suffix array doesn't distribute, but its output is exactly
    recoverable from k-gram matches: a maximal shared substring of
    length M ≥ k between docs a and b produces matches at positions
    pa = sa..sa+M−k on the SAME DIAGONAL d = pa − pb, and no match at
    sa−1 or sa+M−k+1 on that diagonal (the flanking chars differ, else
    not maximal). So maximal substrings = maximal runs of consecutive
    pa within (a, b, d) — the gaps-and-islands pattern — with
    span_len = run_length + k − 1. (These are the classic "maximal
    exact matches" of the string-matching literature.)

    Plan: (1) candidate docs via the strided-hash join
    (``_span_candidate_doc_ids`` — hashes only, corpus-linear, sound
    superset: every pair with a span ≥ min_span is a candidate pair,
    so both its docs survive); (2) candidate docs explode their k-gram
    128-bit fingerprints once (two seeded xxhash64 halves — see the
    inline collision budget; the 64-bit CANDIDATE hashes never
    constrain the answer, this stage does) and self-join on the
    fingerprint, yielding match positions; (3) per (pair, diagonal),
    the island id pa − row_number() groups consecutive positions; one
    aggregate emits each maximal span. Gram fingerprints shuffle only
    for candidate docs; the island window partitions by (pair,
    diagonal) — bounded by the longer doc, never corpus-sized. Output
    filtered to span_len ≥ min_span; pos_* are 1-based; in-doc repeats
    yield one row per occurrence pair (distinct diagonals), the MEM
    convention.
    """
    from pyspark.sql import Window

    if k > min_span:
        raise ValueError(f"k {k} must be <= min_span {min_span}")
    from big_data_chicago_crimes_spark.session import scratch_persist

    base = _span_base(df, text_col, id_col)
    cand_ids = _span_candidate_doc_ids(base, min_span, k)
    # BOTH sides of the gram self-join derive from this frame — without
    # a persist Spark plans the entire candidate pipeline (the strided
    # hash join) plus the gram explosion TWICE (verified on the
    # physical plan: two full SortMergeJoin-LeftSemi subtrees). The
    # pinned frame is (id, pos, k-char gram) for CANDIDATE docs only —
    # the same candidate-bounded footprint lsh_near_dup_pairs pins.
    # Measured at sf0.1 (interleaved min-of-4): 1.95 -> 1.82 s and a
    # tighter spread; the avoided work is the SECOND full candidate
    # hash join, so the win grows with the candidate stage's share of
    # the plan (at web scale it dominates).
    # Gram identity travels as a 128-bit fingerprint (two seeded
    # xxhash64 halves), not the k-char string (r18 — the persisted
    # frame was 235 MB of 28-char strings at the 10× corpus, re-read by
    # three stages, and the self-join compared/shuffled those strings).
    # Two grams are equated iff both halves agree: a false match needs
    # a full 128-bit collision between any two grams in the corpus —
    # ~(total grams)²/2¹²⁸, ~10⁻¹¹ even at 10¹⁴ grams — the same
    # convention as shared_span_pairs' span fingerprints.
    # Per-row ASCII fast path for the gram slices, same rationale and
    # bit-identical fingerprints as shared_span_pairs' span explode:
    # byte slice when char positions are byte positions, exact char
    # walk otherwise.
    gram = F.when(
        F.col("__ascii"), F.substring(F.col("__tb"), F.col("__p"), k)
    ).otherwise(F.substring(F.col("__t"), F.col("__p"), k).cast("binary"))
    gram_rows = scratch_persist(
        base.join(cand_ids, "__id", "left_semi")
        .select(
            "__id",
            "__t",
            "__len",
            F.col("__t").cast("binary").alias("__tb"),
            (F.octet_length("__t") == F.col("__len")).alias("__ascii"),
        )
        .withColumn(
            "__p",
            F.explode(
                F.when(
                    F.col("__len") >= k,
                    F.sequence(F.lit(1), F.col("__len") - k + 1),
                )
            ),
        )
        .select(
            "__id",
            "__p",
            F.xxhash64(gram).alias("__g1"),
            F.xxhash64(F.lit(1), gram).alias("__g2h"),
        )
    )
    other = (
        gram_rows.withColumnRenamed("__id", "__id2")
        .withColumnRenamed("__p", "__p2")
        .withColumnRenamed("__g1", "__g1b")
        .withColumnRenamed("__g2h", "__g2hb")
    )
    matches = gram_rows.join(
        other,
        (F.col("__g1") == F.col("__g1b"))
        & (F.col("__g2h") == F.col("__g2hb"))
        & (F.col("__id") < F.col("__id2")),
    ).select(
        F.col("__id").alias("__ida"),
        F.col("__id2").alias("__idb"),
        F.col("__p").alias("__pa"),
        F.col("__p2").alias("__pb"),
        (F.col("__p") - F.col("__p2")).alias("__diag"),
    )
    w = Window.partitionBy("__ida", "__idb", "__diag").orderBy("__pa")
    runs = matches.withColumn("__isl", F.col("__pa") - F.row_number().over(w))
    return (
        runs.groupBy("__ida", "__idb", "__diag", "__isl")
        .agg(
            F.min("__pa").alias("pos_a"),
            F.min("__pb").alias("pos_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("int").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            "pos_a",
            "pos_b",
            "span_len",
        )
    )


def _merged_removal_intervals(
    spans: DataFrame, id_col: str, pos_col: str, len_col: str
) -> DataFrame:
    """(doc, interval-start, interval-end) after merging overlaps — the
    running-max gaps-and-islands pass shared by ``span_removal_census``
    (which counts it) and ``apply_span_removal`` (which cuts it).
    Intervals are [start, end) in 1-based character positions."""
    from pyspark.sql import Window

    iv = spans.select(
        F.col(id_col).alias("__doc"),
        F.col(pos_col).alias("__s"),
        (F.col(pos_col) + F.col(len_col)).alias("__e"),
    )
    w = (
        Window.partitionBy("__doc")
        .orderBy("__s", "__e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = Window.partitionBy("__doc").orderBy("__s", "__e")
    marked = iv.withColumn("__prev_max", F.max("__e").over(w)).withColumn(
        "__new",
        F.when(
            F.col("__prev_max").isNull() | (F.col("__s") > F.col("__prev_max")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn("__grp", F.sum("__new").over(wrun))
    return islands.groupBy("__doc", "__grp").agg(
        F.min("__s").alias("__ms"), F.max("__e").alias("__me")
    )


def apply_span_removal(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_id_col: str = "id_b",
    pos_col: str = "pos_b",
    len_col: str = "span_len",
) -> DataFrame:
    """APPLY the exact-substring dedup: rebuild every document's text
    with its removal intervals cut out — the final step of Lee et al.
    2022's ExactSubstr pipeline (detect via ``maximal_span_pairs``,
    audit via ``span_removal_census``, and this cut; under the
    keep-first policy the pair's lower id keeps its copy, so ``spans``'
    ``id_b``-side positions name what to remove). Returns ``df`` with
    ``text_col`` rewritten (untouched docs pass through byte-identical)
    plus ``n_spans_removed`` (merged intervals cut; 0 for untouched).

    Plan shape: overlap-merge runs on SPAN rows (never corpus rows);
    the per-doc interval set collects into one sorted array (bounded by
    the doc's dup partners, dim-like in practice); the cut itself is a
    single codegen ``aggregate`` fold over that array — for each
    interval append the text BEFORE it and jump past it, then append
    the tail — so the corpus-sized pass is one projection, no shuffle
    beyond the intervals join. Positions are 1-based, intervals
    [start, end) half-open; out-of-range intervals clip naturally
    (``substr`` of an empty range is '')."""
    clash = sorted({"__ivs", "n_spans_removed"} & set(df.columns))
    if clash:
        raise ValueError(
            f"apply_span_removal: input already has column(s) {clash} — "
            "they are reserved for the interval array and the output census"
        )
    merged = _merged_removal_intervals(spans, span_id_col, pos_col, len_col)
    per_doc = merged.groupBy(F.col("__doc").alias(id_col)).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__ms").alias("s"), F.col("__me").alias("e")))
        ).alias("__ivs")
    )
    out = df.join(per_doc, id_col, "left")
    t = F.col(text_col)
    # fold state: (cursor = next uncut 1-based position, acc = kept text)
    cut = F.aggregate(
        F.col("__ivs"),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
        lambda st, iv: F.struct(
            iv.getField("e").alias("pos"),
            F.concat(
                st.getField("acc"),
                t.substr(st.getField("pos"), iv.getField("s") - st.getField("pos")),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st.getField("acc"),
            t.substr(st.getField("pos"), F.length(t) - st.getField("pos") + 1),
        ),
    )
    return out.select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col("__ivs").isNull(), t).otherwise(cut).alias(text_col),
        F.coalesce(F.size("__ivs"), F.lit(0)).cast("int").alias("n_spans_removed"),
    )


def span_removal_census(
    spans: DataFrame,
    id_col: str = "id_b",
    pos_col: str = "pos_b",
    len_col: str = "span_len",
) -> DataFrame:
    """Per-document removal mask over ``maximal_span_pairs`` output —
    the dedup step of Lee et al. 2022 (they cut each duplicated
    substring from all but one occurrence): with the deterministic
    keep-first policy (the pair's LOWER id keeps its copy; the id_b
    side is cut), a document's removal set is the UNION of its
    [pos_b, pos_b + span_len) intervals across all pairs where it is
    id_b. Overlapping spans from different partners must not
    double-count, so the intervals merge via the running-max
    gaps-and-islands pattern: sort by start within doc, open a new
    island where start exceeds the max end seen so far. Returns
    (doc_id, n_intervals, chars_removed) — n_intervals = merged
    (disjoint) removal intervals, chars_removed = total chars cut.
    Windows partition per document and fan in by pair count — span
    rows, not corpus rows, shuffle. The merge pass is shared verbatim
    with ``apply_span_removal`` (``_merged_removal_intervals``), so the
    census always counts exactly what the cut removes."""
    merged = _merged_removal_intervals(spans, id_col, pos_col, len_col)
    return merged.groupBy(F.col("__doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_intervals"),
        F.sum(F.col("__me") - F.col("__ms")).cast("long").alias("chars_removed"),
    )


def line_level_dedup(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal — the C4 / RefinedWeb corpus-
    hygiene pass (Raffel et al. 2020 §2.2 drop any line occurring ≥3
    times; the reference has no corpus ops — engine extension): a line
    is BOILERPLATE when it appears in at least ``min_docs`` distinct
    documents; every document is rewritten with its boilerplate lines
    removed, remaining lines in original order.

    Plan (three shuffles, all corpus-bounded):
      1. explode ``split(text, delim)`` with position;
      2. distinct (line, doc) → count per line (two-stage hash agg with
         map-side partials — the census is bounded by DISTINCT line
         volume, not corpus size);
      3. join lines←census on the line key (the census is already
         partitioned by line from step 2, so the exchange is reused),
         then ONE groupBy(doc) rebuilds each document:
         ``array_join(transform(array_sort(collect_list(struct(pos,
         line)))), delim)`` — collect_list drops the NULLed boilerplate
         rows, array_sort restores document order deterministically.

    The line key is the exact string (C4 semantics — no false removals
    from hash collisions). At 100 TB, shrink the census/join key to
    ``xxhash64(line)`` — collision-tolerant pipelines do — or keep
    strings and let AQE size the exchange; both keep the same plan
    shape. Returns (id, n_lines, n_removed, cleaned_text) for every
    input document (docs whose every line is boilerplate come back with
    cleaned_text = ''; NULL-text docs come back as (id, 0, 0, NULL) —
    posexplode of a NULL split would otherwise silently DELETE them,
    and folding them to '' instead would contaminate the empty-line
    census entry other documents legitimately share).

    ``delim`` is a LITERAL separator (regex-escaped before the split —
    ``F.split`` treats its pattern as a Java regex, so a caller passing
    '.' or '|' would otherwise get per-char splits while the rebuild
    side and the DuckDB oracle treat it literally; ADVICE r9).
    """
    import re as _re

    null_docs = df.filter(F.col(text_col).isNull()).select(
        F.col(id_col),
        F.lit(0).cast("int").alias("n_lines"),
        F.lit(0).cast("int").alias("n_removed"),
        F.lit(None).cast("string").alias("cleaned_text"),
    )
    lines = spread_for_compute(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), _re.escape(delim))).alias(
                "__p", "__line"
            ),
        )
    )
    census = (
        lines.select("__line", "__id")
        .distinct()
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__ndocs"))
    )
    flagged = lines.join(census, "__line").withColumn(
        "__boiler", F.col("__ndocs") >= min_docs
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum(F.col("__boiler").cast("int")).cast("int").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__boiler"),
                                F.struct(F.col("__p"), F.col("__line")),
                            )
                        )
                    ),
                    lambda x: x.getField("__line"),
                ),
                delim,
            ).alias("cleaned_text"),
        )
        .withColumnRenamed("__id", id_col)
        .unionByName(null_docs)
    )


def intra_doc_dedup(
    df: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
) -> DataFrame:
    """INTRA-document line dedup — the Gopher repetition rule /
    C4-style within-page hygiene pass (Rae et al. 2021 §A1.1 filters
    docs by duplicate-line fraction; C4 policy: a page's repeated
    boilerplate lines are kept once): drop every repeated occurrence of
    a line WITHIN one document, keeping the first occurrence in
    original order, and rebuild the text. The missing granularity
    between corpus-level line dedup (:func:`line_level_dedup` — needs
    the cross-document line census) and span dedup: here each document
    is independent, so the whole operator is per-row column arithmetic.

    Plan: ZERO shuffles — ``split`` → ``array_distinct`` (documented
    order-preserving: first occurrence wins) → ``array_join``, all
    whole-stage-codegen scalar expressions. At 100 TB this runs at scan
    speed with perfect data parallelism: no exchange, no census, no
    join — the sharpest possible contrast to the corpus-level pass, and
    the reason intra-doc dedup belongs FIRST in a cleaning pipeline
    (it shrinks the text that every downstream shuffle pays for).

    Adds to each row: ``n_lines`` (original line count), ``n_removed``
    (repeated occurrences dropped), ``chars_removed`` (character-length
    delta of the rebuild — ``F.length`` counts characters, not bytes —
    delimiters included), ``cleaned_text``.
    Repeated EMPTY lines collapse to one like any other line (blank-run
    collapse falls out of the same rule). ``text_col`` must be NON-NULL
    (the census columns would go NULL, not raise); ``delim`` is a
    LITERAL separator, regex-escaped before the split (ADVICE r9 —
    same contract as :func:`line_level_dedup`)."""
    import re as _re

    # array_distinct appears three times below; whole-stage codegen's
    # subexpression elimination evaluates it once per row
    lines = F.split(F.col(text_col), _re.escape(delim))
    return (
        df.withColumn("__lines", lines)
        .withColumn("cleaned_text", F.array_join(F.array_distinct("__lines"), delim))
        .withColumn("n_lines", F.size("__lines").cast("int"))
        .withColumn(
            "n_removed",
            (F.size("__lines") - F.size(F.array_distinct("__lines"))).cast("int"),
        )
        .withColumn(
            "chars_removed",
            (F.length(F.col(text_col)) - F.length("cleaned_text")).cast("int"),
        )
        .drop("__lines")
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without rescanning
    the corpus text — the incremental-crawl shape of a production
    training-data pipeline (each crawl must drop both its internal
    duplicates and anything the corpus already holds):

    1. within-batch exact dedup: min-``id_col`` per normalized-text
       fingerprint (identical semantics to ``exact_dedup``);
    2. anti-join the surviving fingerprints against
       ``corpus_fingerprints`` (a frame with a ``fingerprint`` column —
       at scale a MATERIALIZED fingerprint index: one md5 string per
       unique corpus doc, built once via sinks.cached and appended per
       accepted batch, so each new crawl shuffles batch-sized
       fingerprints and an index-sized string column, never corpus
       text);
    3. semi-join the accepted ids back to the full batch rows.

    Deterministic: the survivor set is a pure function of batch content
    and the corpus fingerprint set.
    """
    keyed = new_df.select(
        doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col)
    )
    batch_min = keyed.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    fresh = batch_min.join(
        corpus_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )
    return new_df.join(fresh.select(id_col), id_col, "left_semi")


def _bloom_positions(key: Column, num_bits: Column, num_hashes: int) -> Column:
    """Array of ``num_hashes`` bit positions for one key. Each position
    is an independent md5-derived hash (the ``hash_bucket`` convention:
    first 8 hex chars → bigint → pmod) of ``key || '#j'``, so DuckDB
    replays every bit with ``('0x' || substring(md5(fingerprint || '#'
    || j), 1, 8))::BIGINT % num_bits`` — both operands non-negative, so
    ``%`` and ``pmod`` agree."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(key.cast("string"), F.lit(f"#{j}"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long"),
                num_bits,
            )
            for j in range(num_hashes)
        ]
    )


def _probe_positions(probe: DataFrame, index: DataFrame, key_col: str) -> DataFrame:
    """Per-key probe positions with the geometry read FROM the filter
    frame: ``(key_col, pos)`` rows, ``num_hashes`` of each key, using
    the index's carried ``num_bits``/``num_hashes`` constants. Probing
    with a hash count different from the build's would let a true
    member test an unset position and silently void the
    no-false-negative contract (ADVICE r10) — deriving both constants
    from the frame itself makes that mismatch unrepresentable. Plan
    shape: the 1-row geometry aggregate broadcasts onto the probe, a
    ``sequence``+``explode`` generates the hash indexes, and the salted
    md5 position (identical strings to ``_bloom_positions``'s literal
    ``'#j'`` salts) is plain whole-stage-codegen — no higher-order
    lambdas on the batch-sized hot path.

    EMPTY-filter guard (ADVICE r11): an empty ``index`` frame (cold
    start — no corpus yet, or a prebuilt filter over zero keys) makes
    both ``max`` aggregates NULL, ``sequence(0, NULL-1)`` NULL, and
    ``explode`` would emit ZERO probe rows — the downstream flags
    aggregate then returns an empty frame and an inner join on it
    silently drops the whole batch. Coalescing the geometry to the
    degenerate (num_bits=1, num_hashes=1) filter keeps one ``pos=0``
    row per key; with no set bits every key resolves to
    ``bloom_hit=false`` — exactly the 'a miss is definitely new'
    contract an empty filter must produce."""
    m = index.agg(
        F.coalesce(F.max("num_bits"), F.lit(1).cast("long")).alias("num_bits"),
        F.coalesce(F.max("num_hashes"), F.lit(1)).alias("num_hashes"),
    )
    return (
        probe.crossJoin(F.broadcast(m))
        .select(
            F.col(key_col),
            "num_bits",
            F.explode(
                F.sequence(F.lit(0), F.col("num_hashes").cast("int") - F.lit(1))
            ).alias("__j"),
        )
        .select(
            F.col(key_col),
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col(key_col).cast("string"),
                                F.lit("#"),
                                F.col("__j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("num_bits"),
            ).alias("pos"),
        )
    )


def bloom_index(
    keys: DataFrame,
    key_col: str = "fingerprint",
    bits_per_key: int = 4,
    num_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter membership index over a key set, as a DataFrame of
    set bit positions — the approximate-membership sketch a 100 TB
    crawl puts IN FRONT of the exact fingerprint-index anti-join
    (``incremental_exact_dedup``): a batch key whose bits are not all
    set is definitely new and skips the index join entirely; only bloom
    HITS (true members plus a bounded false-positive fraction) pay the
    exact check. No false negatives, by construction.

    Schema ``(pos bigint, num_bits bigint, num_hashes int)``: at most
    ``bits_per_key * |keys|`` distinct positions, with the modulus AND
    the hash count carried as constant columns so probing reuses the
    exact geometry — the flags functions read both from the frame, so a
    probe can never run with a different ``num_hashes`` than the build
    (a mismatch would produce silent false negatives; ADVICE r10).
    ``num_bits`` is computed as a 1-row aggregate cross-joined in — no
    driver-side action, and an SQL oracle replays it as a scalar
    subquery. The frame is bitmap-bounded (≤ num_bits rows of one
    long), so it broadcasts; at scale it is built once from the
    materialized fingerprint index (``sinks.cached``) and extended per
    accepted batch by a cheap positions-union — corpus text is never
    rescanned. Spark's ``df.stat.bloomFilter`` builds the same sketch
    driver-side; this construction stays engine-portable and keeps the
    bitmap a joinable relation instead of an opaque JVM object.

    Sizing: production filters spend ~10-16 bits/key for sub-1% false
    positives; the default 4 bits/key (k=3 → ~15% FP rate) is
    deliberately tight so the false-positive path is exercised at every
    fixture scale, and because the modulus tracks ``|keys|`` the rate
    is scale-invariant rather than saturating at 10× data."""
    m = keys.agg(
        (F.lit(bits_per_key) * F.count("*")).cast("long").alias("num_bits")
    )
    return (
        keys.crossJoin(F.broadcast(m))
        .select(
            F.explode(
                _bloom_positions(F.col(key_col), F.col("num_bits"), num_hashes)
            ).alias("pos"),
            "num_bits",
        )
        .distinct()
        .withColumn("num_hashes", F.lit(num_hashes))
    )


def bloom_membership_flags(
    probe: DataFrame,
    index: DataFrame,
    key_col: str = "fingerprint",
) -> DataFrame:
    """Flag each probe key with ``bloom_hit``: true iff ALL of its bit
    positions are set in ``index`` (a ``bloom_index`` frame). The probe
    geometry — ``num_bits`` AND ``num_hashes`` — is read from the
    frame's carried constants, never passed separately: a probe run
    with more hashes than the build would test unset positions and
    produce silent false negatives (ADVICE r10), so the mismatch is
    made unrepresentable. Plan shape: the bitmap-bounded index
    broadcasts to a left join on the exploded probe positions, then one
    ``bool_and`` per key — partial-aggregated map-side, so the only
    shuffle is probe-key-sized. Contract: a key present in the indexed
    set is ALWAYS a hit (no false negatives — verified by
    test_dedup.py); a miss is definitely new."""
    probed = _probe_positions(probe, index, key_col)
    bits = index.select(F.col("pos").alias("__bpos"))
    return (
        probed.join(F.broadcast(bits), probed["pos"] == F.col("__bpos"), "left")
        .groupBy(key_col)
        .agg(F.bool_and(F.col("__bpos").isNotNull()).alias("bloom_hit"))
    )


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures as (id, h0..h{n-1} bigint).

    Shape: explode k-word shingles → ``num_hashes`` codegen'd
    xxhash64(shingle + "#i") columns → one hash aggregate taking MIN of
    each. Hash family = xxhash64 with a literal per-index salt.
    A per-row higher-order formulation (transform-inside-transform)
    re-evaluates the shingle array once per hash index in interpreted
    mode — minutes instead of seconds; the explode+agg form stays in
    whole-stage codegen and shuffles only (id, 32 longs)."""
    k = shingle_k
    # Explode shingle START INDICES, then build each shingle with plain
    # concat_ws over try_element_at — every expression after the explode
    # is whole-stage-codegen'd. The earlier F.transform(idx, lambda ...)
    # formulation ran the shingle lambda in INTERPRETED mode per element
    # (higher-order functions don't codegen); try_element_at = null
    # (skipped by concat_ws) covers docs shorter than k tokens.
    base = spread_for_compute(df).select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__toks") - F.lit(k - 1), F.lit(1))
    )
    exploded = base.select(
        F.col(id_col), F.col("__toks"), F.explode(idx).alias("__i")
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ",
            *[
                F.try_element_at("__toks", F.col("__i") + F.lit(off))
                for off in range(k)
            ],
        ).alias("shingle"),
    )
    # The num_hashes MIN aggregates are built as SQL strings (one F.expr
    # each — one py4j round trip) rather than nested Column calls: the
    # Column-by-Column build costs ~0.4 s of py4j chatter per call for
    # 32 hashes, comparable to the sf0.1 execution itself.
    if hash_family not in ("md5", "xxhash64"):
        # a typo'd family would silently fall into the xxhash64 branch —
        # an md5-oracled fixture would then compare DuckDB md5 replays
        # against xxhash64 signatures and mismatch confusingly downstream
        raise ValueError(f"unknown hash_family {hash_family!r} (md5|xxhash64)")
    if hash_family == "md5":
        # md5 hex strings, min = lexicographic — a valid min-wise family
        # that DuckDB can reproduce exactly (oracle-checkable), ~3× the
        # cost of the xxhash64 default
        return exploded.groupBy(id_col).agg(
            *[
                F.expr(f"min(md5(concat(shingle, '#{i}'))) as h{i}")
                for i in range(num_hashes)
            ]
        )
    # xxhash64 family: hash the shingle STRING once to a long, then derive
    # the num_hashes family members by hashing (long, index) — each
    # family hash reads 12 bytes instead of re-hashing the ~25-byte
    # shingle text num_hashes times. Still a proper min-wise family
    # (xxhash64 seeded by index over an injective-enough base hash).
    pre = exploded.select(
        F.col(id_col), F.xxhash64("shingle").alias("sh")
    )
    return pre.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(sh, {i})) as h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) whose minhash
    signatures collide in ≥1 of ``bands`` bands (rows per band =
    num_hashes/bands). Shuffle key is (band, band-signature-hash):
    uniformly distributed, so no skew at scale; true duplicates collide
    with probability 1-(1-s^r)^b for Jaccard similarity s."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        # non-divisible configs would silently band only the first
        # bands*(num_hashes//bands) hashes (lower recall than asked
        # for); bands > num_hashes would emit an empty concat_ws and
        # die with a raw SQL parse error
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    rows_per_band = num_hashes // bands
    # NOTE: no persist here, deliberately — A/B at sf0.1 measured the
    # band self-join's signature aggregate already exchange-reused
    # (1.16 s vs 1.23 s persisted); contrast simhash_band_candidates /
    # lsh_near_dup_pairs where pinning the replayed parent won 19-32%.
    sig = minhash_signature_table(
        df, text_col, id_col, num_hashes, shingle_k, hash_family
    )
    band_sig_fn = "md5" if hash_family == "md5" else "xxhash64"
    # One F.expr for the whole band fan-out (vs ~bands×rows_per_band
    # py4j Column calls) — see minhash_signature_table's rationale.
    band_structs = ", ".join(
        "struct({b} as band, {fn}(concat_ws(',', {cols})) as band_sig)".format(
            b=b,
            fn=band_sig_fn,
            cols=", ".join(
                f"cast(h{b * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    with_bands = sig.select(
        F.col(id_col), F.expr(f"explode(array({band_structs})) as bs")
    ).select(id_col, "bs.band", "bs.band_sig")
    a = with_bands.alias("a")
    b = with_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprints: (id, simhash bigint).

    Shape: explode tokens → hash once per token into ONE long whose bit
    i is the token's i-th sketch bit → bit-PACKED partial aggregation:
    per-bit 0/1 counts ride 3-per-long in 20-bit lanes, so ``bits``
    logical counters need only ``bits/3`` SUM aggregates (+1 count) —
    3× less aggregation state and shuffle payload than one SUM per bit
    (the shuffled bytes per doc partial are what hurt at cluster
    scale). Each lane group's 3 adjacent bits are spread to their
    20-bit lane positions with a single 8-entry literal-array lookup
    (``element_at`` on ``(h >> g) & 7``) instead of 3 separate
    shift/mask/shift chains — measured 2.8× on the fingerprint stage at
    sf0.1, and it keeps per-row work at ~4 codegen ops per packed lane.
    Lane math is exact for docs up to 2²⁰−1 tokens; past that a runtime
    guard raises (lane carry starts at 2²⁰; the ANSI long-overflow
    error backstops the packed SUM itself at ~2²³ tokens — every
    failure mode is loud, none silent). Bit i of the result is set iff
    its count exceeds half the tokens — identical to the sign-sum
    formulation. One shuffle on id (hash agg with map-side partials); a
    per-row higher-order-function formulation avoids the shuffle but
    builds a 64-wide nested expression per token that Catalyst
    optimizes for MINUTES — the explode+agg form stays in whole-stage
    codegen and scales linearly.

    ``hash_family='md5'`` derives the bit stream from the md5 hex
    digest (bit i = bit i%4 of hex digit i//4) — reproducible in any
    engine with md5, which makes the fingerprint oracle-checkable;
    xxhash64 stays the fast default. The md5 digits are normalised into
    the same "bit i of one long" layout as xxhash64 by parsing each
    8-hex-char chunk NIBBLE-REVERSED (``conv(reverse(substring(...)))``
    puts hex digit j at shift 4j, so digit-value bit i%4 lands exactly
    at physical bit i) — one string reverse per chunk, then both
    families share the lookup-spread aggregation path."""
    if hash_family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_family {hash_family!r} (md5|xxhash64)")
    tok = spread_for_compute(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    if hash_family == "md5":
        if bits > 64:
            raise ValueError("md5 family supports at most 64 bits (16 hex digits)")
        # Normalise the digest to a long with LOGICAL bit i at PHYSICAL
        # bit i. conv parses big-endian, so reversing the chunk string
        # places hex digit jj (0-based in chunk) at shift 4·jj; chunk c
        # then slots in at shift 32·c. 8 hex chars < 2^32 fits a long
        # pre-shift; chunk 1 may set the sign bit, which is harmless —
        # every consumer masks after an arithmetic shift.
        n_hex = (bits + 3) // 4
        chunk_lens = [min(8, n_hex - c * 8) for c in range((n_hex + 7) // 8)]
        h = None
        for c, ln in enumerate(chunk_lens):
            chunk = F.conv(F.reverse(F.substring("hx", c * 8 + 1, ln)), 16, 10).cast(
                "long"
            )
            term = F.shiftleft(chunk, 32 * c) if c else chunk
            h = term if h is None else h.bitwiseOR(term)
        hashed = tok.select(id_col, F.md5("tok").alias("hx")).select(
            id_col, h.alias("h")
        )
    else:
        hashed = tok.select(id_col, F.xxhash64("tok").alias("h"))

    LANE_BITS, LANES = 20, 3  # 3 × 20-bit counters per packed long
    lane_mask = (1 << LANE_BITS) - 1
    # The wide expressions below are built as SQL STRINGS (one F.expr —
    # one py4j round trip — each), not Column-by-Column: constructing
    # the ~500-node tree through the Python Column API costs ~1.5 s of
    # py4j chatter PER CALL, dwarfing the actual sf0.1 execution. One
    # string parsed JVM-side is ~50 ms. Semantics are unchanged.
    spread_vals = ", ".join(
        f"{(x & 1) | ((x >> 1) & 1) << LANE_BITS | ((x >> 2) & 1) << (2 * LANE_BITS)}L"
        for x in range(8)
    )
    packed_aggs = []
    for g in range(0, bits, LANES):
        mask = (1 << min(LANES, bits - g)) - 1
        packed_aggs.append(
            F.expr(
                f"sum(element_at(array({spread_vals}), "
                f"cast(shiftright(h, {g}) & {mask} as int) + 1)) as p{g // LANES}"
            )
        )
    sums = hashed.groupBy(id_col).agg(F.expr("count(1) as __n"), *packed_aggs)
    # Recombination: bit i is set iff 2·count > n (≡ the Σ(±1) sign-sum
    # > 0). Branch-free sign-bit extraction — shiftrightunsigned of
    # (n − 2c) — then a BALANCED addition tree of the disjoint-bit
    # terms (a 64-deep left chain measurably slows Catalyst). The
    # bit-63 term lands as the negative bigint, matching two's
    # complement; adding positives to it moves toward 0, so ANSI mode
    # never sees an overflow.
    terms = [
        f"shiftleft(shiftrightunsigned(__n - 2 * (shiftright(p{i // LANES}, "
        f"{LANE_BITS * (i % LANES)}) & {lane_mask}), 63), {i})"
        for i in range(bits)
    ]
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    guard_msg = (
        "simhash_table: document exceeds 1048575 tokens — 20-bit "
        "counter lanes would overflow; widen LANE_BITS"
    )
    return sums.select(
        F.col(id_col),
        F.expr(
            f"case when __n > {lane_mask} then "
            f"cast(raise_error('{guard_msg}') as bigint) "
            f"else cast({terms[0]} as bigint) end as simhash"
        ),
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates: documents sharing ≥1 of the bits/band_bits
    SimHash bands (any pair within Hamming distance < bits/band_bits of
    the fingerprint must agree on at least one band — pigeonhole).
    ``hash_family='md5'`` makes the whole pipeline (fingerprint → bands →
    collision join) reproducible in any engine with md5 — the
    oracle-checkable twin of the fast xxhash64 default."""
    sh_table = simhash_table(df, text_col, id_col, bits=bits, hash_family=hash_family)
    return simhash_band_candidates(sh_table, id_col, band_bits=band_bits, bits=bits)


def simhash_band_candidates(
    sh_table: DataFrame,
    id_col: str = "doc_id",
    band_bits: int = 16,
    bits: int = 64,
) -> DataFrame:
    """Band-collision join over an existing ``(id, simhash)`` fingerprint
    table (the back half of ``simhash_candidates``, split out so seeded
    certification fixtures can inject fingerprints with known Hamming
    distance). Explode into bits/band_bits band values; any pair agreeing
    on ≥1 band is a candidate."""
    from big_data_chicago_crimes_spark.session import scratch_persist

    if band_bits < 1 or band_bits > bits or bits % band_bits:
        # non-divisible configs would silently ignore the top
        # bits % band_bits fingerprint bits, breaking the documented
        # Hamming-distance < bits/band_bits recall guarantee; band_bits
        # > bits would explode an empty array and die with an opaque
        # VOID-field AnalysisException
        raise ValueError(
            f"band_bits must divide bits (got band_bits={band_bits}, "
            f"bits={bits})"
        )
    # Same replayed-parent shape as the minhash band join: both sides of
    # the self-join replay the caller's fingerprint computation unless
    # the (id, simhash) table — two columns, corpus-sized — is pinned.
    sh_table = scratch_persist(sh_table)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_structs = ", ".join(
        f"struct({i} as band, shiftright(simhash, {i * band_bits}) & {mask} "
        "as band_val)"
        for i in range(n_bands)
    )
    banded = sh_table.select(
        F.col(id_col), F.expr(f"explode(array({band_structs})) as bs")
    ).select(id_col, "bs.band", "bs.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _pair_jaccard(
    col_a: Column, col_b: Column, n_a: Column | None = None, n_b: Column | None = None
) -> Column:
    """Jaccard of two DISTINCT-element arrays. When the per-row set sizes
    are precomputed (``n_a``/``n_b``), the union size is derived as
    |A|+|B|−|A∩B| — one hash-set build per pair instead of two
    (array_union allocates a second set per call; measured ~1.7× on the
    blocked pair joins)."""
    inter = F.size(F.array_intersect(col_a, col_b))
    if n_a is None or n_b is None:
        union = F.size(F.array_union(col_a, col_b))
    else:
        union = n_a + n_b - inter
    return F.round(
        F.when(union == 0, F.lit(0.0)).otherwise(
            inter.cast("double") / union.cast("double")
        ),
        6,
    )


def _length_prefilter(n_a: Column, n_b: Column, threshold: float) -> Column:
    """Necessary condition for J(A,B) ≥ t: since |A∩B| ≤ min and
    |A∪B| ≥ max, J ≤ min/max — so pairs whose set sizes differ by more
    than the threshold ratio can be skipped BEFORE the intersect (the
    PPJoin length filter). The 1e-6 slack covers the downstream ≥t test
    running on the 6dp-ROUNDED jaccard."""
    t = max(threshold - 1e-6, 0.0)
    return F.least(n_a, n_b).cast("double") >= F.lit(t) * F.greatest(n_a, n_b)


def _blocked_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    items: Column,
    text_col: str,
    id_col: str,
    threshold: float,
    max_block_rows: int | None,
    prefix_filter: bool | None = None,
    prefix_min_rows: int = 600,
) -> DataFrame:
    """Shared core for the blocked exact-Jaccard operators, with TWO
    block-size gradations: blocks up to ``prefix_min_rows`` get the
    exact all-pairs self-join (quadratic WITHIN the block — cheapest
    when blocks are small); blocks between ``prefix_min_rows`` and
    ``max_block_rows`` get the LOSSLESS SSJoin/PPJoin prefix-filtered
    form (same exact answer, near-linear gram-shuffle cost — see
    _prefix_filtered); blocks above ``max_block_rows`` are routed
    through MinHash-LSH candidate generation followed by exact-Jaccard
    verification of only the candidate pairs, so one hot block can't
    turn the plan quadratic. The LSH leg trades a documented sliver of
    recall (pairs whose signatures never band-collide) for bounded
    cost — the standard verify-after-LSH shape at 100 TB.
    ``max_block_rows=None`` disables the LSH guard.

    ``prefix_filter``: ``None`` (default) = the size-driven dispatch
    above; ``True``/``False`` force the prefix/all-pairs leg for every
    non-LSH block. The ``prefix_min_rows`` crossover (on the
    size-weighted mean block size, sum(n²)/sum(n)) is measured on the
    organic corpus per block-size band, each band interleaved plain-vs-
    prefix in one session (r11): blocks <=350 rows, all-pairs wins 4.75
    vs 10.3 s (the ranking shuffles are pure overhead); 350-490 rows,
    all-pairs still wins 6.67 vs 8.88 s; 860-1,120 rows, prefix wins
    NINE-fold (62.0 vs 7.0 s) as the quadratic term takes over — with
    the identical pair answer in every band. The crossover sits between
    490 and 860; 600 splits it with margin on both sides. Both legs are
    exact, so the dispatch never changes the answer, only the plan."""
    # Spread before the pair join: on a small single-row-group file the
    # self-join plans as BroadcastHashJoin with the (1-task) scan as the
    # streaming side — one core would compute EVERY pair. Spreading the
    # streaming side keeps the broadcast (no extra shuffle for the join)
    # while fanning the quadratic work across the cluster.
    # NOTE: deliberately NOT persisted — A/B at sf0.1 measured the
    # persisted form 52% SLOWER (1.64 → 2.50 s): pinning materializes
    # the wide items+text columns that per-arm column pruning otherwise
    # drops, and the broadcast self-join exchange is already reused.
    base = spread_for_compute(df).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        items.alias("items"),
        F.col(text_col).alias("__text"),
    ).withColumn("__n", F.size(F.col("items")))
    need_sizes = max_block_rows is not None or prefix_filter is None
    if need_sizes:
        # Counted from the RAW input, not from ``base``: base sits
        # behind spread_for_compute's repartition + the items
        # tokenization, so aggregating it shuffles wide arrays just to
        # count rows — the raw groupBy is a column-pruned scan with
        # map-side combine (same counts, same rows).
        sizes = df.groupBy(*[F.col(c) for c in block_cols]).agg(
            F.count(F.lit(1)).alias("__bn")
        )
        base = base.join(sizes, block_cols)
    if max_block_rows is not None:
        small = base.filter(F.col("__bn") <= max_block_rows)
        big = base.filter(F.col("__bn") > max_block_rows)
    else:
        small, big = base, None

    def _all_pairs(side: DataFrame) -> DataFrame:
        a, b = side.alias("a"), _pin_pair_join_build_side(side.alias("b"))
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        # length prefilter inside the join condition: ratio-incompatible
        # pairs never reach the per-pair set intersect
        cond = cond & _length_prefilter(F.col("a.__n"), F.col("b.__n"), threshold)
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _pair_jaccard(
                F.col("a.items"), F.col("b.items"), F.col("a.__n"), F.col("b.__n")
            ).alias("jaccard"),
        )

    def _verify(cands: DataFrame, side: DataFrame) -> DataFrame:
        """Exact-Jaccard verification of candidate (id_a, id_b) pairs."""
        lhs = side.select(
            F.col(id_col).alias("id_a"),
            *[F.col(c).alias(f"__a_{c}") for c in block_cols],
            F.col("items").alias("items_a"),
            F.col("__n").alias("__n_a"),
        )
        rhs = side.select(
            F.col(id_col).alias("id_b"),
            *[F.col(c).alias(f"__b_{c}") for c in block_cols],
            F.col("items").alias("items_b"),
            F.col("__n").alias("__n_b"),
        )
        verified = cands.join(lhs, "id_a").join(rhs, "id_b")
        for c in block_cols:
            verified = verified.filter(F.col(f"__a_{c}") == F.col(f"__b_{c}"))
        verified = verified.filter(
            _length_prefilter(F.col("__n_a"), F.col("__n_b"), threshold)
        )
        return verified.select(
            "id_a",
            "id_b",
            _pair_jaccard(
                F.col("items_a"), F.col("items_b"), F.col("__n_a"), F.col("__n_b")
            ).alias("jaccard"),
        )

    def _prefix_filtered(side: DataFrame) -> DataFrame:
        """Exact prefix-filtered pair generation (SSJoin/PPJoin,
        Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): sort each set by
        ascending within-block element frequency (rarest first; a total
        order, ties broken by element value), keep only the first
        n − ⌈t·n⌉ + 1 elements, and join on shared prefix elements.
        J(A,B) ≥ t forces |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and the smallest
        shared element under the order must land in both prefixes — so
        the filter is LOSSLESS, while random pairs (sharing only common
        grams, which sort to the suffix) never become candidates. Turns
        the quadratic all-pairs intersect into: 2 gram-level shuffles to
        rank, a candidate join that touches only rare grams, and exact
        verification of the few survivors."""
        t = max(threshold - 1e-6, 0.0)  # slack for the 6dp-rounded >= t test
        ex = side.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col),
            F.explode("items").alias("g"),
        )
        freq = ex.groupBy(*block_cols, "g").agg(F.count(F.lit(1)).alias("__f"))
        ordered = (
            ex.join(freq, [*block_cols, "g"])
            .groupBy(*block_cols, id_col)
            .agg(F.array_sort(F.collect_list(F.struct("__f", "g"))).alias("__og"))
        )
        plen = (
            F.size("__og") - F.ceil(F.lit(t) * F.size("__og")) + 1
        ).cast("int")
        pref = ordered.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col),
            F.size("__og").alias("__pn"),
            F.posexplode(F.slice("__og", F.lit(1), plen)).alias("__i", "pg"),
        ).select(*block_cols, id_col, "__pn", "__i", F.col("pg.g").alias("g"))
        a, b = pref.alias("a"), pref.alias("b")
        cond = (F.col("a.g") == F.col("b.g")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        # PPJoin refinements (Xiao et al. WWW'08), both LOSSLESS, both
        # inside the join condition so pruned match rows never reach
        # the distinct or the verify attach joins (r18; measured at the
        # 10× corpus: match rows 13.7M → 7.3M, candidate pairs 1.59M →
        # 1.37M before the verify):
        # - length filter: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|);
        # - positional filter: J ≥ t forces overlap ≥ ⌈t/(1+t)·
        #   (|A|+|B|)⌉, and a match at (0-based) prefix positions
        #   (i, j) bounds the overlap by 1 + min(|A|−1−i, |B|−1−j)
        #   (shared elements under the total order sit at ≥ those
        #   positions). The pair's FIRST shared element always passes
        #   (its bound ≥ the true overlap), so no qualifying pair is
        #   lost.
        alpha = F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("a.__pn") + F.col("b.__pn"))
        )
        ubound = 1 + F.least(
            F.col("a.__pn") - 1 - F.col("a.__i"),
            F.col("b.__pn") - 1 - F.col("b.__i"),
        )
        cond = (
            cond
            & _length_prefilter(F.col("a.__pn"), F.col("b.__pn"), threshold)
            & (ubound >= alpha)
        )
        cands = (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        return _verify(cands, side)

    # Dispatch: at SMALL blocks the prefix form's ranking shuffles are
    # pure overhead (r8 measured 4.5 -> 24.6 s on the dup-heavy sf0.1
    # corpus; r11 band-measured 4.75 vs 10.3 s at <=350-row blocks),
    # while at LARGE blocks the quadratic all-pairs term dominates and
    # prefix wins even dup-heavy (r11: 62.0 vs 7.0 s at 860-1,120-row
    # blocks, identical answer). ``prefix_filter=None`` picks per block
    # by the measured crossover. Threshold 0 always takes all-pairs —
    # there is no prefix to filter on, and empty sets only pair
    # meaningfully at t=0.
    if threshold <= 0:
        out = _all_pairs(small)
    elif prefix_filter is None:
        # ONE GLOBAL route per call, decided DRIVER-SIDE from ONE
        # aggregate row (VERDICT r11 #3: block keys at 100 TB can be
        # LSH bands or domains — cardinality grows with the corpus, so
        # collecting the per-block size frame is the one collect in the
        # engine that is NOT dim-bounded; the statistic it feeds is a
        # single scalar, so collect the scalar). The statistic is the
        # size-weighted mean block size sum(n_i^2)/sum(n_i) over
        # non-LSH blocks — the average number of in-block partners a
        # row faces, i.e. the quadratic volume per row. Two finer
        # designs were built and measured WORSE (r11, interleaved):
        # (a) lazily unioning both legs makes the empty leg scan +
        # tokenize the corpus just to find it has no rows (12.11 vs
        # 7.01 s); (b) routing PER BLOCK splits the prefix leg's
        # ranking shuffles, whose cost amortizes across blocks —
        # per-block dispatch 9.38 s vs 5.09 s all-prefix on the
        # organic sf1 mix, while the global rule picks the
        # measured-best plan at both tiers (sf0.1 mean ~70 ->
        # all-pairs 1.27 s; sf1 mean ~640 -> prefix 5.09 s).
        in_cap = (
            sizes
            if max_block_rows is None
            else sizes.filter(F.col("__bn") <= max_block_rows)
        )
        stat = in_cap.agg(
            F.sum(F.col("__bn") * F.col("__bn")).alias("__sq"),
            F.sum("__bn").alias("__tot"),
        ).collect()[0]
        tot = stat["__tot"] or 0
        mean_partners = (stat["__sq"] / tot) if tot else 0.0
        out = (
            _prefix_filtered(small)
            if mean_partners > prefix_min_rows
            else _all_pairs(small)
        )
    elif prefix_filter:
        out = _prefix_filtered(small)
    else:
        out = _all_pairs(small)
    if big is not None:
        cands = minhash_lsh_candidates(
            big.select(F.col(id_col), F.col("__text").alias("text")),
            text_col="text",
            id_col=id_col,
        )
        out = out.unionByName(_verify(cands, big))
    return out.filter(F.col("jaccard") >= threshold)


def token_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_block_rows: int | None = 20_000,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing a blocking key.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    Per-block plan dispatch (all exact — the answer never depends on
    the route): small blocks take the all-pairs self-join, blocks past
    the measured crossover take the lossless SSJoin prefix-filtered
    form, and blocks larger than ``max_block_rows`` fall back to
    LSH-candidates + exact verification so a hot block never goes
    quadratic. ``prefix_filter`` forces the prefix (True) or all-pairs
    (False) leg for every non-LSH block; None = dispatch by block size
    (see _blocked_jaccard_pairs).

    Token sets are hashed to int64 before the pair work (r18) — the
    same convention char_ngram_jaccard_pairs ships: set intersections
    on longs beat string sets (~1.6× measured there), the verify
    attach joins shuffle fixed-width longs instead of token strings,
    and the Jaccard value is unchanged unless two distinct tokens
    inside one compared pair collide under xxhash64 — ~k²/2⁶⁴ per pair
    (k ≈ 10² distinct tokens), ~10⁻¹⁶, independent of corpus size."""
    hashed_tokens = F.array_distinct(
        F.transform(tokens(text_col), lambda tk: F.xxhash64(tk))
    )
    return _blocked_jaccard_pairs(
        df,
        block_cols,
        hashed_tokens,
        text_col,
        id_col,
        threshold,
        max_block_rows,
        prefix_filter,
    )


def embedding_near_dups(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicates within a blocking column.
    At scale the block key is an LSH bucket (similarity.hyperplane_lsh);
    here the synthetic ``label`` column doubles as the block. Each row's
    norm is computed ONCE before the pair join (O(n·dim)), so every pair
    costs a single dot product instead of a dot plus two norms."""
    base = spread_for_compute(df).select(
        F.col(id_col),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    a, b = base.alias("a"), _pin_pair_join_build_side(base.alias("b"))
    sim = cosine_similarity(
        F.col("a.v"), F.col("b.v"), norm_a=F.col("a.nrm"), norm_b=F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def char_ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_block_rows: int | None = 20_000,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Character n-gram set Jaccard within a blocking key — the
    word-order-insensitive sibling of token_jaccard_pairs (robust to
    token-boundary edits; the classic shingle unit for text near-dup).
    Normalization matches doc_fingerprint: casefold + whitespace
    collapse, so the two operators agree on what "same text" means.
    Oversized blocks route through LSH candidates + exact verification
    (word-shingle MinHash as the candidate generator — recall caveat for
    pure character-level rearrangements is documented there).

    The gram sets are hashed to int64 before the pair join: set
    intersections on longs run ~1.6× faster than on 5-char strings, and
    the Jaccard value is unchanged unless two distinct grams inside one
    compared pair collide under xxhash64 — probability ~(k²)/2⁶⁴ per
    pair (k ≈ 10³ grams), i.e. ~10⁻¹³ even across millions of pairs."""
    from big_data_chicago_crimes_spark.functions.text import char_ngrams

    hashed_grams = F.array_distinct(
        F.transform(char_ngrams(text_col, n), lambda g: F.xxhash64(g))
    )
    return _blocked_jaccard_pairs(
        df,
        block_cols,
        hashed_grams,
        text_col,
        id_col,
        threshold,
        max_block_rows,
        prefix_filter,
    )


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Exact dedup with a QUALITY keep-policy: per normalized-text
    fingerprint, keep the row with the highest ``score_col`` (ties break
    to the minimum id, so the survivor set is deterministic — required
    under the value-hash gate and for stable training sets). The
    pipeline move behind it: when a document appears in several crawls /
    sources, keep the best-scored copy, not an arbitrary one.

    Same scale shape as ``exact_dedup`` (one hash aggregate on the
    fingerprint + a min-sized semi join): the keep policy rides the
    aggregate as ``max(struct(score, -id, id))`` — lexicographic struct
    ordering gives max-score-then-min-id in ONE agg, with none of the
    window/sort machinery a row_number formulation would shuffle.

    Score edge cases are pinned explicitly (tests/test_dedup.py): a
    NULL score is treated as lowest (coalesced to -Infinity, so a
    scored copy always beats an unscored one — relying on raw
    null-in-struct ordering would be engine-dependent); NaN follows
    Spark's sort semantics (greater than every double) — clean NaNs
    upstream if that is not the intended policy.

    ``id_col`` must be a signed numeric type: the min-id tie-break is
    encoded as max(-id), and negating a non-numeric column would cast
    to double and yield NULL (non-ANSI), silently flipping ties to
    max-id — so a non-numeric id raises here instead.
    """
    from pyspark.sql.types import NumericType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"exact_dedup_keep_best: id_col {id_col!r} must be numeric for "
            f"the min-id tie-break (got {id_type.simpleString()}); negating "
            "a non-numeric column would silently NULL out and flip ties to "
            "max-id"
        )
    fp = doc_fingerprint(text_col).alias("fingerprint")
    # carry_cols (r17, the exact_dedup convention): narrow survivor
    # columns ride the same max(struct) — (s, ni, id) already decide the
    # winner uniquely (id is unique), so appended fields are the
    # winner's values, never comparison keys — skipping the semi join
    # and one source scan. Must be orderable types.
    key = F.struct(
        F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf"))).alias("s"),
        (-F.col(id_col)).alias("ni"),
        F.col(id_col).alias("id"),
        *[F.col(c).alias(f"c_{c}") for c in (carry_cols or [])],
    )
    best = (
        df.select(fp, key.alias("k"))
        .groupBy("fingerprint")
        .agg(F.max("k").alias("k"))
    )
    if carry_cols is not None:
        return best.select(
            F.col("k.id").alias(id_col),
            *[F.col(f"k.c_{c}").alias(c) for c in carry_cols],
        )
    return df.join(best.select(F.col("k.id").alias(id_col)), id_col, "left_semi")
