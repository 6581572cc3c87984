"""Corpus-curation operators a training-data pipeline runs after dedup:
benchmark decontamination, duplicate-cluster resolution, and sparse
lexical similarity.

These extend the reference's cleaning surface (dropna/dedup,
/root/reference/src/modules/Dataset.py:214-238) with the corpus-level
steps the reference never needed at its scale but a 100 TB curation run
does: removing eval-set contamination before training, collapsing
near-duplicate PAIRS into clusters so exactly one canonical document
survives per group, and scoring document similarity through an inverted
index instead of dense all-pairs work.

Scale notes are per-operator; the common theme is that nothing here is
all-pairs over the corpus — contamination is a semi-join against a
dim-sized benchmark gram set, clustering touches only the (sparse)
near-dup edge list, and TF-IDF similarity joins on shared tokens with a
document-frequency cap bounding the fan-out of hot tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.text import tokens, word_shingles
from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document overlap between ``corpus`` and the word n-gram set of
    ``benchmark`` — the standard eval-set decontamination check (an
    n-gram of the benchmark appearing verbatim in a training document
    means the benchmark leaked into training data).

    Returns one row per corpus document: ``n_ngrams`` (distinct n-grams
    in the doc), ``n_contaminated`` (of those, how many appear anywhere
    in the benchmark), and ``contamination`` (their ratio, 6dp). Callers
    filter ``contamination > 0`` (strict) or a higher cut to quarantine.

    Scale shape: the benchmark side is dim-sized by nature (an eval set,
    not a corpus), so its distinct gram set is broadcast — the corpus
    side streams through a broadcast hash semi-probe with NO shuffle of
    corpus text. Gram counts per document aggregate map-side before the
    single shuffle on ``id_col``. n=8 keeps false positives negligible
    (an 8-word verbatim overlap is essentially never coincidence).
    """
    # NULL text folds to '' BEFORE shingling: word_shingles(NULL) yields
    # a single NULL gram, which never equi-joins — while the DuckDB
    # oracle's concat_ws folds NULL list elements to the '' gram, which
    # DOES match a blank benchmark row. Folding here keeps the two
    # engines bit-identical for any data, not just NULL-free fixtures.
    text = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col, F.lit("")
    )
    grams = F.explode(F.array_distinct(word_shingles(text, n))).alias("g")
    bench_grams = benchmark.select(grams).distinct()
    corpus_grams = spread_for_compute(corpus).select(F.col(id_col), grams)
    hit = F.when(F.col("__bg").isNotNull(), 1).otherwise(0)
    return (
        corpus_grams.join(
            F.broadcast(bench_grams.withColumn("__bg", F.lit(1))), "g", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(hit).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6),
        )
    )


def _lineage_cut(edges: DataFrame, reliable: bool):
    """Per-round lineage-cut strategy for the iterative components
    operators: eager ``localCheckpoint`` by default (cheap,
    executor-local), or eager reliable ``checkpoint()`` when
    ``reliable=True`` — which writes under the SESSION-scoped checkpoint
    root that session.py sets once at startup (operators never call
    ``setCheckpointDir``; it mutates global SparkContext state)."""
    if reliable:
        spark = edges.sparkSession
        if spark.sparkContext.getCheckpointDir() is None:
            raise RuntimeError(
                "reliable=True needs a session checkpoint root; build the "
                "session via session.get_spark (SPARK_GRAFT_CHECKPOINT_DIR) "
                "or call sparkContext.setCheckpointDir once at startup"
            )

        def cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    return cut


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    reliable: bool = False,
    edges_canonical: bool = False,
    round_sizes: list[int] | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge
    list: returns ``(id, component)`` where ``component`` is the MINIMUM
    node id reachable from ``id`` — the canonical-representative map
    that turns near-dup PAIRS (token_jaccard_pairs, minhash LSH +
    verify, embedding_near_dups) into keep-one-per-cluster dedup: keep
    rows where ``id = component``.

    Min-label propagation, seeded, FRONTIER-PRUNED: labels initialize
    directly to ``min(id, min(neighbors))`` (round 1 computed off the
    adjacency groupBy, without the join a separate identity-labeled
    first round would pay); each following round improves labels with
    the minimum over neighbors' labels; converged when a round changes
    nothing. Rounds needed = graph diameter, which for near-dup
    clusters is small (dup groups are near-cliques). Pass
    ``edges_canonical=True`` when the edge list is already unique
    unordered pairs with ``src < dst`` (every pair generator in
    operators/dedup.py) to skip the symmetrization ``distinct()`` — a
    pure extra shuffle in that case.

    Frontier pruning (VERDICT r10 #5): each round joins the adjacency
    against only the labels that CHANGED last round, not the full
    labeling. Sound because a node's best label can only improve via a
    neighbor whose label improved since the node last looked: when
    ``u``'s label drops in round t, every neighbor of ``u`` sees that
    label in round t+1's frontier join — so the invariant "after u
    leaves the frontier, all u's neighbors have label <= label(u)"
    holds inductively (the initial frontier is the seed rows with
    ``component < id``: a node whose seed label IS its own id offers
    neighbors nothing their own ``min(neighbors)`` seed didn't already
    include). Bit-identical output to the unpruned form
    (property-tested). The win is twofold: the per-round convergence
    count runs over the frontier instead of the full labeling, and as
    the frontier shrinks below the adaptive broadcast threshold AQE
    turns the edge-side join into a broadcast probe — late rounds stop
    shuffling the edge set entirely.

    ``round_sizes``: pass a list to receive the per-round changed-label
    counts (the frontier size series) — cost then decomposes visibly
    into rounds x per-round join volume, making the diameter-bound
    claim measurable per run (stamped in BENCH_SCALE).

    Lineage is truncated with an eager ``localCheckpoint`` per round so
    the plan stays O(1) deep instead of growing by two joins per
    iteration. Rounds are diameter-bound, which suits near-clique dedup
    graphs: a large-star/small-star form (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14; O(log²) rounds) lost
    the r10 sf1 A/B on the dedup graph, 47.7 vs 32.8 s. Raises after
    ``max_iter`` rounds rather than returning a silently-unconverged
    labeling.

    Checkpoint durability: by default lineage is cut with
    ``localCheckpoint`` — executor-local block storage, cheap, but LOST
    if an executor dies (the job then fails and must rerun; results are
    never silently wrong). On a real cluster pass ``reliable=True``:
    each round then uses reliable ``DataFrame.checkpoint()`` under the
    SESSION-scoped checkpoint root (set once at session creation from
    ``SPARK_GRAFT_CHECKPOINT_DIR`` — point it at HDFS/object storage;
    session.py), so a multi-hour run survives executor loss at the
    price of one distributed write per round. No operator mutates
    ``setCheckpointDir``; per-RDD checkpoint paths under the root are
    unique, so concurrent runs never interleave, and superseded rounds
    are GC'd via ``spark.cleaner.referenceTracking.cleanCheckpoints``
    (enabled by session.py).
    """
    cut = _lineage_cut(edges, reliable)

    sym = edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr")).union(
        edges.select(F.col(dst).alias("id"), F.col(src).alias("nbr"))
    )
    # ``edges_canonical``: the caller guarantees unique unordered pairs
    # with src < dst (what every pair generator in operators/dedup.py
    # emits) — then the two directions are disjoint and already unique,
    # and the distinct() below would be a pure extra shuffle of the
    # whole edge list. Arbitrary edge lists keep the dedup guard.
    if not edges_canonical:
        sym = sym.distinct()
    sym = cut(sym)
    # Seed component = min(id, min(nbr)) straight off the adjacency
    # groupBy: this IS round 1 of propagation, minus the join against
    # the identity labeling a separate first round would do — one fewer
    # join+checkpoint+count cycle for every graph.
    labels = (
        sym.groupBy("id")
        .agg(F.min("nbr").alias("__mn"))
        .select("id", F.least(F.col("id"), F.col("__mn")).alias("component"))
    )
    labels = cut(labels)
    # Initial frontier: seed rows whose label beats their own id — a
    # self-labeled node's id already sat in every neighbor's min(nbr)
    # seed, so propagating it is a no-op (see docstring invariant).
    frontier = labels.filter(F.col("component") < F.col("id"))
    for _ in range(max_iter):
        # Full count (not limit(1)): it IS the convergence test AND the
        # per-round stamp, and it runs over the (shrinking) frontier —
        # a filter of the already-materialized checkpoint, never a
        # recompute of the round's joins.
        n_changed = frontier.count()
        if round_sizes is not None:
            round_sizes.append(n_changed)
        if n_changed == 0:
            return labels
        nbr_min = (
            sym.alias("s")
            .join(frontier.alias("f"), F.col("s.nbr") == F.col("f.id"))
            .select(
                F.col("s.id").alias("id"),
                F.col("f.component").alias("nbr_component"),
            )
            .groupBy("id")
            .agg(F.min("nbr_component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
        )
        new_labels = cut(new_labels)
        frontier = new_labels.filter(F.col("__changed")).select("id", "component")
        labels = new_labels.drop("__changed")
    # max_iter work-rounds done; converged iff the final frontier is
    # empty. (The old form spent a full join round to detect
    # convergence; the frontier count detects it for free.)
    if frontier.count() == 0:
        if round_sizes is not None:
            round_sizes.append(0)
        return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds max_iter; raise max_iter"
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    max_df_fraction: float = 0.5,
) -> DataFrame:
    """Document pairs with TF-IDF cosine similarity ≥ ``threshold``,
    computed through an INVERTED INDEX (join on shared tokens) rather
    than dense per-pair vector intersects — the sparse-similarity shape
    that scales: a pair's dot product is assembled only from tokens the
    two documents share, and documents sharing no token never meet.

    tf = per-(doc, token) count; idf = ln((N+1)/(df_t+1)) + 1 (smoothed,
    corpus-wide); weights are L2-normalized per document so the pair
    aggregation is a plain dot product. Tokens present in more than
    ``max_df_fraction`` of documents are dropped BEFORE the pair join —
    stop-token pruning, the lever that bounds the inverted index's
    fan-out (a token in f docs contributes f² pair rows; a df cap is the
    simplest of the frequency-based prunings from Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07, and is what keeps
    hot tokens from going quadratic at 100 TB).
    Dropped tokens shrink the vectors semantically (as in any tf-idf
    retrieval system with a stop list); norms are computed AFTER the cap
    so cosine stays a true cosine over the kept vocabulary.

    ``block_cols`` scopes pairs the same way the Jaccard operators do
    (pairs only form within a block), so candidate generation shuffles
    on (block, token) — uniform dim-bounded keys.
    """
    # blank pseudo-tokens are not text: two whitespace-only documents
    # previously formed a cosine=1.0 "near-dup" pair through the ''
    # token (and '' entered df/idf/norms for every blank doc) — the
    # _nonblank_tokens convention drops them; blank/NULL docs then have
    # no index entries and form no pairs (mirrored in the SQL oracle)
    tok = F.explode(_nonblank_tokens(text_col)).alias("tok")
    base = spread_for_compute(df).select(
        F.col(id_col), *[F.col(c) for c in block_cols], tok
    )
    tf = base.groupBy(id_col, *block_cols, "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    docfreq = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df_t") <= F.col("__n") * F.lit(max_df_fraction))
        .withColumn(
            "idf", F.log((F.col("__n") + 1) / (F.col("df_t") + 1)) + F.lit(1.0)
        )
        .select("tok", "idf")
    )
    weighted = tf.join(docfreq, "tok").withColumn(
        "w", F.col("tf") * F.col("idf")
    )
    norms = weighted.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    vec = weighted.join(norms, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        "tok",
        (F.col("w") / F.col("nrm")).alias("wn"),
    )
    a, b = vec.alias("a"), vec.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.round(F.sum(F.col("a.wn") * F.col("b.wn")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _nonblank_tokens(text_col: str) -> Column:
    """The LM family's unified token stream: whitespace tokens with the
    blank pseudo-token removed (trim+split of blank text yields [''],
    which is not a token — token_count and the DuckDB oracles agree).
    Every LM fit and every LM scorer in this module tokenizes through
    THIS expression, so a shared fit_unigram_lm frame is always an
    exact drop-in for an operator's self-fit."""
    return F.filter(tokens(text_col), lambda x: x != "")


def _vocab_side(vocab: DataFrame) -> DataFrame:
    """A vocabulary-keyed count frame entering a scoring join — returned
    WITHOUT a broadcast hint (VERDICT r13 #4): vocabulary grows with the
    corpus (the engine's own CMS writeup argues web-scale token
    vocabularies reach billions), so an unconditional ``F.broadcast``
    here is correct at every measured tier and an OOM at the 100 TB
    north star. AQE decides instead, from the ACTUAL post-aggregate
    size: at bench tiers the frames are kilobytes and AQE converts the
    join to broadcast at runtime (plan-checked:
    tests/test_curation.py::test_lm_scoring_join_broadcasts_under_aqe),
    while a genuinely huge vocabulary falls back to a partitioned join
    instead of flooding the driver. The 1-row N+V ``totals`` frames keep
    their explicit hints — they are constant-sized by construction.
    A/B r14 (BENCH_ATTRIBUTION_r14.md, interleaved min runs):
    sf0.1 aqe/hinted unigram 0.93x, bigram 0.94x; sf1 unigram 1.03x,
    bigram 0.85x — the hint bought nothing AQE doesn't already do."""
    return vocab


def fit_unigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fit the corpus unigram LM once: ``(__tok, __c)`` token counts,
    the frame :func:`unigram_logprob` (as ``lm``) and
    :func:`dsir_logratio` (as ``source_lm``) accept instead of
    refitting. The production shape for a multi-filter curation run —
    LM-quality scoring, DSIR, and CCNet tercile selection all score
    under the SAME corpus LM, so the corpus-sized explode + count
    shuffle should run once and be persisted/materialized, not once
    per filter (measured r11: the three-leg docs_domain_quota refit it
    three times — zero ReusedExchange across legs, 44 scans of the
    documents parquet — because each operator's private fit canonical-
    izes differently; the shared frame collapses that). Tokenizes via
    ``_nonblank_tokens`` — blank text contributes ZERO tokens, the
    convention every scorer in this module shares, so this frame is an
    exact drop-in for any of their self-fits."""
    return (
        spread_for_compute(df)
        .select(F.explode(_nonblank_tokens(text_col)).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_cap: int | None = None,
    lm: DataFrame | None = None,
) -> DataFrame:
    """Per-document average unigram log10-probability under an add-one
    smoothed LM fit on the corpus itself — the perplexity-style filter
    CCNet (Wenzek et al. 2020) popularized for web-corpus curation:
    documents whose token mix is improbable under the corpus LM (OCR
    noise, boilerplate soup, wrong-language residue) land in the low
    tail and get dropped or down-weighted.

    Definition (shared with the DuckDB oracle): with corpus token count
    ``N``, distinct-token count ``V`` and per-token count ``c(t)``,
    ``p(t) = (c(t)+1)/(N+V)`` and the document score is
    ``avg over tokens of log10 p(t)``, ROUNDed to 6dp. The sum is
    computed as ``sum(log10(c+1)) − n·log10(N+V)`` so every term is a
    deterministic function of integers.

    Scale shape: one explode + one count shuffle fit the LM; scoring
    re-joins the pre-reduced distinct (doc, token) pairs — with their
    multiplicity — to counts, so repetitive text probes the join once
    per distinct pair, not once per token instance (A/B'd at the
    100k-vocab Zipf realism fixture, see inline note). The corpus side
    of that join never shuffles — the vocabulary is the broadcast side
    (Zipf-bounded, and
    ``vocab_cap`` keeps it bounded even on typo-heavy web text: only the
    top-``cap`` tokens by (count, token) keep their counts, the tail
    scores as OOV with the same smoothed floor ``1/(N+V)``; N and V stay
    exact either way, so capped and uncapped agree whenever
    ``cap ≥ V`` — property-tested). The N+V totals ride in as a 1-row
    broadcast cross join, not a driver collect.
    """
    # Form A/B history: persisting the exploded token frame LOSES
    # (r10: 1.84 vs 1.66 s — wide rows, cheap recompute). The scoring
    # join runs on the PRE-REDUCED per-(doc, token) frame with a
    # multiplicity column: at the r10 40-token fixture vocabulary that
    # form lost (1.08 vs 0.93 s — nothing to reduce by construction),
    # but re-taken at the 100k-vocab Zipf realism fixture (VERDICT r10
    # #4, BENCH_SCALE_r11.md) with web-like repetition
    # (1.28 tokens per distinct (doc, token) pair) it WINS at both
    # sf0.1-scale and 10x (0.939 vs 0.994 s at 10x), and its advantage
    # grows with document length and repetitiveness — the 100 TB
    # direction. Scores are bit-identical at the 6dp contract (sum of
    # k*log10(c+1) over distinct pairs = sum of log10(c+1) over
    # instances; property-checked in the A/B at both scales, 0
    # mismatches). NOTE the same A/B kept dsir_logratio per-token: its
    # joins are already broadcast-side, so pre-reducing only adds a
    # corpus-sized (doc, token) shuffle (2.42 vs 3.12 s at 10x).
    # _nonblank_tokens: blank/NULL text explodes to zero rows, so such
    # documents carry no token evidence and DROP OUT of the result —
    # callers union them back with a sentinel if the pipeline must keep
    # them (the bigram_logprob short-doc contract).
    toks = spread_for_compute(df).select(
        id_col, F.explode(_nonblank_tokens(text_col)).alias("__tok")
    )
    # ``lm``: a prebuilt fit_unigram_lm frame — pass it when several
    # filters score under the same corpus LM so the fit runs once.
    vocab = (
        lm.select("__tok", "__c")
        if lm is not None
        else toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = vocab.agg(
        F.sum("__c").alias("__n_total"), F.count(F.lit(1)).alias("__v_size")
    )
    if vocab_cap is not None:
        # Deterministic cap: top tokens by (count desc, token asc).
        # orderBy+limit plans as TakeOrderedAndProject — per-partition
        # partial top-K then a single merge, never a global sort.
        vocab = vocab.orderBy(F.col("__c").desc(), F.col("__tok").asc()).limit(
            vocab_cap
        )
    doc_tok = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__k"))
    scored = (
        doc_tok.join(_vocab_side(vocab), "__tok", "left")
        .groupBy(id_col)
        .agg(
            # OOV (capped-out) tokens contribute log10(0+1) = 0.
            F.sum(
                F.col("__k") * F.log10(F.coalesce(F.col("__c"), F.lit(0)) + 1)
            ).alias("__s"),
            F.sum("__k").alias("__n"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.round(
            (
                F.col("__s")
                - F.col("__n") * F.log10(F.col("__n_total") + F.col("__v_size"))
            )
            / F.col("__n"),
            6,
        ).alias("avg_logprob"),
    )


def bigram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-instance adjacent token pairs ``(id_col, *carry_cols, __w1,
    __w2)`` — order-preserving, extracted entirely inside the row (two
    array slices zipped, then one explode): zero windows, zero shuffles,
    whole-stage-codegen scalar expressions. Documents with fewer than
    two tokens yield no pairs (empty zip → explode drops the row).
    Blank-token guard mirrors the family convention (trim+split yields
    [''] on blank text; the filter removes it on both engines)."""
    toks = _nonblank_tokens(text_col)
    n_pairs = F.greatest(F.size("__t") - 1, F.lit(0))
    return (
        spread_for_compute(df)
        .select(id_col, *carry_cols, toks.alias("__t"))
        .select(
            id_col,
            *carry_cols,
            F.slice(F.col("__t"), F.lit(1), n_pairs).alias("__a"),
            F.slice(F.col("__t"), F.lit(2), n_pairs).alias("__b"),
        )
        .select(id_col, *carry_cols, F.explode(F.arrays_zip("__a", "__b")).alias("__p"))
        .select(
            id_col,
            *carry_cols,
            F.col("__p.__a").alias("__w1"),
            F.col("__p.__b").alias("__w2"),
        )
    )


def fit_bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fit the corpus bigram table once: ``(__w1, __w2, __c2)`` counts
    over adjacent-pair instances. One shuffle, keyed by the bigram; the
    context marginal ``c1(w1) = Σ_w2 c2(w1, w2)`` is derived from this
    frame downstream (a second, vocabulary-bounded aggregate), so the
    corpus-sized pair stream is counted exactly once."""
    return (
        bigram_pairs(df, text_col, id_col)
        .groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c2"))
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    lam: float = 0.75,
    lm2: DataFrame | None = None,
    lm1: DataFrame | None = None,
) -> DataFrame:
    """Per-document average interpolated-bigram log10-probability —
    the n-gram upgrade of :func:`unigram_logprob`'s CCNet-style
    perplexity filter (Wenzek et al. 2020 score with a 5-gram KenLM;
    the bigram-with-unigram-backoff form here is the largest n whose
    oracle stays exactly SQL-replayable):

    ``p(w2|w1) = λ·c2(w1,w2)/c1(w1) + (1−λ)·(cu(w2)+1)/(N+V)``

    with corpus bigram counts ``c2``, context marginals ``c1``, add-one
    smoothed unigram backoff (``cu``/``N``/``V`` as in
    :func:`unigram_logprob`), and the document score
    ``ROUND(avg over pair instances of log10 p, 6)``. Documents with
    fewer than two tokens have no pair instances and drop out (they
    carry no bigram evidence either way — callers union them back with
    a sentinel if the pipeline must keep them). λ defaults to 0.75 so
    both λ and 1−λ are exact binary doubles — the oracle's decimal
    literals and Python's float arithmetic then agree bit-for-bit.

    Scale shape: the pair stream is extracted in-row (zero shuffles),
    counted once into the bigram table, and scoring re-joins the
    pre-reduced distinct ``(doc, w1, w2)`` pairs with multiplicity —
    the same pre-reduced form the unigram scorer A/B'd in at the Zipf
    realism fixture. The context marginal and unigram backoff sides are
    vocabulary-bounded and broadcast; the bigram-table join is left to
    AQE (bigram vocabulary grows ~N^0.8 on open web text — forcing a
    broadcast there would be the 100 TB mistake). Unseen contexts or
    bigrams (scoring a frame the LM was not fit on) back off to the
    smoothed unigram floor via 0-coalesced left joins."""
    if not 0.0 <= lam < 1.0:
        # lam = 1 zeroes the backoff, so ANY unseen bigram evaluates
        # log10(0) (an ANSI runtime error deep in the aggregation, or a
        # silently NULL-poisoned average with ANSI off); lam outside
        # [0, 1] puts a negative inside the log
        raise ValueError(f"lam must be in [0, 1), got {lam}")
    if (lm2 is None) != (lm1 is None):
        # A half-provided model silently mixes two corpora in one
        # probability (bigram table from the training corpus, unigram
        # backoff refit on the scoring frame, or vice versa) — neither
        # corpus's perplexity. Loud beats wrong (the score_ntile NULL-
        # guard convention).
        raise ValueError(
            "bigram_logprob: pass BOTH lm2 (fit_bigram_lm) and lm1 "
            "(fit_unigram_lm) from the same training corpus, or neither "
            "(self-fit)"
        )
    one_minus = 1.0 - lam
    doc_bi = (
        bigram_pairs(df, text_col, id_col, carry_cols)
        .groupBy(id_col, *carry_cols, "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__k"))
    )
    # Form A/B (BENCH_ATTRIBUTION_r13.md, sf0.1 interleaved
    # min-of-4): (a) deriving c2 by re-aggregating doc_bi "to save a
    # scan" LOSES (2.43 vs 1.97 s) — doc_bi's shuffle is keyed
    # (doc, w1, w2) and moves the per-doc pair frame, which is far
    # wider than the bigram-vocabulary partials the independent fit
    # shuffles, and the shared subplan is paid per consumer; (b)
    # scratch-persisting the scored frame for the two query legs also
    # LOSES (2.15 vs 1.97 s) — the fill costs more than the recompute
    # (the standing narrow-frame persist result). Independent fit, no
    # persist.
    c2 = lm2 if lm2 is not None else fit_bigram_lm(df, text_col, id_col)
    c1 = c2.groupBy("__w1").agg(F.sum("__c2").alias("__c1"))
    # the self-fit backoff IS fit_unigram_lm — one tokenization
    # convention (_nonblank_tokens), so a shared lm1 frame can never
    # diverge from the self-fit on the same corpus
    uni = (
        lm1.select("__tok", "__c")
        if lm1 is not None
        else fit_unigram_lm(df, text_col)
    )
    totals = uni.agg(
        F.sum("__c").alias("__n_total"), F.count(F.lit(1)).alias("__v_size")
    )
    backoff = F.lit(one_minus) * (F.coalesce(F.col("__c"), F.lit(0)) + 1) / (
        F.col("__n_total") + F.col("__v_size")
    )
    seen = (
        F.lit(lam)
        * F.coalesce(F.col("__c2"), F.lit(0))
        / F.coalesce(F.col("__c1"), F.lit(1))
    )
    term = F.log10(seen + backoff)
    return (
        doc_bi.join(c2, ["__w1", "__w2"], "left")
        .join(_vocab_side(c1), "__w1", "left")
        .join(_vocab_side(uni.withColumnRenamed("__tok", "__w2")), "__w2", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, *carry_cols)
        .agg(
            F.round(
                F.sum(F.col("__k") * term) / F.sum("__k"), 6
            ).alias("bigram_lp")
        )
    )


def dsir_logratio(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_lm: DataFrame | None = None,
) -> DataFrame:
    """Per-document importance score for Data Selection via Importance
    Resampling (DSIR, Xie et al. 2023): the length-normalized log-ratio
    ``avg over tokens of (log10 p_target(t) − log10 p_source(t))``
    between a unigram LM fit on ``target`` (the in-domain sample) and
    one fit on ``df`` (the raw corpus). Documents whose token mix looks
    more in-domain than generic score high; selecting the top slice
    importance-resamples the corpus toward the target distribution.

    Both LMs share the SOURCE corpus vocabulary V and add-one smoothing
    (``p(t) = (c(t)+1)/(N+V)``), so target-OOV tokens get the smoothed
    floor and every term is a deterministic function of integer counts
    — same oracle contract as :func:`unigram_logprob`. The constant
    ``log10((N_src+V)/(N_tgt+V))`` is NOT dropped, so scores are true
    log ratios (comparable across corpora), but note it shifts rank
    ties nowhere: ranking is invariant to it.

    Scale shape: one explode each over corpus and target (the target is
    dim-sized by definition); token counts via one shuffle each; both
    count frames broadcast into the scoring join, so the corpus never
    shuffles. Per-doc aggregation is the only corpus-sized shuffle.
    The per-token join form is deliberate AND measured: at the
    100k-vocab Zipf realism fixture (BENCH_SCALE_r11.md,
    VERDICT r10 #4) pre-reducing to distinct (doc, token) pairs LOSES
    here (3.12 vs 2.42 s at 10x) — unlike unigram_logprob, both joins
    are already broadcast-side, so the pre-reduce only adds a
    corpus-sized (doc, token) shuffle before the same per-doc one.
    """
    # _nonblank_tokens + drop-out contract: see unigram_logprob.
    toks = spread_for_compute(df).select(
        id_col, F.explode(_nonblank_tokens(text_col)).alias("__tok")
    )
    # ``source_lm``: a prebuilt fit_unigram_lm frame over ``df`` —
    # shares the corpus fit with unigram_logprob-based filters.
    vocab_src = (
        source_lm.select("__tok", F.col("__c").alias("__cs"))
        if source_lm is not None
        else toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cs"))
    )
    vocab_tgt = (
        target.select(F.explode(_nonblank_tokens(text_col)).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    totals = vocab_src.agg(
        F.sum("__cs").alias("__ns"), F.count(F.lit(1)).alias("__v")
    ).crossJoin(
        vocab_tgt.agg(F.sum("__ct").alias("__nt"))
    )
    scored = (
        # LEFT join + 0-coalesce on the SOURCE side too: a provided
        # source_lm fit elsewhere (or capped) would otherwise silently
        # DELETE its OOV tokens from both the numerator and __n — an
        # off-domain doc would rank like an in-domain one. OOV gets the
        # same add-one smoothed floor the target side already uses
        # (self-fit unaffected: every token is in its own vocabulary).
        toks.join(_vocab_side(vocab_src), "__tok", "left")
        .join(_vocab_side(vocab_tgt), "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.log10(F.coalesce(F.col("__ct"), F.lit(0)) + 1)
                - F.log10(F.coalesce(F.col("__cs"), F.lit(0)) + 1)
            ).alias("__d"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.round(
            (
                F.col("__d")
                - F.col("__n")
                * (
                    F.log10(F.col("__nt") + F.col("__v"))
                    - F.log10(F.col("__ns") + F.col("__v"))
                )
            )
            / F.col("__n"),
            6,
        ).alias("dsir_score"),
    )


def _bpe_merge_fold(seq: Column, a: str, b: str) -> Column:
    """One BPE merge applied to a space-delimited symbol string — the
    canonical greedy left-to-right fold (state = the rebuilt string;
    merge when the accumulator ends with `` a `` and the next symbol
    equals ``b``). Shared by training (one rule per step) and encoding
    (the learned rules chained in order); its DuckDB twin is the
    ``list_reduce`` lambda in ``queries.curation_queries.bpe_oracle_sql``.

    Fast path (r17): the fold is the IDENTITY on any word whose symbol
    string does not contain `` a b `` — the contains() test is exactly
    "at least one merge site exists" (symbol strings are single-space
    delimited with sentinel spaces at both ends, an invariant the fold
    itself preserves), and the fold of a site-free string rebuilds it
    byte-identically (acc starts at ' ', appends 'sym ' per symbol). So
    the O(len²) per-word string rebuild is gated behind one substring
    scan; on real corpora most words don't contain a given pair, and
    each training step touches a shrinking fraction of the vocabulary.
    Value-identical by construction (property-tested against the
    unguarded fold)."""
    la = F.lit(a)
    folded = F.aggregate(
        F.split(F.trim(seq), " "),
        F.lit(" "),
        lambda acc, x: F.when(
            acc.endswith(F.concat(F.lit(" "), la, F.lit(" ")))
            & (x == F.lit(b)),
            F.concat(
                acc.substr(F.lit(1), F.length(acc) - (F.length(la) + F.lit(1))),
                la,
                F.lit(b),
                F.lit(" "),
            ),
        ).otherwise(F.concat(acc, x, F.lit(" "))),
    )
    return F.when(seq.contains(f" {a} {b} "), folded).otherwise(seq)


def _bpe_initial_seq(word: Column, eow: str, alphabet: str = "char") -> Column:
    """A word's initial symbol string: ' s1 s2 … <eow> ' (space-
    delimited with sentinel spaces at both ends). ``alphabet='char'``
    = one symbol per character; ``alphabet='byte'`` = one symbol per
    UTF-8 byte as a lowercase hex pair (the GPT-2 byte-level
    convention, made cross-engine exact by routing through
    ``lower(hex(encode(word)))`` — both engines produce the identical
    hex string for any code point, supplementary planes included)."""
    if alphabet == "byte":
        spaced = F.trim(
            F.regexp_replace(
                F.lower(F.hex(F.encode(word, "UTF-8"))), "(..)", "$1 "
            )
        )
        return F.concat(F.lit(" "), spaced, F.lit(" " + eow + " "))
    if alphabet != "char":
        raise ValueError(f"alphabet must be 'char' or 'byte', got {alphabet!r}")
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" " + eow + " "))


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_freq: int = 1,
    eow: str = "</w>",
    alphabet: str = "char",
) -> DataFrame:
    """Train BPE merge rules over a corpus — the byte-pair-encoding
    tokenizer-training loop of Sennrich, Haddow & Birch 2016 ("Neural
    Machine Translation of Rare Words with Subword Units"), the step a
    training-data pipeline runs between corpus curation and token
    counting (``vocab_top_k`` builds the word vocabulary; this learns
    the SUBWORD inventory). Returns the merge table
    (step, lhs, rhs, merged, freq), steps 1-based in learning order.

    Scale shape — the textbook trick makes this corpus-size-free after
    ONE pass: the corpus aggregates to the (word, count) vocabulary
    once, and every iteration runs on that vocab-sized frame (pair
    counting = one explode + groupBy over vocab rows; at 100 TB the
    vocabulary is millions of rows while the corpus is billions). Per
    step, exactly one 1-row ``collect`` fetches the winning pair (the
    C2 dim-bounded contract — the loop's driver state is one pair per
    step), and the merge application is a codegen ``aggregate`` fold
    per word. Each step's frame is persisted and the previous step's
    released, so plan depth and cache footprint stay O(1) across
    steps.

    Determinism / replayability: the winner is max summed frequency
    with a (lhs, rhs) lexicographic tie-break — binary string order,
    identical in any engine — and merge application is the CANONICAL
    greedy left-to-right fold (state = the rebuilt
    space-delimited symbol string; merging when the accumulator ends
    with `` lhs `` and the next symbol equals ``rhs``). The fold, not
    string replace(): non-overlapping replace diverges from BPE on
    self-pair runs (``a a a a a`` with pair (a,a) must give
    ``aa aa a``, replace-twice gives ``aa a aa``). The same fold is
    expressible in DuckDB as ``list_reduce`` over the symbol list, so
    the full iterative training replays in SQL as an unrolled CTE
    chain (``queries.curation_queries.bpe_oracle_sql``) — provided no
    early stop triggers (see ``min_freq``).

    ``min_freq``: training stops early when the best pair's frequency
    drops below it (the Sennrich convention; merging singleton pairs
    memorizes noise). An early stop cannot be replayed by the unrolled
    oracle — certified rows must choose ``n_merges`` small enough that
    the corpus never triggers it. Words are whitespace tokens of
    ``trim(text)``; ``eow`` marks word ends (symbols never contain
    spaces, so the space-delimited string state is unambiguous).
    NULL/blank texts contribute nothing.

    ``alphabet``: 'char' (default — one initial symbol per character)
    or 'byte' (the GPT-2 convention — one symbol per UTF-8 byte as a
    lowercase hex pair). KNOWN LIMIT of the char alphabet: initial
    symbols are per UTF-16 code unit (Spark's split-on-'' convention),
    so supplementary-plane code points (emoji, rare CJK extensions)
    split into surrogate halves in Spark but single code points in
    DuckDB's character split — the cross-engine replay contract holds
    for BMP text only there (all driver corpora are BMP). The BYTE
    alphabet has no such limit: both engines route through
    ``lower(hex(encode(word)))``, identical for every code point, so
    its replay contract is universal (parity-tested on emoji)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_freq < 1:
        raise ValueError(f"min_freq must be >= 1, got {min_freq}")
    if " " in eow or not eow:
        raise ValueError(f"eow must be a non-empty space-free marker, got {eow!r}")
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
    )
    vocab = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__cnt"))
    seqs = vocab.select(
        F.col("__cnt"),
        _bpe_initial_seq(F.col("__w"), eow, alphabet).alias("__seq"),
    ).persist()

    # adjacent symbol pairs; guarded for fully-merged one-symbol words
    # (Spark's sequence(1, 0) would step BACKWARD, not return empty)
    pair_expr = F.expr(
        "CASE WHEN size(__sy) < 2 THEN array() "
        "ELSE transform(sequence(1, size(__sy) - 1), "
        "i -> struct(__sy[i-1] AS a, __sy[i] AS b)) END"
    )

    merges: list[tuple[int, str, str, str, int]] = []
    prev: DataFrame | None = None
    try:
        for step in range(1, n_merges + 1):
            best = (
                seqs.withColumn("__sy", F.split(F.trim("__seq"), " "))
                .select("__cnt", F.explode(pair_expr).alias("__p"))
                .groupBy("__p")
                .agg(F.sum("__cnt").alias("__f"))
                .orderBy(F.desc("__f"), F.col("__p.a"), F.col("__p.b"))
                .limit(1)
                .collect()
            )
            # this collect filled seqs' cache, so its parent (read only
            # through that cache from here on) can be released without
            # forcing an extra materialization pass per step
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best or best[0]["__f"] < min_freq:
                break
            a, b, f = best[0]["__p"]["a"], best[0]["__p"]["b"], int(best[0]["__f"])
            merges.append((step, a, b, a + b, f))
            # canonical greedy fold: rebuild each word's symbol string,
            # merging where the accumulator ends with ' a ' and x == b
            nxt = seqs.select(
                "__cnt", _bpe_merge_fold(F.col("__seq"), a, b).alias("__seq")
            ).persist()
            prev, seqs = seqs, nxt
    finally:
        seqs.unpersist()
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, freq long"
    )


def bpe_encode_counts(
    df: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    group_cols: list[str] | None = None,
    eow: str = "</w>",
    alphabet: str = "char",
) -> DataFrame:
    """ENCODE with learned BPE rules: the per-group subword-token
    census after applying ``rules`` (the (lhs, rhs) pairs of
    :func:`bpe_train_merges`, in learning order) to every word — the
    token-budget question a pipeline asks of a trained tokenizer ("how
    many subword tokens is this corpus?"), answered exactly, not by
    the ``bpe_ish_token_count`` heuristic. Returns (*group_cols,
    n_words, n_bpe_tokens).

    Scale shape: encoding runs on the per-group WORD VOCABULARY
    (groupBy (group, word) — one corpus pass), then each unique word's
    symbol string passes through the rule chain as ``len(rules)``
    chained codegen folds (:func:`_bpe_merge_fold`, the training fold
    applied in order — canonical greedy semantics per rule), and the
    census is one aggregate of symbol-count × word-count. Nothing
    corpus-sized crosses a shuffle after the vocab aggregation, and no
    per-row Python runs. ``rules`` is driver-side by design — it is
    the dim-sized merge table (the C2 contract; collect it from
    ``bpe_train_merges``'s output)."""
    if not rules:
        raise ValueError("rules must be non-empty (collect bpe_train_merges first)")
    gcols = list(group_cols or [])
    words = df.select(
        *gcols, F.explode(tokens(text_col)).alias("__w")
    ).filter(F.col("__w") != "")
    vocab = words.groupBy(*gcols, "__w").agg(F.count(F.lit(1)).alias("__cnt"))
    # Bind each fold level to a named column (one Project per rule), not
    # a nested expression chain: _bpe_merge_fold's identity fast path
    # references its input three times, so inlining ``len(rules)`` folds
    # would grow the expression tree 3^rules-fold (r17 — measured as a
    # 5× encode slowdown at 6 rules before this split; Catalyst's
    # CollapseProject keeps multi-referenced non-cheap aliases in their
    # own projection, so the chain stays linear).
    staged = vocab.withColumn(
        "__seq", _bpe_initial_seq(F.col("__w"), eow, alphabet)
    )
    for a, b in rules:
        staged = staged.withColumn("__seq", _bpe_merge_fold(F.col("__seq"), a, b))
    n_sym = F.size(F.split(F.trim(F.col("__seq")), " "))
    per_word = staged.select(*gcols, "__cnt", n_sym.alias("__ns"))
    return per_word.groupBy(*gcols).agg(
        F.sum("__cnt").alias("n_words"),
        F.sum(F.col("__ns").cast("long") * F.col("__cnt")).alias("n_bpe_tokens"),
    )
