"""Deduplication queries over documents + embeddings (extension surface).

Exact dedup (both keep policies), incremental crawl-vs-corpus dedup,
token-Jaccard, and Levenshtein fuzzy matching carry full DuckDB
oracles. MinHash+LSH and SimHash are registered WITHOUT oracles (their
xxhash64 hash family has no DuckDB equivalent → driver records the
weaker rows-only check); their correctness is pinned by md5-twin
queries, the merged planted-recall certification
(docs_sketch_seeded_recall), and tests/test_dedup.py, which verifies
planted near-duplicates are found and Jaccard-dissimilar pairs are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    simhash_candidates,
    token_jaccard_pairs,
)
from big_data_chicago_crimes_spark.plans.registry import register
from big_data_chicago_crimes_spark.sources.readers import load_tables


@register(
    "docs_exact_dedup",
    # Two keep-policy legs certified in ONE window slot (VERDICT r7 #2a:
    # exact_dedup_keep_best shipped in r7 with local tests only; merging
    # it into this query's slot gives it a hash-certified driver row
    # without spending a new one): 'keep_min' = the min-doc_id survivor
    # policy; 'keep_best' = highest n_chars per fingerprint, ties to min
    # doc_id — replayed by the oracle as row_number() OVER (ORDER BY
    # n_chars DESC, doc_id). survivor_id_sum makes the census
    # membership-sensitive: any single survivor swap between policies
    # changes the leg's checksum even when per-lang counts coincide.
    oracle="""
        WITH fp AS (
            SELECT doc_id, lang, n_chars,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
            FROM documents
        ), min_surv AS (
            SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f
        ), best_surv AS (
            SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                    PARTITION BY f ORDER BY n_chars DESC, doc_id) AS rk
                FROM fp
            ) WHERE rk = 1
        )
        SELECT 'keep_min' AS policy, d.lang, COUNT(*) AS n_docs,
               CAST(SUM(d.doc_id) AS BIGINT) AS survivor_id_sum
        FROM documents d JOIN min_surv s ON d.doc_id = s.doc_id
        GROUP BY d.lang
        UNION ALL
        SELECT 'keep_best' AS policy, d.lang, COUNT(*) AS n_docs,
               CAST(SUM(d.doc_id) AS BIGINT) AS survivor_id_sum
        FROM documents d JOIN best_surv s ON d.doc_id = s.doc_id
        GROUP BY d.lang
        ORDER BY policy, lang
    """,
    tags=("dedup", "exact", "keep-policy", "extension"),
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint under BOTH keep
    policies, summarized per lang with a membership-sensitive survivor
    id checksum: 'keep_min' keeps the minimum doc_id per fingerprint;
    'keep_best' keeps the highest-n_chars copy (the quality keep-policy
    — when a document appears in several crawls, keep the best-scored
    copy, not an arbitrary one; ties to min doc_id). Both legs are one
    hash aggregate + one min-sized semi join; the keep-best policy rides
    the aggregate as max(struct(score, -id, id)) — no window, no extra
    shuffle (operators/dedup.py:exact_dedup_keep_best)."""
    from big_data_chicago_crimes_spark.operators.dedup import exact_dedup_keep_best

    t = load_tables(spark, sf_dir)

    def leg(survivors: DataFrame, policy: str) -> DataFrame:
        return (
            survivors.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("survivor_id_sum"),
            )
            .select(F.lit(policy).alias("policy"), "lang", "n_docs", "survivor_id_sum")
        )

    # carry lang through the aggregates (r17): the census needs only
    # (doc_id, lang), so the semi-join back to documents — and its
    # second scan — drops from each leg; survivor sets are identical
    # (struct min/max decide on the unique id before any carried field)
    return (
        leg(exact_dedup(t.documents, carry_cols=["lang"]), "keep_min")
        .unionByName(
            leg(
                exact_dedup_keep_best(t.documents, "n_chars", carry_cols=["lang"]),
                "keep_best",
            )
        )
        .orderBy("policy", "lang")
    )


@register(
    "docs_jaccard_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, source,
                   list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.t, b.t)) * 1.0 /
                     len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.t, b.t)) * 1.0 /
              len(list_distinct(list_concat(a.t, b.t))), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    tags=("dedup", "jaccard", "extension"),
)
def docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs (≥0.5) blocked on (lang, source).
    Blocking caps the candidate set; the join shuffles only block keys."""
    t = load_tables(spark, sf_dir)
    return token_jaccard_pairs(
        t.documents, ["lang", "source"], threshold=0.5
    ).orderBy("id_a", "id_b")


@register(
    "docs_sketch_candidates_surface",
    # r12 merge: the former docs_minhash_lsh_candidates and
    # docs_simhash_candidates (both xxhash64-family rows-only entries —
    # their md5 twins (now merged into docs_sketch_md5_surface)
    # carry the DuckDB oracles, and the local suite proves family
    # invariance: test_minhash_family_invariance_vs_md5_twin,
    # test_simhash_pigeonhole_completeness) in ONE registry slot. The
    # freed slot funds geo_district_surface (S6/S7/S8 driver rows) —
    # the purchaser_error_overlap merge-funding pattern; merging two
    # rows-only entries loses no oracle.
    oracle=None,
    tags=("dedup", "minhash", "simhash", "lsh", "extension", "merged"),
)
def docs_sketch_candidates_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sketch-family candidate generators in one surface:
    'minhash_lsh' = MinHash(32 hashes)+LSH(8 bands) candidate near-dup
    pairs over 3-word shingles (the only shuffle is the band-signature
    self-join); 'simhash_band' = SimHash(64-bit) banded candidates
    (4×16-bit bands ⇒ catches all pairs within Hamming distance 3)."""
    t = load_tables(spark, sf_dir)
    mh = minhash_lsh_candidates(t.documents).select(
        F.lit("minhash_lsh").alias("leg"), "id_a", "id_b"
    )
    sh = simhash_candidates(t.documents).select(
        F.lit("simhash_band").alias("leg"), "id_a", "id_b"
    )
    return mh.unionByName(sh).orderBy("leg", "id_a", "id_b")


@register(
    "docs_incremental_dedup",
    # funded by the docs_minhash_seeded_recall + docs_simhash_seeded_recall
    # merge (docs_sketch_seeded_recall). The corpus/batch split reuses the
    # engine-portable md5 bucket convention (bucket < 80 = existing
    # corpus, rest = new crawl), so the oracle replays the exact split.
    # EXACT MEMBERSHIP output: the accepted new-batch rows themselves.
    oracle="""
        WITH fp AS (
            SELECT doc_id, lang,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS b
            FROM documents
        ), corpus AS (
            SELECT DISTINCT f FROM fp WHERE b < 80
        ), batch AS (
            SELECT * FROM fp WHERE b >= 80
        ), batch_min AS (
            SELECT f, MIN(doc_id) AS doc_id FROM batch GROUP BY f
        )
        SELECT bm.doc_id, b.lang
        FROM batch_min bm
        JOIN batch b ON bm.doc_id = b.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = bm.f)
        ORDER BY bm.doc_id
    """,
    tags=("dedup", "exact", "incremental", "extension"),
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new crawl against an existing corpus: the
    hash-bucket split (doc_id bucket < 80 = corpus, ≥ 80 = new batch)
    stands in for today's corpus vs tonight's crawl; the batch drops its
    internal duplicates (min-id per fingerprint) AND anything whose
    fingerprint the corpus already holds, via
    operators/dedup.py:incremental_exact_dedup. Scale shape: the corpus
    contributes only its fingerprint column (at 100 TB, a materialized
    fingerprint index via sinks.cached, appended per accepted batch) —
    corpus TEXT is never rescanned or shuffled. Returns the accepted
    (doc_id, lang) rows."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        doc_fingerprint,
        incremental_exact_dedup,
    )
    from big_data_chicago_crimes_spark.operators.sampling import hash_bucket

    t = load_tables(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), 100)
    corpus = t.documents.filter(b < 80)
    batch = t.documents.filter(b >= 80)
    corpus_fps = corpus.select(doc_fingerprint("text").alias("fingerprint")).distinct()
    kept = incremental_exact_dedup(batch, corpus_fps)
    return kept.select("doc_id", "lang").orderBy("doc_id")


@register(
    "docs_shared_span_pairs",
    # funded by the orders_count_by_priority + orders_filled_pct merge
    # (orders_priority_fill_rollup). Planted quote-twins (every 25th doc
    # spawns a 'quoted: <80-char slice> :end' doc — identical
    # construction in both engines) guarantee non-vacuous recall; the
    # shared-vocabulary organic corpus contributes its own coincidental
    # ≥50-char spans. The oracle replays the DEFINITION (all 50-gram
    # pairs, count distinct shared grams), not the sampling — the
    # k-gram stride join is a sound candidate superset and the verify
    # is exact string intersection, so the answers coincide.
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 2000000, 'quoted: ' || substr(text, 10, 80) || ' :end'
            FROM documents WHERE doc_id % 25 = 0
        ), pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 49)) AS p
            FROM corpus WHERE length(text) >= 50
        ), g AS (
            SELECT doc_id, substr(text, CAST(p AS INTEGER), 50) AS gram FROM pos
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(DISTINCT a.gram) AS INTEGER) AS n_shared_spans
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY id_a, id_b
    """,
    tags=("dedup", "exact-substring", "span", "extension"),
)
def docs_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al., ACL 2022, the
    train-data boilerplate/quotation shape): every document pair
    sharing an exact ≥50-char span, with the count of distinct shared
    50-grams, via operators/dedup.py:shared_span_pairs — strided
    20-gram hash sampling (sound candidate superset, corpus-linear
    fan-out, hashes-only shuffle) + exact string-intersect verify on
    candidates only. Every 25th document spawns a quote-twin embedding
    an 80-char slice, certifying recall on a fully-determined answer
    alongside the organic span collisions."""
    from big_data_chicago_crimes_spark.operators.dedup import shared_span_pairs

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("quoted: "), F.substring("text", 10, 80), F.lit(" :end")
        ).alias("text"),
    )
    corpus = docs.unionByName(quotes)
    # k=28 (stride 23): on this narrow-vocabulary fixture, 20-char grams
    # span ~3 tokens and hash-collide far more than web text would —
    # k=28 grams span ~4.5 tokens, cutting accidental candidates ~40%
    # at sf0.1 and ~3× at the 10× corpus (where replica token-suffixing
    # shrinks the effective gram alphabet further). The answer is
    # k-independent (sampling is a sound candidate superset; the verify
    # is exact), so the oracle is unchanged.
    return shared_span_pairs(corpus, min_span=50, k=28).orderBy("id_a", "id_b")


_MSP_K = 40  # match-gram length; maximal-span resolution floor (≥ min_span=50 kept)
_MSP_MIN = 50

# Shared oracle CTEs: quote-twin corpus → all k-gram matches → diagonal
# islands → maximal spans (the DEFINITION docs_exact_substring_spans
# replays), then the keep-first removal-interval merge. Composed by BOTH
# docs_exact_substring_spans (spans + census legs) and
# docs_span_removal_cut (the applied cut) so the detect and apply rows
# certify against literally the same SQL pipeline.
_MSP_SPANS_CTES = f"""
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 2000000, 'quoted: ' || substr(text, 10, 80) || ' :end'
            FROM documents WHERE doc_id % 25 = 0
        ), pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - {_MSP_K - 1})) AS p
            FROM corpus WHERE length(text) >= {_MSP_K}
        ), g AS (
            SELECT doc_id, CAST(p AS INTEGER) AS p,
                   substr(text, CAST(p AS INTEGER), {_MSP_K}) AS gram
            FROM pos
        ), m AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS pa, b.p AS pb,
                   a.p - b.p AS diag
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        ), isl AS (
            SELECT ida, idb, pa, pb, diag,
                   pa - row_number() OVER (PARTITION BY ida, idb, diag
                                           ORDER BY pa) AS grp
            FROM m
        ), spans AS (
            SELECT ida, idb, MIN(pa) AS pos_a, MIN(pb) AS pos_b,
                   COUNT(*) + {_MSP_K - 1} AS span_len
            FROM isl GROUP BY ida, idb, diag, grp
            HAVING COUNT(*) + {_MSP_K - 1} >= {_MSP_MIN}
        ), iv AS (
            SELECT idb AS doc, pos_b AS s, pos_b + span_len AS e FROM spans
        ), marked AS (
            SELECT doc, s, e,
                   MAX(e) OVER (PARTITION BY doc ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
            FROM iv
        ), islands AS (
            SELECT doc, s, e,
                   SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc ORDER BY s, e) AS grp
            FROM marked
        ), merged AS (
            SELECT doc, grp, MIN(s) AS ms, MAX(e) AS me
            FROM islands GROUP BY doc, grp
        )"""


@register(
    "docs_exact_substring_spans",
    # NEW r15 (VERDICT r14 #6, option A): the suffix-array ExactSubstr
    # OUTPUT — maximal duplicated substrings with positions, plus the
    # removal census — beyond docs_shared_span_pairs' pair-level count.
    # Funded by the late_shipment_orders + segment_customers_with_orders
    # merge (exists_join_surface). The oracle replays the DEFINITION
    # directly (all k-gram matches over the full corpus → diagonal
    # islands → interval union), not the sampling: the candidate stage
    # is a sound superset (any pair with a span ≥ min_span is a
    # candidate pair), so restricting the match join to candidate docs
    # loses nothing and the answers coincide. Same quote-twin planting
    # as the sibling — every 25th doc spawns a doc embedding an 80-char
    # slice, so maximal ~80-char spans (and their removal masks) are
    # guaranteed non-vacuous alongside organic boilerplate spans.
    oracle=f"""
        WITH {_MSP_SPANS_CTES}, mask AS (
            SELECT doc, CAST(COUNT(*) AS INTEGER) AS n_iv,
                   CAST(SUM(me - ms) AS BIGINT) AS chars
            FROM merged GROUP BY doc
        )
        SELECT 'span' AS leg, ida AS id_a, idb AS id_b,
               CAST(pos_a AS INTEGER) AS pos_a, CAST(pos_b AS INTEGER) AS pos_b,
               CAST(span_len AS BIGINT) AS span_len
        FROM spans
        UNION ALL
        SELECT 'mask' AS leg, doc AS id_a, CAST(-1 AS BIGINT) AS id_b,
               n_iv AS pos_a, CAST(-1 AS INTEGER) AS pos_b, chars AS span_len
        FROM mask
        ORDER BY leg, id_a, id_b, pos_a, pos_b
    """,
    tags=("dedup", "exact-substring", "span", "maximal", "extension"),
)
def docs_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-shaped exact-substring dedup (Lee et al., ACL 2022
    §4), two legs in one driver row:

    - ``span``: every MAXIMAL duplicated substring of length ≥ 50 chars
      between document pairs — (id_a, id_b, pos_a, pos_b, span_len) via
      ``operators/dedup.maximal_span_pairs`` (strided-hash candidates →
      exact 40-gram match join on candidate docs → diagonal
      gaps-and-islands). The positions a removal pass cuts, not just
      the pair-level count ``docs_shared_span_pairs`` reports.
    - ``mask``: the removal census (``span_removal_census``) under the
      keep-first policy (id_b's copy is cut): per affected document,
      the merged-interval count and total chars removed. Sentinel
      columns (the docs_temperature_mix convention): id_a = doc_id,
      id_b = −1, pos_a = n_intervals, pos_b = −1, span_len =
      chars_removed."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        maximal_span_pairs,
        span_removal_census,
    )
    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("quoted: "), F.substring("text", 10, 80), F.lit(" :end")
        ).alias("text"),
    )
    corpus = docs.unionByName(quotes)
    # both legs consume the spans frame — persist so the candidate +
    # match-join pipeline runs once (the embedding_pq_adc_topk economics)
    spans = scratch_persist(
        maximal_span_pairs(corpus, min_span=_MSP_MIN, k=_MSP_K)
    )
    span_leg = spans.select(
        F.lit("span").alias("leg"),
        "id_a",
        "id_b",
        "pos_a",
        "pos_b",
        F.col("span_len").cast("long").alias("span_len"),
    )
    mask_leg = span_removal_census(spans).select(
        F.lit("mask").alias("leg"),
        F.col("doc_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.col("n_intervals").alias("pos_a"),
        F.lit(-1).cast("int").alias("pos_b"),
        F.col("chars_removed").alias("span_len"),
    )
    return span_leg.unionByName(mask_leg).orderBy(
        "leg", "id_a", "id_b", "pos_a", "pos_b"
    )


@register(
    "docs_span_removal_cut",
    # NEW r16 (VERDICT r15 #1, the recorded registry slot plan): the
    # APPLY step completing the ExactSubstr pipeline's driver
    # certification — detect maximal spans, CUT the id_b-side copies
    # (keep-first), return the rebuilt corpus md5-pinned per document
    # (the docs_line_dedup byte-for-byte pattern: one mis-cut character
    # anywhere fails the driver hash). Funded by the docs_token_stats +
    # docs_bpe_token_stats merge (docs_token_surface). The oracle
    # composes from docs_exact_substring_spans' shared CTEs
    # (_MSP_SPANS_CTES — the same corpus, match join, diagonal islands,
    # and interval merge) and rebuilds each text as the ordered
    # concatenation of its KEPT segments: the complement of the merged
    # intervals (head gap via LAG over interval starts, tail segment
    # from max interval end to end-of-text) — the relational dual of
    # the engine's single aggregate-fold cut, so the two formulations
    # certifying byte-equality is exactly the point of the row.
    oracle=f"""
        WITH {_MSP_SPANS_CTES}, segs AS (
            SELECT doc,
                   COALESCE(LAG(me) OVER (PARTITION BY doc ORDER BY ms),
                            CAST(1 AS BIGINT)) AS ss,
                   ms AS se
            FROM merged
            UNION ALL
            SELECT m.doc, MAX(m.me) AS ss, MAX(length(c.text)) + 1 AS se
            FROM merged m JOIN corpus c ON c.doc_id = m.doc GROUP BY m.doc
        ), rebuilt AS (
            SELECT s.doc,
                   string_agg(substr(c.text, CAST(s.ss AS INTEGER),
                                     CAST(s.se - s.ss AS INTEGER)),
                              '' ORDER BY s.ss) AS new_text,
                   CAST(COUNT(*) - 1 AS INTEGER) AS n_iv
            FROM segs s JOIN corpus c ON c.doc_id = s.doc
            GROUP BY s.doc
        )
        SELECT c.doc_id,
               CAST(COALESCE(r.n_iv, 0) AS INTEGER) AS n_spans_removed,
               CAST(length(COALESCE(r.new_text, c.text)) AS INTEGER)
                   AS chars_after,
               md5(COALESCE(r.new_text, c.text)) AS text_md5
        FROM corpus c LEFT JOIN rebuilt r ON r.doc = c.doc_id
        ORDER BY doc_id
    """,
    tags=("dedup", "exact-substring", "span", "apply", "extension"),
)
def docs_span_removal_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup APPLIED (Lee et al., ACL 2022 §4 — cut each
    duplicated substring from all but one occurrence): the same
    quote-twin corpus and maximal-span detection as
    ``docs_exact_substring_spans``, then ``operators/dedup.py:
    apply_span_removal`` rewrites every affected document with its
    merged removal intervals cut out (keep-first — the pair's lower id
    keeps its copy). One row per corpus document: merged intervals cut,
    characters remaining, and the rebuilt text pinned byte-for-byte by
    md5 — untouched documents must hash identical to their input, so
    the row certifies the pass-through path as hard as the cut path.
    Plan shape: span detection shuffles hashes and span rows only; the
    corpus-sized pass is ONE projection (a codegen aggregate fold over
    each doc's sorted interval array), no corpus shuffle."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        apply_span_removal,
        maximal_span_pairs,
    )

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("quoted: "), F.substring("text", 10, 80), F.lit(" :end")
        ).alias("text"),
    )
    corpus = docs.unionByName(quotes)
    spans = maximal_span_pairs(corpus, min_span=_MSP_MIN, k=_MSP_K)
    cut = apply_span_removal(corpus, spans)
    return cut.select(
        "doc_id",
        "n_spans_removed",
        F.length("text").cast("int").alias("chars_after"),
        F.md5("text").alias("text_md5"),
    ).orderBy("doc_id")


@register(
    "docs_line_dedup",
    # funded by folding orders_price_quantiles into the grouping
    # surface's 'pctl' leg (orders_grouping_surface). The documents
    # fixture is single-line, so the query derives a lined corpus with
    # constructions both engines replay literally: newline-split at the
    # literal tokens ' join ' / ' hash ' (leftmost non-overlapping
    # literal replace — identical semantics in Spark's replace and
    # DuckDB's replace), a planted header line on every 4th doc and a
    # planted footer line on every 5th — those two lines are boilerplate
    # by construction (125/100 occurrences >= 3), so removal recall is
    # non-vacuous, while the organic inter-token segments certify the
    # keep path. cleaned_md5 pins the REBUILT text of every document
    # byte-for-byte (md5 is engine-portable), so a single out-of-order
    # or mis-kept line anywhere fails the driver hash.
    oracle="""
        WITH corpus AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0
                        THEN 'subscribe to our newsletter today' || chr(10)
                        ELSE '' END
                   || replace(replace(text, ' join ', chr(10)), ' hash ', chr(10))
                   || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || 'all rights reserved worldwide'
                           ELSE '' END AS text
            FROM documents
        ), pos AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(string_split(text, chr(10))))) AS p,
                   string_split(text, chr(10)) AS ls
            FROM corpus
        ), ln AS (
            SELECT doc_id, CAST(p AS INTEGER) AS p,
                   ls[CAST(p AS INTEGER)] AS line
            FROM pos
        ), census AS (
            SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM ln GROUP BY line
        ), flagged AS (
            SELECT ln.doc_id, ln.p, ln.line, census.ndocs >= 3 AS boiler
            FROM ln JOIN census USING (line)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS INTEGER) AS n_lines,
               CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
               md5(COALESCE(string_agg(CASE WHEN NOT boiler THEN line END,
                                       chr(10) ORDER BY p), '')) AS cleaned_md5
        FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("dedup", "line-level", "boilerplate", "extension"),
)
def docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal (Raffel et al. 2020
    §2.2) over a deterministically lined corpus: lines occurring in >=3
    distinct documents are dropped, every document is rebuilt with its
    remaining lines in order, and the rebuilt text is pinned by md5.
    operators/dedup.py:line_level_dedup — explode + line census (hash
    agg) + one join + one per-doc rebuild groupBy; census bounded by
    distinct-line volume, never all-pairs."""
    from big_data_chicago_crimes_spark.operators.dedup import line_level_dedup

    t = load_tables(spark, sf_dir)
    nl = F.lit("\n")
    lined = t.documents.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("subscribe to our newsletter today\n"),
            ).otherwise(F.lit("")),
            F.replace(
                F.replace(F.col("text"), F.lit(" join "), nl),
                F.lit(" hash "),
                nl,
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nall rights reserved worldwide"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    res = line_level_dedup(lined, min_docs=3)
    return res.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    ).orderBy("doc_id")


@register(
    "docs_intra_dedup",
    # NEW r12 (VERDICT r11 #6): funded by merging orders_year_range_filter
    # + orders_by_season into orders_temporal_bucket_surface. The missing
    # dedup granularity — repeated lines WITHIN a document (the
    # Gopher/C4 intra-doc rule); corpus-level exact/fuzzy/span/line all
    # exist. Same lined-corpus derivation as docs_line_dedup (literal
    # replace, identical in both engines) plus a planted duplicate: on
    # every 3rd doc the same literal line is prepended AND appended, so
    # removal recall is non-vacuous by construction, while organic
    # repeated inter-token segments certify the keep-first path.
    # cleaned_md5 pins every rebuilt document byte-for-byte; the oracle
    # replays keep-first as p = MIN(p) OVER (doc, line).
    oracle="""
        WITH corpus AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'click here to read more' || chr(10)
                        ELSE '' END
                   || replace(replace(text, ' join ', chr(10)), ' hash ', chr(10))
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || 'click here to read more'
                           ELSE '' END AS text
            FROM documents
        ), pos AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(string_split(text, chr(10))))) AS p,
                   string_split(text, chr(10)) AS ls
            FROM corpus
        ), ln AS (
            SELECT doc_id, CAST(p AS INTEGER) AS p,
                   ls[CAST(p AS INTEGER)] AS line
            FROM pos
        ), keepflag AS (
            SELECT doc_id, p, line,
                   p = MIN(p) OVER (PARTITION BY doc_id, line) AS keep
            FROM ln
        ), agg AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS INTEGER) AS n_lines,
                   CAST(COUNT(*) FILTER (WHERE NOT keep) AS INTEGER) AS n_removed,
                   COALESCE(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY p), '') AS cleaned
            FROM keepflag GROUP BY doc_id
        )
        SELECT a.doc_id, a.n_lines, a.n_removed,
               CAST(len(c.text) - len(a.cleaned) AS INTEGER) AS chars_removed,
               md5(a.cleaned) AS cleaned_md5
        FROM agg a JOIN corpus c USING (doc_id)
        ORDER BY a.doc_id
    """,
    tags=("dedup", "intra-doc", "extension"),
)
def docs_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document line dedup (Gopher/C4 within-page hygiene, Rae et
    al. 2021 §A1.1): repeated occurrences of a line inside one document
    are dropped, first occurrence kept in order, text rebuilt and
    pinned by md5. operators/dedup.py:intra_doc_dedup — ZERO-shuffle
    scalar expressions (split → order-preserving array_distinct →
    array_join), the scan-speed pass that runs FIRST in a cleaning
    pipeline because it shrinks what every downstream shuffle pays
    for."""
    from big_data_chicago_crimes_spark.operators.dedup import intra_doc_dedup

    t = load_tables(spark, sf_dir)
    nl = F.lit("\n")
    planted = F.lit("click here to read more")
    lined = t.documents.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(planted, nl)
            ).otherwise(F.lit("")),
            F.replace(
                F.replace(F.col("text"), F.lit(" join "), nl),
                F.lit(" hash "),
                nl,
            ),
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(nl, planted)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    res = intra_doc_dedup(lined)
    return res.select(
        "doc_id",
        "n_lines",
        "n_removed",
        "chars_removed",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    ).orderBy("doc_id")


@register(
    "docs_stream_static_dedup_batch",
    # Batch degradation of the stream-STATIC anti-join dedup
    # (streaming/joins.py:dedup_stream_against_corpus — the ingest edge
    # of a crawl stream): the SAME builder runs on batch frames, so this
    # row certifies the anti-join's dedup SEMANTICS, not just streaming
    # plumbing (precedent: events_interval_join_batch). Batch
    # dropDuplicates keeps an arbitrary row per fingerprint, so the
    # certified projection is fingerprint-level: every distinct batch
    # fingerprint with in_corpus (false ⇔ the builder's anti-join kept
    # it — the survivor set, exactly the stream-vs-batch equality
    # contract the operator documents; the min-id keep policy is
    # docs_incremental_dedup's certified job) and bloom_hit (the
    # bloom-prefilter leg — see the docstring). Same md5-bucket
    # corpus/batch split as docs_incremental_dedup, so the two rows
    # jointly pin that the stream-side fresh set equals the batch
    # pipeline's accepted fingerprints.
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS b
            FROM documents
        ), corpus AS (
            SELECT DISTINCT fingerprint FROM fp WHERE b < 80
        ), batch AS (
            SELECT DISTINCT fingerprint FROM fp WHERE b >= 80
        ), m AS (
            SELECT 4 * count(*) AS num_bits FROM corpus
        ), bits AS (
            SELECT DISTINCT
                   ('0x' || substring(md5(fingerprint || '#' || j), 1, 8))::BIGINT
                       % (SELECT num_bits FROM m) AS pos
            FROM corpus CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
        ), probe AS (
            SELECT fingerprint,
                   ('0x' || substring(md5(fingerprint || '#' || j), 1, 8))::BIGINT
                       % (SELECT num_bits FROM m) AS pos
            FROM batch CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
        ), flags AS (
            SELECT p.fingerprint, bool_and(bi.pos IS NOT NULL) AS bloom_hit
            FROM probe p LEFT JOIN bits bi ON p.pos = bi.pos
            GROUP BY p.fingerprint
        )
        SELECT f.fingerprint,
               (c.fingerprint IS NOT NULL) AS in_corpus,
               f.bloom_hit
        FROM flags f LEFT JOIN corpus c USING (fingerprint)
        ORDER BY fingerprint
    """,
    tags=("dedup", "streaming", "batch-degradation", "bloom", "extension"),
)
def docs_stream_static_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static anti-join dedup run in batch mode: new-crawl
    docs (md5 bucket ≥ 80) against the corpus fingerprint index (bucket
    < 80), via the batch/stream-symmetric builder
    streaming/joins.py:dedup_stream_against_corpus. Scale shape: the
    static side contributes only fingerprints (broadcast when
    index-sized); per micro-batch this is exactly the plan Structured
    Streaming executes — no state store.

    Bloom leg: each distinct batch fingerprint additionally
    carries ``bloom_hit`` — membership in a bloom filter built over the
    corpus index (operators/dedup.py:bloom_index, 4 bits/key, k=3, md5
    bit positions the oracle replays bit-exactly, modulus = 4·|corpus|
    via a scalar cross-join so the FP rate is scale-invariant instead
    of saturating at 10× data). The hash pins the full deterministic
    hit set — true members AND the tight-sizing false positives —
    alongside ``in_corpus`` (derived from the SAME builder output as
    before: a fingerprint is in-corpus iff the anti-join dropped it),
    so the no-false-negative contract (in_corpus ⇒ bloom_hit) is
    certified row-by-row. This is the prefilter a crawl-scale
    incremental dedup puts in front of the exact anti-join
    (``incremental_exact_dedup``); the original survivor-set contract
    is the ``NOT in_corpus`` rows, unchanged."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        bloom_index,
        bloom_membership_flags,
        doc_fingerprint,
    )
    from big_data_chicago_crimes_spark.operators.sampling import hash_bucket
    from big_data_chicago_crimes_spark.streaming.joins import (
        dedup_stream_against_corpus,
    )

    t = load_tables(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), 100)
    corpus_fps = (
        t.documents.filter(b < 80)
        .select(doc_fingerprint("text").alias("fingerprint"))
        .distinct()
    )
    batch = t.documents.filter(b >= 80)
    survivors = (
        dedup_stream_against_corpus(batch, corpus_fps)
        .select("fingerprint")
        .distinct()
        .withColumn("__fresh", F.lit(True))
    )
    batch_fps = batch.select(
        doc_fingerprint("text").alias("fingerprint")
    ).distinct()
    flags = bloom_membership_flags(batch_fps, bloom_index(corpus_fps))
    return (
        batch_fps.join(survivors, "fingerprint", "left")
        .join(flags, "fingerprint")
        .select(
            "fingerprint",
            F.col("__fresh").isNull().alias("in_corpus"),
            "bloom_hit",
        )
        .orderBy("fingerprint")
    )


@register(
    "docs_fuzzy_match_pairs",
    # funded by the embedding_cosine_topk + embedding_ann_lsh_topk merge
    # (embedding_topk_surface). Planted twins (every 25th doc + ' xyz',
    # an append both engines construct identically → edit distance
    # exactly 4) make the certification non-vacuous; the organic corpus
    # contributes its own near-matches. The whole answer — candidates
    # AND distances — is replayed by the oracle, since Levenshtein is
    # the same integer function in both engines. PORTABILITY ASSUMPTION
    # (ADVICE r8): that equivalence holds on ASCII text only — DuckDB's
    # levenshtein is byte-oriented while Spark's counts codepoints, so
    # multi-byte text (e.g. real CJK for the zh lang) would diverge; if
    # the documents fixture ever gains non-ASCII text, the oracle needs
    # a byte-level recoding (same class of note as the md5-bucket and
    # sqrt-not-pow conventions).
    oracle="""
        WITH corpus AS (
            SELECT doc_id, lang, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, lang, source, text || ' xyz'
            FROM documents WHERE doc_id % 25 = 0
        ), banded AS (
            SELECT doc_id, lang, source, text,
                   CAST(floor(length(text) / 16) AS BIGINT) AS band
            FROM corpus
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.text, b.text) AS dist
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND a.source = b.source
             AND a.band = b.band AND a.doc_id < b.doc_id
            UNION ALL
            SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id),
                   levenshtein(a.text, b.text)
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND a.source = b.source
             AND a.band + 1 = b.band
        )
        SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist
        FROM pairs WHERE dist <= 8 ORDER BY id_a, id_b
    """,
    tags=("dedup", "fuzzy", "levenshtein", "extension"),
)
def docs_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy matching: every same-(lang, source) pair
    within Levenshtein distance 8 — the record-linkage/near-variant move
    token-set Jaccard is blind to (re-crawled pages differing by a few
    character edits). Every 25th document gets a planted '+ xyz' twin
    (edit distance exactly 4, constructed identically in both engines)
    so recall of the full path is certified on a fully-determined answer
    alongside the organic matches.

    Candidate generation is PassJoin-style segment blocking
    (operators/dedup.py:fuzzy_match_pairs_segments — VERDICT r8 #4,
    replacing the r8 length-band cell join whose candidate count grew
    quadratically in same-length cohort density: 604k cell pairs vs
    ~3k segment candidates at sf1). The oracle replays a length-banded
    self-join — both are exact candidate supersets over the same
    Levenshtein verify, so the result set is construction-independent
    (tests/test_dedup.py pins the segment path against an all-pairs
    self-join on an adversarial corpus)."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        fuzzy_match_pairs_segments,
    )

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang", "source", "text")
    twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        "source",
        F.concat(F.col("text"), F.lit(" xyz")).alias("text"),
    )
    corpus = docs.unionByName(twins)
    pairs = fuzzy_match_pairs_segments(corpus, ["lang", "source"], max_dist=8)
    return pairs.orderBy("id_a", "id_b")


# 3 bits across 3 DIFFERENT 16-bit bands (bits 1, 21, 42 → bands 0, 1,
# 2); band 3 stays intact, so pigeonhole (Hamming 3 < 4 bands) GUARANTEES
# every (seed, twin) pair collides on ≥1 band.
_SIMHASH_TWIN_FLIP = (1 << 1) | (1 << 21) | (1 << 42)


@register(
    "docs_sketch_seeded_recall",
    # merges the former docs_minhash_seeded_recall and
    # docs_simhash_seeded_recall registrations (both r6-green, identical
    # planted-pair schema and fully-determined oracles) into one two-leg
    # query: BOTH xxhash64 sketch recall certifications still execute and
    # hash-certify in a single registry slot; the slot freed funds the
    # docs_incremental_dedup query (the purchaser_error_overlap
    # merge-funding pattern).
    oracle="""
        SELECT 'minhash' AS sketch, doc_id AS id_a, doc_id + 1000000 AS id_b
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT 'simhash' AS sketch, doc_id AS id_a, doc_id + 1000000 AS id_b
        FROM documents WHERE doc_id % 20 = 0
        ORDER BY sketch, id_a
    """,
    tags=("dedup", "minhash", "simhash", "seeded", "extension"),
)
def docs_sketch_seeded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLANTED-twin recall certification of BOTH xxhash64 sketch paths
    on fully-determined answers (the raw candidate sets are rows-only
    checkable because xxhash64 has no DuckDB twin — these planted
    variants' outputs ARE predictable, closing the vacuity gap VERDICT
    r4 #7 / r5 #6 flagged):

    - 'minhash' leg: every 20th document gets an exact text copy — an
      identical shingle set hashes to an identical minhash signature in
      EVERY band, so the banded join MUST surface each (seed,
      seed+1000000) pair through the full production path (shingling →
      minhash → banding → collision join → dedup).
    - 'simhash' leg: every 20th document's real fingerprint gets a twin
      with exactly 3 bits flipped, one in each of bands 0-2 — pigeonhole
      leaves band 3 agreeing, so the banded join MUST emit every planted
      pair; any fingerprinting, band-extraction, join, or dedup bug
      loses rows and breaks the hash. Precision of the band join is
      certified separately by docs_sketch_md5_surface (sh_band leg).

    Output keeps only the planted pairs (organic candidates are
    hash-family-dependent, hence unpredictable in SQL)."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_table,
    )

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    text_twins = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    planted = (F.col("id_a") % 20 == 0) & (
        F.col("id_b") == F.col("id_a") + 1_000_000
    )
    minhash_leg = (
        minhash_lsh_candidates(docs.unionByName(text_twins))
        .filter(planted)
        .select(F.lit("minhash").alias("sketch"), "id_a", "id_b")
    )
    fp = simhash_table(t.documents)
    fp_twins = fp.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(f"simhash ^ {_SIMHASH_TWIN_FLIP}L").alias("simhash"),
    )
    simhash_leg = (
        simhash_band_candidates(fp.unionByName(fp_twins))
        .filter(planted)
        .select(F.lit("simhash").alias("sketch"), "id_a", "id_b")
    )
    return minhash_leg.unionByName(simhash_leg).orderBy("sketch", "id_a")




@register(
    "embedding_near_dup_certification",
    # r7 merge of embedding_near_dups + embedding_near_dups_seeded (the
    # purchaser_error_overlap precedent): the quadratic label-blocked
    # baseline and its planted-twin certification share ONE registry
    # slot, funding a new query's place in the 50-entry driver window.
    # The organic leg is now a CENSUS row (pair COUNT — expected 0 at
    # test SFs, but hash-certified as the value 0, a positive assertion
    # where the old empty result set was vacuous); the seeded leg keeps
    # the full per-pair certification: every 20th vector gets a twin
    # scaled by exactly 2 (a power of two: exact in float32, and cosine
    # is scale-invariant), so the expected output is one (seed, twin)
    # pair per seed at cosine 1.0 — any blocking, pairing, or norm bug
    # breaks the match (VERDICT r4 #7). Still the certification-tier
    # quadratic baseline — never the scale path (embedding_near_dups_lsh).
    oracle="""
        WITH organic AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.95
        ), seeded AS (
            SELECT vec_id, embedding, label FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding,
                   label
            FROM embeddings WHERE vec_id % 20 = 0
        ), bench AS (
            SELECT list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding,
                   label
            FROM embeddings WHERE vec_id % 10 = 0
        ), flagged AS (
            SELECT c.vec_id, c.label,
                   MAX(ROUND(list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)) AS mbc
            FROM embeddings c JOIN bench b ON c.label = b.label
            GROUP BY c.vec_id, c.label
            HAVING MAX(ROUND(list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)) >= 0.95
        )
        SELECT 'contam_census' AS leg, CAST(label AS BIGINT) AS k1,
               CAST(COUNT(*) AS BIGINT) AS k2, ROUND(AVG(mbc), 6) AS metric
        FROM flagged GROUP BY label
        UNION ALL
        SELECT 'organic_census' AS leg,
               CAST(COUNT(*) AS BIGINT) AS k1, CAST(-1 AS BIGINT) AS k2,
               CAST(-1.0 AS DOUBLE) AS metric
        FROM organic
        UNION ALL
        SELECT 'seeded' AS leg, a.vec_id AS k1, b.vec_id AS k2,
               ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) AS metric
        FROM seeded a JOIN seeded b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
              (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
               sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.95
        ORDER BY leg, k1, k2
    """,
    tags=("dedup", "embedding", "decontamination", "extension"),
)
def embedding_near_dup_certification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (≥0.95, label-blocked) certified three
    ways in one result: an organic-census leg (the production input's
    pair count, hash-certified even when 0), a planted-twin leg (every
    pair the seeded fixture must produce, at cosine 1.0), and — r11 —
    a ``contam_census`` leg certifying SEMANTIC decontamination
    (operators/similarity.py:embedding_contamination): a planted
    "benchmark" of every 10th vector scaled ×2 (exact in float32;
    cosine is scale-invariant, so each plant sits at cosine 1.0 to its
    corpus source — a paraphrase-leak stand-in that n-gram
    decontamination would also catch here, but whose MACHINERY is the
    broadcast-benchmark cosine flag, not gram matching). Census per
    label: flagged count + mean max-benchmark-cosine."""
    from big_data_chicago_crimes_spark.operators.similarity import (
        embedding_contamination,
    )

    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    organic = (
        embedding_near_dups(emb, threshold=0.95)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("organic_census").alias("leg"),
            F.col("n").cast("bigint").alias("k1"),
            F.lit(-1).cast("bigint").alias("k2"),
            F.lit(-1.0).cast("double").alias("metric"),
        )
    )
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    seeded = emb.select("vec_id", "embedding", "label").unionByName(twins)
    seeded_pairs = embedding_near_dups(seeded, threshold=0.95).select(
        F.lit("seeded").alias("leg"),
        F.col("id_a").alias("k1"),
        F.col("id_b").alias("k2"),
        F.col("cosine").alias("metric"),
    )
    bench = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    contam = (
        embedding_contamination(emb, bench, threshold=0.95)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.round(F.avg("max_benchmark_cosine"), 6).alias("__m"),
        )
        .select(
            F.lit("contam_census").alias("leg"),
            F.col("label").cast("bigint").alias("k1"),
            F.col("__n").cast("bigint").alias("k2"),
            F.col("__m").alias("metric"),
        )
    )
    return (
        contam.unionByName(organic)
        .unionByName(seeded_pairs)
        .orderBy("leg", "k1", "k2")
    )


@register(
    "embedding_near_dups_lsh",
    # Hyperplane signatures are seeded-NumPy literals — not SQL-
    # expressible → rows-only check. Value-level certification comes from
    # embedding_near_dups_lsh_seeded (full oracle, planted twins) and
    # tests/test_similarity.py recall pins. r13 (VERDICT r12 #3): the
    # near-dup leg is organically EMPTY (max organic cosine ≈0.51 — that
    # emptiness IS the claim), which made a bare rows-only row vacuous:
    # 0 rows every round certifies nothing. The surface now unions the
    # top-50 LSH candidate pairs by exact cosine, organically NONZERO at
    # every SF, so a builder that silently returned an empty frame can
    # no longer look identical to a healthy one.
    oracle=None,
    tags=("dedup", "embedding", "lsh", "extension"),
)
def embedding_near_dups_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups via multi-table hyperplane-LSH blocking — the
    SCALE path for pair near-dup (BENCH_SCALE showed the label-blocked
    variant going 24.6× for 10× data: constant blocking cardinality ⇒
    quadratic pairs; LSH buckets sized to the data keep candidates
    ~linear). Two legs from ONE candidate materialization:

    - ``near_dup`` — exact-cosine pairs ≥0.95 (organically empty: the
      corpus has no near-duplicate embeddings, and the seeded twin
      query proves the path finds planted ones);
    - ``top_candidate`` — the 50 highest-cosine candidate pairs BELOW
      the threshold, deterministic tie-break (cosine desc, id_a, id_b):
      the nonzero assertion surface. Plans as TakeOrderedAndProject —
      no global sort.

    The candidate frame (bare id pairs + exact cosine, ~linear in n by
    bucket sizing) is scratch-persisted so the signature join + exact
    verify — the operator's expensive stages — run once, not once per
    leg."""
    from big_data_chicago_crimes_spark.operators.similarity import lsh_near_dup_pairs
    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    cands = scratch_persist(
        lsh_near_dup_pairs(t.embeddings, dim=64, threshold=-1.0)
    )
    near = cands.filter(F.col("cosine") >= 0.95).select(
        F.lit("near_dup").alias("leg"), "id_a", "id_b", "cosine"
    )
    top = (
        cands.filter(F.col("cosine") < 0.95)
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(50)
        .select(F.lit("top_candidate").alias("leg"), "id_a", "id_b", "cosine")
    )
    return near.unionByName(top).orderBy("leg", "id_a", "id_b")


_SEEDED_COS = """ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"""


@register(
    "embedding_near_dups_lsh_seeded",
    oracle=f"""
        WITH seeded AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
            FROM embeddings WHERE vec_id % 20 = 0
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_SEEDED_COS} AS cosine
        FROM seeded a JOIN seeded b
          ON b.vec_id = a.vec_id + 1000000 AND a.vec_id % 20 = 0
        ORDER BY id_a
    """,
    tags=("dedup", "embedding", "lsh", "seeded", "extension"),
)
def embedding_near_dups_lsh_seeded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_near_dups_lsh with PLANTED ×2-scaled twins. A scaled
    vector has identical hyperplane signs in EVERY table (sign(2d) =
    sign(d)), so LSH recall on the planted pairs is deterministically
    1.0 at any table/plane sizing — the output is fully determined (25
    pairs at cosine 1.0 at the driver SF; max organic cosine ≈0.51,
    nowhere near the 0.95 threshold) and the driver hash-certifies the
    whole signature → band-join → exact-verify production path. The
    output is NOT filtered to planted pairs: a false-positive ≥0.95
    pair would also break the match, so precision is certified too."""
    from big_data_chicago_crimes_spark.operators.similarity import lsh_near_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    seeded = emb.select("vec_id", "embedding", "label").unionByName(twins)
    return lsh_near_dup_pairs(seeded, dim=64, threshold=0.95).orderBy("id_a", "id_b")


@register(
    "docs_char_ngram_jaccard",
    oracle="""
        WITH g AS (
            SELECT doc_id, lang, source,
                   list_distinct(list_transform(
                       generate_series(1, greatest(length(
                           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) - 4, 1)),
                       i -> substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), i, 5)
                   )) AS grams
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
                     len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
        FROM g a JOIN g b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
              len(list_distinct(list_concat(a.grams, b.grams))), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    tags=("dedup", "ngram", "jaccard", "extension"),
)
def docs_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard near-dup pairs (≥0.5) blocked on
    (lang, source) — word-order-insensitive text similarity."""
    from big_data_chicago_crimes_spark.operators.dedup import char_ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    return char_ngram_jaccard_pairs(
        t.documents, ["lang", "source"], threshold=0.5
    ).orderBy("id_a", "id_b")


def _minhash_md5_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(md5(shingle || '#{i}')) AS h{i}" for i in range(num_hashes)
    )
    band_selects = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ")) AS band_sig FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), shingled AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
            FROM toks
        ), sig AS (
            SELECT doc_id,
               {mins}
            FROM shingled GROUP BY doc_id
        ), banded AS (
            {band_selects}
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
    """


def _sketch_md5_surface_oracle() -> str:
    """Union of the minhash and simhash md5 certification oracles with
    distinct leg tags — the merged-surface twin of the two queries it
    replaced (r14 merge, funding the docs_domain_distinct_hll window
    slot per the pair-merge slot-funding pattern)."""
    return f"""
        SELECT 'mh_band' AS leg, id_a AS a, id_b AS b FROM (
            {_minhash_md5_oracle()}
        )
        UNION ALL
        SELECT 'sh_' || leg AS leg, a, b FROM (
            {_simhash_md5_surface_oracle()}
        )
        ORDER BY leg, a, b
    """


def _simhash_md5_oracle(bits: int = 32) -> str:
    sums = ",\n               ".join(
        f"CAST(SUM((("
        f"strpos('0123456789abcdef', substring(md5(tok), {i // 4 + 1}, 1)) - 1"
        f") >> {i % 4} & 1) * 2 - 1) AS BIGINT) AS b{i}"
        for i in range(bits)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ), sums AS (
            SELECT doc_id,
               {sums}
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash
        FROM sums ORDER BY doc_id
    """


def _simhash_md5_surface_oracle(bits: int = 32, band_bits: int = 8) -> str:
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_selects = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * band_bits}) & {mask} "
        "AS band_val FROM fp"
        for b in range(n_bands)
    )
    # fingerprint CTE = _simhash_md5_oracle verbatim; band extraction +
    # collision self-join are integer-only bit math — no float anywhere.
    return f"""
        WITH fp AS ({_simhash_md5_oracle(bits)}), banded AS (
            {band_selects}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT 'fp' AS leg, doc_id AS a, simhash AS b FROM fp
        UNION ALL
        SELECT 'band', id_a, id_b FROM pairs
        ORDER BY leg, a, b
    """


@register(
    "docs_sketch_md5_surface",
    oracle=_sketch_md5_surface_oracle(),
    tags=("dedup", "minhash", "simhash", "lsh", "extension"),
)
def docs_sketch_md5_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL md5 sketch certification surface in ONE result — the r14
    merge of docs_minhash_md5_oracled and docs_simhash_md5_surface
    (itself the r10 merge of the simhash fp + band twins), funding the
    docs_domain_distinct_hll window slot. Three legs:

    - ``mh_band`` — MinHash+LSH candidate pairs with the md5-string hash
      family (byte-identical in DuckDB): shingle → 32 minhashes → 8 band
      signatures → collision join, the full candidate-generation
      pipeline that docs_minhash_lsh_candidates runs with xxhash64.
    - ``sh_fp`` — every 32-bit SimHash fingerprint from the md5-derived
      bit stream.
    - ``sh_band`` — the 4×8-bit band-collision pairs over those same
      fingerprints (the fingerprint table is computed ONCE:
      scratch-persisted inside simhash_band_candidates, the fp leg's
      identical plan hits the same cache).

    The minhash and simhash legs share only the documents scan; their
    sketch pipelines are independent, so one union costs the sum of the
    two queries it replaced minus one scan — and certifies all three
    stages under a single driver hash.

    CERTIFICATION query, not a scale path: 8-bit simhash bands collide
    at rate ~n²·4/256 on non-duplicate docs, the price of a fingerprint
    small enough to reproduce in SQL; the production band space (2¹⁶ per
    band) keeps random collisions negligible."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_table,
    )

    t = load_tables(spark, sf_dir)
    mh = minhash_lsh_candidates(t.documents, hash_family="md5").select(
        F.lit("mh_band").alias("leg"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
    )
    fp = simhash_table(t.documents, bits=32, hash_family="md5")
    pairs = simhash_band_candidates(fp, band_bits=8, bits=32)
    return (
        mh.unionByName(
            fp.select(
                F.lit("sh_fp").alias("leg"),
                F.col("doc_id").alias("a"),
                F.col("simhash").alias("b"),
            )
        )
        .unionByName(
            pairs.select(
                F.lit("sh_band").alias("leg"),
                F.col("id_a").alias("a"),
                F.col("id_b").alias("b"),
            )
        )
        .orderBy("leg", "a", "b")
    )
