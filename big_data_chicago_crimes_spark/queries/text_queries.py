"""Text-analysis queries over the documents table (extension surface:
language ID, quality scoring, token counting, fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    bpe_ish_token_count,
    doc_fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from big_data_chicago_crimes_spark.plans.registry import register
from big_data_chicago_crimes_spark.sources.readers import load_tables

_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)


@register(
    "docs_token_surface",
    # r16 merge of docs_token_stats + docs_bpe_token_stats (funding the
    # docs_span_removal_cut window slot — the in-cohort pair-merge
    # pattern, precedent embedding_pq_adc_topk/orders_q3_topk_surface):
    # both queries scanned documents and aggregated per lang, so the
    # BPE-ish token average folds into the same groupBy as one more
    # aggregate expression — one scan instead of two, zero new shuffles.
    # blank-text guard mirrors token_count's 0-for-blank semantics:
    # regexp_split_to_array('') yields [''] (len 1), while the engine's
    # token_count returns 0 — same divergence docs_sequence_packing's
    # oracle guards against (its prefix-sum would amplify one mismatch).
    # Sections certified in ONE window slot (VERDICT r7 #2b:
    # vocab_top_k shipped in r7 with local tests only; it shares this
    # query's explode spine, so it merges here rather than spending a
    # slot): 'lang_stats' = the per-lang token census (whitespace AND
    # GPT-2-pretokenizer counts); 'vocab_top100' = the 100 most frequent
    # tokens with counts (ties break on the token string; the
    # blank-token filter mirrors vocab_top_k's length(token) > 0
    # guard). NULL stats columns on the vocab leg are typed NULLs on
    # both engines so the schema hash agrees.
    oracle="""
        SELECT 'lang_stats' AS section, lang AS key,
               COUNT(*) AS n,
               ROUND(AVG(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                         END), 6) AS avg_tokens,
               ROUND(AVG(len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+'))), 6)
                   AS avg_bpe_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 'vocab_top100' AS section, token AS key, n,
               CAST(NULL AS DOUBLE) AS avg_tokens,
               CAST(NULL AS DOUBLE) AS avg_bpe_tokens,
               CAST(NULL AS BIGINT) AS total_chars
        FROM (
            SELECT token, COUNT(*) AS n
            FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token LIMIT 100
        )
        ORDER BY section, key
    """,
    tags=("text", "vocab", "tokenize", "extension"),
)
def docs_token_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language ('lang_stats' section — whitespace
    split/size AND the GPT-2-style pre-tokenizer regex count
    (functions/text.py:bpe_ish_token_count, the cheap proxy for an LLM
    tokenizer), both pure JVM, no UDF in the scan path) plus the corpus
    vocabulary table ('vocab_top100' section — the 100 most frequent
    tokens via functions/text.py:vocab_top_k: explode → hash-aggregate
    with map-side partials → TakeOrderedAndProject top-k; the shuffle is
    bounded by vocabulary cardinality, not corpus size)."""
    from big_data_chicago_crimes_spark.functions.text import vocab_top_k

    t = load_tables(spark, sf_dir)
    stats = (
        t.documents.select(
            "lang",
            "n_chars",
            token_count("text").alias("n_tokens"),
            bpe_ish_token_count("text").alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("n_bpe"), 6).alias("avg_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.lit("lang_stats").alias("section"),
            F.col("lang").alias("key"),
            "n",
            "avg_tokens",
            "avg_bpe_tokens",
            "total_chars",
        )
    )
    vocab = vocab_top_k(t.documents, "text", k=100).select(
        F.lit("vocab_top100").alias("section"),
        F.col("token").alias("key"),
        "n",
        F.lit(None).cast("double").alias("avg_tokens"),
        F.lit(None).cast("double").alias("avg_bpe_tokens"),
        F.lit(None).cast("bigint").alias("total_chars"),
    )
    return stats.unionByName(vocab).orderBy("section", "key")


@register(
    "docs_fingerprint_census",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
                    '\\s+', ' ', 'g'))) AS BIGINT) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
                    '\\s+', ' ', 'g'))) AS BIGINT) AS n_dupes
        FROM documents
    """,
    tags=("text", "fingerprint", "dedup", "extension"),
)
def docs_fingerprint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of casefolded, whitespace-normalized
    text): total vs distinct fingerprints = exact-duplicate census."""
    t = load_tables(spark, sf_dir)
    return t.documents.select(doc_fingerprint("text").alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("n_dupes"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> list_contains([{markers}], lower(t))))"
    )


_LANGS_SORTED = sorted(LANG_MARKERS)
_SCORE_EXPRS = ",\n".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_SORTED)
_GREATEST = "GREATEST(" + ", ".join(f"s_{lg}" for lg in _LANGS_SORTED) + ")"
_ARGMAX_CASE = (
    "CASE WHEN " + _GREATEST + " = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lg} = {_GREATEST} THEN '{lg}'" for lg in _LANGS_SORTED)
    + " END"
)


@register(
    "docs_lang_id",
    # r12 leg extension (zero slot cost, in-window): the lang × SCRIPT
    # gate — CCNet (Wenzek et al. 2020) and every multilingual pipeline
    # filter on (language, script) jointly, since a langid vote means
    # nothing on text written in an unexpected charset. The fixture is
    # all-Latin, so the query derives a corpus where every 7th doc has
    # its 12 highest-frequency letters transliterated to Greek (vowels
    # alone leave consonants in the majority and the script never
    # flips; 'etaoinshrdlu' covers ~80% of English letter mass; Spark
    # translate == DuckDB translate, verified bit-identical): those
    # docs lose their marker tokens (→ 'und' votes) AND flip to
    # greek-dominant — the planted gate the census certifies. Script
    # dominance compares INTEGER char counts (no float thresholds to
    # diverge cross-engine), counted by translate-DELETE length deltas
    # (a per-char table lookup; measured ~40% faster than regexp_count
    # char classes at sf0.1, identical counts).
    oracle=f"""
        WITH corpus AS (
            SELECT CASE WHEN doc_id % 7 = 0
                        THEN translate(text, 'etaoinshrdlu', 'εταοινσηρδλυ')
                        ELSE text END AS text
            FROM documents
        ), scores AS (
            SELECT {_SCORE_EXPRS},
                   len(text) - len(translate(text,
                       'αβγδεζηθικλμνξοπρστυφχψω', '')) AS g,
                   len(lower(text)) - len(translate(lower(text),
                       'abcdefghijklmnopqrstuvwxyz', '')) AS l
            FROM corpus
        )
        SELECT {_ARGMAX_CASE} AS predicted_lang,
               CASE WHEN g > l THEN 'greek'
                    WHEN l > 0 THEN 'latin'
                    ELSE 'und' END AS dominant_script,
               COUNT(*) AS n_docs
        FROM scores GROUP BY 1, 2
        ORDER BY predicted_lang, dominant_script
    """,
    tags=("text", "langid", "script", "extension"),
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-token voting, the word-level case of
    n-gram profiling) × dominant-script detection: the (language,
    script) census a CCNet-style gate filters on. Argmax ties break
    to the alphabetically-first language on both sides; script
    dominance is an integer char-count comparison (greek vs latin
    codepoint classes), so the planted Greek-transliterated docs flip
    both dimensions at once.

    Shape: explode tokens → per-language codegen'd IN-list conditional
    sums → one hash agg per doc → argmax CASE. The script counts ride
    the same pass: Generate evaluates child columns once per input row
    and replicates them, so the two char-count columns are computed
    per DOCUMENT, not per token. A per-row higher-order form (marker
    filters inside F.transform) evaluates its lambdas interpreted, once
    per language per token — ~4× slower at sf0.1; the explode+agg form
    stays in whole-stage codegen end to end."""
    from big_data_chicago_crimes_spark.functions.text import tokens
    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute

    t = load_tables(spark, sf_dir)
    corpus = t.documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.translate("text", "etaoinshrdlu", "εταοινσηρδλυ"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    low = F.col("__low")
    # Script chars are counted PER TOKEN and summed (r18). The previous
    # form computed the two document-level translate/length deltas in
    # the same select as the token explode, and Catalyst collapsed that
    # projection ABOVE the Generate — so every TOKEN row re-ran both
    # translates over the WHOLE document text: O(doc_len) per token,
    # quadratic per document (stage-attributed: 116 of 117
    # executor-seconds at the 10× corpus; ~13 µs/token flat at both
    # tiers, which is why the ratio looked linear while the constant was
    # 100× too high). Whitespace tokenization partitions every
    # non-whitespace char into exactly one token, the greek class is
    # whitespace-free, and translate/lower map per char (final-sigma
    # case context cannot flip a-z membership), so Σ(per-token count) ≡
    # document count for ANY input — sum replaces max, same totals.
    # lower(tok) is projected once and shared by the marker tests and
    # the latin count.
    scores = spread_for_compute(corpus).select(
        "doc_id",
        # explode_OUTER: a zero-token document must survive as an 'und'
        # vote like it does in the oracle (ADVICE r12 — inner explode
        # silently dropped it; the NULL token row's sums coalesce to 0)
        F.explode_outer(tokens("text")).alias("tok"),
    ).select(
        "doc_id",
        F.lower(F.col("tok")).alias("__low"),
        (
            F.length("tok")
            - F.length(F.translate("tok", "αβγδεζηθικλμνξοπρστυφχψω", ""))
        ).alias("__g"),
    ).groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(low.isin(LANG_MARKERS[lg]).cast("int")), F.lit(0)
            ).alias(f"s_{lg}")
            for lg in sorted(LANG_MARKERS)
        ],
        F.coalesce(F.sum("__g"), F.lit(0)).alias("__g"),
        F.coalesce(
            F.sum(
                F.length(low)
                - F.length(F.translate(low, "abcdefghijklmnopqrstuvwxyz", ""))
            ),
            F.lit(0),
        ).alias("__l"),
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"s_{lg}") == best, F.lit(lg))
    script = (
        F.when(F.col("__g") > F.col("__l"), F.lit("greek"))
        .when(F.col("__l") > 0, F.lit("latin"))
        .otherwise(F.lit("und"))
    )
    return (
        scores.select(pred.alias("predicted_lang"), script.alias("dominant_script"))
        .groupBy("predicted_lang", "dominant_script")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("predicted_lang", "dominant_script")
    )


@register(
    "docs_quality_surface",
    # r16 merge of docs_quality_scores + docs_quality_by_source (funding
    # the docs_weighted_sample window slot): the per-source ratio
    # aggregates ride the SAME scored CTE the quality leg already
    # computes, as a fourth leg 'by_source' (key = source; the
    # bucket-keyed legs carry the bucket as a string key and typed-NULL
    # ratio columns, the docs_token_surface NULL-pad convention).
    oracle=f"""
        WITH scored AS (
            SELECT source, LEAST(length(text) / 500.0, 1.0) AS len_score,
                   CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
                        ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> list_contains([{_SW_LIST}], lower(t)))) * 1.0
                             / len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS sw_ratio,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text,
                              '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / length(text)
                   END AS p_ratio
            FROM documents
        ), q AS (
            SELECT ROUND((len_score + LEAST(sw_ratio / 0.3, 1.0)
                          + 1.0 - LEAST(p_ratio / 0.2, 1.0)) / 3.0, 6) AS qs
            FROM scored
        ), quality AS (
            SELECT 'quality' AS leg, CAST(FLOOR(qs * 10) AS INTEGER) AS bucket,
                   COUNT(*) AS n_docs
            FROM q GROUP BY bucket
        ), toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ), vocab AS (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ), tot AS (
            SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM vocab
        ), per_doc AS (
            SELECT t.doc_id, SUM(LOG10(v.c + 1)) AS s, COUNT(*) AS n
            FROM toks t JOIN vocab v USING (tok) GROUP BY t.doc_id
        ), lm AS (
            SELECT 'lm' AS leg,
                   CAST(FLOOR(ROUND((s - n * LOG10(n_total + v_size)) / n, 6)
                              * 10) AS INTEGER) AS bucket,
                   COUNT(*) AS n_docs
            FROM per_doc, tot GROUP BY bucket
        ), gopher_rules AS (
            SELECT ROUND(list_sum(list_transform(t, w -> length(w)))
                         * 1.0 / greatest(len(t), 1), 6) AS mean_wlen,
                   ROUND((length(text) - length(replace(text, '#', ''))
                          + (length(text) - length(replace(text, '...', ''))) / 3)
                         * 1.0 / greatest(len(t), 1), 6) AS sym_ratio,
                   ROUND(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                         * 1.0 / greatest(len(t), 1), 6) AS alpha_frac,
                   len(list_filter(t, w -> list_contains([{_SW_LIST}], lower(w))))
                       AS sw_count
            FROM (SELECT text, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents)
        ), gopher AS (
            SELECT 'gopher' AS leg,
                   CAST((CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 1 ELSE 0 END)
                      + (CASE WHEN sym_ratio > 0.1 THEN 1 ELSE 0 END)
                      + (CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END)
                      + (CASE WHEN sw_count < 2 THEN 1 ELSE 0 END) AS INTEGER) AS bucket,
                   COUNT(*) AS n_docs
            FROM gopher_rules GROUP BY bucket
        )
        SELECT leg, CAST(bucket AS VARCHAR) AS key, n_docs,
               CAST(NULL AS DOUBLE) AS avg_punct_ratio,
               CAST(NULL AS DOUBLE) AS avg_stopword_ratio
        FROM (SELECT * FROM quality UNION ALL SELECT * FROM lm
              UNION ALL SELECT * FROM gopher)
        UNION ALL
        SELECT 'by_source' AS leg, source AS key, COUNT(*) AS n_docs,
               ROUND(AVG(p_ratio), 6) AS avg_punct_ratio,
               ROUND(AVG(sw_ratio), 6) AS avg_stopword_ratio
        FROM scored GROUP BY source
        ORDER BY leg, key
    """,
    tags=("text", "quality", "lm-filter", "extension"),
)
def docs_quality_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline quality filters in one certified surface, tagged by
    ``leg``:

    - ``quality`` — composite [0,1] heuristic score histogram (0.1-wide
      buckets): length + stopword rate + punctuation soup, the cheap
      per-row filter.
    - ``lm`` — average unigram log10-probability histogram under an
      add-one-smoothed LM fit on the corpus itself (CCNet shape, Wenzek
      et al. 2020): the corpus-level filter that needs a fitted model.
      See :func:`~big_data_chicago_crimes_spark.operators.curation.unigram_logprob`
      for the definition and the vocab-cap production variant.
    - ``gopher`` — census of docs by how many of four Gopher document
      rules they FAIL (Rae et al. 2021 Table A1: mean word length in
      [3,10], symbol-to-word ratio ≤ 0.1, ≥80% words alphabetic,
      ≥2 stopwords): bucket 0 = passes all, 4 = fails all.
    - ``by_source`` — per-source punctuation-ratio / stopword-ratio
      averages (prose-likeness by provenance; key = source, the ratio
      columns are typed NULLs on the bucket-keyed legs).

    The heuristic, gopher, and by_source legs are pure per-row codegen;
    the LM leg is one explode + one count shuffle + a broadcast
    re-join."""
    from big_data_chicago_crimes_spark.functions.text import (
        STOPWORDS_EN,
        tokens,
    )
    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    t = load_tables(spark, sf_dir)
    bucket = F.floor(quality_score("text") * 10).cast("int").alias("bucket")
    qual = (
        t.documents.select(bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("leg", F.lit("quality"))
    )
    lm = (
        unigram_logprob(t.documents)
        .select(
            F.floor(F.col("avg_logprob") * 10).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("leg", F.lit("lm"))
    )
    toks = tokens("text")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    mean_wlen = F.round(
        F.aggregate(
            toks, F.lit(0), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n_toks,
        6,
    )
    sym_ratio = F.round(
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))
            )
            / F.lit(3)
        ).cast("double")
        / n_toks,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_toks,
        6,
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    sw_count = F.size(
        F.filter(toks, lambda w: F.array_contains(sw, F.lower(w)))
    )
    fails = (
        ((mean_wlen < 3.0) | (mean_wlen > 10.0)).cast("int")
        + (sym_ratio > 0.1).cast("int")
        + (alpha_frac < 0.8).cast("int")
        + (sw_count < 2).cast("int")
    )
    gopher = (
        t.documents.select(fails.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("leg", F.lit("gopher"))
    )
    bucketed = (
        qual.unionByName(lm)
        .unionByName(gopher)
        .select(
            "leg",
            F.col("bucket").cast("string").alias("key"),
            "n_docs",
            F.lit(None).cast("double").alias("avg_punct_ratio"),
            F.lit(None).cast("double").alias("avg_stopword_ratio"),
        )
    )
    by_source = (
        t.documents.select(
            "source",
            punct_ratio("text").alias("pr"),
            stopword_ratio("text").alias("sr"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("pr"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("sr"), 6).alias("avg_stopword_ratio"),
        )
        .select(
            F.lit("by_source").alias("leg"),
            F.col("source").alias("key"),
            "n_docs",
            "avg_punct_ratio",
            "avg_stopword_ratio",
        )
    )
    return bucketed.unionByName(by_source).orderBy("leg", "key")


@register(
    "docs_repetition_stats",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), per_doc AS (
            SELECT doc_id, lang, len(t) AS n,
                   ROUND(1.0 - len(list_distinct(t)) * 1.0 / len(t), 6) AS dup_frac
            FROM toks
        ), grams AS (
            SELECT doc_id, 2 AS g,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                          i -> concat_ws(' ', t[i], t[i+1]))) AS gram
            FROM toks
            UNION ALL
            SELECT doc_id, 3 AS g,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
            FROM toks
            UNION ALL
            SELECT doc_id, 4 AS g,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 3, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]))) AS gram
            FROM toks
        ), gram_counts AS (
            SELECT doc_id, g, gram, COUNT(*) AS c
            FROM grams GROUP BY doc_id, g, gram
        ), tops AS (
            SELECT doc_id,
                   MAX(CASE WHEN g = 2 THEN c END) AS m2,
                   MAX(CASE WHEN g = 3 THEN c END) AS m3,
                   MAX(CASE WHEN g = 4 THEN c END) AS m4
            FROM gram_counts GROUP BY doc_id
        ), joined AS (
            SELECT p.lang, p.dup_frac,
                   ROUND(LEAST(2.0 * t.m2 / p.n, 1.0), 6) AS top2_frac,
                   ROUND(LEAST(3.0 * t.m3 / p.n, 1.0), 6) AS top3_frac,
                   ROUND(LEAST(4.0 * t.m4 / p.n, 1.0), 6) AS top4_frac
            FROM per_doc p JOIN tops t ON p.doc_id = t.doc_id
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN dup_frac > 0.3 OR top2_frac > 0.20
                             OR top3_frac > 0.18 OR top4_frac > 0.16
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               ROUND(AVG(dup_frac), 6) AS avg_dup_frac,
               ROUND(AVG(top2_frac), 6) AS avg_top2_frac,
               ROUND(AVG(top3_frac), 6) AS avg_top3_frac,
               ROUND(AVG(top4_frac), 6) AS avg_top4_frac
        FROM joined GROUP BY lang ORDER BY lang
    """,
    tags=("text", "quality", "repetition", "extension"),
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per language (Rae et al. 2021,
    Table A1): duplicate-token fraction (1 - distinct/total) and the
    token coverage of the most frequent word 2-, 3- and 4-gram, plus the
    count of docs the Gopher thresholds (dup > 0.3, top-2g > 0.20,
    top-3g > 0.18, top-4g > 0.16) would drop.

    Shape: the dup fraction is per-row codegen (array_distinct/size);
    all three gram sizes ride ONE tagged explode (array-of-struct concat,
    so the corpus is scanned once, not once per n) into a two-level
    count/conditional-max aggregate. Thresholds compare 6dp-ROUNDED
    values so the flag census is stable under float noise on both
    engines."""
    from big_data_chicago_crimes_spark.functions.text import tokens
    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute

    t = load_tables(spark, sf_dir)
    toks = tokens("text")
    base = spread_for_compute(t.documents).select(
        "doc_id", "lang", toks.alias("t")
    )
    n = F.size(F.col("t"))

    # The top-k-gram count is a PER-DOCUMENT statistic: a doc's grams
    # never need to meet another doc's, so exploding them into a
    # (doc, g, gram-string) shuffle (r17 profile: 832 KB in → 15.8 MB
    # shuffled, the suite's largest exchange) moved data that never
    # leaves its row. Per-row instead (guide §2.3/§8: shuffle nothing
    # you can decide locally): build each k's gram array, array_sort
    # it (equal grams become adjacent — binary order, engine-exact),
    # and one codegen fold reads off the longest equal run = the max
    # multiplicity. Identical values: same gram multiset per doc (the
    # try_element_at/concat_ws construction is unchanged, including the
    # partial-gram edge for docs shorter than k), and max-run-of-equal
    # == groupBy-count-max. The former inner join dropped NULL-text
    # docs (explode of a NULL array emits no rows); the explicit
    # isNotNull filter reproduces exactly that.
    def max_gram_mult(k: int) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        # Grams are xxhash64 of the k-token tuple, not the concat_ws
        # string (r18): tokens are whitespace-split so they contain no
        # spaces, making concat_ws(' ', ...) injective on tuples — and
        # Spark's hash chaining SKIPS null children exactly like
        # concat_ws skips them, so the partial-gram edge (try_element_at
        # past the array end → NULL) folds identically. Sorting and
        # run-comparing longs replaces per-gram string allocation,
        # string sort compares, and string equality in the fold (the
        # query's one heavy stage: 62 executor-seconds at the 10×
        # corpus, all in this per-row pass). Two distinct grams of one
        # doc would have to collide in 64 bits AND sort adjacent to
        # change a count — ~(grams/doc)²/2⁶⁴ per doc, ~10⁻¹³.
        grams = F.transform(
            idx,
            lambda i: F.xxhash64(
                *[F.try_element_at(F.col("t"), i + F.lit(j)) for j in range(k)]
            ),
        )
        run = F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit(None).cast("bigint").alias("prev"),
                F.lit(0).cast("int").alias("run"),
                F.lit(0).cast("int").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        return run.alias(f"m{k}")

    joined = base.filter(F.col("t").isNotNull()).select(
        "lang",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("t")) / n.cast("double"), 6
        ).alias("dup_frac"),
        *[
            F.round(
                F.least(
                    F.lit(float(k)) * max_gram_mult(k) / n, F.lit(1.0)
                ),
                6,
            ).alias(f"top{k}_frac")
            for k in (2, 3, 4)
        ],
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (
                    (F.col("dup_frac") > 0.3)
                    | (F.col("top2_frac") > 0.20)
                    | (F.col("top3_frac") > 0.18)
                    | (F.col("top4_frac") > 0.16)
                ).cast("long")
            ).alias("n_flagged"),
            F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
            F.round(F.avg("top2_frac"), 6).alias("avg_top2_frac"),
            F.round(F.avg("top3_frac"), 6).alias("avg_top3_frac"),
            F.round(F.avg("top4_frac"), 6).alias("avg_top4_frac"),
        )
        .orderBy("lang")
    )


@register(
    "docs_rolling_hash",
    oracle=None,  # xxhash64-based polynomial hash — rows-only check
    tags=("text", "fingerprint", "extension"),
)
def docs_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (Rabin-Karp) fingerprint per document —
    unlike md5, extendable incrementally over token windows; distinct-
    fingerprint census per lang."""
    from big_data_chicago_crimes_spark.functions.text import rolling_hash

    t = load_tables(spark, sf_dir)
    return (
        t.documents.select("lang", rolling_hash("text").alias("rh"))
        .groupBy("lang")
        .agg(F.countDistinct("rh").alias("n_unique_fingerprints"))
        .orderBy("lang")
    )


_ROLLING_MOD = 2**57 - 13
_ROLLING_HASH_MD5_SQL = f"""
    list_reduce(
        list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_split_to_array(trim(text), '\\s+'),
                t -> ('0x' || substring(md5(t), 1, 8))::BIGINT % 31000)),
        (acc, x) -> (acc * 31 + x) % {_ROLLING_MOD})
"""


@register(
    "docs_rolling_hash_md5_oracled",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(DISTINCT {_ROLLING_HASH_MD5_SQL}) AS BIGINT)
                   AS n_unique_fingerprints
        FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "fingerprint", "extension"),
)
def docs_rolling_hash_md5_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling-hash pipeline with md5-derived token values —
    reproducible in DuckDB via list_reduce, so the polynomial fold
    (token hash → (acc*31 + v) mod p) is value-hash-checked end to end.
    Certifies the fold that docs_rolling_hash runs with xxhash64."""
    from big_data_chicago_crimes_spark.functions.text import rolling_hash

    t = load_tables(spark, sf_dir)
    return (
        t.documents.select(
            "lang", rolling_hash("text", hash_family="md5").alias("rh")
        )
        .groupBy("lang")
        .agg(F.countDistinct("rh").alias("n_unique_fingerprints"))
        .orderBy("lang")
    )


_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


# Planted PII suffix for the seeded scrub certification. Constants, so
# every planted doc contributes exactly 1 email + 1 phone + 1 IP and a
# fixed redaction delta for the lookaround-pattern legs:
# phone '555-123-4567' (12) → <PHONE> (7) = 5; ip '10.0.0.1' (8) →
# <IP> (4) = 4. The email leg needs no arithmetic — RE2 computes it.
_PII_PLANT = " user@example.com 555-123-4567 10.0.0.1"


@register(
    "docs_pii_scrub_surface",
    # r14 merge of docs_pii_scrub_stats (was oracle=None — the phone/IP
    # patterns use lookarounds DuckDB's RE2 cannot parse) and
    # docs_pii_scrub_seeded, funding the embedding_pq_adc_topk window
    # slot. The merge UPGRADES the organic leg from rows-only to fully
    # hash-checked: its phone/IP legs are oracled as the arithmetic
    # truth on this corpus (zero organic hits, verified at every test
    # SF — any future organic phone/IP content surfaces as a loud
    # driver mismatch, not a silent pass) and its email leg genuinely
    # in RE2, the same contract the seeded leg already used.
    oracle=f"""
        WITH organic AS (
            SELECT 'organic' AS leg, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(text, '{_EMAIL_PAT}'))) AS BIGINT)
                       AS total_emails,
                   CAST(0 AS BIGINT) AS total_phones,
                   CAST(0 AS BIGINT) AS total_ips,
                   CAST(SUM(length(text)
                        - length(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g')))
                        AS BIGINT) AS chars_redacted_delta
            FROM documents GROUP BY source
        ), seeded_docs AS (
            SELECT source,
                   CASE WHEN doc_id % 17 = 0 THEN text || '{_PII_PLANT}'
                        ELSE text END AS text,
                   CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS planted
            FROM documents
        ), seeded AS (
            SELECT 'seeded' AS leg, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(text, '{_EMAIL_PAT}'))) AS BIGINT)
                       AS total_emails,
                   CAST(SUM(planted) AS BIGINT) AS total_phones,
                   CAST(SUM(planted) AS BIGINT) AS total_ips,
                   CAST(SUM(length(text)
                            - length(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'))
                            + planted * 9) AS BIGINT) AS chars_redacted_delta
            FROM seeded_docs GROUP BY source
        )
        SELECT * FROM organic UNION ALL SELECT * FROM seeded
        ORDER BY leg, source
    """,
    tags=("text", "pii", "scrub", "seeded", "extension"),
)
def docs_pii_scrub_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrub audit (C4-style cleanup step), two legs in ONE
    documents scan:

    - ``organic`` — the production audit: per source, docs scanned,
      per-category hit counts (emails / NANP phones / IPv4), characters
      removed by full redaction. Pure chained regexp — codegen, no UDF;
      linear scan at any scale.
    - ``seeded`` — the same scrub with PLANTED PII: docs with
      doc_id % 17 == 0 (17 is coprime to the 20-way source partitioning,
      so plants land in EVERY source group) get a constant suffix with
      one email, one NANP phone, one IPv4, giving the full production
      scrub (all three patterns, chained redaction) a non-trivial,
      fully-determined answer. Plant deltas: phone '555-123-4567' (12)
      → <PHONE> (7) = 5; ip '10.0.0.1' (8) → <IP> (4) = 4.

    Both legs ride one scan: each document explodes into its organic and
    seeded text variants (an in-row 2-element array — the regex work is
    identical to the two separate queries this merged, minus one parquet
    scan), then ONE (leg, source) hash-aggregate. tests/test_text.py
    pins planted phone/ip/email examples through redact_pii/pii_counts
    for the lookaround legs RE2 cannot replay."""
    from big_data_chicago_crimes_spark.functions.text import pii_counts, redact_pii
    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute

    t = load_tables(spark, sf_dir)
    seeded_text = (
        F.when(F.col("doc_id") % 17 == 0, F.concat("text", F.lit(_PII_PLANT)))
        .otherwise(F.col("text"))
    )
    # spread before the chained-regex projection (r17): the documents
    # parquet is one row group locally, so without it the whole
    # six-regex × two-leg scrub ran as a single task (profiled 1.0 s of
    # the query's 1.5 s wall on one core)
    exploded = spread_for_compute(t.documents).select(
        "source",
        F.explode(
            F.array(
                F.struct(F.lit("organic").alias("leg"), F.col("text").alias("text")),
                F.struct(F.lit("seeded").alias("leg"), seeded_text.alias("text")),
            )
        ).alias("l"),
    ).select(
        F.col("l.leg").alias("leg"), "source", F.col("l.text").alias("text")
    )
    scored = exploded.select(
        "leg",
        "source",
        pii_counts("text").alias("pc"),
        (F.length("text") - F.length(redact_pii("text"))).alias("delta"),
    )
    return (
        scored.groupBy("leg", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("pc.emails").cast("bigint").alias("total_emails"),
            F.sum("pc.phones").cast("bigint").alias("total_phones"),
            F.sum("pc.ips").cast("bigint").alias("total_ips"),
            F.sum("delta").cast("bigint").alias("chars_redacted_delta"),
        )
        .orderBy("leg", "source")
    )


_PACK_CAPACITY = 2048


@register(
    "docs_sequence_packing",
    oracle=f"""
        WITH toks AS (
            -- blank-text guard: regexp_split_to_array('') yields [''] (len 1)
            -- but the engine's token_count returns 0; packing's prefix-sum
            -- would amplify a single divergence into every later bin.
            SELECT lang, doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok
            FROM documents
        ), packed AS (
            SELECT lang, n_tok,
                   CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok) / {_PACK_CAPACITY}.0)
                        AS BIGINT) AS bin_id
            FROM toks
        ), bins AS (
            SELECT lang, bin_id, COUNT(*) AS n_docs, SUM(n_tok) AS bin_tokens
            FROM packed GROUP BY lang, bin_id
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               ROUND(AVG(bin_tokens), 6) AS avg_bin_tokens,
               CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens
        FROM bins GROUP BY lang ORDER BY lang
    """,
    tags=("text", "packing", "extension"),
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign documents to
    fixed-capacity ({_PACK_CAPACITY}-token) bins by contiguous fill — a
    document opens in the bin where its prefix-sum lands (running token
    sum per lang, deterministic doc_id order). Reports per-lang bin
    counts and fill. The window partitions by lang, so packing
    parallelizes across groups at scale exactly like a real packer
    shards; only the per-group running sum is sequential, which is
    inherent to contiguous packing. A doc longer than the capacity
    overflows its bin (contiguous fill never splits documents — the
    standard pre-splitting contract)."""
    from big_data_chicago_crimes_spark.functions.text import assign_pack_bins

    t = load_tables(spark, sf_dir)
    packed = assign_pack_bins(t.documents, "lang", "text", _PACK_CAPACITY)
    bins = packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )
    return (
        bins.groupBy("lang")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.avg("bin_tokens"), 6).alias("avg_bin_tokens"),
            F.max("bin_tokens").cast("bigint").alias("max_bin_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "docs_chunk_windows",
    # Oracle enumerates the same sliding windows with generate_series:
    # n_chunks = 1 + ceil(max(0, T - 32) / 24) (T > 0; blank docs emit
    # none — token_count's 0-for-blank convention, same guard as
    # docs_token_stats / docs_sequence_packing). Per-chunk_idx stats
    # require actually enumerating chunks, so the explode fan-out is the
    # thing being certified, not recomputable arithmetic.
    oracle="""
        WITH t AS (
            SELECT lang,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok
            FROM documents
        ), chunks AS (
            SELECT lang, n_tok,
                   unnest(generate_series(
                       0,
                       CAST(1 + ceil(greatest(n_tok - 32, 0) / 24.0) AS INTEGER) - 1
                   )) AS chunk_idx
            FROM t WHERE n_tok > 0
        )
        SELECT lang,
               CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               ROUND(AVG(LEAST(32, n_tok - chunk_idx * 24)), 6) AS avg_len,
               CAST(SUM(CASE WHEN LEAST(32, n_tok - chunk_idx * 24) >= 32
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_full
        FROM chunks GROUP BY lang, chunk_idx ORDER BY lang, chunk_idx
    """,
    tags=("text", "chunking", "extension"),
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-and-chunk fan-out (max_len=32, stride=24 — HF-style
    overflowing windows): every document becomes one training sequence
    per sliding token window via functions/text.py:chunk_spans
    (sequence+explode, JVM-side, no shuffle). Census per (lang,
    chunk_idx): how many sequences each window position yields, their
    average token length, and how many run at full capacity — the shape
    check of a sequence-preparation pipeline."""
    from big_data_chicago_crimes_spark.functions.text import chunk_spans

    t = load_tables(spark, sf_dir)
    chunks = chunk_spans(t.documents, "text", max_len=32, stride=24)
    return (
        chunks.groupBy("lang", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.round(F.avg("chunk_len"), 6).alias("avg_len"),
            F.sum((F.col("chunk_len") >= 32).cast("bigint")).alias("n_full"),
        )
        .orderBy("lang", "chunk_idx")
    )


@register(
    "docs_chunk_pack",
    # funded by the docs_hash_sample + docs_stratified_sample merge
    # (docs_sampling_census). Chunk → pack the CHUNKS (VERDICT r7 #7) —
    # the actual sequence-prep order of an LLM pipeline: long documents
    # become sliding token windows (max_len=32, stride=24), then the
    # emitted chunk TEXTS are re-tokenized and contiguous-fill packed
    # into 128-token bins per lang in (doc_id, chunk_idx) order. The
    # Spark side counts tokens of the materialized chunk_text slices
    # (with_text=True), while the oracle derives each chunk's length
    # arithmetically — LEAST(32, n_tok − idx·24) — so the hash certifies
    # that the emitted text slices re-tokenize to exactly the declared
    # window lengths AND that the bin prefix-sums over them agree.
    # Per-BIN output: every bin boundary is pinned, not a summary; one
    # divergent chunk anywhere shifts every later bin in its lang.
    oracle="""
        WITH t AS (
            SELECT lang, doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok
            FROM documents
        ), chunks AS (
            SELECT lang, doc_id, n_tok,
                   unnest(generate_series(
                       0,
                       CAST(1 + ceil(greatest(n_tok - 32, 0) / 24.0) AS INTEGER) - 1
                   )) AS chunk_idx
            FROM t WHERE n_tok > 0
        ), clen AS (
            SELECT lang, doc_id, chunk_idx,
                   LEAST(32, n_tok - chunk_idx * 24) AS c_tok
            FROM chunks
        ), packed AS (
            SELECT lang, c_tok,
                   CAST(FLOOR((SUM(c_tok) OVER (PARTITION BY lang
                        ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING)
                        - c_tok) / 128.0) AS BIGINT) AS bin_id
            FROM clen
        )
        SELECT lang, bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(c_tok) AS BIGINT) AS bin_tokens
        FROM packed GROUP BY lang, bin_id ORDER BY lang, bin_id
    """,
    tags=("text", "chunking", "packing", "pipeline", "extension"),
)
def docs_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level sequence packing: tokenize-and-chunk every document
    into sliding 32-token windows (stride 24), re-tokenize the emitted
    chunk texts, and contiguous-fill the chunks into 128-token training
    bins per lang — chunking and packing composed in the order a real
    sequence-preparation pipeline runs them. Plan shape: the chunk
    fan-out is a narrow sequence+explode map (no shuffle); packing adds
    one per-lang window (shuffle on lang only); re-tokenizing the slice
    is O(chunk) codegen. Returns every (lang, bin) with its chunk count
    and token fill."""
    from big_data_chicago_crimes_spark.functions.text import (
        assign_pack_bins_from_counts,
        chunk_spans,
        token_count,
    )

    t = load_tables(spark, sf_dir)
    chunks = chunk_spans(t.documents, "text", max_len=32, stride=24, with_text=True)
    counted = chunks.select(
        "lang", "doc_id", "chunk_idx", token_count("chunk_text").alias("c_tok")
    )
    packed = assign_pack_bins_from_counts(
        counted, "lang", "c_tok", ["doc_id", "chunk_idx"], capacity=128
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("c_tok").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("lang", "bin_id")
    )


@register(
    "docs_pipeline_end_to_end",
    # The flagship composition: exact dedup → per-domain quota (n=15) →
    # temperature mixing (alpha=0.5) → {sequence packing (capacity 512)
    # ∥ epoch upsampling → global curriculum order} — certified END TO
    # END by a chained-CTE oracle that replays every stage. The point
    # being proven: because every membership decision in the engine is
    # a content-hash function of the row (never a seeded RNG, never
    # partition-dependent), a six-stage pipeline is exactly
    # reproducible by another engine — one divergent row at ANY stage
    # would cascade into the packing prefix-sums / the rank sums and
    # break the hash. r17 (VERDICT r16 #8): the 'epochs' leg wires
    # epoch_upsample + global_hash_order onto the SAME mixed frame —
    # mixture → epochs → curriculum in one plan; per-(lang, epoch)
    # SUM(global_rank) pins the entire realized training order under
    # the driver hash (the row was already in the r17 window, so the
    # new stages certify this round).
    oracle="""
        WITH dedup AS (
            SELECT MIN(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ), survivors AS (
            SELECT d.* FROM documents d JOIN dedup USING (doc_id)
        ), quota AS (
            SELECT doc_id, lang, text FROM (
                SELECT s.*,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4096,
                                    md5(CAST(doc_id AS VARCHAR)),
                                    doc_id
                       ) AS rk
                FROM survivors s
            ) WHERE rk <= 15
        ), counts AS (
            SELECT lang, COUNT(*) AS n FROM quota GROUP BY lang
        ), mixed AS (
            SELECT q.* FROM quota q JOIN counts c USING (lang)
            WHERE ('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
                  < floor(1000 * sqrt((SELECT MIN(n) FROM counts) * 1.0 / c.n))
        ), toks AS (
            SELECT lang, doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok
            FROM mixed
        ), packedb AS (
            SELECT lang, n_tok,
                   CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0) AS BIGINT) AS bin_id
            FROM toks
        ), bins AS (
            SELECT lang, bin_id, COUNT(*) AS n_docs, SUM(n_tok) AS bin_tokens
            FROM packedb GROUP BY lang, bin_id
        ), rated AS (
            SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 2.25 WHEN 'zh' THEN 1.5
                             WHEN 'de' THEN 1.0 WHEN 'es' THEN 0.5
                             ELSE 3.0 END AS r
            FROM mixed
        ), ncopies AS (
            SELECT doc_id, lang,
                   CAST(FLOOR(r) AS INTEGER)
                   + CASE WHEN (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
                               / 281474976710657.0 <= r - FLOOR(r)
                          THEN 1 ELSE 0 END AS n
            FROM rated
        ), epochs AS (
            SELECT doc_id, lang,
                   CAST(unnest(generate_series(1, n)) AS INTEGER) AS epoch
            FROM ncopies WHERE n >= 1
        ), curriculum AS (
            SELECT lang, epoch,
                   row_number() OVER (ORDER BY
                       epoch,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
                           || CAST(epoch AS VARCHAR)), 1, 8))::BIGINT % 4096,
                       md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)),
                       CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)
                   ) AS global_rank
            FROM epochs
        )
        SELECT 'packed' AS leg, lang, CAST(NULL AS INTEGER) AS epoch,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens,
               CAST(NULL AS BIGINT) AS rank_sum
        FROM bins GROUP BY lang
        UNION ALL
        SELECT 'epochs' AS leg, lang, epoch,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(NULL AS BIGINT) AS total_tokens,
               CAST(NULL AS BIGINT) AS n_bins,
               CAST(NULL AS BIGINT) AS max_bin_tokens,
               CAST(SUM(global_rank) AS BIGINT) AS rank_sum
        FROM curriculum GROUP BY lang, epoch
        ORDER BY leg, lang, epoch
    """,
    tags=("pipeline", "dedup", "mixing", "packing", "epochs", "extension"),
)
def docs_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data pipeline in one plan, two legs off one
    mixture: exact dedup (min-id per normalized-text fingerprint) →
    per-domain quota cap (≤15 docs per source, histogram-bounded rank)
    → temperature-flattened language mixing (alpha=0.5) → then

    - ``packed``: fixed-capacity sequence packing (512-token bins,
      per-lang prefix-sum fill) — per-lang census of the packed state;
    - ``epochs``: the mixture REALIZED as a training stream —
      per-language epoch rates (en 2.25, zh 1.5, de 1.0, es 0.5,
      fr 3.0) via :func:`~big_data_chicago_crimes_spark.operators.sampling.epoch_upsample`
      (floor copies + derandomized stochastic rounding, scan-side
      explode), then the exact global training order via
      :func:`~big_data_chicago_crimes_spark.operators.sampling.global_hash_order`
      (epochs concatenated, hash-shuffled within each epoch;
      histogram-offset two-level rank, never a global-window funnel).
      Per-(lang, epoch) copy counts and SUM(global_rank) — the rank
      sums pin the whole realized permutation.

    Every stage's membership is a content-hash function of the row, so
    the composition is engine-portable end to end — the DuckDB oracle
    replays all six stages and must agree bit-for-bit."""
    from big_data_chicago_crimes_spark.functions.text import assign_pack_bins
    from big_data_chicago_crimes_spark.operators.dedup import exact_dedup
    from big_data_chicago_crimes_spark.operators.sampling import (
        epoch_upsample,
        global_hash_order,
        quota_sample,
        temperature_mix,
    )

    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    survivors = exact_dedup(t.documents)
    # Persist the capped set: it is RECIPE-sized (≤ n × #sources rows,
    # independent of corpus size), and without the cache the mix stage's
    # count and data legs each re-expand the dedup+quota subtree — the
    # plan showed six corpus scans instead of two. With it, everything
    # downstream reads a tiny InMemoryRelation. Registered with the
    # session scratch-cache so loop callers release it per build
    # (ADVICE r7) instead of leaking an entry per construction.
    capped = scratch_persist(quota_sample(survivors, ["source"], n=15, key="doc_id"))
    # Persisted too (r17): the mixture now feeds BOTH legs — packing
    # and the epoch/curriculum realization — and is recipe-sized.
    mixed = scratch_persist(
        temperature_mix(capped, "lang", "doc_id", alpha=0.5, buckets=1000)
    )

    # same packing implementation as docs_sequence_packing — one helper,
    # so the bin arithmetic can never diverge between the two oracles
    packed = assign_pack_bins(mixed, "lang", "text", capacity=512)
    bins = packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )
    packed_leg = (
        bins.groupBy("lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("n_bins"),
            F.max("bin_tokens").cast("bigint").alias("max_bin_tokens"),
        )
        .select(
            F.lit("packed").alias("leg"),
            "lang",
            F.lit(None).cast("int").alias("epoch"),
            "n_docs",
            "total_tokens",
            "n_bins",
            "max_bin_tokens",
            F.lit(None).cast("bigint").alias("rank_sum"),
        )
    )

    rates = spark.createDataFrame(
        [("en", 2.25), ("zh", 1.5), ("de", 1.0), ("es", 0.5), ("fr", 3.0)],
        "lang string, rate double",
    )
    epochs = epoch_upsample(
        mixed.select("doc_id", "lang"), rates, "lang", "doc_id"
    )
    # (doc_id, epoch) is the unique curriculum key — one string so the
    # rank's content hash is replayable verbatim in SQL
    keyed = epochs.withColumn(
        "__ck",
        F.concat(
            F.col("doc_id").cast("string"), F.lit("#"), F.col("epoch").cast("string")
        ),
    )
    ordered = global_hash_order(keyed, "__ck", ["epoch"])
    epoch_leg = (
        ordered.groupBy("lang", "epoch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("global_rank").cast("bigint").alias("rank_sum"),
        )
        .select(
            F.lit("epochs").alias("leg"),
            "lang",
            F.col("epoch").cast("int").alias("epoch"),
            "n_docs",
            F.lit(None).cast("bigint").alias("total_tokens"),
            F.lit(None).cast("bigint").alias("n_bins"),
            F.lit(None).cast("bigint").alias("max_bin_tokens"),
            "rank_sum",
        )
    )
    return packed_leg.unionByName(epoch_leg).orderBy("leg", "lang", "epoch")


@register(
    "docs_heavy_hitters_cms",
    # The sketch is deliberately undersized for the certification fixture
    # (depth 4 × width 16 vs 31 distinct tokens) so bucket collisions —
    # the thing the min-over-rows estimate exists to survive — occur
    # organically and the hash pins REAL overestimates, not a sketch so
    # wide it degenerates to exact counting. Production sizing is
    # width ≈ 2/ε (e.g. 2^20 for ε ≈ 2e-6 of corpus mass); the plan shape
    # is identical at any width. Funded by the forecast_revenue_change +
    # promo_revenue_pct merge (revenue_metric_surface).
    oracle="""
        WITH toks AS (
            SELECT token FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
        ),
        rows_r AS (SELECT unnest([0, 1, 2, 3]) AS r),
        sketch AS (
            SELECT r,
                   ('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || '|' || token),
                                      1, 8))::BIGINT % 16 AS bucket,
                   COUNT(*) AS c
            FROM toks CROSS JOIN rows_r
            GROUP BY 1, 2
        ),
        top15 AS (
            SELECT token, COUNT(*) AS exact_cnt
            FROM toks GROUP BY token
            ORDER BY exact_cnt DESC, token LIMIT 15
        )
        SELECT t.token, t.exact_cnt, MIN(COALESCE(s.c, 0)) AS cms_cnt,
               MIN(COALESCE(s.c, 0)) >= t.exact_cnt AS never_undercounts
        FROM top15 t
        CROSS JOIN rows_r rr
        LEFT JOIN sketch s
          ON s.r = rr.r
         AND s.bucket = ('0x' || substring(md5('cms' || CAST(rr.r AS VARCHAR)
                                               || '|' || t.token), 1, 8))::BIGINT % 16
        GROUP BY t.token, t.exact_cnt
        ORDER BY exact_cnt DESC, token
    """,
    tags=("text", "sketch", "cms", "extension"),
)
def docs_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation vs exact counts for the
    corpus's top-15 tokens (operators/sketches.py — Cormode &
    Muthukrishnan 2005).

    Plan: ONE token pass builds the sketch (explode → d-cell fan-out →
    bounded ≤ depth×width hash aggregate whose map-side partials are the
    per-partition sketches and whose exchange is the cell-wise sketch
    merge); the exact top-15 (the baseline the sketch replaces at scale)
    rides a second token pass through
    count-shuffle → TakeOrderedAndProject; estimation probes the
    BROADCAST sketch, so no third corpus pass exists. The certified
    ``never_undercounts`` column pins the CMS one-sided-error guarantee
    under the driver hash, and ``cms_cnt`` itself pins the exact
    md5-bucket geometry DuckDB replays."""
    from big_data_chicago_crimes_spark.functions.text import tokens
    from big_data_chicago_crimes_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    t = load_tables(spark, sf_dir)
    toks = (
        t.documents.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    sketch = cms_build(toks, "token", depth=4, width=16)
    top15 = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
        .limit(15)
    )
    # the probe frame is a groupBy output — distinct by construction, so
    # skip cms_estimate's defensive dedup exchange (ADVICE r14)
    est = cms_estimate(
        sketch, top15, "token", depth=4, width=16, items_distinct=True
    )
    return est.select(
        "token",
        "exact_cnt",
        "cms_cnt",
        (F.col("cms_cnt") >= F.col("exact_cnt")).alias("never_undercounts"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("token").asc())


def _hll_census_oracle() -> str:
    from big_data_chicago_crimes_spark.operators.sketches import hll_oracle_sql

    split_a = "SELECT * FROM fp WHERE doc_id % 3 IN (0, 1)"
    split_b = "SELECT * FROM fp WHERE doc_id % 3 IN (1, 2)"
    split_u = f"{split_a} UNION ALL {split_b}"
    return f"""
        WITH fp AS (
            SELECT source, doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        )
        SELECT 'per_source' AS leg, e.grp AS source, x.exact_distinct,
               e.n_regs, e.z_int, e.hll_est
        FROM ({hll_oracle_sql("source", "fp", "SELECT * FROM fp")}) e
        JOIN (SELECT source, CAST(COUNT(DISTINCT fp) AS BIGINT) AS exact_distinct
              FROM fp GROUP BY source) x ON x.source = e.grp
        UNION ALL
        SELECT 'merged' AS leg, 'ALL' AS source,
               (SELECT CAST(COUNT(DISTINCT fp) AS BIGINT) FROM fp) AS exact_distinct,
               e.n_regs, e.z_int, e.hll_est
        FROM ({hll_oracle_sql("'ALL'", "fp", "SELECT * FROM fp")}) e
        UNION ALL
        SELECT 'overlap' AS leg, u.grp AS source,
               COALESCE(x.exact_overlap, 0) AS exact_distinct,
               u.n_regs, u.z_int,
               GREATEST(ROUND(sa.hll_est + sb.hll_est - u.hll_est, 6), 0.0)
                   AS hll_est
        FROM ({hll_oracle_sql("source", "fp", split_a)}) sa
        JOIN ({hll_oracle_sql("source", "fp", split_b)}) sb
             ON sb.grp = sa.grp
        JOIN ({hll_oracle_sql("source", "fp", split_u)}) u
             ON u.grp = sa.grp
        LEFT JOIN (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM (
                SELECT source, fp FROM fp WHERE doc_id % 3 IN (0, 1)
                INTERSECT
                SELECT source, fp FROM fp WHERE doc_id % 3 IN (1, 2)
            ) GROUP BY source
        ) x ON x.source = u.grp
        ORDER BY leg, source
    """


@register(
    "docs_domain_distinct_hll",
    # NEW r14 (VERDICT r13 #6): the distinct-counting sibling of the CMS
    # row above — a MERGEABLE per-group HLL sketch table with the same
    # build-once / merge-cell-wise / constant-state posture, certified
    # against the exact census it replaces at scale. The oracle replays
    # the full sketch (md5 register routing, bit-length ranks, integer
    # z state, the shared α·m²·2^K literal) — unlike
    # approx_count_distinct, whose JVM-internal HLL++ no external engine
    # can reproduce, this sketch is engine-portable by construction.
    # Funded by the docs_minhash_md5_oracled + docs_simhash_md5_surface
    # merge (docs_sketch_md5_surface).
    oracle=_hll_census_oracle(),
    tags=("text", "sketch", "hll", "distinct", "extension"),
)
def docs_domain_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain distinct-document census via HyperLogLog (Flajolet et
    al. 2007; operators/sketches.py), three certified legs:

    - ``per_source`` — for every source: the exact distinct-fingerprint
      count (the baseline the sketch replaces at scale — a shuffle
      keyed by every distinct fingerprint) next to the sketch state
      (``n_regs``, integer ``z_int`` — bit-exact across engines) and
      the ``hll_est`` estimate (~3.2% error at p=10).
    - ``merged`` — the MERGEABILITY contract run for real: two sketches
      built on disjoint halves (doc_id parity), merged register-wise
      (``hll_merge``), estimated globally. The oracle computes the
      global sketch DIRECTLY, so the driver hash certifies
      merge-of-splits ≡ sketch-of-union — the property that lets
      per-day/per-split sketch tables be stored and re-aggregated
      without re-reading 100 TB.
    - ``overlap`` (NEW r16, VERDICT r15 #5) — cross-split leakage via
      ``hll_overlap_estimate``'s inclusion–exclusion over two STORED
      sketches (splits by doc_id mod 3: {0,1} vs {1,2}, so the true
      per-source overlap — the parity-1 fingerprints — is non-vacuous
      by construction), with the EXACT distinct-intersection count in
      the same row (``exact_distinct`` column) as its truth twin and
      the union sketch's state in ``n_regs``/``z_int``. At scale this
      answers "does the train shard leak into eval" from three
      m-register aggregates on stored state instead of a distinct-key
      join over raw data.

    One documents scan feeds all legs: the (source, doc_id, fp) frame is
    scratch-persisted (3 narrow columns) and consumed by every sketch
    build and every exact baseline."""
    from big_data_chicago_crimes_spark.functions.text import doc_fingerprint
    from big_data_chicago_crimes_spark.operators.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
        hll_overlap_estimate,
    )
    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    fp = scratch_persist(
        t.documents.select("source", "doc_id", doc_fingerprint("text").alias("fp"))
    )

    est = hll_estimate(hll_build(fp, "fp", ["source"]), ["source"])
    exact = fp.groupBy("source").agg(
        F.countDistinct("fp").cast("bigint").alias("exact_distinct")
    )
    per_source = est.join(exact, "source").select(
        F.lit("per_source").alias("leg"),
        "source",
        "exact_distinct",
        "n_regs",
        "z_int",
        "hll_est",
    )

    def half(parity: int):
        return hll_build(
            fp.filter(F.col("doc_id") % 2 == parity).select(
                F.lit("ALL").alias("source"), "fp"
            ),
            "fp",
            ["source"],
        )

    est_all = hll_estimate(hll_merge(half(0), half(1), ["source"]), ["source"])
    exact_all = fp.select(F.lit("ALL").alias("source"), "fp").groupBy("source").agg(
        F.countDistinct("fp").cast("bigint").alias("exact_distinct")
    )
    merged = est_all.join(exact_all, "source").select(
        F.lit("merged").alias("leg"),
        "source",
        "exact_distinct",
        "n_regs",
        "z_int",
        "hll_est",
    )

    split_a = fp.filter((F.col("doc_id") % 3).isin(0, 1))
    split_b = fp.filter((F.col("doc_id") % 3).isin(1, 2))
    sk_a = hll_build(split_a, "fp", ["source"])
    sk_b = hll_build(split_b, "fp", ["source"])
    ov = hll_overlap_estimate(sk_a, sk_b, ["source"])
    u_state = hll_estimate(hll_merge(sk_a, sk_b, ["source"]), ["source"]).select(
        "source", "n_regs", "z_int"
    )
    exact_ov = (
        split_a.select("source", "fp")
        .intersect(split_b.select("source", "fp"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    overlap = (
        ov.join(u_state, "source")
        .join(exact_ov, "source", "left")
        .na.fill({"exact_overlap": 0})
        .select(
            F.lit("overlap").alias("leg"),
            "source",
            F.col("exact_overlap").alias("exact_distinct"),
            "n_regs",
            "z_int",
            F.col("overlap_est").alias("hll_est"),
        )
    )
    return (
        per_source.unionByName(merged)
        .unionByName(overlap)
        .orderBy("leg", "source")
    )
