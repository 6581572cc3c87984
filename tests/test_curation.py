"""Curation-operator tests: connected-components semantics, the loud
non-convergence guard on long chains, and the reliable-checkpoint mode
for cluster-durable runs (VERDICT r3 next-round #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.operators.curation import connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_min_label(spark):
    """Two components + an isolated edge: every node labeled with the
    minimum reachable id."""
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11), (3, 4)])
    got = {
        (r.id, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain_raises_loudly(spark):
    """A chain graph's diameter bounds the rounds min-label propagation
    needs; when max_iter is below that, the operator must RAISE (never
    return a silently-unconverged labeling)."""
    chain = _edges(spark, [(i, i + 1) for i in range(12)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    # and with enough rounds the same chain collapses to component 0
    labels = connected_components(chain, max_iter=15).collect()
    assert {r.component for r in labels} == {0}
    assert len(labels) == 13


def test_connected_components_round_sizes_and_frontier(spark):
    """Frontier-pruned propagation (VERDICT r10 #5): the per-round
    changed-label counts are stamped via ``round_sizes``, the frontier
    shrinks monotonically to 0, and a near-clique converges with ONE
    propagation round after seeding (the regime dedup graphs live in —
    the seed already labels the whole clique with its minimum)."""
    clique = _edges(
        spark, [(a, b) for a in range(5) for b in range(a + 1, 5)]
    )
    sizes = []
    got = {
        (r.id, r.component)
        for r in connected_components(
            clique, edges_canonical=True, round_sizes=sizes
        ).collect()
    }
    assert got == {(i, 0) for i in range(5)}
    # seed labels all of 1..4 with 0 (frontier 4); round 1 changes
    # nothing -> converged
    assert sizes == [4, 0]

    chain = _edges(spark, [(i, i + 1) for i in range(12)])
    sizes = []
    labels = connected_components(chain, max_iter=15, round_sizes=sizes)
    assert {r.component for r in labels.collect()} == {0}
    assert sizes[0] == 12 and sizes[-1] == 0
    assert sizes == sorted(sizes, reverse=True)  # frontier never grows


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable=True switches the per-round lineage cut from
    executor-local localCheckpoint to reliable DataFrame.checkpoint()
    under the SESSION-scoped checkpoint root (set once at session
    creation; operators never mutate setCheckpointDir): same labeling,
    and the root actually receives RDD checkpoint data (proving the
    durable path was taken)."""
    import pathlib

    root = spark.sparkContext.getCheckpointDir()
    assert root, "session factory must set the checkpoint root once"
    edges = _edges(spark, [(1, 2), (2, 3), (7, 8)])
    got = {
        (r.id, r.component)
        for r in connected_components(edges, reliable=True).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    root_path = pathlib.Path(root.removeprefix("file:"))
    ckpt_files = list(root_path.rglob("*"))
    assert ckpt_files, "reliable checkpoint root is empty — durable path not taken"


def test_connected_components_planted_24_link_chain(spark):
    """A 24-link path graph has diameter 24: min-label propagation needs
    ~24 rounds and must converge inside max_iter=30 to the single
    component {all nodes → 0}."""
    short = _edges(spark, [(i, i + 1) for i in range(24)])
    prop = {
        (r.id, r.component)
        for r in connected_components(short, max_iter=30).collect()
    }
    assert prop == {(i, 0) for i in range(25)}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_logprob_matches_hand_computation(spark):
    """Tiny corpus where the smoothed LM is computable by hand:
    corpus = {a: 3, b: 1} → N=4, V=2, p(a)=(3+1)/6, p(b)=(1+1)/6."""
    import math

    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    docs = _docs(spark, [(1, "a a b"), (2, "a")])
    out = {
        r["doc_id"]: r["avg_logprob"]
        for r in unigram_logprob(docs).collect()
    }
    lp_a = math.log10(4 / 6)
    lp_b = math.log10(2 / 6)
    assert out[1] == round((2 * lp_a + lp_b) / 3, 6)
    assert out[2] == round(lp_a, 6)


def test_unigram_logprob_cap_at_or_above_vocab_is_identity(spark):
    """cap ≥ V must not change any score (N and V stay exact; no token
    is forced to the OOV floor)."""
    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    docs = _docs(
        spark,
        [(i, f"tok{i % 7} tok{(i * 3) % 7} common common") for i in range(40)],
    )
    full = unigram_logprob(docs).orderBy("doc_id").collect()
    capped = unigram_logprob(docs, vocab_cap=1000).orderBy("doc_id").collect()
    assert full == capped


def test_unigram_logprob_capped_oov_scores_floor(spark):
    """With cap=1 only the most frequent token keeps its count; every
    other token scores the smoothed OOV floor 1/(N+V) — so a doc made of
    rare tokens must score exactly n·log10(1/(N+V))/n."""
    import math

    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    docs = _docs(spark, [(1, "hot hot hot hot"), (2, "rare1 rare2")])
    out = {
        r["doc_id"]: r["avg_logprob"]
        for r in unigram_logprob(docs, vocab_cap=1).collect()
    }
    n_total, v_size = 6, 3
    assert out[2] == round(math.log10(1 / (n_total + v_size)), 6)
    assert out[1] == round(math.log10(5 / (n_total + v_size)), 6)


def test_unigram_logprob_cap_tiebreak_deterministic(spark):
    """Equal-count tokens at the cap boundary break by token asc —
    two runs (and any partitioning) must pick the same survivor."""
    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    docs = _docs(spark, [(1, "aa bb"), (2, "aa bb")])
    a = unigram_logprob(docs, vocab_cap=1).orderBy("doc_id").collect()
    b = (
        unigram_logprob(docs.repartition(7), vocab_cap=1)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_dsir_logratio_matches_hand_computation(spark):
    """corpus = {d1: 'a a', d2: 'b'}, target = {d1}: shared V=2,
    N_src=3, N_tgt=2; d1's tokens match the target exactly (positive
    score), d2's token is target-OOV (negative score)."""
    import math

    from big_data_chicago_crimes_spark.operators.curation import dsir_logratio

    docs = _docs(spark, [(1, "a a"), (2, "b")])
    target = docs.filter("doc_id = 1")
    out = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_logratio(docs, target).collect()
    }
    shift = math.log10(2 + 2) - math.log10(3 + 2)  # log10((nt+v)/(ns+v))
    assert out[1] == round(0.0 - shift, 6)
    d2 = math.log10(0 + 1) - math.log10(1 + 1)
    assert out[2] == round(d2 - shift, 6)


def test_dsir_logratio_prefers_target_like_docs(spark):
    """Docs sharing the target's vocabulary outrank docs that don't."""
    from big_data_chicago_crimes_spark.operators.curation import dsir_logratio

    docs = _docs(
        spark,
        [(1, "law court judge"), (2, "law court ruling"), (3, "cat dog fish")],
    )
    target = docs.filter("doc_id = 1")
    out = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_logratio(docs, target).collect()
    }
    assert out[2] > out[3]


def test_shared_lm_fit_matches_private_fits(spark):
    """Passing a fit_unigram_lm frame to unigram_logprob / dsir_logratio
    must be a pure execution change: scores identical to each
    operator's private fit, including under vocab_cap."""
    from big_data_chicago_crimes_spark.operators.curation import (
        dsir_logratio,
        fit_unigram_lm,
        unigram_logprob,
    )

    docs = _docs(
        spark,
        [
            (1, "the cat sat on the mat"),
            (2, "the dog ate the cat food"),
            (3, "quantum flux capacitors hum"),
            (4, "the the the repeated stopword soup"),
        ],
    )
    lm = fit_unigram_lm(docs)
    for cap in (None, 3):
        a = {r.doc_id: r.avg_logprob for r in unigram_logprob(docs, vocab_cap=cap).collect()}
        b = {
            r.doc_id: r.avg_logprob
            for r in unigram_logprob(docs, vocab_cap=cap, lm=lm).collect()
        }
        assert a == b, cap
    target = docs.filter("doc_id = 3")
    da = {r.doc_id: r.dsir_score for r in dsir_logratio(docs, target).collect()}
    db = {
        r.doc_id: r.dsir_score
        for r in dsir_logratio(docs, target, source_lm=lm).collect()
    }
    assert da == db


def test_bigram_pairs_order_and_short_docs(spark):
    """Adjacent pairs come out in document order; docs with <2 tokens
    (including blank text, whose trim+split yields ['']) emit none."""
    from big_data_chicago_crimes_spark.operators.curation import bigram_pairs

    docs = _docs(spark, [(1, "a b c"), (2, "solo"), (3, "  ")])
    rows = sorted(
        (r["doc_id"], r["__w1"], r["__w2"])
        for r in bigram_pairs(docs).collect()
    )
    assert rows == [(1, "a", "b"), (1, "b", "c")]


def test_bigram_logprob_matches_hand_computation(spark):
    """Tiny corpus computable by hand: corpus = doc1 'a a b' + doc2
    'a b' → cu(a)=3, cu(b)=2, N=5, V=2; c2(a,a)=1, c2(a,b)=2, c1(a)=3;
    p(a|a) = .75·1/3 + .25·4/7, p(b|a) = .75·2/3 + .25·3/7."""
    import math

    from big_data_chicago_crimes_spark.operators.curation import bigram_logprob

    docs = _docs(spark, [(1, "a a b"), (2, "a b")])
    out = {r["doc_id"]: r["bigram_lp"] for r in bigram_logprob(docs).collect()}
    p_aa = 0.75 * 1 / 3 + 0.25 * (3 + 1) / (5 + 2)
    p_ab = 0.75 * 2 / 3 + 0.25 * (2 + 1) / (5 + 2)
    assert out[1] == round((math.log10(p_aa) + math.log10(p_ab)) / 2, 6)
    assert out[2] == round(math.log10(p_ab), 6)


def test_bigram_logprob_short_docs_drop_out(spark):
    """Documents with <2 tokens carry no bigram evidence and drop out."""
    from big_data_chicago_crimes_spark.operators.curation import bigram_logprob

    docs = _docs(spark, [(1, "a b"), (2, "solo"), (3, "")])
    assert [r["doc_id"] for r in bigram_logprob(docs).collect()] == [1]


def test_bigram_logprob_unseen_backs_off_to_unigram_floor(spark):
    """Scoring a frame under an LM fit elsewhere: an entirely-unseen
    bigram gets the smoothed unigram floor (1−λ)·1/(N+V) — the seen
    term coalesces to 0, never to NULL (which would kill the doc)."""
    import math

    from big_data_chicago_crimes_spark.operators.curation import (
        bigram_logprob,
        fit_bigram_lm,
        fit_unigram_lm,
    )

    corpus = _docs(spark, [(1, "a b")])
    lm2 = fit_bigram_lm(corpus)
    lm1 = fit_unigram_lm(corpus)  # cu(a)=1, cu(b)=1 → N=2, V=2
    new = _docs(spark, [(9, "z z")])
    out = bigram_logprob(new, lm2=lm2, lm1=lm1).collect()
    assert len(out) == 1
    floor = 0.25 * (0 + 1) / (2 + 2)
    assert out[0]["bigram_lp"] == round(math.log10(floor), 6)


def test_bigram_logprob_carry_cols_ride_the_groupby(spark):
    from big_data_chicago_crimes_spark.operators.curation import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a", "web"), (2, "b a", "books")],
        "doc_id long, text string, source string",
    )
    rows = bigram_logprob(docs, carry_cols=("source",)).collect()
    assert {(r["doc_id"], r["source"]) for r in rows} == {(1, "web"), (2, "books")}


def test_bigram_logprob_half_provided_model_raises(spark):
    """lm2 without lm1 (or vice versa) would silently mix two corpora in
    one probability model — must raise loudly."""
    from big_data_chicago_crimes_spark.operators.curation import (
        bigram_logprob,
        fit_bigram_lm,
        fit_unigram_lm,
    )

    corpus = _docs(spark, [(1, "a b")])
    new = _docs(spark, [(9, "a b")])
    with pytest.raises(ValueError, match="BOTH lm2"):
        bigram_logprob(new, lm2=fit_bigram_lm(corpus))
    with pytest.raises(ValueError, match="BOTH lm2"):
        bigram_logprob(new, lm1=fit_unigram_lm(corpus))


def test_shared_unigram_fit_is_exact_dropin_for_self_fits(spark):
    """One tokenization convention (blank text = zero tokens): a shared
    fit_unigram_lm frame must reproduce BOTH scorers' self-fit results
    bit-for-bit, even on corpora with blank documents — the drift that
    previously made lm1=fit_unigram_lm a score-changing drop-in for
    bigram_logprob."""
    from big_data_chicago_crimes_spark.operators.curation import (
        bigram_logprob,
        fit_bigram_lm,
        fit_unigram_lm,
        unigram_logprob,
    )

    docs = _docs(spark, [(1, "a b a"), (2, "b a"), (3, "   ")])
    lm = fit_unigram_lm(docs)
    uni_self = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs).collect()}
    uni_shared = {
        r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs, lm=lm).collect()
    }
    assert uni_self == uni_shared
    bi_self = {r["doc_id"]: r["bigram_lp"] for r in bigram_logprob(docs).collect()}
    bi_shared = {
        r["doc_id"]: r["bigram_lp"]
        for r in bigram_logprob(docs, lm2=fit_bigram_lm(docs), lm1=lm).collect()
    }
    assert bi_self == bi_shared


def test_unigram_and_dsir_drop_blank_docs_not_score_phantom_token(spark):
    """Blank/NULL text yields zero tokens (the token_count convention):
    such docs drop out of LM scoring instead of being scored on the ''
    pseudo-token."""
    from big_data_chicago_crimes_spark.operators.curation import (
        dsir_logratio,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "   ")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in unigram_logprob(docs).collect()} == {1}
    target = _docs(spark, [(9, "a")])
    assert {r["doc_id"] for r in dsir_logratio(docs, target).collect()} == {1}


def test_dsir_oov_under_provided_lm_gets_floor_not_deleted(spark):
    """A provided source_lm that lacks a document's token must not
    silently delete that token from the score — it gets the add-one
    floor, so an off-domain doc scores measurably differently from an
    in-domain one."""
    from big_data_chicago_crimes_spark.operators.curation import (
        dsir_logratio,
        fit_unigram_lm,
    )

    import math

    lm = fit_unigram_lm(_docs(spark, [(100, "a b")]))  # cs: a=1, b=1; ns=2
    docs = _docs(spark, [(2, "a zzz")])
    target = _docs(spark, [(9, "a a b")])  # ct: a=2, b=1; nt=3
    out = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_logratio(docs, target, source_lm=lm).collect()
    }
    # zzz is source-OOV: both engines' smoothed floors contribute
    # log10(0+1) = 0 to the numerator, and the token COUNTS in n (the
    # old inner join deleted it: n=1 and score = term_a - const)
    v = 2
    term_a = math.log10(2 + 1) - math.log10(1 + 1)
    const = math.log10(3 + v) - math.log10(2 + v)
    assert out[2] == round((term_a - 2 * const) / 2, 6)


def test_ngram_contamination_null_text_folds_to_blank_gram(spark):
    """NULL corpus text folds to the '' gram (the DuckDB oracle's
    concat_ws semantics) so a blank benchmark row matches it on both
    engines instead of only in the oracle."""
    from big_data_chicago_crimes_spark.operators.curation import (
        ngram_contamination,
    )

    corpus = spark.createDataFrame([(1, None)], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "")], "doc_id long, text string")
    row = ngram_contamination(corpus, bench, n=4).collect()[0]
    assert (row["n_ngrams"], row["n_contaminated"]) == (1, 1)


def test_tfidf_blank_docs_form_no_pairs(spark):
    """Two whitespace-only docs must NOT pair at cosine 1.0 through the
    '' pseudo-token."""
    from big_data_chicago_crimes_spark.operators.curation import (
        tfidf_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "  ", "b"), (2, " ", "b"), (3, "a b", "b"), (4, "a b", "b")],
        "doc_id long, text string, blk string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in tfidf_cosine_pairs(docs, ["blk"], threshold=0.3).collect()
    }
    assert pairs == {(3, 4)}


def test_bigram_logprob_validates_lam(spark):
    from big_data_chicago_crimes_spark.operators.curation import bigram_logprob

    docs = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="lam"):
        bigram_logprob(docs, lam=1.0)
    with pytest.raises(ValueError, match="lam"):
        bigram_logprob(docs, lam=-0.1)


def test_lm_scoring_join_broadcasts_under_aqe(spark):
    """The vocabulary-side scoring joins carry NO static broadcast hint
    (_vocab_side, VERDICT r13 #4 — vocabulary grows with the corpus, so
    an unconditional hint is a 100 TB driver OOM). At bench scales the
    posture must cost nothing: AQE sees the post-aggregate vocab size at
    runtime and converts the join to broadcast anyway. Execute and check
    the FINAL adaptive plan."""
    from big_data_chicago_crimes_spark.operators.curation import unigram_logprob

    docs = _docs(spark, [(i, f"tok{i % 7} tok{(i + 1) % 7} common") for i in range(50)])
    scored = unigram_logprob(docs)
    scored.collect()  # materialize so AQE finalizes the plan
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]


def _ref_bpe(texts, n_merges, eow="</w>", min_freq=1):
    """Independent reference BPE trainer (Sennrich et al. 2016
    pseudo-code): pair counts over the word-frequency vocabulary, max
    frequency with (lhs, rhs) lexicographic tie-break, canonical greedy
    left-to-right merge application."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in (t or "").strip().split():
            if w:
                vocab[w] += 1
    seqs = [(list(w) + [eow], c) for w, c in vocab.items()]
    merges = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for syms, c in seqs:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if f < min_freq:
            break
        merges.append((step, a, b, a + b, f))
        nxt = []
        for syms, c in seqs:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            nxt.append((out, c))
        seqs = nxt
    return merges


def test_bpe_train_merges_matches_reference_model(spark):
    """The distributed trainer's merge table equals the independent
    Sennrich-pseudo-code model on a corpus that exercises tie-breaks,
    self-pair runs (the case where string replace() diverges from the
    canonical greedy fold), and multi-step subword growth."""
    from big_data_chicago_crimes_spark.operators.curation import bpe_train_merges

    texts = [
        "low low low lower lower lowest",
        "newer newer new wider wide wide",
        "aaaa aaa aa baaab",
        "low lowest newer wide aaa",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.step, r.lhs, r.rhs, r.merged, r.freq)
        for r in bpe_train_merges(df, "text", n_merges=10).orderBy("step").collect()
    ]
    want = _ref_bpe(texts, 10)
    assert got == want, (got, want)
    # determinism under repartition
    again = [
        (r.step, r.lhs, r.rhs, r.merged, r.freq)
        for r in bpe_train_merges(df.repartition(7), "text", n_merges=10)
        .orderBy("step")
        .collect()
    ]
    assert again == got


def test_bpe_train_merges_early_stop_and_guards(spark):
    """min_freq stops training when the best pair drops below it; the
    trainer drains to an empty table when every word is fully merged;
    bad parameters raise."""
    import pytest as _pytest

    from big_data_chicago_crimes_spark.operators.curation import bpe_train_merges

    df = spark.createDataFrame([("ab ab ab cd",)], "text string")
    # freq(a,b)=3 dominates; after enough merges every word is one
    # symbol and pair counting drains -> early exit, not an error
    full = bpe_train_merges(df, "text", n_merges=50).collect()
    assert 0 < len(full) < 50
    want = _ref_bpe(["ab ab ab cd"], 50)
    assert [(r.step, r.lhs, r.rhs, r.merged, r.freq) for r in full] == want
    # min_freq: the cd-word pairs are singletons
    capped = bpe_train_merges(df, "text", n_merges=50, min_freq=2)
    assert [(r.step, r.lhs, r.rhs, r.merged, r.freq) for r in capped.collect()] == _ref_bpe(
        ["ab ab ab cd"], 50, min_freq=2
    )
    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train_merges(df, "text", n_merges=0)
    with _pytest.raises(ValueError, match="min_freq"):
        bpe_train_merges(df, "text", min_freq=0)
    with _pytest.raises(ValueError, match="eow"):
        bpe_train_merges(df, "text", eow="a b")


def test_bpe_encode_counts_matches_reference_model(spark):
    """Encoding with learned rules gives per-group subword counts equal
    to applying the reference model's merges word by word — including
    self-pair runs — and the rules guard raises on an empty table."""
    import pytest as _pytest

    from big_data_chicago_crimes_spark.operators.curation import (
        bpe_encode_counts,
        bpe_train_merges,
    )

    texts = [
        ("en", "low low lower lowest aaa"),
        ("en", "newer new wider wide"),
        ("fr", "aaaa baaab low low"),
    ]
    df = spark.createDataFrame(texts, "lang string, text string")
    merges = _ref_bpe([t for _, t in texts], 6)
    rules = [(a, b) for _, a, b, _, _ in merges]

    def encode_len(word):
        syms = list(word) + ["</w>"]
        for a, b in rules:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return len(syms)

    want = {}
    for lang, t in texts:
        for w in t.split():
            cur = want.setdefault(lang, [0, 0])
            cur[0] += 1
            cur[1] += encode_len(w)
    got = {
        r.lang: [r.n_words, r.n_bpe_tokens]
        for r in bpe_encode_counts(df, rules, "text", group_cols=["lang"]).collect()
    }
    assert got == {k: v for k, v in want.items()}
    # engine-trained rules equal the model's (sanity: shared corpus)
    trained = [
        (r.lhs, r.rhs)
        for r in bpe_train_merges(df, "text", n_merges=6).orderBy("step").collect()
    ]
    assert trained == rules
    with _pytest.raises(ValueError, match="rules"):
        bpe_encode_counts(df, [], "text")


def test_bpe_byte_alphabet_universal_parity_on_emoji(spark):
    """The byte-level alphabet closes the char alphabet's documented
    non-BMP limit: on an emoji/accents corpus (supplementary-plane code
    points), Spark training matches BOTH the independent byte-level
    Python model AND the DuckDB oracle replay — the universal
    cross-engine contract the char alphabet cannot give (Spark splits
    a non-BMP char into surrogate halves; DuckDB does not)."""
    import duckdb

    from big_data_chicago_crimes_spark.operators.curation import bpe_train_merges
    from big_data_chicago_crimes_spark.queries.curation_queries import (
        bpe_oracle_sql,
    )

    texts = [
        ("en", "héllo🙂 héllo🙂 héllo world🙂"),
        ("en", "héllo world world🙂 naïve"),
        ("fr", "naïve naïve héllo🙂"),
    ]
    df = spark.createDataFrame(texts, "lang string, text string")

    # independent byte-level reference model
    def ref(texts, n):
        from collections import Counter

        vocab = Counter()
        for _, t in texts:
            for w in t.split():
                vocab[w] += 1
        seqs = [
            ([f"{b:02x}" for b in w.encode("utf-8")] + ["</w>"], c)
            for w, c in vocab.items()
        ]
        merges = []
        for step in range(1, n + 1):
            pc = Counter()
            for syms, c in seqs:
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            if not pc:
                break
            (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((step, a, b, a + b, f))
            nxt = []
            for syms, c in seqs:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                nxt.append((out, c))
            seqs = nxt
        return merges

    got = [
        (r.step, r.lhs, r.rhs, r.merged, r.freq)
        for r in bpe_train_merges(df, "text", n_merges=8, alphabet="byte")
        .orderBy("step")
        .collect()
    ]
    assert got == ref(texts, 8)

    # full DuckDB oracle replay on the same corpus (merge leg only)
    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(texts, columns=["lang", "text"]),
    )
    od = con.execute(bpe_oracle_sql(8, alphabet="byte")).df()
    merge_rows = od[od["leg"] == "merge"]
    oracle = [
        (int(r.step), r.lhs, r.rhs, r.merged, int(r.freq))
        for r in merge_rows.itertuples()
    ]
    assert oracle == got
    # sanity: the learned symbols are hex-pair concatenations / eow
    assert all(
        set(l) <= set("0123456789abcdef") or l == "</w>" for _, l, _, _, _ in got
    )


def test_bpe_merge_fold_identity_fast_path(spark):
    """The r17 contains-guard in _bpe_merge_fold is value-identical to
    the unguarded fold: identity (byte-for-byte) on site-free strings,
    and the canonical greedy result — including self-pair runs whose
    merges consume would-be sites — when sites exist."""
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.curation import _bpe_merge_fold

    cases = [
        # (symbol string, a, b, expected fold result)
        (" l o w </w> ", "l", "o", " lo w </w> "),
        (" l o w </w> ", "o", "l", " l o w </w> "),  # no site: identity
        (" a a a a a </w> ", "a", "a", " aa aa a </w> "),  # greedy self-pair
        (" aa a aa </w> ", "a", "a", " aa a aa </w> "),  # 'a a' absent
        (" x y x y x </w> ", "x", "y", " xy xy x </w> "),
        (" </w> ", "x", "y", " </w> "),  # fully-merged single symbol
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "s string")
    for s, a, b, want in cases:
        got = (
            df.filter(F.col("s") == s)
            .select(_bpe_merge_fold(F.col("s"), a, b).alias("r"))
            .collect()[0]["r"]
        )
        assert got == want, (s, a, b, got, want)
