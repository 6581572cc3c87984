"""Property-based tests (Hypothesis): the engine's composed operators
must agree with independent pandas reference implementations on
arbitrary generated inputs — not just the fixtures we thought of."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_data_chicago_crimes_spark.operators.asof import asof_join
from big_data_chicago_crimes_spark.operators.windows import moving_average

# Spark jobs per example are expensive: keep example counts small but
# meaningful, and disable the deadline (JVM warm-up skews timing).
SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ts_strategy = st.integers(min_value=0, max_value=10_000)  # epoch seconds


@SETTINGS
@given(
    left=st.lists(
        st.tuples(st.integers(1, 3), ts_strategy), min_size=1, max_size=25, unique=True
    ),
    right=st.lists(
        st.tuples(st.integers(1, 3), ts_strategy, st.integers(0, 100)),
        min_size=1,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    from datetime import datetime, timezone

    def dt(t):
        return datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None)

    ldf = spark.createDataFrame(
        [(k, dt(t)) for k, t in left], "k int, ts timestamp"
    )
    rdf = spark.createDataFrame(
        [(k, dt(t), v) for k, t, v in right], "k int, rts timestamp, val int"
    )
    out = asof_join(ldf, rdf, "k", "ts", "rts", ["val"]).collect()
    # key results by (k, epoch) — avoids tz-dependence of collected datetimes
    got = {(r.k, int(r.ts.timestamp())): r.val_asof for r in out}

    lp = pd.DataFrame(left, columns=["k", "t"]).sort_values("t", kind="mergesort")
    rp = pd.DataFrame(right, columns=["k", "t", "val"]).sort_values("t", kind="mergesort")
    merged = pd.merge_asof(lp, rp, on="t", by="k", direction="backward", suffixes=("", "_r"))
    want = {
        (row.k, row.t): int(row.val)
        for row in merged.itertuples()
        if not pd.isna(row.val)
    }
    assert set(got) == set(want)
    for key, val in got.items():
        assert val == want[key]


@SETTINGS
@given(
    counts=st.lists(st.integers(0, 1000), min_size=1, max_size=40),
    window=st.integers(1, 5),
)
def test_moving_average_matches_pandas_rolling(spark, counts, window):
    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "period int, cnt long")
    got = {
        r.period: r.moving_avg
        for r in moving_average(df, ["period"], "cnt", window).collect()
    }
    want = (
        pd.Series(counts).rolling(window, min_periods=1).mean().round(6).tolist()
    )
    for i, w in enumerate(want):
        assert got[i] == w


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=5),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_rolling_hash_matches_python_model(spark, docs):
    """rolling_hash (md5 family) agrees with an independent Python fold
    on arbitrary token lists — pins the polynomial arithmetic, the
    modulus, and the md5-derived token values (the same derivation the
    DuckDB oracle uses)."""
    import hashlib

    from big_data_chicago_crimes_spark.functions.text import rolling_hash

    base, mod = 31, 2**57 - 13

    def model(tokens):
        acc = 0
        for t in tokens:
            v = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % (base * 1000)
            acc = (acc * base + v) % mod
        return acc

    rows = [(" ".join(toks),) for toks in docs]
    df = spark.createDataFrame(rows, "text string")
    got = [r.rh for r in df.select(rolling_hash("text", hash_family="md5").alias("rh")).collect()]
    # split on whitespace mirrors functions.text.tokens
    want = [model(" ".join(toks).split()) for toks in docs]
    assert got == want


@SETTINGS
@given(
    points=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=30),
    intervals=st.lists(
        st.tuples(st.floats(0, 100, allow_nan=False), st.floats(0.1, 30, allow_nan=False)),
        min_size=1,
        max_size=10,
    ),
)
def test_range_join_matches_naive_pairs(spark, points, intervals):
    """Bucketized range_join returns exactly the point-in-interval pairs
    a naive nested loop finds, for arbitrary geometry."""
    from big_data_chicago_crimes_spark.operators.asof import range_join

    pts = spark.createDataFrame([(i, float(x)) for i, x in enumerate(points)], "pid int, x double")
    ivs = spark.createDataFrame(
        [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(intervals)],
        "iid int, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(pts, ivs, "x", "lo", "hi", bucket_width=7.0).collect()
    }
    want = {
        (i, j)
        for i, x in enumerate(points)
        for j, (lo, w) in enumerate(intervals)
        if lo <= x < lo + w
    }
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Seeded min-label propagation must agree with an independent
    Python union-find on arbitrary generated graphs (self-loops,
    duplicate and reversed edges included). Guards the r7 seeded-init
    rewrite: the accelerated first round must not change any
    labeling."""
    from big_data_chicago_crimes_spark.operators.curation import (
        connected_components,
    )

    parent = list(range(10))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {n: find(n) for n in nodes}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    ).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es if a != b}))
     .filter(lambda es: es)
)
def test_connected_components_canonical_edges_equivalent(spark, edges):
    """edges_canonical=True (skip the symmetrization distinct) must be a
    pure optimization: identical labeling to the guarded path on any
    canonical unique (src < dst) edge list."""
    from big_data_chicago_crimes_spark.operators.curation import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    guarded = {r.id: r.component for r in connected_components(df).collect()}
    fast = {
        r.id: r.component
        for r in connected_components(df, edges_canonical=True).collect()
    }
    assert fast == guarded


@SETTINGS
@given(
    docs=st.lists(
        st.integers(min_value=0, max_value=200),  # token count per doc
        min_size=1,
        max_size=12,
    ),
    max_len=st.integers(min_value=2, max_value=40),
    stride_frac=st.floats(min_value=0.25, max_value=1.0),
)
def test_chunk_spans_match_python_model(spark, docs, max_len, stride_frac):
    """chunk_spans agrees with an independent Python sliding-window model
    on arbitrary (token count, max_len, stride) configurations — pins the
    n_chunks formula, span arithmetic, and the 0-chunks-for-blank rule."""
    import math

    from big_data_chicago_crimes_spark.functions.text import chunk_spans

    stride = max(1, int(max_len * stride_frac))
    rows = [(i, " ".join("w" for _ in range(t))) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_spans(df, "text", max_len=max_len, stride=stride)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_len)
        for r in out.collect()
    }

    expect = {}
    for i, t in enumerate(docs):
        if t == 0:
            continue
        n = 1 + math.ceil(max(0, t - max_len) / stride)
        for k in range(n):
            expect[(i, k)] = (k * stride, min(max_len, t - k * stride))
    assert got == expect


@given(
    items=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),          # group
            st.integers(min_value=0, max_value=600),  # token count
        ),
        min_size=1,
        max_size=20,
    ),
    capacity=st.integers(min_value=1, max_value=512),
)
@settings(deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_bins_match_python_contiguous_fill(spark, items, capacity):
    """assign_pack_bins_from_counts (the ONE packing core behind
    docs_sequence_packing, docs_chunk_pack, and the pipeline query)
    agrees with an independent Python contiguous-fill model on arbitrary
    (group, count, capacity) configurations — pins the prefix-sum bin
    arithmetic including overflow (an item larger than capacity opens in
    the bin where its prefix lands and spills past it)."""
    from big_data_chicago_crimes_spark.functions.text import (
        assign_pack_bins_from_counts,
    )

    rows = [(i, g, n) for i, (g, n) in enumerate(items)]
    df = spark.createDataFrame(rows, "item_id long, grp string, n_tok long")
    out = assign_pack_bins_from_counts(df, "grp", "n_tok", ["item_id"], capacity)
    got = {r.item_id: r.bin_id for r in out.collect()}

    expect = {}
    for grp in {g for g, _ in items}:
        cum = 0
        for i, (g, n) in enumerate(items):
            if g != grp:
                continue
            expect[i] = cum // capacity
            cum += n
    assert got == expect


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-4.0,
                max_value=4.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=24,
    ),
    k=st.integers(min_value=1, max_value=4),
    zero_rows=st.integers(min_value=0, max_value=2),
)
@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_semantic_dedup_vectorized_property_equality(spark, vecs, k, zero_rows):
    """The BLAS form of SemDeDup agrees with the certified
    column-expression form on arbitrary small corpora and codebooks —
    including all-zero vectors and duplicate rows hypothesis likes to
    plant. Both forms round cosines and centroid distances to 6dp
    before comparing, so agreement here pins the portability contract,
    not float luck."""
    import numpy as np

    from big_data_chicago_crimes_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_vectorized,
    )
    from big_data_chicago_crimes_spark.session import release_scratch_caches

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows += [(1000 + i, [0.0, 0.0, 0.0, 0.0]) for i in range(zero_rows)]
    rng = np.random.RandomState(k)
    cents = [[float(x) for x in rng.randn(4)] for _ in range(k)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    h = sorted(semantic_dedup(df, cents, threshold=0.95).collect())
    release_scratch_caches()
    v = sorted(semantic_dedup_vectorized(df, cents, threshold=0.95).collect())
    assert h == v


@SETTINGS
@given(
    losses=st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=8.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=8.0, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
    ),
    eta=st.floats(min_value=0.1, max_value=2.0, allow_nan=False),
    steps=st.integers(min_value=1, max_value=4),
    smoothing=st.floats(min_value=0.0, max_value=0.5, allow_nan=False),
)
def test_doremi_weights_match_python_model(spark, losses, eta, steps, smoothing):
    """doremi_weights must agree with an independent Python model of the
    unrolled Littlestone-Warmuth update on arbitrary losses/eta/steps/
    smoothing: weights sum to 1, clip at zero excess, and never rank a
    higher-excess domain below a lower-excess one."""
    from big_data_chicago_crimes_spark.operators.sampling import doremi_weights

    rows = [(f"d{i}", p, r) for i, (p, r) in enumerate(losses)]
    df = spark.createDataFrame(
        rows, "domain string, proxy_loss double, ref_loss double"
    )
    got = {
        r.domain: r.weight
        for r in doremi_weights(
            df, eta=eta, steps=steps, smoothing=smoothing
        ).collect()
    }
    lam = {d: max(p - r, 0.0) for d, p, r in rows}
    raw = {}
    for d in lam:
        b = 1.0 + eta * lam[d]
        w = b
        for _ in range(steps - 1):
            w = w * b
        raw[d] = w
    s = sum(raw.values())
    k = len(raw)
    model = {d: (1.0 - smoothing) * (raw[d] / s) + smoothing / k for d in raw}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for d in model:
        assert abs(got[d] - model[d]) < 1e-9, (d, got[d], model[d])
    ranked = sorted(lam, key=lambda d: lam[d])
    for lo, hi in zip(ranked, ranked[1:]):
        assert got[lo] <= got[hi] + 1e-12


@SETTINGS
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 1),  # block
            st.lists(
                st.sampled_from("abcdefgh"), min_size=1, max_size=6
            ),  # tokens
        ),
        min_size=2,
        max_size=14,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_jaccard_routes_agree_on_arbitrary_corpora(spark, docs, threshold):
    """The three _blocked_jaccard_pairs routes — forced all-pairs,
    forced prefix-filtered, and the size-dispatched default — must emit
    the IDENTICAL pair set on arbitrary generated corpora (duplicate
    docs, single-token docs, cross-block shapes included): the dispatch
    may only ever change the plan, never the answer."""
    from big_data_chicago_crimes_spark.operators.dedup import token_jaccard_pairs

    rows = [(i, b, " ".join(toks)) for i, (b, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, blk int, text string")
    outs = []
    for pf in (False, True, None):
        outs.append(
            {
                (r.id_a, r.id_b, r.jaccard)
                for r in token_jaccard_pairs(
                    df, ["blk"], threshold=threshold, prefix_filter=pf
                ).collect()
            }
        )
    assert outs[0] == outs[1] == outs[2]


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1),  # partition
            st.integers(-5, 5),  # score (narrow range -> many ties)
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
    ascending=st.booleans(),
)
def test_score_ntile_matches_window_ntile(spark, rows, k, ascending):
    """score_ntile's histogram-bounded plan must emit EXACTLY the tiles
    of ntile(k) OVER (PARTITION BY part ORDER BY score [DESC], key) on
    arbitrary inputs — heavy ties, single-row partitions, k larger than
    a partition, constant scores (degenerate one-bucket histogram)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.sampling import score_ntile

    data = [(i, p, float(s)) for i, (p, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, part int, score double")
    got = {
        r.id: r.tile
        for r in score_ntile(
            df, "score", k, ["part"], "id", ascending=ascending,
            coarse_buckets=4,  # tiny: force multi-bucket + boundary paths
        ).collect()
    }
    order = [F.col("score").asc() if ascending else F.col("score").desc(), F.col("id")]
    w = Window.partitionBy("part").orderBy(*order)
    want = {r.id: r.t for r in df.withColumn("t", F.ntile(k).over(w)).collect()}
    assert got == want


def test_score_ntile_null_score_raises(spark):
    """ADVICE r11: a NULL score must raise loudly, not vanish through
    the NULL-bucket equi-join (window ntile would tile it — NULLS-FIRST
    in Spark, NULLS-LAST in DuckDB, so there is no portable semantics
    to silently pick). Non-null rows are unaffected."""
    import pytest

    from big_data_chicago_crimes_spark.operators.sampling import score_ntile

    clean = spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, 2.0)], "id long, part int, score double"
    )
    assert {r.tile for r in score_ntile(clean, "score", 2, ["part"], "id").collect()} == {1, 2}

    dirty = spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, None)], "id long, part int, score double"
    )
    with pytest.raises(Exception, match="NULL/NaN in score column"):
        score_ntile(dirty, "score", 2, ["part"], "id").collect()


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab c", min_size=0, max_size=6),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_intra_doc_dedup_matches_window_reference(spark, docs):
    """The zero-shuffle split→array_distinct→array_join plan must emit
    EXACTLY the keep-first semantics of the exploded window reference
    (min(pos) per (doc, line), rebuild ordered by pos) — the same
    formulation the DuckDB oracle replays. Arbitrary line content
    including empties, repeated blanks, whole-doc repeats."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.dedup import intra_doc_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned_text, r.n_lines, r.n_removed, r.chars_removed)
        for r in intra_doc_dedup(df).collect()
    }

    ln = df.select(
        "doc_id",
        F.length("text").alias("orig_len"),
        F.posexplode(F.split("text", "\n")).alias("p", "line"),
    )
    w = Window.partitionBy("doc_id", "line")
    flagged = ln.withColumn("keep", F.col("p") == F.min("p").over(w))
    ref = (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("p", "line"))
                        )
                    ),
                    lambda x: x.getField("line"),
                ),
                "\n",
            ).alias("cleaned"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum((~F.col("keep")).cast("int")).cast("int").alias("n_removed"),
            F.max("orig_len").alias("orig_len"),
        )
    )
    want = {
        r.doc_id: (
            r.cleaned,
            r.n_lines,
            r.n_removed,
            int(r.orig_len - len(r.cleaned)),
        )
        for r in ref.collect()
    }
    assert got == want


@SETTINGS
@given(
    toks=st.lists(
        st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=80
    ),
    width=st.sampled_from([2, 4, 16]),
)
def test_cms_estimate_matches_counter_reference(spark, toks, width):
    """For EVERY distinct token of an arbitrary stream, the CMS estimate
    must equal the min over rows of that token's bucket counter computed
    by an independent Python reference (hashlib md5, same salt scheme) —
    and therefore never undercount."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    depth = 3

    def bucket(r, tok):
        h = hashlib.md5(f"cms{r}|{tok}".encode()).hexdigest()[:8]
        return int(h, 16) % width

    cells = Counter((r, bucket(r, t)) for t in toks for r in range(depth))
    want = {
        t: min(cells[(r, bucket(r, t))] for r in range(depth))
        for t in set(toks)
    }
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    sketch = cms_build(df, "token", depth=depth, width=width)
    items = df.select("token").distinct()
    got = {
        r["token"]: r["cms_cnt"]
        for r in cms_estimate(sketch, items, "token", depth=depth, width=width).collect()
    }
    assert got == want
    exact = Counter(toks)
    assert all(got[t] >= exact[t] for t in exact)


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
        ),
        min_size=1,
        max_size=10,
    )
)
def test_bigram_logprob_matches_python_reference(spark, docs):
    """Doc scores under the interpolated bigram LM must equal an
    independent Python implementation of the documented formula on
    arbitrary corpora (short docs dropping out)."""
    import math
    from collections import Counter

    from big_data_chicago_crimes_spark.operators.curation import bigram_logprob

    lam = 0.75
    uni = Counter(t for d in docs for t in d)
    n_total, v_size = sum(uni.values()), len(uni)
    c2 = Counter((d[i], d[i + 1]) for d in docs for i in range(len(d) - 1))
    c1 = Counter()
    for (w1, _), c in c2.items():
        c1[w1] += c
    want = {}
    for i, d in enumerate(docs):
        pairs = [(d[j], d[j + 1]) for j in range(len(d) - 1)]
        if not pairs:
            continue
        total = sum(
            math.log10(
                lam * c2[p] / c1[p[0]]
                + (1.0 - lam) * (uni[p[1]] + 1) / (n_total + v_size)
            )
            for p in pairs
        )
        want[i] = round(total / len(pairs), 6)

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["bigram_lp"] for r in bigram_logprob(df).collect()}
    assert got == want


@SETTINGS
@given(
    items=st.lists(
        st.sampled_from([f"v{i}" for i in range(40)]), min_size=1, max_size=120
    )
)
def test_hll_state_and_estimate_match_python_model(spark, items):
    """The FULL HLL state (register map, n_regs, integer z) must equal an
    independent Python model (hashlib md5, bit_length ranks, integer
    harmonic state) on arbitrary streams, and the estimate must agree to
    1e-6 — pins the 48-bit hash derivation, the p/q bit split, the rank
    arithmetic, and both estimator branches (the same derivation the
    DuckDB oracle replays)."""
    import hashlib
    import math

    from big_data_chicago_crimes_spark.operators.sketches import (
        HLL_P,
        hll_build,
        hll_estimate,
    )

    p, m = HLL_P, 1 << HLL_P
    k_max = 48 - p + 1
    regs: dict[int, int] = {}
    for it in set(items):
        hv = int(hashlib.md5(it.encode()).hexdigest()[:12], 16)
        idx, w = hv % m, hv >> p
        rho = k_max if w == 0 else k_max - w.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    z_int = sum(1 << (k_max - r) for r in regs.values()) + (m - len(regs)) * (
        1 << k_max
    )
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m * float(1 << k_max) / z_int
    v = m - len(regs)
    est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw

    df = spark.createDataFrame([("g", it) for it in items], "g string, item string")
    sk = hll_build(df, "item", ["g"])
    assert {r["idx"]: r["m_rho"] for r in sk.collect()} == regs
    row = hll_estimate(sk, ["g"]).collect()[0]
    assert (row["n_regs"], row["z_int"]) == (len(regs), z_int)
    assert abs(row["hll_est"] - est) < 1e-6


@SETTINGS
@given(
    xs=st.lists(
        st.floats(-50, 1050, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=100,
    ),
    q=st.sampled_from([0.1, 0.5, 0.9, 1.0]),
)
def test_qsketch_quantile_matches_python_model(spark, xs, q):
    """Histogram quantile sketch agrees with an independent Python model
    (same binning formula, same integer-rank rule) on arbitrary float
    streams including out-of-range values — pins the clip-to-edge
    semantics, the cumulative-rank rule, and the lower-edge estimate."""
    import math

    from big_data_chicago_crimes_spark.operators.sketches import (
        qsketch_build,
        qsketch_quantile,
    )

    lo, hi, n_bins = 0.0, 1000.0, 16
    width = (hi - lo) / n_bins

    def pybin(v):
        b = math.floor((v - lo) * n_bins / (hi - lo))
        return min(max(b, 0), n_bins - 1)

    counts: dict[int, int] = {}
    for v in xs:
        counts[pybin(v)] = counts.get(pybin(v), 0) + 1
    n = len(xs)
    rank = math.ceil(q * n)
    cum = 0
    want = None
    for b in sorted(counts):
        cum += counts[b]
        if cum >= rank:
            want = lo + b * width
            break

    df = spark.createDataFrame([("g", float(v)) for v in xs], "g string, v double")
    sk = qsketch_build(df, "v", ["g"], lo, hi, n_bins)
    label = str(q).replace(".", "_")
    got = qsketch_quantile(sk, [q], ["g"], lo, hi, n_bins).collect()[0][f"q_{label}"]
    assert got == want
