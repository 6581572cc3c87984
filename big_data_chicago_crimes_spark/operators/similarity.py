"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB engine needs both:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  One broadcast of the query vector, one pass over the table, top-k via
  orderBy+limit (TakeOrderedAndProject: per-partition heaps, k rows to
  the driver — no global sort even at full scale).
- ``hyperplane_lsh_buckets`` + ``ann_topk``: random-hyperplane LSH
  (Charikar 2002 cosine sketch). Signatures are deterministic (seeded
  NumPy hyperplanes baked in as literals), so the bucket assignment is
  reproducible. ANN search probes only the query's bucket (optionally
  multi-probe by Hamming-adjacent buckets), turning a full scan into a
  1/2^bits partition-pruned scan when bucket is a partition column.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_to_literal,
    l2_norm,
)

_LSH_SEED = 42


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> np.ndarray:
    """Seeded hyperplanes for LSH table ``table``. All tables draw from
    ONE seeded stream (row-major), so table 0's planes are bit-identical
    to the historical single-table planes and every table is
    deterministic across processes/executors."""
    rng = np.random.RandomState(_LSH_SEED)
    return rng.randn((table + 1) * n_planes, dim)[table * n_planes :]


def _spark_round6(a: "np.ndarray") -> "np.ndarray":
    """Vectorized 6dp rounding with Spark-EXACT boundary behavior.
    Spark's round() is HALF_UP on the shortest decimal repr
    (BigDecimal.valueOf) while np.round is half-to-even on the true
    binary value — they disagree exactly when x·1e6 sits at (or within
    an ulp of) a half-integer (e.g. 0.1234565 → Spark 0.123457, numpy
    0.123456). The vectorized kernels rank/threshold on these values
    under a pinned bit-for-bit equality with the expression paths, so
    boundary-suspicious elements are re-rounded through Python decimal
    on repr(x) (the same shortest repr Java uses); everything else
    keeps the fast np.round."""
    out = np.round(a, 6)
    scaled = a * 1e6
    frac = np.abs(scaled - np.floor(scaled) - 0.5)
    # The suspicion window is RELATIVE, not a bare 1e-6 (ADVICE r13):
    # once |scaled| exceeds ~2^32 the ulp of the scaled value is larger
    # than 1e-6, so a true half-boundary could sit outside an absolute
    # window and silently fall back to numpy's half-even. A few ulps of
    # the scaled magnitude keeps every representable boundary inside
    # the window at any magnitude; over-wide windows only send extra
    # elements through the exact-but-slow Decimal path (correct, never
    # wrong).
    tol = np.maximum(1e-6, 8 * np.spacing(np.abs(scaled)))
    sus = np.argwhere(frac < tol)
    if len(sus):
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        for idx in map(tuple, sus):
            out[idx] = float(
                Decimal(repr(float(a[idx]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _vectors_matrix(pdf, vec_col: str, dim: int | None = None) -> "np.ndarray":
    """Dense (n, dim) float64 matrix from an Arrow batch column, with a
    LOUD contract: NULL or ragged embeddings raise a clear ValueError
    instead of an opaque numpy shape/matmul error mid-job. ``dim`` is
    checked explicitly because a ragged ROW can land alone in its own
    Arrow batch, where the batch itself is perfectly homogeneous. (The
    expression-form siblings tolerate such rows — NULL folds through
    null arithmetic — so on messy data the two paths would otherwise
    silently diverge: filter or repair embeddings before the vectorized
    path.)"""
    vals = list(pdf[vec_col])
    if any(v is None for v in vals):
        raise ValueError(
            f"vectorized kernel: NULL in {vec_col!r} — filter or repair "
            "embeddings before the vectorized path"
        )
    try:
        out = np.array(vals, dtype=np.float64)
    except ValueError as exc:
        raise ValueError(
            f"vectorized kernel: ragged {vec_col!r} arrays — all embeddings "
            "must share one dimension"
        ) from exc
    if out.ndim != 2 or (dim is not None and out.size and out.shape[1] != dim):
        raise ValueError(
            f"vectorized kernel: ragged {vec_col!r} arrays — expected "
            f"dimension {dim}, got shape {out.shape}"
        )
    return out


def _lit_double_matrix_sql(rows) -> str:
    """array(array(<double literals>)…) as ONE SQL string — literals
    round-trip via repr exactly (the sig_sql convention); building the
    same tree Column-by-Column costs one py4j round trip PER LITERAL
    (~7 s per ~3.6k literals, see sig_sql's note)."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
            for row in rows
        )
        + ")"
    )


_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_vec_expr(s: str) -> str:
    """Normalize a string vector reference for the one-SQL-string
    expression builders (hyperplane_signature, nearest_centroid_cells,
    sig_sql). A plain identifier is backtick-quoted so a column named
    like a keyword can't parse as something else; anything more
    structured (``a.b``, ``slice(v, 1, 8)``, a pre-backticked name) is
    treated as a SQL EXPRESSION and interpolated verbatim (ADVICE r14:
    a raw name needing quotes, e.g. with a dash or space, would
    otherwise fail to parse or silently resolve as an arithmetic
    expression; pass such columns pre-backticked)."""
    return f"`{s}`" if _PLAIN_IDENT.match(s) else s


def cosine_topk(
    df: DataFrame,
    query_vec: list[float] | Column,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.
    Output: (id, cosine) ordered desc with id tie-break."""
    # A list query vector folds its norm to a driver-side constant —
    # two per-row aggregates (dot + own norm) instead of three.
    sim = (
        cosine_similarity_to_literal(F.col(vec_col), list(query_vec))
        if isinstance(query_vec, (list, tuple))
        else cosine_similarity(F.col(vec_col), query_vec)
    )
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _plane_sig_sql(vec_expr: str, dim: int, n_planes: int, table: int) -> str:
    """The n_planes-bit signature as ONE SQL expression string — shared
    by ``hyperplane_signature`` and ``lsh_near_dup_pairs``' per-table
    sig_sql, so the two can never drift. Each plane dot keeps the HOF
    zip_with/aggregate form: unrolling all n_planes×dim terms into
    codegen'd expressions measured 5× SLOWER (tree too large for
    JIT/codegen budgets). The whole tree parses JVM-side in one call
    instead of one py4j round trip per plane coordinate (~0.7-1.6 s of
    driver time per signature at 8×64)."""
    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, table)):
        arr = ",".join(f"{float(x)!r}D" for x in plane)
        dot = (
            f"aggregate(zip_with({vec_expr}, array({arr}), "
            f"(x, p) -> cast(x as double) * p), 0D, (a, x) -> a + x)"
        )
        terms.append(f"if({dot} > 0D, {1 << i}, 0)")
    return "(" + " + ".join(terms) + ")"


def hyperplane_signature(
    vec_col: str, dim: int, n_planes: int = 8, table: int = 0
) -> Column:
    """LSH bucket id (int 0..2^n_planes-1): bit i = sign(v · plane_i).
    The planes are fixed literals → the whole signature evaluates inside
    the plan; no UDF, no shuffle. ``table`` selects an independent plane
    set for multi-table LSH (table 0 = the historical planes).

    ``vec_col`` is a column name or a SQL expression (``_sql_vec_expr``:
    a plain name is backtick-quoted, anything else is interpolated
    verbatim). ``_lsh_probe_buckets`` is the driver-side twin for a
    literal query vector."""
    return F.expr(_plane_sig_sql(_sql_vec_expr(vec_col), dim, n_planes, table))


def hyperplane_lsh_buckets(
    df: DataFrame, dim: int, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the LSH bucket column. At scale, write this partitioned by
    ``bucket`` so ANN probes become partition-pruned scans."""
    return df.withColumn(
        "bucket", hyperplane_signature(vec_col, dim, n_planes)
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    dim: int,
    n_tables: int = 8,
    n_planes: int | None = None,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket_rows: int = 8,
) -> DataFrame:
    """Embedding near-dup PAIRS at scale: multi-table hyperplane-LSH
    candidate generation + exact cosine verification.

    This is the scale path that replaces constant-cardinality blocking
    (``dedup.embedding_near_dups`` blocks on a label/category column,
    whose block sizes grow linearly with data → candidate pairs grow
    QUADRATICALLY — measured 24.6× wall for 10× rows in BENCH_SCALE).
    Here the blocking key is an LSH bucket, and ``n_planes`` is sized to
    the data (one ``count()``, buckets ≈ n / target_bucket_rows), so
    expected bucket size stays CONSTANT as n grows and candidates grow
    ~linearly. Recall comes from the OR over ``n_tables`` independent
    plane sets: a pair at cosine ≥0.95 (angle ≤18.2°) agrees on one
    b-bit signature with p=(1−θ/π)^b; with 8 tables that is ~0.99 at
    b=8 and ~0.93 at b=12 — and EXACTLY-parallel duplicates (the
    planted certification twins) share every signature deterministically,
    so their recall is 1.0 at any sizing.

    Shape per table: signature (codegen'd plane dots) → self-join on
    (table, signature) → distinct candidate ids → ONE exact-cosine
    verify over the deduplicated pair set, with vectors+norms joined
    back by id (candidates shuffle bare id pairs, never vectors ×
    n_tables)."""
    import math

    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute

    if n_planes is None:
        n = df.count()
        n_planes = max(6, math.ceil(math.log2(max(n / target_bucket_rows, 2.0))))

    df = spread_for_compute(df)  # signature math must not ride one row group
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__nrm"),
    )
    # The n_tables × n_planes signature tree is built as ONE SQL string
    # (a single py4j round trip + one parse), not via nested Column API:
    # 56 plane dots × 64 literal Columns each is thousands of py4j calls
    # and ~7 s of driver time PER INVOCATION (same pathology simhash_table
    # documents); the string form parses JVM-side in ~100 ms. Literals
    # round-trip via repr → identical doubles to F.lit. Each element is
    # coerced to Python float first: repr(np.float64(x)) under NumPy >= 2
    # is 'np.float64(x)' — unparseable SQL — while Python float repr is
    # stable and round-trips exactly.
    def sig_sql(t: int) -> str:
        return _plane_sig_sql(_sql_vec_expr(vec_col), dim, n_planes, t)

    structs = ", ".join(
        f"struct({t} as tbl, {sig_sql(t)} as sig)" for t in range(n_tables)
    )
    # Both self-join sides replay the n_tables × n_planes interpreted
    # plane dots without a persist; the pinned frame is (id, tbl, sig) —
    # n × n_tables rows, three scalar columns. Same for `base` below:
    # its two verify-side projections each rescan the source and replay
    # the norm fold otherwise. Result-invariant.
    from big_data_chicago_crimes_spark.session import scratch_persist

    sigs = scratch_persist(
        df.select(
            F.col(id_col), F.expr(f"explode(array({structs})) as s")
        ).select(id_col, "s.tbl", "s.sig")
    )
    base = scratch_persist(base)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    av = base.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"), F.col("__nrm").alias("na")
    )
    bv = base.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), F.col("__nrm").alias("nb")
    )
    sim = cosine_similarity(F.col("va"), F.col("vb"), norm_a=F.col("na"), norm_b=F.col("nb"))
    # spread the exact-verify too: the candidate set lands in one AQE-
    # coalesced partition locally, and the per-pair cosine is the most
    # expensive per-row stage of the whole operator. Spread the BARE id
    # pairs and attach vectors after (r17): spreading the joined frame
    # put both 512-byte vector payloads of every pair through the
    # round-robin exchange — 38 MB shuffled at sf0.1 where the id pairs
    # are ~1 MB (guide §2.3: shuffle keys, attach payloads after). The
    # vector attachments must plan as broadcast joins for the spread
    # partitioning to carry through to the cosine projection; ``base``
    # is CORPUS-sized (one row per doc — ADVICE r17), so the hint is
    # pinned explicitly rather than left to the size estimate, with the
    # same size guard the pair self-joins use (no-op off local mode,
    # where the spread is off too and AQE keeps choosing).
    from big_data_chicago_crimes_spark.operators.dedup import (
        _pin_pair_join_build_side,
    )

    return (
        spread_for_compute(cand)
        .join(_pin_pair_join_build_side(av), "id_a")
        .join(_pin_pair_join_build_side(bv), "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _hamming_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks for every bucket within ``radius`` bit flips (incl. 0) —
    the ONE probe-set enumeration behind single-query and batch ANN, so
    multiprobe semantics can never drift between the two paths."""
    import itertools

    masks = [0]
    for r in range(1, radius + 1):
        for bits in itertools.combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def _lsh_probe_buckets(
    query_vec: list[float], n_planes: int = 8, multiprobe_hamming: int = 1
) -> list[int]:
    """The sorted buckets a single literal query probes: its own
    signature bucket plus every bucket within ``multiprobe_hamming`` bit
    flips. The ONE driver-side bucket rule, shared by ``ann_topk`` and
    the bucket-partitioned lake query. Each plane dot replays Spark's
    SEQUENTIAL zip_with/aggregate fold (plain left-to-right additions),
    NOT a BLAS dot: pairwise summation can flip the sign of a near-zero
    plane dot, putting the query in a different bucket than an EXACT
    corpus copy of it gets from ``hyperplane_signature`` — which would
    break the exact-duplicate recall guarantee at
    ``multiprobe_hamming=0``."""
    q_bucket = 0
    for i, plane in enumerate(_hyperplanes(len(query_vec), n_planes)):
        acc = 0.0
        for x, p in zip(query_vec, plane):
            acc += float(x) * float(p)
        if acc > 0:
            q_bucket |= 1 << i
    return sorted(
        {q_bucket ^ m for m in _hamming_masks(n_planes, multiprobe_hamming)}
    )


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus buckets
    within ``multiprobe_hamming`` bit flips, then exact cosine re-rank.
    Probing H=1 over 8 planes scans 9/256 of the data in expectation."""
    probes = _lsh_probe_buckets(query_vec, n_planes, multiprobe_hamming)
    bucketed = hyperplane_lsh_buckets(df, len(query_vec), n_planes, vec_col)
    candidates = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def _salted_topk(
    scored: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
    salts: int = 64,
    order_col: str = "cosine",
    ascending: bool = False,
) -> DataFrame:
    """Two-phase per-query top-k over (query_id, id, score) candidates —
    the ONE ranking contract behind the batch ANN families (LSH, IVF,
    and PQ/ADC via ``order_col``/``ascending``), so tie-breaks and
    task-size behavior can never diverge. A
    single per-query window would funnel EVERY probed candidate of a
    query through one task; phase 1 takes a local top-k per (query,
    salt) — each window partition sees ~candidates/salts rows — and
    phase 2 ranks the ≤ salts×k survivors per query. Global top-k =
    top-k of the union of local top-ks, so the result is identical to
    the single-window form (and to the SQL oracles); only the task-size
    distribution changes. Ranked by the rounded score (cosine desc by
    default; distances pass ascending=True) with id tie-break."""
    from pyspark.sql import Window

    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    salted = scored.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salts))
    )
    w_local = Window.partitionBy(query_id_col, "__salt").orderBy(
        order, F.col(id_col)
    )
    survivors = (
        salted.withColumn("__lrk", F.row_number().over(w_local))
        .filter(F.col("__lrk") <= k)
        .drop("__salt", "__lrk")
    )
    w = Window.partitionBy(query_id_col).orderBy(order, F.col(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _probe_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    multiprobe_hamming: int,
    bucketed: bool,
    op: str,
) -> DataFrame:
    """Shared candidate stage for the batch ANN family: query-side LSH
    signatures (same codegen path as the corpus), probe-set explode,
    ONE broadcast bucket join (DPP-pruned against a bucket-partitioned
    lake), exact rounded cosine per candidate. Returns
    (query_id_col, id_col, cosine) — top-k and threshold consumers
    diverge only above this."""
    if bucketed and "bucket" not in corpus.columns:
        raise ValueError(f"{op}(bucketed=True): corpus has no 'bucket' column")
    masks = _hamming_masks(n_planes, multiprobe_hamming)
    qsig = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        hyperplane_signature(vec_col, dim, n_planes).alias("__qb"),
    )
    probes = (
        qsig.withColumn(
            "__mask", F.explode(F.array(*[F.lit(m) for m in masks]))
        )
        .select(
            query_id_col,
            "__qvec",
            F.col("__qb").bitwiseXOR(F.col("__mask")).alias("__probe"),
        )
    )
    corpus_b = (
        corpus if bucketed else hyperplane_lsh_buckets(corpus, dim, n_planes, vec_col)
    )
    cand = corpus_b.join(
        F.broadcast(probes), corpus_b["bucket"] == probes["__probe"]
    )
    return cand.select(
        query_id_col,
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")), 6).alias(
            "cosine"
        ),
    )


def batch_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    multiprobe_hamming: int = 1,
    bucketed: bool = False,
) -> DataFrame:
    """MANY query vectors answered in ONE bucket join — the batch shape
    of ANN serving / training-set retrieval (``ann_topk`` answers a
    single driver-side literal; here the queries arrive as a DataFrame,
    the way a retrieval batch does). Pass ``bucketed=True`` when the
    corpus already carries its ``bucket`` column — e.g. the
    materialized bucket-PARTITIONED lake index, where the bucket join
    then triggers dynamic partition pruning (the scan reads only the
    probed partitions; pinned in tests/test_plans.py):

    1. each query row gets its LSH signature through the SAME codegen
       path the corpus uses (no driver-side math, no collect);
    2. the probe set (own bucket + every bucket within
       ``multiprobe_hamming`` bit flips) is exploded query-side —
       (1 + Σ C(n_planes, r)) rows per query, batch-sized;
    3. that probe frame is BROADCAST and equi-joined to the bucketed
       corpus: candidates ≈ probes/2^n_planes of the corpus per query,
       and the corpus-sized side never shuffles (at scale, with the
       corpus written partitioned by bucket, the join is also
       partition-pruned);
    4. exact cosine re-rank per query via a window partitioned by
       ``query_id_col`` — bounded to the probed candidates, never the
       corpus (a corpus-wide per-query window would funnel the whole
       table through one task per query).

    A corpus row joins at most one probe per query (its bucket is a
    single value and probe buckets are distinct), so no dedup pass is
    needed. Output: (query_id, id, cosine, rank ≤ k), ranked by rounded
    cosine with id tie-break — deterministic and engine-replayable.
    """
    scored = _probe_scored_candidates(
        corpus, queries, dim, n_planes, vec_col, id_col, query_id_col,
        multiprobe_hamming, bucketed, "batch_ann_topk",
    )
    # Two-phase top-k: a single per-query window would funnel EVERY
    # probed candidate of a query through one task (~probes/2^n_planes
    # of the corpus — still huge at 100 TB). Phase 1 takes a local
    # top-k per (query, salt) — each window partition sees
    # ~candidates/salts rows; phase 2 ranks the ≤ salts×k survivors per
    # query. Global top-k = top-k of the union of local top-ks, so the
    # result is identical to the single-window form (and to the SQL
    # oracle) — only the task-size distribution changes.
    return _salted_topk(scored, query_id_col, id_col, k)


# --- IVF (inverted-file) ANN: KMeans-partitioned index ------------------


def nearest_centroid_cells(
    vec_col: str, centroids: list[list[float]], n: int, offset: int = 0
) -> Column:
    """Array of the ``n`` nearest centroid ids to ``vec_col`` — the cell
    ranking shared by the batch-IVF probe stage (n = nprobe),
    literal-centroid index assignment (n = 1), and PQ sub-vector
    encoding (``offset`` shifts element indices to a subspace without a
    slice() node). Squared L2 to each centroid, then array_sort over
    (dist, cid) structs — k_centroids-sized per-row work, independent of
    corpus size, no driver-side math. The distance is ROUNDED to 6dp
    before ranking (cid tie-break): double summation order differs
    across engines (DuckDB's list_sum is not a sequential fold —
    measured ulp-level divergence from Spark's sequential F.aggregate),
    so ranking on the raw sum would make the cell choice
    engine-dependent at the last ulp. Same portability contract the
    cosine rank already uses; ``_rank_probe_cells`` is the driver-side
    twin for a literal query vector.

    ``vec_col`` is a column name or a SQL expression (``_sql_vec_expr``).
    The HOF expression tree is built as ONE SQL string (the sig_sql
    convention — Column-by-Column literal construction costs a py4j
    round trip PER CENTROID COORDINATE, measured ~3.8 s of driver time
    for an 8×16×8 codebook). Fully UNROLLING the arithmetic instead was
    measured and REJECTED: 2.8-4.6 s exec vs 1.9 s for the HOF form at
    sf0.1 — the 1024-term tree blows the whole-stage-codegen budget, the
    same result ``_plane_sig_sql`` records for the LSH unroll.
    """
    sub = len(centroids[0])
    # ALWAYS slice to the centroid length: zip_with pads a longer
    # vector with NULLs (64-dim vec vs 8-dim sub-centroid → NULL
    # distances that sort by cid alone)
    vec_expr = f"slice({_sql_vec_expr(vec_col)}, {offset + 1}, {sub})"
    cells = ", ".join(
        f"named_struct('cid', {i}, 'cv', array("
        + ",".join(f"{float(x)!r}D" for x in c)
        + "))"
        for i, c in enumerate(centroids)
    )
    return F.expr(
        f"""transform(slice(array_sort(transform(array({cells}),
            c -> named_struct('d', round(aggregate(
                    zip_with({vec_expr}, c.cv,
                             (x, y) -> (CAST(x AS DOUBLE) - y)
                                       * (CAST(x AS DOUBLE) - y)),
                    0.0D, (acc, x) -> acc + x), 6),
                 'cid', c.cid))), 1, {n}), s -> s.cid)"""
    )


def literal_centroids(k: int, dim: int) -> list[list[float]]:
    """Seeded pseudo-random centroids (same determinism contract as the
    LSH hyperplanes): a FIXED centroid list both the Spark plan and an
    external SQL oracle can bake in as literals. The IVF operators take
    centroids as an input, so a literal codebook is a first-class way to
    build the index — e.g. centroids trained offline or on a sample —
    and it makes the whole batch-IVF path exactly oracle-checkable
    (KMeans-trained indexes are certified separately via the
    planted-duplicate fixture)."""
    rng = np.random.RandomState(_LSH_SEED + 1)
    return [[float(x) for x in row] for row in rng.randn(k, dim)]


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment against a FIXED centroid list: every row gets the
    ``centroid_id`` of its nearest centroid (rounded-distance ranking,
    cid tie-break — see nearest_centroid_cells). The literal-codebook
    sibling of ``ivf_index`` (which trains centroids with KMeans); at
    scale, write the result partitioned by centroid_id so probes prune
    partitions."""
    return df.withColumn(
        "centroid_id",
        nearest_centroid_cells(vec_col, centroids, 1)[0].cast("int"),
    )


def assign_to_centroids_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched sibling of ``assign_to_centroids`` for the k ∝ N
    regime: per batch, squared L2 to every centroid as ``((V − C)²)``
    — the SAME (x−y)² formulation the certified expression path folds
    (ADVICE r15: the earlier gram identity ``‖v‖²+‖c‖²−2·V·Cᵀ``
    suffers catastrophic cancellation when a vector nearly equals a
    centroid — exactly the near-duplicate regime SemDeDup probes — and
    a last-ulp divergence could cross the 6dp rounding boundary and
    assign a cell differently from the oracle-certified path). The
    N×k×dim difference temporary is bounded by chunking batch ROWS so
    each chunk stays ~32 MB regardless of k — the k ∝ N memory regime
    the old gram form existed for is preserved without its
    cancellation. Then the same rounded-distance ranking with cid
    tie-break (np.argmin over the 6dp-rounded row returns the FIRST
    minimum — exactly the (dist, cid) lexicographic order of the HOF
    form). The literal-expression form evaluates k interpreted
    fold-aggregates per row, so its cost is O(N·k) through the
    expression interpreter — under the production contract k ∝ N that
    step turns quadratic and dominates (measured sf1/k=160: 2.9 s vs
    ~0.2 s for this form). Ranking on the 6dp-rounded distance is the
    established engine-portability contract (see
    nearest_centroid_cells)."""
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    from pyspark.sql.types import IntegerType, StructField, StructType

    # StructType.add mutates in place — build a fresh copy, never extend
    # df.schema itself.
    out_schema = StructType(
        list(df.schema.fields) + [StructField("centroid_id", IntegerType())]
    )
    # rows per chunk so the (rows × k × dim) float64 diff stays ~32 MB
    step = max(1, 4_000_000 // max(C.shape[0] * C.shape[1], 1))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _vectors_matrix(pdf, vec_col, dim=C.shape[1])
            cids = np.empty(len(V), dtype=np.int32)
            for i in range(0, len(V), step):
                diff = V[i : i + step, None, :] - C[None, :, :]
                d = _spark_round6((diff * diff).sum(axis=-1))
                cids[i : i + step] = d.argmin(axis=1)
            out = pdf.copy()
            out["centroid_id"] = cids
            yield out

    return df.mapInPandas(assign, schema=out_schema)


def semantic_dedup_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster-scoped
    semantic pruning of an embedded corpus. Every vector is assigned to
    its nearest codebook centroid (``assign_to_centroids_vectorized`` —
    rounded-distance ranking, cid tie-break, so membership is
    engine-portable); within each cluster, a vector is PRUNED when any
    smaller-id member of the same cluster (pruned or not) has rounded
    cosine ≥ ``threshold`` with it — the strict upper triangle in id
    order, a deterministic keep-one-per-ε-ball without a components
    pass or a sequential-greedy scan. Returns the kept
    (id, centroid_id) rows. Zero-norm vectors cos as 0.0, so they never
    prune and are never pruned.

    The pair stage is ONE BLAS gram matrix per cell inside
    ``applyInPandas`` — the paper's own per-cluster formulation — so
    per-pair cost is a vectorized multiply-add, not an interpreted
    64-element fold. Comparisons NEVER cross cluster boundaries: pair
    work is Σ|cell|², and the production contract is k ∝ N (cells stay
    ~constant-sized, e.g. 50k clusters at web scale), which keeps a
    cell's gram bounded (|cell|² doubles) and the stage corpus-linear
    with corpus-sized shuffle rows. A FIXED small codebook (like the
    certification fixture's k=8) is quadratic-in-cell-size by design —
    grow k with the corpus (``ivf_index`` trains one with KMeans), or
    route discovery through ``lsh_near_dup_pairs`` when no codebook
    exists."""
    import pandas as pd

    assigned = assign_to_centroids_vectorized(
        df.select(id_col, vec_col), centroids, vec_col=vec_col
    )
    th = float(threshold)

    def prune(pdf):
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids_s = ids[order]
        V = _vectors_matrix(pdf, vec_col, dim=len(centroids[0]))[order]
        nrm = np.sqrt((V * V).sum(axis=1))
        nz = nrm > 0
        Vn = np.zeros_like(V)
        Vn[nz] = V[nz] / nrm[nz, None]
        S = _spark_round6(Vn @ Vn.T)
        hits = np.triu(S >= th, k=1)
        keep = ~hits.any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids_s[keep],
                "centroid_id": pdf["centroid_id"].to_numpy()[order][keep],
            }
        )

    return assigned.groupBy("centroid_id").applyInPandas(
        prune, schema=f"{id_col} long, centroid_id int"
    )


def semantic_survivor_index(
    corpus: DataFrame,
    kept: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Canonical survivor-index builder for ``incremental_semantic_dedup``:
    join the kept (id, centroid_id) rows back to their vectors and STORE
    the L2 norm alongside — one fold per vector, once per lifetime.
    ``incremental_semantic_dedup`` detects the ``norm`` column and skips
    the index-sized norm recomputation every batch; without stored norms
    that recompute is the term that grows with the index (measured 3.6×
    at a 10× index vs ~flat with norms — BENCH_SCALE r9). Stored norms
    are the DEFAULT an index built through this path gets, not an
    opt-in. At scale, write this frame partitioned by ``centroid_id``
    (the same layout the IVF lake uses) so batch probes prune
    partitions; the norm column rides along in the same files."""
    # a corpus already carrying centroid_id (the IVF-lake layout this
    # docstring recommends) would make the unqualified select ambiguous
    corpus = corpus.drop("centroid_id")
    return corpus.join(kept.select(id_col, "centroid_id"), id_col).select(
        id_col,
        vec_col,
        l2_norm(F.col(vec_col)).alias("norm"),
        "centroid_id",
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup for the incremental-crawl shape: dedup a NEW batch
    against a maintained index of previously-KEPT vectors (the vector
    sibling of ``dedup.incremental_exact_dedup``'s contract — compare
    against survivors, never rescan or re-prune the corpus). A batch
    vector is kept iff its cell holds NO index member at rounded cosine
    ≥ ``threshold`` AND no smaller-id batch member matches it (the same
    any-smaller-id rule as ``semantic_dedup_vectorized``, so in-batch
    pruning is order-deterministic, not greedy-sequential). Returns the
    kept batch (id, centroid_id) rows — append them to the index to
    continue.

    Index contract: because only SURVIVORS are indexed, a batch vector
    is compared against strictly fewer corpus members than a full
    ``semantic_dedup_vectorized`` recompute over index ∪ batch would use
    (a pruned corpus vector can no longer prune) — identical results
    whenever the kept set is ε-ball-representative, and exactly the
    trade every production incremental dedup makes; documented, tested.

    Plan shape: batch-sized assignment (``assign_to_centroids_vectorized``,
    O(|batch|·k) — the corpus never re-ranks; the literal-centroid
    expression form would cost O(k·dim) plan literals, measured 3.6 s
    for a 1,000-row batch at k=160 vs ~0.1 s), one cell-keyed join of
    the batch against the index (at scale the index is written
    partitioned by centroid_id, so the probe prunes partitions — the
    same layout the IVF lake uses), and an in-batch pair join bounded
    by batch-cell occupancy. Cosines are 6dp-rounded column arithmetic,
    so a SQL oracle replays them verbatim."""
    from big_data_chicago_crimes_spark.session import scratch_persist

    b = scratch_persist(
        assign_to_centroids_vectorized(batch, centroids, vec_col=vec_col).select(
            F.col(id_col).alias("__bid"),
            F.col(vec_col).alias("__bv"),
            l2_norm(F.col(vec_col)).alias("__bn"),
            "centroid_id",
        )
    )
    # An index that carries a precomputed ``norm`` column (store it when
    # appending survivors — one fold per vector, once per lifetime) skips
    # the index-sized norm recomputation every batch; without it the
    # per-batch cost grows with the index (measured 3.6× at a 10× index,
    # vs ~flat with stored norms — the growing term was exactly this).
    idx_norm = (
        F.col("norm").cast("double")
        if "norm" in index.columns
        else l2_norm(F.col(vec_col))
    )
    idx = index.select(
        F.col(id_col).alias("__iid"),
        F.col(vec_col).alias("__iv"),
        idx_norm.alias("__in"),
        "centroid_id",
    )
    idx_cos = cosine_similarity(
        F.col("__bv"), F.col("__iv"), norm_a=F.col("__bn"), norm_b=F.col("__in")
    )
    hit_index = (
        b.join(idx, "centroid_id")
        .filter(F.round(idx_cos, 6) >= threshold)
        .select(F.col("__bid"))
        .distinct()
    )
    lhs = b.select(
        F.col("__bid").alias("__ida"),
        F.col("__bv").alias("__va"),
        F.col("__bn").alias("__na"),
        "centroid_id",
    )
    rhs = b.select(
        F.col("__bid").alias("__idb"),
        F.col("__bv").alias("__vb"),
        F.col("__bn").alias("__nb"),
        "centroid_id",
    )
    in_cos = cosine_similarity(
        F.col("__va"), F.col("__vb"), norm_a=F.col("__na"), norm_b=F.col("__nb")
    )
    hit_batch = (
        lhs.join(rhs, "centroid_id")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(F.round(in_cos, 6) >= threshold)
        .select(F.col("__idb").alias("__bid"))
        .distinct()
    )
    pruned = hit_index.unionByName(hit_batch).distinct()
    return (
        b.join(pruned, "__bid", "left_anti")
        .select(F.col("__bid").alias(id_col), "centroid_id")
    )


def ivf_index(
    df: DataFrame,
    k_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Build an IVF index: KMeans (seeded) over the vectors; every row is
    assigned its nearest centroid id. Returns (assigned_df, centroids)
    where ``assigned_df`` carries a ``centroid_id`` column — at scale,
    write it partitioned by centroid_id so probes prune partitions —
    and ``centroids`` is the k×dim list the driver keeps (the index
    metadata; k floats×dim, trivially driver-sized).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = df.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=k_centroids, seed=_LSH_SEED, featuresCol="__v").fit(with_vec)
    assigned = (
        model.transform(with_vec)
        .withColumnRenamed("prediction", "centroid_id")
        .drop("__v")
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def batch_ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """MANY query vectors against the IVF index in ONE list join — the
    IVF sibling of ``batch_ann_topk`` (same probe pattern, centroid
    lists instead of LSH buckets):

    1. the k×dim centroid table is baked in as literals and
       cross-joined to the query batch; each query ranks its ``nprobe``
       nearest cells with a per-query array sort over k_centroids
       entries — all codegen, no driver-side per-query math, no
       collect;
    2. the (query, cell) probe frame — batch × nprobe rows — is
       BROADCAST and equi-joined to ``assigned`` on ``centroid_id``:
       against the centroid-partitioned lake the scan is dynamically
       partition-pruned to the union of probed cells, and the
       corpus-sized side never shuffles;
    3. exact cosine re-rank per query with the same two-phase salted
       top-k as the LSH batch path (no corpus-sized window partitions).

    Output: (query_id, id, cosine, rank ≤ k), ranked by rounded cosine
    with id tie-break."""
    cells = nearest_centroid_cells(vec_col, centroids, nprobe)
    probes = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            cells.alias("__cells"),
        )
        .withColumn("__probe", F.explode("__cells"))
        .select(query_id_col, "__qvec", "__probe")
    )
    cand = assigned.join(
        F.broadcast(probes), assigned["centroid_id"] == probes["__probe"]
    )
    scored = cand.select(
        query_id_col,
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")), 6).alias(
            "cosine"
        ),
    )
    return _salted_topk(scored, query_id_col, id_col, k)


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query (driver-side,
    k_centroids rows), scan only the ``nprobe`` nearest inverted lists,
    exact cosine re-rank inside them. With centroid_id as a partition
    column this is a partition-pruned scan of ~nprobe/k of the data."""
    probe_ids = _rank_probe_cells(query_vec, centroids, nprobe)
    candidates = assigned.filter(F.col("centroid_id").isin(probe_ids))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def _rank_probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side probe-cell ranking shared by ``ivf_topk`` and
    ``ivf_pq_topk``: the SAME rounded-squared-L2 + cid tie-break
    contract nearest_centroid_cells / batch_ivf_topk use — raw norms
    would let a < 5e-7 distance gap probe a different cell than the
    batch path (tests pin single == batch per query). Each distance is
    a SEQUENTIAL Python fold (the ``_lsh_probe_buckets`` convention,
    ADVICE r13): numpy's pairwise ((c-q)**2).sum() can differ from Spark's
    left-to-right F.aggregate by an ulp BEFORE rounding, and a 6dp
    boundary value would then round to a different cell than the batch
    path probes."""

    def _fold_sqdist(c) -> float:
        acc = 0.0
        for x, y in zip(query_vec, c):
            d = float(x) - float(y)
            acc += d * d
        return acc

    d2 = [
        float(_spark_round6(np.asarray([_fold_sqdist(c)]))[0]) for c in centroids
    ]
    return sorted(range(len(centroids)), key=lambda i: (d2[i], i))[:nprobe]


def ivf_pq_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ probe — the FAISS-standard composition (Jégou, Douze &
    Schmid 2011 §V: coarse inverted lists + product-quantized codes;
    this is the non-residual variant — codes quantize the raw vectors,
    so the SAME codebook serves flat-ADC and IVF-ADC probes): rank the
    coarse centroids driver-side (``_rank_probe_cells``, index
    metadata), scan ONLY the ``nprobe`` nearest inverted lists — with
    ``centroid_id`` a partition column that is a partition-PRUNED scan
    of ~nprobe/k_coarse of the CODES table — and rank the surviving
    candidates by asymmetric distance over their codes
    (``pq_adc_topk``'s in-row literal-table fold). The probe touches
    neither the raw vectors nor any unprobed cell's codes: at 100 TB
    the per-query cost is (nprobe/k_coarse) × (corpus_codes_bytes /
    32), the two compression levers multiplied.

    ``indexed`` must carry ``centroid_id`` (assign_to_centroids /
    _vectorized) and ``pq_codes`` (pq_encode) built with the SAME
    centroids and codebook this probe receives — the index build is
    one pass adding both columns, written partitioned by centroid_id."""
    for col in ("centroid_id", "pq_codes"):
        if col not in indexed.columns:
            raise ValueError(f"ivf_pq_topk: indexed frame lacks {col!r}")
    probe_ids = _rank_probe_cells(query_vec, centroids, nprobe)
    cand = indexed.filter(F.col("centroid_id").isin(probe_ids))
    return pq_adc_topk(cand, codebook, query_vec, k=k, id_col=id_col)


def cross_encoder_score_lexical(
    query_tokens: list[str], texts
) -> "np.ndarray":
    """The default, DETERMINISTIC cross-encoder stand-in: binary-token
    cosine ``|q ∩ d| / sqrt(|set(d)| · |set(q)|)`` per candidate text,
    6dp-rounded (``_spark_round6`` — the module's F.round twin). A
    learned cross-encoder is a model runtime this container doesn't
    ship (the multimodal decode-stub convention); this proxy keeps the
    Spark-side plumbing — Arrow batching, schema, ranking — real and
    TESTED, is SQL-replayable (so the rerank leg carries a full DuckDB
    oracle), and swaps for the real scorer without touching the plan."""
    q = set(query_tokens)
    out = np.zeros(len(texts), dtype=np.float64)
    for i, t in enumerate(texts):
        d = set(t.split()) if isinstance(t, str) else set()
        if d and q:
            out[i] = len(q & d) / float(np.sqrt(len(d) * len(q)))
    return _spark_round6(out)


def cross_encoder_rerank(
    candidates: DataFrame,
    query_tokens: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_fn=None,
    score_col: str = "ce_score",
) -> DataFrame:
    """Cross-encoder reranking stage of a retrieval funnel (the
    rerank-cascade shape: BM25/dense recall → cross-encoder top-k, e.g.
    Nogueira & Cho 2019's monoBERT stage): score every CANDIDATE
    (query, text) pair with ``score_fn`` and return the top ``k`` by
    (score desc, id). ``candidates`` must be a candidate-sized frame
    carrying ``text_col`` — by the funnel contract it is ≤ a few hundred
    rows (a GlobalLimit output), so at 100 TB the expensive pairwise
    model touches candidates only, never the corpus; the scoring pass
    is one Arrow ``mapInPandas`` batch per partition (model weights
    load once per executor in a real deployment, amortized across the
    batch — the reason this is NOT a per-row UDF).

    ``score_fn(query_tokens, texts) -> np.ndarray`` defaults to
    :func:`cross_encoder_score_lexical` (deterministic, SQL-replayable
    — see its docstring for the stand-in contract)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    fn = score_fn or cross_encoder_score_lexical
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField(score_col, DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            out[score_col] = fn(query_tokens, pdf[text_col].tolist())
            yield out

    return (
        candidates.mapInPandas(score, schema=out_schema)
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def cross_encoder_rerank_batch(
    candidates: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    score_fn=None,
    score_col: str = "ce_score",
) -> DataFrame:
    """MANY queries reranked in ONE candidates scan — the batch shape of
    :func:`cross_encoder_rerank`, composing with the batch recall
    stages' contract (``embedding_batch_topk`` / ``pq_adc_batch_topk``
    produce per-query candidate rows keyed by ``query_id_col``; join
    texts on, then this stage scores each candidate against ITS query
    and takes per-query top-k). ``queries`` arrives driver-side as
    (query_id, token_list) pairs — the ``_query_vec`` convention: a
    retrieval batch is dim-bounded metadata, not data.

    Scale shape: one Arrow ``mapInPandas`` pass over the candidate
    frame (model weights load once per executor and amortize across
    EVERY query's candidates — the batch form's whole point vs nq
    single-query passes), scoring each pandas batch group-wise by
    query_id; then per-query top-k rides the shared ``_salted_topk``
    contract (score desc, id tie-break — identical result to the
    single-query operator per query, property-pinned in tests). By the
    funnel contract the input is ≤ nq × a-few-hundred rows, so the
    expensive pairwise scorer touches candidates only, never the
    corpus. Output: candidates' columns + (score_col, rank ≤ k).

    A candidate row whose ``query_id_col`` names no query in
    ``queries`` raises loudly in the kernel — scoring it against the
    wrong query's tokens would be a silent wrong answer."""
    if not queries:
        raise ValueError("cross_encoder_rerank_batch: empty query batch")
    qids = [qid for qid, _ in queries]
    if len(set(qids)) != len(qids):
        # two token lists under one query_id would interleave their
        # candidates in ONE ranking — mixed results under ranks 1..k
        raise ValueError(
            f"cross_encoder_rerank_batch: duplicate query ids {qids}"
        )
    from pyspark.sql.types import DoubleType, StructField, StructType

    fn = score_fn or cross_encoder_score_lexical
    toks = {int(qid): list(t) for qid, t in queries}
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField(score_col, DoubleType())]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            scores = np.zeros(len(pdf), dtype=np.float64)
            for qid, idx in pdf.groupby(query_id_col).groups.items():
                if int(qid) not in toks:
                    raise ValueError(
                        f"cross_encoder_rerank_batch: candidate rows carry "
                        f"unknown query_id {qid!r} — not in the query batch"
                    )
                pos = pdf.index.get_indexer(idx)
                scores[pos] = fn(toks[int(qid)], pdf[text_col].iloc[pos].tolist())
            out[score_col] = scores
            yield out

    scored = candidates.mapInPandas(score, schema=out_schema)
    return _salted_topk(
        scored, query_id_col, id_col, k, order_col=score_col, ascending=False
    )


def embedding_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """SEMANTIC eval-set decontamination — the embedding-space
    complement of :func:`~big_data_chicago_crimes_spark.operators.
    curation.ngram_contamination`: a benchmark item that leaked into
    the training corpus as a paraphrase shares no verbatim n-gram but
    still sits at near-1 cosine to the corpus copy, so modern pipelines
    check BOTH (e.g. the decontamination discussion in Brown et al.
    2020 §C and its paraphrase-leakage follow-ups).

    Returns one row per FLAGGED corpus vector:
    ``(id_col, block_col, max_benchmark_cosine)`` where
    ``max_benchmark_cosine`` (6dp, the module's rounding contract) is
    the maximum cosine against any benchmark vector in the same block
    and exceeds ``threshold``. Callers quarantine the flagged ids.

    Scale shape, mirroring ngram_contamination: the BENCHMARK side is
    dim-sized by nature (an eval set, not a corpus) — its vectors
    broadcast WITH precomputed norms, so the corpus streams through a
    broadcast hash join with no shuffle of corpus vectors; each pair
    costs one dot product (both norms precomputed); the only shuffle is
    the per-corpus-id max aggregate, partial-aggregated map-side. At
    100 TB use an LSH bucket as ``block_col`` (hyperplane_lsh_buckets)
    so candidates stay near-linear even against a large benchmark;
    ``label`` blocking here matches the certification fixture.
    """
    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute

    base_c = spread_for_compute(corpus).select(
        F.col(id_col),
        F.col(block_col).alias("__blk"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    base_b = benchmark.select(
        F.col(block_col).alias("__blk"),
        F.col(vec_col).alias("__bv"),
        l2_norm(F.col(vec_col)).alias("__bn"),
    )
    cos = F.round(
        cosine_similarity(
            F.col("__v"), F.col("__bv"), norm_a=F.col("__n"), norm_b=F.col("__bn")
        ),
        6,
    )
    return (
        base_c.join(F.broadcast(base_b), "__blk")
        .select(F.col(id_col), F.col("__blk").alias(block_col), cos.alias("__cos"))
        .groupBy(id_col, block_col)
        .agg(F.max("__cos").alias("max_benchmark_cosine"))
        .filter(F.col("max_benchmark_cosine") >= threshold)
    )


def pq_codebook(m: int, k: int, dim: int) -> list[list[list[float]]]:
    """Seeded literal product-quantization codebook: ``m`` subspaces ×
    ``k`` sub-centroids × ``dim/m`` floats (the `literal_centroids`
    determinism contract — a FIXED codebook both the Spark plan and an
    external SQL oracle can bake in as literals)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.RandomState(_LSH_SEED + 2)
    sub = dim // m
    return [
        [[float(x) for x in row] for row in rng.randn(k, sub)] for _ in range(m)
    ]


def pq_encode(
    df: DataFrame, codebook: list[list[list[float]]], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``pq_codes`` (array<int>, length m): per subspace, the id of
    the nearest sub-centroid (rounded-L2 ranking with cid tie-break —
    the ``nearest_centroid_cells`` portability contract, applied to the
    subspace slice). This is the compression step: a dim-float vector
    becomes m small ints (64 floats → 8 codes = 32× smaller), and it is
    the ONLY pass that touches the raw vectors — every ADC probe after
    it reads codes alone. All codegen scalar expressions; zero shuffle."""
    m = len(codebook)
    sub = len(codebook[0][0])
    codes = F.array(
        *[
            nearest_centroid_cells(
                vec_col, codebook[s], 1, offset=s * sub
            )[0].cast("int")
            for s in range(m)
        ]
    )
    return df.withColumn("pq_codes", codes)


def _adc_table(
    codebook: list[list[list[float]]], query: list[float], name: str = "query"
) -> list[list[float]]:
    """The m×k partial-distance table of one UNquantized query:
    ``table[s][c] = ‖q_s − codebook[s][c]‖²``, unrounded (only the
    final ADC sum is rounded). It depends only on the literal query and
    codebook — index metadata, not data — so the ADC operators bake it
    into the plan as literals."""
    m = len(codebook)
    sub = len(codebook[0][0])
    if len(query) != m * sub:
        raise ValueError(f"{name} dim {len(query)} != {m * sub}")
    return [
        [
            sum((query[s * sub + j] - codebook[s][c][j]) ** 2 for j in range(sub))
            for c in range(len(codebook[s]))
        ]
        for s in range(m)
    ]


def _adc_fold(table: Column, m: int) -> Column:
    """In-row asymmetric distance ``Σ_s table[s][pq_codes[s]]`` — an
    O(m) fold of element_at lookups into a literal partial-distance
    table by code."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(table, s), F.element_at(F.col("pq_codes"), s) + 1
        ),
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: score every encoded vector against
    ``query`` as ``Σ_s ‖q_s − codebook[s][code_s]‖²`` — the query stays
    UNquantized (asymmetric), the corpus is probed through its codes.

    The m×k partial-distance table is computed driver-side in Python
    (it depends only on the literal query and codebook — index metadata,
    not data) and baked into the plan as literal arrays; the per-row
    score is an in-row O(m) fold (element_at into the literal table by
    code), so the probe plan is scan(codes) → project → 
    TakeOrderedAndProject: zero shuffles, zero joins, never touches the
    raw vectors. ``adc_dist`` is rounded to 6dp with an id tie-break
    (the cross-engine ranking contract)."""
    # ONE SQL string for the m×k literal table (the sig_sql convention)
    # — Column-by-Column construction costs a py4j round trip per
    # literal and dominates driver time at production k
    lit_table = F.expr(_lit_double_matrix_sql(_adc_table(codebook, query)))
    adc = _adc_fold(lit_table, len(codebook))
    return (
        encoded.select(id_col, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_adc_batch_topk(
    encoded: DataFrame,
    codebook: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """MANY queries answered in ONE codes scan — the batch shape of
    :func:`pq_adc_topk` (queries arrive as driver-side ``(query_id,
    vector)`` pairs, the ``_query_vec`` convention — a retrieval batch
    is dim-bounded index metadata, not data). All per-query m×k partial-
    distance tables are baked into the plan as ONE literal 3-D array;
    each corpus row evaluates every query's ADC in-row (O(nq·m) table
    lookups, no joins, raw vectors never read) and the per-query top-k
    rides the shared ``_salted_topk`` contract (ascending distance) —
    so the result per query is IDENTICAL to the single-query operator's
    (property-tested). Output: (query_id, id, adc_dist, rank ≤ k)."""
    if not queries:
        raise ValueError("pq_adc_batch_topk: empty query batch")
    qids = [qid for qid, _ in queries]
    if len(set(qids)) != len(qids):
        # two tables under one query_id would rank their interleaved
        # candidates in ONE window — mixed ids under ranks 1..k, no error
        raise ValueError(f"pq_adc_batch_topk: duplicate query ids {qids}")
    tables = [_adc_table(codebook, q, f"query {qid}") for qid, q in queries]
    # nq × m × k literals as ONE SQL string (the sig_sql convention): a
    # 100-query × 8×256 batch is ~205k literals — Column-by-Column
    # construction would spend minutes of driver py4j time before the
    # one codes scan even starts
    lit_tables = F.expr(
        "array("
        + ",".join(_lit_double_matrix_sql(t) for t in tables)
        + ")"
    )
    lit_qids = F.expr(
        "array(" + ",".join(str(int(qid)) for qid, _ in queries) + ")"
    )

    pairs = F.transform(
        F.sequence(F.lit(1), F.lit(len(queries))),
        lambda qi: F.struct(
            F.element_at(lit_qids, qi).alias("query_id"),
            F.round(
                _adc_fold(F.element_at(lit_tables, qi), len(codebook)), 6
            ).alias("adc_dist"),
        ),
    )
    scored = encoded.select(
        F.col(id_col), F.explode(pairs).alias("__p")
    ).select(id_col, F.col("__p.query_id").alias("query_id"), F.col("__p.adc_dist").alias("adc_dist"))
    return _salted_topk(
        scored, "query_id", id_col, k, order_col="adc_dist", ascending=True
    )
