"""ML pipeline sanity: metrics in range, seeded reproducibility, and the
reference-bug fixes observable (fit-then-transform works; dtype-driven
encoding selects real columns)."""

from __future__ import annotations

import pytest

from pyspark.ml import Pipeline

from big_data_chicago_crimes_spark.operators.ml import (
    _feature_stages,
    kmeans_cluster_sizes,
    string_columns,
)
from big_data_chicago_crimes_spark.plans.registry import all_queries
from big_data_chicago_crimes_spark.sources.readers import load_table


def _fit_transform(df, label_col, **kw):
    """The model runners' featurization, fit AND transformed on ``df``."""
    stages, feature_cols = _feature_stages(df, label_col, **kw)
    return Pipeline(stages=stages).fit(df).transform(df), feature_cols


def test_feature_pipeline_fits_then_transforms(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(200)
    prepared, feature_cols = _fit_transform(orders, "o_totalprice")
    assert "features" in prepared.columns
    # dtype-driven selection picked up the string columns (bug 3 fixed)
    assert "o_orderpriority_idx" in feature_cols
    assert prepared.count() == 200


def test_string_columns_reflection(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "i int, s string, d double")
    assert string_columns(df) == ["s"]


def test_logreg_auc_in_range(spark, sf_dir):
    from big_data_chicago_crimes_spark.operators.ml import logistic_regression_auc
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
        "o_totalprice",
        "o_orderpriority",
    )
    df = logistic_regression_auc(orders, "label")
    auc = df.collect()[0].roc_auc
    assert 0.0 <= auc <= 1.0
    # Documented divergence from the reference: metric scalars are DOUBLE
    # here, while the reference declares a FloatType literal schema for
    # them (Dataset.py:36, 739-740). Double is the engine-wide float
    # width (no precision loss on evaluator output); the divergence is
    # intentional and pinned by this assertion.
    assert dict(df.dtypes)["roc_auc"] == "double"


def test_ml_banded_certification_queries(spark, sf_dir):
    """The registered ml_* queries emit band-check booleans the driver can
    hash-verify against their SQL oracles (VERDICT r2 #5): every band must
    actually hold on the seeded fits."""
    qs = all_queries()
    for row in qs["ml_classifier_auc_surface"].build(spark, sf_dir).collect():
        assert row.valid and row.within_band, f"{row.model}: {row}"
        assert row.nondegenerate and row.learns_signal, f"{row.model}: {row}"
    row = qs["ml_gbt_rmse"].build(spark, sf_dir).collect()[0]
    assert row.valid and row.within_band, f"ml_gbt_rmse: {row}"
    km = qs["ml_kmeans_customer_clusters"].build(spark, sf_dir).collect()[0]
    cust_n = load_table(spark, sf_dir, "customer").count()
    assert km.n_clusters == 3 and km.total_assigned == cust_n and km.all_nonempty


def test_auc_signal_band_rejects_shuffled_labels(spark, sf_dir):
    """The ``learns_signal`` band (AUC ≥ 0.85 on the separable label) is
    strong enough to fail a signal-free model (VERDICT r3 nit 4): destroy
    the label-feature relationship by reassigning the label from a hash
    of the order key (uncorrelated with every feature, deterministic),
    and the SAME pipeline's AUC must fall OUTSIDE the band — i.e. the
    band can't be passed by chance-level output, unlike [0.25, 0.75]."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.ml import (
        logistic_regression_predictions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        (F.pmod(F.xxhash64(F.col("o_orderkey").cast("string")), F.lit(2)) == 0)
        .cast("int")
        .alias("label"),
        "o_totalprice",
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        "o_orderpriority",
    )
    preds = logistic_regression_predictions(orders, "label")
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(preds)
    assert auc < 0.85, f"shuffled-label AUC {auc} should fall outside the band"


def test_kmeans_sizes_sum_and_determinism(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_acctbal", "CAST(c_nationkey AS DOUBLE) AS nat"
    )
    a = kmeans_cluster_sizes(cust, ["c_acctbal", "nat"]).collect()
    b = kmeans_cluster_sizes(cust, ["c_acctbal", "nat"]).collect()
    assert a == b  # seeded → reproducible
    assert sum(r.n for r in a) == cust.count()
    assert len(a) == 3


def test_correlation_matrix_diagonal(spark, sf_dir):
    df = all_queries()["ml_correlation_matrix"].build(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 16
    cells = {(r.col_a, r.col_b): r.corr for r in rows}
    for r in rows:
        if r.col_a == r.col_b:
            assert r.corr == pytest.approx(1.0)
        assert -1.0 <= r.corr <= 1.0
        # one triangle is computed and mirrored: exactly symmetric
        assert cells[(r.col_b, r.col_a)] == r.corr


def test_cross_validated_lr(spark, sf_dir):
    from big_data_chicago_crimes_spark.operators.ml import cross_validated_lr_auc
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
        "o_totalprice",
        "o_orderpriority",
    )
    row = cross_validated_lr_auc(orders, "label").collect()[0]
    assert row.best_reg_param in (0.01, 0.1)
    assert 0.0 <= row.roc_auc <= 1.0


def test_one_hot_pipeline(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(300)
    prepared, cols = _fit_transform(orders, "o_totalprice", encode="onehot")
    assert "features" in prepared.columns
    assert any(c.endswith("_oh") for c in cols)


def test_correlation_pairwise_nulls_and_constant_column(spark):
    """Pairwise null deletion (SQL corr semantics, what the DuckDB
    oracle computes) and NULL — not NaN — for a zero-variance column;
    an all-null frame must not crash."""
    from big_data_chicago_crimes_spark.operators.ml import (
        pearson_correlation_matrix,
    )

    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0, None), (2.0, 4.0, 5.0, 1.0), (3.0, None, 5.0, 2.0),
         (4.0, 8.0, 5.0, 3.0)],
        "a double, b double, const double, holey double",
    )
    out = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in pearson_correlation_matrix(df, ["a", "b", "const", "holey"]).collect()
    }
    assert out[("a", "b")] == 1.0           # pairwise: b's null row dropped for (a,b) only
    assert out[("a", "holey")] == 1.0       # holey's null row dropped for this pair only
    assert out[("a", "const")] is None      # zero variance -> NULL, not NaN
    empty = spark.createDataFrame([], "a double, b double")
    rows = pearson_correlation_matrix(empty, ["a", "b"]).collect()
    assert all(r["corr"] is None for r in rows)  # total on empty input


def test_heldout_featurization_fits_on_train_only(spark):
    """The featurization must be fit on the train split only: moving a
    test-split row's numeric value by 1000x must not change the train
    rows' scaled features (full-frame fitting would shift the scaler's
    std for everyone — the leak)."""
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.ml import (
        SEED,
        _split_and_featurize,
    )

    base = spark.range(60).select(
        F.col("id"),
        (F.col("id") % 2).cast("double").alias("label"),
        (F.col("id") * 1.0).alias("x"),
    )
    train1, _ = _split_and_featurize(base, "label", [0.8, 0.2])
    # find a row that lands in TEST and perturb it by 1000x
    train_ids = {r["id"] for r in train1.select("id").collect()}
    test_id = next(i for i in range(60) if i not in train_ids)
    perturbed = base.withColumn(
        "x", F.when(F.col("id") == test_id, F.col("x") * 1000.0).otherwise(F.col("x"))
    )
    train2, _ = _split_and_featurize(perturbed, "label", [0.8, 0.2])
    f1 = {r["id"]: r["features"].toArray().tolist() for r in train1.collect()}
    f2 = {r["id"]: r["features"].toArray().tolist() for r in train2.collect()}
    assert f1 == f2


def test_kmeans_assign_tolerates_nulls_and_features_column(spark):
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.ml import kmeans_assign

    df = spark.createDataFrame(
        [(1, 1.0, "f"), (2, None, "f"), (3, 100.0, "f"), (4, 101.0, "f")],
        "id long, x double, features string",
    )
    out = kmeans_assign(df, ["x"], k=2)
    assert out.count() == 3  # the null row dropped, loudly documented
    assert "features" in out.columns  # caller's column survives
