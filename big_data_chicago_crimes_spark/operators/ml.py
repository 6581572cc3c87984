"""MLlib pipelines (reference capability: SURVEY.md §2.11, README.md:19-23).

The reference trains four models (logistic regression, random forest,
GBT regression, k-means) through hand-inlined StringIndexer →
VectorAssembler → scaler stages. This module centralizes that as one
``_feature_stages`` scaffold and four seeded model runners, with the
reference's bugs FIXED, not replicated:

1. ``Pipeline().fit(df).transform(df)`` — the reference calls
   ``.transform`` on the unfitted Pipeline (Dataset.py:608, 727, 835).
2. Each boolean column casts from ITSELF (Dataset.py:114 overwrites
   Domestic from Arrest).
3. dtype-driven encode-column selection uses ``df.dtypes`` — the
   reference's ``df.select().dtypes`` (empty select) silently produced
   ``[]`` (Dataset.py:868).

Seeds mirror the reference (42 / 0) so every run is reproducible.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import BinaryClassificationEvaluator, RegressionEvaluator
from pyspark.ml.feature import (
    MinMaxScaler,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


def string_columns(df: DataFrame, exclude: tuple[str, ...] = ()) -> list[str]:
    """Schema-reflective feature selection (the reference's dtype-driven
    pattern, Dataset.py:578-579 — with the empty-select bug fixed)."""
    return [c for c, t in df.dtypes if t == "string" and c not in exclude]


def numeric_columns(df: DataFrame, exclude: tuple[str, ...] = ()) -> list[str]:
    num = {"int", "bigint", "double", "float", "smallint", "tinyint"}
    # decimal(p,s) columns count too (the canonical TPC-H schema types
    # measures as DECIMAL; only this repo's double-typed testdata masked
    # the omission — silently dropping them from the feature set is the
    # exact failure mode the dtype-driven selection exists to fix)
    return [
        c
        for c, t in df.dtypes
        if (t in num or t.startswith("decimal")) and c not in exclude
    ]


def _feature_stages(
    df: DataFrame,
    label_col: str,
    exclude: tuple[str, ...] = (),
    scaler: str = "standard",
    encode: str = "index",
) -> tuple[list, list[str]]:
    """UNfitted featurization stages + feature column names; ``df`` is
    used only for dtype reflection. ``encode='index'`` is the
    frequency-indexed categorical path (Dataset.py:582-585);
    ``encode='onehot'`` swaps in OneHotEncoder (M14) — SAME scaffold, so
    the two featurizations cannot drift. The assembler's
    handleInvalid='error' (the default) is deliberate: 'keep' turns a
    NULL numeric into NaN, which poisons the scaler's std and every
    downstream fit SILENTLY — impute or drop nulls upstream."""
    to_encode = string_columns(df, exclude=exclude + (label_col,))
    indexers = [
        StringIndexer(
            inputCol=c,
            outputCol=f"{c}_idx",
            handleInvalid="keep",
            stringOrderType="frequencyDesc",
        )
        for c in to_encode
    ]
    stages: list = [*indexers]
    if encode == "onehot":
        from pyspark.ml.feature import OneHotEncoder

        stages.append(
            OneHotEncoder(
                inputCols=[f"{c}_idx" for c in to_encode],
                outputCols=[f"{c}_oh" for c in to_encode],
            )
        )
        cat_cols = [f"{c}_oh" for c in to_encode]
    else:
        cat_cols = [f"{c}_idx" for c in to_encode]
    feature_cols = (
        numeric_columns(df, exclude=exclude + (label_col,)) + cat_cols
    )
    stages.append(
        VectorAssembler(inputCols=feature_cols, outputCol="features_raw")
    )
    if scaler == "minmax":  # GBT path (Dataset.py:827-829)
        stages.append(MinMaxScaler(inputCol="features_raw", outputCol="features"))
    else:  # withMean=False keeps sparse vectors sparse (Dataset.py:596-599)
        stages.append(
            StandardScaler(
                inputCol="features_raw",
                outputCol="features",
                withMean=False,
                withStd=True,
            )
        )
    return stages, feature_cols


def _split_and_featurize(
    df: DataFrame,
    label_col: str,
    weights: list[float],
    scaler: str = "standard",
    encode: str = "index",
) -> tuple[DataFrame, DataFrame]:
    """Split the RAW frame, fit the featurization on the TRAIN split
    only, transform both — the leak-free held-out shape. (Fitting the
    indexer/scaler on the full frame before splitting lets test rows
    set the indexer's frequency order and the scaler's std, biasing
    every "held-out" metric; the reference did exactly that.) Unseen
    test categories survive via the indexers' handleInvalid='keep'."""
    train_raw, test_raw = df.randomSplit(weights, seed=SEED)
    stages, _ = _feature_stages(df, label_col, scaler=scaler, encode=encode)
    fitted = Pipeline(stages=stages).fit(train_raw)
    return fitted.transform(train_raw), fitted.transform(test_raw)


def logistic_regression_predictions(df: DataFrame, label_col: str) -> DataFrame:
    """LR (maxIter=100, regParam=0.1 — Dataset.py:644-646) held-out
    predictions (the frame the reference's hist_arrests chart consumes)."""
    train, test = _split_and_featurize(df, label_col, [0.8, 0.2])
    model = LogisticRegression(
        featuresCol="features", labelCol=label_col, maxIter=100, regParam=0.1
    ).fit(train)
    return model.transform(test)


def logistic_regression_auc(df: DataFrame, label_col: str) -> DataFrame:
    """LR → 1-row AUC."""
    preds = logistic_regression_predictions(df, label_col)
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    ).evaluate(preds)
    return df.sparkSession.createDataFrame([(float(auc),)], "roc_auc double")


def random_forest_predictions(df: DataFrame, label_col: str) -> DataFrame:
    """RF (numTrees=20, maxDepth=10, seed=42 — Dataset.py:732-735)
    held-out predictions."""
    train, test = _split_and_featurize(df, label_col, [0.7, 0.3])
    model = RandomForestClassifier(
        featuresCol="features",
        labelCol=label_col,
        numTrees=20,
        maxDepth=10,
        seed=SEED,
    ).fit(train)
    return model.transform(test)


def random_forest_auc(df: DataFrame, label_col: str) -> DataFrame:
    """RF → 1-row AUC."""
    preds = random_forest_predictions(df, label_col)
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    ).evaluate(preds)
    return df.sparkSession.createDataFrame([(float(auc),)], "roc_auc double")


def gbt_regression_rmse(df: DataFrame, label_col: str) -> DataFrame:
    """GBT regression on a pre-aggregated series (the reference trains on
    groupBy-count output, Dataset.py:800,839-847) → 1-row RMSE."""
    train, test = _split_and_featurize(df, label_col, [0.7, 0.3], scaler="minmax")
    model = GBTRegressor(
        featuresCol="features",
        labelCol=label_col,
        maxIter=100,
        maxDepth=5,
        stepSize=0.05,
        seed=SEED,
    ).fit(train)
    preds = model.transform(test)
    rmse = RegressionEvaluator(labelCol=label_col, metricName="rmse").evaluate(preds)
    return df.sparkSession.createDataFrame([(float(rmse),)], "rmse double")


def kmeans_assign(
    df: DataFrame, feature_cols: list[str], k: int = 3
) -> DataFrame:
    """KMeans (seed=0 — Dataset.py:286-294) row→cluster assignment: the
    input frame plus a ``cluster`` column. This is the crime_map input —
    each district colored by its cluster (Dataset.py:291-312).
    NULL-feature rows are dropped before assembly (the line the
    correlation operator already draws; the default assembler would
    crash opaquely mid-fit) and the working vector column is
    collision-safe (a frame already carrying 'features' previously
    died on 'output column already exists')."""
    clean = df.na.drop(subset=feature_cols)
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="__km_features")
    assembled = assembler.transform(clean)
    model = KMeans(k=k, seed=0, featuresCol="__km_features").fit(assembled)
    return (
        model.transform(assembled)
        .withColumnRenamed("prediction", "cluster")
        .drop("__km_features")
    )


def kmeans_cluster_sizes(df: DataFrame, feature_cols: list[str], k: int = 3) -> DataFrame:
    """KMeans (k=3, seed=0 — Dataset.py:286-294) → cluster size table."""
    return (
        kmeans_assign(df, feature_cols, k)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .orderBy("cluster")
    )


def pearson_correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson matrix (Dataset.py:883-885) flattened to (col_a, col_b,
    corr) rows — computed as ONE aggregate pass of k² moment-based cells
    instead of ml.stat.Correlation's assembled-vector RDD path. Three
    divergences that choice removes (all latent on null-free fixtures):
    ml.stat deleted rows LISTWISE (a null in ANY requested column
    removed the row from EVERY pair) while SQL ``corr`` — and the DuckDB
    oracle — delete pairwise; a zero-variance column produced NaN cells
    where SQL yields NULL; and an all-null/empty frame crashed on
    ``.head()[0]``. The moment form (covar_pop / stddev·stddev through
    ``try_divide``) is pairwise, NULL-for-degenerate even under ANSI
    (where ``F.corr`` itself raises DIVIDE_BY_ZERO on a constant
    column), and total — and the single agg runs map-side partials in
    one scan."""
    # each cell from pairwise-deleted moments: aggregates ignore NULLs,
    # so conditioning BOTH columns on joint non-nullness gives SQL
    # corr's pairwise deletion; try_divide yields NULL for a
    # zero-variance column where ANSI F.corr raises DIVIDE_BY_ZERO
    def cell(i: int, j: int):
        both = F.col(cols[i]).isNotNull() & F.col(cols[j]).isNotNull()
        x = F.when(both, F.col(cols[i]))
        y = F.when(both, F.col(cols[j]))
        return F.round(
            F.try_divide(F.covar_pop(x, y), F.stddev_pop(x) * F.stddev_pop(y)),
            6,
        ).alias(f"__c_{i}_{j}")

    # the matrix is symmetric: aggregate the upper triangle only and
    # mirror it, which also makes the output exactly symmetric
    k = len(cols)
    row = df.agg(*[cell(i, j) for i in range(k) for j in range(i, k)]).head()
    rows = [
        (cols[i], cols[j], row[f"__c_{min(i, j)}_{max(i, j)}"])
        for i in range(k)
        for j in range(k)
    ]
    return df.sparkSession.createDataFrame(
        rows, "col_a string, col_b string, corr double"
    )


def one_hot_lr_predictions(df: DataFrame, label_col: str) -> DataFrame:
    """LR held-out predictions over the one-hot feature pipeline — the
    M14 OneHotEncoder path (imported but commented out in the reference,
    Dataset.py:26) run end-to-end so the driver gate certifies it, not
    just the local suite. Same split/hyperparameters as
    :func:`logistic_regression_predictions`; only the featurization
    differs."""
    train, test = _split_and_featurize(df, label_col, [0.8, 0.2], encode="onehot")
    model = LogisticRegression(
        featuresCol="features", labelCol=label_col, maxIter=100, regParam=0.1
    ).fit(train)
    return model.transform(test)


# The CV regParam grid, exported so the certification query's membership
# check and the operator can never drift apart (ADVICE r12).
CV_REG_PARAM_GRID: tuple[float, ...] = (0.01, 0.1)


def cross_validated_lr_auc(df: DataFrame, label_col: str, folds: int = 3) -> DataFrame:
    """CrossValidator + ParamGridBuilder (M14: imported and sketched in
    comments at Dataset.py:615-642 but never run) — a working 3-fold CV
    over the LR regularization grid; returns (best_reg_param, roc_auc)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    # featurization rides INSIDE the CV estimator, so each fold fits
    # the indexer/scaler on its own training folds — the pre-featurized
    # form let every fold's scaler see the held-out fold (leak)
    stages, _ = _feature_stages(df, label_col)
    lr = LogisticRegression(featuresCol="features", labelCol=label_col, maxIter=20)
    grid = ParamGridBuilder().addGrid(lr.regParam, list(CV_REG_PARAM_GRID)).build()
    evaluator = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=Pipeline(stages=[*stages, lr]),
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=folds,
        seed=SEED,
        # fold×param fits are independent — run them concurrently
        # (each fit's jobs still parallelize across executor threads)
        parallelism=4,
    )
    model = cv.fit(df)
    best = model.bestModel.stages[-1]
    auc = max(model.avgMetrics)
    return df.sparkSession.createDataFrame(
        [(float(best.getRegParam()), float(auc))], "best_reg_param double, roc_auc double"
    )
