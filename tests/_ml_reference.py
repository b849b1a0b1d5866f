"""Reference composition of the three MLlib pipelines, kept for tests.

This is the sequential, per-column form of ``ml.pipelines``: one
single-column StringIndexer per categorical, fit again inside every
consumer (correlation, regression, classification, clustering), two
``randomSplit`` calls, and one pipeline after another. ``train_all`` in the
package shares one indexer fit per training frame and runs its branches
concurrently; ``test_ml`` pins it value-exact against this module.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import BinaryClassificationEvaluator, RegressionEvaluator
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.ml.stat import Correlation
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame

from bigdata_usaspending_spark.ml.pipelines import (
    SEED,
    TrainingResult,
    prepare,
    usable_categoricals,
)
from bigdata_usaspending_spark.operators.cleaning import binary_label


def feature_stages(cats: list[str], extra_numeric: list[str], features_col: str):
    indexers = [
        StringIndexer(inputCol=c, outputCol=f"{c}_index", handleInvalid="skip")
        for c in cats
    ]
    encoder = OneHotEncoder(
        inputCols=[f"{c}_index" for c in cats],
        outputCols=[f"{c}_vec" for c in cats],
    )
    assembler = VectorAssembler(
        inputCols=[f"{c}_vec" for c in cats] + extra_numeric, outputCol=features_col
    )
    return [*indexers, encoder, assembler]


def correlation_matrix(df: DataFrame, cats: list[str], numerics=("award_amount", "month", "year")):
    indexed = df
    for c in cats:
        indexed = (
            StringIndexer(inputCol=c, outputCol=f"{c}_index", handleInvalid="skip")
            .fit(indexed)
            .transform(indexed)
        )
    cols = [f"{c}_index" for c in cats] + list(numerics)
    assembled = VectorAssembler(inputCols=cols, outputCol="corr_features").transform(indexed)
    matrix = Correlation.corr(assembled, "corr_features", method="pearson").head()[0]
    return [list(row) for row in matrix.toArray().tolist()], cols


def train_all(df: DataFrame, amount_col: str = "award_amount") -> TrainingResult:
    prepared = prepare(df, amount_col=amount_col)
    prepared.cache()
    cats, dropped = usable_categoricals(prepared)

    corr, corr_cols = correlation_matrix(prepared, cats)

    reg_pipeline = Pipeline(
        stages=[
            *feature_stages(cats, ["month", "year"], "features_reg"),
            LinearRegression(featuresCol="features_reg", labelCol=amount_col),
        ]
    )
    train, test = prepared.randomSplit([0.8, 0.2], seed=SEED)
    reg_model = reg_pipeline.fit(train)
    rmse = RegressionEvaluator(
        labelCol=amount_col, predictionCol="prediction", metricName="rmse"
    ).evaluate(reg_model.transform(test))

    median = prepared.approxQuantile(amount_col, [0.5], 0.001)[0]
    labeled = prepared.withColumn("label", binary_label(amount_col, float(median)))
    cls_pipeline = Pipeline(
        stages=[
            *feature_stages(cats, ["month", "year"], "features_cls"),
            LogisticRegression(featuresCol="features_cls", labelCol="label", maxIter=20),
        ]
    )
    ctrain, ctest = labeled.randomSplit([0.8, 0.2], seed=SEED)
    cls_model = cls_pipeline.fit(ctrain)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(cls_model.transform(ctest))

    clu_pipeline = Pipeline(
        stages=[
            *feature_stages(cats, ["month", "year", amount_col], "features_clu"),
            KMeans(featuresCol="features_clu", k=5, seed=SEED),
        ]
    )
    clu_model = clu_pipeline.fit(prepared)
    centers = [list(map(float, c)) for c in clu_model.stages[-1].clusterCenters()]

    describe = prepared.select(amount_col, "month", "year").describe().collect()
    prepared.unpersist()

    return TrainingResult(
        feature_categoricals=cats,
        dropped_categoricals=dropped,
        regression_model=reg_model,
        regression_rmse=float(rmse),
        classification_model=cls_model,
        classification_auc=float(auc),
        classification_threshold=float(median),
        clustering_model=clu_model,
        cluster_centers=centers,
        correlation=corr,
        correlation_cols=corr_cols,
        describe=describe,
    )


def _cross_validate(pipeline, grid, evaluator, frame, num_folds, parallelism):
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=SEED,
    )
    return [float(m) for m in cv.fit(frame).avgMetrics]


def tune_regression_metrics(df: DataFrame, amount_col="award_amount", num_folds=3, parallelism=4):
    prepared = prepare(df, amount_col=amount_col)
    cats, _ = usable_categoricals(prepared)
    lr = LinearRegression(featuresCol="features_reg", labelCol=amount_col)
    pipeline = Pipeline(stages=[*feature_stages(cats, ["month", "year"], "features_reg"), lr])
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0, 0.1, 1.0])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    evaluator = RegressionEvaluator(
        labelCol=amount_col, predictionCol="prediction", metricName="rmse"
    )
    return _cross_validate(pipeline, grid, evaluator, prepared, num_folds, parallelism)


def tune_classifier_metrics(df: DataFrame, amount_col="award_amount", num_folds=3, parallelism=4):
    prepared = prepare(df, amount_col=amount_col)
    median = prepared.approxQuantile(amount_col, [0.5], 0.001)[0]
    labeled = prepared.withColumn("label", binary_label(amount_col, float(median)))
    cats, _ = usable_categoricals(labeled)
    lr = LogisticRegression(featuresCol="features_cls", labelCol="label", maxIter=20)
    pipeline = Pipeline(stages=[*feature_stages(cats, ["month", "year"], "features_cls"), lr])
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0, 0.01, 0.1])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    evaluator = BinaryClassificationEvaluator(labelCol="label", metricName="areaUnderROC")
    return _cross_validate(pipeline, grid, evaluator, labeled, num_folds, parallelism)
