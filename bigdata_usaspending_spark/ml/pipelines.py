"""The reference's three MLlib pipelines + correlation analysis
(reference: app/machine_learning_models.py:59-330), rebuilt with the same
semantics and the anti-patterns removed.

Reproduced semantics (SURVEY.md §2.11):
- data prep: dropna on required columns (:136-145), month/year derivation
  (:147-148), award_amount > 0 filter (:149);
- the dynamic categorical guard: categorical columns with < 2 distinct
  values are dropped before pipeline construction (:159-167) — the real
  dataset had a single awarding_agency value, so the saved pipelines carry
  one StringIndexer over 4 columns, not 5;
- StringIndexer(handleInvalid="skip") -> OneHotEncoder -> VectorAssembler;
- LinearRegression on one-hot cats + month + year (:229-235);
- LogisticRegression (maxIter=20) on the binary high/low-vs-median label
  (:237-250);
- KMeans k=5 seed=42 with award_amount in the feature vector (:251-258);
- 80/20 randomSplit seed=42 (:262,279), RMSE + AUC evaluators (:271-292),
  cluster centers (:295-297), describe() stats (:300);
- model persistence via PipelineModel.save/load (:326-328);
- inference on single-row DataFrames where handleInvalid="skip" silently
  drops unseen categories -> surfaced as an explicit None (:211-216).

Fixes vs the reference (SURVEY.md §4):
- distinct counts for the guard computed in ONE aggregation pass, not one
  Spark job per column;
- the prepared DataFrame is cached once and shared by all three pipelines
  (the reference re-fit StringIndexers twice and split twice);
- shared indexer fit per training frame; concurrent branches: one
  multi-column StringIndexer + OneHotEncoder, fit once on the full frame
  (correlation + KMeans) and once on the single 80% split (regression +
  classification); the four independent branches run on driver threads
  that keep the caller's job group;
- single-row inference runs one take(1) action instead of rdd.isEmpty()
  probes followed by first().
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import BinaryClassificationEvaluator, RegressionEvaluator
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.ml.stat import Correlation

from ..operators.cleaning import binary_label, drop_null_required, filter_positive, with_month_year

# The reference's exact 5-column candidate set (:151-157). NOT
# recipient_name: the reference never trained on it (high-cardinality), and
# feature parity means the same candidate list feeding the same guard.
DEFAULT_CATEGORICAL = (
    "awarding_agency",
    "awarding_sub_agency",
    "contract_award_type",
    "funding_agency",
    "funding_sub_agency",
)
# the 7 columns the reference required non-null (:136-145)
REQUIRED = (
    "award_amount",
    "start_date",
    "awarding_agency",
    "awarding_sub_agency",
    "contract_award_type",
    "funding_agency",
    "funding_sub_agency",
)
SEED = 42


@dataclass
class TrainingResult:
    feature_categoricals: list[str]
    dropped_categoricals: list[str]
    regression_model: PipelineModel
    regression_rmse: float
    classification_model: PipelineModel
    classification_auc: float
    classification_threshold: float
    clustering_model: PipelineModel
    cluster_centers: list[list[float]]
    correlation: list[list[float]] | None
    correlation_cols: list[str] = field(default_factory=list)
    describe: list[Row] = field(default_factory=list)


def prepare(df: DataFrame, amount_col: str = "award_amount", date_col: str = "start_date") -> DataFrame:
    """Cleaning + derivation shared by all pipelines (reference :136-149)."""
    cleaned = filter_positive(
        with_month_year(drop_null_required(df, REQUIRED), date_col), amount_col
    )
    return cleaned.withColumn(amount_col, F.col(amount_col).cast("double"))


def usable_categoricals(df: DataFrame, candidates=DEFAULT_CATEGORICAL) -> tuple[list[str], list[str]]:
    """The dynamic feature-column guard (reference :159-167): drop categorical
    columns with < 2 distinct values. One aggregation pass for all columns."""
    counts = df.agg(
        *[F.countDistinct(c).alias(c) for c in candidates]
    ).first()
    keep = [c for c in candidates if counts[c] >= 2]
    dropped = [c for c in candidates if counts[c] < 2]
    return keep, dropped


def _features(cats: list[str]) -> Pipeline:
    """The shared feature helper: one StringIndexer over every usable
    categorical, then its one-hot encoder. Fit once per training frame and
    shared by every model trained on that frame."""
    indexed = [f"{c}_index" for c in cats]
    return Pipeline(
        stages=[
            StringIndexer(inputCols=list(cats), outputCols=indexed, handleInvalid="skip"),
            OneHotEncoder(inputCols=indexed, outputCols=[f"{c}_vec" for c in cats]),
        ]
    )


def _assembler(cats: list[str], extra_numeric, features_col: str) -> VectorAssembler:
    return VectorAssembler(
        inputCols=[f"{c}_vec" for c in cats] + list(extra_numeric), outputCol=features_col
    )


def _feature_stages(cats: list[str], extra_numeric, features_col: str):
    return [*_features(cats).getStages(), _assembler(cats, extra_numeric, features_col)]


def _fit_head(features: PipelineModel, encoded: DataFrame, assembler, estimator) -> PipelineModel:
    """Fit ``estimator`` on a frame the fitted ``features`` already encoded;
    the result is the same PipelineModel a full Pipeline.fit would return.
    The feature stages are copied: every transform writes the model's params
    into its JVM object, so models used from concurrent branches must not
    share stage objects."""
    model = estimator.fit(assembler.transform(encoded))
    return PipelineModel(stages=[*features.copy().stages, assembler, model])


def _correlation(
    indexed: DataFrame, cats: list[str], numerics=("award_amount", "month", "year")
) -> tuple[list[list[float]], list[str]]:
    cols = [f"{c}_index" for c in cats] + list(numerics)
    assembled = VectorAssembler(inputCols=cols, outputCol="corr_features").transform(indexed)
    matrix = Correlation.corr(assembled, "corr_features", method="pearson").head()[0]
    return [list(row) for row in matrix.toArray().tolist()], cols


def correlation_matrix(df: DataFrame, cats: list[str], numerics=("award_amount", "month", "year")):
    """Pearson correlation over indexed categoricals + numerics
    (reference :174-191)."""
    return _correlation(_features(cats).fit(df).transform(df), cats, numerics)


def train_all(df: DataFrame, amount_col: str = "award_amount") -> TrainingResult:
    """Fit the three pipelines on a prepared awards-shaped DataFrame.

    Four independent branches run on their own driver threads: correlation
    + KMeans (sharing one feature fit on the full frame), regression,
    classification (sharing one feature fit on the 80% split), describe.
    Their Spark jobs keep the caller's job group and description."""
    prepared = prepare(df, amount_col=amount_col)
    prepared.cache()
    try:
        cats, dropped = usable_categoricals(prepared)

        def correlate_and_cluster():
            features = _features(cats).fit(prepared)
            encoded = features.transform(prepared)
            corr = _correlation(encoded, cats)
            # KMeans k=5 seed=42, amount included (:251-258)
            clu_model = _fit_head(
                features, encoded,
                _assembler(cats, ["month", "year", amount_col], "features_clu"),
                KMeans(featuresCol="features_clu", k=5, seed=SEED),
            )
            return corr, clu_model

        def describe():
            return prepared.select(amount_col, "month", "year").describe().collect()

        def fit_and_score(features, encoded, test, features_col, estimator, evaluator):
            model = _fit_head(
                features, encoded, _assembler(cats, ["month", "year"], features_col), estimator
            )
            return model, evaluator.evaluate(model.transform(test))

        in_caller_group = inheritable_thread_target(prepared.sparkSession)
        # leaving the block waits for every branch, failed or not
        with ThreadPoolExecutor(max_workers=4) as pool:
            clustered = pool.submit(in_caller_group(correlate_and_cluster))
            described = pool.submit(in_caller_group(describe))
            # high/low label vs approx median threshold (:237-250)
            median = prepared.approxQuantile(amount_col, [0.5], 0.001)[0]
            labeled = prepared.withColumn("label", binary_label(amount_col, float(median)))
            # one 80/20 split serves both supervised models: randomSplit
            # sorts within partitions by every orderable column, and label
            # is a function of amount, so these are the rows
            # prepared.randomSplit would pick
            train, test = labeled.randomSplit([0.8, 0.2], seed=SEED)
            features = _features(cats).fit(train)
            encoded = features.transform(train)
            # predict amount from one-hot cats + month + year (:229-235)
            regressed = pool.submit(
                in_caller_group(fit_and_score), features, encoded, test, "features_reg",
                LinearRegression(featuresCol="features_reg", labelCol=amount_col),
                RegressionEvaluator(
                    labelCol=amount_col, predictionCol="prediction", metricName="rmse"
                ),
            )
            classified = pool.submit(
                in_caller_group(fit_and_score), features, encoded, test, "features_cls",
                LogisticRegression(featuresCol="features_cls", labelCol="label", maxIter=20),
                BinaryClassificationEvaluator(labelCol="label", metricName="areaUnderROC"),
            )
        # the first failure in branch order re-raises here
        (corr, corr_cols), clu_model = clustered.result()
        reg_model, rmse = regressed.result()
        cls_model, auc = classified.result()
        stats = described.result()
    finally:
        # release the cached blocks even when a fit fails, so repeated
        # train_all calls in a long-lived driver don't accumulate storage
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
        cluster_centers=[list(map(float, c)) for c in clu_model.stages[-1].clusterCenters()],
        correlation=corr,
        correlation_cols=corr_cols,
        describe=stats,
    )


def save_models(result: TrainingResult, base_dir: str) -> None:
    """Persist the three PipelineModels (reference :326-328)."""
    result.regression_model.write().overwrite().save(f"{base_dir}/pipeline_regression")
    result.classification_model.write().overwrite().save(f"{base_dir}/pipeline_classification")
    result.clustering_model.write().overwrite().save(f"{base_dir}/pipeline_clustering")


def load_models(spark, base_dir: str) -> dict[str, PipelineModel]:
    """Reload persisted pipelines (reference app/ml_app.py:68-74)."""
    return {
        name: PipelineModel.load(f"{base_dir}/pipeline_{name}")
        for name in ("regression", "classification", "clustering")
    }


def infer_single(model: PipelineModel, row_df: DataFrame) -> Row | None:
    """Single-row inference. Returns None when handleInvalid='skip' dropped
    the row (unseen category) — the reference probed rdd.isEmpty() and
    flashed an error (app/ml_app.py:211-216); we surface it explicitly.

    The reference's inference forms supplied month/year directly
    (app/ml_app.py:194-208); awards-shaped rows without them get the same
    derivation the training prep used."""
    if "month" not in row_df.columns and "start_date" in row_df.columns:
        row_df = with_month_year(row_df, "start_date")
    rows = model.transform(row_df).take(1)
    return rows[0] if rows else None


def classify_with_confidence(model: PipelineModel, row_df: DataFrame) -> tuple[str, float] | None:
    """HIGH/LOW + confidence%, as the dashboard displayed it
    (reference app/ml_app.py:282-287)."""
    row = infer_single(model, row_df)
    if row is None:
        return None
    label = int(row["prediction"])
    prob = float(row["probability"][label]) * 100.0
    return ("HIGH" if label == 1 else "LOW", prob)


def tune_regression(
    df: DataFrame,
    amount_col: str = "award_amount",
    num_folds: int = 3,
    parallelism: int = 4,
):
    """Model selection for the regression pipeline: k-fold CrossValidator
    over an elastic-net grid (regParam x elasticNetParam), folds and
    candidate fits running as PARALLEL Spark jobs.

    The reference trains exactly one hard-coded LinearRegression
    (app/machine_learning_models.py:229-235) — no validation beyond a
    single train/test split. This is the warehouse-grade step above it:
    deterministic folds (seed pinned), every candidate scored on held-out
    RMSE, and the winner refit on the full training frame by the
    CrossValidator itself. ``parallelism`` bounds concurrent candidate
    fits — at cluster scale each fit is its own distributed job, so the
    sweep saturates executors without oversubscribing the driver.

    Returns (best_model, best_params, cv_rmse_per_candidate).
    """
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    prepared = prepare(df, amount_col=amount_col)
    cats, _ = usable_categoricals(prepared)
    lr = LinearRegression(featuresCol="features_reg", labelCol=amount_col)
    pipeline = Pipeline(stages=[*_feature_stages(cats, ["month", "year"], "features_reg"), lr])
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0, 0.1, 1.0])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    evaluator = RegressionEvaluator(
        labelCol=amount_col, predictionCol="prediction", metricName="rmse"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=SEED,
    )
    model = cv.fit(prepared)
    best_lr = model.bestModel.stages[-1]
    best_params = {
        "regParam": float(best_lr.getRegParam()),
        "elasticNetParam": float(best_lr.getElasticNetParam()),
    }
    metrics = [float(m) for m in model.avgMetrics]
    return model.bestModel, best_params, metrics


def tune_classifier(
    df: DataFrame,
    amount_col: str = "award_amount",
    num_folds: int = 3,
    parallelism: int = 4,
):
    """Model selection for the high/low classifier — the tune_regression
    treatment applied to the LogisticRegression pipeline: k-fold
    CrossValidator over a regParam x elasticNetParam grid, candidates
    scored on held-out AUC, parallel candidate fits, deterministic folds.
    The label is the same approx-median threshold train_all uses
    (reference app/machine_learning_models.py:237-250, which fits one
    hard-coded classifier with no validation).

    Returns (best_model, best_params, cv_auc_per_candidate).
    """
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    prepared = prepare(df, amount_col=amount_col)
    median = prepared.approxQuantile(amount_col, [0.5], 0.001)[0]
    labeled = prepared.withColumn("label", binary_label(amount_col, float(median)))
    cats, _ = usable_categoricals(labeled)
    lr = LogisticRegression(featuresCol="features_cls", labelCol="label", maxIter=20)
    pipeline = Pipeline(
        stages=[*_feature_stages(cats, ["month", "year"], "features_cls"), lr]
    )
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0, 0.01, 0.1])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=SEED,
    )
    model = cv.fit(labeled)
    best_lr = model.bestModel.stages[-1]
    best_params = {
        "regParam": float(best_lr.getRegParam()),
        "elasticNetParam": float(best_lr.getElasticNetParam()),
    }
    metrics = [float(m) for m in model.avgMetrics]
    return model.bestModel, best_params, metrics
