"""ML pipeline tests (SURVEY.md §5.4): seeded determinism, the dynamic
categorical guard (one StringIndexer over 4 or 5 columns), handleInvalid=skip
inference semantics, persistence round-trip, caller job group kept by the
concurrent branches, value-exact pin against the sequential reference
composition (tests/_ml_reference.py)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from bigdata_usaspending_spark.ml import pipelines as ml
from bigdata_usaspending_spark.ml.adapter import awards_view


@pytest.fixture(scope="module")
def awards(spark, sf_small):
    return awards_view(spark, sf_small)


@pytest.fixture(scope="module")
def result(awards):
    return ml.train_all(awards)


def test_awards_view_schema(awards):
    assert awards.columns[:5] == [
        "award_id", "recipient_name", "start_date", "end_date", "award_amount",
    ]
    assert awards.count() > 0


def test_guard_keeps_multivalue_categoricals(result):
    # every categorical in the star schema has >= 2 distinct values
    assert result.feature_categoricals == list(ml.DEFAULT_CATEGORICAL)
    assert result.dropped_categoricals == []


def _guard_df(spark, awarding_agency_of, funding_sub_agency_of):
    rows = [
        (str(i), f"r{i % 5}", date(2023, 1 + i % 12, 1), 100.0 + i,
         awarding_agency_of(i), f"sub{i % 3}", f"t{i % 2}", f"f{i % 4}",
         funding_sub_agency_of(i))
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows,
        "award_id string, recipient_name string, start_date date, "
        "award_amount double, awarding_agency string, awarding_sub_agency string, "
        "contract_award_type string, funding_agency string, funding_sub_agency string",
    )


def test_guard_candidates_match_reference():
    # the reference's exact 5-column candidate set
    # (app/machine_learning_models.py:151-157) — notably NOT recipient_name
    assert list(ml.DEFAULT_CATEGORICAL) == [
        "awarding_agency", "awarding_sub_agency", "contract_award_type",
        "funding_agency", "funding_sub_agency",
    ]
    assert "recipient_name" not in ml.DEFAULT_CATEGORICAL


def test_guard_drops_single_value_column(spark):
    # the reference's real dataset hit exactly this branch (single awarding
    # agency -> saved pipelines carry one StringIndexer over 4 columns, not
    # 5; SURVEY §2.11)
    df = _guard_df(spark, lambda i: "ONLY_ONE", lambda i: f"fs{i % 2}")
    keep, dropped = ml.usable_categoricals(df)
    assert dropped == ["awarding_agency"]
    assert keep == [
        "awarding_sub_agency", "contract_award_type",
        "funding_agency", "funding_sub_agency",
    ]


def test_guard_drops_single_value_funding_column(spark):
    # 4-vs-5-column indexer branch on the funding side
    df = _guard_df(spark, lambda i: f"ag{i % 2}", lambda i: "ONLY_ONE")
    keep, dropped = ml.usable_categoricals(df)
    assert dropped == ["funding_sub_agency"]
    assert len(keep) == 4


def test_metrics_sane(result):
    assert result.regression_rmse > 0
    assert 0.0 <= result.classification_auc <= 1.0
    assert result.classification_threshold > 0
    assert len(result.cluster_centers) == 5
    n_cats = len(result.feature_categoricals)
    assert len(result.correlation) == n_cats + 3  # cats + amount/month/year


@pytest.mark.slow
def test_training_deterministic(awards, result):
    again = ml.train_all(awards)
    assert again.regression_rmse == result.regression_rmse
    assert again.classification_auc == result.classification_auc
    assert again.classification_threshold == result.classification_threshold


@pytest.mark.slow
def test_persistence_roundtrip(result, spark, tmp_path):
    ml.save_models(result, str(tmp_path))
    loaded = ml.load_models(spark, str(tmp_path))
    assert set(loaded) == {"regression", "classification", "clustering"}


def test_inference_known_and_unseen_category(result, awards, spark):
    sample = awards.limit(1).first()
    known = spark.createDataFrame([sample], awards.schema)
    row = ml.infer_single(result.regression_model, known)
    assert row is not None and row["prediction"] is not None

    unseen = spark.createDataFrame([sample], awards.schema).withColumn(
        "awarding_sub_agency", F.lit("NEVER_SEEN_SUB_AGENCY")
    )
    # handleInvalid="skip" drops the row -> explicit None (reference flashed
    # an error for this case, app/ml_app.py:211-216)
    assert ml.infer_single(result.regression_model, unseen) is None


def test_correlation_heatmap_artifact(result, tmp_path):
    # reference artifact parity: annotated heatmap
    # (app/machine_learning_models.py:194-214) — SVG since no plot lib here
    from bigdata_usaspending_spark.ml.heatmap import (
        correlation_heatmap_svg,
        write_correlation_heatmap,
    )

    n = len(result.correlation_cols)
    assert n == len(result.correlation) and n > 0
    svg = correlation_heatmap_svg(result.correlation, result.correlation_cols)
    assert svg.startswith("<svg") and svg.rstrip().endswith("</svg>")
    assert svg.count("<rect") == n * n + 1  # one per cell + the colorbar
    # every cell annotated; diagonal r=1.00 uses white ink (|r| > 0.5)
    assert svg.count("1.00</text>") >= n
    assert 'fill="white">1.00' in svg
    for label in result.correlation_cols:
        assert f">{label}</text>" in svg
    path = tmp_path / "correlation_heatmap.svg"
    write_correlation_heatmap(result.correlation, result.correlation_cols, str(path))
    assert path.read_text().startswith("<svg")


def test_classify_with_confidence(result, awards, spark):
    sample = spark.createDataFrame([awards.limit(1).first()], awards.schema)
    out = ml.classify_with_confidence(result.classification_model, sample)
    assert out is not None
    label, conf = out
    assert label in ("HIGH", "LOW") and 50.0 <= conf <= 100.0


@pytest.mark.slow
def test_tune_regression_selects_deterministic_winner(spark, awards):
    from bigdata_usaspending_spark.ml.pipelines import tune_regression

    best, params, metrics = tune_regression(awards, num_folds=2, parallelism=2)
    assert len(metrics) == 6  # 3 regParam x 2 elasticNetParam candidates
    assert all(m > 0 for m in metrics)
    assert params["regParam"] in (0.0, 0.1, 1.0)
    assert params["elasticNetParam"] in (0.0, 0.5)
    # the chosen candidate is the grid argmin of held-out RMSE
    assert min(metrics) == metrics[
        [  # rebuild the grid order: regParam-major as added
            (rp, en) for rp in (0.0, 0.1, 1.0) for en in (0.0, 0.5)
        ].index((params["regParam"], params["elasticNetParam"]))
    ]
    # determinism: same seed, same folds, same winner
    _, params2, metrics2 = tune_regression(awards, num_folds=2, parallelism=2)
    assert params2 == params and metrics2 == metrics


@pytest.mark.slow
def test_tune_classifier_selects_deterministic_winner(spark, awards):
    from bigdata_usaspending_spark.ml.pipelines import tune_classifier

    best, params, metrics = tune_classifier(awards, num_folds=2, parallelism=2)
    assert len(metrics) == 6  # 3 regParam x 2 elasticNetParam candidates
    assert all(0.0 <= m <= 1.0 for m in metrics), "AUC must be in [0, 1]"
    assert params["regParam"] in (0.0, 0.01, 0.1)
    assert params["elasticNetParam"] in (0.0, 0.5)
    # the chosen candidate is the grid argmax of held-out AUC
    assert max(metrics) == metrics[
        [
            (rp, en) for rp in (0.0, 0.01, 0.1) for en in (0.0, 0.5)
        ].index((params["regParam"], params["elasticNetParam"]))
    ]
    # the winner predicts on a 1-row frame like any pipeline model
    one = awards.limit(1)
    from bigdata_usaspending_spark.ml.pipelines import prepare

    assert best.transform(prepare(one)).count() == 1
    # determinism: same seed, same folds, same winner
    _, params2, metrics2 = tune_classifier(awards, num_folds=2, parallelism=2)
    assert params2 == params and metrics2 == metrics


def test_train_all_jobs_keep_caller_job_group(spark):
    """train_all's branches run on driver threads; every job they submit
    must carry the caller's job group (per-layer job attribution reads it),
    so no job lands outside the group. Same audit as test_plans'
    plan-construction check."""
    df = _guard_df(spark, lambda i: "ONLY_ONE", lambda i: f"fs{i % 2}")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "train-all-job-group-audit"
    sc.setJobGroup(group, "audit: train_all jobs keep the caller's group")
    try:
        result = ml.train_all(df)
        jobs = tracker.getJobIdsForGroup(group)
        leaked = set(tracker.getJobIdsForGroup(None)) - ungrouped
    finally:
        sc.setJobGroup("", "")
    assert result.feature_categoricals == [
        "awarding_sub_agency", "contract_award_type",
        "funding_agency", "funding_sub_agency",
    ]
    assert jobs, "train_all ran no job inside the caller's group"
    assert not leaked, f"train_all jobs outside the caller's group: {sorted(leaked)}"
    # each saved pipeline: one StringIndexer over the 4 usable columns,
    # encoder, assembler, model
    for model in (result.regression_model, result.classification_model, result.clustering_model):
        assert len(model.stages) == 4
        assert model.stages[0].getInputCols() == result.feature_categoricals


def _model_outputs(model, frame, cols):
    return [tuple(r) for r in model.transform(frame).select(*cols).collect()]


def _assert_same_training(got, want, frame):
    for name in (
        "feature_categoricals", "dropped_categoricals", "regression_rmse",
        "classification_auc", "classification_threshold", "cluster_centers",
        "correlation", "correlation_cols", "describe",
    ):
        assert getattr(got, name) == getattr(want, name), name
    for name, cols in (
        ("regression_model", ["prediction"]),
        ("classification_model", ["prediction", "probability"]),
        ("clustering_model", ["prediction"]),
    ):
        assert _model_outputs(getattr(got, name), frame, cols) == _model_outputs(
            getattr(want, name), frame, cols
        ), name


@pytest.mark.slow
def test_train_all_matches_sequential_reference(result, awards):
    """Shared indexer fits + concurrent branches are value-exact against the
    sequential per-column composition: every TrainingResult field and the
    per-row outputs of all three models."""
    import _ml_reference as ref

    _assert_same_training(result, ref.train_all(awards), ml.prepare(awards))


@pytest.mark.slow
def test_tune_metrics_match_sequential_reference(awards):
    import _ml_reference as ref

    _, _, reg = ml.tune_regression(awards, num_folds=2, parallelism=2)
    assert reg == ref.tune_regression_metrics(awards, num_folds=2, parallelism=2)
    _, _, cls = ml.tune_classifier(awards, num_folds=2, parallelism=2)
    assert cls == ref.tune_classifier_metrics(awards, num_folds=2, parallelism=2)
