"""Model persistence (reference joblib artifacts -> MLlib native
save/load), the GBT (XGBoost-family) pipeline variant, and serving
observability metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _toy_df(spark, n=600):
    from fraud_detection_spark.sources.synthetic import generate_validation

    df = generate_validation(spark, n=n, seed=7)
    return df.withColumn("label", (F.col("feature_0") > 0).cast("int"))


FEATS = [f"feature_{i}" for i in range(10)]


def test_pipeline_model_save_load_roundtrip(spark, tmp_path):
    """PipelineModel.save/load replaces joblib.dump/load
    (preprocess.py:52-57, api/app.py:44-48): the reloaded model must
    score identically."""
    from pyspark.ml import PipelineModel

    from fraud_detection_spark.ml.pipeline import build_pipeline

    df = _toy_df(spark).cache()
    model = build_pipeline(FEATS, "label", None).fit(df)
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    back = PipelineModel.load(path)

    a = model.transform(df).select("prediction").toPandas()
    b = back.transform(df).select("prediction").toPandas()
    assert (a["prediction"].values == b["prediction"].values).all()


def test_gbt_pipeline_trains(spark):
    """GBTClassifier variant (XGBClassifier parity: trees/depth/lr
    mirrored from train_model.py:69-80) learns the planted signal."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from fraud_detection_spark.ml.pipeline import build_pipeline, deterministic_split

    df = _toy_df(spark, n=1500)
    train, test = deterministic_split(df, FEATS)
    model = build_pipeline(FEATS, "label", None, algo="gbt").fit(train)
    auc = BinaryClassificationEvaluator(labelCol="label").evaluate(model.transform(test))
    assert auc >= 0.85, auc


def test_observed_serving_metrics(spark):
    from fraud_detection_spark.streaming.serving import REQUEST_SCHEMA, observed_scores

    df = spark.createDataFrame(
        [("t1", "c1", 10.0, 1.0, 3.0), ("t2", "c2", 500.0, 9.0, 1.0)],
        schema=REQUEST_SCHEMA,
    )
    out, obs = observed_scores(df)
    n = out.count()  # triggers the job; observation fills in
    got = obs.get
    assert n == 2
    assert got["predictions_submitted_total"] == 2
    assert 0.0 <= got["mean_score"] <= 1.0
    assert got["n_flagged"] >= 1  # the 500-value row scores > 0.5


def test_training_job_end_to_end(spark, tmp_path):
    """EP1 parity: the full train_model.py flow in one call — audit,
    split, CV with SMOTE-in-fold, final fit, AUC gate, persist."""
    from fraud_detection_spark.ml.train_job import run_training_job

    df = _toy_df(spark, n=1200)
    path = str(tmp_path / "gatemodel")
    reg = str(tmp_path / "registry")
    rep = run_training_job(
        df, FEATS, "label", n_folds=2, use_smote=True, auc_threshold=0.70,
        model_path=path, registry_root=reg,
    )
    assert all(v == 0 for v in rep.null_counts.values())
    assert set(rep.class_counts) == {0, 1}
    assert len(rep.fold_aucs) == 2
    assert rep.gate_passed and rep.model_path == path
    assert rep.registered_version == 1  # gate passed -> registered
    # gate failure path: impossible threshold -> no model persisted or
    # registered (reference skips mlflow.register_model below the gate)
    rep2 = run_training_job(
        df, FEATS, "label", n_folds=2, use_smote=False, auc_threshold=1.01,
        model_path=str(tmp_path / "never"), registry_root=reg,
    )
    assert not rep2.gate_passed and rep2.model_path is None
    assert rep2.registered_version is None


def test_fraud_detector_single_record_latency(spark, tmp_path):
    """EP4 parity (predict_single.py): dict in, (class, score) out;
    missing features default to 0.0; warm batch-of-1 <= 500 ms
    (BASELINE.md alert threshold #3). The linear fast path scores
    in-process (as the reference does), so no Spark job per record."""
    import time

    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.ml.pipeline import build_pipeline

    df = _toy_df(spark, n=600)
    path = str(tmp_path / "servemodel")
    build_pipeline(FEATS, "label", None).fit(df).write().overwrite().save(path)

    det = FraudDetector(spark, path, FEATS)
    assert det._linear is not None  # LR pipeline -> in-process scoring
    pred, score = det.predict({f: 0.5 for f in FEATS})  # warm-up + full dict
    assert pred in (0, 1) and 0.0 <= score <= 1.0

    t0 = time.perf_counter()
    pred2, score2 = det.predict({"feature_0": 2.0})  # missing -> 0.0
    dt = time.perf_counter() - t0
    assert pred2 in (0, 1) and 0.0 <= score2 <= 1.0
    assert dt < 0.5, f"single-record scoring took {dt:.3f}s (budget 0.5s)"


def test_fraud_detector_local_matches_spark_path(spark, tmp_path):
    """The driver-side linear fast path must reproduce the Spark
    pipeline's transform exactly (same scaler math, same coefficients,
    same threshold rule) — differential-tested on a spread of inputs,
    including missing-feature defaults and extreme values."""
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.ml.pipeline import build_pipeline

    df = _toy_df(spark, n=600)
    path = str(tmp_path / "servemodel2")
    build_pipeline(FEATS, "label", None).fit(df).write().overwrite().save(path)
    det = FraudDetector(spark, path, FEATS)
    assert det._linear is not None

    cases = [
        {f: 0.5 for f in FEATS},
        {f: (-1.0) ** i * i for i, f in enumerate(FEATS)},
        {"feature_0": 2.0},  # missing -> 0.0
        {},  # all defaults
        {f: 100.0 for f in FEATS},  # deep in one tail
    ]
    for features in cases:
        p_local, s_local = det._predict_local(features)
        p_spark, s_spark = det._predict_spark(features)
        assert p_local == p_spark, (features, p_local, p_spark)
        assert abs(s_local - s_spark) < 1e-9, (features, s_local, s_spark)


def test_fraud_detector_gbt_falls_back_to_spark(spark, tmp_path):
    """Non-linear final stage (GBT) -> no linear extract; predict()
    still works through the Spark path."""
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.ml.pipeline import build_pipeline

    df = _toy_df(spark, n=600)
    path = str(tmp_path / "gbtmodel")
    build_pipeline(FEATS, "label", None, algo="gbt").fit(df).write().overwrite().save(path)
    det = FraudDetector(spark, path, FEATS)
    assert det._linear is None
    pred, score = det.predict({f: 0.5 for f in FEATS})
    assert pred in (0, 1) and 0.0 <= score <= 1.0
    with pytest.raises(ValueError, match="LogisticRegression"):
        det.explain({f: 0.5 for f in FEATS})


def test_detach_removes_its_copy(spark, tmp_path, monkeypatch):
    """detach() deletes its on-disk copy once loaded; the detached model
    still transforms with the directory gone."""
    import tempfile

    from fraud_detection_spark.ml.pipeline import build_pipeline, detach

    from pyspark.ml import PipelineModel

    df = _toy_df(spark, n=300)
    fitted = build_pipeline(FEATS, "label", None).fit(df)
    # the reference is a kept copy: the fitted model itself holds a
    # session-referencing summary that detach() exists to drop
    fitted.write().overwrite().save(str(tmp_path / "kept"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    model = detach(fitted)
    assert not list(tmp_path.glob("fds-detach-*"))
    a = PipelineModel.load(str(tmp_path / "kept")).transform(df).select("prediction").toPandas()
    b = model.transform(df).select("prediction").toPandas()
    assert (a["prediction"].values == b["prediction"].values).all()
