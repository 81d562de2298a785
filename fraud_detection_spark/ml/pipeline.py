"""MLlib training pipeline — Spark re-expression of the reference's
train_model.py: stratified split, StandardScaler fit on train only
(train_model.py:36-40), class weighting (scale_pos_weight,
train_model.py:51-55), stratified K-fold CV with SMOTE applied *inside*
each fold's training split only (leak-free, train_model.py:58-66), and
a final fit + held-out AUC (train_model.py:91-110).

Model: MLlib LogisticRegression with weightCol — the reference's
shipped/served artifact is the logistic model (models/logistic_model.
joblib loaded at api/app.py:44, evaluate_model.py:20, api/worker.py:47);
its XGBoost generation maps to SparkXGBClassifier/GBTClassifier and
slots into the same pipeline.

Scale posture: LR fit is MLlib's distributed L-BFGS (tree-aggregated
gradients); scaling/assembly are narrow column transforms; fold
assignment is a deterministic hash of the feature vector (stable under
repartitioning — no RNG fold leakage across retries).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fraud_detection_spark.ml.smote import smote_oversample


def detach(model: PipelineModel) -> PipelineModel:
    """Save+load round-trip that drops the classifier's training
    summary. A freshly-fit LogisticRegression/GBT model keeps a summary
    holding a SparkSession reference; task closures then serialize that
    session, which FAILS whenever any Observation has been registered
    on it (Spark 4.1: ObservationManager's registry is not
    serializable once non-empty). Loaded models carry no summary, so
    they are always closure-safe. The copy is deleted once loaded: the
    MLlib readers collect every stage's data to the driver at load."""
    with tempfile.TemporaryDirectory(prefix="fds-detach-") as tmp:
        path = tmp + "/m"
        model.write().overwrite().save(path)
        return PipelineModel.load(path)


@dataclass
class TrainResult:
    model: PipelineModel
    test_auc: float
    fold_aucs: list[float] = field(default_factory=list)


def add_weight_col(df: DataFrame, label_col: str, weight_col: str = "weight") -> DataFrame:
    """scale_pos_weight = n_neg / n_pos as a per-row weight column.
    Ref: train_model.py:51-55."""
    counts = {
        r[label_col]: r["cnt"]
        for r in df.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()
    }
    spw = counts.get(0, 1) / max(counts.get(1, 1), 1)
    return df.withColumn(
        weight_col, F.when(F.col(label_col) == 1, float(spw)).otherwise(1.0)
    )


def build_pipeline(
    feature_cols: list[str],
    label_col: str,
    weight_col: str | None,
    algo: str = "lr",
) -> Pipeline:
    """VectorAssembler -> StandardScaler(withMean) -> classifier.

    algo='lr'  : LogisticRegression — the reference's shipped/served
                 model (models/logistic_model.joblib, api/app.py:44).
    algo='gbt' : GBTClassifier — the MLlib gradient-boosted-trees
                 stand-in for the reference's XGBClassifier generation
                 (train_model.py:69-80: 100 trees, depth 5, lr 0.1;
                 params mirrored). xgboost.spark.SparkXGBClassifier is
                 a drop-in here when the xgboost package is available —
                 gated because this container ships without it.
    """
    stages: list = [
        VectorAssembler(inputCols=feature_cols, outputCol="features_raw"),
        StandardScaler(
            inputCol="features_raw", outputCol="features", withMean=True, withStd=True
        ),
    ]
    if algo == "xgb":
        # real SparkXGBClassifier when the xgboost package is present
        # (probed 2026-08-13: not installable in this container — pip
        # is disabled and no wheel is baked in; the import gate keeps
        # the surface live for environments that have it)
        try:
            from xgboost.spark import SparkXGBClassifier
        except ImportError as ex:  # pragma: no cover - container lacks xgboost
            raise ImportError(
                "algo='xgb' needs the xgboost package (xgboost.spark."
                "SparkXGBClassifier); use algo='gbt' for the MLlib "
                "gradient-boosted-trees mirror of the same params"
            ) from ex
        stages.append(
            SparkXGBClassifier(
                features_col="features",
                label_col=label_col,
                # reference params, train_model.py:69-80
                n_estimators=100,
                max_depth=5,
                learning_rate=0.1,
                random_state=42,
                **({"weight_col": weight_col} if weight_col else {}),
            )
        )
    elif algo == "gbt":
        from pyspark.ml.classification import GBTClassifier

        stages.append(
            GBTClassifier(
                featuresCol="features",
                labelCol=label_col,
                maxIter=20,  # trees (reference uses 100; bounded for tests)
                maxDepth=5,
                stepSize=0.1,
                seed=42,
                **({"weightCol": weight_col} if weight_col else {}),
            )
        )
    elif algo == "lr":
        stages.append(
            LogisticRegression(
                featuresCol="features",
                labelCol=label_col,
                maxIter=50,
                regParam=0.0,
                **({"weightCol": weight_col} if weight_col else {}),
            )
        )
    else:
        raise ValueError(f"unknown algo: {algo!r} (expected 'lr', 'gbt', or 'xgb')")
    return Pipeline(stages=stages)


def deterministic_split(df: DataFrame, feature_cols: list[str], train_frac: float = 0.8) -> tuple[DataFrame, DataFrame]:
    """~80/20 split keyed by a hash of the row content — reproducible
    on any cluster layout (vs RNG split at preprocess.py:36-38)."""
    bucket = F.pmod(F.xxhash64(*feature_cols), F.lit(1000))
    thresh = int(train_frac * 1000)
    return df.filter(bucket < thresh), df.filter(bucket >= thresh)


def train_with_cv(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    n_folds: int = 5,
    use_smote: bool = True,
    seed: int = 42,
) -> TrainResult:
    """Fold-loop CV with SMOTE-inside-fold (CrossValidator cannot
    express per-fold resampling — hand-rolled loop, as in
    train_model.py:48-87), then final fit on the full training split.
    """
    train, test = deterministic_split(df, feature_cols)
    train = train.withColumn(
        "fold", F.pmod(F.xxhash64(*feature_cols) + 17, F.lit(n_folds))
    ).cache()
    evaluator = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    )

    fold_aucs: list[float] = []
    for f in range(n_folds):
        tr = train.filter(F.col("fold") != f).drop("fold")
        va = train.filter(F.col("fold") == f).drop("fold")
        if use_smote:
            tr = smote_oversample(tr, feature_cols, label_col, seed=seed)
            fitted = build_pipeline(feature_cols, label_col, None).fit(tr)
        else:
            tr = add_weight_col(tr, label_col)
            fitted = build_pipeline(feature_cols, label_col, "weight").fit(tr)
        fold_aucs.append(float(evaluator.evaluate(detach(fitted).transform(va))))

    final_train = train.drop("fold")
    if use_smote:
        final_train = smote_oversample(final_train, feature_cols, label_col, seed=seed)
        model = detach(build_pipeline(feature_cols, label_col, None).fit(final_train))
    else:
        final_train = add_weight_col(final_train, label_col)
        model = detach(build_pipeline(feature_cols, label_col, "weight").fit(final_train))
    test_auc = float(evaluator.evaluate(model.transform(test)))
    train.unpersist()
    return TrainResult(model=model, test_auc=test_auc, fold_aucs=fold_aucs)
