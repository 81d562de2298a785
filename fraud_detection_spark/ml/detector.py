"""Single-record scoring and explanation facade — the reference's EP4
(predict_single.py:6-32 `FraudDetector`) and the linear SHAP step of
its explanation worker (xai_tasks.py:86-115): accept a feature dict,
realign to the training feature order with missing->0.0 defaults
(xai_tasks.py:86-90), scale through the persisted pipeline, and return
either (prediction, probability) or the per-feature attribution.

Serving architecture: the reference scores and explains one
transaction in-process (predict_single.py loads the joblib model and
calls it directly — no cluster round-trip), and so does this facade.
For linear pipelines (VectorAssembler -> StandardScaler ->
LogisticRegression, the shipped model shape) the assembler order,
scaler shift/scale and LR coefficients are pulled to the driver ONCE
at load. One driver-side kernel, ``_scaled``, reproduces the feature
stages (MLlib's ``(x - mean) * (1/std)``, zero-variance features to
0.0); ``predict`` turns its output into a logit and ``explain`` into
φ = coef ⊙ x_scaled. Both are pure in-process arithmetic —
microseconds, no Spark job, no per-record Catalyst planning. Launching
a distributed job per single row is the wrong tool at any scale; Spark
stays the engine for *batch* scoring (``predict_df``) and for
non-linear models (GBT fallback path for ``predict``; ``explain``
rejects them).

Batch-of-1 latency parity target: <= 500 ms warm (the reference's API
P95 alert threshold, BASELINE.md #3) — asserted in tests; the linear
fast path clears it by ~4 orders of magnitude.
"""

from __future__ import annotations

import math

from pyspark.ml import PipelineModel
from pyspark.ml.classification import LogisticRegressionModel
from pyspark.ml.feature import StandardScalerModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class FraudDetector:
    """Load once, score many — mirrors the module-global model load of
    api/worker.py:47-49 / the lru_cache of api/app.py:34."""

    def __init__(self, spark: SparkSession, model_path: str, feature_names: list[str]):
        self.spark = spark
        self.model = PipelineModel.load(model_path)
        self.feature_names = list(feature_names)
        self._linear = self._extract_linear()

    def _extract_linear(self) -> dict | None:
        """Driver-side copy of the linear pipeline's math, taken once
        at load. Returns None for non-linear final stages (e.g. GBT),
        which fall back to the Spark path."""
        stages = list(self.model.stages)
        if not stages or not isinstance(stages[-1], LogisticRegressionModel):
            return None
        lr = stages[-1]
        w = lr.coefficients.toArray().tolist()
        # MLlib StandardScalerModel: (x - shift) * scale, where shift is
        # the mean under withMean and scale is 1/std under withStd, with
        # zero-variance features scaled to 0.0
        shift, scale = [0.0] * len(w), [1.0] * len(w)
        for st in stages:
            if isinstance(st, StandardScalerModel):
                if st.getWithMean():
                    shift = st.mean.toArray().tolist()
                if st.getWithStd():
                    scale = [1.0 / s if s != 0.0 else 0.0 for s in st.std.toArray()]
        cols = self.feature_names
        for st in stages:
            # honor the assembler's declared order if it differs
            if hasattr(st, "getInputCols"):
                try:
                    cols = list(st.getInputCols())
                except Exception:
                    pass
                break
        return {
            "cols": cols,
            "shift": shift,
            "scale": scale,
            "w": w,
            "b": float(lr.intercept),
            "threshold": float(lr.getThreshold()),
        }

    def predict(self, features: dict[str, float]) -> tuple[int, float]:
        """dict -> (class, fraud score). In-process for linear models;
        single-row Spark job only for non-linear fallbacks."""
        if self._linear is not None:
            return self._predict_local(features)
        return self._predict_spark(features)

    def _scaled(self, features: dict[str, float]) -> list[float]:
        """The linear pipeline's feature stages on the driver: features
        in the assembler's order (missing -> 0.0), standardized."""
        p = self._linear
        return [
            (float(features.get(f, 0.0)) - m) * s
            for f, m, s in zip(p["cols"], p["shift"], p["scale"])
        ]

    def _predict_local(self, features: dict[str, float]) -> tuple[int, float]:
        p = self._linear
        logit = p["b"] + sum(w * z for w, z in zip(p["w"], self._scaled(features)))
        score = 1.0 / (1.0 + math.exp(-logit))
        return (1 if score > p["threshold"] else 0), float(score)

    def explain(self, features: dict[str, float]) -> tuple[list[float], list[str]]:
        """Linear SHAP attribution φ = coef ⊙ x_scaled (the
        LinearExplainer of xai_tasks.py:102-115 on a standardized model:
        the scaler centers features, so the zero vector is the
        background mean). Returns (values, names), the names in the
        order of the values, i.e. the assembler's input order."""
        p = self._linear
        if p is None:
            raise ValueError(
                "linear SHAP needs a LogisticRegression final stage, got "
                f"{type(self.model.stages[-1]).__name__}"
            )
        return [w * z for w, z in zip(p["w"], self._scaled(features))], list(p["cols"])

    def _predict_spark(self, features: dict[str, float]) -> tuple[int, float]:
        row = [tuple(float(features.get(f, 0.0)) for f in self.feature_names)]
        df = self.spark.createDataFrame(
            row, schema=", ".join(f"`{f}` double" for f in self.feature_names)
        )
        out = (
            self.model.transform(df)
            .select(
                F.col("prediction").cast("int").alias("prediction"),
                vector_to_array("probability").getItem(1).alias("score"),
            )
            .collect()[0]
        )
        return int(out["prediction"]), float(out["score"])

    def predict_df(self, df: DataFrame) -> DataFrame:
        """Batch scoring — the distributed path (model.transform), for
        when there IS a batch to amortize a Spark job over."""
        return self.model.transform(df).select(
            *df.columns,
            F.col("prediction").cast("int").alias("prediction"),
            vector_to_array("probability").getItem(1).alias("score"),
        )
