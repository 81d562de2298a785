"""HTTP facade integration: the reference's FastAPI surface driven
through a real socket — predict -> async explain lifecycle, validation
errors, health/status, correlation-id middleware."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

FEATS = [f"feature_{i}" for i in range(5)]


def _fit(spark, path, cols, extra=()):
    """Persist an LR pipeline over ``cols`` (assembler order), trained
    on FEATS plus ``extra`` constant columns (zero variance)."""
    from fraud_detection_spark.ml.pipeline import build_pipeline
    from fraud_detection_spark.sources.synthetic import generate_validation

    df = generate_validation(spark, n=400, seed=11).select(
        *FEATS,
        *(F.lit(1.5).alias(c) for c in extra),
        (F.col("feature_0") > 0).cast("int").alias("label"),
    )
    build_pipeline(list(cols), "label", None).fit(df).write().overwrite().save(path)
    return path


@pytest.fixture(scope="module")
def app_port(spark, tmp_path_factory):
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.streaming.api import ServingApp

    path = _fit(spark, str(tmp_path_factory.mktemp("api") / "model"), FEATS)
    app = ServingApp(FraudDetector(spark, path, FEATS))
    port = app.start(0)
    yield port
    app.stop()


def _req(port, path, body=None):
    url = f"http://127.0.0.1:{port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), dict(e.headers)


def test_status_health_and_correlation_header(app_port):
    code, body, headers = _req(app_port, "/status")
    assert code == 200 and body == {"status": "UP"}
    assert "X-Correlation-ID" in headers

    code, body, _ = _req(app_port, "/health")
    assert code == 200
    assert body["dependencies"]["spark"] == "UP"
    assert body["dependencies"]["model"] == "UP"


def test_predict_validation_422(app_port):
    code, body, _ = _req(
        app_port, "/predict", {"transaction_id": "bad", "features": [1.0, 2.0]}
    )
    assert code == 422 and "5 features" in body["detail"]

    code, body, _ = _req(app_port, "/predict", {"transaction_id": "bad2"})
    assert code == 422


def test_predict_and_async_explain_lifecycle(app_port):
    code, body, headers = _req(
        app_port,
        "/predict",
        {"transaction_id": "tx-1", "features": [2.0, 0.1, -0.3, 0.5, 1.0]},
    )
    assert code == 200
    assert body["transaction_id"] == "tx-1"
    assert body["prediction"] in (0, 1)
    assert 0.0 <= body["score"] <= 1.0
    assert body["explanation_status"] == "Calculation queued"
    assert body["correlation_id"] == headers["X-Correlation-ID"]

    # async worker commits the SHAP record; poll briefly
    deadline = time.time() + 60
    rec = None
    while time.time() < deadline:
        code, rec, _ = _req(app_port, "/explain/tx-1")
        if code == 200:
            break
        time.sleep(0.5)
    assert code == 200, f"explanation never arrived: {rec}"
    assert rec["status"] == "COMPLETED"
    assert len(rec["shap_values"]) == 5
    assert rec["feature_names"] == FEATS
    assert rec["correlation_id"] == body["correlation_id"]

    code, _, _ = _req(app_port, "/explain/never-submitted")
    assert code == 404


def _spark_shap(spark, det, rows):
    """The removed per-request path as the reference: the pipeline's
    feature stages in Spark, then coefficients ⊙ scaled vector, paired
    with the assembler's input columns."""
    from pyspark.ml.functions import vector_to_array

    cols = det.model.stages[0].getInputCols()
    df = spark.createDataFrame(
        [(i, *(float(r.get(c, 0.0)) for c in cols)) for i, r in enumerate(rows)],
        schema="i int, " + ", ".join(f"`{c}` double" for c in cols),
    )
    for stage in det.model.stages[:-1]:
        df = stage.transform(df)
    coefs = det.model.stages[-1].coefficients.toArray().tolist()
    xs = df.orderBy("i").select(vector_to_array("features").alias("x")).collect()
    return [dict(zip(cols, (c * x for c, x in zip(coefs, r["x"])))) for r in xs]


def _jobs_in_group(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_explain_names_follow_assembler_order(spark, tmp_path):
    """Assembler order differs from the detector's feature_names: each
    returned name must carry its own attribution."""
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.streaming.api import ServingApp

    assembler_cols = FEATS[::-1]
    path = _fit(spark, str(tmp_path / "model"), assembler_cols)
    app = ServingApp(FraudDetector(spark, path, FEATS))
    features = {f: 0.7 * i - 1.1 for i, f in enumerate(FEATS)}

    values, names = app._shap_linear(features)
    assert names == assembler_cols
    (want,) = _spark_shap(spark, app.detector, [features])
    got = dict(zip(names, values))
    for f in FEATS:
        assert got[f] == pytest.approx(want[f], rel=1e-9), f


def test_shap_matches_spark_feature_stages_without_spark_jobs(spark, tmp_path):
    """Driver-side φ equals the Spark feature stages x coefficients to
    1e-9 relative, a zero-variance column included (MLlib scales it to
    0.0), and explaining requests starts no Spark job."""
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.streaming.api import ServingApp

    cols = [*FEATS, "const"]
    path = _fit(spark, str(tmp_path / "model"), cols, extra=("const",))
    app = ServingApp(FraudDetector(spark, path, cols))
    rows = [
        {f: 0.5 for f in cols},
        {f: (-1.0) ** i * i for i, f in enumerate(cols)},
        {"feature_0": 2.0, "const": 9.0},  # missing -> 0.0
        {},
        {f: 100.0 for f in cols},
    ]

    sc = spark.sparkContext
    group = "test-explain-no-jobs"
    sc.setJobGroup(group, "driver-side explanations")
    try:
        got = [app._shap_linear(r) for r in rows * 20]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, group) == []

    control = "test-explain-spark-reference"
    sc.setJobGroup(control, "Spark feature stages")
    try:
        want = _spark_shap(spark, app.detector, rows)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, control), "job-group probe saw no Spark job"

    for (values, names), ref in zip(got, want * 20):
        assert names == cols
        for name, v in zip(names, values):
            assert v == pytest.approx(ref[name], rel=1e-9), name
    assert all(values[-1] == 0.0 for values, _ in got)  # zero variance


def test_stop_drains_queue_and_joins_threads(spark, tmp_path):
    """stop() returns only after the worker has finished the queued
    explanations and both the server and worker threads have ended."""
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.streaming.api import ServingApp

    path = _fit(spark, str(tmp_path / "model"), FEATS)
    app = ServingApp(FraudDetector(spark, path, FEATS))
    port = app.start(0)
    for i in range(50):
        code, _, _ = _req(
            port, "/predict", {"transaction_id": f"s-{i}", "features": [0.1 * i] * 5}
        )
        assert code == 200

    stopper = threading.Thread(target=app.stop)
    stopper.start()
    stopper.join(timeout=60)
    assert not stopper.is_alive(), "stop() did not return"
    assert app._threads and not any(t.is_alive() for t in app._threads)
    assert all(
        app._handle_explain(f"s-{i}")[1]["status"] == "COMPLETED" for i in range(50)
    )
