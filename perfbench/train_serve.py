"""``train_serve``: the reference's train (EP1) -> serve (EP2) flow.

1. ``run_training_job`` on a seeded creditcard-shaped table: SMOTE inside
   each fold, K folds, final fit, AUC gate, persist.
2. The streaming serving path persists a seeded request backlog through
   ``run_serving_stream`` (stream_upsert.py): the write path.
3. ``FraudDetector`` loads the persisted model; ``ServingApp`` serves it.
4. ``loadgen.py``, a separate process, sends ``POST /predict`` open-loop
   on a seeded Poisson schedule for ``--seconds`` and follows the
   explanation queue through ``GET /explain/<id>``.

``job_s`` is the wall time of training plus the upsert drain, so a
regression in either the training loop or the write path moves it.
``ServingApp.stop()`` leaves the explanation worker draining its backlog
(see the hazards in NOTES.md), so the benchmark discards what is still
queued when the window closes and waits for the worker to end; the
upsert runs before the window so that nothing overlaps it. The offered
rate is far above what the one explanation worker clears (each
explanation is one Spark job), so the queue is saturated and
``work_per_s`` is its sustainable rate. Predicts, explanations and the
HTTP threads share the driver process and its interpreter lock.

Checks: the AUC gate passes and the model is persisted; every predict
score and class is recomputed from the persisted model's scaler and
coefficients, read straight from its parquet files; every completed
explanation equals coef * scaled x; the upsert checks of stream_upsert.py.
"""

from __future__ import annotations

import glob
import json
import math
import os
import queue
import subprocess
import sys
import time

import gen
import stream_upsert
from run import percentile, trimmed_mean

ROWS = 10_000
N_FOLDS = 2
RATE_PER_S = 40.0
DRAIN_S = 0.5
WARMUP_REQUESTS = 1
FEATURES = gen.CREDITCARD_FEATURES


def _dense(v: dict) -> list[float]:
    """Values of an MLlib vector or matrix as stored in parquet; the
    fitted scaler and binomial logistic model store them dense (type 1)."""
    if v["type"] != 1:
        raise ValueError(f"expected a dense vector or matrix, got type {v['type']}")
    return list(v["values"])


def _stage(model_path: str, kind: str) -> tuple[dict, dict]:
    """(first data row, params) of the pipeline stage named ``kind``."""
    import pyarrow.parquet as pq

    (stage,) = glob.glob(os.path.join(model_path, "stages", f"*_{kind}_*"))
    row = pq.read_table(os.path.join(stage, "data")).to_pylist()[0]
    with open(glob.glob(os.path.join(stage, "metadata", "part-*"))[0]) as f:
        meta = json.loads(f.readline())
    return row, {**meta.get("defaultParamMap", {}), **meta.get("paramMap", {})}


def persisted_linear(model_path: str) -> dict:
    """Scaler and logistic coefficients of the persisted pipeline, read
    from its files without Spark."""
    sc, sc_params = _stage(model_path, "StandardScaler")
    lr, lr_params = _stage(model_path, "LogisticRegression")
    return {
        "mean": _dense(sc["mean"]),
        "std": _dense(sc["std"]),
        "with_mean": sc_params.get("withMean", False),
        "with_std": sc_params.get("withStd", True),
        "w": _dense(lr["coefficientMatrix"]),
        "b": _dense(lr["interceptVector"])[0],
        "threshold": lr_params.get("threshold", 0.5),
    }


def scaled(m: dict, x: list[float]) -> list[float]:
    z = []
    for v, mu, sd in zip(x, m["mean"], m["std"]):
        if m["with_mean"]:
            v -= mu
        if m["with_std"]:
            v = v / sd if sd != 0.0 else 0.0
        z.append(v)
    return z


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def run(r) -> tuple[dict, dict]:
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.ml.train_job import run_training_job
    from fraud_detection_spark.sources.tables import load_table
    from fraud_detection_spark.streaming.api import ServingApp

    in_dir = os.path.join(r.dir, "inputs")
    os.makedirs(in_dir)
    gen.creditcard(r.seed, ROWS).to_parquet(os.path.join(in_dir, "creditcard.parquet"), index=False)
    if r.tracer is not None:
        _instrument(r)
        upserts = stream_upsert.instrument(r)

    table = {}

    def prepare(spark):
        table["df"] = load_table(spark, in_dir, "creditcard")
        table["rows"] = table["df"].count()

    setup_s = r.setup(prepare)
    r.check(table["rows"] == ROWS, f"training table has {table['rows']} rows")
    r.mark("setup")

    model_path = os.path.join(r.dir, "model")
    t0 = time.perf_counter()
    with r.span("ml.train_job", jobs=True):
        report = run_training_job(table["df"], FEATURES, "label", n_folds=N_FOLDS,
                                  model_path=model_path, seed=r.seed)
    train_s = time.perf_counter() - t0
    if not r.check(report.gate_passed and report.model_path == model_path,
                   f"AUC gate: test AUC {report.result.test_auc:.4f}"):
        raise RuntimeError("the training job did not persist a model")
    r.mark("train")
    upsert = stream_upsert.phase(r)

    app = ServingApp(FraudDetector(r.spark, model_path, FEATURES))
    port = app.start(0)
    try:
        _warm_up(port)
        r.mark("serve_warmup")
        load = _drive(r, port)
    finally:
        _stop(app)

    r.mark("serve")
    model = persisted_linear(model_path)
    lat_ms, late_ms, rtt_ms = [], [], []
    for req, res in zip(load["schedule"], load["requests"]):
        if res is None:
            continue
        ok = res["status"] == 200
        if ok:
            z = scaled(model, req["body"]["features"])
            score = 1.0 / (1.0 + math.exp(-(model["b"] + sum(w * v for w, v in zip(model["w"], z)))))
            ok = _close(res["body"]["score"], score) and res["body"]["prediction"] == int(score > model["threshold"])
        r.check(ok, f"predict {req['body']['transaction_id']}: {res['status']} {res['body']}")
        lat_ms.append((res["done"] - res["due"]) * 1e3)
        late_ms.append((res["sent"] - res["due"]) * 1e3)
        rtt_ms.append((res["done"] - res["sent"]) * 1e3)
    for ex in load["explained"]:
        x = load["schedule"][ex["index"]]["body"]["features"]
        want = [w * v for w, v in zip(model["w"], scaled(model, x))]
        got = ex["body"].get("shap_values") or []
        r.check(ex["body"].get("status") == "COMPLETED" and len(got) == len(want)
                and all(_close(g, w) for g, w in zip(got, want)),
                f"explanation {ex['index']}: {ex['body'].get('status')}")

    done_t = [ex["t"] for ex in load["explained"]]
    if len(done_t) < 3:
        raise RuntimeError(f"only {len(done_t)} explanations completed")
    explain_per_s = (len(done_t) - 1) / (done_t[-1] - done_t[0])
    e2e = {
        "setup_s": setup_s,
        "op_mean_ms": trimmed_mean(lat_ms),
        "op_p90_ms": percentile(lat_ms, 90),
        "work_per_s": explain_per_s,
        "job_s": train_s + upsert["drain_s"],
    }
    r.note("train_s", train_s, "s")
    r.note("test_auc", report.result.test_auc, "")
    r.note("predict_p50_ms", percentile(lat_ms, 50), "ms")
    r.note("predict_p90_ms", e2e["op_p90_ms"], "ms")
    r.note("predict_p99_ms", percentile(lat_ms, 99), "ms")
    r.note("predicts_sent", len(lat_ms), "requests")
    r.note("explain_per_s", explain_per_s, "1/s")
    r.note("explanations_completed", len(done_t), "explanations")
    layers = {}
    if r.tracer is not None:
        layers = {**_layers(r, load, rtt_ms, late_ms), **stream_upsert.layers(r, upserts, upsert)}
    return e2e, layers


def _warm_up(port: int) -> None:
    """Send WARMUP_REQUESTS predicts one after another and wait for
    their explanations, so the open-loop window starts with the predict
    and explanation paths past their first, slower calls."""
    from loadgen import call

    for i in range(WARMUP_REQUESTS):
        tx = f"warm-up-{i}"
        status, _ = call(port, "POST", "/predict", {"transaction_id": tx, "features": [0.0] * len(FEATURES)})
        if status != 200:
            raise RuntimeError(f"warm-up predict answered {status}")
        deadline = time.perf_counter() + 60
        while call(port, "GET", f"/explain/{tx}")[0] != 200:
            if time.perf_counter() > deadline:
                raise RuntimeError("warm-up explanation did not complete")
            time.sleep(0.02)


def _stop(app) -> None:
    """Stop the app, discard the explanations still queued and wait for
    its threads, so no explanation job runs after the window."""
    app.stop()
    try:
        while app._tasks.get_nowait() is not None:
            pass
    except queue.Empty:
        pass
    app._tasks.put(None)  # the end marker stop() queued, if it was taken
    for t in app._threads:
        t.join(timeout=60)
        if t.is_alive():
            raise RuntimeError(f"serving thread {t.name} did not end")


def _drive(r, port: int) -> dict:
    schedule = gen.predict_requests(r.seed, RATE_PER_S, r.seconds)
    sched_path = os.path.join(r.dir, "schedule.json")
    out_path = os.path.join(r.dir, "load.json")
    with open(sched_path, "w") as f:
        json.dump(schedule, f)
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
           "--port", str(port), "--schedule", sched_path, "--out", out_path,
           "--connections", str(r.nproc), "--drain-s", str(DRAIN_S)]
    with r.span("api.serve_window"):
        proc = subprocess.Popen(cmd)
        try:
            proc.wait(timeout=r.seconds + DRAIN_S + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(out_path) as f:
        load = json.load(f)
    load["schedule"] = schedule
    return load


def _instrument(r) -> None:
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from fraud_detection_spark.ml import pipeline
    from fraud_detection_spark.ml.detector import FraudDetector
    from fraud_detection_spark.sources import tables
    from fraud_detection_spark.streaming.api import ServingApp

    t = r.tracer
    t.wrap_everywhere(tables.load_table, "sources.load_table")
    t.wrap(pipeline, "smote_oversample", "ml.smote_oversample", jobs=True)
    t.wrap(pipeline, "detach", "ml.detach", jobs=True)
    t.wrap(Pipeline, "fit", "ml.pipeline_fit", jobs=True)
    t.wrap(BinaryClassificationEvaluator, "evaluate", "ml.evaluate", jobs=True)
    t.wrap(FraudDetector, "predict", "ml.detector_predict")
    t.wrap(ServingApp, "_shap_linear", "api.explain", jobs=True)


def _layers(r, load: dict, rtt_ms: list[float], late_ms: list[float]) -> dict:
    t = r.tracer
    t.resolve_jobs()
    spans = t.snapshot()
    selfs = t.self_times(spans)
    (train,) = t.named("ml.train_job")
    inside = [sp for sp in spans if train["start"] <= sp["start"] and sp["end"] <= train["end"]]

    def self_s(name: str) -> float:
        return sum(selfs[sp["id"]] for sp in inside if sp["name"] == name)

    (window,) = t.named("api.serve_window")

    def in_window(name: str) -> list[float]:
        return [sp["end"] - sp["start"] for sp in t.named(name)
                if window["start"] <= sp["start"] and sp["end"] <= window["end"]]

    predict_us = [d * 1e6 for d in in_window("ml.detector_predict")]
    explain_ms = [d * 1e3 for d in in_window("api.explain")]
    # queue length seen by the worker: answered predicts minus completed
    # explanations, sampled at every completion
    answered = sorted(res["done"] for res in load["requests"] if res and res["status"] == 200)
    backlog = [sum(a <= ex["t"] for a in answered) - i for i, ex in enumerate(load["explained"], 1)]
    return {
        "ml.pipeline_fit_s": self_s("ml.pipeline_fit"),
        "ml.detach_s": self_s("ml.detach"),
        "ml.smote_oversample_s": self_s("ml.smote_oversample"),
        "ml.evaluate_s": self_s("ml.evaluate"),
        "ml.train_spark_jobs": sum(sp.get("jobs", 0) for sp in inside),
        "ml.detector_predict_us": percentile(predict_us, 50),
        "api.explain_service_ms": percentile(explain_ms, 50),
        "api.explain_backlog_max": max(backlog),
        "api.predict_overhead_ms": percentile(rtt_ms, 50) - percentile(predict_us, 50) / 1e3,
        "loadgen.late_p99_ms": percentile(late_ms, 99),
        "sources.load_table_calls": len(t.named("sources.load_table")),
    }
