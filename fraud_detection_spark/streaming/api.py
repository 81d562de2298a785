"""Request/response serving facade — the reference's FastAPI surface
(api/app.py) as a dependency-free stdlib HTTP server in front of the
Spark scoring stack. Endpoint parity:

- ``POST /predict``       sync score + async SHAP queue
  (api/app.py:178-260): validates the raw feature count (422 on
  mismatch, :186-193), scores through the persisted pipeline, queues
  the explanation task, returns transaction_id / prediction / score /
  correlation_id / explanation_status.
- ``GET /explain/<id>``   stored SHAP values once the worker commits
  (api/app.py:264-276); 404 while pending — the PENDING/COMPLETED
  state machine of db/models.py:11-14.
- ``GET /status``         liveness {"status": "UP"} (api/app.py:130-133).
- ``GET /health``         readiness with per-dependency state and 503
  when degraded (api/app.py:135-175).
- every response carries ``X-Correlation-ID`` (middleware parity,
  api/app.py:121-127).

The async explanation path mirrors the Celery worker (xai_tasks.py):
an in-process queue + daemon worker computing the linear SHAP
attribution φ = coef ⊙ x_scaled (LinearExplainer on a standardized
model — the scaler centers features, so the zero vector IS the
background mean) and committing to an in-memory store standing in for
the Postgres shap_explanations table. Swap the store for the JDBC sink
(sources/jdbc.py) to persist.

This facade is single-node glue by design. Per-request scoring and
explanation are driver-side arithmetic on the detector's linear
snapshot (ml/detector.py), one shared kernel and no Spark job per
request; Spark stays the engine for batch scoring and batch SHAP
(``predict_df``, the ``q_shap_linear`` query). At production scale
the same handlers sit behind any WSGI/ASGI front."""

from __future__ import annotations

import json
import queue
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from fraud_detection_spark.ml.detector import FraudDetector


class ServingApp:
    def __init__(self, detector: FraudDetector):
        self.detector = detector
        self._explain_store: dict[str, dict] = {}
        self._store_lock = threading.Lock()
        self._tasks: queue.Queue = queue.Queue()
        self._httpd: ThreadingHTTPServer | None = None
        self._threads: list[threading.Thread] = []

    # ------------------------------------------------------------- explain
    def _shap_linear(self, features: dict[str, float]) -> tuple[list[float], list[str]]:
        """φ = coef ⊙ x_scaled (xai_tasks.py:102-115's LinearExplainer
        for a standardized linear model), names in the values' order."""
        return self.detector.explain(features)

    def _worker(self) -> None:
        while True:
            item = self._tasks.get()
            if item is None:
                return
            tx_id, features, corr_id = item
            try:
                shap, names = self._shap_linear(features)
                with self._store_lock:
                    self._explain_store[tx_id] = {
                        "transaction_id": tx_id,
                        "shap_values": shap,
                        "feature_names": names,
                        "correlation_id": corr_id,
                        "status": "COMPLETED",
                        "created_at": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                    }
            except Exception as ex:  # dead-letter: terminal FAILED state
                with self._store_lock:
                    self._explain_store[tx_id] = {
                        "transaction_id": tx_id,
                        "status": "FAILED",
                        "error": str(ex),
                        "correlation_id": corr_id,
                    }

    # -------------------------------------------------------------- routes
    def _handle_predict(self, body: dict, corr_id: str) -> tuple[int, dict]:
        features = body.get("features")
        tx_id = body.get("transaction_id", str(uuid.uuid4()))
        expected = len(self.detector.feature_names)
        if isinstance(features, list):
            if len(features) != expected:
                return 422, {
                    "detail": (
                        f"Input data must have {expected} features, "
                        f"but got {len(features)}."
                    )
                }
            fdict = dict(zip(self.detector.feature_names, features))
        elif isinstance(features, dict):
            fdict = {k: float(v) for k, v in features.items()}
        else:
            return 422, {"detail": "missing 'features' (list or object)"}
        prediction, score = self.detector.predict(fdict)
        self._tasks.put((tx_id, fdict, corr_id))
        return 200, {
            "transaction_id": tx_id,
            "prediction": prediction,
            "score": score,
            "correlation_id": corr_id,
            "explanation_status": "Calculation queued",
        }

    def _handle_explain(self, tx_id: str) -> tuple[int, dict]:
        with self._store_lock:
            rec = self._explain_store.get(tx_id)
        if rec is None:
            return 404, {"detail": f"no explanation for {tx_id!r} (yet)"}
        return 200, rec

    def _handle_health(self) -> tuple[int, dict]:
        deps: dict[str, str] = {}
        try:
            ok = self.detector.spark.sql("SELECT 1 AS ok").collect()[0]["ok"] == 1
            deps["spark"] = "UP" if ok else "DOWN"
        except Exception as ex:
            deps["spark"] = f"DOWN ({ex})"
        deps["model"] = "UP" if self.detector.model is not None else "DOWN"
        degraded = any(not v.startswith("UP") for v in deps.values())
        body = {"status": "DEGRADED" if degraded else "OK", "dependencies": deps}
        return (503 if degraded else 200), body

    # ----------------------------------------------------------- lifecycle
    def start(self, port: int = 0) -> int:
        """Bind (port 0 = ephemeral), serve in a daemon thread, start
        the explanation worker. Returns the bound port."""
        app = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # silent under pytest
                pass

            def _send(self, code: int, body: dict, corr_id: str) -> None:
                data = json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.send_header("X-Correlation-ID", corr_id)
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                corr_id = str(uuid.uuid4())
                if self.path == "/status":
                    self._send(200, {"status": "UP"}, corr_id)
                elif self.path == "/health":
                    code, body = app._handle_health()
                    self._send(code, body, corr_id)
                elif self.path.startswith("/explain/"):
                    code, body = app._handle_explain(self.path[len("/explain/"):])
                    self._send(code, body, corr_id)
                else:
                    self._send(404, {"detail": "not found"}, corr_id)

            def do_POST(self):
                corr_id = str(uuid.uuid4())
                if self.path != "/predict":
                    self._send(404, {"detail": "not found"}, corr_id)
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                except (ValueError, json.JSONDecodeError):
                    self._send(400, {"detail": "invalid JSON body"}, corr_id)
                    return
                code, resp = app._handle_predict(body, corr_id)
                self._send(code, resp, corr_id)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        t_http = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t_worker = threading.Thread(target=self._worker, daemon=True)
        t_http.start()
        t_worker.start()
        self._threads = [t_http, t_worker]
        return self._httpd.server_address[1]

    def stop(self) -> None:
        """Stop accepting requests, let the worker finish the queued
        explanations, and wait for the server and worker threads."""
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        self._tasks.put(None)
        for t in self._threads:
            t.join()
