#!/usr/bin/env python3
"""fraud_detection_spark benchmark: one command for every workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads (see NOTES.md for why each
was chosen and which metric each layer should move):

- ``query_mix``     declared queries back-to-back, one client
- ``train_serve``   training job -> streaming upsert -> FraudDetector ->
                    HTTP ServingApp under an open-loop load generator

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json, measured with tracing off; with
``--trace 1`` they are the per-layer metrics, from spans recorded around
calls into each layer (perfbench/spans.py), and the traced run writes its
spans to ``.perfbench_work/traces/``. Lines before it are a readable
report. Everything the run writes stays under ``.perfbench_work/`` in
the checkout, and every process it starts has exited before it prints.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

SETUP_REPEATS = 3
HERE = os.path.dirname(os.path.abspath(__file__))

def trimmed_mean(values, cut: float = 0.1) -> float:
    """Mean of the values left after dropping the lowest and the highest
    ``cut`` share; steadier than the median when the middle of the
    distribution is sparse (two-mode latencies)."""
    v = sorted(values)
    k = int(len(v) * cut)
    return statistics.fmean(v[k:len(v) - k])


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]: the smallest value
    with at least q% of the values at or below it. Unlike interpolation
    it never lands between two far-apart values of a small sample."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    return v[max(0, math.ceil(len(v) * q / 100.0) - 1)]


class Run:
    """What one benchmark run shares across its workload code: the
    arguments, the work directories, the tracer (or None) and the
    Spark session it owns."""

    def __init__(self, args, root: str) -> None:
        self.seed: int = args.seed
        self.seconds: float = args.seconds
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        os.makedirs(self.work, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=self.work)
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.report: list[str] = []
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Report the run's elapsed wall time at the end of ``phase``."""
        self.note(f"elapsed.{phase}", time.perf_counter() - self._t0, "s")

    # ------------------------------------------------------------ inputs
    def cached_input(self, name: str, build) -> str:
        """Directory ``name`` under the work dir, built once by
        ``build(path)`` and reused by later runs in this checkout. The
        directory name carries a hash of gen.py, so a changed generator
        builds its inputs afresh instead of reusing stale ones."""
        with open(os.path.join(HERE, "gen.py"), "rb") as f:
            gen_hash = hashlib.sha1(f.read()).hexdigest()[:12]
        path = os.path.join(self.work, "inputs", f"{name}-{gen_hash}")
        if not os.path.isdir(path):
            tmp = tempfile.mkdtemp(prefix=".tmp-", dir=self.work)
            build(tmp)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.rename(tmp, path)
        return path

    # ----------------------------------------------------------- tracing
    def span(self, name: str, jobs: bool = False, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, jobs=jobs, **attrs)

    # ----------------------------------------------------------- session
    def setup(self, prepare) -> float:
        """Create the engine session and run ``prepare(spark)``,
        SETUP_REPEATS times (the first also launches the JVM); returns
        the median set-up time. The last session stays open."""
        from fraud_detection_spark.session import get_spark, health_check

        times = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("session.get_spark"):
                self.spark = get_spark("perfbench")
            if self.tracer is not None:
                self.tracer.attach(self.spark)
            if health_check(self.spark)["session"] != "UP":
                raise RuntimeError("session health check failed")
            prepare(self.spark)
            times.append(time.perf_counter() - t0)
        self.report.append("setup_runs_s " + " ".join(f"{t:.3f}" for t in times))
        return statistics.median(times)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; report it when it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def note(self, name: str, value, unit: str) -> None:
        """A line of the readable report, printed before the JSON line."""
        self.report.append(f"{name} {value:.6g} {unit}" if isinstance(value, float) else f"{name} {value} {unit}")

    # ---------------------------------------------------------- teardown
    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _engine_env(run: Run) -> None:
    """Point every scratch location of the engine, Spark and the JVM at
    the run directory, and size the session to this machine's cores."""
    tmp = os.path.join(run.dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # -XX:-UsePerfData: a JVM would otherwise keep a counters file in
    # /tmp; SPARK_LAUNCHER_OPTS reaches the short-lived launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if run.tracer is not None:
        # the job/stage history the tracer reads back at the end
        confs += ["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs) + " pyspark-shell"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["query_mix", "train_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fraud_detection_spark", "__init__.py")):
        print("perfbench: run from the root of a fraud_detection_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    run = Run(args, root)
    _engine_env(run)
    cwd = os.getcwd()
    os.chdir(run.dir)  # spark-warehouse / metastore land in the run dir
    try:
        workload = importlib.import_module(args.workload)
        e2e, layers = workload.run(run)
        if run.tracer is not None:
            run.tracer.unwrap()
            traces = os.path.join(run.work, "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        run.close()
        os.chdir(cwd)
        shutil.rmtree(run.dir, ignore_errors=True)

    # Metric names and units come from BENCHMARK.json. Per-layer metrics
    # of a layer the workload does not call read 0; ``traced.*`` repeat
    # the end-to-end metrics as measured with tracing on, so their
    # distance to the untraced figures is the tracing overhead.
    if run.tracer is None:
        values = e2e
        units = e2e_units
    else:
        t = run.tracer
        values = {
            **layers,
            "session.get_spark_s": statistics.median(
                sp["end"] - sp["start"] for sp in t.named("session.get_spark")
            ),
            "trace.spans": len(t.snapshot()),
            "trace.bookkeeping_s": t.bookkeeping_s,
            **{f"traced.{k}": v for k, v in e2e.items()},
        }
        units = layer_units
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    default = 0.0 if run.tracer is not None else None
    metrics = {k: {"value": float(values.get(k, default)), "unit": u} for k, u in units.items()}
    for line in run.report:
        print(line)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
