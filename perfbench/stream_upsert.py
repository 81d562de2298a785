"""Streaming upsert: ``run_serving_stream`` over a JSON request backlog.

It runs as a phase of ``train_serve``, after training and before the
HTTP window: the benchmark's write path.

The backlog is written from ``--seed`` and drained once into a fresh
results table and checkpoint with a fixed ``maxFilesPerTrigger``. A
quarter of the requests re-send a key first sent in an earlier
micro-batch, so they update rows written before. Keys spread evenly over
the table's hash buckets, so every micro-batch reads and rewrites every
bucket and the cost of a batch grows with the table.

Checks: the stream's ``numInputRows`` add up to the rows sent, and the
table holds exactly one COMPLETED row per distinct key, carrying the
score of the last request sent for it.
"""

from __future__ import annotations

import decimal
import math
import os
import statistics
import time

import gen
from run import percentile

N_FILES = 4
ROWS_PER_FILE = 1_000
FILES_PER_TRIGGER = 2


def expected_score(req: dict) -> float:
    """The published serving model (streaming/serving.py WEIGHTS, BIAS)
    in the same order of operations, rounded HALF_UP to 6 places."""
    logit = -1.0 + 0.02 * req["f_value"] + 0.01 * req["f_k"] + -0.05 * req["f_hour"]
    score = 1.0 / (1.0 + math.exp(-logit))
    return float(decimal.Decimal(repr(score)).quantize(decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP))


def phase(r) -> dict:
    """Write the backlog, drain it, check the outputs and report.
    ``drain_s`` is the wall time of the drain alone."""
    from fraud_detection_spark.streaming.serving import read_results, run_serving_stream

    req_dir = os.path.join(r.dir, "requests")
    results_dir = os.path.join(r.dir, "results")
    sent = gen.upsert_backlog(req_dir, r.seed, N_FILES, ROWS_PER_FILE, FILES_PER_TRIGGER)
    input_bytes = sum(os.path.getsize(os.path.join(req_dir, f)) for f in os.listdir(req_dir))
    spark = r.spark
    t0 = time.perf_counter()
    with r.span("stream_upsert.drain"):
        stats = run_serving_stream(spark, req_dir, results_dir,
                                   checkpoint_dir=os.path.join(r.dir, "ckpt"),
                                   max_files_per_trigger=FILES_PER_TRIGGER)
    drain_s = time.perf_counter() - t0
    r.check(stats["rows"] == len(sent), f"numInputRows {stats['rows']} != {len(sent)} sent")
    r.mark("upsert")

    last: dict[str, dict] = {}
    for req in sent:
        last[req["transaction_id"]] = req
    table = read_results(spark, results_dir).select("transaction_id", "score", "status").toPandas()
    r.check(len(table) == len(last) and table["transaction_id"].is_unique,
            f"{len(table)} rows for {len(last)} distinct keys")
    for tx, score, status in table.itertuples(index=False, name=None):
        req = last.get(tx)
        r.check(req is not None and status == "COMPLETED" and abs(score - expected_score(req)) <= 1e-9,
                f"row {tx}: {status} {score}")
    r.mark("upsert_checked")

    batch_ms = [b["ms"] for b in stats["batches"]]
    r.note("upsert_s", drain_s, "s")
    r.note("ingest_rows_per_s", len(sent) / drain_s, "rows/s")
    r.note("microbatch_p50_s", percentile(batch_ms, 50) / 1e3, "s")
    r.note("microbatches", len(batch_ms), "batches")
    r.note("distinct_keys", len(last), "keys")
    return {"drain_s": drain_s, "input_bytes": input_bytes}


class BucketState:
    """Row count of each bucket's live version per results table, so a
    batch's reads of existing rows can be told apart from its input."""

    def __init__(self) -> None:
        self.rows: dict[tuple[str, str], int] = {}
        self.batches: list[dict] = []


def instrument(r) -> BucketState:
    import pyarrow.parquet as pq

    from fraud_detection_spark.streaming import serving

    state = BucketState()

    def after_batch(sp, args, kwargs, out):
        batch_id, results_dir = args[1], args[2]
        root = os.path.join(results_dir, "buckets")
        touched, written, existing = 0, 0, 0
        for b in sorted(os.listdir(root)):
            with open(os.path.join(root, b, "_CURRENT")) as f:
                version = f.read().strip()
            if version != f"v{batch_id}":
                continue
            touched += 1
            existing += state.rows.get((results_dir, b), 0)
            vdir = os.path.join(root, b, version)
            files = [os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")]
            written += sum(os.path.getsize(f) for f in files)
            state.rows[(results_dir, b)] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        state.batches.append({"span": sp, "touched": touched, "written": written, "existing": existing})

    r.tracer.wrap(serving, "upsert_batch", "serving.upsert_batch", jobs=True, on_exit=after_batch)
    return state


def layers(r, state: BucketState, res: dict) -> dict:
    r.tracer.resolve_jobs()
    b = state.batches
    batch_rows = FILES_PER_TRIGGER * ROWS_PER_FILE
    return {
        "serving.upsert_batch_s": statistics.median(x["span"]["end"] - x["span"]["start"] for x in b),
        "serving.buckets_touched_per_batch": statistics.mean(x["touched"] for x in b),
        "serving.bytes_written_per_input_byte": sum(x["written"] for x in b) / res["input_bytes"],
        "serving.input_rows_read_per_row": statistics.mean(
            (x["span"]["input_records"] - x["existing"]) / batch_rows for x in b
        ),
        "serving.spark_jobs_per_batch": statistics.mean(x["span"]["jobs"] for x in b),
    }
