"""``query_mix``: a closed loop with one client over declared queries.

Each query is built with ``Query.fn(spark, data_dir)`` and materialized
to the noop sink; the client starts the next query when the previous one
has finished. One untimed warm-up pass comes first, then timed passes
until ``--seconds`` is used up (at least MIN_PASSES). ``--seed`` permutes
the query order within each pass; the tables are the same for every seed.

Outputs of the last pass are checked: row count plus an order-insensitive
hash of the collected rows, against each query's DuckDB oracle over the
same parquet files.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import gen
from run import percentile, trimmed_mean

# Seven lazy, execution-bound queries and one eager one: q_mmr selects
# its results in a driver-side loop while the query is constructed, so
# construction dominates there. One query per operator module.
QUERIES = [
    "q_scan",
    "q_tpch_q3",
    "q_dedup_jaccard",
    "q_tfidf",
    "q_velocity",
    "q_ewma",
    "q_corr_matrix",
    "q_mmr",
]
SF = 0.01
MIN_PASSES = 2
WARMUP_PASSES = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    """One canonical, hashable form per value, equal across engines."""
    import datetime
    import decimal
    import math

    import numpy as np

    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return json.dumps([_canon(x) for x in v])
    if isinstance(v, dict):
        return json.dumps({str(k): _canon(x) for k, x in sorted(v.items())})
    if isinstance(v, (bool, np.bool_)):
        return float(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else round(f, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def digest(pdf) -> tuple[int, list[str], int]:
    """(row count, sorted column names, order-insensitive row hash)."""
    import hashlib

    cols = sorted(pdf.columns)
    h = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        key = json.dumps([_canon(v) for v in row]).encode()
        h = (h + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) % (1 << 64)
    return len(pdf), cols, h


def oracle_digests(r, data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Digest of each query's DuckDB oracle result over ``data_dir``,
    kept in the checkout's input cache keyed by the oracle text."""
    import hashlib

    import duckdb

    cache = r.cached_input(f"oracle-sf{SF}", lambda d: None)
    out, con = {}, None
    for name, sql in oracles.items():
        path = os.path.join(cache, hashlib.sha1(sql.encode()).hexdigest() + ".json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            with open(path + ".tmp", "w") as f:
                json.dump(digest(con.execute(sql).df()), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            n, cols, h = json.load(f)
        out[name] = (n, cols, h)
    if con is not None:
        con.close()
    return out


def run(r) -> tuple[dict, dict]:
    from fraud_detection_spark.registry import load_all
    from fraud_detection_spark.sources.tables import load_table

    data_dir = r.cached_input(f"tables-sf{SF}", lambda d: gen.write_tables(d, SF))
    registry = load_all()
    module = {n: registry[n].fn.__module__.rsplit(".", 1)[-1] for n in QUERIES}
    if r.tracer is not None:
        _instrument(r)

    setup_s = r.setup(lambda spark: [load_table(spark, data_dir, t) for t in TABLES])
    spark = r.spark
    expected = oracle_digests(r, data_dir, {n: registry[n].oracle for n in QUERIES})
    r.mark("setup")

    def check(name: str, df, pass_no: int) -> None:
        got = digest(df.toPandas())
        r.check(got == expected[name], f"{name} pass {pass_no}: {got[:2]} != {expected[name][:2]}")

    orders = iter(gen.pass_orders(QUERIES, r.seed, 64))
    for _ in range(WARMUP_PASSES):  # untimed
        for name in next(orders):
            registry[name].fn(spark, data_dir).write.format("noop").mode("overwrite").save()
    r.mark("warmup")

    lat: list[float] = []
    per_query: dict[str, list[float]] = {}
    pass_s: list[float] = []
    t_start = time.perf_counter()
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t_start + statistics.mean(pass_s) <= r.seconds:
        pass_no = WARMUP_PASSES + len(pass_s)
        t_pass = time.perf_counter()
        dfs = {}
        with r.span("query_mix.pass"):
            for name in next(orders):
                t0 = time.perf_counter()
                with r.span(f"operators.{module[name]}.construct", jobs=True, query=name, pass_no=pass_no):
                    df = registry[name].fn(spark, data_dir)
                with r.span(f"operators.{module[name]}.execute", jobs=True, query=name, pass_no=pass_no):
                    df.write.format("noop").mode("overwrite").save()
                lat.append(time.perf_counter() - t0)
                per_query.setdefault(name, []).append(lat[-1])
                dfs[name] = df
        pass_s.append(time.perf_counter() - t_pass)
    r.mark("timed")
    for name, df in dfs.items():
        check(name, df, pass_no)
    r.mark("checked")

    e2e = {
        "setup_s": setup_s,
        "op_mean_ms": trimmed_mean(lat) * 1e3,
        "op_p90_ms": percentile(lat, 90) * 1e3,
        "work_per_s": len(lat) / sum(pass_s),
        "job_s": statistics.median(pass_s),
    }
    r.note("query_p50_s", percentile(lat, 50), "s")
    r.note("query_p90_s", e2e["op_p90_ms"] / 1e3, "s")
    r.note("queries_per_min", e2e["work_per_s"] * 60, "queries/min")
    r.report.append("pass_s " + " ".join(f"{t:.3f}" for t in pass_s))
    r.note("timed_queries", len(lat), "queries")
    for name in QUERIES:
        r.note(f"query.{name}_s", statistics.median(per_query[name]), "s")
    layers = _layers(r) if r.tracer is not None else {}
    return e2e, layers


def _instrument(r) -> None:
    from fraud_detection_spark.sources import tables

    seen: dict[tuple, object] = {}

    def memo_hit(sp, args, kwargs, out):
        # the plan memo returns the very DataFrame object it returned
        # before for the same (sf_dir, table)
        key = tuple(args[1:3])
        sp["memo_hit"] = seen.get(key) is out
        seen[key] = out

    r.tracer.wrap_everywhere(tables.load_table, "sources.load_table", on_exit=memo_hit)


def _layers(r) -> dict:
    t = r.tracer
    t.resolve_jobs()
    spans = t.snapshot()
    selfs = t.self_times(spans)
    passes = t.named("query_mix.pass")
    by_pass: dict[int, dict[str, float]] = {}
    queries = 0
    py4j = jobs = tasks = 0
    for sp in spans:
        if sp["name"].startswith("operators."):
            acc = by_pass.setdefault(sp["pass_no"], {})
            metric = sp["name"] + "_s"
            acc[metric] = acc.get(metric, 0.0) + selfs[sp["id"]]
            py4j += sp["py4j"]
            jobs += sp.get("jobs", 0)
            tasks += sp.get("tasks", 0)
            queries += sp["name"].endswith(".construct")
    loads = [sp for sp in t.named("sources.load_table") if _inside(sp, passes)]
    out = {
        m: statistics.median(p.get(m, 0.0) for p in by_pass.values())
        for m in {k for p in by_pass.values() for k in p}
    }
    out.update(
        {
            "sources.load_table_calls": len(loads) / len(passes),
            "sources.plan_memo_hit_frac": sum(sp["memo_hit"] for sp in loads) / max(1, len(loads)),
            "driver.py4j_calls_per_query": py4j / queries,
            "spark.jobs_per_query": jobs / queries,
            "spark.tasks_per_query": tasks / queries,
        }
    )
    return out


def _inside(sp: dict, outer: list[dict]) -> bool:
    return any(o["start"] <= sp["start"] and sp["end"] <= o["end"] for o in outer)
