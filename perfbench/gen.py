"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs. The engine only ever sees the files written here.

- ``write_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the declared queries read, one
  parquet file per table, with the value ranges and shapes of the
  engine's test data (uniform foreign keys, 5 event types over 30 days,
  a 31-word document vocabulary with 5% near-duplicates, 64-d unit
  embeddings).
- ``creditcard``: the ``train_serve`` training table (Time, V1..V28,
  Amount, label), about 2% fraud, where the label follows a hidden
  logistic model so the AUC gate passes and the model is persisted.
- ``predict_requests``: ``POST /predict`` bodies and their open-loop
  arrival schedule.
- ``upsert_backlog``: the ``stream_upsert`` JSON request files, where a
  fixed share of requests re-send a key first sent in an earlier
  micro-batch.
- ``pass_orders``: the ``query_mix`` query order for each pass.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Generator seed of the query_mix tables. The tables are the same for
# every --seed so that query timings compare across seeds; --seed
# permutes the query order instead.
TABLE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "anvil", "gear", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    """Write the ten query_mix tables at scale factor ``sf`` (lineitem
    has 6,000,000 * sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, 8, n_part)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


def pass_orders(names: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = np.random.default_rng([seed, 1])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_passes)]


CREDITCARD_FEATURES = ["Time"] + [f"V{i}" for i in range(1, 29)] + ["Amount"]


def creditcard(seed: int, n_rows: int, fraud_share: float = 0.02):
    """Creditcard-shaped training table as a pandas DataFrame with a
    ``label`` column. The label is a noisy threshold of a hidden linear
    score over V1..V6 and Amount, so the classes are learnable."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((n_rows, 28))
    amount = np.round(np.exp(rng.normal(3.0, 1.0, n_rows)), 2)
    hidden = v[:, :6] @ np.array([1.5, -1.2, 1.0, 0.8, -0.7, 0.5]) + 0.002 * (amount - 20.0)
    noisy = hidden + rng.logistic(0.0, 0.6, n_rows)
    label = (noisy > np.quantile(noisy, 1.0 - fraud_share)).astype(np.int32)
    pdf = pd.DataFrame(v, columns=[f"V{i}" for i in range(1, 29)])
    pdf.insert(0, "Time", np.sort(rng.uniform(0.0, 172_800.0, n_rows)))
    pdf["Amount"] = amount
    pdf["label"] = label
    return pdf


def predict_requests(seed: int, rate_per_s: float, seconds: float) -> list[dict]:
    """Open-loop ``POST /predict`` schedule: Poisson arrivals at
    ``rate_per_s`` for ``seconds``. Each item holds the due offset in
    seconds and the request body (30 raw features in training order)."""
    rng = np.random.default_rng([seed, 3])
    n = int(rate_per_s * seconds)
    due = np.cumsum(rng.exponential(1.0 / rate_per_s, n))
    feats = rng.standard_normal((n, 30))
    feats[:, 0] = rng.uniform(0.0, 172_800.0, n)
    feats[:, 29] = np.round(np.exp(rng.normal(3.0, 1.0, n)), 2)
    return [
        {
            "due_s": float(d),
            "body": {"transaction_id": f"tx-{seed}-{i}", "features": f.tolist()},
        }
        for i, (d, f) in enumerate(zip(due, feats))
        if d < seconds
    ]


def upsert_backlog(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    files_per_trigger: int,
    resend_share: float = 0.25,
) -> list[dict]:
    """Write ``n_files`` JSON-lines request files and return every
    request in send order. A ``resend_share`` of the requests re-send a
    ``transaction_id`` first sent in an earlier micro-batch (an update);
    the rest are new keys. File modification times increase with the
    file index, which is the order the file source admits them in."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    sent: list[dict] = []
    n_new = 0
    t0 = 1_700_000_000
    first_of_batch = 0
    batch_keys: set[str] = set()
    for fi in range(n_files):
        if fi % files_per_trigger == 0:
            first_of_batch, batch_keys = len(sent), set()
        rows = []
        for _ in range(rows_per_file):
            key = None
            if first_of_batch and rng.random() < resend_share:
                key = sent[int(rng.integers(0, first_of_batch))]["transaction_id"]
            if key is None or key in batch_keys:
                # a key appears at most once per micro-batch: the
                # engine keeps one arbitrary row per key within a batch
                key = f"k{seed}-{n_new}"
                n_new += 1
            batch_keys.add(key)
            rows.append(
                {
                    "transaction_id": key,
                    "correlation_id": f"c{len(sent) + len(rows)}",
                    "f_value": round(float(rng.exponential(50.0)), 4),
                    "f_k": float(rng.integers(0, 100)),
                    "f_hour": float(rng.integers(0, 24)),
                }
            )
        path = os.path.join(out_dir, f"part-{fi:05d}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.utime(path, (t0 + fi, t0 + fi))
        sent.extend(rows)
    return sent
