"""Seeded star-schema generator for the benchmark.

Writes the ten tables `statcan_etl_pipeline_spark.catalog.TABLES` names
as one parquet file each, with the schemas and distribution shapes of
the engine's synthetic test data (TPC-H-like dimensions and facts plus
`events`, `documents` and `embeddings`). Row counts scale with `sf`:

  region 5, nation 25; customer 150k*sf; supplier 10k*sf; part 200k*sf;
  orders 1.5M*sf; lineitem ~6M*sf (1 + Poisson(3.1) lines per order,
  capped at 7, ~2% of orders without lines); events 1M*sf over 30 days
  of 2024-01 with 15k*sf users; documents max(500, 50k*sf) word-salad
  texts with ~0.2% exact duplicates; embeddings max(500, 20k*sf) 64-dim
  unit vectors around 10 label centres.

The same (sf, seed) always gives byte-identical files: one numpy
Generator drives every column and pyarrow writes no timestamps.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "screw", "panel", "gear", "wheel", "pipe", "rod"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DAY_US = 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"))


def _labels(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in ids])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor `sf`, in memory."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = int(150_000 * sf)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _labels("Customer#", np.arange(n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })

    n_supp = int(10_000 * sf)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _labels("Supplier#", np.arange(n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, n_supp), 2),
    })

    n_part = int(200_000 * sf)
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str))),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })

    n_ord = int(1_500_000 * sf)
    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    d1 = np.datetime64("2001-08-01", "D").astype(np.int64)
    odate_days = rng.integers(d0, d1 + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate_days * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })

    lines = np.clip(1 + rng.poisson(3.1, n_ord), 1, 7)
    lines[rng.random(n_ord) < 0.02] = 0
    l_orderkey = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_orderkey)
    # 1..lines[o] within each order: position minus the order's first row
    first_row = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(n_li) - first_row + 1
    ship_off = rng.integers(1, 96, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts((odate_days.take(l_orderkey) + ship_off) * DAY_US),
    })

    n_ev = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(props),
    })

    n_doc = max(500, int(50_000 * sf))
    vocab = np.array(DOC_VOCAB)
    wc = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), c)]) for c in wc]
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb = max(500, int(20_000 * sf))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0, 0.35, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n_emb + 1, 64), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to `out_dir/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
