"""Seeded input tables for the benchmark.

Writes the ten fixture tables the registry reads (TPC-H-ish star schema,
``events``, ``documents``, ``embeddings``) as one parquet file each, with
the column names, types and value shapes of the repository fixtures
(FIXTURES.md).  Sizes follow the scale factor the way the fixtures do:
lineitem ~ 6M x sf, orders ~ 1.5M x sf, events ~ 1M x sf; documents and
embeddings stay at 500 rows below sf0.1, as in the fixtures.

Everything is drawn from one ``numpy`` generator seeded by the benchmark's
``--seed``, so the same seed writes byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

TS_US = pa.timestamp("us")


def _write(out_dir: str, name: str, cols: dict, types: dict | None = None) -> int:
    types = types or {}
    arrays = {k: pa.array(v, type=types.get(k)) for k, v in cols.items()}
    table = pa.table(arrays)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _days(rng, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _documents(rng, n: int) -> tuple[list[str], list[str], list[str]]:
    """Random-vocabulary texts; ~4% exact copies and ~6% near copies
    (1-3 words replaced) of earlier documents, so dedup has work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
    sources = [f"src{i % 20}" for i in range(n)]
    return texts, langs, sources


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every fixture table for ``sf`` under ``out_dir``; returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_docs = 500 if sf < 0.1 else int(50_000 * sf)
    n_vecs = 500 if sf < 0.1 else int(20_000 * sf)
    rows: dict[str, int] = {}

    rows["region"] = _write(
        out_dir, "region",
        {"r_regionkey": list(range(5)), "r_name": REGIONS},
        {"r_regionkey": pa.int32()},
    )
    rows["nation"] = _write(
        out_dir, "nation",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": pa.int32(), "n_regionkey": pa.int32()},
    )
    rows["customer"] = _write(
        out_dir, "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        },
    )
    rows["supplier"] = _write(
        out_dir, "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    rows["part"] = _write(
        out_dir, "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        },
    )
    odate = _days(rng, dt.date(1995, 1, 1), 2404, n_ord)
    rows["orders"] = _write(
        out_dir, "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": odate,
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        },
        {"o_orderdate": TS_US},
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(l_ok)
    perm = rng.permutation(n_li)
    l_ok, l_no = l_ok[perm], l_no[perm]
    l_pk = rng.integers(0, n_part, n_li).astype(np.int64)
    # one order in ten is a bulk order (40-50 per line), so the large-volume
    # query (sum of quantity > 300) has rows to return
    bulk = rng.random(n_ord) < 0.1
    qty = np.where(
        bulk[l_ok], rng.integers(40, 51, n_li), rng.integers(1, 51, n_li)
    ).astype(np.float64)
    ship = odate[l_ok] + rng.integers(1, 122, n_li).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )
    rows["lineitem"] = _write(
        out_dir, "lineitem",
        {
            "l_orderkey": l_ok,
            "l_partkey": l_pk,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_no,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_pk] * rng.uniform(1.0, 2.1, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": ship,
        },
        {"l_shipdate": TS_US},
    )
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_evt)
    ).astype("timedelta64[us]")
    rows["events"] = _write(
        out_dir, "events",
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_cust // 10, n_evt).astype(np.int64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)],
        },
        {"ts": TS_US},
    )
    texts, langs, sources = _documents(rng, n_docs)
    rows["documents"] = _write(
        out_dir, "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(
        out_dir, "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        },
        {"embedding": pa.list_(pa.float32())},
    )
    return rows
