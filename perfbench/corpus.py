"""Seeded synthetic corpus for the benchmark.

The engine reads ten parquet tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). This module writes them
at a given scale factor from a seed, with the same schemas, key ranges
and value domains as the engine's test data, so the benchmark needs no
input that lives outside its own checkout.

Row counts at scale factor ``sf``: 50 000·sf documents, 20 000·sf
embeddings, 200 000·sf parts, 1.5M·sf orders, 6M·sf lineitems,
150 000·sf customers, 10 000·sf suppliers, 1M·sf events. Document text
draws from a 30-term vocabulary; about 5 % of documents are another
document's text plus the token ``dup`` (the near-duplicate family the
dedup operators look for), so the vocabulary is 31 terms.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10
PART_ADJ = ("hot", "large", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# bump when the generated bytes change, so a cached corpus is rebuilt
VERSION = 1

_DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # near-duplicates: every 20th document (on average) copies an
    # earlier-or-later document's text and appends "dup"
    dup_ids = np.flatnonzero(rng.random(n) < 0.05)
    for i in dup_ids:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, N_LABELS, n).astype(np.int32),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5,
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.date(1995, 1, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("O", "F"), n_line),
            "l_shipdate": _ts(rng.integers(1, 2499, n_line), dt.date(1995, 1, 1)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    epoch_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_us + epoch_us, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the corpus under ``root`` once and return its directory.

    The directory name carries the scale, seed and generator version;
    a complete corpus holds a ``_COMPLETE`` marker, so a run that was
    cut while writing is rebuilt, never read half-written."""
    d = os.path.join(root, f"corpus_sf{sf}_seed{seed}_v{VERSION}")
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return d
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    with open(os.path.join(d, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    return d
