"""Seeded catalog corpus for the ``catalog_mix`` workload.

Writes the ten tables the query catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one Parquet
file each, with the column names, Arrow types and value domains of the
repository's sf0.01 test corpus: TPC-H-like star tables, an ``events``
stream ordered by time, word-salad ``documents`` over a 30-word
vocabulary of which about 5 % are earlier documents with `` dup``
appended (near duplicates), and unit-norm 64-d float32 ``embeddings``
drawn around ten label centres.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# rows per table, as in the sf0.01 test corpus
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = (("small", "large", "red", "blue", "green", "shiny", "steel", "brass"),
              ("ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut"))
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DIM, LABELS = 64, 10


def _ts(rng, start: str, days: int, n: int, unit: str = "D") -> np.ndarray:
    base = np.datetime64(start, "us")
    if unit == "D":
        return base + rng.integers(0, days, n).astype("timedelta64[D]")
    return base + np.sort(rng.integers(0, days * 86_400_000_000, n)).astype("timedelta64[us]")


def tables(seed: int) -> dict[str, pd.DataFrame]:
    """The ten tables drawn from ``seed``, by name."""
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = np.int32
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }),
    }
    np_ = n["part"]
    retail = np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], np_),
                                              rng.choice(PART_WORDS[1], np_))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(i32),
        "p_retailprice": retail,
    })
    no = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no, p=(0.49, 0.49, 0.02)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(rng, "1995-01-01", 2400, no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.95, 1.05, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _ts(rng, "1995-01-02", 2500, nl),
    })
    ne = n["events"]
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(rng, "2024-01-01", 30, ne, unit="us"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(np.maximum(rng.exponential(50, ne), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts: list[str] = []
    for k in range(n["documents"]):
        if k > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, k)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, len(texts)),
        "source": [f"src{k}" for k in rng.integers(0, 20, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    centres = rng.normal(0, 1, (LABELS, DIM))
    labels = rng.integers(0, LABELS, nv)
    vecs = centres[labels] * 0.15 + rng.normal(0, 1, (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(i32),
    })
    return out


def generate(root: str, seed: int) -> None:
    """Write every table under ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(root, f"{name}.parquet"), index=False)
