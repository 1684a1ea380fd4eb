"""Seeded generators for the benchmark's input tables.

The columns, types and value domains follow the reference tables the
registered queries read (``documents`` for the flagship; ``lineitem``,
``orders``, ``customer``, ``supplier``, ``nation``, ``region``,
``events`` and ``embeddings`` for the battery).  The text shape of
``documents`` is taken from statistics measured on the reference
sf0.1 table (5,000 rows; see ``METRICS.md``):

* texts are single-space-separated words drawn uniformly from a
  30-word vocabulary, with no digits or punctuation;
* the word count of an original text is uniform on [10, 99];
* 5% of the rows are near-duplicates: the text of another row followed
  by the word ``dup``;
* ``lang`` is ``en`` for 41% of the rows and ``de``, ``es``, ``fr`` or
  ``zh`` for about 15% each; ``source`` is ``src<doc_id mod 20>``.

The same ``(seed, rows)`` always gives byte-identical values.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.asarray((
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query stream group filter vector"
).split())
MIN_WORDS, MAX_WORDS = 10, 99
DUP_FRAC = 0.05
_LANGS = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# battery table sizes per 1,000 documents, as in the reference tables
_PER_1K_DOCS = {
    "customer": 3000, "supplier": 200, "orders": 30000,
    "lineitem": 120000, "events": 20000, "embeddings": 1000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), int(k))])
        for k in rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    ]
    dups = rng.choice(n_docs, int(DUP_FRAC * n_docs), replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for i, base in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[base] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(root: str, seed: int, n_docs: int) -> None:
    os.makedirs(root, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(root, "documents.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def battery_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Every table the battery reads, sized like the reference tables
    that hold ``n_docs`` documents."""
    rng = np.random.default_rng([seed, 2])
    n = {k: max(5, v * n_docs // 1000) for k, v in _PER_1K_DOCS.items()}
    out = {
        "documents": documents(seed, n_docs),
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    for name, p, key in (("customer", "c", "c_custkey"), ("supplier", "s", "s_suppkey")):
        k = n[name]
        cols = {
            key: pa.array(np.arange(k, dtype=np.int64)),
            f"{p}_name": pa.array([f"{name.capitalize()}#{i:09d}" for i in range(k)]),
            f"{p}_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            f"{p}_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        }
        if name == "customer":
            cols["c_mktsegment"] = _pick(rng, _SEGMENTS, k)
        out[name] = pa.table(cols)
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, k)),
        "o_orderdate": _days(rng, "1995-01-01", 2399, k),
        "o_orderpriority": _pick(rng, _PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n["orders"], k))),
        "l_partkey": pa.array(rng.integers(0, 2000 * max(1, n_docs // 500), k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, "1995-01-02", 2499, k),
    })
    k = n["events"]
    jan = datetime.datetime(2024, 1, 1)
    offsets = np.sort(rng.choice(30 * 86_400 * 10**6, k, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(np.datetime64(jan, "us") + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, k)),
        "event_type": _pick(rng, _EVENT_TYPES, k),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, k), 2))),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    k = n["embeddings"]
    vecs = rng.normal(size=(k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return out


def write_battery_tables(root: str, seed: int, n_docs: int) -> list[str]:
    os.makedirs(root, exist_ok=True)
    tables = battery_tables(seed, n_docs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return sorted(tables)
