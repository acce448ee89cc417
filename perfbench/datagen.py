"""Seeded synthetic inputs with the fixture schemas (FIXTURES.md).

The benchmark reads nothing outside its checkout, so it cannot use the
shared fixture parquet; it writes look-alike tables instead. Everything here
is a pure function of the seed: the same seed gives byte-identical
tables, documents and op streams.

- ``write_graph_tables``: customer / supplier / part / orders /
  lineitem at a TPC-H-like scale factor, the inputs of
  ``graph_build.build_vertices`` / ``build_edges``.
- ``base_documents`` + ``write_documents``: a word-salad corpus with
  planted exact and near duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the fixture corpus vocabulary (FIXTURES.md: data/engine words)
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group stream filter big vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)


def graph_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (FIXTURES.md)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
    }


def write_graph_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the five tables the property graph is built from; returns
    the row count of each."""
    rng = np.random.default_rng([seed, 1])
    n = graph_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    tables = {
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "BUILDING", "AUTOMOBILE", "FURNITURE"], nc
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(np_)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], np_),
            "p_size": rng.integers(1, 51, np_, dtype=np.int32),
            "p_retailprice": np.round(900 + np.arange(np_) % 1000 / 10, 2),
        }),
    }
    order_dates = (
        np.datetime64("1992-01-01", "ms")
        + rng.integers(0, 365 * 7, no).astype("timedelta64[D]")
    )
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(order_dates, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], no),
    })
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(no, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            np.repeat(order_dates, lines_per_order)
            + rng.integers(1, 122, nl).astype("timedelta64[D]"),
            pa.timestamp("ms"),
        ),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def base_documents(n_docs: int, seed: int) -> list[str]:
    """``n_docs`` word-salad texts (20-90 words). About 0.5% are exact
    copies and 3% append one word to an earlier long document. A near
    copy shares all 3-grams of its source but one, so every planted
    pair has Jaccard >= 0.95, and MinHash LSH with five tables misses
    one with odds below 1e-6. Unplanted pairs share almost no 3-grams;
    the 20-word floor keeps two short texts from reaching Jaccard 0.3
    by chance, where the LSH filter (strict) and the oracle (closed)
    disagree."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(n_docs):
        roll = rng.random()
        if long_ids and roll < 0.005:
            text = texts[long_ids[rng.integers(len(long_ids))]]
        elif long_ids and roll < 0.035:
            source = texts[long_ids[rng.integers(len(long_ids))]]
            text = f"{source} {vocab[rng.integers(len(vocab))]}"
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab), rng.integers(20, 91))])
        if text.count(" ") >= 39:
            long_ids.append(i)
        texts.append(text)
    return texts


def write_documents(texts: list[str], seed: int, out_dir: str) -> int:
    """Write ``documents.parquet`` for ``texts`` (doc ids 0..n-1);
    returns the row count."""
    rng = np.random.default_rng([seed, 3])
    n = len(texts)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return n
