"""Seeded input tables for the benchmark.

Every table the engine's loaders know (``sources.TABLES``) is written
as one parquet file with the column names and physical types that
FIXTURES.md section B lists for the ``sf*`` test corpus: ``events.ts``
is TIMESTAMP(NANOS), which the loader reads as BIGINT and converts
(``sources.tpch._normalize_events``), and ``o_orderdate`` and
``l_shipdate`` are TIMESTAMP(MILLIS). So ``sources.tpch.register_views``
and the DuckDB oracle (``oracle.duckdb_connection``) read it as they
read that corpus. The same seed always gives byte-identical tables.

The ``documents`` table carries planted duplicate families (exact
copies with case/whitespace noise, near copies with a few word edits,
and distant variants below the near-duplicate threshold) so that the
dedup stages have real work and the near-duplicate recall is measured
on pairs that exist.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_DOCS = 2_000
N_EMBEDDINGS = 1_500
EMB_DIM = 64
EMB_CLUSTERS = 16
N_ANN_QUERIES = 100
N_BM25_QUERIES = 40
#: bigram Jaccard threshold of the near-duplicate stage; the planted
#: near copies lie well above it and the distant variants well below
NEARDUP_THRESHOLD = 0.7

ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["de", "en", "es", "fr", "zh"]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    """Microseconds since the epoch as a timestamp column of ``unit``
    (the values are whole microseconds, and whole days for ``ms``)."""
    return pa.array(us.astype("int64"), type=pa.timestamp("us")).cast(pa.timestamp(unit))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(rng: np.random.Generator) -> dict[str, dict[str, pa.Array]]:
    """The TPC-H-shaped star schema plus the ``events`` stream."""
    out: dict[str, dict[str, pa.Array]] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2)),
    }
    out["part"] = {
        "p_partkey": pa.array(np.arange(N_PARTS, dtype="int64")),
        "p_name": pa.array([f"part {i}" for i in range(N_PARTS)]),
        "p_brand": _pick(rng, BRANDS, N_PARTS),
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS).astype("int32")),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, N_PARTS), 2)),
    }
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    out["orders"] = orders_columns(
        np.arange(N_ORDERS, dtype="int64"), rng, order_days
    )
    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(N_ORDERS, dtype="int64"), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_num = (np.arange(n_lines) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, n_lines).astype("float64")
    ship_days = np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_lines)
    out["lineitem"] = {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_lines).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_lines).astype("int64")),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_lines),
        "l_linestatus": _pick(rng, LINE_STATUS, n_lines),
        "l_shipdate": _ts(EPOCH_1995_US + ship_days * DAY_US, "ms"),
    }
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    out["events"] = {
        "event_id": pa.array(np.arange(N_EVENTS, dtype="int64")),
        "ts": _ts(EPOCH_2024_US + ev_us, "ns"),
        "user_id": pa.array(rng.integers(0, 2000, N_EVENTS).astype("int64")),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": pa.array(np.round(rng.uniform(0, 500, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }
    return out


def orders_columns(keys: np.ndarray, rng: np.random.Generator,
                   order_days: np.ndarray | None = None) -> dict[str, pa.Array]:
    """``orders`` rows for the given keys (also used for the lake
    workload's write batches, so batches and base table share one
    schema)."""
    n = len(keys)
    if order_days is None:
        order_days = rng.integers(0, 2404, n)
    return {
        "o_orderkey": pa.array(keys.astype("int64")),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n).astype("int64")),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, n), 2)),
        "o_orderdate": _ts(EPOCH_1995_US + order_days * DAY_US, "ms"),
        "o_orderpriority": _pick(rng, ORDER_PRIORITY, n),
    }


def _vocabulary(rng: np.random.Generator, size: int = 3000) -> np.ndarray:
    syllables = ["ka", "lo", "mi", "ra", "ten", "su", "vor", "del", "pa",
                 "ni", "gu", "shi", "bel", "on", "tra", "fe", "zu", "mar"]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syllables[i] for i in rng.integers(0, len(syllables), k)))
    return np.asarray(sorted(words), dtype=object)


def _edit(words: list[str], share: float, vocab: np.ndarray, weights: np.ndarray,
          rng: np.random.Generator) -> str:
    words = list(words)
    for pos in rng.integers(0, len(words), max(1, int(len(words) * share))):
        words[pos] = vocab[rng.choice(len(vocab), p=weights)]
    return " ".join(words)


def document_texts(rng: np.random.Generator, n_docs: int = N_DOCS) -> list[str]:
    """Zipf-distributed word documents. About 8% are exact copies of an
    original (case and whitespace noise, equal after normalization),
    12% near copies of an original (1-4% of words substituted, bigram
    Jaccard with it well above 0.7) and 6% distant variants (20-30%
    substituted, well below 0.7). Copies are only ever made of
    originals, so every near-duplicate cluster is a star around its
    original for every seed."""
    vocab = _vocabulary(rng)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        roll = rng.random() if originals else 1.0
        src = texts[originals[int(rng.integers(0, len(originals)))]] if originals else ""
        if roll < 0.08:
            text = src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "   ", 2)
        elif roll < 0.20:
            text = _edit(src.split(), rng.uniform(0.01, 0.04), vocab, weights, rng)
        elif roll < 0.26:
            text = _edit(src.split(), rng.uniform(0.2, 0.3), vocab, weights, rng)
        else:
            n_words = int(rng.integers(25, 90))
            words = list(vocab[rng.choice(len(vocab), n_words, p=weights)])
            for pos in rng.integers(0, n_words, max(2, n_words // 8)):
                words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
            text = " ".join(words)
            originals.append(i)
        texts.append(text)
    return texts


def curation_tables(rng: np.random.Generator) -> dict[str, dict[str, pa.Array]]:
    texts = document_texts(rng)
    n = len(texts)
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, N_EMBEDDINGS)
    vecs = (centers[labels] + rng.normal(0, 0.35, (N_EMBEDDINGS, EMB_DIM))).astype("float32")
    q_src = rng.choice(N_EMBEDDINGS, N_ANN_QUERIES, replace=False)
    q_vecs = (vecs[q_src] + rng.normal(0, 0.1, (N_ANN_QUERIES, EMB_DIM))).astype("float32")
    list_type = pa.list_(pa.float32())
    q_docs = rng.choice(n, N_BM25_QUERIES, replace=False)
    qtexts = []
    for d in q_docs:
        words = texts[d].lower().split()
        start = int(rng.integers(0, max(1, len(words) - 4)))
        qtexts.append(" ".join(words[start:start + 3]))
    return {
        "documents": {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype="int64")),
            "embedding": pa.array(list(vecs), type=list_type),
            "label": pa.array(labels.astype("int32")),
        },
        "ann_queries": {
            "vec_id": pa.array(np.arange(N_ANN_QUERIES, dtype="int64")),
            "embedding": pa.array(list(q_vecs), type=list_type),
        },
        "bm25_queries": {
            "qid": pa.array(np.arange(N_BM25_QUERIES, dtype="int64")),
            "qtext": pa.array(qtexts),
        },
    }


PARTS = {"tpch": tpch_tables, "curation": curation_tables}


def generate(out_dir: str, seed: int, parts: tuple[str, ...] = tuple(PARTS)) -> None:
    """Write the input tables of ``parts`` for ``seed`` under
    ``out_dir``. Each part draws from its own stream, so a part's
    tables do not depend on which other parts are generated."""
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(PARTS):
        if part in parts:
            for name, cols in PARTS[part](np.random.default_rng([seed, i])).items():
                _write(out_dir, name, cols)
