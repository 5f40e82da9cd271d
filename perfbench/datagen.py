"""Seeded generators for the benchmark's inputs.

``write_tables`` writes the ten catalog tables (``hadoop_brotli_spark.TABLES``)
as one parquet file each, with the same schemas, key ranges and value
distributions as the star-schema test data the query registry is written
against (TESTDATA.md / FIXTURES.md). Row counts scale linearly with ``sf``
(``sf=0.1`` gives 600,000 lineitem rows). ``write_corpus`` writes the
``bro_io`` text corpus: shuffled document lines drawn from the same
vocabulary, one ``value`` column.

The same ``(seed, sf)`` gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "shiny"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "screw", "pipe", "valve", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(int))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _date_ts(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    days = rng.integers(_days(first), _days(last) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray]) -> None:
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(2_000 * (sf / 0.1) ** 0.6))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    partkeys = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": partkeys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (partkeys % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _date_ts(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
        "l_linestatus": _pick(rng, LINE_STATUS, n_line),
        "l_shipdate": _date_ts(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start_us = _days("2024-01-01") * 86_400_000_000
    ts = np.sort(rng.integers(start_us, start_us + 30 * 86_400_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_events),
    })
    texts = _doc_texts(rng, n_docs)
    # 5% near-duplicates: another document's text with a " dup" suffix
    dup_of = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[dup_of[i]] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_line, "events": n_events,
        "documents": n_docs, "embeddings": n_vecs,
    }


def write_corpus(path: str, seed: int, mib: float) -> tuple[int, int]:
    """Write ``mib`` MiB of document-style text lines (shuffled) to one
    parquet file with a single ``value`` column; returns (lines,
    utf-8 bytes counting one newline per line)."""
    rng = np.random.default_rng([seed, 0xB20])
    target = int(mib * (1 << 20))
    lines: list[str] = []
    size = 0
    while size < target:
        for t in _doc_texts(rng, 2_000):
            lines.append(t)
            size += len(t) + 1
            if size >= target:
                break
    order = rng.permutation(len(lines))
    table = pa.table({"value": pa.array(np.asarray(lines, dtype=object)[order])})
    pq.write_table(table, path, row_group_size=1 << 16)
    return len(lines), size
