"""Seeded input generators.

Everything the program under test reads is made here from ``--seed``: the
same seed gives byte-identical inputs. Two families:

- ``events``: rows in the ``events`` table schema (``event_id, ts, user_id,
  event_type, value, props``). The program maps them to envelopes itself
  (signup→c, error→d, everything else→u).
- ``write_tables``: the ten harness tables (TPC-H-like star schema plus
  events, documents and embeddings) with the column types and value
  domains of the fixture tables the registry queries are written against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
EPOCH = dt.datetime(2024, 1, 1)
_US = 1_000_000
EPOCH_US = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * _US

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def events(rng: np.random.Generator, n: int, n_keys: int, *, first_id: int = 0,
           t0_us: int = 0, span_us: int = 30 * 86_400 * _US) -> pa.Table:
    """``n`` events over ``n_keys`` uniform keys and five uniform event
    types, ``ts`` ascending from ``EPOCH + t0_us`` across ``span_us``.
    ``event_id`` (the envelope ``seq``) is ``first_id`` onwards."""
    ts = EPOCH_US + t0_us + np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_keys, n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        },
        schema=EVENTS_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def _dates(rng, n, start: dt.datetime, days: int) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * _US
    return pa.array(base + rng.integers(0, days, n) * 86_400 * _US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9))


def _text(rng, n_docs: int) -> list[str]:
    lens = rng.integers(8, 96, n_docs)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i:i + k]))
        i += k
    # exact and near duplicates so the dedup queries have work to find
    for j in range(0, n_docs - 2, 200):
        out[j + 1] = out[j]
        out[j + 2] = out[j] + " dup"
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten harness tables at scale ``sf`` (lineitem ≈ 6M × sf
    rows) into ``out_dir/<table>.parquet``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    text = _text(rng, n_doc)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer#", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier#", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(_ADJ[rng.integers(0, 8, n_part)], " "),
                                  _NOUN[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _PTYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _dates(rng, n_ord, dt.datetime(1995, 1, 1), 2405),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, n_li, dt.datetime(1995, 1, 2), 2499)}),
        "events": events(rng, n_ev, max(n_ev // 66, 1)),
        "documents": pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        "embeddings": pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
    }
    for name, t in tables.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
