"""Seeded input generator.

Writes parquet tables in the repository's test-data layout (one
``<table>.parquet`` per table, the same columns and types as the
TPC-H-like fixtures and the documents corpus) into a
directory the benchmark then hands to the engine. The same seed gives
byte-identical inputs. The properties the engine's behaviour depends on
are parameters, fixed per workload in ``run.py``:

- ``near_dup_share``: share of documents that are a light edit of an
  earlier document (drives the MinHash/n-gram pair and component sizes);
- ``batches`` / ``delete_share``: micro-batch count of the ingest stream
  and the share of already-inserted documents that later batches delete.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_EPOCH_2000_US = 946_684_800_000_000
_DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(-1100, 700, n)
    return pa.array(_EPOCH_2000_US + days * _DAY_US, pa.timestamp("us"))


def write_catalogs(
    out_dir: str, rng: np.random.Generator, orders: int, lineitem: int,
    customer: int, supplier: int, part: int,
) -> None:
    """orders/customer/supplier/part/lineitem: the reconciliation
    pipelines' wikidata side (orders, lineitem) and catalogs."""
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customer, orders), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(900, 450_000, orders), 2),
        "o_orderdate": _dates(rng, orders),
        "o_orderpriority": prio[rng.integers(0, 5, orders)],
    }))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, customer), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customer), 2),
        "c_mktsegment": segs[rng.integers(0, 5, customer)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(supplier), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, supplier), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, supplier), 2),
    }))
    adj = np.array(["small", "red", "blue", "hot", "green", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"])
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 6, part)], " "),
            noun[rng.integers(0, 6, part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, part).astype(str)),
        "p_type": types[rng.integers(0, 5, part)],
        "p_size": pa.array(rng.integers(1, 51, part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(part) * 0.1, 2),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, part, lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, supplier, lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitem).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, lineitem), 2),
        "l_discount": rng.integers(0, 11, lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, lineitem)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, lineitem)],
        "l_shipdate": _dates(rng, lineitem),
    }))


def _texts(rng: np.random.Generator, n: int, near_dup_share: float) -> list[str]:
    """Random-word documents; ``near_dup_share`` of them copy an earlier
    document with about one word in twelve replaced."""
    vocab = np.array(VOCAB)
    docs: list[np.ndarray] = []
    for i in range(n):
        if i > 0 and rng.random() < near_dup_share:
            base = docs[int(rng.integers(0, i))].copy()
            edit = rng.random(len(base)) < 1 / 12
            base[edit] = vocab[rng.integers(0, len(vocab), int(edit.sum()))]
            docs.append(base)
        else:
            docs.append(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 91)))])
    return [" ".join(d) for d in docs]


def write_corpus(
    out_dir: str, rng: np.random.Generator, docs: int, near_dup_share: float,
) -> None:
    """documents: ``near_dup_share`` of them near-duplicates."""
    texts = _texts(rng, docs, near_dup_share)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))


def write_ingest_ops(
    out_dir: str, rng: np.random.Generator, doc_ids: np.ndarray,
    batches: int, delete_share: float,
) -> None:
    """ingest_ops(doc_id, batch, op): every document is inserted in one
    batch; each batch in the second half also deletes ``delete_share``
    of the documents inserted (and not yet deleted) before it."""
    batch_of = rng.integers(0, batches, len(doc_ids))
    rows_id, rows_batch, rows_op = list(doc_ids), list(batch_of), ["insert"] * len(doc_ids)
    alive: list[int] = []
    for b in range(batches):
        if b >= batches // 2 and alive:
            k = int(round(delete_share * len(alive)))
            gone = set(rng.choice(alive, k, replace=False).tolist())
            rows_id += sorted(gone)
            rows_batch += [b] * len(gone)
            rows_op += ["delete"] * len(gone)
            alive = [d for d in alive if d not in gone]
        alive += [int(d) for d, bb in zip(doc_ids, batch_of) if bb == b]
    _write(out_dir, "ingest_ops", pa.table({
        "doc_id": pa.array(rows_id, pa.int64()),
        "batch": pa.array(rows_batch, pa.int32()),
        "op": rows_op,
    }))
