"""Seeded input generator for the benchmark.

Writes the engine's star schema (``sources.catalog.TABLES``) as one
parquet file per table, with the row counts, value ranges and shapes of
the reference sf corpora (sf0.001, sf0.01 and sf0.1, measured with
``corpus_stats.py``): TPC-H-like trade tables; an ``events`` feed of
uniform event types over ``15,000 x sf`` users with exponential values
(mean 50) and microsecond ``ts`` ascending with ``event_id``; a
30-word ``documents`` corpus whose only duplication is near-duplicate
families that differ in trailing ``dup`` tokens; and ``embeddings`` of
random unit vectors under 10 labels that carry no cluster structure.

Row counts follow the sf corpora (``lineitem`` = 6M x sf, ``events`` =
1M x sf, at least 500 documents). Everything is a pure function of
``(sf, seed)`` through numpy's PCG64, so the same arguments give the
same tables, value for value.

Also builds the ``ingest`` workload's arrival inputs: event
micro-batch files for the upsert stream and an id-ordered document
arrival file for the streaming ingest gate.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a column to one
    table never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}/{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng: np.random.Generator, n: int, first: dt.date, span: int) -> pa.Array:
    base = np.datetime64(first, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _trade_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_li = max(6_000, round(6_000_000 * sf))

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )

    r = _rng(seed, "orders")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _days(r, n_ord, dt.date(1995, 1, 1), 2404),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.sort(r.integers(0, n_ord, n_li)), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _days(r, n_li, dt.date(1995, 1, 2), 2498),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(
    rng: np.random.Generator, event_ids: np.ndarray, n_users: int
) -> pa.Table:
    """Events for the given ids over the first 30 days of 2024; ``ts``
    ascends with ``event_id``."""
    n = len(event_ids)
    ts_us = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def n_users_for(sf: float) -> int:
    return max(15, round(15_000 * sf))


def _documents(sf: float, seed: int) -> pa.Table:
    """Base texts of 10-99 words. From doc 20 on, a doc joins an
    earlier doc's family with probability 0.048; the members of a
    family share the base text and differ in their number of trailing
    ``dup`` tokens (0 and 1 for a pair, in either order; the k-th
    later member carries k), so no two texts are equal."""
    n = max(500, round(50_000 * sf))
    r = _rng(seed, "documents")
    root = np.arange(n)
    n_dup = np.zeros(n, np.int64)
    size: dict[int, int] = {}
    base: dict[int, list[str]] = {}
    for i in range(n):
        if i >= 20 and r.random() < 0.048:
            src = int(root[r.integers(0, i)])
            root[i] = src
            k = size.get(src, 1)
            size[src] = k + 1
            if k == 1 and r.random() < 0.5:
                n_dup[src] = 1
            else:
                n_dup[i] = k
        else:
            n_words = int(r.integers(10, 100))
            base[i] = np.array(VOCAB)[r.integers(0, len(VOCAB), n_words)].tolist()
    texts = [" ".join(base[int(root[i])] + ["dup"] * int(n_dup[i])) for i in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(sf: float, seed: int, dim: int = 64) -> pa.Table:
    n = max(500, round(20_000 * sf))
    r = _rng(seed, "embeddings")
    vecs = r.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every catalog table under ``out_dir``; returns a digest of
    the generated values (not of the file bytes), used to key cached
    oracle expectations."""
    n_events = max(1_000, round(1_000_000 * sf))
    tables = _trade_tables(sf, seed)
    tables["events"] = events_table(
        _rng(seed, "events"), np.arange(n_events), n_users_for(sf)
    )
    tables["documents"] = _documents(sf, seed)
    tables["embeddings"] = _embeddings(sf, seed)
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        digest.update(name.encode())
        for col in t.columns:
            for buf in col.combine_chunks().buffers():
                if buf is not None:
                    digest.update(buf)
    return digest.hexdigest()[:16]


def write_upsert_batches(
    out_dir: str, sf: float, seed: int, n_batches: int = 8
) -> list[str]:
    """Event micro-batch files for the upsert stream. Batch ``b`` holds
    fresh events plus, from the second batch on, a re-sent slice of
    keys from earlier batches with new values, so each merge both
    updates and inserts. Keys are unique within a batch; the
    last batch to carry a key holds its final row."""
    r = _rng(seed, "upsert")
    n_new = max(100, round(25_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    paths, seen = [], np.empty(0, np.int64)
    t0 = 1_700_000_000
    for b in range(n_batches):
        ids = 10_000_000 + b * n_new + np.arange(n_new)
        if len(seen):
            resent = r.choice(seen, size=min(len(seen), n_new // 5), replace=False)
            ids = np.concatenate([ids, np.sort(resent)])
        t = events_table(r, ids, n_users_for(sf))
        path = os.path.join(out_dir, f"batch_{b:02d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (t0 + b, t0 + b))
        paths.append(path)
        seen = np.concatenate([seen, ids[:n_new]])
    return paths


def write_doc_arrivals(out_dir: str, documents_path: str) -> str:
    """The ``doc_id % 10 >= 8`` documents as one arrival file in id
    order, the arrival order under which the streaming ingest gate
    equals the one-shot batch gate."""
    docs = pq.read_table(documents_path, columns=["doc_id", "text", "n_chars"])
    ids = docs.column("doc_id").to_numpy()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "arrival_000.parquet")
    pq.write_table(docs.filter(pa.array(ids % 10 >= 8)).sort_by("doc_id"), path)
    return path
