"""Deterministic benchmark fixture: the sparkdb table set at a chosen scale.

The tables follow the schemas of the repository's correctness fixture
(TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``;
see FIXTURES.md) with the same value domains, so every registered workload
and every benchmark statement runs on them. The data depend only on the
scale factor and a fixed internal seed: the benchmark's ``--seed`` shapes
the statement stream, never the tables.

Tables are written once per checkout (the benchmark's build step) and then
reused; ``ensure_fixture`` regenerates them when this file changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en twice: ~1/3 of documents
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _dates(rng, n: int, days: int) -> pa.Array:
    """Midnight timestamps in [1995-01-01, +days)."""
    off = rng.integers(0, days, n).astype("int64") * _DAY_US
    return pa.array(_EPOCH_1995 + off.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table (plus the ``events`` user count) at scale ``sf``."""
    n_ord = max(1_500, int(1_500_000 * sf))
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": n_ord,
        "lineitem": 4 * n_ord,
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    n = sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_line, n_events = n["orders"], n["lineitem"], n["events"]
    n_users, n_docs, n_vecs = n["users"], n["documents"], n["embeddings"]

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, 2499),
        }
    )
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(40.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary. About 10% are near
    copies of an earlier document (a few words swapped) and 2% exact
    copies, so the dedup workloads find real candidates."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.02:
            text = texts[int(rng.integers(0, i))]
        elif i and r < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            text = " ".join(words)
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
            if rng.random() < 0.05:
                words[int(rng.integers(0, len(words)))] = "dup"
            text = " ".join(words)
        texts.append(text)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors scattered around ten cluster centres; label = cluster."""
    centres = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )


def _version(sf: float) -> str:
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + repr(sf).encode()).hexdigest()[:16]


def ensure_fixture(base_dir: str, sf: float) -> str:
    """Directory of ``<table>.parquet`` files at scale ``sf``, generating it
    on first use. Generation writes to a temporary directory and renames it
    into place, so an interrupted build never leaves a partial fixture."""
    version = _version(sf)
    out = os.path.join(base_dir, f"fixture-{version}")
    if os.path.isdir(out):
        return out
    os.makedirs(base_dir, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, table in _tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out
