"""Deterministic synthetic corpus in the engine's ten-table layout.

The tables follow the schemas and value domains in FIXTURES.md (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), one parquet file per table at ``<dir>/<table>.parquet``
with a single row group. Row counts scale with ``sf``; ``sf=0.1`` gives
600,000 lineitem rows.

The generator draws from one ``numpy.random.default_rng(seed)`` stream,
table by table and column by column, in the order and with the category
lists of the engine's test corpus. With the default seed (42) every
table holds the same rows, in the same order, as the corpus the
engine's tests and ``bench.py`` read. In particular ``l_orderkey`` and
``l_linenumber`` are drawn uniformly and ``l_shipdate`` independently
of the order's ``o_orderdate``, as they are there.

Generation is pure numpy/pandas (no Spark), a few seconds at sf0.1, and
depends only on ``(sf, seed)``. ``ensure`` caches one corpus per pair
and publishes it with an atomic rename, so a half-written corpus is
never read.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd

CORPUS_SEED = 42

# category lists in draw order: index i of a draw picks entry i
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (FIXTURES.md table)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(lo: str, span: int, n: int, rng) -> np.ndarray:
    """Midnight timestamps ``lo + [0, span)`` days, drawn uniformly."""
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return (np.datetime64(lo, "D") + days).astype("datetime64[s]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int = CORPUS_SEED) -> dict[str, pd.DataFrame]:
    """All ten tables as DataFrames, deterministic in ``(sf, seed)``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}

    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5,
    })

    nc = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })

    ns = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    adj = rng.choice(PART_ADJ, npart)
    noun = rng.choice(PART_NOUN, npart)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })

    no = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(ORDER_STATUS, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days("1995-01-01", 2405, no, rng),  # .. 2001-08-01
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })

    nl = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": _money(rng, 0.0, 0.1, nl),
        "l_tax": _money(rng, 0.0, 0.08, nl),
        "l_returnflag": rng.choice(RETURN_FLAGS, nl),
        "l_linestatus": rng.choice(LINE_STATUS, nl),
        "l_shipdate": _days("1995-01-02", 2499, nl, rng),  # .. 2001-11-04
    })

    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86_400, ne))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, max(1, round(15_000 * sf)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(nd)]
    # one document in twenty becomes a copy of another plus " dup",
    # applied in draw order (a copy may copy a copy)
    ndup = nd // 20
    for i, j in zip(rng.choice(nd, ndup, replace=False), rng.integers(0, nd, ndup)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, nv).astype(i32),
    })
    return t


def _publish(out: str, write) -> float:
    """Run ``write(tmp_dir)`` and rename the result to ``out`` unless it
    exists; returns the seconds spent (0.0 when cached)."""
    if os.path.isdir(out):
        return 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    try:
        os.rename(tmp, out)
    except OSError:  # another run published the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)
    return time.perf_counter() - t0


def ensure(root: str, sf: float, seed: int = CORPUS_SEED) -> tuple[str, float]:
    """Return ``(corpus_dir, seconds spent generating)``; 0.0 on a cache hit.
    The cache key includes a digest of this file, so a changed generator
    never reuses an old corpus."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(root, f"sf{sf:g}-seed{seed}-{version}")

    def write(tmp):
        for name, df in build_tables(sf, seed).items():
            # timestamps are stored in microseconds; ts drops its nanoseconds
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False,
                          coerce_timestamps="us", allow_truncated_timestamps=True)

    return out, _publish(out, write)
