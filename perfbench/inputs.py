"""Seeded benchmark inputs, cached on disk by generator parameters + seed.

Everything the program under test reads is generated here from the
workload seed: crawl corpora (through the package's own corpus generator)
and a small TPC-H-shaped table set for the gate queries. A cache entry is
a directory named by a hash of (kind, parameters, seed); it is written to
a temporary sibling and renamed into place, so an interrupted run never
leaves a half-written entry behind.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# entries kept per kind (a drain corpus is ~45 MB): enough for a set of
# ten seeds to be run twice from the cache
KEEP = 12


def _cached(cache_root: str, kind: str, params: dict, build) -> str:
    key = hashlib.sha1(json.dumps([kind, params], sort_keys=True)
                       .encode()).hexdigest()[:16]
    out = os.path.join(cache_root, f"{kind}_{key}")
    if os.path.exists(os.path.join(out, "params.json")):
        os.utime(out)
        return out
    _evict(cache_root, kind, KEEP - 1)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    if not os.path.exists(os.path.join(tmp, "params.json")):
        with open(os.path.join(tmp, "params.json"), "w") as f:
            json.dump(params, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _evict(cache_root: str, kind: str, keep: int) -> None:
    """Drop the least recently used entries of ``kind`` beyond ``keep``."""
    if not os.path.isdir(cache_root):
        return
    entries = sorted((os.path.join(cache_root, d)
                      for d in os.listdir(cache_root)
                      if d.startswith(f"{kind}_") and ".tmp" not in d),
                     key=os.path.getmtime)
    for d in entries[:max(0, len(entries) - keep)]:
        shutil.rmtree(d, ignore_errors=True)


def crawl_corpus(cache_root: str, **params) -> str:
    """A Zipf-skewed crawl corpus from ``delver_spark.fixtures.gen``."""
    from delver_spark.fixtures.gen import generate_corpus

    return _cached(cache_root, "corpus", params,
                   lambda d: generate_corpus(d, **params))


# -- TPC-H-shaped tables for the gate queries -------------------------------

_WORDS = ("the a and of to is in it fast slow big small batch window spark "
          "order data column agg join line customer query value table key "
          "scan part row group vector filter merge sort crawl page link host "
          "fetch frontier bloom seen round text token score").split()
_COLORS = "red blue green cold hot dark light steel".split()
_THINGS = "widget bolt gear nut spring valve pipe frame".split()


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us")
          + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))
    return pa.array(us, pa.timestamp("us"))


def _write_tables(out: str, seed: int, scale: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_docs = n_vecs = 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    def i64(a):
        return pa.array(np.asarray(a, dtype=np.int64))

    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32(np.arange(25) % 5)},
        "customer": {
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": i64(range(n_part)),
            "p_name": [f"{rng.choice(_COLORS)} {rng.choice(_THINGS)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      1)},
        "orders": {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _days(dt.datetime(1995, 1, 1),
                                 rng.integers(0, 2400, n_ord)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(dt.datetime(1995, 1, 2),
                                rng.integers(0, 2500, n_line))},
        "events": {
            "event_id": i64(range(n_ev)),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                           + rng.integers(0, 30 * 86400 * 10**6, n_ev)
                           .astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 150, n_ev)),
            "event_type": rng.choice(["click", "error", "purchase", "signup",
                                      "view"], n_ev),
            "value": money(0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 90))))
             for _ in range(n_docs)]
    tables["documents"] = {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs,
                           p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": i64([len(t) for t in texts])}
    emb = (rng.standard_normal((n_vecs, 64)) * 0.1).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": i64(range(n_vecs)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def query_tables(cache_root: str, seed: int, scale: int) -> str:
    """TPC-H-shaped tables (the gate queries' schema) at ``scale`` x the
    sf0.001 row counts: 6,000 lineitem rows per unit of scale."""
    params = {"seed": seed, "scale": scale}
    return _cached(cache_root, "tables", params,
                   lambda d: _write_tables(d, seed, scale))
