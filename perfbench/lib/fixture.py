"""Seeded generator of the engine's ten input tables.

Writes one parquet file per table with the schemas the query registry
reads (TPC-H-like star schema plus `events`, `documents`, `embeddings`).
Row counts and value distributions follow the stock sf0.001/sf0.01/sf0.1
fixtures, measured table by table: lineitem = 6e6 x sf, documents =
max(500, 5e4 x sf), embeddings = max(500, 2e4 x sf), events from
customers / 10 users; uniform keys and prices, exponential event values;
documents of 10-99 tokens drawn uniformly from a 30-word vocabulary, 5 %
of them an earlier document with " dup" appended (the source of every
near-duplicate pair); unit-norm 64-d Gaussian embeddings.

A manifest (file -> row count and bytes) is written next to the tables;
`ensure()` verifies an existing directory against it and regenerates on
any mismatch.
"""
import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
MANIFEST = "manifest.json"
GENERATOR_VERSION = 2

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _row_counts(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {"region": 5, "nation": 25, "customer": n(150000),
            "supplier": n(10000), "part": n(200000), "orders": n(1500000),
            "lineitem": n(6000000), "events": n(1000000),
            "documents": max(500, n(50000)), "embeddings": max(500, n(20000))}


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed, sf):
    rng = np.random.default_rng(seed)
    rc = _row_counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = rc["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = rc["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npt = rc["part"]
    pk = np.arange(npt, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, npt)], " "),
                              np.array(NOUN)[rng.integers(0, 8, npt)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npt).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npt)],
        "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    no = rc["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = rc["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npt, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    ne = rc["events"]
    users = max(1, nc // 10)
    # strictly increasing event times over January 2024 (distinct, sorted by id)
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(span_us, ne, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = rc["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    nv = rc["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})
    return out


def _spec(seed, sf):
    return {"generator": GENERATOR_VERSION, "seed": seed, "sf": sf}


def _verify(path, spec):
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return False
    if man.get("spec") != spec:
        return False
    for name, rec in man["files"].items():
        p = os.path.join(path, f"{name}.parquet")
        if not os.path.isfile(p) or os.path.getsize(p) != rec["bytes"]:
            return False
        if pq.ParquetFile(p).metadata.num_rows != rec["rows"]:
            return False
    return set(man["files"]) == set(TABLES)


def ensure(path, seed, sf):
    """Make `path` hold the fixture for (seed, sf); returns seconds spent
    generating (0.0 when a verified copy was already there)."""
    spec = _spec(seed, sf)
    if _verify(path, spec):
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    files = {}
    for name, table in _tables(seed, sf).items():
        p = os.path.join(path, f"{name}.parquet")
        pq.write_table(table, p)
        files[name] = {"rows": table.num_rows, "bytes": os.path.getsize(p)}
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump({"spec": spec, "files": files}, f, indent=1, sort_keys=True)
    if not _verify(path, spec):
        raise RuntimeError(f"fixture at {path} failed its own manifest check")
    return time.perf_counter() - t0
