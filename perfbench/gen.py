"""Seeded input generator for the benchmark.

Writes the ten tables the catalog reads (TPC-H-shaped star schema,
`events`, `documents`, `embeddings`), one parquet file each, with the
same schemas and value domains as the project's synthetic fixtures:
independent uniform columns, documents drawn from a 30-word vocabulary
with ~5% planted near-duplicates (a copy of an earlier document plus the
token ``dup``), unit-norm 64-dim float32 embeddings with ten labels.

A set is a small *base* copy replicated ``factor`` times. Replicas reuse
``scripts/scale_smoke.py``'s content-aware transforms (key shift, text
alphabet rotation, vector rotation) by import, so join cardinalities and
near-duplicate pair counts grow linearly. The seed picks both the base
content and the replica numbers, which set each replica's key shift and
rotation; the base copy (replica 0) is never transformed, so properties
such as language and source survive unchanged.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["big", "blue", "cold", "hot", "large", "old", "red", "small"]
_NOUN = ["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "widget"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ("the a fast slow big small key order sort table scan merge part "
          "window hash join batch stream spark group query row data filter "
          "customer line value agg column vector").split()
_DIM = 64


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float, n_docs: int,
                n_vecs: int) -> dict[str, pa.Table]:
    """The base copy: TPC-H-shaped tables at scale factor `sf`, plus
    `n_docs` documents and `n_vecs` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_line, n_ev = max(int(6_000_000 * sf), 10), max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, _DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def replica_ids(seed: int, factor: int) -> list[int]:
    """Replica numbers: 0 (the untouched base) then `factor - 1` distinct
    seed-chosen numbers in 1..24, so every text rotation differs."""
    rng = np.random.default_rng([seed, 1])
    picked = rng.choice(np.arange(1, 25), size=factor - 1, replace=False)
    return [0] + sorted(int(r) for r in picked)


def generate(spark, out_dir: str, seed: int, sf: float, n_docs: int,
             n_vecs: int, factor: int) -> dict[str, dict[str, int]]:
    """Write one input set to `out_dir` (one `<table>.parquet` file per
    table). Returns {table: {"rows": .., "bytes": ..}}."""
    from functools import reduce

    from scripts.scale_smoke import COPIED, KEY_SHIFT, _transform_replica

    base_dir = os.path.join(out_dir, "_base")
    os.makedirs(base_dir, exist_ok=True)
    for name, table in base_tables(seed, sf, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(base_dir, f"{name}.parquet"))
    for name in COPIED:
        shutil.copyfile(os.path.join(base_dir, f"{name}.parquet"),
                        os.path.join(out_dir, f"{name}.parquet"))
    reps = replica_ids(seed, factor)
    for name in KEY_SHIFT:
        path = os.path.join(base_dir, f"{name}.parquet")
        out = reduce(lambda a, b: a.unionByName(b),
                     [_transform_replica(name, spark.read.parquet(path), r)
                      for r in reps])
        # the base file's schema: Spark would hand timestamps back tz-aware
        pq.write_table(out.toArrow().cast(pq.read_schema(path)),
                       os.path.join(out_dir, f"{name}.parquet"))
    shutil.rmtree(base_dir)
    sizes = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        sizes[name] = {"rows": pq.read_metadata(path).num_rows,
                       "bytes": os.path.getsize(path)}
    return sizes
