"""Seeded synthetic inputs for the benchmark.

Every table the workloads read is generated here from the workload seed,
so the same seed always gives byte-identical inputs and the benchmark
never depends on files outside its checkout. The shapes follow the
repo's TPC-H-ish test tables (TESTDATA.md): the same table and column
names, types, value ranges and cardinalities, one parquet file with one
row group per table, timestamps as microsecond timestamps without zone.

Row counts scale with ``sf`` exactly like the repo's test data:
lineitem has 6,000,000 x sf rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TESTDATA.md sizes)."""
    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000, 10),
        "part": n(200_000), "orders": n(1_500_000),
        "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _dates(rng: np.random.Generator, n: int, start: str, days: int
           ) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int
           ) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, a pure function of (seed, sf)."""
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)]})
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _dates(rng, n, "1995-01-01", 2405),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)]})
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, c["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, "1995-01-02", 2499)})
    n = c["events"]
    gaps = rng.exponential(259.0, n) * 1e6
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(49.6, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = c["documents"]
    texts = [doc_text(rng, int(k)) for k in rng.integers(10, 100, n)]
    # a few near-duplicates (one word swapped for "dup") so the dedup
    # checks have pairs to find
    for i in range(0, n - 1, 50):
        words = texts[i].split()
        words[len(words) // 2] = "dup"
        texts[i + 1] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = c["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One single-row-group parquet file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    return out_dir
