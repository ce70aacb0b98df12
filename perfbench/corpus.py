"""Seeded generator for the benchmark's TPC-H-ish corpus.

The corpus has the ten tables and the column types of the repository's
test data at scale factor 0.1 (150k orders, 600k lineitems, 100k events,
5k documents, 2k embeddings), with the same uniform value ranges, so that
every declared query and its DuckDB oracle run on it unchanged. It is a
function of ``CORPUS_SEED`` and the generator version only, written once
per checkout and reused: layouts the program builds over it stay valid
across runs, and a run's own ``--seed`` varies only the operations.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
GENERATOR_VERSION = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
P_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "spark line small fast group customer batch sort value hash filter big "
    "data dup query row stream the part column order scan a slow agg key "
    "window table merge vector join"
).split()

_DAY_US = 86_400_000_000


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, P_ADJ, n["part"]) + " " + _pick(rng, P_NOUN, n["part"]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": _pick(rng, P_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(_pick(rng, WORDS, int(k))) for k in rng.integers(10, 101, d)
    ]
    # a few exact duplicates: the dedup keys' hard case
    for i in rng.choice(np.arange(100, d), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32),
    })
    return out


def fingerprint(corpus_dir: str) -> str:
    """sha256 over every table file's bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(corpus_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure(root: str) -> tuple[str, dict]:
    """Return (corpus dir, manifest), generating the corpus under
    ``root`` when it is missing or was made by another generator
    version. The manifest carries the row counts and the fingerprint."""
    path = os.path.join(root, f"corpus_v{GENERATOR_VERSION}_s{CORPUS_SEED}")
    manifest_path = os.path.join(path, "MANIFEST.json")
    if not os.path.exists(manifest_path):
        tmp = path + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, table in _tables(np.random.default_rng(CORPUS_SEED)).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        manifest = {
            "seed": CORPUS_SEED,
            "generator_version": GENERATOR_VERSION,
            "rows": dict(ROWS),
            "fingerprint": fingerprint(tmp),
        }
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        try:
            os.rename(tmp, path)
        except OSError:  # another run published the same corpus first
            shutil.rmtree(tmp)
    with open(manifest_path) as f:
        return path, json.load(f)


def verify(corpus_dir: str, manifest: dict) -> None:
    """Raise unless every table has its expected row count."""
    for name in TABLES:
        rows = pq.ParquetFile(os.path.join(corpus_dir, f"{name}.parquet")).metadata.num_rows
        if rows != manifest["rows"][name]:
            raise ValueError(f"corpus table {name}: {rows} rows, expected {manifest['rows'][name]}")
