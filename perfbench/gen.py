"""Seeded fixture generator for the benchmark.

Builds the ten parquet tables the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas, value domains and key ranges listed in
FIXTURES.md. Row CONTENT comes from a fixed content seed, so every
benchmark seed sees the same rows; the benchmark seed only picks a
row permutation (a new physical order, so a new split of rows across
Spark partitions). Verified outputs must therefore hash identically
across seeds.

Usage: python3 perfbench/gen.py OUT_DIR SCALE SEED
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Rows per table at scale 1.0 (the TPC-H-ish sf1 proportions of the
# engine's fixtures). documents and embeddings stay at 500 rows, their
# size in the sf0.001 and sf0.01 fixtures.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EMB_DIM = 64
ROW_GROUP_ROWS = 100_000


def _sizes(scale: float) -> dict[str, int]:
    n = {t: max(10, int(round(r * scale))) for t, r in _BASE_ROWS.items()}
    n["documents"] = n["embeddings"] = 500
    return n


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _price(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: a few word edits
            # plus a marker, so the dedup tiers find real clusters.
            words = texts[int(rng.integers(0, i))].replace(" dup", "").split()
            for _ in range(max(1, len(words) // 30)):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, _EMB_DIM))
    vecs = rng.normal(size=(n, _EMB_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32)),
        pa.array(vecs.ravel(), type=pa.float32()),
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def base_tables(scale: float) -> dict[str, pa.Table]:
    """The fixture rows at `scale`, in key order, from CONTENT_SEED."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = _sizes(scale)
    i32, i64 = np.int32, np.int64
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
    }
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(i32),
            "c_acctbal": _price(rng, c, -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(i32),
            "s_acctbal": _price(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=i64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, p)],
            "p_type": [_P_TYPES[j] for j in rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=i64),
            "o_custkey": rng.integers(0, c, o).astype(i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, o)],
            "o_totalprice": _price(rng, o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(i64),
            "l_partkey": rng.integers(0, p, li).astype(i64),
            "l_suppkey": rng.integers(0, s, li).astype(i64),
            "l_linenumber": rng.integers(1, 8, li).astype(i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _price(rng, li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(i64)
    span_us = 30 * 86400 * 1_000_000
    users = max(15, e * 3 // 200)
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=i64),
            "ts": pa.array(
                np.sort(start + rng.integers(0, span_us, e)).astype("datetime64[us]")
            ),
            "user_id": rng.integers(0, users, e).astype(i64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, e)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_fixtures(out_dir: str, scale: float, seed: int) -> str:
    """Write every table to `out_dir`, rows permuted by `seed`.

    Publishes atomically (build in a sibling, then rename), so a killed
    run never leaves a half-written fixture set behind. Returns
    `out_dir`; an existing complete set is reused as is."""
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t, table in base_tables(scale).items():
        perm = np.random.default_rng([seed, TABLES.index(t)]).permutation(table.num_rows)
        # Several row groups per large table, so Spark splits its scans
        # across cores.
        pq.write_table(
            table.take(perm),
            os.path.join(tmp, f"{t}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    print("wrote", write_fixtures(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
