"""Deterministic generator for the benchmark's input tables.

The benchmark never reads data from outside its checkout, so it writes its
own copy of the engine's ten driver tables (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) with the same column names,
types and value shapes as the engine's test data.  Row counts follow the
scale factor, as in the test data: at sf0.1 that is 600,000 line items,
100,000 events, 5,000 documents and 2,000 embeddings.

The data seed is a constant: every checkout builds byte-identical tables,
so the expected result hashes in ``expected.json`` stay valid.  The
workload seed (``run.py --seed``) only chooses statements, keys and order.

    python3 perfbench/datagen.py <out_dir> [--sf 0.1]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261016
EMBEDDING_DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; same ``sf`` gives identical tables."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (t0 + offsets).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return out


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents; about 5% are near-duplicates of an earlier
    document (one word changed, ``dup`` appended) and a few are exact
    copies, so the dedup stages find clusters."""
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        elif i >= 20 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n_vecs: int) -> pa.Table:
    """Unit vectors around ten weak cluster centres, labelled by centre."""
    centres = rng.normal(0.0, 0.1, (10, EMBEDDING_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n_vecs, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def build(out_dir: str, sf: float) -> None:
    """Write every table as ``<out_dir>/<table>.parquet``; a ``READY``
    marker is written last, so a crashed build is redone, not reused."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "READY"), "w") as fh:
        fh.write(f"seed={DATA_SEED} sf={sf}\n")


def ensure(out_dir: str, sf: float) -> str:
    if not os.path.exists(os.path.join(out_dir, "READY")):
        build(out_dir, sf)
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    build(args.out_dir, args.sf)
