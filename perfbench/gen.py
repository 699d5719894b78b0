"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped star schema (region, nation, customer, supplier,
part, orders, lineitem) plus the LLM-curation corpus (documents) and the
vector table (embeddings) as one parquet file per table. Column names,
types and value domains follow the repository's test data, so every
registry callable and facade the workloads call runs unchanged on them.
Row counts scale linearly with the scale factor ``sf`` (lineitem is about
6,000,000 x sf rows). The same ``(sf, seed)`` always gives byte-identical
tables. ``python3 perfbench/gen.py SF SEED OUT_DIR`` writes them and
prints the row counts as JSON.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "new", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
ORDER_SPAN_DAYS = 2404  # to 2001-08-01


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem is drawn)."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def words(rng: np.random.Generator, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)]


def documents(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    """``n`` documents; about 5% are near copies (one or two words
    substituted) and 0.4% exact copies of an earlier document, so dedup
    and near-duplicate detection have real work to find."""
    texts: list[str] = []
    kinds = rng.random(n)
    lengths = rng.integers(8, 80, n)
    for i in range(n):
        if i > 0 and kinds[i] < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < 0.055:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words(rng, int(lengths[i]))))
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` 64-d float vectors around 10 labelled cluster centres."""
    centres = rng.normal(0.0, 0.12, (10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = (centres[label] + rng.normal(0.0, 0.08, (n, EMB_DIM))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": label,
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    odate = ORDER_EPOCH_US + rng.integers(0, ORDER_SPAN_DAYS, no) * DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey], 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, nl) * DAY_US),
        }
    )
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def write(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


if __name__ == "__main__":
    import json
    import sys

    print(json.dumps(write(float(sys.argv[1]), int(sys.argv[2]), sys.argv[3])))
