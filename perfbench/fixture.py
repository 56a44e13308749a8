"""Deterministic fixture generator for the graft benchmark.

Writes the star-schema tables plus `events`, `documents` and `embeddings`
(one parquet file each, the layout `GraftSession.table` reads) with the
column names, types and value ranges of graft's test fixtures. The data
depends only on the scale factor and FIXTURE_SEED, so every run of the
benchmark, whatever its workload seed, sees the same tables; the
workload seed picks the operations and parameters instead.

    python3 perfbench/fixture.py <out_dir> <scale_factor>
"""
import datetime as dt
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# Bump when the generated data changes, so cached fixtures are rebuilt.
VERSION = 1

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big group stream filter vector").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
COLORS = "blue red green black white gray brown pink olive navy coral ivory tan".split()
NOUNS = "anvil widget gear bolt valve".split()


def sizes(sf):
    return {
        "lineitem": int(6_000_000 * sf), "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf), "part": int(200_000 * sf),
        "supplier": max(10, int(10_000 * sf)), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _text(r):
    return " ".join(r.choice(WORDS) for _ in range(r.randint(8, 90)))


def _mutate(r, text):
    toks = text.split()
    for _ in range(r.randint(1, 3)):
        toks[r.randrange(len(toks))] = r.choice(WORDS)
    return " ".join(toks)


def generate(out, sf):
    n = sizes(sf)
    rng = np.random.default_rng(FIXTURE_SEED)
    r = random.Random(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)

    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], li),
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li)),
        "l_shipdate": _days(rng, li, "1995-01-02", 2500),
    })
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)),
    })
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": pa.array([f"{COLORS[rng.integers(13)]} {NOUNS[rng.integers(5)]}"
                            for _ in range(npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart)),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1),
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, ne // 66), ne),
        "event_type": pa.array(rng.choice(
            ["click", "purchase", "scroll", "share", "view"], ne)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    # Documents: random token streams with planted near-duplicates (an
    # earlier document with 1-3 tokens replaced), so every dedup operator
    # has true pairs to find.
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and r.random() < 0.15:
            texts.append(_mutate(r, texts[r.randrange(i)]))
        else:
            texts.append(_text(r))
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array([r.choice(LANGS) for _ in range(nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # Embeddings: 64-d unit vectors around ten label centres, with planted
    # near-duplicates (an earlier vector plus small noise).
    nv = n["embeddings"]
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (nv, 64))
    for i in range(10, nv):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, 64)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
