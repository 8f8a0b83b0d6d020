"""Seeded generator for the benchmark's input lake.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, in the shapes of the engine's test lake: the same
column names and dtypes, key ranges, foreign-key fans and value
distributions, and ONE row group per table (the layout the cache-fill
repartition in `graft.Tables.load` exists for).

At sf=0.1 the row counts are orders 150k, lineitem 600k, customer 15k,
part 20k, supplier 1k, documents 5k, embeddings 2k and events 100k;
below that, documents and embeddings stay at 500 rows, as in the test
lake. `fidelity.py` compares a generated lake with the test lake.
The same (seed, sf) always yields byte-identical files; each table draws
from its own stream, so changing one table's recipe never shifts
another's draws.

Usage: python3 lake.py <outDir> <seed> [sf]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# The engine plants synthetic documents at doc_id >= 6_000_000 at query
# time; the ambient corpus must stay below that range.
PLANT_DOC_ID = 6_000_000


def _rng(seed, table):
    return np.random.default_rng([seed, sum(map(ord, table))])


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def generate(out, seed, sf=0.1):
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    assert n_docs < PLANT_DOC_ID

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    rng = _rng(seed, "customer")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }))

    rng = _rng(seed, "supplier")
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    rng = _rng(seed, "part")
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red",
                     "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                      "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pk = np.arange(n_part)
    names = np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                        nouns[rng.integers(0, 8, n_part)])
    _write(out, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }))

    rng = _rng(seed, "orders")
    statuses = np.array(["F", "O", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    d0 = np.datetime64("1995-01-01")
    span = int((np.datetime64("2001-08-01") - d0) / np.timedelta64(1, "D"))
    odays = rng.integers(0, span + 1, n_orders)
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": statuses[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array((d0 + odays.astype("timedelta64[D]"))
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
    }))

    # lineitem, as in the test lake: rows in no key order, a Poisson(4)
    # fan per order, line numbers uniform in 1..7 independent of the
    # order (so (order, line) repeats), ship dates independent of order
    # dates
    rng = _rng(seed, "lineitem")
    lok = rng.integers(0, n_orders, n_line)
    lnum = rng.integers(1, 8, n_line)
    s0 = np.datetime64("1995-01-02")
    sspan = int((np.datetime64("2001-11-04") - s0) / np.timedelta64(1, "D"))
    sdays = rng.integers(0, sspan + 1, n_line)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array((s0 + sdays.astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us")),
    }))

    # events: January 2024 with microsecond jitter, users = customers/10
    rng = _rng(seed, "events")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = int((np.datetime64("2024-01-31T00:00:00", "us") - t0)
                  / np.timedelta64(1, "us"))
    ets = t0 + rng.integers(0, span_us, n_events).astype("timedelta64[us]")
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.sort(ets), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_events),
                            pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_events)],
    }))

    # documents: 10..100 words from a 30-word vocabulary plus a rare
    # 'dup' token; the substring plants splice docs 3, 5 and 9, which
    # must be long enough to donate
    rng = _rng(seed, "documents")
    vocab = np.array(["a", "agg", "batch", "big", "column", "customer",
                      "data", "fast", "filter", "group", "hash", "join",
                      "key", "line", "merge", "order", "part", "query",
                      "row", "scan", "slow", "small", "sort", "spark",
                      "stream", "table", "the", "value", "vector",
                      "window"])
    langs = np.array(["en", "zh", "es", "fr", "de"])
    nwords = rng.integers(10, 101, n_docs)
    nwords[3] = max(nwords[3], 60)
    nwords[5] = max(nwords[5], 80)
    nwords[9] = max(nwords[9], 45)
    texts = []
    for n in nwords:
        ws = vocab[rng.integers(0, len(vocab), n)]
        ws = np.where(rng.random(n) < 0.001, "dup", ws)
        texts.append(" ".join(ws))
    # near-duplicates, as in the test lake's sf0.01 (47 of the first 500
    # documents in clusters: 22 pairs and one triple): a copy repeats its
    # source's text with one trailing word added or dropped. Sources and
    # copies are disjoint and the last source has two copies, so the
    # cluster shapes, and with them the rounds of the clustering loop,
    # do not change with the seed.
    n_src = 23
    picked = rng.choice([i for i in range(min(n_docs, 1000))
                         if i not in (3, 5, 9)], 2 * n_src + 1, replace=False)
    sources, copies = picked[:n_src], picked[n_src:]
    for k, dst in enumerate(copies):
        words = texts[sources[min(k, n_src - 1)]].split(" ")
        if rng.random() < 0.5:
            words = words + [str(vocab[rng.integers(0, len(vocab))])]
        else:
            words = words[:-1]
        texts[dst] = " ".join(words)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs,
                                 p=[0.40, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: random unit vectors in 64-dim float32 with random
    # labels 0..9 (the test lake's labels carry no cluster structure)
    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, n_vecs)
    emb = rng.normal(0, 1, (n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
