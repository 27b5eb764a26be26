"""Seeded generator for the benchmark's input tables and ingest batches.

Writes parquet files with the column names, types, row counts and value
distributions of the project's star-schema fixture (FIXTURES.md section 1),
so the kit queries and the random-walk generator bind against them unchanged:
uniform foreign keys and domains, and documents of 10 to 99 words drawn
uniformly from the fixture's 30-word vocabulary, 5% of them a copy of another
document with " dup" appended. Everything is a pure function of the seed: the
same seed writes the same rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["small", "red", "blue", "hot", "old", "big", "cold", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pin", "cog"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY0 = dt.datetime(1995, 1, 1)
NDAYS = (dt.datetime(2001, 8, 1) - DAY0).days


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _dates(rng, n, lo=0, hi=NDAYS):
    days = rng.integers(lo, hi + 1, n)
    us = (np.datetime64(DAY0, "us") + days.astype("timedelta64[D]"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out, sf, seed):
    """The star-schema tables and the events table at scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line = 4 * n_ord
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part),
                                              _pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, 1, NDAYS + 95)})
    n_ev, n_users = int(1000000 * sf), max(1, n_cust // 10)
    ts = (np.datetime64("2024-01-01", "us")
          + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(ts), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = _pick(rng, VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return [list(w) for w in np.split(words, cuts)]


def _doc_table(ids, texts, rng):
    joined = [" ".join(t) for t in texts]
    n = len(ids)
    return {"doc_id": np.asarray(ids, dtype=np.int64), "text": joined,
            "lang": np.asarray(LANGS, dtype=object)[
                rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in joined], dtype=np.int64)}


def write_ingest(out, n_corpus, batch_sizes, dup_share, seed):
    """A documents corpus plus one ingest batch per entry of `batch_sizes`.
    Batch b's ids start at 1,000,000 + 1,000 b. A `dup_share` of each batch
    are near-duplicates of corpus documents, alternately with one to three
    words replaced and with " dup" appended; their (batch doc, corpus doc)
    ids go to planted.csv."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out}/batches", exist_ok=True)
    corpus = _texts(rng, n_corpus)
    dups = rng.choice(n_corpus, n_corpus // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_corpus), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        corpus[i] = corpus[j] + ["dup"]
    _write(f"{out}/documents.parquet",
           _doc_table(range(n_corpus), corpus, rng))
    long_docs = [i for i, t in enumerate(corpus) if len(t) >= 40]
    planted = []
    for b, batch_size in enumerate(batch_sizes):
        assert batch_size <= 1000
        n_dup = int(round(batch_size * dup_share))
        base = 1_000_000 + b * 1000
        texts = _texts(rng, batch_size - n_dup)
        for j in range(n_dup):
            src = long_docs[rng.integers(0, len(long_docs))]
            t = list(corpus[src])
            if j % 2:
                t.append("dup")
            else:
                for _ in range(rng.integers(1, 4)):
                    t[rng.integers(0, len(t))] = VOCAB[rng.integers(0, len(VOCAB))]
            planted.append((base + len(texts), src))
            texts.append(t)
        _write(f"{out}/batches/batch_{b:05d}.parquet",
               _doc_table(range(base, base + batch_size), texts, rng))
    with open(f"{out}/planted.csv", "w") as f:
        f.writelines(f"{a},{c}\n" for a, c in planted)
