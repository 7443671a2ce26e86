#!/usr/bin/env python3
"""Seeded generator for the tables the ADS-B dashboard queries read.

It draws `customer`, `events` and `documents` exactly as the generator
of the repository's synthetic sf datasets does: the same numpy
Generator calls, in the same order, on one stream, with the same
constants. Only the seed differs, and the tables the dashboard does not
read (supplier, part, orders, lineitem, embeddings) are not drawn. So
seed 42 reproduces the sf sets' `customer` table bit for bit, and from
the stream position where the sf sets start their `events` table, the
`events` and `documents` tables too; `test_gen_data.py` checks both, and
the schemas and row counts, against the sf sets. `nation` and `region`
are fixed. The same (seed, sf) always writes the same bytes.

Row counts: 150,000·sf customers, 1,000,000·sf events over 15,000·sf
aircraft (user_id), max(500, 50,000·sf) documents.

Usage: python3 gen_data.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
EPOCH = np.datetime64("2024-01-01", "ns")
DAYS = 30


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def customer(rng, sf):
    n = int(round(150_000 * sf))
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]),
    })


def events(rng, sf):
    """Events sorted by time over 30 days; `ts` is a microsecond
    timestamp without time zone, as in the sf sets."""
    n = int(round(1_000_000 * sf))
    seconds = np.sort(rng.uniform(0, DAYS * 86_400, n))
    ts = (EPOCH + (seconds * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    user = rng.integers(0, int(round(15_000 * sf)), n)
    kind = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(kind),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def documents(rng, sf):
    """10 to 99 words each from a 30-word vocabulary; one document in 20
    is a near-duplicate, another document's text with " dup" appended."""
    n = max(500, int(round(50_000 * sf)))
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        words = rng.integers(10, 100)
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), words)]))
    dups = n // 20
    dst = rng.choice(n, dups, replace=False)
    src = rng.integers(0, n, dups)
    for d, s in zip(dst, src):
        texts[d] = texts[s] + " dup"
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })


def region():
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(out, "customer", customer(rng, sf))
    write(out, "events", events(rng, sf))
    write(out, "documents", documents(rng, sf))
    write(out, "nation", nation())
    write(out, "region", region())


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
