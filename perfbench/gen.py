"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas the program reads, one
`<table>.parquet` file per table as in the reference test data
(TESTDATA.md). The same seed always gives the same files. Distributions follow the reference test
data: `events` has 1,500 users, five event types in equal shares,
exponential values with mean 50 and exponential gaps with mean 26 s
starting 2024-01-01.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
USERS = 1500


def events(path, n, seed):
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps_us = rng.exponential(26.0e6, n).astype(np.int64)
    ts = start + np.cumsum(gaps_us).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, f"{path}/events.parquet")


VOCAB = np.array(("a the key agg row scan slow fast table value part hash merge batch "
                  "spark line sort window data column join small customer query order "
                  "group filter big stream vector").split())
LANGS = np.array(["en", "es", "fr", "de", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def documents(path, n, seed):
    """Texts of 10-99 words over a 31-word vocabulary; one in twenty is
    an earlier document's text with " dup" appended (a near duplicate)."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(table, f"{path}/documents.parquet")


def embeddings(path, n, seed):
    """Random 64-dimensional unit vectors with labels 0-9."""
    rng = np.random.default_rng([seed, 3])
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })
    pq.write_table(table, f"{path}/embeddings.parquet")


def lineitem(path, n, seed):
    """TPC-H-like line items: 4 per order on average, 20,000 parts and
    1,000 suppliers per 600,000 rows, ship dates 1995-01-02..2001-11-04."""
    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, n).astype(np.float64)
    first = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    table = pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(first + days, type=pa.timestamp("us")),
    })
    pq.write_table(table, f"{path}/lineitem.parquet")


def analytics(path, scale, seed):
    """The tables the analytics queries read, at `scale` times the
    reference sf0.1 sizes (documents and embeddings have a floor of 500,
    as in the reference data)."""
    events(path, int(100_000 * scale), seed)
    documents(path, max(500, int(5_000 * scale)), seed)
    embeddings(path, max(500, int(2_000 * scale)), seed)
    lineitem(path, int(600_000 * scale), seed)
