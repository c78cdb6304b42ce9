"""Seeded corpus generator for the benchmark's batch workloads.

Writes the four corpus tables the benchmark queries read (lineitem,
events, documents, embeddings) as single-row-group parquet files with
the same schemas, value domains and shapes as the sf0.1 test corpus:

- lineitem: TPC-H-like line items; returnflag/linestatus uniform over
  A/N/R x O/F, day-precision ship dates;
- events: time-sorted clickstream points with distinct microsecond
  timestamps over 30 days, five event types, exponential values;
- documents: 30-word vocabulary, 10-100 words each, 5% of them an
  earlier document plus a trailing "dup" token (the near-duplicates the
  dedup queries find);
- embeddings: 64-d unit vectors around ten label centroids.

The same (seed, scale) always gives byte-identical inputs. Across seeds
the document lengths, duplicate count and language and label counts are
the same multisets in another order, so the work a query does changes
little from seed to seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000
SHIP0_DAYS = 9132  # 1995-01-02


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def lineitem(rng, n, n_orders, n_parts, n_supps):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(
            (SHIP0_DAYS + rng.integers(0, 2498, n)) * DAY_US,
            pa.timestamp("us")),
    })


def events(rng, n, n_users):
    span = 30 * DAY_US
    ts = np.unique(rng.integers(0, span, int(n * 1.05) + 16))
    ts = np.sort(rng.choice(ts, n, replace=False))
    value = np.clip(np.round(rng.exponential(50.0, n), 2), 0.01, None)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": value,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _shuffled(rng, values, counts):
    return rng.permutation(np.repeat(values, counts))


def documents(rng, n):
    dups = set(rng.choice(np.arange(21, n), n // 20, replace=False).tolist())
    lengths = iter(rng.permutation(
        np.linspace(10, 100, n - len(dups)).round().astype(int)))
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, next(lengths))))
    per_lang = (np.array(LANG_P) * n).astype(int)
    per_lang[0] += n - per_lang.sum()
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(_shuffled(rng, LANGS, per_lang)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = _shuffled(rng, np.arange(labels),
                      n // labels + (np.arange(labels) < n % labels))
    v = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centroids[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(out_dir, seed, scale):
    """Write the corpus for `seed` at `scale` (1.0 = the sf0.1 corpus's
    row counts) into `out_dir`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li = int(600_000 * scale)
    tables = {
        "lineitem": lineitem(rng, n_li, max(1, n_li // 4),
                             max(1, n_li // 30), max(1, n_li // 600)),
        "events": events(rng, int(100_000 * scale),
                         max(1, int(1500 * scale))),
        "documents": documents(rng, int(5000 * scale)),
        "embeddings": embeddings(rng, int(2000 * scale)),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
