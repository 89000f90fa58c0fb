"""Seeded input generator. The same seed gives the same files. Value
domains follow the engine's star-schema test tables (TPC-H-style tables plus
`events`, `documents` and `embeddings`), so every declared cell sees the
shapes it was written for; rows are written in a seeded order."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]
# rows at scale factor 1 (6M lineitem rows)
SF1 = {"customer": 150000, "supplier": 10000, "part": 200000, "orders": 1500000,
       "lineitem": 6000000, "events": 1000000, "documents": 50000, "embeddings": 50000}
EPOCH_2024_US = 1704067200 * 10**6
DAY_US = 86400 * 10**6


def sizes(sf):
    return {t: max(1, round(n * sf)) for t, n in SF1.items()}


def users(sf):
    return max(10, round(15000 * sf))


def _pick(rng, xs, n):
    return np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_us, days, n):
    return first_us + rng.integers(0, days + 1, n) * DAY_US


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write(path, cols, rng):
    """One parquet file, rows in a seeded order."""
    n = len(next(iter(cols.values())))
    perm = rng.permutation(n)
    arrays = {k: (v.take(pa.array(perm)) if isinstance(v, pa.Array) else pa.array(v[perm]))
              for k, v in cols.items()}
    pq.write_table(pa.table(arrays), path)


def _events(rng, first_id, n, n_users):
    """`events` rows: ts rises with event_id (one event per 26 s from
    2024-01-01), so a contiguous id range is a contiguous slice of time."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "event_id": ids,
        "ts": _ts(EPOCH_2024_US + ids * 26_000_000 + rng.integers(0, 26_000_000, n)),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }


def _documents(rng, n):
    """One document in twenty is a near-copy of an earlier one (one word
    changed, or none), so the dedup and component cells find clusters."""
    base = [rng.integers(0, len(VOCAB), rng.integers(10, 101)) for _ in range(n)]
    texts = []
    for i in range(n):
        words = base[i]
        if i > 0 and rng.random() < 0.05:
            words = base[int(rng.integers(0, i))].copy()
            if rng.random() < 0.7:
                words[int(rng.integers(0, min(10, len(words))))] = rng.integers(0, len(VOCAB))
        texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": _pick(rng, LANGS, n),
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    """64-dim vectors around ten seeded centres, labelled by centre."""
    centres = rng.uniform(-0.4, 0.4, (10, 64))
    label = rng.integers(0, 10, n)
    vecs = (centres[label] + rng.uniform(-0.15, 0.15, (n, 64))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def tables(out, seed, sf):
    """Write every table as `<out>/<name>.parquet`; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = sizes(sf)
    keys = {t: np.arange(k, dtype=np.int64) for t, k in n.items()}
    cols = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                                      dtype=object)},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{k}" for k in range(25)], dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": keys["customer"],
                     "c_name": np.array([f"Customer#{k:09d}" for k in keys["customer"]], dtype=object),
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])},
        "supplier": {"s_suppkey": keys["supplier"],
                     "s_name": np.array([f"Supplier#{k:09d}" for k in keys["supplier"]], dtype=object),
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])},
        "part": {"p_partkey": keys["part"],
                 "p_name": _pick(rng, ADJECTIVES, n["part"]) + " " + _pick(rng, NOUNS, n["part"]),
                 "p_brand": np.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])], dtype=object),
                 "p_type": _pick(rng, TYPES, n["part"]),
                 "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (keys["part"] % 1000) / 10.0, 2)},
        "orders": {"o_orderkey": keys["orders"],
                   "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
                   "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
                   "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                   "o_orderdate": _ts(_days(rng, 788918400 * 10**6, 2404, n["orders"])),
                   "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])},
        "lineitem": {"l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
                     "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
                     "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                     "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                     "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                     "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
                     "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
                     "l_shipdate": _ts(_days(rng, 789004800 * 10**6, 2498, n["lineitem"]))},
        "events": _events(rng, 0, n["events"], users(sf)),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, c in cols.items():
        _write(os.path.join(out, f"{name}.parquet"), c, rng)
    return {name: len(next(iter(c.values()))) for name, c in cols.items()}


def arrivals(out, seed, batches, rows, n_users):
    """Ingest arrivals: `batches` registration batches of `rows` events,
    one file each (`batchNNNNN.parquet`). Event ids and timestamps continue
    across batches, so batch order is time order."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    for b in range(batches):
        _write(os.path.join(out, f"batch{b:05d}.parquet"), _events(rng, b * rows, rows, n_users), rng)
