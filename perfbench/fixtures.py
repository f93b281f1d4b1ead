"""Seeded generator of the engine's ten fixture tables.

Writes one parquet file per table (``<dir>/<name>.parquet``) with the
schemas of the repository's FIXTURES.md: a TPC-H-like star schema, an
``events`` stream table, and the ``documents``/``embeddings`` tables of
the text and similarity operators. Value domains follow those fixtures
(date ranges, categorical vocabularies, 64-dim unit embeddings clustered
by label, documents drawn from a 30-word vocabulary with 5 % near
duplicates), so every query finds matching rows. The same seed writes
the same tables. The benchmark writes them with the fixed ``SEED``, so
every run does the same query work; a run's own seed orders its queries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# Row counts of the repository's sf0.01 fixtures.
SIZES = dict(customers=1500, suppliers=100, parts=2000, orders=15000,
             events=10000, documents=500, embeddings=500)
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(base, rng, span, n):
    return np.datetime64(base, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def tables(seed):
    s = SIZES
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    n = s["customers"]
    t["customer"] = {"c_custkey": np.arange(n, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n),
                     "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                                 "FURNITURE", "BUILDING"], n)}
    n = s["suppliers"]
    t["supplier"] = {"s_suppkey": np.arange(n, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n)}
    n = s["parts"]
    t["part"] = {"p_partkey": np.arange(n, dtype=np.int64),
                 "p_name": [a + " " + b for a, b in zip(
                     _pick(rng, ["small", "red", "blue", "large", "green", "steel"], n),
                     _pick(rng, ["ring", "widget", "bolt", "gear", "plate", "valve"], n))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
                 "p_type": _pick(rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                       "MEDIUM", "PROMO"], n),
                 "p_size": rng.integers(1, 51, n).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)}
    n = s["orders"]
    cust = rng.integers(0, s["customers"], n)
    cust = np.where(cust % 3 == 0, (cust + 1) % s["customers"], cust)  # a third never order
    t["orders"] = {"o_orderkey": np.arange(n, dtype=np.int64),
                   "o_custkey": cust.astype(np.int64),
                   "o_orderstatus": _pick(rng, ["P", "O", "F"], n),
                   "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                   "o_orderdate": _days("1995-01-01", rng, 2404, n),
                   "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n)}
    per_order = rng.integers(1, 8, n)  # one to seven lines, four on average
    okey = np.repeat(np.arange(n, dtype=np.int64), per_order)
    m = len(okey)
    t["lineitem"] = {"l_orderkey": okey,
                     "l_partkey": rng.integers(0, s["parts"], m).astype(np.int64),
                     "l_suppkey": rng.integers(0, s["suppliers"], m).astype(np.int64),
                     "l_linenumber": np.concatenate(
                         [np.arange(1, k + 1) for k in per_order]).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                     "l_extendedprice": _money(rng, 900.0, 105000.0, m),
                     "l_discount": rng.integers(0, 11, m) / 100.0,
                     "l_tax": rng.integers(0, 9, m) / 100.0,
                     "l_returnflag": _pick(rng, ["A", "N", "R"], m),
                     "l_linestatus": _pick(rng, ["F", "O"], m),
                     "l_shipdate": _days("1995-01-02", rng, 2498, m)}
    n = s["events"]
    step = 30 * 86400 * 1_000_000 // n  # one event per step over 30 days, jittered
    ts = np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    t["events"] = {"event_id": np.arange(n, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                   "user_id": rng.integers(0, min(s["customers"], 1500), n).astype(np.int64),
                   "event_type": _pick(rng, ["click", "signup", "error", "view", "purchase"], n),
                   "value": np.round(rng.random(n) * rng.random(n) * 490.0 + 0.01, 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    # every 20th document repeats its predecessor (first word redrawn in
    # long ones) plus a `dup` tag: the near duplicates, Jaccard >= 0.8
    # over word shingles, that the dedup operators find
    n = s["documents"]
    texts = []
    for i in range(n):
        if i % 20 == 19:
            words = texts[-1].split(" ")
            if len(words) >= 40:
                words[0] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
                      "lang": _pick(rng, ["en", "en", "en", "zh", "de", "es", "fr"], n),
                      "source": [f"src{i % 20}" for i in range(n)],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    # unit vectors scattered around ten label centroids
    n = s["embeddings"]
    centroids = rng.random((10, 64)) - 0.5
    label = rng.integers(0, 10, n)
    v = centroids[label] + (rng.random((n, 64)) - 0.5) * 0.8
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(n, dtype=np.int64),
                       "embedding": pa.array(list(v), pa.list_(pa.float32())),
                       "label": label.astype(np.int32)}
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

