"""Seeded input tables for the query_mix workload.

Writes the ten tables the registered queries read (TPC-H-like star schema,
an event stream, a document corpus and an embedding table) as parquet, with
the column names and types of the project's test data. The same (seed, sf)
always yields byte-identical tables.

Row counts per scale factor sf: customer 150000*sf, supplier 10000*sf,
part 20000*sf, orders 150000*sf, lineitem about 4 per order, events
1000000*sf, documents and embeddings 50000*sf.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream filter group big vector").split()
LANGS = ["en"] * 10 + ["de", "es", "fr", "zh"] * 2 + ["de", "es"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    """Word-salad documents over a small vocabulary (so trigram sets
    overlap), plus near-duplicates: every tenth document is a copy of an
    earlier one with a few words replaced, and every twenty-fifth repeats a
    long span of an earlier one."""
    texts = []
    for i in range(n):
        if i >= 20 and i % 10 == 0:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(src) // 20)):
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words = src
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
            if i >= 25 and i % 25 == 0:
                donor = texts[int(rng.integers(0, i))].split()
                words = words[: len(words) // 2] + donor[:40]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, classes=10):
    centres = rng.normal(0, 1, (classes, dim))
    labels = rng.integers(0, classes, n)
    vecs = centres[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(10, int(20000 * sf))
    n_ord = max(10, int(150000 * sf))
    n_ev = max(10, int(1000000 * sf))
    n_doc = max(10, int(50000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large", "green"], n_part),
            rng.choice(["ring", "widget", "bolt", "gear", "pipe"], n_part))]),
        "p_brand": pa.array([f"Brand#{int(i)}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})

    odate = EPOCH_1995 + rng.integers(0, 6 * 365 + 210, n_ord) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})

    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, n_li) * DAY_US)})

    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(40, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", documents(rng, n_doc))
    _write(out, "embeddings", embeddings(rng, n_doc))
