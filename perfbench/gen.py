"""Seeded input generators. The same seed gives byte-identical inputs.

- tables(): the ten parquet tables the registered queries read, with the
  schemas and value ranges the engine's loaders expect (TPC-H-like star
  schema, an events stream, short documents with ~5% near-duplicates, and
  64-d unit embeddings in ten labelled clusters).
- changelog(): a DepositService changelog (one JSON line per logged
  deposit) with wallets drawn Zipf(1.1) and ~1% re-logged idempotency keys.
"""
import datetime
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def _days(rng, n, lo, hi):
    """n midnight timestamps, uniform over [lo, hi] (dates)."""
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(out_dir, seed, sf):
    rng = np.random.default_rng(seed % 2**32)
    n_cust, n_supp, n_part = int(15000 * sf), max(10, int(1000 * sf)), int(20000 * sf)
    n_ord, n_line, n_ev = int(150000 * sf), int(600000 * sf), int(100000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2), f64)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([round(900 + (k % 1000) / 10, 2) for k in range(n_part)],
                                  f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)), pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") +
                       ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "fr", "es", "zh", "de"], n_doc,
                      p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name, tbl in t.items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")


def changelog(path, seed, n, wallets=10000, dup=0.01):
    """n logged deposits; ts_unix advances one second per ten records, so
    hot wallets cross 10,000 inside the 120 s detector window."""
    rnd = random.Random(seed)
    cum, acc = [], 0.0
    for k in range(1, wallets + 1):
        acc += k ** -1.1
        cum.append(acc)
    ranks = rnd.choices(range(wallets), cum_weights=cum, k=n)
    logged = []
    with open(path, "w", encoding="utf-8") as f:
        for seq in range(1, n + 1):
            if logged and rnd.random() < dup:
                wallet, amount, ts, idem = logged[rnd.randrange(len(logged))]
            else:
                wallet = f"w{ranks[seq - 1]:05d}"
                amount, ts, idem = float(rnd.randint(1, 4000)), 1700000000 + seq // 10, f"r{seq}"
                logged.append((wallet, amount, ts, idem))
            f.write(f'{{"wallet_id":"{wallet}","amount":{amount},"ts_unix":{ts},'
                    f'"seq":{seq},"idem":"{idem}"}}\n')
