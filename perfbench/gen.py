#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes one star schema (the ten parquet tables graft's `Tables` reads)
at a scale factor, plus the ETL source files the `etl_star_load`
workload extracts:

  inventory/YYYY/MM/snapshot_YYYYMMDD.csv  -- date only in the object key
  events_dump/part-*.json                  -- Kafka-style {key, value} lines

Same (seed, sf) -> byte-identical files.  The schema and distributions
follow tools/gen_sf.py (which is pinned to seed 42); this copy takes the
seed as an argument and builds every column with vectorised numpy /
pyarrow so an sf0.1 schema takes seconds.

Usage: python3 perfbench/gen.py <sf> <seed> <outdir> [--etl]
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
US = np.timedelta64(1, "us")
DAY = np.timedelta64(1, "D")


def pick(words, idx):
    """String column of words[idx] without a per-row Python loop."""
    return pc.take(pa.array(words), pa.array(idx))


def numbered(prefix, n, width):
    return pa.array(np.char.add(prefix, np.char.zfill(
        np.arange(n).astype(str), width)))


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def star(sf, rng, out):
    rel = sf / 0.1
    n_cust, n_part, n_supp = int(15000 * rel), int(20000 * rel), int(1000 * rel)
    n_ord, n_evt, n_user = int(150000 * rel), int(100000 * rel), int(1500 * rel)
    n_doc, n_emb = int(5000 * rel), int(2000 * rel)
    tables = {}
    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": numbered("Customer#", n_cust, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pick(segs, rng.integers(0, 5, n_cust))}
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": numbered("Supplier#", n_supp, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}
    adj = ["large", "hot", "blue", "small", "dim", "cold", "red", "green"]
    noun = ["ring", "bolt", "gear", "cog", "pin", "rod", "cap", "nut"]
    pnames = [f"{a} {b}" for a in adj for b in noun]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    brands = [f"Brand#{b + 1}" for b in range(25)]
    pk = np.arange(n_part)
    tables["part"] = {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pick(pnames, rng.integers(0, 64, n_part)),
        "p_brand": pick(brands, rng.integers(0, 25, n_part)),
        "p_type": pick(types, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    base = np.datetime64("1995-01-01")
    odays = rng.integers(0, 2405, n_ord)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["O", "P", "F"], rng.integers(0, 3, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": ts_us(base + odays * DAY),
        "o_orderpriority": pick(prio, rng.integers(0, 5, n_ord))}
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    tables["lineitem"] = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(["N", "A", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": pick(["O", "F"], rng.integers(0, 2, n_li)),
        "l_shipdate": ts_us(base + (np.repeat(odays, per)
                                    + rng.integers(1, 96, n_li)) * DAY)}
    etypes = ["view", "click", "purchase", "signup", "error"]
    ebase = np.datetime64("2024-01-01T00:00:00.000000")
    ets = np.sort(rng.integers(0, 30 * 86400_000_000, n_evt))
    props = pick([f'{{"k": {k}}}' for k in range(100)],
                 rng.integers(0, 100, n_evt))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ebase + ets * US, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pick(etypes, rng.integers(0, 5, n_evt)),
        "value": np.round(np.minimum(rng.exponential(60, n_evt), 600), 2),
        "props": props}
    vocab = ("spark line column order small sort fast value scan batch part "
             "vector query agg table hash the a join merge group filter big "
             "slow stream key customer").split()
    nw = rng.integers(8, 111, n_doc)
    words = np.array(vocab)[rng.integers(0, len(vocab), int(nw.sum()))]
    cuts = np.cumsum(nw)[:-1]
    docs = [" ".join(w) for w in np.split(words, cuts)]
    for i in rng.integers(n_doc // 2, n_doc, max(1, n_doc // 500)):
        docs[i] = docs[i - n_doc // 2]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": pick(["en", "zh", "fr", "es", "de"],
                     rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])),
        "source": pick([f"src{i}" for i in range(20)], np.arange(n_doc) % 20),
        "n_chars": pa.array([len(d) for d in docs], pa.int64())}
    emb = rng.normal(0, 1, (n_emb, 64))
    for i in rng.integers(n_emb // 2, n_emb, max(1, n_emb // 100)):
        emb[i] = emb[i - n_emb // 2] + rng.normal(0, 0.01, 64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}
    for name in TABLES:
        pq.write_table(pa.table(tables[name]), os.path.join(out, name + ".parquet"))
    return tables


def etl_sources(tables, rng, out):
    """Inventory snapshot CSVs keyed by date + a JSON-lines event dump."""
    li = tables["lineitem"]
    n_part = len(tables["part"]["p_partkey"])
    days = np.arange(np.datetime64("2024-01-01"), np.datetime64("2024-07-01"))
    n_rows = max(50, len(li["l_orderkey"]) // (4 * len(days)))
    for d in days:
        y, m = str(d)[:4], str(d)[5:7]
        sub = os.path.join(out, "inventory", y, m)
        os.makedirs(sub, exist_ok=True)
        pids = rng.integers(0, n_part, n_rows)
        wh = rng.integers(1, 4, n_rows)
        units = rng.integers(0, 500, n_rows)
        with open(os.path.join(sub, f"snapshot_{str(d).replace('-', '')}.csv"),
                  "w") as f:
            f.write("product_id,warehouse_id,stock_units\n")
            f.write("".join(f"{p},wh-{w:02d},{u}\n"
                            for p, w, u in zip(pids, wh, units)))
    n_evt = len(tables["events"]["event_id"])
    n_cust = len(tables["customer"]["c_custkey"])
    ebase = np.datetime64("2024-01-01T00:00:00")
    secs = np.sort(rng.integers(0, 180 * 86400, n_evt))
    stamps = np.char.add(np.datetime_as_string(
        ebase + secs * np.timedelta64(1, "s")), "Z")
    cust = rng.integers(0, n_cust, n_evt)
    prod = rng.integers(0, n_part, n_evt)
    qty = rng.integers(1, 10, n_evt)
    price = np.round(rng.uniform(1, 500, n_evt), 2)
    os.makedirs(os.path.join(out, "events_dump"), exist_ok=True)
    for part, idx in enumerate(np.array_split(np.arange(n_evt), 4)):
        with open(os.path.join(out, "events_dump", f"part-{part}.json"), "w") as f:
            for i in idx:
                value = json.dumps({
                    "event_id": f"e{i:09d}", "ts": stamps[i],
                    "customer_id": int(cust[i]), "product_id": int(prod[i]),
                    "qty": int(qty[i]), "unit_price": float(price[i])})
                f.write(json.dumps({"key": f"e{i:09d}", "value": value}) + "\n")


def tree_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def generate(sf, seed, out, etl=False):
    """Write the inputs into `out` once; return the manifest dict."""
    manifest_path = os.path.join(out, "inputs.json")
    if os.path.exists(manifest_path):
        return json.load(open(manifest_path))
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = star(sf, rng, tmp)
    if etl:
        etl_sources(tables, rng, tmp)
    manifest = {"sf": sf, "seed": seed, "etl": etl, "input_bytes": tree_bytes(tmp)}
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, out)
    return manifest


if __name__ == "__main__":
    a = sys.argv[1:]
    print(generate(float(a[0]), int(a[1]), a[2], "--etl" in a))
