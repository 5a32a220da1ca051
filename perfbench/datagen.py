"""Seeded generator of the parquet tables the registry queries read.

The tables follow the schemas and value domains of the engine's test
fixtures (FIXTURES.md): a TPC-H-shaped star schema plus the `documents`
text table of the curation queries. Row counts scale with `sf` the way
the fixtures do (lineitem = 6,000,000 x sf). The same (seed, sf) always
gives byte-identical files.

    python3 perfbench/datagen.py <out_dir> --seed 7 --sf 0.01
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1970-01-01", "D")
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass",
          "tin", "copper", "pale"]
NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring",
         "plate"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _days(lo, hi, n, rng):
    """n uniform dates in [lo, hi] as parquet timestamp[ms] values."""
    a = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * 86_400_000,
                    type=pa.timestamp("ms"))


def _money(lo, hi, n, rng):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n)
                    / 100.0, 2)


def _choice(values, n, rng):
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)].tolist(), type=pa.string())


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _choice(SEGMENTS, n_cust, rng)})
    color = rng.integers(0, len(COLORS), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in zip(color, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(TYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0,
                                  2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _choice(PRIORITIES, n_ord, rng)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(["A", "N", "R"], n_line, rng),
        "l_linestatus": _choice(["F", "O"], n_line, rng),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})
    t["documents"] = _documents(n_docs, rng)
    return t


def _documents(n, rng):
    """Pseudo-word documents with planted exact and near duplicates, so
    the dedup and similarity queries have clusters to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": _choice(LANGS, n, rng),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables(seed, sf).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
