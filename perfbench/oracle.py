"""DuckDB answers for the registry's oracle SQL, with a cache.

Each answer is the digest of the oracle's rows under the canonical text
of `harness/Canon.scala` (columns ordered by name, doubles by their bits,
timestamps in microseconds), so the engine's collected rows and the
oracle's rows are compared exactly, as `tools/crosscheck.py` does.

Answers are cached under `.bench_cache/oracle/`, one file per key of
(scale factor, data seed, generator hash, SQL hash, DuckDB version).

    python3 perfbench/oracle.py --rebuild   # recompute every cached answer
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import struct
import tempfile

import duckdb

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(os.path.dirname(HERE), ".bench_cache", "oracle")
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return "fNaN" if math.isnan(v) else "f" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            d = v - EPOCH
        else:
            d = v - EPOCH_UTC
        return "t%d" % (d // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - EPOCH.date()).days
    if isinstance(v, decimal.Decimal):
        return "n" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in v.items()) + "}"
    return "o" + str(v)


def lines(names, rows):
    perm = sorted(range(len(names)), key=lambda i: names[i])
    yield "|".join(names[i] for i in perm)
    for r in rows:
        yield "|".join(canon(r[i]) for i in perm)


def digest(names, rows):
    h = hashlib.sha256()
    for line in lines(names, rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _gen_hash():
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def key(sf, seed, sql):
    k = json.dumps([sf, seed, _gen_hash(), hashlib.sha256(sql.encode()).hexdigest(),
                    duckdb.__version__])
    return hashlib.sha256(k.encode()).hexdigest()[:32]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _answer(con, sql):
    rows = con.execute(sql).fetchall()
    names = [d[0] for d in con.description]
    return {"digest": digest(names, rows), "rows": len(rows),
            "sample": list(lines(names, rows[:5]))}


def answers(data_dir, sf, seed, oracle_sql, rebuild=False):
    """name -> {digest, rows, sample} for every name in `oracle_sql`,
    from the cache where present."""
    os.makedirs(CACHE, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(CACHE, key(sf, seed, sql) + ".json")
        if not rebuild and os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)["answer"]
            continue
        if con is None:
            con = _connect(data_dir)
        out[name] = _answer(con, sql)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"sf": sf, "seed": seed, "name": name, "sql": sql,
                       "duckdb": duckdb.__version__, "answer": out[name]}, fh)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def rebuild():
    """Recomputes every cached answer from freshly generated data."""
    entries = []
    for p in glob.glob(os.path.join(CACHE, "*.json")):
        with open(p) as fh:
            entries.append(json.load(fh))
        os.remove(p)
    by_data = {}
    for e in entries:
        by_data.setdefault((e["sf"], e["seed"]), {})[e["name"]] = e["sql"]
    for (sf, seed), sqls in sorted(by_data.items()):
        with tempfile.TemporaryDirectory(dir=os.path.dirname(CACHE)) as d:
            datagen.write(d, seed, sf)
            answers(d, sf, seed, sqls, rebuild=True)
    print(f"rebuilt {len(entries)} answers over {len(by_data)} data sets")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true", required=True)
    ap.parse_args()
    rebuild()
