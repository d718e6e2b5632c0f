"""Seeded input generator for the benchmark.

Writes, for one seed, the ten relational/curation tables the engine's
queries read (same names, column names and parquet types as the
engine's reference testdata), the live parquet fragments the lambda
batch job reads, and the edge list of the fixpoint graph. The same seed
always gives byte-identical inputs; nothing here is timed.

Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value agg column a big vector").split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PART_ADJ = ["red", "small", "hot", "old", "large", "cold", "blue", "green"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "cap"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WEATHER = ["Clear", "Clouds", "Rain", "Snow", "Drizzle", "Thunderstorm", "Mist"]


def write(df_cols, schema, path):
    pq.write_table(pa.Table.from_pydict(df_cols, schema=schema), path)


def days(start, n):
    base = np.datetime64(start, "us")
    return base + n.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, rng, sf):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    write({"r_regionkey": np.arange(5, dtype=np.int32),
           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", i32), ("r_name", s)]), f"{out}/region.parquet")
    write({"n_nationkey": np.arange(25, dtype=np.int32),
           "n_name": [f"NATION_{i}" for i in range(25)],
           "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
          f"{out}/nation.parquet")
    write({"c_custkey": np.arange(n_cust, dtype=np.int64),
           "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
           "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
           "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
           "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
          pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)]), f"{out}/customer.parquet")
    write({"s_suppkey": np.arange(n_supp, dtype=np.int64),
           "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
           "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
           "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
          pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                     ("s_acctbal", f64)]), f"{out}/supplier.parquet")
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)
    write({"p_partkey": np.arange(n_part, dtype=np.int64),
           "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                  rng.choice(PART_NOUN, n_part))],
           "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
           "p_type": rng.choice(PART_TYPES, n_part),
           "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
           "p_retailprice": price},
          pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                     ("p_size", i32), ("p_retailprice", f64)]), f"{out}/part.parquet")
    odate = days("1995-01-01", rng.integers(0, 2404, n_ord))
    write({"o_orderkey": np.arange(n_ord, dtype=np.int64),
           "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
           "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
           "o_totalprice": money(rng, 1000, 500000, n_ord),
           "o_orderdate": odate,
           "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
          pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                     ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]),
          f"{out}/orders.parquet")
    # every order gets 1..7 lines, so lineitem joins back to orders exactly
    lines = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lkey)
    pkey = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write({"l_orderkey": lkey,
           "l_partkey": pkey,
           "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
           "l_linenumber": lnum,
           "l_quantity": qty,
           "l_extendedprice": np.round(qty * price[pkey], 2),
           "l_discount": rng.integers(0, 11, n_li) / 100.0,
           "l_tax": rng.integers(0, 9, n_li) / 100.0,
           "l_returnflag": rng.choice(["R", "A", "N"], n_li),
           "l_linestatus": rng.choice(["O", "F"], n_li),
           "l_shipdate": odate[lkey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")},
          pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)]), f"{out}/lineitem.parquet")
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    write({"event_id": np.arange(n_ev, dtype=np.int64),
           "ts": ev_ts,
           "user_id": rng.integers(0, max(150, n_cust), n_ev, dtype=np.int64),
           "event_type": rng.choice(EVENT_TYPES, n_ev),
           "value": money(rng, 0.01, 490.0, n_ev),
           "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
          pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                     ("value", f64), ("props", s)]), f"{out}/events.parquet")
    # documents: random word sequences; every tenth one is a near-copy
    # (two words replaced) of an original a few places before it, so the
    # dedup and clustering operators find real pairs. Lengths and copy
    # structure depend on the position only, so every seed gives the
    # operators the same amount of work.
    texts = []
    for i in range(n_doc):
        if i % 10 == 9:
            words = texts[i - 1 - (i // 10) % 7].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, 8 + (i * 37) % 83))
        texts.append(" ".join(words))
    write({"doc_id": np.arange(n_doc, dtype=np.int64),
           "text": texts,
           "lang": rng.choice(LANGS, n_doc),
           "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
           "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
          pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                     ("n_chars", i64)]), f"{out}/documents.parquet")
    centers = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, n_vec).astype(np.int32)
    vecs = (centers[label] + rng.normal(0, 0.05, (n_vec, 64))).astype(np.float32)
    write({"vec_id": np.arange(n_vec, dtype=np.int64),
           "embedding": list(vecs),
           "label": label},
          pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                     ("label", i32)]), f"{out}/embeddings.parquet")


def live_feed(out, rng, rows, files):
    """Hourly weather readings split over `files` live parquet fragments."""
    os.makedirs(out, exist_ok=True)
    start = np.datetime64("2024-03-01", "us")
    per = rows // files
    for f in range(files):
        t = start + np.sort(rng.integers(0, 3 * 86400 * 10**6, per)).astype("timedelta64[us]")
        write({"timestamp": t,
               "temp": np.round(rng.normal(12, 6, per), 2),
               "humidity": rng.integers(20, 100, per, dtype=np.int32),
               "pressure": rng.integers(980, 1040, per, dtype=np.int32),
               "wind_speed": np.round(rng.gamma(2, 2, per), 2),
               "weather_main": rng.choice(WEATHER, per)},
              pa.schema([("timestamp", pa.timestamp("us")), ("temp", pa.float64()),
                         ("humidity", pa.int32()), ("pressure", pa.int32()),
                         ("wind_speed", pa.float64()), ("weather_main", pa.string())]),
              f"{out}/part-{f:03d}.parquet")


def graph(out, rng, vertices, edges, chains=16, chain_len=64):
    """A random graph (small diameter, one giant component) plus planted
    paths whose vertex ids rise along the path. The lowest label must
    travel a whole path, so every seed needs the same number of fixpoint
    rounds, set by `chain_len`."""
    a = rng.integers(0, vertices, edges, dtype=np.int64)
    b = rng.integers(0, vertices, edges, dtype=np.int64)
    perm = rng.permutation(vertices).astype(np.int64)
    a, b = perm[a], perm[b]
    ids = vertices + np.arange(chains * chain_len, dtype=np.int64).reshape(chains, chain_len)
    a = np.concatenate([a, ids[:, :-1].ravel()])
    b = np.concatenate([b, ids[:, 1:].ravel()])
    keep = a != b
    write({"a": a[keep], "b": b[keep]},
          pa.schema([("a", pa.int64()), ("b", pa.int64())]), f"{out}/edges.parquet")


def main(out, seed, scale):
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables(tmp, rng, scale)
    live_feed(f"{tmp}/live", np.random.default_rng(seed + 1), rows=40_000, files=8)
    graph(tmp, np.random.default_rng(seed + 2), vertices=5_000, edges=20_000)
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
