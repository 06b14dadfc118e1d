"""Seeded input data for the benchmark.

`make_base(dst, sf)` writes the ten fixture tables (same names, physical
schemas and value domains as the repo's sf fixtures) from a fixed
generator, so the interactive workload's data is identical for every seed.

`make_grown(base, dst, factor, seed, scale_up)` replicates the base with the repo's
own `scripts/scale_up.py --grow` (run read-only, as a subprocess) and then
applies the seed salt here: every grown replica i > 0 of `events` is
shifted by a (seed, i)-derived whole number of seconds below one day, and
of `lineitem` by a whole number of days below thirty. Replica 0 stays the
base. `documents` and `embeddings` are never salted, so the no-oracle
curation keys see the same corpus for every seed and their output
fingerprints can be pinned once (see pins.json).

Base tables are written as one row group, SNAPPY, without pandas metadata;
grown ones keep scale_up.py's layout. The same arguments always produce
byte-identical files.
"""
import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BASE_SEED = 42
US_PER_DAY = 86_400_000_000
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "valve", "spring", "nut"]


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(dst, name, table):
    pq.write_table(table.replace_schema_metadata(None),
                   os.path.join(dst, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def base_tables(sf):
    """The ten tables at scale factor `sf` as pyarrow Tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_doc = max(10, int(15_000 * sf)), max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    d95 = _epoch_us(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": _ts(d95 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * rng.integers(90_000, 210_000, n_line) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(d95 + (1 + rng.integers(0, 2499, n_line))
                          * US_PER_DAY)})
    ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * US_PER_DAY, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            w = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[j] for j in w))
    langs = np.array(["en", "en", "en", "fr", "zh", "de", "es"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32)),
            pa.array(v.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def make_base(dst, sf):
    os.makedirs(dst, exist_ok=True)
    for name, table in base_tables(sf).items():
        _write(dst, name, table)


SALT_UNITS = {"events": (86_400, 1_000_000), "lineitem": (30, US_PER_DAY)}


def salt_offset_us(seed, table, replica):
    """Time shift of grown replica `replica` of `table`, in microseconds."""
    count, unit = SALT_UNITS[table]
    h = hashlib.sha256(f"{seed}:{table}:{replica}".encode()).digest()
    return (int.from_bytes(h[:8], "little") % count) * unit


def _salt(path, table, col, replica_rows, seed):
    t = pq.read_table(path)
    n = t.num_rows
    off = np.zeros(n, dtype=np.int64)
    for i in range(1, n // replica_rows):
        off[i * replica_rows:(i + 1) * replica_rows] = \
            salt_offset_us(seed, table, i)
    us = pc.cast(t[col], pa.int64()).to_numpy() + off
    t = t.set_column(t.schema.get_field_index(col), col, _ts(us))
    # same row-group size as scale_up.py, so only the values change
    pq.write_table(t, path, row_group_size=256 * 1024)


def make_grown(base, dst, factor, seed, scale_up):
    """`factor`x grown replica of `base`, salted by `seed`."""
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, scale_up, base, tmp, str(factor),
                    "--grow"], check=True, stdout=subprocess.DEVNULL)
    for name, col in (("events", "ts"), ("lineitem", "l_shipdate")):
        rows = pq.ParquetFile(os.path.join(base, f"{name}.parquet")) \
            .metadata.num_rows
        _salt(os.path.join(tmp, f"{name}.parquet"), name, col, rows, seed)
    os.replace(tmp, dst)


def digest(d):
    """sha256 over every table file's bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
