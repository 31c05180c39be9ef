"""Seeded input generator for the benchmark.

Writes the engine's source tables (TPC-H-shaped star schema, an event
stream, a document corpus and an embedding table) as parquet, with the
column types and value domains the query registry reads. The same seed
and scale always give the same bytes.

For the medallion_refresh workload it also writes a day-1 / day-2 pair:
day-1 holds back the most recent slice of orders (and the lineitems and
payments that hang off them) and carries the old names of a seeded set
of customers; day-2 is the full set, so the refresh sees new orders and
changed customer emails. `check_*` assert the invariants a replica must
hold before anything is measured on it.
"""
import datetime as _dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, n_days + 1, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def sizes(sf):
    """Row counts at scale factor `sf` (sf=0.01 → 15k orders)."""
    return {
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "lineitem": max(600, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "users": max(5, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def make_tables(seed, sf):
    """All source tables as pyarrow Tables, fully determined by the seed."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    keys = np.arange(np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                               rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, no),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, nl),
                               pa.timestamp("us"))})
    ne = n["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # ~5% of documents re-post an earlier one with a " dup" suffix:
        # the near-duplicate structure the dedup operators look for
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src + ["dup"] * int(rng.integers(1, 3))))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def split_days(tables, seed, holdback=0.05, renamed=0.03):
    """(day1, day2, delta): day-2 is `tables`; day-1 lacks the latest
    `holdback` share of orders (by order date, ties broken by key) with
    their lineitems, and shows the pre-change name (hence email) of a
    seeded `renamed` share of customers. `delta` holds exactly the rows
    day-2 adds or changes."""
    rng = np.random.default_rng(seed + 1)
    orders = tables["orders"]
    no = orders.num_rows
    k = max(1, int(no * holdback))
    dates = orders["o_orderdate"].to_numpy().astype("int64")
    keys = orders["o_orderkey"].to_numpy()
    order = np.lexsort((keys, dates))
    held = np.zeros(no, bool)
    held[order[-k:]] = True
    li = tables["lineitem"]
    li_held = np.isin(li["l_orderkey"].to_numpy(), keys[held])
    cust = tables["customer"]
    nc = cust.num_rows
    changed = np.zeros(nc, bool)
    changed[rng.choice(nc, max(1, int(nc * renamed)), replace=False)] = True
    day2_names = cust["c_name"].to_pylist()
    # the adapter derives first/last name and email from c_name, so a
    # day-2 name change is a day-2 email change
    day2_names = [f"{x}r" if c else x for x, c in zip(day2_names, changed)]
    day2 = dict(tables)
    day2["customer"] = cust.set_column(1, "c_name", pa.array(day2_names))
    day1 = dict(tables)
    day1["orders"] = orders.filter(pa.array(~held))
    day1["lineitem"] = li.filter(pa.array(~li_held))
    delta = {
        "orders": orders.filter(pa.array(held)),
        "lineitem": li.filter(pa.array(li_held)),
        "customer": day2["customer"].filter(pa.array(changed)),
    }
    return day1, day2, delta


def write_dir(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def _col(tab, c):
    return tab[c].to_numpy()


def _unique(tab, c):
    v = _col(tab, c)
    assert len(np.unique(v)) == len(v), f"{c} is not unique"


def _resolves(child, c, parent, p):
    missing = np.setdiff1d(_col(child, c), _col(parent, p))
    assert missing.size == 0, f"{c} has {missing.size} keys missing from {p}"


def check_tables(t):
    """Fact and dimension keys unique; every foreign key resolves."""
    for tab, c in [("customer", "c_custkey"), ("supplier", "s_suppkey"),
                   ("part", "p_partkey"), ("orders", "o_orderkey"),
                   ("events", "event_id"), ("documents", "doc_id"),
                   ("embeddings", "vec_id"), ("nation", "n_nationkey"),
                   ("region", "r_regionkey")]:
        _unique(t[tab], c)
    _resolves(t["orders"], "o_custkey", t["customer"], "c_custkey")
    _resolves(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey")
    _resolves(t["lineitem"], "l_partkey", t["part"], "p_partkey")
    _resolves(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey")
    _resolves(t["customer"], "c_nationkey", t["nation"], "n_nationkey")
    _resolves(t["supplier"], "s_nationkey", t["nation"], "n_nationkey")
    _resolves(t["nation"], "n_regionkey", t["region"], "r_regionkey")


def check_days(day1, day2, delta):
    """Day-2 adds only the seeded slice: its orders and lineitems are
    day-1's plus exactly `delta`, every other table is unchanged except
    the renamed customers, and no held-back order predates a kept one."""
    check_tables(day1)
    check_tables(day2)
    for tab, key in [("orders", "o_orderkey")]:
        k1, k2, kd = (_col(x[tab], key) for x in (day1, day2, delta))
        assert np.intersect1d(k1, kd).size == 0, "delta overlaps day-1"
        assert np.array_equal(np.sort(np.concatenate([k1, kd])), np.sort(k2)), \
            "day-2 orders are not day-1 plus the held-back slice"
    assert day1["lineitem"].num_rows + delta["lineitem"].num_rows == \
        day2["lineitem"].num_rows, "day-2 lineitems are not day-1 plus the slice"
    assert _col(day1["orders"], "o_orderdate").max() <= \
        _col(delta["orders"], "o_orderdate").min(), "held-back slice is not the latest"
    n1, n2 = day1["customer"]["c_name"].to_pylist(), day2["customer"]["c_name"].to_pylist()
    changed = {i for i, (a, b) in enumerate(zip(n1, n2)) if a != b}
    assert {int(k) for k in _col(delta["customer"], "c_custkey")} == changed, \
        "day-2 changes customers outside the seeded set"
    for tab in TABLES:
        if tab not in ("orders", "lineitem", "customer"):
            assert day1[tab].equals(day2[tab]), f"{tab} differs between days"


def main(argv):
    """gen.py <out_dir> <seed> <sf> [--days]: write (and check) inputs."""
    out, seed, sf = argv[0], int(argv[1]), float(argv[2])
    tables = make_tables(seed, sf)
    check_tables(tables)
    if "--days" in argv:
        day1, day2, delta = split_days(tables, seed)
        check_days(day1, day2, delta)
        for name, t in [("day1", day1), ("day2", day2), ("delta", delta)]:
            write_dir(t, os.path.join(out, name))
    else:
        write_dir(tables, out)
    print(json.dumps({"out": out, "bytes": dir_bytes(out)}))


if __name__ == "__main__":
    main(sys.argv[1:])
