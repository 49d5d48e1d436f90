"""Seeded input tables for the benchmark.

Writes the eight tables (region, nation, customer, supplier, part,
orders, lineitem, events) as single parquet files with the same column
names, types and value ranges as the repository's fixture tables,
scaled by `sf` (sf=0.01 gives 60,000 lineitem rows). The same (kind,
seed, size) always gives the same bytes. A directory is
reused only when its `_SUCCESS` marker exists, so a crashed write is
never read back.

`skew=True` shapes `events` as a rotated access log instead: user ids
follow a power law and timestamps advance at a bounded rate (a few
events per second), so several lines share each second and no two
distinct lines collide on the streaming dedup key.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "gear", "bolt", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def events_table(rng, n_events, n_users, skew):
    ids = np.arange(n_events, dtype=np.int64)
    if skew:
        # about 4 events per second: lines share seconds (the
        # watermark boundary case), while ids 6,400 apart (the period
        # of the dedup key's id-derived parts) are ~half an hour apart
        gaps = rng.integers(0, 500_001, n_events)
        offs = np.cumsum(gaps)
        users = np.minimum((n_users * rng.power(0.35, n_events)).astype(np.int64),
                           n_users - 1)
        etype = _choice(rng, EVENT_TYPES, n_events, p=[0.3, 0.05, 0.1, 0.05, 0.5])
    else:
        offs = np.sort(rng.integers(0, 30 * DAY_US, n_events))
        users = rng.integers(0, n_users, n_events)
        etype = _choice(rng, EVENT_TYPES, n_events)
    value = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    ks = rng.integers(0, 100, n_events)
    props = pa.array([f'{{"k": {k}}}' for k in ks.tolist()], type=pa.string())
    return pa.table({
        "event_id": pa.array(ids),
        "ts": _ts("2024-01-01", offs),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": etype,
        "value": pa.array(value),
        "props": props,
    })


def tpch_tables(rng, sf):
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_line, n_users = 4 * n_ord, max(1, int(15_000 * sf))
    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
    }
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], type=pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * DAY_US)})
    out["events"] = events_table(rng, int(1_000_000 * sf), n_users, skew=False)
    return out


def ensure(root, kind, seed, size):
    """Return the input directory for (kind, seed, size), writing it once.

    kind "tpch": the eight tables at scale factor `size`.
    kind "etl":  only `events.parquet`, `size` access-log events.
    """
    tag = f"{kind}-seed{seed}-n{size}"
    path = os.path.join(root, tag)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng([seed, sum(map(ord, kind))])
    if kind == "tpch":
        tables = tpch_tables(rng, float(size))
    else:
        n = int(size)
        tables = {"events": events_table(rng, n, max(16, n // 40), skew=True)}
    shares = {}
    for name, t in tables.items():
        p = os.path.join(path, f"{name}.parquet")
        pq.write_table(t, p)
        shares[name] = {"rows": t.num_rows, "bytes": os.path.getsize(p)}
    with open(os.path.join(path, "tables.json"), "w") as f:
        json.dump(shares, f, sort_keys=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def evict(root, keep):
    """Delete all but the `keep` most recently used input directories."""
    if not os.path.isdir(root):
        return
    dirs = sorted((os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root))
    for _, d in dirs[:-keep] if keep else dirs:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
