"""Seeded generator of the benchmark's input tables.

Writes the tables the workloads read, in the TESTDATA.md shapes, as one
parquet file each: `events` and `documents` (the Telegram generator's
sources, and q33 and q117) and `orders` and `lineitem` (q151). The same
seed and scale give the same files.

Timestamps are written as naive microsecond timestamps, the encoding the
engine's `Tables.normalizeTs` reads as TIMESTAMP_NTZ and DuckDB reads as
the same wall clock.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a fast slow big small key value row column table query data "
         "join scan filter sort merge hash agg group order window batch "
         "stream spark vector part line customer dup").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def build(sf, seed):
    """The tables at scale factor `sf` (TESTDATA.md row ratios)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(15, int(150_000 * sf)), max(10, int(10_000 * sf)),
                              max(20, int(20_000 * sf)))
    no = max(150, int(1_500_000 * sf))
    okeys = np.arange(1, no + 1, dtype="int64")
    odate = EPOCH_2024_US - rng.integers(0, 2400, no) * DAY_US
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, no).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(850, 500_000, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    lineitem = pa.table({
        "l_orderkey": np.repeat(okeys, per),
        "l_partkey": rng.integers(1, n_part + 1, nl).astype("int64"),
        "l_suppkey": rng.integers(1, n_supp + 1, nl).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per]).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, nl) * DAY_US)})
    ne = max(100, int(1_000_000 * sf))
    events = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, max(15, ne // 650), ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.5, 200.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = max(500, int(50_000 * sf))
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in rng.integers(8, 80, nd)]
    documents = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    return {"orders": orders, "lineitem": lineitem, "events": events, "documents": documents}


def write(out_dir, sf, seed, names):
    """Write the named tables to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build(sf, seed)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
