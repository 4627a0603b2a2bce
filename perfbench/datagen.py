"""Seeded input generators for the benchmark workloads.

The tables follow the column names, types and value envelopes of the
synthetic TPC-H-like star schema the registry queries and their DuckDB
oracles are written against (dense 0-based keys, uniform draws, doubles for
money, a 30-word document vocabulary with appended-" dup" near-duplicates,
and a 30-day event stream). Only the values depend on the seed: row counts,
key ranges and file layout are fixed, so every seed asks the engine for the
same amount of work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
ORDERSTATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PART_ADJ = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
PART_NOUN = np.array(
    ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
)
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = np.array(
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the".split()
)
LANGS = np.array(["de", "en", "es", "fr", "zh"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

SHIP_LO = np.datetime64("1995-01-02")
SHIP_DAYS = 2499
ORDER_LO = np.datetime64("1995-01-01")
ORDER_DAYS = 2399
EVENTS_LO = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 1_000_000

# Row counts of the registry tables: the sf0.01 shape. Registry queries at
# this size are dominated by per-job and per-stage cost, which is what the
# operator work in the roadmap (fewer jobs per loop round, one similarity
# join) changes.
REGISTRY_SIZES = {
    "orders": 15_000,
    "lineitem": 60_000,
    "part": 2_000,
    "customer": 1_500,
    "supplier": 100,
    "documents": 500,
    "events": 10_000,
    "event_users": 150,
}

# Key ranges of the sf0.1 lineitem that onboarding slices and feed batches
# are drawn from.
SF01_ORDERS = 150_000
SF01_PARTS = 20_000
SF01_SUPPLIERS = 1_000


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so inputs made for one
    op never depend on how many ops ran before it."""
    return np.random.default_rng([seed, *stream])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_columns(
    rng: np.random.Generator,
    n: int,
    n_orders: int,
    n_parts: int,
    n_suppliers: int,
) -> dict[str, np.ndarray]:
    """lineitem rows as numpy columns (shipdate as datetime64[D])."""
    return {
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURNFLAGS[rng.integers(0, 3, n)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, n)],
        "l_shipdate": SHIP_LO + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]"),
    }


def _table(cols: dict[str, np.ndarray], ts_cols: tuple[str, ...] = ()) -> pa.Table:
    arrays = {}
    for name, values in cols.items():
        if name in ts_cols:
            arrays[name] = pa.array(values.astype("datetime64[us]"))
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate: an earlier document with " dup" appended
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """Every table the registry_mix queries read, at REGISTRY_SIZES."""
    s = REGISTRY_SIZES
    rng = rng_for(seed, 0)
    n_o, n_p, n_c, n_s = s["orders"], s["part"], s["customer"], s["supplier"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_c)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": pa.array(np.char.add(
                np.char.add(PART_ADJ[rng.integers(0, 8, n_p)], " "),
                PART_NOUN[rng.integers(0, 8, n_p)],
            )),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str))
            ),
            "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_p)]),
            "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)
            ),
        }),
        "orders": _table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
            "o_orderstatus": ORDERSTATUS[rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
            "o_orderdate": ORDER_LO
            + rng.integers(0, ORDER_DAYS, n_o).astype("timedelta64[D]"),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_o)],
        }, ts_cols=("o_orderdate",)),
        "lineitem": _table(
            lineitem_columns(rng, s["lineitem"], n_o, n_p, n_s),
            ts_cols=("l_shipdate",),
        ),
        "documents": _documents(rng, s["documents"]),
    }
    n_e = s["events"]
    ts = EVENTS_LO + np.sort(rng.integers(0, EVENTS_SPAN_US, n_e)).astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, s["event_users"], n_e, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_e)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    return tables


def write_registry_tables(seed: int, out_dir: str) -> int:
    """Land the registry tables as ``<out_dir>/<name>.parquet`` (one row
    group each, as the queries' partitioning logic expects). Returns the
    total input row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows


def onboard_slice(seed: int, op: int, n_rows: int) -> pa.Table:
    """One source to onboard: ``n_rows`` of sf0.1 lineitem, quantity as an
    integer and shipdate as an ISO date, the way a CSV export carries them."""
    cols = lineitem_columns(
        rng_for(seed, 1, op), n_rows, SF01_ORDERS, SF01_PARTS, SF01_SUPPLIERS
    )
    cols["l_quantity"] = cols["l_quantity"].astype(np.int64)
    cols["l_shipdate"] = cols["l_shipdate"].astype(str)
    return pa.table(cols)


def write_csv(table: pa.Table, path: str) -> int:
    """Write ``table`` as a headed CSV under a temporary name, then rename it
    into place so no reader sees a partial file. Returns its size."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pacsv.write_csv(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def feed_batch(seed: int, batch: int, n_rows: int) -> bytes:
    """One incremental batch as JSON lines. (l_orderkey, l_linenumber) is
    unique across every batch of a run, so duplicates after ingest can only
    come from the ingest path."""
    cols = lineitem_columns(
        rng_for(seed, 2, batch), n_rows, SF01_ORDERS, SF01_PARTS, SF01_SUPPLIERS
    )
    idx = np.arange(n_rows, dtype=np.int64)
    cols["l_orderkey"] = batch * 1_000_000 + idx // 4
    cols["l_linenumber"] = (idx % 4 + 1).astype(np.int32)
    cols["l_shipdate"] = cols["l_shipdate"].astype(str)
    names = list(cols)
    lists = [cols[c].tolist() for c in names]
    lines = [json.dumps(dict(zip(names, row))) for row in zip(*lists)]
    return ("\n".join(lines) + "\n").encode()


def land_bytes(data: bytes, path: str) -> None:
    """Atomic landing: temp name (hidden from Spark's file listing), then
    rename."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)
