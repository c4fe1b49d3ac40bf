"""Seeded synthetic inputs for the benchmark.

Writes the ten lakehouse tables the package reads (``region`` ...
``embeddings``) as one parquet file each, with the column names and
types of the test data the query registry was written against: the
TPC-H-shaped star schema, an ``events`` change log over January 2024,
a small-vocabulary ``documents`` corpus with planted near-duplicates
and unit-norm 64-d ``embeddings`` in ten weak clusters.

Row counts scale with ``sf`` the way that test data does (sf0.1 =
150k orders, 600k line items). The same ``(sf, seed)`` always writes
the same rows: every column comes from a ``numpy`` generator seeded
with the seed and the table name.

Usage: python3 perfbench/gen.py OUT_DIR --sf 0.1 --seed 1
"""

from __future__ import annotations

import argparse
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30

VOCAB = (
    "a the data spark table query scan join sort hash group agg filter window"
    " row column part order customer line key value stream batch merge vector"
    " fast slow big small"
).split()
WORDS = ("large hot blue old cold red small green").split()
THINGS = ("ring bolt plate gear widget screw nut spring").split()


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(day_offsets: np.ndarray) -> np.ndarray:
    return (ORDER_DAY0 + day_offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def build_tables(sf: float, seed: int, tables=ALL_TABLES) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_evt = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    out: dict[str, pa.Table] = {}
    want = set(tables)

    if "region" in want:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in want:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in want:
        r = _rng(seed, "customer")
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                r.integers(0, 5, n_cust)
            ],
        })
    if "supplier" in want:
        r = _rng(seed, "supplier")
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r.uniform(-999.99, 9999.99, n_supp)),
        })
    if "part" in want:
        r = _rng(seed, "part")
        keys = np.arange(n_part)
        names = np.array([f"{w} {t}" for w in WORDS for t in THINGS])
        out["part"] = pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": names[r.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
            "p_type": np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])[
                r.integers(0, 6, n_part)
            ],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(900.0 + (keys % 1000) * 0.1),
        })
    if "orders" in want or "lineitem" in want:
        r = _rng(seed, "orders")
        order_day = r.integers(0, ORDER_DAYS + 1, n_ord)
        if "orders" in want:
            out["orders"] = pa.table({
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
                "o_totalprice": _money(r.uniform(1000.0, 500_000.0, n_ord)),
                "o_orderdate": pa.array(_days(order_day), pa.timestamp("us")),
                "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    r.integers(0, 5, n_ord)
                ],
            })
        if "lineitem" in want:
            r = _rng(seed, "lineitem")
            per_order = r.integers(1, 8, n_ord)
            okey = np.repeat(np.arange(n_ord), per_order)
            n_li = len(okey)
            starts = np.cumsum(per_order) - per_order
            linenumber = np.arange(n_li) - np.repeat(starts, per_order) + 1
            out["lineitem"] = pa.table({
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(linenumber, pa.int32()),
                "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(r.uniform(900.0, 105_000.0, n_li)),
                "l_discount": r.integers(0, 11, n_li) / 100.0,
                "l_tax": r.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
                "l_shipdate": pa.array(
                    _days(np.repeat(order_day, per_order) + r.integers(1, 122, n_li)), pa.timestamp("us")
                ),
            })
    if "events" in want:
        r = _rng(seed, "events")
        span_us = EVENT_DAYS * 86_400_000_000
        offs = np.sort(r.integers(0, span_us, n_evt))
        # the user pool grows over the month, so every day of the change
        # log brings first-seen users (SCD inserts) and new event types
        # for known users (SCD interval closes)
        reach = 0.2 + 0.8 * offs / span_us
        users = np.floor(r.random(n_evt) * reach * n_users).astype(np.int64)
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                np.minimum(r.geometric(0.45, n_evt) - 1, 4)
            ],
            "value": _money(r.exponential(60.0, n_evt)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
        })
    if "documents" in want:
        r = _rng(seed, "documents")
        vocab = np.array(VOCAB)
        texts: list[str] = []
        for i in range(n_doc):
            if i >= 20 and r.random() < 0.05:
                # planted near-duplicate: an earlier document plus a marker
                texts.append(texts[int(r.integers(0, i))] + " dup")
            else:
                texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(8, 100)))]))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[r.integers(0, 7, n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if "embeddings" in want:
        r = _rng(seed, "embeddings")
        centroids = r.normal(size=(10, 64))
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
        labels = r.integers(0, 10, n_vec)
        vecs = 0.25 * centroids[labels] + r.normal(scale=1 / 8, size=(n_vec, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return out


def write_tables(out_dir: str, sf: float, seed: int, tables=ALL_TABLES) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(sf, seed, tables).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    print(write_tables(args.out_dir, args.sf, args.seed))


if __name__ == "__main__":
    main()
