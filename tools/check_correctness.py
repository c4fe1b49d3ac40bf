"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, column names, and exact (order-insensitive)
values. Usage:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [names...]

``tools/check_vanilla.py`` runs the same gate (via :func:`run_gate`)
on a stock SparkSession — driver conditions.
"""

from __future__ import annotations

import argparse
import decimal
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Cross-engine type FAMILIES.
# The round-10 driver window proved the external value hash is
# type-aware across FAMILIES but not widths: q145's TINYINT hamming and
# q143's BIGINT rank (vs Spark int) were driver-green, while q100's
# HUGEINT pack_id was the round's only hash-red (rows+schema green).
# So the gate checks: same family on both sides, DuckDB side never
# outside the portable set (HUGEINT / unsigned types render through
# arrow/pandas as object/Decimal and break the driver hash even when
# the stringified values are equal — the class this value-stringified
# gate was blind to before round 11).
SPARK_FAMILY = {
    "bigint": "int", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "float", "float": "float",
    "string": "str", "boolean": "bool", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}
DUCK_FAMILY = {
    "BIGINT": "int", "INTEGER": "int", "SMALLINT": "int", "TINYINT": "int",
    "DOUBLE": "float", "FLOAT": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "ts", "BLOB": "bin",
}


def _type_family_ok(spark_t: str, duck_t: str) -> bool:
    import re as _re

    sf, df_ = SPARK_FAMILY.get(spark_t), DUCK_FAMILY.get(duck_t)
    if sf is not None or df_ is not None:
        return sf is not None and sf == df_
    m = _re.match(r"decimal\((\d+),(\d+)\)", spark_t)
    if m:
        return duck_t == f"DECIMAL({m.group(1)},{m.group(2)})"
    m = _re.match(r"array<(.+)>", spark_t)
    if m:
        return duck_t.endswith("[]") and _type_family_ok(m.group(1), duck_t[:-2])
    return False


def type_mismatches(spark_dtypes, duck_described) -> list[str]:
    """Family-level cross-engine type check; returns human-readable
    mismatch strings (empty = portable)."""
    duck_types = {r[0]: r[1] for r in duck_described}
    out = []
    for col, st in spark_dtypes:
        dt = duck_types.get(col)
        if dt is not None and not _type_family_ok(st, dt):
            out.append(f"{col}: spark={st} duck={dt}")
    return out


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_gate(spark, con, sf_dir, qs, oracles, names) -> int:
    """Shared compare loop (used here and by check_vanilla.py): run
    each query on ``spark`` and its oracle on ``con``, print one
    PASS/ROWS/FAIL line per query, return the failure count."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        release_persisted,
    )

    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            release_persisted()
            continue
        release_persisted()  # results are on the driver; free tracked caches
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue
        ok = True
        mism = type_mismatches(sdtypes, con.execute("DESCRIBE " + oracles[name]).fetchall())
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif mism:
            print(f"FAIL {name}: type families diverge: {mism}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            ns, nd = norm_rows(scols, srows), norm_rows(dcols, drows)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                print(f"FAIL {name}: values differ, first diffs: {diff}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures += 1
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark

    spark = get_spark(cores=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_connection(args.sf)
    names = args.names or sorted(qs)
    failures = run_gate(spark, con, args.sf, qs, oracles, names)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
