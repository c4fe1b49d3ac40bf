"""Driver-conditions twin of check_correctness: the SAME gate loop
(:func:`check_correctness.run_gate`) on a VANILLA SparkSession —
stock configs (200 shuffle partitions, default broadcast threshold,
default ANSI), the way the driver invokes ``__spark_entry__``.
Catches results that secretly depend on the engine session
(partition-order float sums, config-gated behavior).

    python tools/check_vanilla.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # build the vanilla session FIRST so no engine configs ever apply
    spark = SparkSession.builder.master("local[8]").appName("vanilla-gate").getOrCreate()

    import check_correctness as cc

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = cc.duck_connection(args.sf)
    names = args.names or sorted(qs)
    failures = cc.run_gate(spark, con, args.sf, qs, oracles, names)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
