"""Decade scaling spot-check: time named registry queries at sf0.1,
sf1.0 (.localdata, 10x), sf10 (.localdata, 100x) with bench.py's
noop-sink materialization and report per-decade wall ratios.

The judge's bar (BASELINE.md round-7 onward): <= ~3x wall per 10x data
decade on local[32] fixed cores, unless the query's pair/work count
itself grows superlinearly (then per-unit cost must fall).

Usage: python tools/decade_spot.py [--reps 3] q217_ppm_decode ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SFS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1.0", os.path.join(ROOT, ".localdata", "sf1.0")),
    ("sf10", os.path.join(ROOT, ".localdata", "sf10")),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        clear_plan_memo,
        registry,
        release_persisted,
    )

    spark = get_spark("decade-spot")
    reg = registry()
    # steady-state warm-up, same shapes as bench.py
    for warm in ("q01_pricing_summary", "q23_star_weekday"):
        reg[warm].fn(spark, "/root/testdata/sf0.001").write.mode(
            "overwrite"
        ).format("noop").save()

    out: dict[str, dict[str, float]] = {}
    for name in args.names:
        out[name] = {}
        for sf_label, sf_dir in SFS:
            samples = []
            for _ in range(args.reps):
                clear_plan_memo()  # each rep times a fresh build
                t0 = time.time()
                reg[name].fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                samples.append(time.time() - t0)
                release_persisted()
            med = round(statistics.median(samples), 3)
            out[name][sf_label] = med
            print(f"{name} {sf_label}: {med}s  (min {min(samples):.3f} "
                  f"max {max(samples):.3f})", flush=True)
        a, b, c = (out[name][s] for s, _ in SFS)
        print(f"{name} per-decade: {b / a:.2f}x, {c / b:.2f}x", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
