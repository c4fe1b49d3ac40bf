"""Print the formatted physical plan of registered queries at sf0.001.

    python tools/dump_plans.py NAME [NAME ...]

The node counts of every query are checked in as PLAN_CENSUS.json
(``tools/plan_census.py``); this prints the full text on demand.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)
from plan_census import SF_DIR


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit(__doc__)
    reg = registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        sys.exit(f"not registered: {', '.join(unknown)}")
    spark = get_spark("plan-dump", cores=8)
    for name in names:
        print(f"== {name} ==")
        reg[name].fn(spark, SF_DIR).explain("formatted")
        release_persisted()
    spark.stop()


if __name__ == "__main__":
    main()
