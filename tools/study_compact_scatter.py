"""Scattered-compaction study at PRODUCTION cell counts (r13 verdict
ask #4): the r13 scale table used n_cells=8, where a 1% scattered
delete touches every cell by construction and compaction degenerates
to a full rewrite. This re-runs the scattered row with the
cardinality-DERIVED cell count (derived_n_cells — hundreds of cells at
sf1.0+) to measure the real partition-pruning ratio, and quantifies
the "batch scattered deletes" guidance: per delete fraction, the
affected-cell fraction (what a compaction run NOW would rewrite) vs
the rewrite volume of compacting the same debt in smaller increments.

Usage: python tools/study_compact_scatter.py [sf_dir ...]
Defaults to /root/repo/.localdata/sf1.0.
"""

import json
import sys
import time

from pyspark.sql import SparkSession
import pyspark.sql.functions as F

sys.path.insert(0, "/root/repo")

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (  # noqa: E402
    audit_ivf_tombstones,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    derived_n_cells,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (  # noqa: E402
    load_table,
)


def run(spark, sf_dir: str, scratch: str) -> list[dict]:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    nc = derived_n_cells(n)
    rows = []
    # mod-K scattered deletes: deterministic, uniform over the id space
    # (and therefore over cells). K chosen for ~1% and ~0.1%.
    for label, mod in (("scattered ~1%", 100), ("scattered ~0.1%", 1000)):
        path = f"{scratch}/idx_{mod}"
        t0 = time.time()
        build_ivf_index(emb, path, n_cells=nc, iters=2)
        t_build = time.time() - t0
        victims = emb.where(f"vec_id % {mod} = 7").select("vec_id")
        n_del = victims.count()
        t0 = time.time()
        delete_from_ivf_index(victims, path)
        t_del = time.time() - t0
        t0 = time.time()
        audit = audit_ivf_tombstones(spark, path)
        head = audit.limit(1).collect()[0]
        t_audit = time.time() - t0
        t0 = time.time()
        stats = compact_ivf_index(spark, path)
        t_compact = time.time() - t0
        touched = len(stats["cells_rewritten"]) + len(stats["cells_removed"])
        rows.append(
            {
                "sf_dir": sf_dir,
                "mode": label,
                "n": n,
                "n_cells_derived": nc,
                "deleted": n_del,
                "affected_cell_frac": float(head["affected_cell_frac"]),
                "needs_compact": bool(head["needs_compact"]),
                "cells_touched": touched,
                "build_s": round(t_build, 1),
                "delete_s": round(t_del, 1),
                "audit_s": round(t_audit, 1),
                "compact_s": round(t_compact, 1),
            }
        )
        print(json.dumps(rows[-1]))
    # clustered baseline at the derived count: every member of one cell
    path = f"{scratch}/idx_clustered"
    t0 = time.time()
    build_ivf_index(emb, path, n_cells=nc, iters=2)
    t_build = time.time() - t0
    idx = spark.read.parquet(path)
    target = int(
        idx.groupBy("cell").count().orderBy("count", "cell").limit(1).collect()[0]["cell"]
    )
    victims = idx.where(F.col("cell") == target).select("neighbor_id")
    n_del = victims.count()
    t0 = time.time()
    delete_from_ivf_index(victims, path, id_col="neighbor_id")
    t_del = time.time() - t0
    t0 = time.time()
    audit = audit_ivf_tombstones(spark, path)
    head = audit.limit(1).collect()[0]
    t_audit = time.time() - t0
    t0 = time.time()
    stats = compact_ivf_index(spark, path)
    t_compact = time.time() - t0
    rows.append(
        {
            "sf_dir": sf_dir,
            "mode": "clustered (one cell)",
            "n": n,
            "n_cells_derived": nc,
            "deleted": n_del,
            "affected_cell_frac": float(head["affected_cell_frac"]),
            "needs_compact": bool(head["needs_compact"]),
            "cells_touched": len(stats["cells_rewritten"]) + len(stats["cells_removed"]),
            "build_s": round(t_build, 1),
            "delete_s": round(t_del, 1),
            "audit_s": round(t_audit, 1),
            "compact_s": round(t_compact, 1),
        }
    )
    print(json.dumps(rows[-1]))
    return rows


def main():
    dirs = sys.argv[1:] or ["/root/repo/.localdata/sf1.0"]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("compact-scatter-study")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    out = []
    with tempfile.TemporaryDirectory(prefix="scatter_study_") as scratch:
        for d in dirs:
            out.extend(run(spark, d, scratch))
    print("== SUMMARY ==")
    for r in out:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
