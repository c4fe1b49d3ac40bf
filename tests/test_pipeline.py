"""End-to-end warehouse build: write dims+fact to parquet, read back,
serve the flagship dashboard query from the written tables."""

import pyspark.sql.functions as F
from conftest import jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.functions.dates import build_date_dim
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.pipeline import (
    build_star_warehouse,
    read_warehouse,
    revenue_by_weekday,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import registry
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_full_warehouse_build_and_query(spark, tmp_path):
    paths = build_star_warehouse(spark, SF_DIR, str(tmp_path / "wh"))
    wh = read_warehouse(spark, paths)
    assert sorted(wh) == sorted(paths)

    # fact row count preserved (every lineitem joined an order)
    assert wh["fact_sales"].count() == load_table(spark, SF_DIR, "lineitem").count()

    # fact is partitioned by sale_year on disk
    years = [r["sale_year"] for r in wh["fact_sales"].select("sale_year").distinct().collect()]
    assert len(years) > 1

    # every dim has its unknown member
    assert wh["dim_geo"].where("c_custkey = -1 AND nation_name = 'unknown'").count() == 1
    assert wh["dim_item"].where("p_partkey = -1").count() == 1
    assert wh["dim_vendor"].where("s_suppkey = -1").count() == 1

    # dashboard served from the WRITTEN warehouse == derived from base
    # tables; the warehouse path keeps exact decimals while the registry
    # entry canonicalizes terminal measures to DOUBLE — compare at the
    # canonical (double) representation
    got = {
        r["DayOfWeekNumber"]: (float(r["sum_rev"]), r["n_sales"])
        for r in revenue_by_weekday(wh).collect()
    }
    want = {
        r["DayOfWeekNumber"]: (r["sum_rev"], r["n_sales"])
        for r in registry()["q23_star_weekday"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_fact_partition_pruning(spark, tmp_path):
    """A sale_year predicate must prune partitions at the scan — the
    property that makes watermark-incremental loads cheap at 100 TB."""
    import contextlib
    import io

    paths = build_star_warehouse(spark, SF_DIR, str(tmp_path / "wh"))
    fact = spark.read.parquet(paths["fact_sales"])
    years = sorted(r["sale_year"] for r in fact.select("sale_year").distinct().collect())
    one_year = fact.where(F.col("sale_year") == years[0])

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_year.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "sale_year" in pf, f"partition filter not pushed: {pf}"


def test_build_evaluates_the_fact_once(spark, tmp_path):
    """The build runs one SQL execution per table written, five in all:
    the fact's date bounds ride its write as observed metrics instead of
    a bounds query of their own that evaluated lineitem x orders a
    second time. The calendar still spans exactly the fact's dates.
    Jobs are grouped by execution root, since adaptive execution splits
    one action into a timing-dependent number of jobs."""
    paths, jobs = jobs_of(spark, "build-star-once", lambda: build_star_warehouse(spark, SF_DIR, str(tmp_path / "wh")))
    store = spark.sparkContext._jsc.sc().statusStore()
    roots = set()
    for job in jobs:
        tags = str(store.job(job).jobTags().mkString(" ")).split()
        roots.update(t for t in tags if "-execution-root-id-" in t)
    assert len(roots) == 5

    fact = spark.read.parquet(paths["fact_sales"])
    lo, hi = fact.agg(F.min("sale_date"), F.max("sale_date")).first()
    want = build_date_dim(spark, str(lo), str(hi))
    got = spark.read.parquet(paths["dim_date"])
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
