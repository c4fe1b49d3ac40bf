"""End-to-end warehouse build: the reference's full-load DAG
(``/root/reference/dags/main_pipeline.py`` TaskGroup
``load_full_data_into_warehouse``) as one idempotent driver function
over parquet lakehouse tables.

Write layout is chosen for 100 TB, not for the local testdata:

- the fact table is partitioned by ``sale_year`` (at production scale:
  by date) so time-predicated queries prune old partitions. Incremental
  loads do not touch it: ``streaming.load_or_update`` appends to its
  own target, partitioned by the load's date column;
- dimensions are small unpartitioned parquet. This full load overwrites
  each table in place, one after another, so a crash mid-build can
  leave tables of two builds side by side. The SCD2 drain
  (`streaming.scd_stream`, `operators.scd.merge_scd`) — the distributed
  replacement for the reference's driver-side row UPDATEs — and the
  incremental fact append instead commit through
  ``sources.commit.write``: staged in the table's hidden
  ``.maint-tmp``, published by an intent, and converged after a crash
  by ``sources.commit.recover``;
- every dimension carries the −1/'unknown' member row the reference
  inserts via SQL (``insert_unknown_into_*.sql``), so late/NULL-keyed
  facts always join.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..functions.dates import build_date_dim
from ..sources.tables import load_table, read_parquet
from .memo import memoized
from .warehouse import fact_sales, geo_dim


def _with_unknown_member(dim: DataFrame, key_col: str, str_defaults: dict[str, str] | None = None) -> DataFrame:
    """Append the unknown-member row: key −1, strings 'unknown',
    everything else NULL (reference pattern, CreateModel.sql + the
    insert_unknown SQL scripts)."""
    defaults = dict(str_defaults or {})
    cols = []
    for f in dim.schema.fields:
        if f.name == key_col:
            cols.append(F.lit(-1).cast(f.dataType).alias(f.name))
        elif f.name in defaults:
            cols.append(F.lit(defaults[f.name]).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    row = dim.sparkSession.range(1).select(*cols)
    return dim.unionByName(row)


def build_star_warehouse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Full load: derive all dims + the fact table from the staged
    lakehouse tables and write them as parquet. Returns {table: path}.
    Idempotent (mode=overwrite) — the 'create' branch of the
    reference's create-vs-update DAG."""
    paths = {name: os.path.join(out_dir, name) for name in ("dim_date", "dim_geo", "dim_item", "dim_vendor", "fact_sales")}

    # the fact is written first and evaluated once: its date bounds ride
    # that write as observed metrics, then bound the calendar
    bounds = Observation("fact_date_bounds")
    (
        fact_sales(spark, sf_dir)
        .observe(bounds, F.min("sale_date").alias("lo"), F.max("sale_date").alias("hi"))
        .withColumn("sale_year", F.year("sale_date"))
        .write.mode("overwrite")
        .partitionBy("sale_year")
        .parquet(paths["fact_sales"])
    )

    # calendar spans exactly the fact's dates; the reference's 5 years
    # of headroom past them (main_pipeline.py:305) is not reproduced. A
    # fact with no dates gets an empty calendar of the same columns.
    lo, hi = bounds.get["lo"], bounds.get["hi"]
    if lo is None:
        dim_date = build_date_dim(spark, "1970-01-01", "1970-01-01").limit(0)
    else:
        dim_date = build_date_dim(spark, str(lo), str(hi))
    dim_date.write.mode("overwrite").parquet(paths["dim_date"])

    _with_unknown_member(
        geo_dim(spark, sf_dir), "c_custkey", {"c_name": "unknown", "nation_name": "unknown", "region_name": "unknown"}
    ).write.mode("overwrite").parquet(paths["dim_geo"])

    _with_unknown_member(load_table(spark, sf_dir, "part"), "p_partkey", {"p_name": "unknown"}).write.mode(
        "overwrite"
    ).parquet(paths["dim_item"])
    _with_unknown_member(load_table(spark, sf_dir, "supplier"), "s_suppkey", {"s_name": "unknown"}).write.mode(
        "overwrite"
    ).parquet(paths["dim_vendor"])
    return paths


class Warehouse(Mapping[str, DataFrame]):
    """The written tables by name, each read through ``read_parquet`` on
    first access and kept for later ones, so a visual reads only the
    tables it joins."""

    def __init__(self, spark: SparkSession, paths: Mapping[str, str]):
        self.spark, self.paths = spark, dict(paths)
        self._tables: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = read_parquet(self.spark, self.paths[name])
        return self._tables[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self.paths)

    def __len__(self) -> int:
        return len(self.paths)


def read_warehouse(spark: SparkSession, paths: Mapping[str, str]) -> Warehouse:
    return Warehouse(spark, paths)


def revenue_by_weekday_sql(fact: str, dates: str) -> str:
    """The weekday visual's text over ``fact`` and ``dates``, each a
    table reference or a parenthesized query: the written warehouse's
    tables here, ``plans.queries.q23``'s fact and calendar queries over
    the base tables there."""
    return f"""
SELECT /*+ BROADCAST(d) */ d.DayOfWeekNumber, d.DayOfWeekName,
       SUM(f.revenue_usd)      AS sum_rev,
       SUM(f.gross_profit_usd) AS sum_profit,
       COUNT(*)                AS n_sales
FROM {fact} f JOIN {dates} d ON f.sale_date = d.FullDate
GROUP BY d.DayOfWeekNumber, d.DayOfWeekName
"""


def revenue_by_weekday(wh: Warehouse) -> DataFrame:
    """Flagship dashboard query served from the WRITTEN warehouse
    (vs plans.queries.q23 which derives from base tables).

    It builds through the plan memo (``plans.memo``), keyed by the two
    tables' paths: a refresh over unchanged files returns the DataFrame
    the last one built and reads no table."""

    def build() -> DataFrame:
        sql = revenue_by_weekday_sql("{fact}", "{dates}")
        return wh.spark.sql(sql, fact=wh["fact_sales"], dates=wh["dim_date"])

    paths = tuple(os.path.abspath(wh.paths[t]) for t in ("fact_sales", "dim_date"))
    return memoized(wh.spark, ("revenue_by_weekday", paths), build)
