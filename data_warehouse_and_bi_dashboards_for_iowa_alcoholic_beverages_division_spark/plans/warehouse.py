"""Star-schema warehouse build over the testdata lakehouse.

The reference's warehouse is 1 fact + 6 dims for Iowa liquor sales
(``/root/reference/data_warehouse/sql/CreateModel.sql``); the driver
testdata is TPC-H-shaped, so the same *capabilities* are exercised on
the equivalent roles:

- ``fact_sales``      ≈ FLiquorSales: lineitem ⋈ orders, derived money
  measures as exact decimals (reference derivations
  ``create_update_liqour_sales_fact_table.py:184-198``)
- ``part``            ≈ DimItem, ``supplier`` ≈ DimVendor
- ``customer ⋈ nation ⋈ region`` ≈ DimStore/DimCounty geo hierarchy
- generated calendar  ≈ DimDateTable

Measures are cast string/double → ``DecimalType`` *before* any
aggregation (reference ingest casts,
``include/scripts/modules/ingest_utils.py:66-70``): decimal sums are
exact and order-independent, so results are reproducible across
partitionings and match external engines bit-for-bit — double sums are
neither.

Scale notes: the fact build is one shuffle (lineitem ⋈ orders on
orderkey — at 100 TB this is the one unavoidable co-partitioned
sort-merge join; bucketing both tables on orderkey removes it too).
All dimension joins downstream broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table

# Shared decimal-cast SQL fragments: the Spark DataFrame side and the
# DuckDB oracle SQL in plans/queries.py must derive measures with the
# SAME expressions so exact-decimal results agree bit-for-bit.
REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"
COST_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2)) - CAST(l_tax AS DECIMAL(12,2)))"
)
PROFIT_SQL = f"({REVENUE_SQL}) - ({COST_SQL})"

_ORDER_COLUMNS = ("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
# the measures and degenerate dimension the fact derives from its join
_FACT_MEASURES = (
    "to_date(o_orderdate) AS sale_date",
    f"{REVENUE_SQL} AS revenue_usd",
    f"{COST_SQL} AS total_cost_usd",
    f"{PROFIT_SQL} AS gross_profit_usd",
    "CAST(l_quantity AS DECIMAL(12,2)) AS quantity",
    "concat('INV-', CAST(o_orderkey AS STRING)) AS invoice_number",
)
# ``fact_sales`` as SQL text over the ``spark.sql`` keyword DataFrames
# ``{lineitem}`` and ``{orders}``, for the dashboard visuals that derive
# the fact from base tables inside their own text
FACT_SALES_SQL = (
    f"SELECT *, {', '.join(_FACT_MEASURES)} FROM {{lineitem}}"
    f" JOIN (SELECT {', '.join(_ORDER_COLUMNS)} FROM {{orders}}) ON l_orderkey = o_orderkey"
)


def fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per lineitem with order context + exact-decimal measures.

    ``InvoiceNumber`` is the degenerate dimension (reference derives it
    from the invoice id string,
    ``create_update_liqour_sales_fact_table.py:196-198``).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLUMNS)
    # one projection: each withColumn would re-analyse the whole plan
    # and cost its own py4j round trips
    return lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"], "inner").selectExpr(
        "*", *_FACT_MEASURES
    )


def geo_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → nation → region lookup (DimStore/DimCounty analog).
    Small: always broadcast into fact joins."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("n_name", F.lit("unknown")).alias("nation_name"),
            F.coalesce("r_name", F.lit("unknown")).alias("region_name"),
        )
    )

