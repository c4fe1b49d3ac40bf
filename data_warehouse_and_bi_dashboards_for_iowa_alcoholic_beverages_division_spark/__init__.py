"""PySpark-native analytics engine with the capabilities of the reference
``BartoszKedziorek/Data-Warehouse-and-BI-Dashboards-for-Iowa-Alcoholic-Beverages-Division``.

The reference is an Airflow-orchestrated PySpark ETL building a star-schema
warehouse (SCD2 dims + fact) in SQL Server, queried by Power BI dashboards.
This engine re-expresses those capabilities Spark-first:

- parquet lakehouse tables instead of JDBC/SQL Server sinks
- SCD Type-2 as window functions (``lead``) instead of offset self-joins
- dashboard aggregations as first-class Spark SQL / DataFrame queries
- incremental loads as watermark-gated batch, and SCD2 change-logs
  drained from an inbox as a ledgered batch

plus a beyond-reference layer for large-scale training-data pipelines:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search, multimodal column plumbing, and text analysis.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
