"""Watermark-driven incremental batch — the reference's substitute for
streaming (``/root/reference/dags/main_pipeline.py:92-151``: max
warehouse date gates a delta download and a create-vs-update branch).

Here the branch logic is plain driver code over lakehouse tables:
``load_or_update`` checks target existence, computes the watermark from
the target itself (no external warehouse round-trip), and appends only
rows strictly newer. On a date-partitioned fact table the
``> watermark`` predicate prunes partitions, so an incremental run
reads only the new days regardless of total history size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def high_watermark(df: DataFrame, date_col: str):
    """MAX(date) driver funnel (reference ``main_pipeline.py:108``) —
    one scalar to the driver, computed from parquet statistics when
    possible."""
    return df.agg(F.max(date_col).alias("wm")).collect()[0]["wm"]


def incremental_delta(source: DataFrame, date_col: str, watermark) -> DataFrame:
    """Rows strictly newer than the warehouse watermark (reference
    ``download_new_records_from_dataset.py:23-29``)."""
    if watermark is None:
        return source
    return source.where(F.col(date_col) > F.lit(watermark))


def load_or_update(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    date_col: str,
) -> tuple[str, int]:
    """Create-vs-update branch (reference ``main_pipeline.py:61-151``).

    Returns ("create"|"update", rows_written). Idempotent: re-running
    with no new source rows appends nothing.
    """
    try:
        existing = spark.read.parquet(target_path)
    except AnalysisException as e:
        # only a missing target means "create": an unreadable one
        # would otherwise get the whole source appended onto it again
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        wm, mode = None, "create"
    else:
        wm, mode = high_watermark(existing, date_col), "update"

    delta = incremental_delta(source, date_col, wm)
    n = delta.count()
    if n:
        delta.write.mode("append").partitionBy(date_col).parquet(target_path)
    return mode, n
