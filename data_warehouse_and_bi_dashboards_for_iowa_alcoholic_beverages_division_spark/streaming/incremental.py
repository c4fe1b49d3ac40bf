"""Watermark-driven incremental batch — the reference's substitute for
streaming (``/root/reference/dags/main_pipeline.py:92-151``: max
warehouse date gates a delta download and a create-vs-update branch).

Here the branch logic is plain driver code over lakehouse tables:
``load_or_update`` checks target existence, computes the watermark from
the target itself (no external warehouse round-trip), and appends only
rows strictly newer, in one pass over the source.

The target is always written ``partitionBy(date_col)``, so for a DATE
``date_col`` the watermark is the newest ``date_col=YYYY-MM-DD``
directory that holds a data file: one Hadoop FS listing, no Spark job,
however long the history. Any other target (a non-DATE ``date_col``,
an entry the listing cannot interpret) is read and aggregated, which
scans every file of the target.

Crash contract: the delta is appended through ``sources.commit.write``.
It is staged in the target's hidden ``.maint-tmp``, which the listing
skips, and published by an intent that retires nothing. A crash before
the intent leaves the target as it was; a crash after it is rolled
forward by the ``sources.commit.recover`` each call runs before it
reads the target. So a torn newest day never becomes the watermark,
and the strict ``> watermark`` filter never skips rows of a day that
was only partly loaded.
"""

from __future__ import annotations

import datetime
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DateType

from ..session import jvm_class
from ..sources import commit
from ..sources.commit import _hadoop_fs, _hidden, _holds_data

# the directory name Spark gives a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


def high_watermark(df: DataFrame, date_col: str):
    """MAX(date) driver funnel (reference ``main_pipeline.py:108``) —
    one scalar to the driver. Parquet aggregate pushdown is off, so on
    a table this reads ``date_col`` from every file."""
    return df.agg(F.max(date_col).alias("wm")).collect()[0]["wm"]


def incremental_delta(source: DataFrame, date_col: str, watermark) -> DataFrame:
    """Rows strictly newer than the warehouse watermark (reference
    ``download_new_records_from_dataset.py:23-29``)."""
    if watermark is None:
        return source
    return source.where(F.col(date_col) > F.lit(watermark))


def _unescape(spark: SparkSession, s: str) -> str:
    if "%" not in s:  # nothing to unescape; spares a gateway call per directory
        return s
    return jvm_class(spark, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils").unescapePathName(s)


def _listed_watermark(spark: SparkSession, target_path: str, date_col: str):
    """``(has_data, watermark)`` of a DATE-partitioned target from its
    directory names, or None when the listing cannot answer and the
    target must be read. A missing target, or one with no data
    partition, is ``(False, None)``; the NULL partition counts as data
    but, as in MAX, not as a watermark. A listing error raises."""
    fs, root = _hadoop_fs(spark, target_path)
    if not fs.exists(root):
        return False, None
    dated, nulls = [], []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if _hidden(name):
            continue
        col, eq, raw = name.partition("=")
        if not (eq and st.isDirectory() and _unescape(spark, col) == date_col):
            return None
        value = _unescape(spark, raw)
        if value == _NULL_PARTITION:
            nulls.append((None, st.getPath()))
            continue
        if not _ISO_DATE.fullmatch(value):
            return None
        try:
            dated.append((datetime.date.fromisoformat(value), st.getPath()))
        except ValueError:
            return None
    # newest first; only the first partition holding data is listed again
    for day, hpath in sorted(dated, key=lambda d: d[0], reverse=True) + nulls:
        held = _holds_data(fs, hpath)
        if held is None:
            return None
        if held:
            return True, day
    return False, None


def load_or_update(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    date_col: str,
) -> tuple[str, int]:
    """Create-vs-update branch (reference ``main_pipeline.py:61-151``).

    Returns ("create"|"update", rows_written). Idempotent: re-running
    with no new source rows appends nothing. The row count rides the
    append (``observe``); the delta is evaluated once.
    """
    commit.recover(spark, target_path)
    listed = None
    if isinstance(source.schema[date_col].dataType, DateType):
        listed = _listed_watermark(spark, target_path, date_col)
    if listed is None:
        # only an absent target means "create": an unreadable one would
        # otherwise get the whole source appended onto it again
        existing = commit.read_optional(spark, target_path)
        listed = (False, None) if existing is None else (True, high_watermark(existing, date_col))
    has_data, wm = listed
    n = commit.write(spark, target_path, incremental_delta(source, date_col, wm), partition_by=[date_col])
    return ("update" if has_data else "create"), n
