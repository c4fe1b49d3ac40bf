"""Lakehouse table maintenance: small-file compaction.

Incremental loads (streaming/incremental.py appends, availableNow
micro-batches) accumulate many small parquet files; at 100 TB the
resulting scan-task explosion and NameNode/listing pressure dominate
query latency long before data volume does. Compaction rewrites a
table to a bounded file count.

The reference has no analogue (SQL Server manages its own storage);
this replaces that storage engine's job for the parquet lakehouse.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

from .commit import recover_swap, staging_path, swap_in


def parquet_file_count(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into ``target_files``
    files (per partition directory if ``partition_by``). Returns the
    new file count.

    Write-new-then-swap, never overwrite-in-place: Spark reads lazily,
    so overwriting the directory being read would destroy the input
    mid-job. The new files go to a staging sibling that
    ``sources.commit.swap_in`` renames in; a crash at any point
    converges on the next call (``recover_swap``). On a real deployment
    a table format with a transactional commit (Delta/Iceberg) replaces
    the rename, and everything upstream of it is unchanged.
    """
    recover_swap(spark, path)
    df = spark.read.parquet(path)
    writer = df.coalesce(target_files).write.mode("overwrite")
    if partition_by:
        # coalesce bounds total tasks; per-partition file count follows
        writer = df.repartition(target_files, *partition_by).write.mode("overwrite").partitionBy(*partition_by)
    writer.parquet(staging_path(path))
    swap_in(spark, path)
    return parquet_file_count(path)
