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

from . import commit


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

    Write-new-then-commit, never overwrite-in-place: Spark reads
    lazily, so overwriting the directory being read would destroy the
    input mid-job. The new files are one ``sources.commit.write``:
    staged in the table's hidden ``.maint-tmp``, then committed by an
    intent that retires every file the compaction read. A crash at any
    point converges on the next call (``sources.commit.recover``). On a
    real deployment a table format with a transactional commit
    (Delta/Iceberg) replaces the protocol, and everything upstream of
    it is unchanged.
    """
    commit.recover(spark, path)
    retire = commit.live_files(spark, path)
    df = spark.read.parquet(path)
    # coalesce bounds total tasks; per-partition file count follows
    df = df.repartition(target_files, *partition_by) if partition_by else df.coalesce(target_files)
    commit.write(spark, path, df, retire=retire, partition_by=partition_by or ())
    return parquet_file_count(path)
