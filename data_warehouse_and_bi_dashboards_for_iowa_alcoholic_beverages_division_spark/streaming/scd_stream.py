"""Streaming SCD2 dimension maintenance.

The reference runs its SCD merge as a scheduled batch (Airflow task →
`update_store_dim.py` → `scd.py:230-265`, applied by driver-side
row-at-a-time UPDATEs at `scd.py:194-217`). The Spark-native upgrade is
Structured Streaming over the staging directory: each micro-batch of
raw change records is folded into the parquet dimension by `merge_scd`,
inside `foreachBatch` — exactly-once per batch via the streaming
checkpoint, no driver funnel, and the `Trigger.AvailableNow` drain
doubles as the reference's incremental batch when run on a schedule.
The merged dimension is the rebuild over the old versions plus the
batch, so it equals a rebuild over the whole change log whatever order
the files arrive in (a late file included).

Dimensions are small relative to facts (§ SURVEY.md 1.1), so rewriting
the whole dimension per micro-batch is cheap at any scale; the
fact-side stream never rewrites history. The merge is one
``sources.commit.write``: it is staged in the dimension's hidden
``.maint-tmp``, committed by an intent that retires every live file of
the old dimension, and rolled forward by renames. A crash at any point
converges when the batch is replayed from the streaming checkpoint:
``sources.commit.recover`` runs before the dimension is read, and the
merge is idempotent (re-folding a batch already in the dimension
changes nothing).

A drain onto an existing dimension is two Spark jobs: the merge's one
shuffle on the natural key, and the staging write. Nothing else runs
one:

- the dimension's schema is derived from the batch's
  (``operators.scd.scd_schema``), so reading the dimension infers
  nothing from its footers;
- an empty batch is not probed for. It folds to the dimension it
  started from. A batch that leaves a dimension of no rows (an empty
  first file) retires nothing and adds no row, so its stage rolls back
  and it leaves no dimension behind. The row count rides the staging
  write (``observe``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.scd import create_scd_from_input, merge_scd, scd_schema
from ..sources import commit


def scd_upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    dim_path: str,
    natural_key: str,
    date_col: str,
    attribute_cols: Sequence[str],
) -> None:
    """Fold one batch of raw change records into the parquet dimension
    (create on first batch, incremental merge afterwards)."""
    # a crashed earlier drain is converged first, so a dimension torn
    # mid-commit is never read, nor its absence taken for "first batch"
    commit.recover(spark, dim_path)
    schema = scd_schema(batch_df.schema, attribute_cols, date_col, natural_key)
    # with the schema pinned, an unreadable or mistyped file raises
    # when the merge runs, before anything is committed
    old = commit.read_optional(spark, dim_path, schema)
    if old is None:
        merged = create_scd_from_input(batch_df, attribute_cols, date_col, natural_key)
    else:
        merged = merge_scd(old, batch_df, natural_key, date_col, attribute_cols)
    # the merge reads the live dimension, so it is staged, and replaces
    # every live file only on commit
    commit.write(spark, dim_path, merged, retire=commit.live_files(spark, dim_path))


def scd_stream_upsert(
    spark: SparkSession,
    staging_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    natural_key: str,
    date_col: str,
    attribute_cols: Sequence[str],
    schema: StructType,
) -> None:
    """Drain every unprocessed file under ``staging_dir`` into the SCD2
    dimension at ``dim_path``, one merge per micro-batch. Re-running
    with the same checkpoint processes only newly arrived files — the
    streaming equivalent of the reference's watermark-gated update DAG
    branch (`dags/main_pipeline.py:92-151`)."""
    stream = spark.readStream.schema(schema).parquet(staging_dir)

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        scd_upsert_batch(spark, batch_df, dim_path, natural_key, date_col, attribute_cols)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
