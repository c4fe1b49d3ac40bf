"""SCD2 dimension maintenance: a ledgered batch drain of a change-log inbox.

The reference runs its SCD merge as a scheduled batch (Airflow task →
`update_store_dim.py` → `scd.py:230-265`, applied by driver-side
row-at-a-time UPDATEs at `scd.py:194-217`). So does this module, without
the driver funnel: ``scd_stream_upsert`` lists the inbox, reads every
file it has not drained before as one batch pinned to the given schema,
and folds that batch into the parquet dimension with ``merge_scd``.
The merged dimension is the rebuild over the old versions plus the
batch, so it equals a rebuild over the whole change log whatever order
the files arrive in (a late file included), and one batch equals any
split of the same files into several.

Which files are drained is a JSON ledger under ``checkpoint_dir``
(``drained-<n>.json``, the highest ``n`` is live): the relative names
of every inbox file folded in so far. A name once recorded is never
read again, even with new content. Each update writes the next version
under a fresh name and deletes older versions only after it landed
(``sources.commit.write_document``), so no crash leaves the drained
names unrecorded once they were recorded.
A ``checkpoint_dir`` without a ledger (a new one, or one left by a
Structured Streaming drain) drains every file in the inbox.

Dimensions are small relative to facts (§ SURVEY.md 1.1), so rewriting
the whole dimension per drain is cheap at any scale; the fact side
never rewrites history. The merge is one ``sources.commit.write``: it
is staged in the dimension's hidden ``.maint-tmp``, committed by an
intent that retires every live file of the old dimension, and rolled
forward by renames. ``sources.commit.recover`` runs before the
dimension is read. The ledger is written only after the dimension
committed, so it never runs ahead of it: a crash before it lands
leaves the files undrained, and the next call folds them again, which
changes nothing (the merge is idempotent).

A drain onto an existing dimension is two Spark jobs: the merge's one
shuffle on the natural key, and the staging write. Nothing else runs
one:

- listing the inbox and the ledger is Hadoop FS calls; an inbox with
  nothing new runs no job and writes nothing;
- the batch read and the dimension read are pinned to schemas (the
  dimension's is derived from the batch's, ``operators.scd.scd_schema``),
  so neither infers anything from footers;
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
    """Drain every file under ``staging_dir`` that the ledger in
    ``checkpoint_dir`` does not record into the SCD2 dimension at
    ``dim_path``, as one batch read with ``schema``, then record them.
    Re-running processes only newly arrived files: the reference's
    watermark-gated update DAG branch (`dags/main_pipeline.py:92-151`).
    A missing ``staging_dir`` raises ``PATH_NOT_FOUND``."""
    fs, inbox = commit._hadoop_fs(spark, staging_dir)
    if not fs.exists(inbox):
        spark.read.schema(schema).parquet(staging_dir)  # raises Spark's own PATH_NOT_FOUND
    # no ledger records nothing; an unreadable one raises
    versions, drained = commit.read_document(spark, checkpoint_dir, "drained")
    drained = set(drained or ())
    new = sorted(set(commit._data_files(fs, inbox)) - drained)
    if not new:
        return
    root = staging_dir.rstrip("/")
    batch = spark.read.schema(schema).parquet(*(f"{root}/{rel}" for rel in new))
    scd_upsert_batch(spark, batch, dim_path, natural_key, date_col, attribute_cols)
    # after the dimension's commit: a crash before this line re-folds the
    # files on the next call, which leaves the dimension as it is
    commit.write_document(spark, checkpoint_dir, "drained", versions, sorted(drained | set(new)))
