"""Dense surrogate-key assignment at scale.

The reference's warehouse relies on RDBMS identity columns for its
dimension surrogate keys (SURVEY §2.1 S5: JDBC append into tables whose
PKs autoincrement). A distributed engine must mint the keys itself, and
the two obvious Spark spellings both fail at 100 TB:

- ``row_number() OVER ()`` — a global window: every row through ONE
  partition.
- ``monotonically_increasing_id()`` — distributed but sparse (gaps
  between partitions), which breaks "key = array index" consumers.

This is the scale-safe construction (zipWithIndex semantics, pure
DataFrame API):

1. decompose ``monotonically_increasing_id()`` into
   (partition, in-partition position) — it is defined as
   ``pid * 2^33 + pos``, so both halves come out with bit ops;
2. count rows per partition (a #partitions-row aggregate);
3. prefix-sum the counts into per-partition offsets (window over the
   tiny counts table — single partition of #partitions rows);
4. broadcast-join the offsets back and add.

The big table is never shuffled and never sorted; the only wide ops
touch #partitions rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_POS_BITS = 33  # monotonically_increasing_id() = pid << 33 | pos


def dense_ids(df: DataFrame, *, order_by: list[str] | None = None) -> DataFrame:
    """Add ``id`` holding a dense 0..n-1 BIGINT per row.

    Without ``order_by`` the assignment follows partition layout: ids
    are dense and unique but NOT reproducible across retries or
    different input splits (same caveat as ``zipWithIndex``). Pass
    ``order_by`` for deterministic ids: the frame is range-partitioned
    and sorted on those columns first, so ``id`` equals the row's rank
    in that total order (``row_number() - 1`` semantics) while the
    sort work stays fully distributed — no single-partition window.
    """
    if order_by:
        df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    mid = F.monotonically_increasing_id()
    with_pos = df.withColumn("_mid", mid).withColumn(
        "_pid", F.shiftrightunsigned(F.col("_mid"), _POS_BITS)
    )
    counts = with_pos.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    offsets = counts.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_offset")
    pos = F.col("_mid") - F.shiftleft(F.col("_pid"), _POS_BITS)
    return (
        with_pos.join(F.broadcast(offsets), "_pid")
        .withColumn("id", (F.col("_offset") + pos).cast("long"))
        .drop("_mid", "_pid", "_offset")
    )
