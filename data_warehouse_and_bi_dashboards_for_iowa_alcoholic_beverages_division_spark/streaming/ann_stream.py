"""Streaming maintenance for the persisted ANN indexes.

The batch lifecycle (build → append → audit → rebalance → delete →
compact → update, `operators/similarity.py`) gets its production
ingestion shape here: Structured Streaming over a staging directory of
arriving embedding files, each micro-batch folded into the index with
the SAME `append_to_ivf_index` the scheduled batch path uses. The append reads
the index's quantizer (flat or hierarchical) from its `_centroids`
sidecar, so one stream drains into either kind of index.
`Trigger.AvailableNow` drains everything unprocessed and stops, so the
same function doubles as the cron-driven incremental batch.

Exactly-once is the composition of two mechanisms with different
domains:

- the STREAMING CHECKPOINT guarantees each staged file lands in
  exactly one micro-batch, and a restarted query replays an
  interrupted batch with the SAME batch_id;
- the append's BATCH TOKEN (``<token_prefix>-<batch_id>``) makes that
  replay a recorded no-op after one tiny sidecar scan — O(|batch|)
  per micro-batch, independent of index size (the cost contract a
  100 TB index needs from its ingest path).

The one crash window the token leaves (data committed, token not yet —
see `append_to_ivf_index`) is covered by the default
``skip_existing_ids=True`` anti-join backstop; orchestrations that
need pure O(|batch|) maintenance can disable it and accept that
window, exactly as documented on the batch append.

``token_prefix`` must be unique per (index, checkpoint) pair: tokens
live in the index's ``_batches`` sidecar forever (until compaction
clears nothing — tokens are never cleared), so two different streams
sharing a prefix would silently skip each other's batch ids.

A micro-batch containing a currently-TOMBSTONED id fails the query
loudly (the append's re-insert guard): route updates through
`update_in_ivf_index`, not the ingest stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.similarity import append_to_ivf_index


def ivf_stream_append(
    spark: SparkSession,
    staging_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: StructType,
    token_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing_ids: bool = True,
) -> None:
    """Drain every unprocessed embedding file under ``staging_dir``
    into the persisted index at ``index_path`` (either quantizer), one
    frozen-quantizer append per micro-batch. Re-running with the same
    checkpoint processes only newly arrived files; a replayed batch
    (crash mid-drain) is deduplicated by its batch token."""
    stream = spark.readStream.schema(schema).parquet(staging_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_to_ivf_index(
            batch_df.select(id_col, vec_col),
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            skip_existing_ids=skip_existing_ids,
            batch_token=f"{token_prefix}-{batch_id}",
        )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
