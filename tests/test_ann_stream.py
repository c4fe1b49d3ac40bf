"""ivf_stream_append: the streaming ingestion twin of the batch
append — stream ≡ batch pinned on both index layouts, checkpoint
incrementality, and token-deduplicated replay (the exactly-once
composition the module docstring states).
"""

import pyspark.sql.functions as F

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    append_to_ivf_index,
    build_ivf2_index,
    build_ivf_index,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.ann_stream import (
    ivf_stream_append,
)

SF_DIR = "/root/testdata/sf0.001"


def _index_rows(spark, path):
    return {
        (int(r["neighbor_id"]), int(r["cell"]))
        for r in spark.read.parquet(path).select("neighbor_id", "cell").collect()
    }


def _setup(spark, tmp_path, hierarchical=False):
    emb = load_table(spark, SF_DIR, "embeddings")
    existing = emb.where("vec_id % 10 != 0")
    arriving = emb.where("vec_id % 10 = 0").select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    if hierarchical:
        build_ivf2_index(existing, path, n_cells=16, iters=2, train_where="vec_id % 4 = 0")
    else:
        build_ivf_index(existing, path, n_cells=8, iters=2)
    staging = tmp_path / "staging"
    staging.mkdir()
    return emb, arriving, path, str(staging)


def test_stream_append_equals_batch_append_and_is_incremental(spark, tmp_path):
    emb, arriving, path, staging = _setup(spark, tmp_path)
    schema = arriving.schema
    ckpt = str(tmp_path / "ckpt")

    # the batch-append twin on a separate copy of the same build
    twin = str(tmp_path / "twin")
    build_ivf_index(emb.where("vec_id % 10 != 0"), twin, n_cells=8, iters=2)
    append_to_ivf_index(arriving, twin)

    # wave 1: half the arrivals land as files, stream drains them
    arriving.where("vec_id % 20 = 0").write.mode("append").parquet(staging)
    ivf_stream_append(spark, staging, path, ckpt, schema, token_prefix="t1")
    mid = _index_rows(spark, path)
    assert {v for v, _ in mid} == {
        int(r["vec_id"]) for r in emb.where("vec_id % 10 != 0 OR vec_id % 20 = 0").collect()
    }

    # wave 2: the rest arrive; the SAME checkpoint drains only the new
    # files — and the end state equals the one-shot batch append
    arriving.where("vec_id % 20 = 10").write.mode("append").parquet(staging)
    ivf_stream_append(spark, staging, path, ckpt, schema, token_prefix="t1")
    assert _index_rows(spark, path) == _index_rows(spark, twin)

    # drained checkpoint + no new files: a re-run appends nothing
    ivf_stream_append(spark, staging, path, ckpt, schema, token_prefix="t1")
    assert _index_rows(spark, path) == _index_rows(spark, twin)


def test_replayed_batch_is_token_deduplicated(spark, tmp_path):
    """A FRESH checkpoint over the same staging dir replays batch 0 —
    the crash-and-restart shape. With the anti-join backstop disabled,
    only the batch token stands between the replay and duplicate
    inverted-list rows."""
    emb, arriving, path, staging = _setup(spark, tmp_path)
    schema = arriving.schema
    arriving.write.mode("append").parquet(staging)
    ivf_stream_append(
        spark, staging, path, str(tmp_path / "ck1"), schema,
        token_prefix="same-prefix", skip_existing_ids=False,
    )
    once = _index_rows(spark, path)
    n_rows = spark.read.parquet(path).count()
    ivf_stream_append(
        spark, staging, path, str(tmp_path / "ck2"), schema,
        token_prefix="same-prefix", skip_existing_ids=False,
    )
    assert _index_rows(spark, path) == once
    assert spark.read.parquet(path).count() == n_rows  # no dup rows either


def test_stream_append_hierarchical_layout(spark, tmp_path):
    emb, arriving, path, staging = _setup(spark, tmp_path, hierarchical=True)
    schema = arriving.schema
    arriving.write.mode("append").parquet(staging)
    ivf_stream_append(
        spark, staging, path, str(tmp_path / "ck"), schema,
        token_prefix="h1",
    )
    ids = {v for v, _ in _index_rows(spark, path)}
    assert ids == {int(r["vec_id"]) for r in emb.select("vec_id").collect()}
    # token sidecar recorded the drained batch under the prefix
    toks = {r["token"] for r in spark.read.parquet(path + "_batches").collect()}
    assert any(t.startswith("h1-") for t in toks)
