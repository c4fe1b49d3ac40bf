"""IVF append idempotency: the id guard and the batch-token sidecar."""

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_append_retry_is_idempotent(spark, tmp_path):
    """A retried append job re-submits the same batch; the id guard
    must keep the inverted lists (and therefore query results and
    occupancy audits) identical to a single successful append."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_idem")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)
    similarity.append_to_ivf_index(batch, path)
    once = spark.read.parquet(path).count()
    before = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.query_ivf_index(
            emb.where("vec_id < 3"), path, k=5, n_probe=2
        ).collect()
    }
    similarity.append_to_ivf_index(batch, path)  # the retry
    assert spark.read.parquet(path).count() == once
    after = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.query_ivf_index(
            emb.where("vec_id < 3"), path, k=5, n_probe=2
        ).collect()
    }
    assert after == before


def test_ivf_append_batch_token_skips_retry_in_constant_work(spark, tmp_path):
    """The 100 TB idempotency path: a retry presenting an
    already-recorded batch token is a no-op after one scan of the tiny
    _batches sidecar — it must not rewrite rows even with the
    id-anti-join guard disabled (proving the token alone suffices)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_tok")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)

    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-14"
    )
    once = spark.read.parquet(path).count()
    # the retry: same token, guard disabled — token must block it
    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-14"
    )
    assert spark.read.parquet(path).count() == once

    # a DIFFERENT token with disjoint ids appends normally
    batch2 = emb.where("vec_id % 10 = 1")
    similarity.append_to_ivf_index(
        batch2, path, skip_existing_ids=False, batch_token="drop-2026-08-15"
    )
    assert spark.read.parquet(path).count() == once + batch2.count()
    tokens = {r["token"] for r in spark.read.parquet(path + "_batches").collect()}
    assert tokens == {"drop-2026-08-14", "drop-2026-08-15"}


def test_ivf_append_unreadable_token_sidecar_raises(spark, tmp_path):
    """Only a MISSING _batches sidecar means "no token recorded yet".
    A sidecar that exists but cannot be read (here: a corrupt file,
    standing in for permissions / transient-FS failures) must RAISE —
    treating it as "token not seen" would bypass a recorded token and
    re-append the batch, the exact duplicate-rows failure the token
    exists to prevent."""
    import pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_badtok")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)
    before = spark.read.parquet(path).count()

    sidecar = tmp_path / "ivf_badtok_batches"
    sidecar.mkdir()
    (sidecar / "part-00000.parquet").write_bytes(b"garbage, not parquet " * 16)

    with pytest.raises(Exception) as exc_info:
        similarity.append_to_ivf_index(
            batch, path, skip_existing_ids=False, batch_token="drop-2026-08-16"
        )
    # the failure is the sidecar read, not something downstream
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
    # and crucially: NOTHING was appended
    assert spark.read.parquet(path).count() == before


def test_ivf_append_empty_token_sidecar_recovers(spark, tmp_path):
    """An EXISTING-but-empty _batches directory (crash between
    directory creation and the first committed file; may hold Hadoop
    markers like _SUCCESS but no data file) means "no token recorded
    yet": the append must proceed and record its token — the r08
    ADVICE failure was UNABLE_TO_INFER_SCHEMA raising forever and
    permanently blocking every token-gated append on the index."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_emptytok")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)
    before = spark.read.parquet(path).count()

    sidecar = tmp_path / "ivf_emptytok_batches"
    sidecar.mkdir()
    (sidecar / "_SUCCESS").write_bytes(b"")  # marker only, zero data files

    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-17"
    )
    assert spark.read.parquet(path).count() == before + batch.count()
    tokens = {r["token"] for r in spark.read.parquet(path + "_batches").collect()}
    assert tokens == {"drop-2026-08-17"}

    # and the retry with the SAME token is still a no-op
    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-17"
    )
    assert spark.read.parquet(path).count() == before + batch.count()


def test_ivf2_append_batch_token_skips_retry_in_constant_work(spark, tmp_path):
    """The hierarchical append inherits the flat append's token
    contract verbatim: a retry presenting a recorded token is a no-op
    with the id-anti-join guard disabled, and a new token with
    disjoint ids appends normally."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf2_tok")
    similarity.build_ivf2_index(
        emb.where("vec_id % 10 != 0"), path, n_cells=16, iters=1,
        train_where="vec_id % 16 = 0",
    )
    batch = emb.where("vec_id % 10 = 0")
    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-15"
    )
    once = spark.read.parquet(path).count()
    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-15"
    )
    assert spark.read.parquet(path).count() == once
    batch2 = emb.where("vec_id % 10 = 1")
    similarity.append_to_ivf_index(
        batch2, path, skip_existing_ids=False, batch_token="drop-2026-08-16"
    )
    assert spark.read.parquet(path).count() == once + batch2.count()
