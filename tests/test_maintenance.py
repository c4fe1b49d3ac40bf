"""IVF append idempotency: the id guard and the batch tokens the index
manifest records."""

import pytest
from conftest import jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import similarity
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _tokens(spark, path):
    return commit.read_document(spark, path + "_manifest", "manifest")[1]["tokens"]


def test_ivf_append_retry_is_idempotent(spark, tmp_path):
    """A retried append job re-submits the same batch; the id guard
    must keep the inverted lists (and therefore query results and
    occupancy audits) identical to a single successful append."""
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
    already-recorded batch token is a no-op after one read of the
    manifest — it must not rewrite rows even with the id-anti-join
    guard disabled (proving the token alone suffices)."""
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
    assert _tokens(spark, path) == ["drop-2026-08-14", "drop-2026-08-15"]


def test_ivf_append_unreadable_token_sidecar_raises(spark, tmp_path):
    """The tokens live in the manifest. A manifest that exists but
    cannot be read (here: a corrupt newest version, standing in for
    permissions / transient-FS failures) must RAISE — treating it as
    "token not seen" would bypass a recorded token and re-append the
    batch, the exact duplicate-rows failure the token exists to
    prevent."""
    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_badtok")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)
    before = spark.read.parquet(path).count()

    (tmp_path / "ivf_badtok_manifest" / "manifest-2.json").write_bytes(b"garbage, not json " * 16)

    with pytest.raises(ValueError):
        similarity.append_to_ivf_index(
            batch, path, skip_existing_ids=False, batch_token="drop-2026-08-16"
        )
    # and crucially: NOTHING was appended
    assert spark.read.parquet(path).count() == before


def test_ivf_append_empty_token_sidecar_recovers(spark, tmp_path):
    """A fresh build's manifest records no token, and a crash inside
    the next version's write leaves its ``.tmp`` beside it. The tmp is
    not a version: the append proceeds and records its token — the r08
    ADVICE failure was a half-written token store permanently blocking
    every token-gated append on the index."""
    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    path = str(tmp_path / "ivf_emptytok")
    similarity.build_ivf_index(train, path, n_cells=4, iters=1)
    before = spark.read.parquet(path).count()
    assert _tokens(spark, path) == []

    stale = tmp_path / "ivf_emptytok_manifest" / "manifest-2.json.tmp"
    stale.write_text('{"tokens": ["drop-2026')  # a write cut short

    similarity.append_to_ivf_index(
        batch, path, skip_existing_ids=False, batch_token="drop-2026-08-17"
    )
    assert spark.read.parquet(path).count() == before + batch.count()
    assert _tokens(spark, path) == ["drop-2026-08-17"]
    assert sorted(p.name for p in stale.parent.glob("manifest-*")) == ["manifest-2.json"]

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


@pytest.mark.parametrize("hierarchical", [False, True])
def test_quantizer_read_and_recorded_token_probe_run_no_job(spark, tmp_path, hierarchical):
    """The quantizer and the tokens are read from the manifest on the
    driver: reading the quantizer and a retry presenting a recorded
    token run no Spark job, on either quantizer."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build = similarity.build_ivf2_index if hierarchical else similarity.build_ivf_index
    build(emb.where("vec_id % 10 != 0"), path, n_cells=16 if hierarchical else 8, iters=1)
    batch = emb.where("vec_id % 10 = 0")
    similarity.append_to_ivf_index(batch, path, batch_token="t")

    def read_quantizer():
        return similarity._quantizer(similarity._read_manifest(spark, path)[1])

    (l2, l1, cell2super), jobs = jobs_of(spark, f"quantizer-{hierarchical}", read_quantizer)
    assert jobs == []
    assert (l1 is not None) == hierarchical == (cell2super is not None)
    assert len(l2) == (16 if hierarchical else 8)
    _, jobs = jobs_of(spark, f"token-{hierarchical}", lambda: similarity.append_to_ivf_index(batch, path, batch_token="t"))
    assert jobs == []
