"""delete_from_ivf_index / compact_ivf_index: the tombstone-delete +
list-compaction steps that complete the persisted IVF lifecycle
(build -> persist -> append -> delete -> compact).

Pins the r12 verdict ask #4 contract: delete -> query excludes the
ids immediately with NO data file touched; compact -> tombstoned rows
physically gone, cold cells' files byte-identical, fully-emptied
cells' directories removed (their trained centroids retained), and
the tombstone sidecar cleared. Plus idempotency and the no-op paths.
"""

import glob
import hashlib
import os
import pathlib
import random

import pyspark.sql.functions as F
import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    append_to_ivf_index,
    build_ivf2_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    query_ivf_index,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _all_files(path):
    return {
        os.path.relpath(f, path): hashlib.sha256(pathlib.Path(f).read_bytes()).hexdigest()
        for f in glob.glob(os.path.join(path, "cell=*", "*.parquet"))
    }


def _ids(spark, path):
    return {int(r["neighbor_id"]) for r in spark.read.parquet(path).select("neighbor_id").collect()}


def _id_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "vec_id BIGINT")


def _neighbors(spark, emb, path, k=5):
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=k, n_probe=3)
    return {
        (int(r["query_id"]), int(r["rank"])): int(r["neighbor_id"])
        for r in res.collect()
    }


def test_delete_excludes_immediately_without_touching_files(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    before = _neighbors(spark, emb, path)
    files_before = _all_files(path)
    # delete a neighbor that actually appears in the results
    victim = before[(0, 1)]
    delete_from_ivf_index(_id_df(spark, [victim]), path)
    # no data file moved — delete is sidecar-only
    assert _all_files(path) == files_before
    after = _neighbors(spark, emb, path)
    assert victim not in set(after.values())
    # full k per query: the freed rank is taken by the next-best row
    assert {q for q, _ in after} == {0, 1, 2}
    assert len(after) == len(before)
    # non-victim queries' result sets only gain, never lose, rows other
    # than the victim
    kept = {v for v in before.values() if v != victim}
    assert kept <= set(after.values()) | {victim}


def test_delete_is_idempotent_and_dedupes_tombstones(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    delete_from_ivf_index(_id_df(spark, [7, 11]), path)
    delete_from_ivf_index(_id_df(spark, [7, 11, 13]), path)
    delete_from_ivf_index(_id_df(spark, [13]), path)
    tombs = sorted(
        int(r["neighbor_id"]) for r in spark.read.parquet(path + "_tombstones").collect()
    )
    assert tombs == [7, 11, 13]


def test_compact_removes_rows_and_leaves_cold_cells_byte_identical(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    ids_before = _ids(spark, path)
    victims = {3, 10, 17}
    assert victims <= ids_before
    victim_cells = {
        int(r["cell"])
        for r in spark.read.parquet(path)
        .where(F.col("neighbor_id").isin(list(victims)))
        .select("cell")
        .collect()
    }
    cold = {
        int(r["cell"])
        for r in spark.read.parquet(path).select("cell").distinct().collect()
    } - victim_cells
    cold_files = {
        rel: h for rel, h in _all_files(path).items()
        if int(rel.split(os.sep)[0].split("=")[1]) in cold
    }
    delete_from_ivf_index(_id_df(spark, sorted(victims)), path)
    pre_compact = _neighbors(spark, emb, path)

    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] == 3
    assert stats["rows_removed"] == 3
    assert sorted(stats["cells_rewritten"] + stats["cells_removed"]) == sorted(victim_cells)
    # physical removal
    assert _ids(spark, path) == ids_before - victims
    # cold partitions byte-identical (never rewritten)
    after_files = _all_files(path)
    for rel, h in cold_files.items():
        assert after_files.get(rel) == h, f"cold file {rel} was rewritten"
    # tombstone sidecar cleared
    assert spark.read.parquet(path + "_tombstones").count() == 0
    # query results identical before vs after compaction (compaction is
    # physical-only; the logical result set was already tombstone-final)
    assert _neighbors(spark, emb, path) == pre_compact


def test_compact_drops_fully_emptied_cell_directory_keeps_centroid(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    occ = {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    target = min(occ, key=lambda c: (occ[c], c))  # smallest cell
    members = {
        int(r["neighbor_id"])
        for r in spark.read.parquet(path)
        .where(F.col("cell") == target)
        .select("neighbor_id")
        .collect()
    }
    delete_from_ivf_index(_id_df(spark, sorted(members)), path)
    stats = compact_ivf_index(spark, path)
    assert target in stats["cells_removed"]
    # the directory is gone, not just empty
    assert not os.path.exists(os.path.join(path, f"cell={target}"))
    assert target not in {
        int(r["cell"])
        for r in spark.read.parquet(path).select("cell").distinct().collect()
    }
    # the trained centroid survives (trained-but-empty is a legal state
    # — build produces them too); probing it just reads nothing
    manifest = commit.read_document(spark, path + "_manifest", "manifest")[1]
    assert 0 <= target < len(manifest["l2"])
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=5, n_probe=3)
    assert res.groupBy("query_id").count().where("count = 5").count() == 3


def test_compact_noop_without_tombstones(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    files_before = _all_files(path)
    # no sidecar at all
    stats = compact_ivf_index(spark, path)
    assert stats == {
        "tombstones": 0,
        "cells_rewritten": [],
        "cells_removed": [],
        "rows_removed": 0,
    }
    assert _all_files(path) == files_before
    # empty sidecar (a previous compaction cleared it)
    delete_from_ivf_index(_id_df(spark, [5]), path)
    compact_ivf_index(spark, path)
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] == 0
    # rerun after a crash-between-rewrite-and-clear: tombstones that
    # match nothing converge to a clear-only pass
    delete_from_ivf_index(_id_df(spark, [999999]), path)
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] == 1
    assert stats["rows_removed"] == 0
    assert stats["cells_rewritten"] == [] and stats["cells_removed"] == []
    assert spark.read.parquet(path + "_tombstones").count() == 0


def test_reinsert_of_tombstoned_id_raises_until_compacted(spark, tmp_path):
    """Update-as-delete-then-reinsert needs a compaction between the
    steps (code-review r13): accepting the append would lose the new
    vector silently under either idempotency guard, so it must raise
    with the compact instruction instead."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    # schema must match the index's physical column types (the corpus
    # is array<float>; a double-array row would poison the partition)
    new_vec = spark.createDataFrame(
        [(7, [0.5] * 64)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    delete_from_ivf_index(_id_df(spark, [7]), path)
    with pytest.raises(ValueError, match="tombstoned"):
        from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
            append_to_ivf_index,
        )

        append_to_ivf_index(new_vec, path)
    # after compaction the re-insert is well-defined and lands
    compact_ivf_index(spark, path)
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        append_to_ivf_index,
    )

    append_to_ivf_index(new_vec, path)
    got = spark.read.parquet(path).where("neighbor_id = 7").collect()
    assert len(got) == 1
    assert [float(x) for x in got[0]["c_vec"]] == [0.5] * 64


def test_compact_clears_sidecar_with_its_own_schema(spark, tmp_path):
    """The clear must carry the sidecar's own id schema (code-review
    r13): a hardcoded BIGINT DDL would leave mixed-schema parquet
    under _tombstones for an index with non-BIGINT ids."""
    import pyspark.sql.functions as F2

    emb = load_table(spark, SF_DIR, "embeddings").select(
        F2.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    delete_from_ivf_index(
        spark.createDataFrame([(3,)], "vec_id INT"), path
    )
    compact_ivf_index(spark, path)
    # the cleared sidecar reads back with the INT id schema, and a
    # second delete+read round-trip stays schema-consistent
    assert dict(spark.read.parquet(path + "_tombstones").dtypes)["neighbor_id"] == "int"
    delete_from_ivf_index(spark.createDataFrame([(5,)], "vec_id INT"), path)
    tombs = spark.read.parquet(path + "_tombstones")
    assert dict(tombs.dtypes)["neighbor_id"] == "int"
    assert [int(r["neighbor_id"]) for r in tombs.collect()] == [5]


def test_deleting_unknown_id_is_harmless(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    before = _neighbors(spark, emb, path)
    delete_from_ivf_index(_id_df(spark, [999999]), path)
    assert _neighbors(spark, emb, path) == before


def test_compact_refuses_total_wipe_and_leaves_index_queryable(spark, tmp_path):
    """Compacting a delete of EVERY row would drop every cell=*
    directory and leave a parquet dir no later reader can infer a
    schema from (query/append would all crash). That end state
    is the documented 'deletes rival corpus size → rebuild' boundary,
    so the compaction refuses it before any write."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings").where("vec_id < 50")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    files_before = _all_files(path)
    delete_from_ivf_index(emb.select("vec_id"), path)
    with pytest.raises(ValueError, match="rebuild"):
        compact_ivf_index(spark, path)
    # nothing was written: files untouched, tombstones kept, and the
    # index still answers queries (everything tombstoned → empty)
    assert _all_files(path) == files_before
    assert spark.read.parquet(path + "_tombstones").count() == 50
    assert query_ivf_index(emb.where("vec_id < 3"), path, k=5, n_probe=3).count() == 0
    # a partial state is still compactable: clear one id's tombstone
    # path by rebuilding the scenario with a proper subset
    path2 = str(tmp_path / "idx2")
    build_ivf_index(emb, path2, n_cells=8, iters=2)
    delete_from_ivf_index(emb.where("vec_id < 49").select("vec_id"), path2)
    stats = compact_ivf_index(spark, path2)
    assert stats["rows_removed"] == 49
    assert _ids(spark, path2) == {49}


# ---------------------------------------------------------------------
# Hierarchical (IVF2) lifecycle — the same delete/compact contracts on
# the two-level layout (r14): sidecar-only delete visible immediately,
# layout-agnostic compaction preserving the full (neighbor_id, c_vec,
# cn, cell) row, cold cells byte-identical, and the tombstoned-id
# re-append rejection.
# ---------------------------------------------------------------------

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (  # noqa: E402
    append_to_ivf_index,
    build_ivf2_index,
)


def _neighbors2(spark, emb, path, k=5):
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=k, n_probe=3, n_super_probe=2)
    return {
        (int(r["query_id"]), int(r["rank"])): int(r["neighbor_id"])
        for r in res.collect()
    }


def test_ivf2_delete_compact_audit_lifecycle(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    build_ivf2_index(emb, path, n_cells=8, iters=2)
    before = _neighbors2(spark, emb, path)
    files_before = _all_files(path)
    ids_before = {
        int(r["neighbor_id"])
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    schema_before = spark.read.parquet(path).drop("cell").schema

    victim = before[(0, 1)]
    delete_from_ivf_index(_id_df(spark, [victim]), path)
    # sidecar-only: no data file moved, exclusion visible immediately
    assert _all_files(path) == files_before
    after = _neighbors2(spark, emb, path)
    assert victim not in set(after.values())
    assert len(after) == len(before)

    # the compaction rewrites exactly the victim's cell
    affected = [
        int(r["cell"])
        for r in spark.read.parquet(path).where(F.col("neighbor_id") == victim).select("cell").collect()
    ]
    assert len(affected) == 1

    stats = compact_ivf_index(spark, path)
    assert stats["rows_removed"] == 1
    assert sorted(stats["cells_rewritten"] + stats["cells_removed"]) == affected
    # physical removal; every surviving column kept (layout-agnostic
    # rewrite must not drop c_vec/cn or reorder types)
    assert {
        int(r["neighbor_id"])
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    } == ids_before - {victim}
    assert spark.read.parquet(path).drop("cell").schema == schema_before
    # post-compaction results identical to the tombstone-final view
    assert _neighbors2(spark, emb, path) == after
    # sidecar cleared
    assert spark.read.parquet(path + "_tombstones").count() == 0


def test_ivf2_tombstone_query_plan_keeps_pruning_and_broadcasts(spark, tmp_path):
    """The tombstone exclusion must not cost the hierarchical query its
    scale shape: the probed-cell PartitionFilters stay on the list scan
    (deletes never widen the I/O) and the sidecar anti-join is a
    broadcast, never a shuffle of the candidate lists."""
    import contextlib
    import io

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    build_ivf2_index(emb, path, n_cells=8, iters=2)
    delete_from_ivf_index(_id_df(spark, [7, 11]), path)
    out = query_ivf_index(emb.where("vec_id < 3"), path, k=5, n_probe=3, n_super_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    seg = plan.split("PartitionFilters: [")
    assert len(seg) > 1 and "cell" in seg[1].split("]")[0], (
        "tombstone exclusion lost the probed-cell partition filter"
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf2_reinsert_of_tombstoned_id_raises_until_compacted(spark, tmp_path):
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    build_ivf2_index(emb, path, n_cells=8, iters=2)
    new_vec = spark.createDataFrame(
        [(7, [0.5] * 64)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    delete_from_ivf_index(_id_df(spark, [7]), path)
    with pytest.raises(ValueError, match="tombstoned"):
        append_to_ivf_index(new_vec, path)
    compact_ivf_index(spark, path)
    append_to_ivf_index(new_vec, path)
    got = spark.read.parquet(path).where("neighbor_id = 7").collect()
    assert len(got) == 1


@pytest.mark.parametrize("build", [build_ivf_index, build_ivf2_index])
def test_rebuild_drops_the_old_tombstones_and_batch_tokens(spark, tmp_path, build):
    """A build at an existing path starts a new generation: the old
    index's tombstones must not hide, or let compaction remove, rows
    of the new build, and its batch tokens must not skip an append."""
    rng = random.Random(3)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(130)], "vec_id long, embedding array<float>"
    )
    corpus, extra = vecs.where("vec_id < 120"), vecs.where("vec_id >= 120")
    path = str(tmp_path / "idx")
    build(corpus, path, n_cells=4, iters=1)
    delete_from_ivf_index(corpus.where("vec_id < 10"), path)
    append_to_ivf_index(extra, path, batch_token="t1")

    build(corpus, path, n_cells=4, iters=1)
    # each query excludes itself, so two queries cover every id
    hits = query_ivf_index(corpus.where("vec_id < 2"), path, k=119, n_probe=4, n_super_probe=4)
    assert {int(r["neighbor_id"]) for r in hits.collect()} == set(range(120))
    assert compact_ivf_index(spark, path)["rows_removed"] == 0
    append_to_ivf_index(extra, path, batch_token="t1")
    assert _ids(spark, path) == set(range(130))
