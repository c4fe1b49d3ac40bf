"""update_in_ivf_index (both quantizers) + the commit protocol's
recovery on an index — the round-15 closures of the two residuals the r14
verdict named:

- a single-id UPDATE no longer pays a full compaction: the only_ids
  micro-compaction rewrites exactly the cells holding the updated ids'
  old rows, leaves unrelated tombstone debt recorded, and the new
  vectors route fresh (possibly to different cells);
- the dynamic-partition-overwrite job-commit tear is CLOSED: cell
  rewrites stage under an invisible ``.maint-tmp``, commit via an
  atomic ``_intent.json`` that retires the rewritten cells' files, and
  roll forward by deletes and renames — ``sources.commit.recover``
  converges a crash from any point (roll back before commit, roll
  forward after), demonstrated here by constructing the torn states
  directly.
"""

import glob
import hashlib
import os
import pathlib

import pyspark.sql.functions as F
import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    build_ivf2_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    query_ivf_index,
    update_in_ivf_index,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _files_by_cell(path):
    out = {}
    for f in glob.glob(os.path.join(path, "cell=*", "*.parquet")):
        cell = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        out.setdefault(cell, {})[os.path.basename(f)] = hashlib.sha256(
            pathlib.Path(f).read_bytes()
        ).hexdigest()
    return out


def _row_of(spark, path, vid):
    rows = (
        spark.read.parquet(path)
        .where(F.col("neighbor_id") == vid)
        .select("neighbor_id", "c_vec", "cell")
        .collect()
    )
    return rows


def _tomb_ids(spark, path):
    try:
        return {int(r["neighbor_id"]) for r in spark.read.parquet(path + "_tombstones").collect()}
    except Exception:
        return set()


def _updated_batch(emb, vid):
    """The update payload: vid's embedding reversed (a genuinely
    different direction, same norm — so routing and scores change)."""
    return emb.where(F.col("vec_id") == vid).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )


def test_update_replaces_vector_rewriting_only_its_cell(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    vid = 7
    [old_row] = _row_of(spark, path, vid)
    old_cell = int(old_row["cell"])
    before = _files_by_cell(path)

    stats = update_in_ivf_index(_updated_batch(emb, vid), path)

    # the micro-compaction touched exactly the old row's cell
    assert set(stats["cells_rewritten"]) | set(stats["cells_removed"]) == {old_cell}
    assert stats["rows_removed"] == 1
    # exactly one live row for the id, carrying the NEW embedding
    rows = _row_of(spark, path, vid)
    assert len(rows) == 1
    old_emb = [float(x) for x in old_row["c_vec"]]
    assert [float(x) for x in rows[0]["c_vec"]] == list(reversed(old_emb))
    new_cell = int(rows[0]["cell"])
    # no tombstone left behind — the id is live, not hidden
    assert _tomb_ids(spark, path) == set()
    # every cell other than the rewritten one and the append target is
    # byte-identical; the append target only GAINED a file
    after = _files_by_cell(path)
    for cell, files in before.items():
        if cell == old_cell:
            continue
        if cell == new_cell:
            assert set(files) <= set(after[cell])
            assert all(after[cell][f] == h for f, h in files.items())
        else:
            assert after[cell] == files
    # and the query path serves the new vector as that id
    res = query_ivf_index(
        emb.where(F.col("vec_id") == vid).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        path,
        k=3,
        n_probe=3,
    )
    assert res.where(F.col("query_id") == vid).count() == 3


def test_update_leaves_unrelated_tombstone_debt_untouched(spark, tmp_path):
    """The r14 gap, measured: with unrelated deletes pending, the old
    path (full compaction) rewrote THEIR cells too; the update must
    not — unrelated tombstones stay recorded, their rows stay hidden,
    and only the updated id's cell rewrites."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    vid = 11
    [old_row] = _row_of(spark, path, vid)
    old_cell = int(old_row["cell"])
    # unrelated pending deletes in other cells (pick ids not sharing
    # the victim's cell so the debt sets are disjoint by construction)
    others = [
        int(r["neighbor_id"])
        for r in spark.read.parquet(path)
        .where((F.col("cell") != old_cell) & (F.col("neighbor_id") != vid))
        .select("neighbor_id")
        .limit(5)
        .collect()
    ]
    delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in others], "vec_id BIGINT"), path
    )
    tombs_before = _tomb_ids(spark, path)
    assert tombs_before == set(others)

    stats = update_in_ivf_index(_updated_batch(emb, vid), path)
    assert set(stats["cells_rewritten"]) | set(stats["cells_removed"]) == {old_cell}
    # unrelated tombstones survived the update, still recorded + hidden
    assert _tomb_ids(spark, path) == tombs_before
    live = {
        int(r["neighbor_id"])
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert set(others) <= live  # physically present (not yet compacted)
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=10, n_probe=3)
    assert not (set(others) & {int(r["neighbor_id"]) for r in res.collect()})
    # ...and a later FULL compaction clears them as usual
    stats2 = compact_ivf_index(spark, path)
    assert stats2["rows_removed"] == len(others)
    assert _tomb_ids(spark, path) == set()


def test_update_upserts_unknown_id_and_reruns_converge(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.where("vec_id < 100"), path, n_cells=8, iters=2)
    # id 400 is not in the index: the update is an upsert
    batch = emb.where(F.col("vec_id") == 400).select("vec_id", "embedding")
    stats = update_in_ivf_index(batch, path)
    assert stats["rows_removed"] == 0 and stats["cells_rewritten"] == []
    assert len(_row_of(spark, path, 400)) == 1
    # re-running the same update converges to the identical end state
    update_in_ivf_index(batch, path)
    assert len(_row_of(spark, path, 400)) == 1
    assert _tomb_ids(spark, path) == set()


def test_update_with_batch_token_is_noop_on_retry(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    batch = _updated_batch(emb, 13)
    stats = update_in_ivf_index(batch, path, batch_token="upd-2026-08-16")
    assert stats["rows_removed"] == 1
    files = _files_by_cell(path)
    retry = update_in_ivf_index(batch, path, batch_token="upd-2026-08-16")
    assert retry.get("skipped_token") == "upd-2026-08-16"
    assert _files_by_cell(path) == files  # nothing moved on the retry


def test_update_of_entire_index_raises_rebuild_before_mutating(spark, tmp_path):
    """The total-wipe boundary fires BEFORE step 1 (code-review r15):
    the old ordering tombstoned every id first and THEN raised,
    leaving the whole index hidden behind the sidecar with every
    retry re-raising — and a rebuild at the same path would not have
    cleared it (build never touches the sibling _tombstones)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    small = emb.where("vec_id < 20")
    build_ivf_index(small, path, n_cells=4, iters=2)
    before = _neighbors_probe(spark, small, path)
    with pytest.raises(ValueError, match="rebuild"):
        update_in_ivf_index(
            small.select("vec_id", F.reverse("embedding").alias("embedding")), path
        )
    # nothing mutated: no tombstones written, queries unchanged
    assert _tomb_ids(spark, path) == set()
    assert _neighbors_probe(spark, small, path) == before


def _neighbors_probe(spark, emb, path):
    res = query_ivf_index(emb.where("vec_id < 2"), path, k=5, n_probe=3)
    return {
        (int(r["query_id"]), int(r["rank"])): int(r["neighbor_id"])
        for r in res.collect()
    }


def test_ivf2_update_replaces_vector_and_clears_debt(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    build_ivf2_index(emb, path, n_cells=16, iters=2, train_where="vec_id % 4 = 0")
    vid = 7
    [old_row] = _row_of(spark, path, vid)
    stats = update_in_ivf_index(_updated_batch(emb, vid), path)
    assert set(stats["cells_rewritten"]) | set(stats["cells_removed"]) == {
        int(old_row["cell"])
    }
    rows = _row_of(spark, path, vid)
    assert len(rows) == 1
    old_emb = [float(x) for x in old_row["c_vec"]]
    assert [float(x) for x in rows[0]["c_vec"]] == list(reversed(old_emb))
    assert _tomb_ids(spark, path) == set()
    # hierarchical query path serves full k with the id live again
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=5)
    assert res.groupBy("query_id").count().agg(F.min("count")).collect()[0][0] == 5


# ---------------------------------------------------------------------
# The commit protocol on an index: crash states constructed directly,
# recovery demonstrated (the r14 ask: "a pytest that demonstrates the
# recovery").


def _stage(spark, path, survivors, removed, committed):
    """Construct the protocol's staging state by the same mechanics
    the writer uses: survivors parquet under .maint-tmp, plus (when
    ``committed``) the atomic intent retiring the live files of the
    survivors' and the ``removed`` cells."""
    cells = {int(r["cell"]) for r in survivors.select("cell").distinct().collect()} | set(removed)
    retire = commit.live_files(spark, path, [f"cell={c}" for c in sorted(cells)])
    tmp = commit.stage_path(path)
    survivors.repartition("cell").write.partitionBy("cell").parquet(tmp)
    if committed:
        commit._write_intent(spark, tmp, retire)
    return tmp


def test_uncommitted_stage_is_invisible_and_rolls_back(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    before_files = _files_by_cell(path)
    n_rows = spark.read.parquet(path).count()
    # crash DURING the staging write: tmp holds data, no intent yet
    junk = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
        F.lit(0).cast("int").alias("cell"),
    )
    _stage(spark, path, junk, [], committed=False)
    # the dot-prefixed stage is invisible to readers (index unchanged)
    assert spark.read.parquet(path).count() == n_rows
    out = commit.recover(spark, path)
    assert out["action"] == "rolled_back"
    assert _files_by_cell(path) == before_files
    assert not os.path.exists(os.path.join(path, ".maint-tmp"))
    # idempotent: a second recovery is a no-op
    assert commit.recover(spark, path)["action"] == "none"


def test_committed_stage_rolls_forward_from_torn_state(spark, tmp_path):
    """The exact tear the old dynamic overwrite could not heal: one
    live cell directory already deleted, its replacement still staged.
    Recovery must land the staged survivors and drop the removed
    cell — converging to the state the compaction intended."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    idx = spark.read.parquet(path)
    cells = sorted(int(r["cell"]) for r in idx.select("cell").distinct().collect())
    cell_a, cell_b = cells[0], cells[1]
    # intended compaction: cell_a loses its lowest-id row, cell_b is
    # removed outright
    victim = idx.where(F.col("cell") == cell_a).agg(F.min("neighbor_id")).collect()[0][0]
    survivors = (
        idx.where((F.col("cell") == cell_a) & (F.col("neighbor_id") != victim))
        .withColumn("cell", F.col("cell").cast("int"))
        .localCheckpoint(eager=True)
    )
    expected_a = {
        int(r["neighbor_id"]) for r in survivors.select("neighbor_id").collect()
    }
    _stage(spark, path, survivors, [cell_b], committed=True)
    # simulate the crash mid-swap: live cell_a already deleted, staged
    # replacement not yet renamed in
    import shutil

    shutil.rmtree(os.path.join(path, f"cell={cell_a}"))
    out = commit.recover(spark, path)
    assert out["action"] == "rolled_forward"
    assert any(f.startswith(f"cell={cell_a}/") for f in out["moved"])
    assert any(f.startswith(f"cell={cell_b}/") for f in out["retired"])
    after = spark.read.parquet(path)
    got_a = {
        int(r["neighbor_id"])
        for r in after.where(F.col("cell") == cell_a).select("neighbor_id").collect()
    }
    assert got_a == expected_a
    assert after.where(F.col("cell") == cell_b).count() == 0
    assert not os.path.exists(os.path.join(path, ".maint-tmp"))


def test_maintenance_entry_points_self_heal_before_acting(spark, tmp_path):
    """An orchestrator retry calls the maintenance op, not recovery —
    the op must converge the crashed swap FIRST (an append into a cell
    whose staged replacement is pending would otherwise be undone by
    the later roll-forward)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.where("vec_id < 400"), path, n_cells=8, iters=2)
    idx = spark.read.parquet(path)
    cell_a = int(idx.select(F.min("cell")).collect()[0][0])
    keep_one = (
        idx.where(F.col("cell") == cell_a)
        .orderBy("neighbor_id")
        .limit(1)
        .withColumn("cell", F.col("cell").cast("int"))
        .localCheckpoint(eager=True)
    )
    # collected BEFORE the swap: idx's plan pins the pre-swap file list
    pre_crash_ids = {
        int(r["neighbor_id"]) for r in idx.where(F.col("cell") == cell_a).collect()
    }
    _stage(spark, path, keep_one, [], committed=True)
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        append_to_ivf_index,
    )

    append_to_ivf_index(emb.where("vec_id >= 400"), path)
    # the staged single-survivor cell landed BEFORE the append ran
    assert not os.path.exists(os.path.join(path, ".maint-tmp"))
    a_rows = spark.read.parquet(path).where(F.col("cell") == cell_a)
    # cell_a = the one staged survivor + any of the appended batch that
    # routed there — never the pre-crash contents
    got = {int(r["neighbor_id"]) for r in a_rows.collect()}
    assert len(got & pre_crash_ids) == 1  # only the staged survivor
    assert all(v >= 400 for v in got - pre_crash_ids)


def test_rollback_raises_when_stage_delete_returns_false(spark, tmp_path, monkeypatch):
    """Hadoop's delete signals failure by returning false. Recovery
    must not report ``rolled_back`` while the uncommitted stage is
    still there — the next maintenance op would then refuse to run,
    blaming a maintenance op "in flight"."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.where("vec_id < 100"), path, n_cells=4, iters=1)
    junk = spark.range(3).select(
        F.col("id").alias("neighbor_id"),
        F.array(F.lit(1.0)).alias("c_vec"),
        F.lit(0).cast("int").alias("cell"),
    )
    tmp = _stage(spark, path, junk, [], committed=False)

    real = commit._hadoop_fs

    class _RefusingDelete:
        def __init__(self, fs):
            self._fs = fs

        def delete(self, *args):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def _proxy(spark_, p):
        fs, hpath = real(spark_, p)
        return _RefusingDelete(fs), hpath

    monkeypatch.setattr(commit, "_hadoop_fs", _proxy)
    with pytest.raises(RuntimeError, match="delete failed"):
        commit.recover(spark, path)
    assert os.path.exists(tmp)
    monkeypatch.undo()
    # once deletes work again, recovery converges
    assert commit.recover(spark, path)["action"] == "rolled_back"
    assert not os.path.exists(tmp)
