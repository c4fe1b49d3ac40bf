"""rebalance_ivf_index: in-place hot-cell split of a persisted IVF
index (the q223 split applied to the on-disk layout).

Pins the scale contract, not just the arithmetic: cold cells' files
must be byte-identical after the repair (only hot + new partitions
rewrite), row/id sets are preserved, the sidecar matches the new
partition set, and the index stays queryable."""

import glob
import hashlib
import os
import pathlib

import pyspark.sql.functions as F

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    build_ivf_index,
    query_ivf_index,
    rebalance_ivf_index,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _occupancy(spark, path):
    return {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _cell_files(path, cell):
    # name AND content digest: size-only comparison would miss a
    # same-size deterministic rewrite of a cold partition
    return {
        os.path.basename(f): hashlib.sha256(pathlib.Path(f).read_bytes()).hexdigest()
        for f in glob.glob(os.path.join(path, f"cell={cell}", "*.parquet"))
    }


def test_rebalance_splits_hot_cells_and_leaves_cold_files_untouched(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)

    occ_before = _occupancy(spark, path)
    total, ncells = sum(occ_before.values()), len(occ_before)
    hot = {c for c, n in occ_before.items() if n * ncells > total}
    cold = set(occ_before) - hot
    assert hot, "fixture must have at least one over-mean cell"
    ids_before = {
        r["neighbor_id"] for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    cold_files_before = {c: _cell_files(path, c) for c in cold}

    stats = rebalance_ivf_index(spark, path)

    assert sorted(stats["hot_cells"]) == sorted(hot)
    occ_after = _occupancy(spark, path)
    # row conservation: the split moves vectors, never drops or copies
    assert sum(occ_after.values()) == total
    ids_after = {
        r["neighbor_id"] for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert ids_after == ids_before
    # every hot cell's 'a' half keeps its id; cold cells keep theirs
    assert set(occ_after) >= set(occ_before)
    # max occupancy cannot grow (split only subdivides)
    assert max(occ_after.values()) <= max(occ_before.values())
    assert stats["max_after"] == max(occ_after.values())
    assert stats["n_cells_after"] == len(occ_after)
    # cold partitions: byte-identical file inventory (never rewritten)
    for c in cold:
        assert _cell_files(path, c) == cold_files_before[c], (
            f"cold cell {c} was rewritten"
        )
    # sidecar matches the new partition set exactly
    cents = spark.read.parquet(path + "_centroids").collect()
    assert {int(r["cell"]) for r in cents} == set(occ_after)
    assert all(len(r["centroid"]) == 64 for r in cents)
    # the repaired index is still queryable with full k per query
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=5, n_probe=3)
    per_query = {
        r["query_id"]: r["n"]
        for r in res.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_query == {0: 5, 1: 5, 2: 5}


def test_rebalance_is_deterministic(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    p1, p2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    build_ivf_index(emb, p1, n_cells=8, iters=2)
    build_ivf_index(emb, p2, n_cells=8, iters=2)
    s1 = rebalance_ivf_index(spark, p1)
    s2 = rebalance_ivf_index(spark, p2)
    assert s1 == s2
    rows1 = sorted(
        (int(r["cell"]), int(r["neighbor_id"]))
        for r in spark.read.parquet(p1).select("cell", "neighbor_id").collect()
    )
    rows2 = sorted(
        (int(r["cell"]), int(r["neighbor_id"]))
        for r in spark.read.parquet(p2).select("cell", "neighbor_id").collect()
    )
    assert rows1 == rows2
    c1 = sorted(
        (int(r["cell"]), tuple(r["centroid"]))
        for r in spark.read.parquet(p1 + "_centroids").collect()
    )
    c2 = sorted(
        (int(r["cell"]), tuple(r["centroid"]))
        for r in spark.read.parquet(p2 + "_centroids").collect()
    )
    assert c1 == c2


def test_rebalance_noop_on_uniform_occupancy(spark, tmp_path):
    # 8 vectors -> 8 cells of exactly one member each: no cell is
    # over-mean, so the repair must write NOTHING
    emb = load_table(spark, SF_DIR, "embeddings").where("vec_id < 8")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    occ = _occupancy(spark, path)
    assert all(n == 1 for n in occ.values()), "fixture must be uniform"
    files_before = {c: _cell_files(path, c) for c in occ}
    stats = rebalance_ivf_index(spark, path)
    assert stats["hot_cells"] == []
    assert stats["n_cells_after"] == stats["n_cells_before"]
    for c in occ:
        assert _cell_files(path, c) == files_before[c]


# ---------------------------------------------------------------------
# Property tests for the SHARED split builder (similarity.split_hot_cells
# — the one implementation behind both q223 and the persisted repair).
# ---------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    norm_expr,
    split_hot_cells,
)

_vec = st.lists(st.integers(min_value=1, max_value=5), min_size=4, max_size=4)


def _run_split(spark, rows):
    df = spark.createDataFrame(rows, "cell INT, id BIGINT, v ARRAY<DOUBLE>")
    out = split_hot_cells(df.withColumn("nrm", norm_expr(F.col("v"))))
    return {
        (int(r["cell"]), int(r["id"])): r["sub"] for r in out.collect()
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_vec, min_size=2, max_size=10, unique_by=tuple).flatmap(
        lambda vs: st.permutations(
            [(0, i, [float(x) for x in v]) for i, v in enumerate(vs)]
        )
    )
)
def test_split_invariants_and_input_order_independence(spark, rows):
    ids = {(c, i) for c, i, _ in rows}
    assign = _run_split(spark, rows)
    # conservation: every member assigned exactly one half, none lost
    assert set(assign) == ids
    assert set(assign.values()) <= {"a", "b"}
    # seed A (the cell's lowest id) always keeps the 'a' half
    assert assign[(0, min(i for _, i, _ in rows))] == "a"
    # a DataFrame is unordered input: reversing the row order must
    # produce the identical assignment (the determinism contract both
    # q223's oracle hash and the persisted repair depend on)
    assert _run_split(spark, list(reversed(rows))) == assign


def test_split_all_identical_members_go_to_a(spark):
    # seed B degenerates to a tie with seed A: every member must take
    # the 'a' half (no empty-but-labeled 'b' cell downstream)
    rows = [(0, i, [2.0, 2.0, 2.0, 2.0]) for i in range(5)]
    assign = _run_split(spark, rows)
    assert set(assign.values()) == {"a"}


# ---------------------------------------------------------------------
# Trigger contract between the q200 audit and the repair (the r12
# verdict ask #6): TWO predicates by design. The audit decides WHEN —
# index-level `max * n_cells > 2 * total` (queries.py q200, skew > 2x),
# lax enough that occupancy jitter never pages. The repair decides WHAT
# — every over-mean cell `n * n_cells > total` (rebalance_ivf_index),
# so one pass leaves no cell above the pre-split mean. The contract:
# audit firing IMPLIES the repair finds work (one-directional); the
# converse is deliberately false.
# ---------------------------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=64))
def test_audit_trigger_implies_repair_finds_work(counts):
    total, ncells, mx = sum(counts), len(counts), max(counts)
    audit_fires = mx * ncells > 2 * total  # q200 needs_rebalance
    hot = [n for n in counts if n * ncells > total]  # repair predicate
    if audit_fires:
        assert hot, "audit fired but the repair would find no over-mean cell"
        assert mx in hot, "the cell that tripped the alarm must be in the split set"


def test_audit_is_deliberately_laxer_than_repair():
    # mild skew: no cell over 2x mean -> audit healthy, yet the repair
    # (if run anyway) would still tighten the 1.5x hot spot. This is
    # the documented one-directional relationship, not a bug.
    counts = [3, 2, 1, 1, 1]  # total 8, n_cells 5, mean 1.6
    total, ncells, mx = sum(counts), len(counts), max(counts)
    assert not (mx * ncells > 2 * total)  # audit: healthy
    assert [n for n in counts if n * ncells > total] == [3, 2]  # repair: 2 splits


# ---------------------------------------------------------------------
# Hierarchical (IVF2) rebalance — the same split contract on the
# two-level layout (r14): shared split arithmetic, cold cells
# byte-identical, precomputed cn carried through bit-unchanged, fresh
# 'b' cells inheriting their parent's supercell.
# ---------------------------------------------------------------------

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (  # noqa: E402
    build_ivf2_index,
)


def _occupancy2(spark, path):
    return {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_ivf2_rebalance_splits_hot_cells_preserves_rows_and_norms(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    build_ivf2_index(emb, path, n_cells=8, iters=2)

    occ_before = _occupancy2(spark, path)
    total, ncells = sum(occ_before.values()), len(occ_before)
    hot = {c for c, n in occ_before.items() if n * ncells > total}
    cold = set(occ_before) - hot
    assert hot, "fixture must have at least one over-mean cell"
    rows_before = {
        int(r["neighbor_id"]): float(r["cn"])
        for r in spark.read.parquet(path).select("neighbor_id", "cn").collect()
    }
    cold_files_before = {c: _cell_files(path, c) for c in cold}
    supers_before = {
        int(r["cell"]): int(r["supercell"])
        for r in spark.read.parquet(path + "_centroids").collect()
    }
    supers_sidecar_before = sorted(
        (int(r["supercell"]), tuple(r["centroid"]))
        for r in spark.read.parquet(path + "_supers").collect()
    )

    stats = rebalance_ivf_index(spark, path)

    assert sorted(stats["hot_cells"]) == sorted(hot)
    occ_after = _occupancy2(spark, path)
    assert sum(occ_after.values()) == total
    # row conservation WITH the stored norm carried bit-unchanged
    rows_after = {
        int(r["neighbor_id"]): float(r["cn"])
        for r in spark.read.parquet(path).select("neighbor_id", "cn").collect()
    }
    assert rows_after == rows_before
    assert max(occ_after.values()) <= max(occ_before.values())
    # cold partitions never rewritten
    for c in cold:
        assert _cell_files(path, c) == cold_files_before[c], (
            f"cold cell {c} was rewritten"
        )
    # sidecar matches the new partition set; every fresh 'b' cell
    # inherits a hot parent's supercell; old cells keep theirs
    cents = spark.read.parquet(path + "_centroids").collect()
    supers_after = {int(r["cell"]): int(r["supercell"]) for r in cents}
    assert set(supers_after) == set(occ_after)
    hot_supers = {supers_before[c] for c in hot}
    for c in stats["new_cells"]:
        assert supers_after[c] in hot_supers
    for c in cold:
        assert supers_after[c] == supers_before[c]
    # level-1 sidecar untouched
    assert (
        sorted(
            (int(r["supercell"]), tuple(r["centroid"]))
            for r in spark.read.parquet(path + "_supers").collect()
        )
        == supers_sidecar_before
    )
    # still queryable with full k per query
    res = query_ivf_index(emb.where("vec_id < 3"), path, k=5, n_probe=3, n_super_probe=2)
    per_query = {
        r["query_id"]: r["n"]
        for r in res.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_query == {0: 5, 1: 5, 2: 5}


def test_ivf2_rebalance_is_deterministic_and_noop_when_uniform(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    p1, p2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    build_ivf2_index(emb, p1, n_cells=8, iters=2)
    build_ivf2_index(emb, p2, n_cells=8, iters=2)
    s1 = rebalance_ivf_index(spark, p1)
    s2 = rebalance_ivf_index(spark, p2)
    assert s1 == s2
    rows1 = sorted(
        (int(r["cell"]), int(r["neighbor_id"]))
        for r in spark.read.parquet(p1).select("cell", "neighbor_id").collect()
    )
    rows2 = sorted(
        (int(r["cell"]), int(r["neighbor_id"]))
        for r in spark.read.parquet(p2).select("cell", "neighbor_id").collect()
    )
    assert rows1 == rows2
    # a second repair on the already-balanced index must be a no-op
    # unless the split itself left an over-mean cell (possible when a
    # hot cell splits unevenly); either way it reports consistently
    occ = _occupancy2(spark, p1)
    total, ncells = sum(occ.values()), len(occ)
    expect_hot = sorted(c for c, n in occ.items() if n * ncells > total)
    s3 = rebalance_ivf_index(spark, p1)
    assert s3["hot_cells"] == expect_hot


def test_rebalance_never_repurposes_trained_but_empty_sidecar_cell(spark, tmp_path):
    """r12 ADVICE regression: build writes ALL n_cells centroids while
    data partitions exist only for non-empty cells, so the sidecar can
    hold a trained-but-empty cell whose id exceeds every data
    partition's. Fresh 'b' ids must allocate ABOVE it — allocating
    from data partitions alone would collide and silently overwrite
    its trained centroid."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    # emulate the trained-but-empty state: a sidecar centroid with an
    # id above every data cell and no data partition (exactly what a
    # build whose Lloyd left a cell memberless produces)
    empty_cell, empty_centroid = 20, [7.0] * 64
    rows = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(path + "_centroids").collect()
    ] + [(empty_cell, empty_centroid)]
    spark.createDataFrame(rows, "cell INT, centroid ARRAY<DOUBLE>").write.mode(
        "overwrite"
    ).parquet(path + "_centroids")
    assert empty_cell not in _occupancy(spark, path)

    stats = rebalance_ivf_index(spark, path)
    assert stats["new_cells"], "fixture must actually split"
    assert min(stats["new_cells"]) > empty_cell
    after = spark.read.parquet(path + "_centroids").collect()
    by_cell = {int(r["cell"]): [float(x) for x in r["centroid"]] for r in after}
    # the empty cell's trained centroid survives untouched
    assert by_cell[empty_cell] == empty_centroid
    # stats derive from the FINAL sets: data partitions vs sidecar rows
    assert stats["n_cells_after"] == len(_occupancy(spark, path))
    assert stats["sidecar_cells_after"] == len(by_cell)
    assert len(by_cell) == stats["n_cells_after"] + 1  # the one empty cell
