"""Partition-order tripwire for the IVF Lloyd step.

``ivf_train_centroids``/``pq_train`` compute per-dimension means with
an ORDER-PINNED fold (``_lloyd_dim_means``: sorted-by-id
aggregate(...) / count, mirrored as
``list_sum(list(x ORDER BY vec_id)) / COUNT(*)`` in the q67/q156/q177/
q178/q199/q200 oracles), so the summation order can never follow the
partitioning. This tripwire re-trains under adversarial partitionings
and demands bit-identical rounded centroids: it guards the pinned-fold
invariant itself — if anyone reintroduces an unordered aggregate (the
old F.avg shape, where a mean within an ulp of a 0.5e-6 boundary was a
regen coin-flip cascading into every IVF oracle at once), this fails
loudly instead of the oracle gate failing mysteriously.

Same policy as tests/test_ts_normalization.py: convert silent
environment-dependence into a named, diagnosable failure.
"""

from conftest import jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    ivf_train_centroids,
    pq_train,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_centroids_invariant_under_repartitioning(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    base = ivf_train_centroids(emb, n_cells=8, iters=2)
    for variant in (
        emb.repartition(7),
        emb.repartition(3, "vec_id"),
        emb.coalesce(1),
    ):
        got = ivf_train_centroids(variant, n_cells=8, iters=2)
        assert got == base, (
            "IVF centroids changed under a different partitioning — a "
            "per-dimension mean landed on a 0.5e-6 rounding boundary; "
            "make the Lloyd fold order-deterministic for this data"
        )


def test_pq_codebooks_invariant_under_repartitioning(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    base = pq_train(emb, m=4, k=8, iters=1)
    got = pq_train(emb.repartition(5), m=4, k=8, iters=1)
    assert got == base, (
        "PQ codebooks changed under a different partitioning — same "
        "boundary class as the IVF tripwire above"
    )


def test_assignment_join_path_matches_literal_path(spark):
    """with_assigned_cell has two encodings (literal folds vs
    broadcast-join partial-max) chosen by centroid count; they must be
    BIT-IDENTICAL on the same centroids — same floor_round6 scores,
    same highest-cell tiebreak — or the derived-capacity path (q208)
    silently diverges from the oracles the small-cell path verified."""
    import pyspark.sql.functions as F

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        _ASSIGN_JOIN_THRESHOLD,
        _argmax_cell_expr,
        ivf_train_centroids,
        with_assigned_cell,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_cells = _ASSIGN_JOIN_THRESHOLD + 4  # forces the join encoding
    cents = ivf_train_centroids(emb, n_cells=n_cells, iters=1)
    via_join = {
        r["vec_id"]: r["cell"]
        for r in with_assigned_cell(
            emb.select("vec_id", "embedding"), "embedding", cents
        ).collect()
    }
    via_literal = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", _argmax_cell_expr("embedding", cents).alias("cell")
        ).collect()
    }
    assert via_join == via_literal
    assert len(set(via_join.values())) > 1, "degenerate assignment"

    # r09 plan pin: the above-threshold encoding must be MAP-ONLY —
    # the centroid array rides a single-row BroadcastExchange and the
    # vector table never moves. Any other Exchange (the r08 version
    # groupBy-ed every input column, shuffling the full vector table
    # once per assignment pass) is a regression at Lloyd/probe scale.
    assigned = with_assigned_cell(emb.select("vec_id", "embedding"), "embedding", cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not exchanges, f"vector-table exchange in assignment stage:\n{plan}"

    # r08 ADVICE: the old groupBy reduction silently collapsed
    # duplicate input rows; the per-row reduction must preserve them.
    dup = emb.select("vec_id", "embedding").limit(3)
    doubled = dup.unionAll(dup)
    assert with_assigned_cell(doubled, "embedding", cents).count() == 6


def test_probe_ranking_broadcast_matches_literal(spark):
    """with_probe_cells has the same dual encoding as with_assigned_cell
    (r09: the probe stage used to rebuild the n_cells x dim literal
    tree even above the dispatch threshold). Both encodings must
    produce the IDENTICAL ordered probe list per row — same
    floor_round6 scores, same (score DESC, cell DESC) ranking."""
    import pyspark.sql.functions as F

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.functions.rounding import (
        floor_round6,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        _ASSIGN_JOIN_THRESHOLD,
        cosine_expr,
        ivf_train_centroids,
        with_probe_cells,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_cells = _ASSIGN_JOIN_THRESHOLD + 4  # forces the broadcast encoding
    cents = ivf_train_centroids(emb, n_cells=n_cells, iters=1)

    via_broadcast = {
        r["vec_id"]: [(p["s"], p["c"]) for p in r["_probes"]]
        for r in with_probe_cells(
            emb.select("vec_id", "embedding"), "embedding", cents, n_probe=3
        ).collect()
    }
    # the literal branch's exact construction, inlined (the dispatch
    # would route these 20 centroids to the broadcast path)
    cell_scores = [
        F.struct(
            floor_round6(
                cosine_expr(F.col("embedding"), F.array(*[F.lit(v) for v in cent]))
            ).alias("s"),
            F.lit(i).alias("c"),
        )
        for i, cent in enumerate(cents)
    ]
    via_literal = {
        r["vec_id"]: [(p["s"], p["c"]) for p in r["_probes"]]
        for r in emb.select(
            "vec_id",
            F.slice(F.reverse(F.array_sort(F.array(*cell_scores))), 1, 3).alias("_probes"),
        ).collect()
    }
    assert via_broadcast == via_literal


def test_hierarchical_quantizer_invariant_under_repartitioning(spark):
    """ivf2_train composes two Lloyd trains and an argmax map — all
    order-pinned devices — so the full (l2, l1, cell->super) triple
    must be bit-identical under adversarial partitionings (the same
    tripwire contract as the flat trains above)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        ivf2_train,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = ivf2_train(emb, n_cells=16, iters=2)
    for variant in (emb.repartition(7), emb.coalesce(1)):
        got = ivf2_train(variant, n_cells=16, iters=2)
        assert got == base, (
            "hierarchical quantizer changed under a different "
            "partitioning — an order-unpinned fold crept into one of "
            "the two Lloyd levels or the cell->super argmax"
        )


def test_recall_sweep_default_clears_floor(spark):
    """The documented hierarchical-IVF probe default must clear the
    stated recall floor at the GATE SF (sf0.01 — where the driver's
    oracle comparison runs): q214's sweep row for _Q214_DEFAULT —
    measured 0.80 mean recall@10, i.e. exactly the documented
    _Q214_RECALL_FLOOR. The assertion carries a 0.1 drift margin
    because the driver REGENERATES the testdata between rounds and the
    gate statistic is 50 neighbor hits (5 queries x k=10): one hit of
    regen jitter moves the mean by 0.02, while a real quantizer
    regression (capacity derivation, Lloyd device, routing) lands at
    0.2-0.4 — cleanly below the margined bar. q215's derived widths
    resolve to the same combo at the gate SF and ride the same bar."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        _Q214_DEFAULT,
        _Q214_RECALL_FLOOR,
        registry,
        release_persisted,
    )

    reg = registry()
    rows = reg["q214_recall_probe_sweep"].fn(spark, "/root/testdata/sf0.01").collect()
    release_persisted()
    bar = _Q214_RECALL_FLOOR - 0.1  # regen-drift margin, see docstring
    by_combo = {(r["n_super_probe"], r["n_probe"]): r["mean_recall"] for r in rows}
    assert _Q214_DEFAULT in by_combo, "default combo missing from the sweep grid"
    assert by_combo[_Q214_DEFAULT] >= bar, (
        f"default probe widths {_Q214_DEFAULT} fell to mean recall@10 "
        f"{by_combo[_Q214_DEFAULT]} < {bar} at the gate SF — a "
        "quantizer/routing regression, not data jitter"
    )

    derived = reg["q215_ivf2_derived_probes"].fn(spark, "/root/testdata/sf0.01").collect()
    release_persisted()
    mean_derived = sum(r["recall_at_10"] for r in derived) / len(derived)
    assert mean_derived >= bar, (
        f"capacity-derived probe widths fell to mean recall@10 "
        f"{mean_derived} < {bar} at the gate SF"
    )


def test_ivf2_train_every_returned_super_is_routable(spark):
    """ivf2_train's postcondition: the returned level-1 quantizer
    contains ONLY supers that own at least one member cell, renumbered
    0..len-1 (order-preserving) — the guarantee that makes it
    impossible for a corpus vector to route somewhere with no inverted
    list and silently vanish from the index. Checked on the real table
    AND on a degenerate all-identical corpus, where every super argmax
    ties to the highest super and all but one level-1 cluster starves
    (the case the filter exists for)."""
    import pyspark.sql.functions as F

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        ivf2_train,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    _, l1, c2s = ivf2_train(emb, n_cells=16, iters=2)
    assert set(c2s.values()) == set(range(len(l1))), (
        "cell->super map must cover exactly the returned supers, "
        "renumbered densely"
    )

    degenerate = emb.select(
        "vec_id", F.expr("transform(embedding, x -> 0.5d)").alias("embedding")
    )
    _, l1d, c2sd = ivf2_train(degenerate, n_cells=8, iters=2)
    assert len(l1d) >= 1
    assert set(c2sd.values()) == set(range(len(l1d))), (
        "memberless supers must be dropped from the routable quantizer "
        "even when ties starve all but one level-1 cluster"
    )


def test_local_lloyd_is_bit_identical_to_distributed(spark, monkeypatch):
    """ivf_train_centroids_local (the zero-action level-1 train) must
    reproduce the distributed ivf_train_centroids BIT-FOR-BIT over the
    same rows — seeds, argmax tiebreaks, fold order, 6dp floors, and
    empty-cell carry-over all match — because every IVF2 oracle unrolls
    the distributed device and the local form silently substitutes for
    it inside ivf2_train. Checked on a REAL centroid table (the level-2
    output for sf0.001, the exact input the level-1 train sees) and on
    a degenerate all-identical table where every argmax ties (the
    empty-cluster carry-over path)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        _py_assign_cell,
        _py_norm,
        derived_n_cells,
        ivf_train_centroids,
        ivf_train_centroids_local,
        with_assigned_cell,
    )

    # since round 12 ivf_train_centroids silently dispatches small
    # trains to the LOCAL path — force the distributed branch so this
    # test keeps comparing two genuinely different implementations
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity as _sim,
    )

    monkeypatch.setattr(_sim, "_IVF_LOCAL_TRAIN_MAX", 0)

    emb = load_table(spark, SF_DIR, "embeddings")
    l2 = ivf_train_centroids(emb.where("vec_id % 16 = 0"), n_cells=32, iters=2)
    cases = [
        [(i, c) for i, c in enumerate(l2)],
        [(i, [1.0] * 8) for i in range(20)],  # all ties → empty clusters
    ]
    for rows in cases:
        n_cells = derived_n_cells(len(rows))
        cent_df = spark.createDataFrame(
            rows, "vec_id INT, embedding ARRAY<DOUBLE>"
        )
        dist = ivf_train_centroids(cent_df, "vec_id", "embedding", n_cells, iters=2)
        local = ivf_train_centroids_local(rows, n_cells, 2)
        assert local == dist  # exact float equality — bit parity
        norms = [_py_norm(c) for c in local]
        dist_assign = {
            r["vec_id"]: r["cell"]
            for r in with_assigned_cell(cent_df, "embedding", dist)
            .select("vec_id", "cell")
            .collect()
        }
        local_assign = {i: _py_assign_cell(v, local, norms) for i, v in rows}
        assert local_assign == dist_assign


def test_ivf2_append_equals_fresh_full_build(spark, tmp_path):
    """The hierarchical frozen-quantizer append contract: building on
    the existing slice then appending the arrivals must query
    IDENTICALLY to the in-plan cosine_topk_ivf2 over the FULL corpus
    with the same (existing-slice) train predicate — because routing
    the appended batch under the frozen sidecar quantizer is the same
    map as routing it at build time. Also pins the idempotency guard:
    a blind re-append of the same batch adds zero rows."""
    import pyspark.sql.functions as F

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf2_index,
        cosine_topk_ivf2,
        query_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "inc2")
    build_ivf2_index(
        emb.where("vec_id % 10 != 0"), path, n_cells=32, iters=2,
        train_where="vec_id % 16 = 0",
    )
    arriving = emb.where("vec_id % 10 = 0")
    append_to_ivf_index(arriving, path)
    n_after = spark.read.parquet(path).count()
    append_to_ivf_index(arriving, path)  # retry: anti-join guard
    assert spark.read.parquet(path).count() == n_after
    qs = emb.where("vec_id < 5")
    got = query_ivf_index(qs, path, k=10, n_probe=3, n_super_probe=2)
    want = cosine_topk_ivf2(
        emb, qs, k=10, n_cells=32, n_probe=3, n_super_probe=2,
        train_where="vec_id % 10 != 0 AND vec_id % 16 = 0",
    )
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_train_clamps_to_seed_count_when_sample_is_tiny(spark):
    """A sampled train predicate at a tiny SF can yield fewer rows than
    the derived capacity; the train must clamp to the seed count (the
    oracle's c0 CTE self-clamps identically) instead of raising
    IndexError on the empty-cell carry — exercised for real by q221 at
    sf0.001 (25 sample rows < 32 derived cells)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        ivf_train_centroids,
        ivf_train_centroids_local,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    tiny = emb.where("vec_id < 5")  # 5 rows << 16 requested cells
    cents = ivf_train_centroids(tiny, n_cells=16, iters=2)
    assert len(cents) == 5
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in tiny.collect()
    ]
    assert ivf_train_centroids_local(rows, 16, 2) == cents


def test_faiss_train_cap_binds_identically_on_both_paths(spark, monkeypatch):
    """The round-12 faiss train cap (min(|train|, 256*n_cells)
    LOWEST-ID rows — _IVF_TRAIN_PER_CELL, shrunk here so it binds at
    sf0.001): (1) the local path must train on exactly the capped
    prefix, and (2) the forced-distributed path's orderBy+limit+
    localCheckpoint funnel must reproduce the local result
    BIT-FOR-BIT — the oracles mirror the cap with a ROW_NUMBER rank
    over vec_id, so both engine paths must agree on which rows train
    and on every fold over them."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(
        (
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.select("vec_id", "embedding").collect()
        ),
        key=lambda r: r[0],
    )
    assert len(rows) > 64, "cap must bind for this test to mean anything"
    monkeypatch.setattr(similarity, "_IVF_TRAIN_PER_CELL", 8)  # cap = 64
    expected = similarity.ivf_train_centroids_local(rows[:64], 8, 2)
    assert similarity.ivf_train_centroids(emb, n_cells=8, iters=2) == expected
    # now force the distributed branch: probe collapses to 0 rows, the
    # count() sees the cap bind, and Lloyd runs over the rank-capped
    # checkpointed train
    monkeypatch.setattr(similarity, "_IVF_LOCAL_TRAIN_MAX", 0)
    assert similarity.ivf_train_centroids(emb, n_cells=8, iters=2) == expected


def test_local_lloyd_rejects_zero_norm_vectors():
    # a zero-norm vector makes the cosine assignment undefined, and
    # the three engines DISAGREE on NaN/NULL ordering (numpy >= never
    # updates, Spark struct array_max ranks NaN first, DuckDB 0/0 is
    # NULL and sorts last) — the local train must fail loudly (as its
    # scalar predecessor did via ZeroDivisionError) instead of
    # returning silently divergent centroids
    import pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        ivf_train_centroids_local,
    )

    rows = [(i, [float(i + 1)] * 4) for i in range(6)] + [(6, [0.0] * 4)]
    with pytest.raises(ValueError, match="zero-norm"):
        ivf_train_centroids_local(rows, n_cells=2, iters=1)


# ---------------------------------------------------------------------
# The zero-norm guard must be SYMMETRIC across paths (r12 ADVICE): the
# local train raised while the distributed Lloyd branch, the build's
# corpus-wide assignment, and the append batch divided by unchecked
# norms — a >_IVF_LOCAL_TRAIN_MAX corpus with one zero-norm vector
# would have trained silently with engine-divergent NaN ordering.
# The distributed guard is EMBEDDED in the assignment expression
# (similarity._checked_norm: raise_error on norm==0, zero extra
# actions/scans), so it surfaces as a Spark job error whose message
# carries the same "zero-norm" marker as the local ValueError.
# ---------------------------------------------------------------------

import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    similarity,
)

_VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"


def _vec_df(spark, n, poison_id=None):
    rows = [(i, [float(i + j + 1) for j in range(4)]) for i in range(n)]
    if poison_id is not None:
        rows.append((poison_id, [0.0] * 4))
    return spark.createDataFrame(rows, _VEC_SCHEMA)


def test_distributed_lloyd_rejects_zero_norm_vectors(spark, monkeypatch):
    monkeypatch.setattr(similarity, "_IVF_LOCAL_TRAIN_MAX", 0)  # force distributed
    with pytest.raises(Exception, match="zero-norm"):
        similarity.ivf_train_centroids(_vec_df(spark, 32, poison_id=99), n_cells=4, iters=1)


def test_build_rejects_zero_norm_corpus_row_outside_train(spark, tmp_path):
    # train subset is clean (local train passes); the poison row only
    # reaches the corpus-wide list-writing assignment — which must
    # still fail loudly instead of writing a NaN-assigned partition
    with pytest.raises(Exception, match="zero-norm"):
        similarity.build_ivf_index(
            _vec_df(spark, 32, poison_id=99),
            str(tmp_path / "idx"),
            n_cells=4,
            iters=1,
            train_where="vec_id < 32",
        )


def test_append_rejects_zero_norm_batch_row(spark, tmp_path):
    path = str(tmp_path / "idx")
    similarity.build_ivf_index(_vec_df(spark, 32), path, n_cells=4, iters=1)
    with pytest.raises(Exception, match="zero-norm"):
        similarity.append_to_ivf_index(
            spark.createDataFrame([(100, [0.0] * 4)], _VEC_SCHEMA), path
        )
    # the failed write job aborts before commit: the index is unchanged
    assert spark.read.parquet(path).where("neighbor_id = 100").count() == 0


def test_query_side_rejects_zero_norm_query_vector(spark, tmp_path):
    # code-review r13: a zero-norm QUERY vector must fail loudly too —
    # unguarded (pre-ANSI semantics) it returns NaN-ranked neighbors
    # (Spark ranks NaN above every double) instead of an error. Under
    # ANSI (Spark 4 default) the probe expression's own division may
    # raise DIVIDE_BY_ZERO before the _checked_norm qn binding
    # evaluates — either way the contract is a LOUD error, never
    # NaN-ordered results; accept both messages.
    path = str(tmp_path / "idx")
    similarity.build_ivf_index(_vec_df(spark, 32), path, n_cells=4, iters=1)
    poisoned_queries = spark.createDataFrame([(500, [0.0] * 4)], _VEC_SCHEMA)
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        similarity.query_ivf_index(poisoned_queries, path, k=3, n_probe=2).collect()
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        similarity.cosine_topk(_vec_df(spark, 32), poisoned_queries, k=3).collect()


# ---------------------------------------------------------------------
# The manifest (<path>_manifest/manifest-<n>.json) describes the index:
# its recorded list schema is the schema parquet inference reports, and
# a corrupt manifest raises before anything is appended or queried.
# ---------------------------------------------------------------------


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in df.collect()
    )


@pytest.mark.parametrize("hierarchical", [False, True])
def test_corrupt_manifest_raises_before_any_append(spark, tmp_path, hierarchical):
    from pyspark.sql.types import StructType

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    build = similarity.build_ivf2_index if hierarchical else similarity.build_ivf_index
    build(emb.where("vec_id % 10 != 0"), path, n_cells=16 if hierarchical else 8, iters=2)
    versions, manifest = commit.read_document(spark, path + "_manifest", "manifest")
    assert versions == [1] and (manifest["l1"] is None) != hierarchical
    assert StructType.fromJson(manifest["schema"]) == spark.read.parquet(path).schema
    n_rows = spark.read.parquet(path).count()

    # a torn version: the local filesystem's checksum or the JSON parse raises
    (tmp_path / "idx_manifest" / "manifest-1.json").write_text('{"l2": [[0.5, ')
    with pytest.raises(Exception, match="Checksum|JSON|Expecting"):
        similarity.append_to_ivf_index(emb.where("vec_id % 10 = 0"), path, batch_token="t")
    with pytest.raises(Exception, match="Checksum|JSON|Expecting"):
        similarity.query_ivf_index(emb.where("vec_id < 5"), path, k=10).collect()
    assert spark.read.parquet(path).count() == n_rows


# ---------------------------------------------------------------------
# Identifier rejection in the literal-SQL cell scorers: a vec_col that
# is not a plain identifier, or that names one of the bound lambda
# variables, is refused while the plan is built — before any job.
# ---------------------------------------------------------------------


@pytest.mark.parametrize("vec_col", ["bad-name", "__ivf_nv"])
def test_literal_scorers_reject_unsafe_vec_col_before_any_job(spark, vec_col):
    cents = [[1.0, 0.0], [0.0, 1.0]]  # under the threshold: literal encoding
    df = spark.createDataFrame([(1, [1.0, 2.0])], f"id BIGINT, `{vec_col}` ARRAY<DOUBLE>")

    def build():
        with pytest.raises(ValueError, match="plain identifier"):
            similarity.with_assigned_cell(df, vec_col, cents)
        with pytest.raises(ValueError, match="plain identifier"):
            similarity.with_probe_cells(df, vec_col, cents, n_probe=1)

    _, jobs = jobs_of(spark, f"vec-ident-{vec_col}", build)
    assert jobs == []


# ---------------------------------------------------------------------
# Layout detection: both quantizers share one list schema, and the
# layout is read from the manifest alone — a rebuild replaces all of it.
# ---------------------------------------------------------------------


def test_flat_rebuild_over_hierarchical_path_ignores_stale_supers(spark, tmp_path):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit

    emb = load_table(spark, SF_DIR, "embeddings")
    existing = emb.where("vec_id % 10 != 0")
    arriving = emb.where("vec_id % 10 = 0")
    qs = emb.where("vec_id < 5")
    reused, clean = str(tmp_path / "reused"), str(tmp_path / "clean")
    similarity.build_ivf2_index(emb, reused, n_cells=16, iters=2)
    for path in (reused, clean):
        similarity.build_ivf_index(existing, path, n_cells=8, iters=2)
        similarity.append_to_ivf_index(arriving, path)
    # the flat build's manifest replaced the hierarchical one whole
    versions, manifest = commit.read_document(spark, reused + "_manifest", "manifest")
    assert versions == [2] and manifest["l1"] is None and manifest["cell2super"] is None

    # ...so the path routes as a clean one: same lists, same neighbors
    def lists(path):
        return sorted(
            (int(r["neighbor_id"]), int(r["cell"]), float(r["cn"]))
            for r in spark.read.parquet(path).collect()
        )

    assert lists(reused) == lists(clean)
    got = _ranked(similarity.query_ivf_index(qs, reused, k=10, n_probe=3))
    assert got == _ranked(similarity.query_ivf_index(qs, clean, k=10, n_probe=3))
    assert len(got) == 50


def test_hierarchical_index_without_supers_raises_instead_of_routing_flat(spark, tmp_path):
    """An index whose manifest is gone has no quantizer, level-1 or
    otherwise: appends and queries raise, and nothing is appended under
    a layout guessed from the lists."""
    import shutil

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx2")
    similarity.build_ivf2_index(emb.where("vec_id % 10 != 0"), path, n_cells=16, iters=2)
    n_rows = spark.read.parquet(path).count()
    shutil.rmtree(path + "_manifest")
    with pytest.raises(RuntimeError, match="no manifest"):
        similarity.append_to_ivf_index(emb.where("vec_id % 10 = 0"), path)
    with pytest.raises(RuntimeError, match="no manifest"):
        similarity.query_ivf_index(emb.where("vec_id < 5"), path, k=10).collect()
    # nothing was appended under a guessed flat routing
    assert spark.read.parquet(path).count() == n_rows
